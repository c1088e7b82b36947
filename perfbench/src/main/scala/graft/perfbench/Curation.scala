package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.{Dedup, Graph, TextIndex}
import graft.streaming.StreamingOps

/**
 * curation_pipeline: a training-data curation pass over a seeded corpus
 * with planted near-duplicate clusters, then a text index over the
 * survivors, community detection and PageRank over a planted co-occurrence
 * graph, and a streaming dedup feed. Operators, shuffles, iterative rounds
 * and micro-batches dominate; the sketch layer is barely touched, so this
 * is the control workload where a sketch change should show no change.
 */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  private val spark = ctx.spark
  private val t = ctx.traffic
  private val corpus = new Corpus(t, ctx.seed)
  private val docsPath = ctx.path("docs")
  private val nodesPath = ctx.path("nodes")
  private val edgesPath = ctx.path("edges")
  private val curatedPath = ctx.path("curated")
  private val indexPath = ctx.path("index")

  private var feed: MemoryStream[(java.sql.Timestamp, Long, String)] = _
  private var stream: StreamingQuery = _
  private var fed = 0L
  /** Micro-batch ids (exclusive, inclusive] fed by the latest pass. */
  private var fedBatches = (-1L, -1L)
  private def lastBatch: Long = Option(stream.lastProgress).map(_.batchId).getOrElse(-1L)
  private var indexBytes = 0.0

  def setup(): Unit = {
    import spark.implicits._
    corpus.docs.toDF("id", "text", "score").write.mode("overwrite").parquet(docsPath)
    corpus.nodes.toDF("id").write.mode("overwrite").parquet(nodesPath)
    corpus.edges.toDF("src", "dst").write.mode("overwrite").parquet(edgesPath)
  }

  def prepare(): Unit = {
    import spark.implicits._
    feed = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    stream = StreamingOps.dedupByContent(feed.toDF().toDF("t", "doc_id", "text"), "text", "t", "2 hours")
      .writeStream.format("memory").queryName("curated_feed").outputMode(OutputMode.Append())
      .option("checkpointLocation", ctx.path("feed_checkpoint"))
      .start()
  }

  def stateBytes: Double = indexBytes

  private def stage[T](name: String)(body: => T)(check: T => Seq[String]): Option[T] =
    ctx.op("stage", s"operators.$name", "operators")(body)(check)

  def pass(): Unit = {
    import spark.implicits._
    ctx.tracer.span("pipeline", "client") {
      val docs = spark.read.parquet(docsPath)
      val pairs = stage("minhash_lsh_pairs") {
        Dedup.minhashLshPairs(docs, "id", "text").select("id_a", "id_b").as[(Long, Long)].collect()
      }(p => Checks.equal("near-duplicate pairs", digest(p.toSeq.sorted), digest(corpus.pairs)))
      val edges = pairs.getOrElse(Array.empty[(Long, Long)]).toSeq.toDF("id_a", "id_b")
      val comps = stage("connected_components") {
        Dedup.connectedComponents(docs.select("id"), edges).as[(Long, Long)].collect()
      }(c => Checks.equal("components", digest(c.toSeq.sorted), digest(corpus.components)))
      val compDf = comps.getOrElse(Array.empty[(Long, Long)]).toSeq.toDF("id", "comp")
      val kept = stage("keep_best") {
        Dedup.keepBestPerCluster(docs.join(compDf, "id"), "id", "comp", "score")
          .select("kept_id").as[Long].collect()
      }(k => Checks.equal("kept documents", digest(k.toSeq.sorted), digest(corpus.kept)))
      // the curated corpus is written out, as a pipeline's output would be;
      // the index is built from that file
      ctx.tracer.span("write_curated", "client") {
        docs.join(kept.getOrElse(Array.empty[Long]).toSeq.toDF("id"), "id")
          .write.mode("overwrite").parquet(curatedPath)
      }
      stage("text_index_build") {
        TextIndex.build(spark.read.parquet(curatedPath), "id", "text", indexPath)
      }(_ => Nil)
      corpus.queries.grouped(t.termsPerQuery).foreach { qs =>
        ctx.op("query", "operators.text_index_query", "operators") {
          TextIndex.query(spark, indexPath, qs.map { case (qid, term, _) => qid -> term }, 10)
            .select("qid", "id").as[(Int, Long)].collect()
        } { hits =>
          val got = hits.groupBy(_._1).map { case (q, h) => q -> h.map(_._2).toSeq.sorted }
          qs.flatMap { case (qid, term, want) =>
            Checks.equal(s"index hits for $term", got.getOrElse(qid, Nil), want)
          }
        }
      }
      val nodes = spark.read.parquet(nodesPath)
      val graph = spark.read.parquet(edgesPath)
      stage("label_propagation") {
        Graph.labelPropagation(nodes, graph, "id", "src", "dst", 10).as[(Long, Long)].collect()
      }(labels => Checks.equal("communities", digest(labels.toSeq.sorted), digest(corpus.labels)))
      stage("pagerank") {
        Graph.pageRankFp(nodes, graph, "id", PageRankIters).as[(Long, Long)].collect()
      }(r => Checks.equal("pagerank", digest(r.toSeq.sorted), digest(corpus.pageRank(PageRankIters))))
      ctx.tracer.span("streaming.feed", "streaming") {
        ctx.tracer.adopt(stream.runId.toString)
        val before = lastBatch
        (1 to t.feedBatches).foreach(_ => feedBatch())
        fedBatches = (before, lastBatch)
      }
    }
    indexBytes = dirBytes(new java.io.File(indexPath))
  }

  private def feedBatch(): Unit = {
    val (batch, fresh) = corpus.feedBatch(fed, t.feedBatchDocs)
    val first = fed
    fed += batch.size
    ctx.op("write", "streaming.batch", "streaming", batch.size.toLong) {
      feed.addData(batch)
      stream.processAllAvailable()
    } { _ =>
      val got = spark.table("curated_feed").where(col("doc_id") >= first).count()
      Checks.equal("feed batch survivors", got, fresh)
    }
  }

  def layerMetrics(): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    val ops = Seq("minhash_lsh_pairs", "connected_components", "keep_best", "text_index_build",
      "text_index_query", "label_propagation", "pagerank").flatMap { op =>
      val spans = tr.named(s"operators.$op")
      val c = spans.map(tr.inclusive)
      Seq(
        (s"operators.$op.s", spans.map(_.seconds).sum, "s"),
        (s"operators.$op.jobs", c.map(_.jobs).sum.toDouble, "count"),
        (s"operators.$op.shuffle_bytes", c.map(_.shuffleWrite).sum.toDouble, "bytes"))
    }
    val progress = stream.recentProgress.filter(p =>
      p.batchId > fedBatches._1 && p.batchId <= fedBatches._2 && p.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    ops ++ Seq(
      ("operators.label_propagation.rounds", Graph.IterationDiagnostics.lastLpaRounds.toDouble, "count"),
      ("streaming.batches", progress.length.toDouble, "count"),
      ("streaming.batch_ms", Stats.median(progress.map(dur(_, "triggerExecution")).toSeq), "ms"),
      ("streaming.trigger_overhead_ms",
        Stats.median(progress.map(p => dur(p, "triggerExecution") - dur(p, "addBatch")).toSeq), "ms"))
  }
}

object Curation {
  val PageRankIters = 4

  /** Order-sensitive digest of a sorted result. */
  def digest(xs: Seq[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach(x => md.update(x.toString.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString + s"/${xs.size}"
  }

  def dirBytes(f: java.io.File): Double =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length.toDouble else 0.0

  /**
   * The seeded corpus and graph with their exact expected outputs.
   * Near-duplicates: each cluster member is the cluster's base text plus
   * one distinct trailing word, so every pair in a cluster has word
   * 5-shingle Jaccard 56/58 (far above the 0.8 threshold) and documents in
   * different clusters share almost no shingles.
   */
  final class Corpus(t: Traffic, seed: Long) {
    private val words = new Gen.Zipf(t.vocab, 1.0)
    private def text(doc: Long, column: Int): String =
      (0 until t.docWords).map(w => "w" + words.sample(Gen.u01(seed, doc * 1000 + w, column))).mkString(" ")

    private val perm: Array[Int] = {
      val rnd = new scala.util.Random(Gen.mix(seed ^ 0xd0c5))
      rnd.shuffle((0 until t.docs).toVector).toArray
    }
    /** cluster id per document, -1 for singletons */
    val clusterOf: Array[Int] = {
      val c = Array.fill(t.docs)(-1)
      var i = 0
      var cluster = 0
      val target = (t.docs * t.dupShare).toInt
      while (i < target) {
        val size = 2 + Gen.below(seed, cluster, 21, t.maxCluster - 1).toInt
        (i until math.min(i + size, t.docs)).foreach(j => c(perm(j)) = cluster)
        i += size
        cluster += 1
      }
      c
    }
    private val members: Map[Int, Seq[Int]] =
      clusterOf.indices.filter(clusterOf(_) >= 0).groupBy(clusterOf(_)).map { case (k, v) => k -> v.sorted }
    private val singletons: IndexedSeq[Int] = clusterOf.indices.filter(clusterOf(_) < 0)

    /** Planted index queries: term -> the 1..5 singleton documents holding it. */
    val queries: Seq[(Int, String, Seq[Long])] = (0 until t.indexQueries).map { q =>
      val n = 1 + Gen.below(seed, q, 22, 5).toInt
      val hits = (0 until n).map(j => singletons(Gen.below(seed, q * 8 + j, 23, singletons.size).toInt).toLong)
      (q, s"zq$q", hits.distinct.sorted)
    }
    private val planted: Map[Long, Seq[String]] =
      queries.flatMap { case (_, term, ids) => ids.map(_ -> term) }.groupBy(_._1)
        .map { case (id, ts) => id -> ts.map(_._2) }

    val docs: Seq[(Long, String, Double)] = (0 until t.docs).map { d =>
      val body = clusterOf(d) match {
        case -1 => text(d, 24)
        case c => text(members(c).head, 24) + s" v$d"
      }
      (d.toLong, (body +: planted.getOrElse(d.toLong, Nil)).mkString(" "), Gen.u01(seed, d, 25))
    }

    val pairs: Seq[(Long, Long)] =
      members.values.toSeq.flatMap(m => m.combinations(2).map(p => (p(0).toLong, p(1).toLong))).sorted
    val components: Seq[(Long, Long)] =
      (0 until t.docs).map(d => (d.toLong, clusterOf(d) match {
        case -1 => d.toLong
        case c => members(c).head.toLong
      }))
    val kept: Seq[Long] =
      (singletons.map(_.toLong) ++ members.values.map(m => m.maxBy(d => docs(d)._3).toLong)).sorted

    // co-occurrence graph: disjoint cliques of 8..24 nodes, both directions
    val communities: Seq[Seq[Long]] = {
      var next = 0L
      (0 until t.communities).map { c =>
        val size = 8 + Gen.below(seed, c, 26, 17).toInt
        val ids = (next until next + size)
        next += size
        ids
      }
    }
    /** Synchronous label propagation on a clique settles in two rounds on
     *  the clique's smallest id. */
    val labels: Seq[(Long, Long)] = communities.flatMap(ids => ids.map(_ -> ids.head))
    val nodes: Seq[Long] = communities.flatten
    val edges: Seq[(Long, Long)] = communities.flatMap { ids =>
      for (a <- ids; b <- ids if a != b) yield (a, b)
    }

    /** Graph.pageRankFp's documented fixed-point iteration, computed here. */
    def pageRank(iters: Int): Seq[(Long, Long)] = {
      val n = nodes.size.toLong
      val base = Graph.RankScale / n
      val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var rank: Map[Long, Long] = nodes.map(_ -> base).toMap
      (1 to iters).foreach { _ =>
        val inbound = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
        edges.foreach { case (s, d) => inbound(d) += rank(s) / outDeg(s) }
        rank = nodes.map(v => v -> (((100 - 85).toLong * base + 85L * inbound(v)) / 100L)).toMap
      }
      nodes.map(v => v -> rank(v)).sorted
    }

    /** Feed documents `from` until `from + n`: unique content, except that
     *  `feedDupShare` of them repeat a document fed shortly before (within
     *  the dedup horizon). Returns the batch and how many rows survive. */
    def feedBatch(from: Long, n: Int): (Seq[(java.sql.Timestamp, Long, String)], Long) = {
      def repeats(i: Long): Boolean = i > 0 && Gen.u01(seed, i, 29) < t.feedDupShare
      // a repeat copies the content its target carries, which is always a
      // first occurrence fed at most a few hundred documents earlier
      def source(i: Long): Long =
        if (repeats(i)) source(math.max(0L, i - 1 - Gen.below(seed, i, 30, 500))) else i
      val rows = (from until from + n).map { i =>
        (new java.sql.Timestamp(1700000000000L + i * 1000L), i, s"feed ${source(i)} " + text(source(i), 28))
      }
      val fresh = (from until from + n).count(i => !repeats(i)).toLong
      (rows, fresh)
    }
  }
}
