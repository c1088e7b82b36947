package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One operation of a workload. `kind` is "write" (rows into sketches or
 *  state), "query" (an answer read from stored state), "stage" (a pipeline
 *  operator) or "probe" (a traced run's extra layer probe). */
final case class OpRec(kind: String, ms: Double, rows: Long, ok: Boolean, measured: Boolean)

/** What a workload needs from the harness: the session, the tracer, the
 *  seeded traffic, a scratch directory and the operation log. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val traffic: Traffic, val work: String) {
  val recs = ArrayBuffer.empty[OpRec]
  val problems = ArrayBuffer.empty[String]
  var measuring = false

  /** Times `body` as one operation inside a span, then checks its result
   *  outside the timed region. An exception or a failed check marks the
   *  operation failed. */
  def op[T](kind: String, name: String, layer: String, rows: Long = 0L)(body: => T)(
      check: T => Seq[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res = Try(tracer.span(name, layer)(body))
    val ms = (System.nanoTime() - t0) / 1e6
    val errs = res match {
      case Success(v) => Try(check(v)) match {
        case Success(e) => e
        case Failure(e) => Seq(s"$name: check failed with $e")
      }
      case Failure(e) => Seq(s"$name: $e")
    }
    recs += OpRec(kind, ms, rows, errs.isEmpty, measuring)
    System.err.println(f"op $name%-40s $ms%9.1f ms${if (errs.isEmpty) "" else " FAILED"}")
    problems ++= errs.take(3)
    res.toOption
  }

  def path(name: String): String = s"$work/$name"
}

/** A workload: seeded set-up, untimed exact answers, and a pass of
 *  operations that the harness repeats for the measured time. */
trait Workload {
  /** Writes the inputs the program reads. Timed as `setup_s`, and run
   *  several times per run so the reported median is steady. */
  def setup(): Unit
  /** Exact answers for the checks; not timed. */
  def prepare(): Unit
  /** One pass of the workload's operations. */
  def pass(): Unit
  /** Serialized bytes of the state one pass writes. */
  def stateBytes: Double
  /** Per-layer metrics, read from the spans of the last traced pass. */
  def layerMetrics(): Seq[(String, Double, String)]
}

object Main {
  val Workloads = Seq("sketch_ingest", "summary_serve", "curation_pipeline")
  val SetupReps = 3

  final case class Args(workload: String = "", seed: Long = -1L, seconds: Int = 0,
      trace: Boolean = false, work: String = "", scale: Double = 1.0, corrupt: Boolean = false,
      conf: Seq[(String, String)] = Nil)

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--scale" :: v :: rest => parse(rest, a.copy(scale = v.toDouble))
    case "--corrupt" :: rest => parse(rest, a.copy(corrupt = true))
    case "--conf" :: kv :: rest =>
      val (k, v) = kv.span(_ != '=')
      parse(rest, a.copy(conf = a.conf :+ (k -> v.drop(1))))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown argument ${other.head}")
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def num(x: Double): String =
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a failed run must not wait on Spark's non-daemon threads
    val code = try { run(argv); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Workloads.contains(a.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    require(a.seed >= 0 && a.seconds > 0 && a.work.nonEmpty, "--seed, --seconds and --work are required")
    val t0 = System.nanoTime()
    def phase(name: String): Unit = System.err.println(f"phase $name%-8s at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spark = session(a.work)
    a.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    phase("session")
    val tracer = new Tracer(spark)
    val traffic = Traffic(a.scale)
    val ctx = new Ctx(spark, tracer, a.seed, traffic, a.work)
    System.err.println("traffic: " + traffic.describe.map { case (k, v) => s"$k=$v" }.mkString(", "))
    val wl: Workload = a.workload match {
      case "sketch_ingest" => new Ingest(ctx)
      case "summary_serve" => new Serve(ctx)
      case "curation_pipeline" => new Curation(ctx)
    }
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    wl.prepare()
    phase("prepare")
    Checks.corruptNext = a.corrupt
    // one pass before measuring, so JIT compilation and Spark's caches settle
    wl.pass()
    phase("warm-up")
    ctx.measuring = true
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    def timedPass(): Double = {
      val t0 = System.nanoTime()
      wl.pass()
      (System.nanoTime() - t0) / 1e9
    }
    if (!a.trace) {
      val passes = ArrayBuffer(timedPass())
      while (System.nanoTime() < deadline) passes += timedPass()
      val ops = ctx.recs.filter(_.measured)
      val writes = ops.filter(_.kind == "write")
      val queries = ops.filter(_.kind == "query").map(_.ms)
      put("setup_s", Stats.median(setupS), "s")
      put("success_ratio", ctx.recs.count(_.ok).toDouble / ctx.recs.size, "ratio")
      put("rows_per_s", writes.map(_.rows).sum / (writes.map(_.ms).sum / 1000), "rows/s")
      put("write_p50_ms", Stats.median(writes.map(_.ms).toSeq), "ms")
      put("query_p50_ms", Stats.median(queries.toSeq), "ms")
      put("query_p90_ms", Stats.pct(queries.toSeq, 0.90), "ms")
      put("queries_per_s", queries.size / (queries.sum / 1000), "1/s")
      put("pass_s", Stats.median(passes.toSeq), "s")
      put("state_bytes", wl.stateBytes, "bytes")
      System.err.println(s"passes=${passes.size} writes=${writes.size} queries=${queries.size}")
    } else {
      // Untraced and traced passes alternate in ABBA order, so a drift in
      // speed over the run cancels; the difference of their medians is the
      // tracing overhead. Layer metrics come from the last traced pass.
      val plain = ArrayBuffer.empty[Double]
      val traced = ArrayBuffer.empty[Double]
      val sampler = new CpuSampler(a.work)
      def tracedPass(): Unit = {
        tracer.start()
        sampler.start()
        traced += timedPass()
        sampler.stop()
        tracer.stop()
      }
      do {
        if (plain.size % 2 == 0) { plain += timedPass(); tracedPass() }
        else { tracedPass(); plain += timedPass() }
      } while (plain.size < 2 || System.nanoTime() < deadline)
      val t = tracer.total
      put("spark.jobs", t.jobs, "count")
      put("spark.tasks", t.tasks, "count")
      put("spark.executor_run_ms", t.runMs, "ms")
      put("spark.executor_cpu_ms", t.cpuNs / 1e6, "ms")
      put("spark.gc_ms", t.gcMs, "ms")
      put("spark.shuffle_read_bytes", t.shuffleRead, "bytes")
      put("spark.shuffle_write_bytes", t.shuffleWrite, "bytes")
      put("spark.spill_bytes", t.memSpill + t.diskSpill, "bytes")
      put("spark.peak_exec_mem_bytes", t.peakExecMem, "bytes")
      sampler.shares(Layers.CpuLayers).foreach { case (n, v) => put(n, v, "ratio") }
      val plans = tracer.plans.toSeq
      put("rewrite.analyze_ms", Stats.median(plans.map(_.analysisMs)), "ms")
      put("rewrite.optimize_ms", Stats.median(plans.map(_.optimizeMs)), "ms")
      put("rewrite.rule_us", Stats.median(plans.map(_.graftRuleNs / 1e3)), "us")
      Layers.SpanLayers.foreach { l =>
        put(s"trace.self_s.$l", tracer.spans.filter(_.layer == l).map(tracer.selfSeconds).sum, "s")
      }
      put("trace.spans", tracer.spans.size, "count")
      put("trace.passes", traced.size, "count")
      put("trace.overhead_ms", (Stats.median(traced.toSeq) - Stats.median(plain.toSeq)) * 1000, "ms")
      wl.layerMetrics().foreach { case (n, v, u) => put(n, v, u) }
      SketchProbe.run(a.seed).foreach { case (n, v, u) => put(n, v, u) }
      // a layer this workload does not call reads 0
      Layers.all.foreach { case (n, u) => if (!metrics.contains(n)) put(n, 0.0, u) }
      val unknown = metrics.keySet -- Layers.all.map(_._1)
      if (unknown.nonEmpty) ctx.problems += s"metrics outside the layer list: ${unknown.mkString(", ")}"
    }

    phase("measure")
    val bad = metrics.collect { case (n, (v, _)) if v.isNaN || v.isInfinite => n }
    if (bad.nonEmpty) ctx.problems += s"metrics not measured: ${bad.mkString(", ")}"
    val attempted = ctx.recs.size
    val failed = ctx.recs.count(!_.ok)
    ctx.problems.take(20).foreach(p => System.err.println("check: " + p))
    val correct = ctx.problems.isEmpty
    val printed = if (a.trace) Layers.all.map { case (n, _) => n -> metrics(n) } else metrics.toSeq
    val body = printed.map { case (n, (v, u)) =>
      val value = if (v.isNaN || v.isInfinite) "0" else num(v)
      s""""$n": {"value": $value, "unit": "$u"}"""
    }.mkString(", ")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}

/** Every per-layer metric a traced run prints, in print order. */
object Layers {
  val SpanLayers: Seq[String] = Seq("client", "expressions", "rewrite", "plans", "operators", "streaming")
  val Operators: Seq[String] = Seq("minhash_lsh_pairs", "connected_components", "keep_best",
    "text_index_build", "text_index_query", "label_propagation", "pagerank")
  val Expressions: Seq[String] =
    Seq("approx_percentile_ex", "approx_count_distinct_ex", "approx_freqitems", "theta_accumulate")

  /** Executor CPU shares sampled in traced passes, with the packages that
   *  make up each layer. */
  val CpuLayers: Seq[(String, Seq[String])] = Seq(
    "sketches.cpu_share" -> Seq("org.apache.datasketches.", "graft.sketches."),
    "expressions.cpu_share" -> Seq("org.apache.spark.sql.graft."),
    // Spark's external sorters: sorts, and the sort-based fallback of an
    // object hash aggregate that holds more than 128 groups
    "spark.sort_cpu_share" -> Seq("org.apache.spark.util.collection.unsafe.sort.",
      "org.apache.spark.sql.execution.UnsafeKVExternalSorter"))

  val all: Seq[(String, String)] =
    Ingest.Families.flatMap(f => Seq(s"sketches.$f.update_ns" -> "ns", s"sketches.$f.merge_us" -> "us",
      s"sketches.$f.serialize_us" -> "us", s"sketches.$f.deserialize_us" -> "us",
      s"sketches.$f.bytes" -> "bytes")) ++
    CpuLayers.map { case (n, _) => n -> "ratio" } ++
    Expressions.flatMap(e => Seq(s"expressions.$e.s" -> "s", s"expressions.$e.shuffle_bytes" -> "bytes",
      s"expressions.$e.spill_bytes" -> "bytes")) ++
    Seq("expressions.builtin.percentile_approx.s" -> "s",
      "expressions.builtin.approx_count_distinct.s" -> "s",
      "rewrite.analyze_ms" -> "ms", "rewrite.optimize_ms" -> "ms", "rewrite.rule_us" -> "us",
      "rewrite.hit_ratio" -> "ratio",
      "plans.summary_build_s" -> "s", "plans.summary_append_s" -> "s", "plans.summary_bytes" -> "bytes") ++
    Operators.flatMap(o => Seq(s"operators.$o.s" -> "s", s"operators.$o.jobs" -> "count",
      s"operators.$o.shuffle_bytes" -> "bytes")) ++
    Seq("operators.label_propagation.rounds" -> "count",
      "streaming.batches" -> "count", "streaming.batch_ms" -> "ms", "streaming.trigger_overhead_ms" -> "ms") ++
    Seq("jobs" -> "count", "tasks" -> "count", "executor_run_ms" -> "ms", "executor_cpu_ms" -> "ms",
      "gc_ms" -> "ms", "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
      "spill_bytes" -> "bytes", "peak_exec_mem_bytes" -> "bytes").map { case (n, u) => s"spark.$n" -> u } ++
    SpanLayers.map(l => s"trace.self_s.$l" -> "s") ++
    Seq("trace.spans" -> "count", "trace.passes" -> "count", "trace.overhead_ms" -> "ms")
}
