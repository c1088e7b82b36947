package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.graftperf.ResolvedAggregate

/**
 * sketch_ingest: the accumulate phase. Each pass runs the accumulate
 * aggregate of every sketch family over a Zipf-keyed fact table in one
 * job, into one global sketch and one sketch per key, writes the sketches
 * out, then reads them back and estimates each family. There is no rewrite
 * rule and no operator work. One job for all seven families means Spark's
 * per-row cost (scan, grouping sets, sort-based aggregation) is paid once
 * per row while the sketch work is paid seven times, as when a summary
 * table holds several sketch columns.
 */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark = ctx.spark
  private val t = ctx.traffic
  private val seed = ctx.seed
  private val fact = ctx.path("fact")

  // exact answers
  private var allValues: Checks.ExactRanks = _
  private var headValues: Map[Int, Checks.ExactRanks] = Map.empty
  private var distinctAll = 0L
  private var headDistinct: Map[Int, Long] = Map.empty
  private var itemCounts: Array[Long] = Array.emptyLongArray

  def setup(): Unit = {
    import spark.implicits._
    val (tr, s) = (t, seed)
    spark.range(0, t.factRows, 1, 8).mapPartitions { it =>
      val g = new RowGen(tr, s)
      it.map(i => g.row(i))
    }.toDF("key", "v", "user", "item")
      .write.mode("overwrite").parquet(fact)
  }

  def prepare(): Unit = {
    val g = new RowGen(t, seed)
    val n = t.factRows
    val values = new Array[Float](n)
    val users = new java.util.BitSet(t.users)
    val head = Heads.map(h => h -> new scala.collection.mutable.ArrayBuffer[Int]()).toMap
    itemCounts = new Array[Long](t.items)
    var i = 0
    while (i < n) {
      val (k, v, u, it) = g.row(i)
      values(i) = v.toFloat
      users.set(u.toInt)
      itemCounts(it.substring(1).toInt) += 1
      head.get(k.toInt).foreach(_ += i)
      i += 1
    }
    allValues = new Checks.ExactRanks(values)
    distinctAll = users.cardinality()
    headValues = head.map { case (k, rows) => k -> new Checks.ExactRanks(rows.map(values(_)).toArray) }
    headDistinct = head.map { case (k, rows) =>
      k -> rows.map(r => g.row(r.toLong)._3).distinct.size.toLong
    }
  }

  private def exactItem(item: String): Long =
    scala.util.Try(itemCounts(item.substring(1).toInt)).getOrElse(0L)
  private val heavyItems: Seq[String] = (0 until 50).map(r => s"i$r")

  private val sketchTable = ctx.path("sketches")

  /** Serialized bytes of the sketches the last pass wrote. */
  def stateBytes: Double = spark.sql(
    s"SELECT ${Families.map(f => s"sum(length(s_$f))").mkString(" + ")} FROM parquet.`$sketchTable`"
  ).head().getLong(0).toDouble

  /** Checks one estimate cell of family `fam` against the exact answer for
   *  the rows it covers (`None` = all rows, `Some(k)` = group k). */
  private def check(label: String, fam: String, cell: Any, key: Option[Int]): Seq[String] =
    Family(fam).kind match {
      case "quantile" =>
        val est = cell.asInstanceOf[scala.collection.Seq[Any]].map(_.asInstanceOf[Number].doubleValue)
        Checks.quantiles(label, fam, Ranks, est.toSeq, key.map(headValues).getOrElse(allValues))
      case "distinct" =>
        val est = cell.asInstanceOf[Number].doubleValue
        Checks.distinct(label, fam, est, key.map(headDistinct).getOrElse(distinctAll))
      case "freq" =>
        val est = cell.asInstanceOf[scala.collection.Seq[Row]].map(r => (r.getString(0), r.getLong(1)))
        if (key.isDefined) Nil // per-group item counts are not kept; the global check covers freq
        else Checks.freq(label, est.toSeq, exactItem, t.factRows, heavyItems)
    }

  /** One write, then one estimate query per family. The accumulate runs
   *  over ROLLUP (key), i.e. GROUPING SETS ((key), ()), so one job builds
   *  the per-key sketches and the global sketch (key NULL) of every family;
   *  each family's aggregate is resolved under its own sketch settings. */
  def pass(): Unit = {
    val facts = spark.read.parquet(fact)
    facts.createOrReplaceTempView("ingest_facts")
    val sketches = Families.map { fam =>
      val f = Family(fam)
      f.conf.foreach { case (k, v) => spark.conf.set(k, v) }
      ResolvedAggregate(spark, s"SELECT ${f.accumulate}(${f.col}) AS s_$fam FROM ingest_facts")
    }
    ctx.op("write", "ingest.accumulate", "expressions", t.factRows) {
      facts.rollup("key").agg(sketches.head, sketches.tail: _*)
        .write.mode("overwrite").parquet(sketchTable)
    }(_ => Nil)
    Families.foreach { fam =>
      val f = Family(fam)
      f.conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val s = s"s_$fam"
      ctx.op("query", s"estimate.$fam", "expressions") {
        spark.sql(
          s"""SELECT 'global' AS part, key, ${f.estimate(s)} AS e, $s FROM parquet.`$sketchTable` WHERE key IS NULL
             |UNION ALL SELECT 'combined', NULL, ${f.estimate(s"${f.combine}($s)")}, NULL
             |  FROM parquet.`$sketchTable` WHERE key IS NOT NULL
             |UNION ALL SELECT 'key', key, ${f.estimate(s)}, NULL FROM parquet.`$sketchTable`
             |  WHERE key IN (${Heads.mkString(",")})""".stripMargin).collect()
      } { rows =>
        rows.filter(_.getString(0) == "global").toSeq.flatMap(r =>
          Checks.params(s"$fam global", fam, r.getAs[Array[Byte]](3))) ++
          Checks.equal(s"$fam rows", rows.length, 2 + Heads.size) ++
          rows.toSeq.flatMap { r =>
            val key = if (r.isNullAt(1)) None else Some(r.getLong(1).toInt)
            check(s"$fam ${r.getString(0)}${key.fold("")(" " + _)}", fam, r.get(2), key)
          }
      }
    }
  }

  def layerMetrics(): Seq[(String, Double, String)] = {
    // the expressions layer: one-shot aggregates and Spark's built-ins on
    // the same grouped input, each in its own span
    val probes = Seq(
      "approx_percentile_ex" -> "approx_percentile_ex(v, 0.5)",
      "approx_count_distinct_ex" -> "approx_count_distinct_ex(user)",
      "approx_freqitems" -> "approx_freqitems(item)",
      "theta_accumulate" -> "theta_accumulate(user)",
      "builtin.percentile_approx" -> "percentile_approx(v, 0.5)",
      "builtin.approx_count_distinct" -> "approx_count_distinct(user)")
    Family("req").conf.foreach { case (k, v) => spark.conf.set(k, v) }
    Family("cpc").conf.foreach { case (k, v) => spark.conf.set(k, v) }
    ctx.tracer.start()
    probes.foreach { case (name, agg) =>
      ctx.op("probe", s"expressions.$name", "expressions") {
        spark.sql(s"SELECT key, $agg AS a FROM parquet.`$fact` GROUP BY key")
          .write.mode("overwrite").parquet(ctx.path("probe"))
      }(_ => Nil)
    }
    ctx.tracer.stop()
    probes.flatMap { case (name, _) =>
      val s = ctx.tracer.named(s"expressions.$name")
      val c = s.map(ctx.tracer.inclusive)
      val secs = Seq((s"expressions.$name.s", s.map(_.seconds).sum, "s"))
      if (name.startsWith("builtin.")) secs
      else secs ++ Seq(
        (s"expressions.$name.shuffle_bytes", c.map(_.shuffleWrite).sum.toDouble, "bytes"),
        (s"expressions.$name.spill_bytes", c.map(x => x.memSpill + x.diskSpill).sum.toDouble, "bytes"))
    }
  }
}

object Ingest {
  val Families: Seq[String] = Seq("req", "kll", "classic", "cpc", "hll", "freq", "theta")
  val Ranks: Seq[Double] = Seq(0.01, 0.1, 0.5, 0.9, 0.99)
  /** The heaviest Zipf keys, whose per-group estimates are checked. */
  val Heads: Seq[Int] = Seq(0, 1, 2)

  final case class Family(kind: String, col: String, accumulate: String, combine: String,
      estimateFn: String, conf: Seq[(String, String)]) {
    def estimate(sketch: String): String =
      if (kind == "quantile") s"$estimateFn($sketch, array(${Ranks.mkString(", ")}))"
      else s"$estimateFn($sketch)"
  }

  private val QuantileImpl = "spark.sql.dataSketches.quantiles.sketchImpl"
  private val DistinctImpl = "spark.sql.dataSketches.distinctCnt.sketchImpl"

  def Family(fam: String): Family = fam match {
    case "req" | "kll" | "classic" =>
      val impl = Map("req" -> "REQ", "kll" -> "KLL", "classic" -> "MERGEABLE")(fam)
      Family("quantile", "v", "approx_percentile_accumulate", "approx_percentile_combine",
        "approx_percentile_estimate", Seq(QuantileImpl -> impl))
    case "cpc" | "hll" =>
      Family("distinct", "user", "approx_count_distinct_accumulate",
        "approx_count_distinct_combine", "approx_count_distinct_estimate",
        Seq(DistinctImpl -> fam.toUpperCase))
    case "freq" =>
      Family("freq", "item", "approx_freqitems_accumulate", "approx_freqitems_combine",
        "approx_freqitems_estimate", Nil)
    case "theta" =>
      Family("distinct", "user", "theta_accumulate", "theta_union", "theta_estimate", Nil)
  }

  /** The fact table's rows as a function of the row index. */
  final class RowGen(t: Traffic, seed: Long) {
    private val keys = new Gen.Zipf(t.groupKeys, t.keySkew)
    private val items = new Gen.Zipf(t.items, t.itemSkew)
    def row(i: Long): (Long, Double, Long, String) = (
      keys.sample(Gen.u01(seed, i, 1)).toLong,
      // log-normal values, rounded to float as the quantile sketches see them
      (100 * math.exp(Gen.normal(seed, i, 2))).toFloat.toDouble,
      Gen.below(seed, i, 4, t.users),
      "i" + items.sample(Gen.u01(seed, i, 5)))
  }
}
