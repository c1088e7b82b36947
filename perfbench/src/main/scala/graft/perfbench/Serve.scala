package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.plans.GraftSummaries

/**
 * summary_serve: set-up builds daily summary tables with
 * `GraftSummaries.buildSummaryTable`, one per fact table (sessions by
 * user, requests by latency, purchases by item), keyed by (day, country).
 * Then one client runs a closed loop of seeded dashboard queries: one-shot
 * `_ex` aggregates over the fact tables that the rewrite rule answers from
 * the summaries, explicit `_combine`/`_estimate` calls over key subsets,
 * and daily summaries rolled up into weeks. Every `queriesPerAppend`
 * queries the client appends an hour of new rows to each fact table and
 * refreshes that table's summary with `appendToSummaryTable`, one write
 * operation per table.
 */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  private val spark = ctx.spark
  private val t = ctx.traffic
  private val seed = ctx.seed
  private val kinds = Seq(
    Kind("distinct", "sessions", "user"),
    Kind("quantile", "requests", "latency"),
    Kind("freq", "purchases", "item"))
  private def base(k: Kind) = ctx.path(s"base_${k.table}")
  private def summary(k: Kind) = ctx.path(s"summary_${k.table}")

  private val queries: IndexedSeq[Query] = Serve.pool(seed, t)
  /** Per query and result group: the exact answer and the row count. */
  private var exact: Map[Int, Map[String, (Any, Long)]] = Map.empty
  private var next = 0
  private var appends = 0
  private var summaryBytes = 0.0
  private val buildSeconds = ArrayBuffer.empty[Double]
  private var eligible = 0
  private var hits = 0

  private val rowsPerBase = t.serveDays * t.serveRowsPerDay

  def setup(): Unit = {
    import spark.implicits._
    GraftSummaries.clear()
    val (tr, s) = (t, seed)
    val rows = spark.range(0, rowsPerBase, 1, 8).mapPartitions { it =>
      val g = new RowGen(tr, s)
      it.map(i => g.row(i))
    }.toDF("day", "country", "user", "latency", "item").cache()
    kinds.foreach(k => rows.select("day", "country", k.col).write.mode("overwrite").parquet(base(k)))
    rows.unpersist()
    val t0 = System.nanoTime()
    kinds.foreach { k =>
      GraftSummaries.buildSummaryTable(spark, base(k), summary(k), Seq("day", "country"), k.col, k.kind)
    }
    buildSeconds += (System.nanoTime() - t0) / 1e9
    kinds.foreach { k =>
      spark.read.parquet(base(k)).createOrReplaceTempView(k.table)
      spark.read.parquet(summary(k)).createOrReplaceTempView(s"${k.table}_daily")
    }
    appends = 0
    next = 0
    spark.conf.set(GraftSummaries.ENABLED_KEY, "true")
  }

  def prepare(): Unit = {
    summaryBytes = kinds.map { k =>
      spark.sql(s"SELECT sum(length(sketch)) FROM ${k.table}_daily").head().getLong(0).toDouble
    }.sum
    val g = new RowGen(t, seed)
    val cells = Array.fill(t.serveDays * t.countries)(ArrayBuffer.empty[Int])
    var i = 0
    while (i < rowsPerBase) {
      val (d, c, _, _, _) = g.row(i)
      cells(d * t.countries + c.substring(1).toInt) += i
      i += 1
    }
    def rowsOf(days: Seq[Int], countries: Seq[Int]): Seq[Int] =
      for (d <- days; c <- countries; r <- cells(d * t.countries + c)) yield r
    exact = queries.map { q =>
      val groups: Seq[(String, Seq[Int])] = (q.template match {
        case "distinct_ex" | "quantile_ex" =>
          q.countries.map(c => s"c$c" -> rowsOf(q.days, Seq(c)))
        case "weekly" =>
          q.days.groupBy(_ / 7).toSeq.map { case (w, ds) => w.toString -> rowsOf(ds, q.countries) }
        case _ => Seq("all" -> rowsOf(q.days, q.countries))
      }).filter(_._2.nonEmpty) // a key subset can select no rows at all
      q.id -> groups.map { case (key, rows) =>
        val answer: Any = q.template match {
          case "distinct_ex" | "distinct_combine" | "weekly" =>
            rows.map(r => g.row(r)._3).distinct.size.toLong
          case "quantile_ex" | "quantile_combine" =>
            new Checks.ExactRanks(rows.map(r => g.row(r)._4.toFloat).toArray)
          case "freq_ex" =>
            val counts = rows.groupBy(r => g.row(r)._5).map { case (k, v) => k -> v.size.toLong }
            (counts, rows.size.toLong)
        }
        key -> (answer, rows.size.toLong)
      }.toMap
    }.toMap
  }

  def stateBytes: Double = summaryBytes

  private def check(q: Query, rows: Array[Row]): Seq[String] = {
    val want = exact(q.id)
    val label = s"${q.template}#${q.id}"
    val grouped = Seq("distinct_ex", "quantile_ex", "weekly").contains(q.template)
    // an aggregate without GROUP BY returns one row even over no input
    val sizeCheck = Checks.equal(s"$label groups", rows.length, if (grouped) want.size else 1)
    sizeCheck ++ rows.toSeq.flatMap { r =>
      val key = if (grouped) r.get(0).toString else "all"
      val cell = r.get(r.length - 1)
      if (!grouped && want.isEmpty) {
        val empty = cell match {
          case null => true
          case n: Number => n.doubleValue == 0
          case xs: scala.collection.Seq[_] => xs.isEmpty
          case _ => false
        }
        if (empty) Nil else Seq(s"$label: $cell over no rows")
      } else {
        // the stored per-key row counts let count(*) stay exact under the rewrite
        val countCheck = want.get(key).filter(_ => q.template.endsWith("_ex") && r.length == 3)
          .toSeq.flatMap { case (_, n) => Checks.equal(s"$label $key count", r.getLong(1), n) }
        countCheck ++ (want.get(key) match {
          case None => Seq(s"$label: unexpected group $key")
          case Some((answer, _)) => answer match {
            case n: Long => Checks.distinct(s"$label $key", "cpc", cell.asInstanceOf[Number].doubleValue, n)
            case ranks: Checks.ExactRanks =>
              val est = cell.asInstanceOf[scala.collection.Seq[Any]].map(_.asInstanceOf[Number].doubleValue)
              Checks.quantiles(s"$label $key", "req", Percentiles, est.toSeq, ranks)
            case (counts: Map[_, _], n: Long) =>
              val c = counts.asInstanceOf[Map[String, Long]]
              val est = cell.asInstanceOf[scala.collection.Seq[Row]].map(x => (x.getString(0), x.getLong(1)))
              Checks.freq(s"$label $key", est.toSeq, i => c.getOrElse(i, 0L), n, (0 until 10).map(i => s"i$i"))
          }
        })
      }
    }
  }

  private def readsBase(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(rel: HadoopFsRelation, _, _, _, _) => rel.location.rootPaths.map(_.toString)
    }.flatten.exists(_.contains("/base_"))

  private def runQuery(q: Query): Unit =
    ctx.op("query", s"serve.${q.template}", "client") {
      val df = ctx.tracer.span("rewrite.plan", "rewrite") {
        val df = spark.sql(q.sql)
        df.queryExecution.optimizedPlan
        df
      }
      if (ctx.tracer.enabled && q.template.endsWith("_ex")) {
        eligible += 1
        if (readsBase(df)) System.err.println(s"rewrite miss: ${q.template}") else hits += 1
      }
      ctx.tracer.span("execute", "expressions")(df.collect())
    }(rows => check(q, rows))

  private def append(): Unit = {
    import spark.implicits._
    val n = appends
    appends += 1
    val (tr, s) = (t, seed)
    // rows are day-major, so appended rows land on days after the queried range
    val first = rowsPerBase.toLong + n.toLong * t.appendRows
    val fresh = spark.range(first, first + t.appendRows, 1, 1).mapPartitions { it =>
      val g = new RowGen(tr, s)
      it.map(i => g.row(i))
    }.toDF("day", "country", "user", "latency", "item").cache()
    kinds.foreach { k =>
      ctx.op("write", s"serve.append.${k.table}", "plans", t.appendRows.toLong) {
        val batch = fresh.select("day", "country", k.col)
        batch.write.mode("append").parquet(base(k))
        ctx.tracer.span("plans.append", "plans") {
          GraftSummaries.appendToSummaryTable(spark, base(k), summary(k), batch,
            Seq("day", "country"), k.col, k.kind)
        }
      } { _ =>
        val got = spark.read.parquet(summary(k)).selectExpr("sum(n_rows)").head().getLong(0)
        Checks.equal(s"${k.table} summary rows", got, rowsPerBase.toLong + appends.toLong * t.appendRows)
      }
    }
    fresh.unpersist()
    // the dashboard's views read the refreshed summary files
    kinds.foreach(k => spark.read.parquet(summary(k)).createOrReplaceTempView(s"${k.table}_daily"))
  }

  /** One client cycle: `queriesPerAppend` queries, then the appends. */
  def pass(): Unit = {
    (1 to t.queriesPerAppend).foreach { _ =>
      runQuery(queries(next % queries.size))
      next += 1
    }
    append()
  }

  def layerMetrics(): Seq[(String, Double, String)] = {
    val appendSpans = ctx.tracer.named("plans.append")
    Seq(
      ("rewrite.hit_ratio", if (eligible == 0) 0.0 else hits.toDouble / eligible, "ratio"),
      ("plans.summary_build_s", Stats.median(buildSeconds.toSeq), "s"),
      ("plans.summary_append_s", Stats.median(appendSpans.map(_.seconds)), "s"),
      ("plans.summary_bytes", summaryBytes, "bytes"))
  }
}

object Serve {
  val Percentiles: Seq[Double] = Seq(0.5, 0.9, 0.99)
  val Templates: Seq[String] = Seq(
    "distinct_ex", "quantile_ex", "freq_ex", "distinct_combine", "quantile_combine", "weekly")

  final case class Kind(kind: String, table: String, col: String)
  final case class Query(id: Int, template: String, days: Seq[Int], countries: Seq[Int], sql: String)

  /** A seeded pool of dashboard queries: each template over a random day
   *  range (1..14 days) and a random set of 1..8 countries. */
  def pool(seed: Long, t: Traffic): IndexedSeq[Query] = {
    val rnd = new scala.util.Random(Gen.mix(seed ^ 0x5e7e))
    (0 until 60).map { id =>
      val template = Templates(id % Templates.size)
      val len = 1 + rnd.nextInt(14)
      val from = rnd.nextInt(t.serveDays - len + 1)
      val days = from until from + len
      val countries = rnd.shuffle((0 until t.countries).toList).take(1 + rnd.nextInt(8)).sorted
      val where = s"day BETWEEN $from AND ${from + len - 1} AND country IN " +
        countries.map(c => s"'c$c'").mkString("(", ", ", ")")
      val pcts = Percentiles.mkString("array(", ", ", ")")
      val sql = template match {
        case "distinct_ex" =>
          s"SELECT country, count(*) AS n, approx_count_distinct_ex(user) AS a FROM sessions " +
            s"WHERE $where GROUP BY country"
        case "quantile_ex" =>
          s"SELECT country, count(*) AS n, approx_percentile_ex(latency, $pcts) AS a FROM requests " +
            s"WHERE $where GROUP BY country"
        case "freq_ex" =>
          s"SELECT approx_freqitems(item) AS a FROM purchases WHERE $where"
        case "distinct_combine" =>
          s"SELECT approx_count_distinct_estimate(approx_count_distinct_combine(sketch)) AS a " +
            s"FROM sessions_daily WHERE $where"
        case "quantile_combine" =>
          s"SELECT approx_percentile_estimate(approx_percentile_combine(sketch), $pcts) AS a " +
            s"FROM requests_daily WHERE $where"
        case "weekly" =>
          s"SELECT CAST(day DIV 7 AS INT) AS week, " +
            "approx_count_distinct_estimate(approx_count_distinct_combine(sketch)) AS a " +
            s"FROM sessions_daily WHERE $where GROUP BY 1"
      }
      Query(id, template, days, countries, sql)
    }
  }

  /** Dashboard fact rows as a function of the row index: day-major, so a
   *  day's rows are contiguous and appends extend the last day range. */
  final class RowGen(t: Traffic, seed: Long) {
    private val countries = new Gen.Zipf(t.countries, t.countrySkew)
    private val items = new Gen.Zipf(2000, 1.1)
    def row(i: Long): (Int, String, String, Double, String) = (
      (i / t.serveRowsPerDay).toInt,
      "c" + countries.sample(Gen.u01(seed, i, 11)),
      // string ids: the rewrite rule answers approx_count_distinct_ex from a
      // summary only for string columns
      "u" + Gen.below(seed, i, 12, t.serveUsers),
      (math.exp(3 + 0.8 * Gen.normal(seed, i, 13))).toFloat.toDouble,
      "i" + items.sample(Gen.u01(seed, i, 14)))
  }
}
