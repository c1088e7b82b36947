package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftperf.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one operation share `op`; `parent`
 *  is the span that was open when this one started (-1 at the root). */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
    startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters of the Spark jobs attributed to one span. */
final class EngineCounters {
  var jobs, tasks, runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, memSpill, diskSpill, peakExecMem = 0L
  def add(o: EngineCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    memSpill += o.memSpill; diskSpill += o.diskSpill
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** Planning cost of one Spark action, read from its QueryPlanningTracker. */
final case class PlanCost(analysisMs: Double, optimizeMs: Double, graftRuleNs: Long)

/**
 * Spans around the benchmark's calls into each layer, plus engine counters
 * attributed to those spans. Every span sets a Spark job group named after
 * it, and the listener maps each job's stages to the span whose group the
 * job carries, so task metrics land on the innermost span that started the
 * job. A streaming query's jobs carry its run id as their group; `adopt`
 * maps that id to the span that drives the stream.
 *
 * Tracing is off until `start()`: with tracing off `span` only runs its
 * body and no listener is registered, which is how end-to-end runs measure.
 */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var on = false
  private var stack: List[Span] = Nil
  private var ops = 0
  val spans = ArrayBuffer.empty[Span]
  private val groupSpan = TrieMap.empty[String, Int]
  private val stageSpan = TrieMap.empty[Int, Int]
  /** Counters per span id; -1 collects jobs started outside any span. */
  val counters = TrieMap.empty[Int, EngineCounters]
  val plans = ArrayBuffer.empty[PlanCost]

  private def spanOf(group: String): Int =
    if (group == null) -1
    else if (group.startsWith("pb-")) group.substring(3).toInt
    else groupSpan.getOrElse(group, -1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      counters.getOrElseUpdate(id, new EngineCounters).jobs += 1
      e.stageIds.foreach(stageSpan.put(_, id))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = counters.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1), new EngineCounters)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.memSpill += m.memoryBytesSpilled
          c.diskSpill += m.diskBytesSpilled
          c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private val graftRules = Seq("SummaryRewriteRule", "ApproxCountDistinctRewriteRule")
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val ruleNs = qe.tracker.rules.collect {
        case (rule, s) if graftRules.exists(rule.endsWith) => s.totalTimeNs
      }.sum
      plans.synchronized(plans += PlanCost(ms("analysis"), ms("optimization"), ruleNs))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def enabled: Boolean = on

  def start(): Unit = {
    spans.clear(); counters.clear(); stageSpan.clear(); groupSpan.clear(); plans.clear()
    stack = Nil
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    on = true
  }

  /** Stops recording after every queued listener event has been delivered. */
  def stop(): Unit = if (on) {
    BusDrain(sc)
    on = false
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val op = parent.map(_.op).getOrElse { ops += 1; ops }
      val s = Span(spans.size, parent.map(_.id).getOrElse(-1), op, name, layer, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"pb-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attributes the jobs of job group `group` (a streaming query's run id)
   *  to the innermost open span. */
  def adopt(group: String): Unit =
    if (on) stack.headOption.foreach(s => groupSpan.put(group, s.id))

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (iv.nonEmpty) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Counters of a span and every span below it. */
  def inclusive(s: Span): EngineCounters = {
    val acc = new EngineCounters
    def walk(id: Int): Unit = {
      counters.get(id).foreach(acc.add)
      children(id).foreach(c => walk(c.id))
    }
    walk(s.id)
    acc
  }

  /** Counters of every job seen while tracing, attributed or not. */
  def total: EngineCounters = {
    val acc = new EngineCounters
    counters.values.foreach(acc.add)
    acc
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}
