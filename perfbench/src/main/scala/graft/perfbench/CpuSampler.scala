package graft.perfbench

import java.nio.file.{Path, Paths}
import java.time.Duration

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/**
 * Where Spark's executor threads spend their CPU during traced passes.
 * Java Flight Recorder samples every running Java thread every 10 ms; a
 * sample counts for a layer when any frame of its stack belongs to the
 * layer's packages, so the shares are inclusive and may overlap.
 */
final class CpuSampler(dir: String) {
  private var rec: Recording = _
  private val dumps = ArrayBuffer.empty[Path]

  // the recorder's first start loads and compiles its own classes for
  // seconds; do that here, outside the timed passes
  locally {
    val r = new Recording()
    r.start()
    r.stop()
    r.close()
  }

  def start(): Unit = {
    rec = new Recording()
    rec.enable("jdk.ExecutionSample").withPeriod(Duration.ofMillis(10)).withStackTrace()
    rec.start()
  }

  def stop(): Unit = {
    rec.stop()
    val p = Paths.get(dir, s"cpu-${dumps.size}.jfr")
    rec.dump(p)
    rec.close()
    dumps += p
  }

  /** Share of executor-thread samples whose stack enters each package set. */
  def shares(layers: Seq[(String, Seq[String])]): Seq[(String, Double)] = {
    var total = 0L
    val hits = Array.fill(layers.size)(0L)
    for (p <- dumps; e <- RecordingFile.readAllEvents(p).asScala) {
      val thread = e.getThread("sampledThread")
      if (thread != null && thread.getJavaName != null &&
          thread.getJavaName.startsWith("Executor task launch") && e.getStackTrace != null) {
        total += 1
        val classes = e.getStackTrace.getFrames.asScala.map(_.getMethod.getType.getName.replace('/', '.'))
        layers.indices.foreach { i =>
          if (classes.exists(c => layers(i)._2.exists(c.startsWith))) hits(i) += 1
        }
      }
    }
    layers.indices.map(i => layers(i)._1 -> (if (total == 0) 0.0 else hits(i).toDouble / total))
  }
}
