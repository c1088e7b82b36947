package graft.perfbench

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.cpc.CpcSketch
import org.apache.datasketches.frequencies.ItemsSketch
import org.apache.datasketches.hll.HllSketch
import org.apache.datasketches.kll.{KllFloatsSketch, KllSketch}
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantiles.DoublesSketch
import org.apache.datasketches.req.ReqSketch
import org.apache.datasketches.theta.{Sketch => ThetaSketch}

/**
 * Fixed accuracy bounds, derived once from the sketch parameters graft
 * ships as defaults. They are deliberately not the bounds a sketch reports
 * about itself: a change that lowers k or lgK loosens those, but not these,
 * and the parameter checks below reject it outright.
 */
object Bounds {
  val ReqK = 12
  val KllK = 200
  val ClassicK = 128
  val CpcLgK = 11
  val HllLgK = 12
  val ThetaLgK = 12
  val FreqMapSize = 1024

  /** Normalized rank error. KLL and classic: twice the library's 99%
   *  single-rank bound at the default k (about five standard errors). REQ:
   *  five times its relative standard-error factor 0.1306 / k. */
  val kllRank: Double = 2 * KllSketch.getNormalizedRankError(KllK, false)
  val classicRank: Double = 2 * DoublesSketch.getNormalizedRankError(ClassicK, false)
  val reqRank: Double = 5 * 0.1306 / ReqK
  /** Relative distinct-count error: five standard errors at the default
   *  lgK (CPC 0.6/sqrt(k), HLL 1.04/sqrt(k), theta 1/sqrt(k)). */
  val cpcRel: Double = 5 * 0.6 / math.sqrt(1 << CpcLgK)
  val hllRel: Double = 5 * 1.04 / math.sqrt(1 << HllLgK)
  val thetaRel: Double = 5 / math.sqrt(1 << ThetaLgK)
  /** Frequent items: the a-priori error is at most epsilon * N. */
  val freqEps: Double = ItemsSketch.getEpsilon(FreqMapSize)

  def rank(family: String): Double = family match {
    case "req" => reqRank
    case "kll" => kllRank
    case "classic" => classicRank
  }
  def distinct(family: String): Double = family match {
    case "cpc" => cpcRel
    case "hll" => hllRel
    case "theta" => thetaRel
  }
}

/** Comparisons of program output with exact answers. Each returns the list
 *  of problems found; an empty list means the output is correct. */
object Checks {
  /** Set by `--corrupt`: the next estimate that is checked is perturbed
   *  first, which the check must reject (the benchmark's negative test). */
  @volatile var corruptNext = false

  private def observed(x: Double): Double =
    if (corruptNext) { corruptNext = false; x * 1.5 + 1000 } else x

  /** Sorted values with exact rank lookup. Values are floats because graft's
   *  quantile sketches narrow their input to float. */
  final class ExactRanks(values: Array[Float]) {
    private val sorted = values.clone()
    java.util.Arrays.sort(sorted)
    val n: Int = sorted.length
    private def countBelow(q: Float, inclusive: Boolean): Int = {
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) < q || (inclusive && sorted(mid) == q)) lo = mid + 1 else hi = mid
      }
      lo
    }
    /** Distance of `rank` from the exact rank interval of `q`. */
    def rankError(q: Double, rank: Double): Double = {
      val lo = countBelow(q.toFloat, inclusive = false).toDouble / n
      val hi = countBelow(q.toFloat, inclusive = true).toDouble / n
      if (rank < lo) lo - rank else if (rank > hi) rank - hi else 0.0
    }
  }

  def quantiles(label: String, family: String, ranks: Seq[Double], est: Seq[Double],
      exact: ExactRanks): Seq[String] =
    if (est.length != ranks.length) Seq(s"$label: ${est.length} quantiles for ${ranks.length} ranks")
    else ranks.zip(est).flatMap { case (r, q) =>
      val err = exact.rankError(observed(q), r)
      if (err > Bounds.rank(family))
        Some(f"$label: p$r%.2f = $q has rank error $err%.4f > ${Bounds.rank(family)}%.4f")
      else None
    }

  def distinct(label: String, family: String, est: Double, exact: Long): Seq[String] = {
    val e = observed(est)
    val rel = math.abs(e - exact) / math.max(exact, 1L)
    if (rel > Bounds.distinct(family))
      Seq(f"$label: estimate $e%.0f vs exact $exact, relative error $rel%.4f")
    else Nil
  }

  /** `est` are (item, estimate) pairs reported with no false positives;
   *  `exact` gives true counts; `n` is the stream length. */
  def freq(label: String, est: Seq[(String, Long)], exact: String => Long, n: Long,
      heavy: Seq[String]): Seq[String] = {
    val maxErr = Bounds.freqEps * n
    val wrong = est.flatMap { case (item, e) =>
      val t = exact(item)
      val o = observed(e.toDouble)
      if (math.abs(o - t) > maxErr) Some(f"$label: $item estimated $o%.0f vs exact $t") else None
    }
    val reported = est.map(_._1).toSet
    val missed = heavy.filter(h => exact(h) > 2 * maxErr && !reported(h))
      .map(h => s"$label: heavy hitter $h (${exact(h)}) not reported")
    wrong ++ missed
  }

  def equal[T](label: String, got: T, expected: T): Seq[String] =
    if (got == expected) Nil else Seq(s"$label: got $got, expected $expected")

  /** Rejects a sketch whose serialized parameters are not the defaults. */
  def params(label: String, family: String, bytes: Array[Byte]): Seq[String] = {
    val mem = Memory.wrap(bytes)
    val (what, got, want) = family match {
      case "req" => ("k", ReqSketch.heapify(mem).getK, Bounds.ReqK)
      case "kll" => ("k", KllFloatsSketch.heapify(mem).getK, Bounds.KllK)
      case "classic" => ("k", DoublesSketch.heapify(mem).getK, Bounds.ClassicK)
      case "cpc" => ("lgK", CpcSketch.heapify(mem).getLgK, Bounds.CpcLgK)
      case "hll" => ("lgK", HllSketch.heapify(mem).getLgConfigK, Bounds.HllLgK)
      case "freq" => ("map capacity",
        ItemsSketch.getInstance(mem, new ArrayOfStringsSerDe).getMaximumMapCapacity,
        (Bounds.FreqMapSize * 0.75).toInt)
      case "theta" =>
        // a compact theta sketch does not store lgK; a union result in
        // estimation mode keeps exactly 2^lgK entries (more are trimmed), so
        // fewer than 2^ThetaLgK means a smaller lgK
        val s = ThetaSketch.heapify(mem)
        val ok = !s.isEstimationMode || s.getRetainedEntries >= (1 << Bounds.ThetaLgK)
        ("retained entries", if (ok) 1 else 0, 1)
    }
    if (got == want) Nil else Seq(s"$label: sketch $what is $got, expected $want")
  }
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}
