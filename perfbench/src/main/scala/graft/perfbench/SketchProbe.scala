package graft.perfbench

import graft.sketches.{DistinctAlgo, DistinctSketchFacade, FreqSketchFacade, QuantileAlgo,
  QuantileSketchFacade, ThetaUnionFacade}

/**
 * The sketches layer on its own: graft's facades over datasketches-java,
 * called directly and single-threaded on seeded arrays, with the default
 * parameters. Reports per-update, merge, serialize and deserialize cost
 * and the serialized size of a sketch of `Updates` items.
 */
object SketchProbe {
  val Updates = 200000
  private val UpdateReps = 5
  private val CallReps = 15
  private val CallsPerRep = 20

  /** One family behind a uniform interface; `S` is the facade type. */
  private final case class Probe[S](
      create: () => S,
      update: (S, Int) => Unit,
      merge: (S, S) => Unit,
      toBytes: S => Array[Byte],
      fromBytes: Array[Byte] => S)

  private def time(body: => Unit): Long = {
    val t0 = System.nanoTime()
    body
    System.nanoTime() - t0
  }

  private def measure[S](fam: String, p: Probe[S]): Seq[(String, Double, String)] = {
    val half = Updates / 2
    def build(from: Int, until: Int): S = {
      val s = p.create()
      var i = from
      while (i < until) { p.update(s, i); i += 1 }
      s
    }
    val updateNs = (1 to UpdateReps).map(_ => time(build(0, Updates)).toDouble / Updates)
    val full = build(0, Updates)
    val (a, b) = (p.toBytes(build(0, half)), p.toBytes(build(half, Updates)))
    val bytes = p.toBytes(full)
    def perCall(prep: () => Any, call: Any => Unit): Double = Stats.median((1 to CallReps).map { _ =>
      val inputs = Seq.fill(CallsPerRep)(prep())
      time(inputs.foreach(call)) / 1e3 / CallsPerRep
    })
    val mergeUs = perCall(() => (p.fromBytes(a), p.fromBytes(b)),
      x => { val (l, r) = x.asInstanceOf[(S, S)]; p.merge(l, r) })
    val serUs = perCall(() => full, _ => p.toBytes(full))
    val deUs = perCall(() => bytes, _ => p.fromBytes(bytes))
    Seq(
      (s"sketches.$fam.update_ns", Stats.median(updateNs), "ns"),
      (s"sketches.$fam.merge_us", mergeUs, "us"),
      (s"sketches.$fam.serialize_us", serUs, "us"),
      (s"sketches.$fam.deserialize_us", deUs, "us"),
      (s"sketches.$fam.bytes", bytes.length.toDouble, "bytes"))
  }

  def run(seed: Long): Seq[(String, Double, String)] = {
    val longs = Array.tabulate(Updates)(i => Gen.below(seed, i, 31, 1L << 40))
    val floats = Array.tabulate(Updates)(i => (100 * math.exp(Gen.normal(seed, i, 32))).toFloat)
    val zipf = new Gen.Zipf(50000, 1.1)
    val strings = Array.tabulate(Updates)(i => "i" + zipf.sample(Gen.u01(seed, i, 33)))
    def quantile(algo: QuantileAlgo, k: Int) = Probe[QuantileSketchFacade](
      () => QuantileSketchFacade.create(algo, k), (s, i) => s.update(floats(i)),
      (x, y) => x.merge(y), _.toBytes, QuantileSketchFacade.fromBytes(algo, k, _))
    def distinct(algo: DistinctAlgo, lgK: Int) = Probe[DistinctSketchFacade](
      () => DistinctSketchFacade.create(algo, lgK), (s, i) => s.update(longs(i)),
      (x, y) => x.merge(y), _.toBytes, DistinctSketchFacade.fromBytes(algo, lgK, _))
    measure("req", quantile(QuantileAlgo.REQ, Bounds.ReqK)) ++
      measure("kll", quantile(QuantileAlgo.KLL, Bounds.KllK)) ++
      measure("classic", quantile(QuantileAlgo.MERGEABLE, Bounds.ClassicK)) ++
      measure("cpc", distinct(DistinctAlgo.CPC, Bounds.CpcLgK)) ++
      measure("hll", distinct(DistinctAlgo.HLL, Bounds.HllLgK)) ++
      measure("freq", Probe[FreqSketchFacade](
        () => FreqSketchFacade.createString(Bounds.FreqMapSize), (s, i) => s.update(strings(i)),
        (x, y) => x.merge(y), _.toBytes, FreqSketchFacade.stringFromBytes)) ++
      measure("theta", Probe[ThetaUnionFacade](
        () => ThetaUnionFacade.create(Bounds.ThetaLgK), (s, i) => s.update(longs(i)),
        (x, y) => x.merge(y), _.toBytes, ThetaUnionFacade.fromBytes(Bounds.ThetaLgK, _)))
  }
}
