package graft.perfbench

/**
 * Seeded input generation. Every value is a pure function of
 * (seed, row index, column), so Spark tasks and the exact oracles on the
 * driver produce identical data without shipping arrays around.
 */
object Gen {
  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def bits(seed: Long, i: Long, column: Int): Long =
    mix(mix(seed * 0x9E3779B97F4A7C15L + column) + i * 0xD1B54A32D192ED03L)

  /** Uniform in [0, 1). */
  def u01(seed: Long, i: Long, column: Int): Double =
    (bits(seed, i, column) >>> 11) * (1.0 / (1L << 53))

  /** Uniform in [0, n). */
  def below(seed: Long, i: Long, column: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(bits(seed, i, column), n)

  /** Standard normal from two uniforms (Box-Muller). */
  def normal(seed: Long, i: Long, column: Int): Double = {
    val u = math.max(u01(seed, i, column), 1e-300)
    val v = u01(seed, i, column + 1000)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** Zipf(s) over ranks 0..n-1, sampled by inverse CDF; rank 0 is heaviest. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
}

/**
 * The traffic dimensions of the three workloads, with the reason each value
 * was chosen. No value is taken from a measured trace or a cited source:
 * the skews, duplicate rates and the append ratio are assumptions, each
 * marked as such, chosen so that the sketches leave exact mode and the
 * checks have heavy hitters and planted clusters to find. `scale` shrinks
 * row counts for the smoke test only; the benchmark itself always runs at
 * scale 1.
 */
final case class Traffic(scale: Double) {
  private def n(x: Int): Int = math.max(1, (x * scale).toInt)

  // sketch_ingest -------------------------------------------------------
  /** Fact rows per accumulate pass: large enough that executor work, not
   *  Spark's fixed cost per action, takes most of a pass, small enough
   *  that a warm-up pass and a measured pass fit a run. */
  val factRows: Int = n(2000000)
  /** Group keys for the grouped accumulate. Assumption: Zipf 0.8 over 10k
   *  keys, which realizes most of them while the head keys still get
   *  thousands of rows, so the grouped pass has many small per-group buffers
   *  to serialize and a few large ones. */
  val groupKeys: Int = n(10000)
  val keySkew: Double = 0.8
  /** Distinct users: uniform over 300k ids, so the global distinct count is
   *  far above every sketch's exact-mode capacity. */
  val users: Int = n(300000)
  /** Items for freq-items. Assumption: Zipf 1.1 over 20k, so a few dozen
   *  items are heavy hitters above the sketch's a-priori error and the long
   *  tail is not. */
  val items: Int = n(20000)
  val itemSkew: Double = 1.1

  // summary_serve -------------------------------------------------------
  /** Base rows per day and days: 28 daily partitions make the weekly
   *  roll-ups of the dashboard meaningful (4 weeks). */
  val serveDays: Int = 28
  val serveRowsPerDay: Int = n(2500)
  /** Countries are the second summary key. Assumption: Zipf 1.0, so a few
   *  countries hold most rows and the dashboard's key subsets differ in
   *  size by orders of magnitude. */
  val countries: Int = 40
  val countrySkew: Double = 1.0
  val serveUsers: Int = n(50000)
  /** Assumption: one append per 10 dashboard queries, a read-mostly
   *  dashboard with a steady trickle of new data. Appends take about half of
   *  the busy time, so a change that trades one against the other shows. */
  val queriesPerAppend: Int = 10
  /** Rows per append: one hour of a day's traffic. */
  val appendRows: Int = math.max(1, serveRowsPerDay / 24)

  // curation_pipeline ---------------------------------------------------
  /** Documents, and the share of them in planted near-duplicate clusters.
   *  Assumption: 30% of documents in clusters of 2..6, enough that the LSH
   *  join has real candidate traffic and every pass has clusters to keep. */
  val docs: Int = n(3000)
  val dupShare: Double = 0.3
  val maxCluster: Int = 6
  val docWords: Int = 60
  val vocab: Int = 20000
  /** Planted query terms for the text index, each in 1..5 documents, asked
   *  `termsPerQuery` at a time. */
  val indexQueries: Int = 40
  val termsPerQuery: Int = 20
  /** Co-occurrence graph: disjoint cliques of 8..24 terms (a topic's terms
   *  all co-occur), so label propagation has one exact answer. */
  val communities: Int = math.max(2, n(60))
  /** Streaming feed: micro-batches per pipeline pass and documents per
   *  batch. Assumption: 20% of each batch repeats content seen within the
   *  horizon. */
  val feedBatches: Int = 2
  val feedBatchDocs: Int = n(1000)
  val feedDupShare: Double = 0.2

  def describe: Seq[(String, String)] = Seq(
    "fact_rows" -> factRows.toString,
    "group_keys" -> s"$groupKeys (zipf $keySkew)",
    "users" -> users.toString,
    "items" -> s"$items (zipf $itemSkew)",
    "serve_rows" -> s"${serveDays * serveRowsPerDay} over $serveDays days x $countries countries",
    "appends_per_query" -> s"1/$queriesPerAppend, $appendRows rows each",
    "docs" -> s"$docs, ${(dupShare * 100).toInt}% in clusters of 2..$maxCluster",
    "graph" -> s"$communities cliques of 8..24 nodes",
    "feed" -> s"$feedBatches batches x $feedBatchDocs docs, ${(feedDupShare * 100).toInt}% repeats")
}
