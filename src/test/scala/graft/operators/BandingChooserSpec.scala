package graft.operators

import graft.SparkSpec

/** [[DedupQueries.bandingChooser]], the q238 LSH banding chooser, against
  * an exact BigInt reference of the S-curve algebra, on constructed
  * histograms that force different winners. */
class BandingChooserSpec extends SparkSpec {
  import spark.implicits._

  /** (1000 · (10³² − (100^r − m^r)^b)) div 10³² — the sCurvePmFragment
    * algebra recomputed independently in arbitrary precision. */
  private def pPm(m: Long, b: Int, r: Int): Long = {
    val p32 = BigInt(10).pow(32)
    val x = BigInt(10).pow(2 * r) - BigInt(m).pow(r)
    ((BigInt(1000) * (p32 - x.pow(b))) / p32).toLong
  }

  private val cands = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  private case class Ref(b: Int, r: Int, below: Long, above: Long,
      fp: Long, fn: Long, eligible: Boolean, rank: Long, chosen: Boolean)

  private def reference(hist: Map[Long, Long]): Seq[Ref] = {
    val lo = hist.toSeq.filter(_._1 < 50)
    val hi = hist.toSeq.filter(_._1 >= 50)
    val below = lo.map(_._2).sum
    val above = hi.map(_._2).sum
    val rows = cands.map { case (b, r) =>
      val fpNum = lo.map { case (m, w) => w * pPm(m, b, r) }.sum
      val fnNum = hi.map { case (m, w) => w * (1000L - pPm(m, b, r)) }.sum
      val fp = if (below > 0) fpNum / below else 0L
      val fn = if (above > 0) fnNum / above else 0L
      (b, r, fp, fn, fp <= 20)
    }
    val ranked = rows.sortBy { case (b, _, fp, fn, el) => (!el, fn, fp, b) }
      .zipWithIndex.map { case ((b, r, fp, fn, el), i) =>
        (b, r) -> (i + 1).toLong }.toMap
    rows.map { case (b, r, fp, fn, el) =>
      Ref(b, r, below, above, fp, fn, el, ranked((b, r)),
        ranked((b, r)) == 1L) }.sortBy(_.b)
  }

  /** Runs the chooser and asserts every column equals the reference;
    * returns the chosen (bands, rows). */
  private def check(hist: Map[Long, Long]): (Int, Int) = {
    val df = hist.toSeq.toDF("m", "w")
    val got = DedupQueries.bandingChooser(df).collect().map { r =>
      Ref(r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6), r.getLong(7),
        r.getBoolean(8)) }.toSeq.sortBy(_.b)
    assert(got == reference(hist), s"hist=$hist")
    val c = got.filter(_.chosen)
    assert(c.size == 1)
    (c.head.b, c.head.r)
  }

  test("q238 chooser ≡ BigInt S-curve reference on randomized histograms") {
    val rnd = new scala.util.Random(41)
    for (_ <- 1 to 5) {
      val bins = (Seq(0L, 100L) ++ Seq.fill(12)(rnd.nextInt(101).toLong))
        .distinct
      val hist = bins.map(_ -> (1L + rnd.nextInt(5000))).toMap
      check(hist)
    }
  }

  test("q238 constructed S-curves force different winners") {
    // well-separated but soft: (4,4) is the only low-FP candidate that
    // still catches s = 0.9 pairs (fn 14 per-mille)
    assert(check(Map(10L -> 1000L, 90L -> 500L)) == ((4, 4)))
    // extreme separation: (8,2) squeaks under the 20 per-mille FP budget
    // (fp 19) and misses almost nothing (fn 1)
    assert(check(Map(5L -> 1000L, 95L -> 800L)) == ((8, 2)))
  }

  test("q238 degenerate masses: one-sided histograms stay deterministic") {
    // no pairs at/above tau: every candidate has fn 0; ranking falls to
    // fp then fewer bands
    val allLow = check(Map(10L -> 100L, 30L -> 50L))
    assert(allLow == ((1, 16)))
    // no pairs below tau: every candidate is eligible (fp 0); (8,2) and
    // (16,1) both round to fn 0 per-mille and the fewer-bands tie-break
    // picks the cheaper index
    val allHigh = check(Map(80L -> 100L, 100L -> 50L))
    assert(allHigh == ((8, 2)))
  }
}
