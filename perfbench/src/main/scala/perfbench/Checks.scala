package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame

/** Order-insensitive multiset fingerprint: record count plus the wrapping sum
  * of a 64-bit hash per record. A lost or duplicated record changes both. */
final case class Fp(count: Long, sum: Long) {
  def +(o: Fp): Fp = Fp(count + o.count, sum + o.sum)
}

object Fp {
  val zero: Fp = Fp(0L, 0L)
  def hash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
  def one(s: String): Fp = Fp(1L, hash(s))
  def of(it: Iterator[String]): Fp = it.foldLeft(zero)((f, s) => f + one(s))
}

/** Failed operations against what was attempted, with one line per problem. */
final case class Tally(attempted: Long, failed: Long, problems: Seq[String]) {
  def +(o: Tally): Tally = Tally(attempted + o.attempted, failed + o.failed, problems ++ o.problems)
}

object Tally {
  val zero: Tally = Tally(0L, 0L, Nil)

  /** Compares what a sink holds with what it should hold, by fingerprint,
    * folding over `actual` without keeping it. On a mismatch the exact
    * multiset difference is counted: every missing and every extra record is
    * one failure. */
  def multiset(what: String, want: Fp, expected: => Iterator[String], actual: () => Iterator[String]): Tally = {
    val got = Fp.of(actual())
    if (want == got) Tally(want.count, 0L, Nil)
    else {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      expected.foreach(s => counts(s) = counts.getOrElse(s, 0L) + 1)
      actual().foreach(s => counts(s) = counts.getOrElse(s, 0L) - 1)
      val missing = counts.valuesIterator.filter(_ > 0).sum
      val extra = -counts.valuesIterator.filter(_ < 0).sum
      Tally(want.count, missing + extra,
        Seq(s"$what: $missing records missing, $extra unexpected (of ${want.count})"))
    }
  }

  /** Both-way multiset comparison of two frames with the same columns, by
    * fingerprint of each row's text; on a mismatch the exact difference is
    * counted. */
  def frames(what: String, expected: DataFrame, actual: DataFrame): Tally = {
    def fp(df: DataFrame): Fp =
      df.rdd.mapPartitions(rows => Iterator(Fp.of(rows.map(_.mkString("\u0001"))))).fold(Fp.zero)(_ + _)
    val want = fp(expected)
    if (want == fp(actual)) Tally(want.count, 0L, Nil)
    else {
      val missing = expected.exceptAll(actual).count()
      val extra = actual.exceptAll(expected).count()
      Tally(want.count, missing + extra,
        Seq(s"$what: $missing rows missing, $extra unexpected (of ${want.count})"))
    }
  }

  def count(what: String, expected: Long, actual: Long): Tally =
    if (expected == actual) Tally(expected, 0L, Nil)
    else Tally(expected, (expected - actual).abs, Seq(s"$what: $actual records, expected $expected"))
}
