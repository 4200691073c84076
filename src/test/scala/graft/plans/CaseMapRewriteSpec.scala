package graft.plans

import graft.{SparkEntry, SparkSpec}
import graft.metrics.JobMetrics
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal, Lower, Upper}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

/** [[CaseMapRewrite]] must be invisible in results: [[CaseMap]] is
  * byte-identical to Spark's `Lower`/`Upper`, interpreted and codegen'd,
  * and the rule leaves every plan it cannot reproduce exactly to Spark. */
class CaseMapRewriteSpec extends SparkSpec {

  private val ref = BoundReference(0, StringType, nullable = true)
  // Spark's pair first, graft's second, for each of lower and upper
  private val pairs: Seq[Expression] =
    Seq(Lower(ref), CaseMap(ref, upper = false), Upper(ref), CaseMap(ref, upper = true))
  private lazy val codegen = GenerateUnsafeProjection.generate(pairs)

  /** Every (Spark, graft) pair agrees on `s`, interpreted and codegen'd,
    * and both modes agree with each other; returns a failure message. */
  private def mismatch(s: UTF8String): Option[String] = {
    val row = new GenericInternalRow(Array[Any](s))
    val interpreted = pairs.map(_.eval(row))
    val generated = codegen(row)
    val viaCodegen = pairs.indices.map(i =>
      if (generated.isNullAt(i)) null else generated.getUTF8String(i).clone())
    val ok = interpreted(0) == interpreted(1) && interpreted(2) == interpreted(3) &&
      viaCodegen == interpreted
    def hex = Option(s).map(_.getBytes.map(b => f"${b & 0xff}%02x").mkString(" "))
    if (ok) None else Some(s"input $hex: " +
      s"interpreted $interpreted, codegen $viaCodegen")
  }

  /** UTF-8 bytes of one code point; a surrogate gets its (invalid) 3-byte
    * form, so the run covers U+FFFD replacement too. */
  private def utf8(cp: Int): Array[Byte] =
    if (cp < 0x80) Array(cp.toByte)
    else if (cp < 0x800) Array(0xc0 | cp >> 6, 0x80 | cp & 0x3f).map(_.toByte)
    else if (cp < 0x10000)
      Array(0xe0 | cp >> 12, 0x80 | cp >> 6 & 0x3f, 0x80 | cp & 0x3f).map(_.toByte)
    else Array(0xf0 | cp >> 18, 0x80 | cp >> 12 & 0x3f, 0x80 | cp >> 6 & 0x3f,
      0x80 | cp & 0x3f).map(_.toByte)

  test("CaseMap equals Spark's Lower/Upper on every code point") {
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") == "true")
    val failures = (0 to 0x10ffff).iterator
      .flatMap(cp => mismatch(UTF8String.fromBytes(utf8(cp))))
      .take(5).toList
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("CaseMap equals Spark's Lower/Upper where context and invalid bytes matter") {
    val strings = Seq(
      "ΟΔΟΣ ΣΟΦΟΣ Σ", "ΑΣ.", "İstanbul", "Straße", "ß", "ǅungla ǈ ǋ", "ﬃ ŉ ΐ",
      "Hello, Wörld! ABC xyz 123", "ΑΒΓ abc ΣΣ", "ordinary ascii text", "",
      "İİ", "𐐀𐐨 𞤀")
      .map(UTF8String.fromString)
    val invalid = Seq(
      Array(0x41, 0xff, 0x42), Array(0xc3), Array(0xc0, 0xaf), Array(0xed, 0xa0, 0x80),
      Array(0xf4, 0x90, 0x80, 0x80), Array(0xce, 0xa3, 0x80, 0x41), Array(0x61, 0xe2, 0x82))
      .map(bytes => UTF8String.fromBytes(bytes.map(_.toByte)))
    val failures = (strings ++ invalid :+ null).flatMap(mismatch)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  private def rewritten(df: org.apache.spark.sql.DataFrame): (Boolean, Boolean) = {
    val exprs = df.queryExecution.optimizedPlan.flatMap(_.expressions)
    (exprs.exists(_.exists(_.isInstanceOf[CaseMap])),
      exprs.exists(_.exists(e => e.isInstanceOf[Lower] || e.isInstanceOf[Upper])))
  }

  test("the rewrite reaches lower/upper on default strings and nothing else") {
    import spark.implicits._
    val texts = Seq("ΟΔΟΣ İ ß", "Mixed ASCII")
    // from parquet: over a local relation Catalyst would fold the
    // projection into literal rows before any plan rule runs
    val dir = tmpDir("case-map")
    texts.toDF("s").write.parquet(s"$dir/t.parquet")
    val df = spark.read.parquet(s"$dir/t.parquet")
    val both = df.select(lower(col("s")).as("l"), upper(col("s")).as("u"))
    assert(rewritten(both) == (true, false))
    def sparks(e: Expression => Expression, t: String) =
      e(Literal(UTF8String.fromString(t))).eval().toString
    assert(both.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      texts.map(t => (sparks(Lower(_), t), sparks(Upper(_), t))).toSet)
    // a non-default collation stays with Spark
    val lcase = df.select(lower(collate(col("s"), "UTF8_LCASE")))
    assert(rewritten(lcase) == (false, true))
    lcase.collect()
    // with ICU case mappings off Spark maps per character; keep its plan
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    try {
      val off = df.select(lower(col("s")), upper(col("s")))
      assert(rewritten(off) == (false, true))
      off.collect()
    } finally spark.conf.unset("spark.sql.icu.caseMappings.enabled")
  }

  /** Every expression in `p`, including cached plans, adaptive stages and
    * a command's query. */
  private def expressions(p: SparkPlan): Seq[Expression] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }
    p.expressions.flatMap(_.collect { case e => e }) ++ inner.flatMap(expressions)
  }

  test("q66's memo build runs no Lower/Upper") {
    val dir = tmpDir("case-map-q66")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.parquet(s"$dir/documents.parquet")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val metrics = JobMetrics.attach(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q66_dedup_components")(spark, dir)
        .write.format("noop").mode("overwrite").save()
      metrics.flush()
    } finally {
      spark.listenerManager.unregister(listener)
      metrics.detach()
    }
    val all = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(expressions)
    assert(all.exists(_.isInstanceOf[CaseMap]), "the memo build's plans were not seen")
    assert(!all.exists(e => e.isInstanceOf[Lower] || e.isInstanceOf[Upper]))
  }
}
