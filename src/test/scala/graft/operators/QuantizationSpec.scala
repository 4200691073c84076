package graft.operators

import graft.{SparkSpec, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** Int8 scalar quantization of the vector lake (IvfStorage.quantize /
  * probeQuantized, q101): code-range and reconstruction-error invariants,
  * the native quantized_cosine kernel pinned bit-equal to its HOF twin,
  * degraded-input edges (constant dimension, out-of-codebook drift), and
  * the probe path pinned EXACTLY equal to the float probe when the
  * shortlist covers the scan (preK ≥ corpus ⇒ identical re-rank input).
  */
class QuantizationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val params = IvfStorage.quantizationParams(emb)
  private lazy val codes = IvfStorage.quantize(emb, params)

  test("codes span 0..255, keep dimension count, and cover every vector") {
    val n = emb.count()
    assert(codes.count() == n)
    val stats = codes.select(
      min(array_min(col("codes"))).as("lo"),
      max(array_max(col("codes"))).as("hi"),
      min(size(col("codes"))).as("dlo"),
      max(size(col("codes"))).as("dhi")).head()
    assert(stats.getInt(0) >= 0 && stats.getInt(1) <= 255)
    assert(stats.getInt(1) == 255, "a full-range dimension must reach code 255")
    assert(stats.getInt(2) == 64 && stats.getInt(3) == 64)
  }

  test("integer-space reconstruction error is bounded by the worst step size") {
    // err < range/255 + 1 per dimension by the div floor argument; the
    // corpus-wide bound is the widest dimension's step
    val worstStep = params
      .agg(max((col("mx") - col("mn")) / lit(255)).as("s")).head().getDouble(0)
    val maxErr = codes.agg(max(col("max_err"))).head().getLong(0)
    assert(maxErr <= worstStep.toLong + 1, s"maxErr=$maxErr step=$worstStep")
    assert(maxErr > 0, "sf0.001 floats are not all exactly representable")
  }

  test("native int8_quantize ≡ explode/join/groupBy reference (bitwise)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSeq
    assert(rows(codes) == rows(IvfStorage.quantizeReference(emb, params)))
  }

  test("quantized_cosine native ≡ HOF dequantize-then-fold twin (bitwise)") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val paramArr = IvfStorage.paramArray(params)
    // the twin mirrors the kernel's per-element arithmetic exactly:
    // x = (mn + code·range/255.0)/10⁶ in double, then three sequential
    // folds over the same element order
    val withX = codes.crossJoin(broadcast(paramArr)).crossJoin(broadcast(q))
      .withColumn("xarr", zip_with(col("codes"), col("qparams"), (c, p) =>
        (p.getField("mn") + (c.cast("long") * (p.getField("mx") - p.getField("mn")))
          .cast("double") / lit(255.0)) / lit(1000000.0)))
    val dotc = VectorFunctions.fsum(zip_with(col("xarr"), col("q_emb"),
      (x, y) => x * y.cast("double")))
    val nx = VectorFunctions.fsum(transform(col("xarr"), x => x * x))
    val ny = VectorFunctions.fsum(transform(col("q_emb"),
      y => y.cast("double") * y.cast("double")))
    val both = withX.select(
      call_function("quantized_cosine", col("codes"), col("qparams"),
        col("q_emb")).as("native"),
      (dotc / (sqrt(nx) * sqrt(ny))).as("hof"))
    assert(both.count() > 0)
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("packed binary codes round the same: quantized_cosine(int8_pack(c)) ≡ quantized_cosine(c)") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val paramArr = IvfStorage.paramArray(params)
    val both = codes.crossJoin(broadcast(paramArr)).crossJoin(broadcast(q))
      .select(
        call_function("quantized_cosine", col("codes"), col("qparams"),
          col("q_emb")).as("arr"),
        call_function("quantized_cosine",
          call_function("int8_pack", col("codes")), col("qparams"),
          col("q_emb")).as("bin"),
        length(call_function("int8_pack", col("codes"))).as("nbytes"))
    assert(both.count() > 0)
    assert(both.filter(col("arr") =!= col("bin")).count() == 0)
    assert(both.agg(max(col("nbytes"))).head().getInt(0) == 64,
      "packed layout must be exactly 1 byte per dimension")
  }

  test("quantized_cosine is null on length mismatch, not wrong") {
    val paramArr = IvfStorage.paramArray(params)
    val short = codes.limit(1).crossJoin(broadcast(paramArr))
      .select(call_function("quantized_cosine",
        slice(col("codes"), 1, 10), col("qparams"),
        transform(slice(col("codes"), 1, 10), c => c.cast("float"))).as("c"))
    assert(short.head().isNullAt(0))
  }

  test("constant dimension quantizes to 0; codebook drift clamps to 0/255") {
    val fit = Seq((1L, Seq(1.0f, 5.0f)), (2L, Seq(1.0f, 7.0f)))
      .toDF("vec_id", "embedding")
    val p = IvfStorage.quantizationParams(fit)
    // dim 0 is constant (range 0 → code 0); drifted values land outside
    // [5,7] on dim 1 and clamp
    val drifted = Seq((3L, Seq(1.0f, 4.0f)), (4L, Seq(1.0f, 9.0f)))
      .toDF("vec_id", "embedding")
    val got = IvfStorage.quantize(drifted, p)
      .orderBy("vec_id").select("codes").as[Seq[Int]].collect()
    assert(got(0) == Seq(0, 0))
    assert(got(1) == Seq(0, 255))
  }

  test("probeQuantized ≡ float probe when preK covers the scan; layout is cell-pruned") {
    val cents = IvfStorage.labelCentroids(emb)
    val pdir = tmpDir("quant-lake")
    IvfStorage.writeQuantizedCellPartitioned(emb, cents, params, pdir)
    // partitioned layout: one cent_id=N directory per cell
    val cellDirs = new java.io.File(pdir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
    assert(cellDirs.nonEmpty)
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head().toArray
    // all cells probed + preK ≥ corpus ⇒ the exact re-rank sees every
    // vector, so the result must equal the float probe row-for-row
    val nCells = cents.count().toInt
    val exact = IvfStorage.probe(spark, {
      val fdir = tmpDir("float-lake")
      IvfStorage.writeCellPartitioned(emb, cents, fdir); fdir
    }, cents, qv, nProbe = nCells, k = 10).collect().toSeq
    val quant = IvfStorage.probeQuantized(spark, pdir, emb, cents, params, qv,
      nProbe = nCells, k = 10, preK = emb.count().toInt).collect().toSeq
    assert(quant == exact)
    // the realistic operating point (small preK) still finds the query
    // vector itself first (code-identical ⇒ top of the pre-rank)
    val tight = IvfStorage.probeQuantized(spark, pdir, emb, cents, params, qv,
      nProbe = nCells, k = 1, preK = 4).collect()
    assert(tight.head.getLong(0) == 0L)
  }

  test("q234: content-group collapse ≡ direct brute force on a replicated corpus") {
    val e0 = Tables.embeddings(spark, sfDir).limit(300)
    // 3× replicas with distinct ids — every content group has >= 3 members,
    // and some probes (ids ≡ 0 mod 50) sit INSIDE groups at various ranks
    val e = (0 until 3).map { r =>
      e0.select((col("vec_id") + lit(r * 100000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
    val direct = VectorQueries
      .quantizationFidelity(e, collapseIdentical = false)
      .collect().map(_.toSeq).toSeq
    val collapsed = VectorQueries
      .quantizationFidelity(e, collapseIdentical = true)
      .collect().map(_.toSeq).toSeq
    assert(direct.nonEmpty)
    assert(direct == collapsed,
      s"collapse changed the audit:\n direct    ${direct.take(3)}\n collapsed ${collapsed.take(3)}")
    // the fixture must actually exercise in-group probes: replicas give
    // near-1 best cosines, and for a probe that is NOT its group's min id
    // the winner is a SMALLER id (the rep-2 visibility case)
    val rows = collapsed.map(r => (r(0).asInstanceOf[Long],
      r(1).asInstanceOf[Long], r(4).asInstanceOf[Double]))
    assert(rows.forall(_._3 > 0.999999),
      "every probe has an exact replica, so best float cos must be ~1")
    assert(rows.exists { case (p, win, _) => p > 100000L && win < p },
      "fixture must include probes that are non-min members of their group")
  }
}
