package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The multimodal plumbing is real (schema, pruning, UDF signatures);
  * JDK-decodable image formats additionally take a REAL codec
  * (ImageIoCodec — the "REAL codec" tests decode actual PNG pixels), the
  * rest a deterministic fake. */
class MultimodalSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private lazy val media = Multimodal.synthesize(spark, sfDir).cache()

  // the session is SHARED across suites: a suite-scoped fixture cache left
  // pinned here fails KCoreSpec's global cache-emptiness check, not this
  // suite (the DedupBucketCapSpec lesson)
  override def afterAll(): Unit = {
    media.unpersist(blocking = true)
    super.afterAll()
  }

  /** A real w×h PNG with a horizontal black→white gradient. */
  private def gradientPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = x * 255 / math.max(1, w - 1)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    ImageIoCodec.toPng(img)
  }

  /** One-row media table around real image bytes. */
  private def pngMedia(bytes: Array[Byte]) = {
    import spark.implicits._
    Seq((1L, "image", bytes)).toDF("media_id", "modality", "bytes")
      .withColumn("meta", struct(
        lit("png").as("format"), lit(16).as("width"), lit(16).as("height"),
        lit(null).cast("int").as("sample_rate"),
        lit(null).cast("int").as("n_frames"),
        lit(null).cast("long").as("duration_ms")))
  }

  test("synthesized media matches the declared schema") {
    val got = media.schema.fieldNames.toSeq
    assert(got == Seq("media_id", "modality", "bytes", "meta"))
    assert(media.schema("bytes").dataType.typeName == "binary")
    assert(media.count() == 300)
  }

  test("feature extraction: fixed-dim float vectors, deterministic") {
    val f1 = Multimodal.extractFeatures(media, 64).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media, 64).orderBy("media_id").collect()
    assert(f1.length == 300)
    assert(f1.head.getSeq[Float](1).length == 64)
    assert(f1.map(_.getSeq[Float](1).toList).toList ==
      f2.map(_.getSeq[Float](1).toList).toList)
    // content-sensitive: different media → different features
    assert(f1.map(_.getSeq[Float](1).toList).distinct.length > 290)
  }

  test("features flow into the similarity operators (cosine over fake embeddings)") {
    val feats = Multimodal.extractFeatures(media, 32)
    val q = feats.filter(col("media_id") === 0).select(col("features").as("q"))
    val scored = feats.crossJoin(broadcast(q))
      .select(col("media_id"),
        graft.functions.VectorFunctions.cosineNative(col("features"), col("q")).as("cos"))
      .orderBy(col("cos").desc_nulls_last, col("media_id"))
    val top = scored.limit(3).collect()
    assert(top.head.getLong(0) == 0L) // self-similarity = 1.0 ranks first
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("resize touches only images; audio/video bytes unchanged") {
    val resized = Multimodal.resizeImages(media, 8, 8)
    val joined = media.select(col("media_id"), col("modality"), col("bytes").as("orig"))
      .join(resized.select(col("media_id"), col("bytes").as("now")), "media_id")
    val changed = joined.filter(col("modality") === "image")
      .filter(length(col("now")) =!= length(col("orig"))).count()
    val untouched = joined.filter(col("modality") =!= "image")
      .filter(length(col("now")) =!= length(col("orig"))).count()
    assert(changed == 100) // every image (64..255 bytes) shrinks to 8*8=64
    assert(untouched == 0)
  }

  test("frame sampling explodes videos into every-k-th frame rows") {
    val frames = Multimodal.sampleFrames(media, k = 3)
    // 100 videos × ceil(12/3)=4 frames
    assert(frames.count() == 400)
    assert(frames.schema.fieldNames.toSeq == Seq("media_id", "frame_idx", "frame_bytes"))
    assert(frames.agg(max("frame_idx")).head().getInt(0) == 3)
  }

  test("REAL codec: a decoded PNG's histogram features") {
    val df = pngMedia(gradientPng(16, 16))
    val feats = Multimodal.extractFeatures(df, 8).collect()
    assert(feats.length == 1)
    val hist = feats.head.getSeq[Float](1)
    assert(hist.length == 8)
    // 16-step black→white gradient: every 8-bin bucket holds exactly 2 of
    // the 16 columns = 32 of 256 pixels → 0.125 — only true if the actual
    // PNG pixels were decoded
    hist.foreach(b => assert(math.abs(b - 0.125f) < 1e-6, hist.toString))
    assert(math.abs(hist.sum - 1.0f) < 1e-6)
  }

  test("REAL codec: resize re-encodes actual pixels at the target geometry") {
    val df = pngMedia(gradientPng(16, 16))
    val out = Multimodal.resizeImages(df, 8, 4).select("bytes")
      .collect().head.getAs[Array[Byte]](0)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(img != null, "resized bytes must be a decodable image")
    assert(img.getWidth == 8 && img.getHeight == 4)
    // gradient survives the resize: left edge darker than right edge
    assert((img.getRGB(0, 0) & 0xff) < (img.getRGB(7, 0) & 0xff))
  }

  test("REAL codec: undecodable bytes yield null features / pass-through resize, not a failed job") {
    import spark.implicits._
    val good = gradientPng(8, 8)
    val junk = Array.tabulate[Byte](100)(_.toByte) // format says png, bytes are not
    val df = Seq((1L, "image", good), (2L, "image", junk))
      .toDF("media_id", "modality", "bytes")
      .withColumn("meta", struct(
        lit("png").as("format"), lit(8).as("width"), lit(8).as("height"),
        lit(null).cast("int").as("sample_rate"),
        lit(null).cast("int").as("n_frames"),
        lit(null).cast("long").as("duration_ms")))
    val feats = Multimodal.extractFeatures(df, 8).orderBy("media_id").collect()
    assert(feats(0).getSeq[Float](1) != null, "good row decodes")
    assert(feats(1).isNullAt(1), "corrupt row yields null features, job survives")
    val resized = Multimodal.resizeImages(df, 4, 4).orderBy("media_id")
      .select("bytes").collect()
    assert(!(resized(0).getAs[Array[Byte]](0) sameElements good), "good row re-encoded")
    assert(resized(1).getAs[Array[Byte]](0) sameElements junk, "corrupt row passes through")
  }

  test("binaryFile ingestion: raw media files land in the media schema, codec-ready") {
    val dir = tmpDir("media-lake")
    val png = gradientPng(8, 8)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.png"), png)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.wav"),
      Array.tabulate[Byte](64)(_.toByte))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.unknown"),
      Array[Byte](1, 2, 3))
    val media = Multimodal.readMediaDir(spark, dir)
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "modality", "bytes", "meta"))
    val byMod = media.collect().map(r => r.getAs[String]("modality") -> r).toMap
    assert(byMod.keySet == Set("image", "audio", "binary"))
    assert(byMod("image").getAs[org.apache.spark.sql.Row]("meta")
      .getAs[String]("format") == "png")
    // ingested PNG flows straight through the REAL codec path
    val feats = Multimodal.extractFeatures(
      media.filter(col("modality") === "image"), 8).collect()
    assert(feats.length == 1 && math.abs(feats.head.getSeq[Float](1).sum - 1.0f) < 1e-6)
    // re-ingest = same ids (deterministic path hash)
    val ids1 = media.select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Multimodal.readMediaDir(spark, dir)
      .select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2)
    // glob pushdown: only images
    assert(Multimodal.readMediaDir(spark, dir, "*.png").count() == 1)
  }

  test("media round-trips through partitioned parquet (binary + struct intact)") {
    val out = tmpDir("media-out")
    media.write.mode("overwrite").partitionBy("modality").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == 300)
    val a = media.select("media_id", "bytes").orderBy("media_id")
      .collect().map(r => r.getAs[Array[Byte]]("bytes").toSeq)
    val b = back.select("media_id", "bytes").orderBy("media_id")
      .collect().map(r => r.getAs[Array[Byte]]("bytes").toSeq)
    assert(a.toSeq == b.toSeq)
    assert(back.select("meta.n_frames").distinct().count() == 2) // 12 and null
  }
}
