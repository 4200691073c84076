package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support for training-data pipelines: media (image /
  * audio / video) travels as an opaque `binary` column plus a typed metadata
  * struct; decode / feature-extraction / resize / frame-sampling are
  * per-partition transforms over the bytes.
  *
  * The codec step dispatches on `meta.format`: formats the JDK's built-in
  * `javax.imageio` readers decode (PNG/BMP/GIF/JPEG) go through the REAL
  * [[ImageIoCodec]] — actual pixel decode, histogram features, bilinear
  * resize; WAV/AIFF/AU audio goes through the REAL [[WavCodec]]
  * (`javax.sound.sampled` PCM decode, RMS-envelope features,
  * linear-interpolation resample); everything else (video, mp3/flac/ogg,
  * non-JDK image formats — this
  * container ships no media libraries) falls back to [[FakeCodec]], a
  * clearly-marked deterministic stand-in that derives "pixels"/"samples"
  * from the bytes. Everything around the dispatch — schema, batch shape,
  * partition-wise execution, column pruning behavior, and the metadata
  * contract — is the same real Spark plumbing either way, tested in
  * MultimodalSpec (which drives a real decoded PNG through the batched
  * path).
  *
  * Scale notes: media bytes are the widest column by far — every transform
  * here prunes to (id, bytes-or-features) before any shuffle, feature
  * extraction is a narrow map (no shuffle), and grouping media by bucketed
  * id keeps a 100 TB corpus from ever co-locating raw bytes.
  */
object Multimodal {

  /** media_id, modality ∈ {image, audio, video} (+ `binary` for files whose
    * format [[readMediaDir]] cannot classify at ingest — consumers doing
    * exhaustive modality dispatch must handle or filter it), bytes, meta. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),     // images/video
      StructField("height", IntegerType),    // images/video
      StructField("sample_rate", IntegerType), // audio
      StructField("n_frames", IntegerType),  // video
      StructField("duration_ms", LongType)   // audio/video
    )))))

  /** STUB codec — deterministic fake decode. A real implementation would
    * call an image/audio library here; the call signature (bytes + meta →
    * fixed-length feature vector / resized bytes / sampled frames) is the
    * contract a real codec must satisfy.
    */
  object FakeCodec {
    /** "Decode" bytes to a dim-length float feature vector: position-seeded
      * hash of the content — deterministic, content-sensitive, fake. */
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L // fake: content rolling hash, not a decoder
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      var j = 0
      while (j < dim) {
        val hj = h ^ (j.toLong * 0x9e3779b97f4a7c15L)
        val mixed = hj ^ (hj >>> 33)
        out(j) = ((mixed % 1000L).toFloat / 1000.0f)
        j += 1
      }
      out
    }

    /** "Resize" an image: a real codec re-encodes pixels; the fake keeps a
      * deterministic byte slice proportional to the target area. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val n = math.max(1, math.min(bytes.length, w * h))
      java.util.Arrays.copyOf(bytes, n)
    }

    /** "Sample" every k-th frame of a video: real codecs seek keyframes; the
      * fake slices the byte stream into n_frames equal chunks and keeps every
      * k-th chunk. */
    def sampleFrames(bytes: Array[Byte], nFrames: Int, k: Int): Array[Array[Byte]] = {
      if (nFrames <= 0) return Array.empty
      val frameLen = math.max(1, bytes.length / nFrames)
      (0 until nFrames by k).map { f =>
        val start = f * frameLen
        java.util.Arrays.copyOfRange(bytes, math.min(start, bytes.length),
          math.min(start + frameLen, bytes.length))
      }.toArray
    }
  }

  /** Format dispatch: JDK-decodable image formats take the real codec,
    * everything else the stub (same contract either side).
    *
    * A web-scale media corpus is guaranteed to contain rows whose bytes do
    * not decode (truncated files, misdeclared formats, CMYK JPEGs the JDK
    * returns null for) — one bad row must never fail the corpus job, so a
    * decode failure yields NULL features (filterable downstream, the
    * training-pipeline convention) and resize passes the original bytes
    * through untouched. */
  private def featuresFor(bytes: Array[Byte], format: String, dim: Int): Array[Float] =
    if (ImageIoCodec.handles(format))
      try ImageIoCodec.features(bytes, dim)
      catch { case scala.util.control.NonFatal(_) => null }
    else if (WavCodec.handles(format))
      try WavCodec.features(bytes, dim)
      catch { case scala.util.control.NonFatal(_) => null }
    else FakeCodec.features(bytes, dim)

  private def resizeFor(bytes: Array[Byte], format: String, w: Int, h: Int): Array[Byte] =
    if (ImageIoCodec.handles(format))
      try ImageIoCodec.resize(bytes, w, h)
      catch { case scala.util.control.NonFatal(_) => bytes }
    else FakeCodec.resize(bytes, w, h)

  // Registered as Scala UDFs over binary — the explicit non-codegen island
  // in an otherwise codegen pipeline (a real codec is JNI-bound anyway, so a
  // UDF boundary is the honest shape; batch size is controlled by partition
  // size, not row-at-a-time I/O).
  private val featuresUdf =
    udf((b: Array[Byte], fmt: String, dim: Int) => featuresFor(b, fmt, dim))
  private val resizeUdf =
    udf((b: Array[Byte], fmt: String, w: Int, h: Int) => resizeFor(b, fmt, w, h))
  private val frameSampleUdf =
    udf((b: Array[Byte], n: Int, k: Int) => FakeCodec.sampleFrames(b, n, k))

  /** Feature-extract: (media_id, features array<float>) — prunes everything
    * else before compute so the scan only reads (media_id, bytes, format). */
  def extractFeatures(media: DataFrame, dim: Int = 64): DataFrame =
    media.select(col("media_id"),
      featuresUdf(col("bytes"), col("meta.format"), lit(dim)).as("features"))

  /** Resize images (other modalities pass through untouched). */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame =
    media.withColumn("bytes",
      when(col("modality") === "image",
        resizeUdf(col("bytes"), col("meta.format"), lit(w), lit(h)))
        .otherwise(col("bytes")))

  // returns (bytes, rewritten): the flag distinguishes a real resample from
  // a pass-through (non-decodable format OR corrupt bytes), so metadata is
  // only updated for rows whose payload actually changed
  private val resampleUdf = udf { (b: Array[Byte], fmt: String, hz: Int) =>
    if (WavCodec.handles(fmt))
      try (WavCodec.resample(b, hz), true)
      catch { case scala.util.control.NonFatal(_) => (b, false) }
    else (b, false) // no decoder in this container for mp3/flac/ogg
  }

  /** The audio "resize": resample JDK-decodable audio (WAV/AIFF/AU) to a
    * uniform rate — the normalization step every audio training pipeline
    * runs before feature extraction. Undecodable audio formats and other
    * modalities pass through untouched (same failure contract as
    * [[resizeImages]]: one bad row never fails the corpus job). Metadata
    * follows the payload: rows the codec actually rewrites get
    * `meta.sample_rate = targetHz` and `meta.format = "wav"` (the
    * re-encoded container), so the struct never contradicts the bytes. */
  def resampleAudio(media: DataFrame, targetHz: Int): DataFrame = {
    require(targetHz > 0, s"target sample rate must be positive, got $targetHz")
    media
      .withColumn("_rs",
        when(col("modality") === "audio",
          resampleUdf(col("bytes"), col("meta.format"), lit(targetHz)))
          .otherwise(struct(col("bytes").as("_1"), lit(false).as("_2"))))
      .withColumn("bytes", col("_rs._1"))
      .withColumn("meta",
        when(col("_rs._2"), struct(
          lit("wav").as("format"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          lit(targetHz).as("sample_rate"),
          col("meta.n_frames").as("n_frames"),
          col("meta.duration_ms").as("duration_ms")))
          .otherwise(col("meta")))
      .drop("_rs")
  }

  /** Sample every k-th frame of each video into one row per frame. */
  def sampleFrames(media: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"frame-sampling stride must be positive, got $k")
    media.filter(col("modality") === "video")
      .select(col("media_id"),
        posexplode(frameSampleUdf(col("bytes"), col("meta.n_frames"), lit(k)))
          .as(Seq("frame_idx", "frame_bytes")))
  }

  /** Ingest raw media FILES into the media schema via Spark's `binaryFile`
    * source — the path media actually takes into a pipeline from object
    * storage. Format comes from the file extension, modality from the
    * format; geometry/duration metadata stays null until a decode pass
    * fills it (binaryFile exposes only path/length/bytes). binaryFile
    * supports `pathGlobFilter` pushdown and never decodes on read, so a
    * 100 TB media lake scans as (path, length) until `content` is actually
    * selected — column pruning keeps metadata-only passes cheap.
    *
    * media_id = xxhash64(path): deterministic and stable across re-ingests
    * of the same lake layout. */
  def readMediaDir(spark: SparkSession, dir: String,
                   glob: String = "*", keepPath: Boolean = false): DataFrame = {
    val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
    // image extensions = the codec-dispatch source of truth plus formats
    // that are images but not JDK-decodable (stay images, take FakeCodec)
    val imageExts = ImageIoCodec.formats.toSeq.sorted ++ Seq("tif", "tiff")
    // audio likewise: WavCodec's decodable set is the source of truth, plus
    // formats that are audio but not JDK-decodable (stay audio, FakeCodec)
    val audioExts = WavCodec.formats.toSeq.sorted ++ Seq("mp3", "flac", "ogg")
    val modality = when(ext.isin(imageExts: _*), "image")
      .when(ext.isin(audioExts: _*), "audio")
      .when(ext.isin("mp4", "mkv", "webm", "avi"), "video")
      .otherwise("binary")
    val cols = Seq(
      xxhash64(col("path")).as("media_id"),
      modality.as("modality"),
      col("content").as("bytes"),
      struct(
        ext.as("format"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("int").as("sample_rate"),
        lit(null).cast("int").as("n_frames"),
        lit(null).cast("long").as("duration_ms")).as("meta")) ++
      // lineage column for consumers that need the source file back
      // (e.g. the oracle's cross-engine file key); off by default so the
      // media schema stays fixed for existing dispatch code
      (if (keepPath) Seq(col("path")) else Nil)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(cols: _*)
  }

  /** Deterministic synthetic media table (for tests/demos): bytes derived
    * from events rows; 3 modalities round-robin. */
  def synthesize(spark: SparkSession, dir: String, n: Int = 300): DataFrame = {
    import spark.implicits._
    spark.range(n).map { i =>
      val modality = Seq("image", "audio", "video")(i.toInt % 3)
      val bytes = Array.tabulate[Byte](65 + (i.toInt % 190))(j => ((i * 31 + j) % 251).toByte)
      (i, modality, bytes)
    }.toDF("media_id", "modality", "bytes")
      .withColumn("meta", struct(
        lit("fake").as("format"),
        when(col("modality") === "image", lit(640)).as("width"),
        when(col("modality") === "image", lit(480)).as("height"),
        when(col("modality") === "audio", lit(16000)).as("sample_rate"),
        when(col("modality") === "video", lit(12)).as("n_frames"),
        when(col("modality") =!= "image", lit(5000L)).as("duration_ms")))
  }
}
