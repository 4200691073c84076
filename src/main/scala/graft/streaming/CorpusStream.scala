package graft.streaming

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming corpus hygiene — the ingestion-time twin of the batch cleaning
  * pipeline (CorpusQueries q73): gate quality per-row and drop exact
  * duplicates AS DOCUMENTS ARRIVE, so dirty/duplicated content never lands
  * in the lake at all (the reference's whole architecture is
  * filter-on-ingest, StreamingEtl.java:87-149 — this applies the same stance
  * to corpus quality).
  *
  * Stage shapes and their streaming-scale contracts:
  *
  *  - [[qualityGate]] is stateless per-row column math (the q45/q71
  *    signals) — no state store, no watermark requirement, safe on any
  *    unbounded stream.
  *  - [[dedupExactWithinWatermark]] keys state on a 128-bit content hash
  *    and bounds it with `dropDuplicatesWithinWatermark`: state holds only
  *    hashes younger than the watermark, so an unbounded stream cannot
  *    accumulate unbounded dedup state. The trade is explicit and mirrors
  *    every production dedup-at-ingest: a duplicate arriving farther apart
  *    than the watermark delay is NOT caught (the batch q35/q73 pass
  *    remains the periodic full-history sweep).
  */
object CorpusStream {

  /** Default thresholds are [[graft.operators.CorpusOps]]'s — the single
    * source shared with batch q73, so a doc passing the stream gate passes
    * the batch gate and vice versa (parity is spec-pinned). */
  val MinUniqRatio: Double = graft.operators.CorpusOps.MinUniqRatio
  val MaxDup2gramFrac: Double = graft.operators.CorpusOps.MaxDup2gramFrac

  /** Apply an event-time watermark unless the (streaming) frame already
    * carries one — stages compose (clean → dedupAgainstCorpus → …) inside
    * ONE query, and Spark disallows redefining a watermark mid-plan; the
    * upstream stage's horizon then governs the whole pipeline. Batch
    * frames pass through (watermarks are streaming-only). */
  private def watermarkedOnce(df: DataFrame, eventTimeCol: String,
      delay: String): DataFrame =
    if (!df.isStreaming) df
    else {
      import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
      val already = df.queryExecution.analyzed.collectFirst {
        case e: EventTimeWatermark => e
      }.isDefined
      if (already) df else df.withWatermark(eventTimeCol, delay)
    }

  private def dup2gramFrac(toks: Column): Column = {
    val g2 = call_function("word_shingles", toks, lit(2))
    when(size(g2) === 0, 0.0)
      .otherwise(lit(1.0) - size(array_distinct(g2)).cast("double") / size(g2))
  }

  /** Per-row quality gate over a streaming (or batch) DataFrame with a
    * `text` column: keeps rows with uniq_ratio ≥ [[MinUniqRatio]] and
    * dup-2-gram fraction ≤ [[MaxDup2gramFrac]], carrying both features in
    * the output for downstream routing/metrics. */
  def qualityGate(docs: DataFrame,
      minUniq: Double = MinUniqRatio,
      maxDup2: Double = MaxDup2gramFrac): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    docs
      .withColumn("uniq_ratio",
        size(array_distinct(toks)).cast("double") / size(toks))
      .withColumn("dup_2gram_frac", dup2gramFrac(toks))
      .filter(col("uniq_ratio") >= minUniq && col("dup_2gram_frac") <= maxDup2)
  }

  /** Exact-dedup on content hash with watermark-bounded state: the first
    * document bearing a given md5(lower(trim(text))) within the watermark
    * horizon passes; later copies are dropped. `eventTimeCol` must be the
    * stream's event-time column (the watermark is applied here if the
    * input does not already carry one). */
  def dedupExactWithinWatermark(docs: DataFrame, eventTimeCol: String,
      delay: String): DataFrame = {
    val keyed = watermarkedOnce(docs, eventTimeCol, delay)
      .withColumn("content_h", md5(lower(trim(col("text")))))
    // dropDuplicatesWithinWatermark throws on a batch frame — a backfill
    // caller gets plain dropDuplicates (whole input present, no horizon)
    val deduped =
      if (keyed.isStreaming) keyed.dropDuplicatesWithinWatermark("content_h")
      else keyed.dropDuplicates("content_h")
    deduped.drop("content_h")
  }

  /** The composed ingest-hygiene pipeline: quality gate → watermarked
    * exact dedup. Returns the cleaned stream with the quality features
    * attached. */
  def clean(docs: DataFrame, eventTimeCol: String, delay: String): DataFrame =
    dedupExactWithinWatermark(qualityGate(docs), eventTimeCol, delay)

  /** The corpus-side dedup index for [[dedupAgainstCorpus]]: the distinct
    * bag-of-words fingerprints of the existing corpus. In production this
    * is precomputed once per snapshot and kept as a parquet table (~16
    * bytes/doc — the 100 TB corpus's text is never rescanned per batch).
    * Fingerprint-only suffices for FILTERING: identical text implies an
    * identical fingerprint, so the fp probe subsumes an exact-hash probe
    * (batch q82 carries both keys because it REPORTS exact vs near
    * verdicts separately). */
  def corpusIndex(corpus: DataFrame): DataFrame =
    corpus.select(TextFunctions.fingerprint(col("text")).as("fp")).distinct()

  /** Ingestion-time incremental dedup — the streaming twin of batch q82
    * ([[graft.operators.CorpusOps.incrementalDedupFlags]]): drop arriving
    * documents whose bag-of-words fingerprint already exists in the static
    * corpus index, then dedup within the stream itself
    * (watermark-bounded state). The stream-static left-anti join is
    * re-planned per micro-batch, so replacing the index table between
    * batches (e.g. after a snapshot merge) takes effect on the next batch
    * without restarting the query; the index side broadcasts while it
    * fits and degrades to a shuffle join keyed on uniform md5 when it
    * does not — no skew by construction. The within-stream keeper is
    * fingerprint-level (q82's in-batch rule): the first arrival of a bag
    * of words within the watermark horizon passes, reorderings of it are
    * dropped. */
  def dedupAgainstCorpus(docs: DataFrame, index: DataFrame,
      eventTimeCol: String, delay: String): DataFrame = {
    val keyed = docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
    val fresh = watermarkedOnce(keyed, eventTimeCol, delay)
      .join(index.select("fp").distinct(), Seq("fp"), "left_anti")
    // dropDuplicatesWithinWatermark is streaming-ONLY (AnalysisException on
    // a batch frame) — a batch caller (backfill) gets plain dropDuplicates:
    // one surviving row per fingerprint, selection unspecified (a batch
    // pipeline that needs the min-id keeper RULE uses
    // CorpusOps.incrementalDedupFlags, the q82 form)
    val deduped =
      if (fresh.isStreaming) fresh.dropDuplicatesWithinWatermark("fp")
      else fresh.dropDuplicates("fp")
    deduped.drop("fp")
  }

  /** Ingestion-time cross-document SPAN dedup — the streaming twin of
    * batch q151 ([[graft.operators.SpanIndex.cleanAgainst]]): every
    * arriving document probes the corpus's k-shingle ownership index and
    * cuts the token positions covered by corpus-owned shingles, emitting
    * q151's exact output shape (id, n_tokens, n_removed, cleaned_text).
    *
    * Plan shape (the 100 TB contract): the doc explodes to its k-shingle
    * starts ONCE, a stream-static left join flags the indexed ones (the
    * index side re-plans per micro-batch, so a [[SpanIndex.extend]]
    * between waves takes effect on the next batch without a restart),
    * and ONE watermark-bounded append aggregation per doc collects the
    * hit starts and rebuilds the text with a per-row fold — no second
    * aggregation, and state (the doc's tokens + its hit starts) lives
    * only inside the watermark horizon.
    *
    * Semantics vs batch: identical to `cleanAgainst` for every shingle
    * the INDEX owns. The batch form's in-batch rule (a batch-only
    * shingle shared by two NEW docs cuts in all but the min-id doc) is
    * deliberately not replicated in-plan: "the same batch" is a
    * micro-batch here, whose boundaries are a scheduling artifact — the
    * verdict would depend on admission timing. The incremental pipeline
    * gets cross-doc ownership deterministically instead by extending the
    * index per wave: [[startSpanDedupStream]] does both and is
    * wave-for-wave row-identical to q151 (StreamingSpanDedupSpec pins
    * both operators against the batch form). */
  def spanDedupAgainstIndex(docs: DataFrame, index: DataFrame, idCol: String,
      eventTimeCol: String, delay: String, k: Int = 5): DataFrame = {
    val base = docs.filter(col("text").isNotNull)
      .select(col(idCol), col(eventTimeCol),
        TextFunctions.tokens(col("text")).as("_graft_toks"))
    // 1-based shingle starts; explode_outer keeps shingle-less short docs
    // (their single NULL shingle row can never match the index)
    val sh = base.select(col(idCol), col(eventTimeCol), col("_graft_toks"),
      posexplode_outer(
        call_function("word_shingles", col("_graft_toks"), lit(k)))
        .as(Seq("_graft_p0", "_graft_sh")))
    val flagged = sh.join(
      index.select(col("sh").as("_graft_sh"), lit(true).as("_graft_hit")),
      Seq("_graft_sh"), "left_outer")
    val watermarked = watermarkedOnce(flagged, eventTimeCol, delay)
    // collect_list skips the NULLs the when() leaves on non-hits — the
    // aggregate is exactly the doc's indexed shingle starts
    watermarked
      .groupBy(col(idCol), col(eventTimeCol), col("_graft_toks"))
      .agg(collect_list(when(col("_graft_hit"), col("_graft_p0") + 1))
        .as("_graft_starts"))
      .select(col(idCol),
        size(col("_graft_toks")).cast("long").as("n_tokens"),
        expr(
          s"""filter(transform(_graft_toks, (tok, i) ->
             |  struct(i + 1 AS tk, tok AS tok)),
             |  s -> NOT exists(_graft_starts,
             |    st -> st <= s.tk AND s.tk <= st + ${k - 1}))""".stripMargin)
          .as("_graft_kept"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("_graft_kept")).cast("long"))
          .as("n_removed"),
        concat_ws(" ", expr("transform(_graft_kept, s -> s.tok)"))
          .as("cleaned_text"))
  }

  /** The FULL incremental q151 pipeline on a stream: per micro-batch,
    * clean the wave against the CURRENT index (exact batch semantics,
    * including the in-batch min-id ownership rule — the micro-batch IS
    * the ingest wave), publish the cleaned wave, then extend the index
    * with the wave's novel shingles ([[SpanIndex]]'s two-wave batch
    * protocol driven by the stream scheduler; the
    * [[graft.operators.LakeAudit.startStream]] foreachBatch shape).
    * Wave-for-wave row-identical to batch q151 by construction — it runs
    * the same operator.
    *
    * Replay contract (at-least-once micro-batch delivery): output is
    * keyed by streaming batch id and skipped when its `_SUCCESS` marker
    * exists, so a replayed wave never re-cleans against an index that
    * already contains its own delta (which would over-cut the wave's
    * owner docs); the extend always runs — it is idempotent (the delta
    * anti-joins already-indexed shingles) and healing it unconditionally
    * covers a crash between the publish and the extend. */
  def startSpanDedupStream(docs: DataFrame, indexDir: String, outDir: String,
      checkpoint: String, idCol: String, k: Int = 5, buckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val target = new org.apache.hadoop.fs.Path(s"$outDir/batch=$id")
        val fs = target.getFileSystem(s.sparkContext.hadoopConfiguration)
        val wave = batch.persist() // cleaned + delta both scan the wave
        try {
          val published =
            new org.apache.hadoop.fs.Path(target, "_SUCCESS")
          if (!fs.exists(published))
            graft.operators.SpanIndex.cleanAgainst(
                graft.operators.SpanIndex.read(s, indexDir), wave, idCol, k)
              .write.mode("overwrite").parquet(target.toString)
          graft.operators.SpanIndex.extend(s, indexDir, wave, idCol, k,
            buckets)
        } finally { val _ = wave.unpersist() }
      }
      .start()

  /** Ingestion-time decontamination — the streaming twin of batch q77:
    * drop documents sharing any k-token shingle with a held-out benchmark
    * corpus BEFORE they land. The benchmark's distinct shingles are
    * collected once and inlined as a literal array, so the stream side is
    * a stateless per-row `arrays_overlap` — no stream-side state, no
    * shuffle, no per-batch join (the q51 broadcast-centroids contract:
    * the small side of the comparison rides the plan, the big side
    * streams). This is exactly how production decontamination ships its
    * n-gram blocklist to workers; the explicit contract is that the
    * BENCHMARK is driver-sized (test sets, not training sets) — a
    * blocklist beyond driver memory takes [[decontaminateLarge]], the
    * stream-static anti-join path with identical keeps (spec-pinned). */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      k: Int = 4): DataFrame = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    val benchShingles = benchmark
      .select(explode(call_function("word_shingles",
        TextFunctions.tokens(col("text")), lit(k))).as("sh"))
      .distinct().as[String].collect().toSeq
    if (benchShingles.isEmpty) docs
    else docs.filter(!arrays_overlap(
      call_function("word_shingles", TextFunctions.tokens(col("text")), lit(k)),
      typedLit(benchShingles)))
  }

  /** Large-blocklist decontamination — the distributed path the
    * [[decontaminate]] contract points to when the benchmark outgrows
    * driver memory. The blocklist never leaves the cluster: each document
    * explodes to its DISTINCT k-shingles, a stream-static LEFT OUTER join
    * flags the shingle rows present in the blocklist, and a doc is kept
    * iff no shingle row carries a flag (`max(hit) IS NULL`). Verdicts are
    * exact, not probabilistic — identical keeps to [[decontaminate]] on
    * any input (spec-pinned, including the NULL-text and shingle-less
    * edges: NULL-text docs drop on both paths; a doc too short to have a
    * k-shingle survives via `explode_outer`'s single NULL row, which no
    * blocklist entry can match).
    *
    * Scale shape: two shuffles per micro-batch — the flag join on the
    * shingle key (md5-flat text shingles; a boilerplate-heavy corpus skews
    * a few shingle keys, but anti-join state per key is just the blocklist
    * row, so skew costs network, not state) and the doc-level regroup. The
    * shingle explosion replicates doc columns ~|tokens| times within the
    * batch; micro-batch admission control bounds that amplification. Rows
    * must be unique (a unique doc id, as corpus rows carry) — full-row
    * duplicates would collapse in the regroup. On a streaming frame the
    * regroup is a watermarked append-mode aggregation: a doc emits after
    * the watermark passes its event time (the latency cost of not holding
    * the blocklist on the driver); batch frames regroup immediately. The
    * static blocklist side re-computes per micro-batch — persist() it for
    * long-running queries. */
  def decontaminateLarge(docs: DataFrame, benchmark: DataFrame,
      eventTimeCol: String, delay: String, k: Int = 4): DataFrame = {
    val docCols = docs.columns.toSeq
    def shingles(c: Column) = array_distinct(
      call_function("word_shingles", TextFunctions.tokens(c), lit(k)))
    val block = benchmark
      .select(explode(shingles(col("text"))).as("_graft_sh"))
      .distinct()
      .withColumn("_graft_hit", lit(true))
    // the tokenize+shingle kernel runs ONCE per doc (the explode
    // generator's input); a doc is kept iff NO exploded shingle finds a
    // blocklist hit. NULL-text docs are dropped explicitly — the literal
    // path's `arrays_overlap(NULL, …)` filter does the same implicitly
    // (parity spec-pinned); shingle-less short docs survive via
    // explode_outer's single NULL row, which no blocklist entry matches.
    val exploded = docs
      .filter(col("text").isNotNull)
      .select(col("*"), explode_outer(shingles(col("text"))).as("_graft_sh"))
    val flagged = exploded.join(block, Seq("_graft_sh"), "left_outer")
    val watermarked = watermarkedOnce(flagged, eventTimeCol, delay)
    watermarked
      .groupBy(docCols.map(col): _*)
      .agg(max(col("_graft_hit")).as("_graft_dirty"))
      .filter(col("_graft_dirty").isNull)
      .select(docCols.map(col): _*)
  }

  /** Bloom-filter decontamination — the third point on the blocklist-size
    * spectrum: [[decontaminate]] inlines a driver-sized blocklist as a
    * literal; [[decontaminateLarge]] keeps an arbitrarily large blocklist
    * distributed at the cost of a per-batch shuffle + watermark latency;
    * this one compresses the blocklist into a broadcast Bloom filter
    * (~14 bits/shingle at the default 0.1% FPP — a billion-shingle
    * blocklist rides in ~1.8 GB of executor memory) and keeps the stream
    * side a STATELESS per-row probe: no shuffle, no state store, no
    * emission delay, at any blocklist size.
    *
    * The trade is explicit and one-sided: the filter has NO false
    * negatives — every truly contaminated doc is dropped, always — but a
    * false-positive shingle can drop a clean doc with probability
    * ≈ |shingles|·fpp (conservative over-dropping, the cheap direction
    * for decontamination). Keeps are therefore a SUBSET of the exact
    * paths' keeps (spec-pinned). The sketch is deterministic for a given
    * blocklist and parameters (bit-OR construction, order-free), so runs
    * reproduce. The probe is a Scala UDF over the broadcast sketch —
    * `mightContainString` has no Column-function equivalent; same
    * exception as the multimodal codecs. */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame,
      k: Int = 4, fpp: Double = 0.001): DataFrame = {
    def shingles(c: Column) = call_function("word_shingles",
      TextFunctions.tokens(c), lit(k))
    // TWO actions read this frame (the sizing count, then the bloom
    // aggregate) — persist so the tokenize→shingle→distinct shuffle over
    // the blocklist corpus runs once, not twice
    val bench = benchmark.select(explode(shingles(col("text"))).as("sh"))
      .distinct().persist()
    val bloom =
      try bench.stat.bloomFilter("sh", math.max(1L, bench.count()), fpp)
      finally bench.unpersist()
    val bloomBc = docs.sparkSession.sparkContext.broadcast(bloom)
    val dirty = udf((shs: Seq[String]) =>
      shs != null && shs.exists(bloomBc.value.mightContainString))
    docs.filter(col("text").isNotNull && !dirty(shingles(col("text"))))
  }

  /** Tokenize-at-ingest: subword-encode each arriving document with a
    * TRAINED vocabulary, so the lake lands already tokenized (the loader
    * reads token counts and packs sequences without a second full-corpus
    * pass — at 100 TB, re-tokenizing the history per training run is the
    * single largest avoidable cost in the pipeline).
    *
    * Both supported families ([[graft.plans.WordPiece]] greedy
    * longest-match, [[graft.plans.Unigram]] Viterbi max-probability) are
    * native per-row kernels with the vocabulary shipped as a plan literal
    * and indexed once per plan — the stage is STATELESS column math: no
    * state store, no watermark requirement, no shuffle, identical
    * semantics on a batch frame (parity with the q148/q149 per-word
    * kernels is spec-pinned). Batch pipelines with a large corpus should
    * prefer the q148/q100 dictionary-join shape (encode work sized by
    * DISTINCT words); at ingest the per-row kernel wins because a
    * micro-batch's distinct-word dictionary is no smaller than its token
    * stream, and statelessness keeps the stage composable after
    * [[clean]]/[[decontaminateBloom]] inside one query.
    *
    * Emits `pieces` (the full subword stream), `n_pieces` and `n_unk`
    * ("[UNK]" for WordPiece; unigram vocabularies here always cover by
    * single-character fallback, so its n_unk counts unreachable words). */
  private def tokenizeWith(docs: DataFrame, encodeFn: String,
      vocabLit: Column, textCol: String): DataFrame =
    docs
      .withColumn("pieces",
        flatten(transform(TextFunctions.tokens(col(textCol)),
          t => call_function(encodeFn, t, vocabLit))))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
      .withColumn("n_unk",
        size(filter(col("pieces"), p => p === "[UNK]")).cast("long"))

  /** WordPiece greedy longest-match at ingest (vocab = plain pieces,
    * `##`-prefixed continuations — the q148 vocabulary shape). */
  def tokenizeWordPiece(docs: DataFrame, vocab: Seq[String],
      textCol: String = "text"): DataFrame =
    tokenizeWith(docs, "wordpiece_encode", array(vocab.map(lit): _*), textCol)

  /** Unigram-LM Viterbi segmentation at ingest (model = a trained
    * [[graft.operators.UnigramLm.Vocab]], q149's kernel). */
  def tokenizeUnigram(docs: DataFrame, model: graft.operators.UnigramLm.Vocab,
      textCol: String = "text"): DataFrame =
    tokenizeWith(docs, "unigram_encode", model.lit, textCol)

  /** Blocklist screening at ingest — the q172 Aho–Corasick kernel as a
    * STATELESS stream stage (per-row column expressions, no watermark, no
    * state; composes anywhere in the clean/dedup chain): drops documents
    * matching ≥ `maxDistinct` distinct blocklist entries or ≥ `maxTotal`
    * total occurrences, and annotates survivors with both counts. The
    * substring-level complement to [[decontaminate]]'s shingle blocklist —
    * cross-token phrases ("how to build a …") match here; the pattern
    * list rides the plan as a literal, ONE text pass per statistic
    * regardless of list size (the ScaleBench `blocklist` P-sweep). */
  def screenBlocklist(docs: DataFrame, patterns: Seq[String],
      maxDistinct: Int = 2, maxTotal: Int = 8,
      textCol: String = "text"): DataFrame = {
    // the text is lowercased before matching, so a mixed-case blocklist
    // entry passed through verbatim could never fire — lowercase both.
    // Locale.ROOT: Spark's lower() is locale-independent, so the pattern
    // fold must be too (a Turkish default locale folds 'I' to dotless
    // 'ı' and the pattern could never match)
    val pats = array(patterns.map(p =>
      lit(p.toLowerCase(java.util.Locale.ROOT))): _*)
    val t = lower(col(textCol))
    docs
      .withColumn("bl_hits", call_function("ac_distinct_hits", t, pats))
      .withColumn("bl_occ", call_function("ac_count_all", t, pats))
      .filter(col("bl_hits") < maxDistinct && col("bl_occ") < maxTotal)
  }
}
