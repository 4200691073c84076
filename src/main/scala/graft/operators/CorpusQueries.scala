package graft.operators

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators for a training-data pipeline (SURVEY §2B
  * training-data extensions): within-document repetition signals, cross-
  * document duplicated-span detection, and the composite cleaning pipeline
  * that chains quality gates → exact dedup → per-domain caps the way a
  * 100 TB pretraining-corpus build does.
  *
  * Every query here is fully deterministic (integer counts, md5-derived
  * ranks, exact rational fractions) and carries a DuckDB oracle — no
  * probabilistic signatures, so unlike MinHash/SimHash none of these are
  * ⚙ engine-only.
  */
object CorpusQueries extends QueryGroup {

  /** Q71: within-document repetition signals (Gopher-style quality rules).
    * The corpus has no line structure (single-line synthetic docs), so the
    * signals are n-gram based: duplicate-2-gram / duplicate-3-gram
    * fractions (share of n-gram OCCURRENCES that are repeats of an earlier
    * one) and the fraction of 2-gram occurrences claimed by the single most
    * frequent 2-gram. High values flag boilerplate and degenerate
    * repetition that survives exact dedup.
    *
    * Shape: pure per-row column math — no shuffle at all; the whole query
    * is one scan + project + sort, so it scales linearly with the corpus.
    * The top-2-gram multiplicity uses a quadratic-in-document-length HOF
    * (`transform(distinct, g -> count of g)`); documents are bounded (a
    * 100 TB corpus is wide, not long-per-doc), so per-row cost is bounded.
    */
  private val q71: Q = (s, d) =>
    CorpusOps.repetitionSignals(Tables.documents(s, d))
      .select("doc_id", "n_2grams", "dup_2gram_frac", "dup_3gram_frac",
        "top_2gram_frac")
      .orderBy("doc_id")

  /** Q72: cross-document duplicated-span detection — the exact-substring
    * complement to q37's bag-of-tokens Jaccard (after Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better": duplicated
    * ≥k-token spans are memorization fuel even when whole-document
    * similarity is low). A position is "covered" when the 5-token shingle
    * starting there also occurs in ANOTHER document; overlapping/adjacent
    * covered windows merge (gaps-and-islands) into maximal spans.
    *
    * Emits one row per document that has at least one duplicated span:
    * span count, tokens covered, and covered fraction.
    *
    * Shape: one shuffle to count distinct docs per shingle (partial aggs
    * push map-side), one shuffle join back on the shingle to mark covered
    * positions (AQE broadcasts the duplicated-shingle side when small), one
    * doc-keyed window for the island merge. Nothing quadratic: cost is
    * linear in corpus size + duplicated-position volume. At deployment
    * scale the shingle join key would be xxhash64(shingle); the declared
    * query keeps the string so the oracle is engine-independent.
    */
  private val q72: Q = (s, d) =>
    CorpusOps.duplicatedSpans(Tables.documents(s, d), "doc_id")
      .orderBy("doc_id")

  /** Q73: composite corpus-cleaning pipeline — the end-to-end shape of a
    * pretraining-data build, chaining three stages over one scan:
    *
    *  1. quality gate: uniq_ratio ≥ 0.35 AND dup_2gram_frac ≤ 0.10 (the
    *     q45/q71 signals as filters);
    *  2. exact-dedup keeper: one doc per md5(lower(trim(text))) group, the
    *     min doc_id (q35's hash, applied as a filter);
    *  3. per-domain cap: at most 15 docs per source, chosen by md5-of-id
    *     rank — deterministic, engine-independent, and rerunnable anywhere
    *     (q58's sampling contract), the way web corpora cap hot domains.
    *
    * Each stage's surviving row count is surfaced with `observe` so a run
    * can see WHERE documents died without extra actions.
    *
    * Shape: stage 1 is per-row math on the scan; stage 2 is one window on
    * the content hash; stage 3 is one window on source. Two shuffles total
    * on top of the scan, no joins, nothing quadratic.
    *
    * Scale caveat (shared with q75): the per-source rank window puts one
    * domain's surviving docs in one partition — fine for web-shaped domain
    * distributions, skewed for a mega-domain holding a double-digit share
    * of the corpus. The escalation keeps the same semantics in two phases:
    * bucket-count md5-rank prefixes per source (a groupBy, fully
    * parallel), derive each source's cut-off bucket, then rank only within
    * the boundary bucket. Not implemented here because the cap (15) makes
    * the window's state trivial at any plausible skew; [[SkewTools]] holds
    * the generic salted machinery if a deployment hits it.
    */
  private val q73: Q = (s, d) => {
    val toks = TextFunctions.tokens(col("text"))
    val g2 = call_function("word_shingles", toks, lit(2))
    val quality = Tables.documents(s, d).select(
      col("doc_id"), col("source"), col("text"),
      (size(array_distinct(toks)).cast("double") / size(toks))
        .as("uniq_ratio"),
      when(size(g2) === 0, 0.0)
        .otherwise(lit(1.0) - size(array_distinct(g2)).cast("double") / size(g2))
        .as("dup_2gram_frac"))
      .filter(col("uniq_ratio") >= CorpusOps.MinUniqRatio &&
        col("dup_2gram_frac") <= CorpusOps.MaxDup2gramFrac)
      .observe("corpus_stage_quality", count(lit(1)).as("kept"))
    val hashW = Window.partitionBy(md5(lower(trim(col("text")))))
    val deduped = quality
      .withColumn("keeper", min(col("doc_id")).over(hashW))
      .filter(col("doc_id") === col("keeper"))
      .observe("corpus_stage_dedup", count(lit(1)).as("kept"))
    val capW = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    deduped
      .withColumn("rk", row_number().over(capW).cast("long"))
      .filter(col("rk") <= 15)
      .observe("corpus_stage_cap", count(lit(1)).as("kept"))
      .select("doc_id", "source", "uniq_ratio", "dup_2gram_frac", "rk")
      .orderBy("doc_id")
  }

  /** Q75: per-domain TOKEN-budget sampling — the "take ~N tokens per
    * source" mix-building step of a pretraining run (docs-per-domain caps
    * like q73's treat a 50-token and a 500-token doc as equal; budgets in
    * tokens do not). Docs are ranked inside each source by md5-of-id (the
    * q58/q73 deterministic-sampling contract) and greedily taken while the
    * tokens accumulated BEFORE a doc stay under the budget, so every run
    * anywhere reproduces the same mix and each non-empty source yields at
    * least one document.
    *
    * Shape: one window over source (rank + running sum), one filter — a
    * single shuffle; budget arithmetic is exact BIGINT. Same mega-domain
    * window-skew caveat as q73 (see its doc); the two-phase escalation for
    * a running SUM is per-bucket subtotal cumsum (bucket by md5-rank
    * prefix, cumsum bucket subtotals on the driver-sized bucket list,
    * then offset within buckets) — deterministic and identical to this
    * single-window form.
    */
  private val q75: Q = (s, d) =>
    CorpusOps.tokenBudgetSample(Tables.documents(s, d), "doc_id", "source", 800L)
      .select("doc_id", "source", "n_tokens", "cum_before")
      .orderBy("doc_id")

  /** Q76: rarest-term extraction — for each document, the token with the
    * lowest document frequency (ties to the lexicographically first
    * token). The rare tail is what distinguishes a doc from the corpus;
    * df is also the exact input the PPJoin prefix filter orders by, so
    * this doubles as an audit view of that ordering.
    *
    * Shape: distinct (doc, token) pairs → df aggregation (one shuffle,
    * map-side partial) → shuffle join back on token → per-doc min via one
    * ordered window. No step is quadratic; the df table is
    * vocabulary-sized and never broadcast by construction (AQE may choose
    * to when it truly is small).
    */
  private val q76: Q = (s, d) => {
    val pairs = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextFunctions.tokenSet(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val df = pairs.groupBy("tok")
      .agg(count_distinct(col("doc_id")).as("df_docs"))
    val w = Window.partitionBy("doc_id").orderBy("df_docs", "tok")
    pairs.join(df, "tok")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("tok").as("rare_tok"), col("df_docs"))
      .orderBy("doc_id")
  }

  /** Q77: benchmark-contamination detection — the decontamination step of
    * a pretraining build: training documents sharing any 4-token shingle
    * with a held-out benchmark corpus are flagged with their hit count and
    * contaminated-shingle fraction. Here the `src0` slice of `documents`
    * stands in for the benchmark and the remaining sources for the
    * training corpus (the operator is a two-corpus join; the fixture
    * derives both sides from one table).
    *
    * Unlike q72 (any cross-document duplication, span-merged), this is
    * DIRECTIONAL (corpus→benchmark only; benchmark-internal duplication is
    * irrelevant) and reports per-position hits, the quantity a removal
    * threshold is applied to.
    *
    * Shape: benchmark shingles are distinct-reduced first (one shuffle on
    * a corpus that is SMALL by definition — test sets, not training sets),
    * then one join against corpus shingles: AQE broadcasts the benchmark
    * side, so the training corpus is never reshuffled; the per-doc count
    * is a partial-agg groupBy. Linear in corpus size at any scale.
    */
  private val q77: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    CorpusOps.contamination(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), "doc_id")
      .orderBy("doc_id")
  }

  /** Q78: per-source corpus quality report — the dashboard view a corpus
    * build is steered by: document/token volumes, pooled uniqueness and
    * repetition ratios, and the share of documents failing the q73 quality
    * gate, per source.
    *
    * Determinism note: these are POOLED ratios (Σ numerator / Σ
    * denominator over exact BIGINT counts, divided once as double), not
    * averages of per-doc doubles — a cross-engine sum of doubles is
    * order-dependent and would never hash-match (see
    * [[graft.operators.dsum]]'s contract).
    *
    * Shape: per-row integer features on the scan, one partial-aggregated
    * groupBy on source. One shuffle. The pooled denominators are guarded
    * (ANSI mode: x/0 throws) — a source whose documents are all empty /
    * <2 tokens reports 0.0, mirrored by CASE in the oracle.
    */
  private val q78: Q = (s, d) => {
    val toks = TextFunctions.tokens(col("text"))
    val g2 = call_function("word_shingles", toks, lit(2))
    val feat = Tables.documents(s, d).select(
      col("source"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      size(g2).cast("long").as("n_2grams"),
      size(array_distinct(g2)).cast("long").as("n_2grams_distinct"),
      (size(array_distinct(toks)).cast("double") / size(toks) <
          CorpusOps.MinUniqRatio ||
        (size(g2) > 0 &&
          lit(1.0) - size(array_distinct(g2)).cast("double") / size(g2) >
            CorpusOps.MaxDup2gramFrac))
        .cast("long").as("fails_gate"))
    feat.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        when(sum(col("n_tokens")) === 0, 0.0)
          .otherwise(sum(col("n_distinct")).cast("double") /
            sum(col("n_tokens")))
          .as("pooled_uniq_ratio"),
        when(sum(col("n_2grams")) === 0, 0.0)
          .otherwise(lit(1.0) - sum(col("n_2grams_distinct")).cast("double") /
            sum(col("n_2grams"))).as("pooled_dup_2gram_frac"),
        (sum(col("fails_gate")).cast("double") / count(lit(1)))
          .as("gate_fail_share"))
      .orderBy("source")
  }

  /** Q80: quality-weighted deterministic sampling — keep each document
    * with probability equal to its quality weight (here the uniqueness
    * ratio), the resampling move of quality-curated corpus builds: instead
    * of a hard gate, high-quality docs survive more often, and the SAME
    * docs survive on every run anywhere because the "randomness" is
    * md5(doc_id) mapped to a uniform in [0,1) (the q58 hash-sampling
    * contract extended from a fixed threshold to a per-row one).
    *
    * Determinism: u = first 8 md5 hex digits as an integer divided by
    * 2³², exact in both engines (division by a power of two); the weight
    * is an exact integer ratio; `u < w` therefore agrees bit-for-bit.
    * Shape: per-row math + filter on the scan, no shuffle.
    */
  private val q80: Q = (s, d) => {
    val toks = TextFunctions.tokens(col("text"))
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0))
    Tables.documents(s, d).select(
      col("doc_id"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("w"),
      u.as("u"))
      .filter(col("u") < col("w"))
      .orderBy("doc_id")
  }

  /** Q81: regex scrubbing (the PII-redaction shape) — replace every match
    * of an ordered rule list and report per-rule match counts, via
    * [[CorpusOps.redact]]. The driver corpus contains no digits, so the
    * DECLARED rules target corpus terms (`customer` → `[NAME]`, `spark` →
    * `[ORG]`) to make the oracle non-vacuous; the standard email/phone/IPv4
    * rule set ([[CorpusOps.PiiRules]]) is pinned on constructed fixtures in
    * PiiRedactSpec. Rule patterns stay inside the Java-regex ∩ RE2
    * intersection, so Spark and DuckDB agree match-for-match.
    * Shape: map-only on the scan, no shuffle at any scale. */
  private val q81: Q = (s, d) => {
    val rules = Seq(
      ("name", "\\bcustomer\\b", "[NAME]"),
      ("org", "\\bspark\\b", "[ORG]"))
    CorpusOps.redact(Tables.documents(s, d).select("doc_id", "text"), rules)
      .select("doc_id", "redacted", "n_name", "n_org")
      .orderBy("doc_id")
  }

  /** Q83: quality-decile binning via [[CorpusOps.decileBin]] — every doc
    * ranked by uniqueness ratio (ties by doc_id: total order) and assigned
    * `decile = 1 + (10·(rank−1)) div n`, integer math both engines compute
    * identically (no percentile-boundary double comparison to flip on an
    * ulp). The curriculum / data-mixing primitive: downstream samplers mix
    * per-decile. [[CorpusOps.decileBinDistributed]] is the spec-pinned
    * 100 TB twin (range-partitioned sort + per-partition offsets — no
    * single-task window); q83 binds the window form — at driver fixture
    * sizes (≤ 5000 rows) the distributed twin's RDD hop pays an encoder
    * round-trip and an extra count job for parallelism nothing here
    * needs. */
  private val q83: Q = (s, d) => {
    val toks = TextFunctions.tokens(col("text"))
    CorpusOps.decileBin(
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("q")),
      col("q"), "doc_id")
      .select("doc_id", "n_tokens", "w", "decile")
      .orderBy("doc_id")
  }

  /** Q240: the 100 TB decile path ITSELF under the DuckDB gate — q83's
    * exact semantics bound to [[CorpusOps.decileBinDistributed]] (range-
    * partitioned sort + per-partition rank offsets, no single-task
    * WindowExec anywhere in the executed plan). The spec pins the two
    * forms row-identical; this query makes the driver's oracle attest the
    * SCALE form directly, not just its window-form twin. */
  private val q240: Q = (s, d) => {
    val toks = TextFunctions.tokens(col("text"))
    CorpusOps.decileBinDistributed(
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("q")),
      col("q"), "doc_id")
      .select("doc_id", "n_tokens", "w", "decile")
      .orderBy("doc_id")
  }

  /** Q91: token-budget shard packing — [[CorpusOps.packShards]] over the
    * documents table at a 400-token budget: deterministic md5-shuffled
    * order, per-source shards, shard = the budget bucket the doc's running
    * start offset falls in. */
  private val q91: Q = (s, d) =>
    CorpusOps.packShards(Tables.documents(s, d), "doc_id", 400L)
      .orderBy("doc_id")

  /** Q92: context-window chunking — [[CorpusOps.chunkWindows]] at
    * window=30/stride=20 (the fixture's ~50-token docs produce 2 chunks,
    * exercising both the overlap and the short tail). */
  private val q92: Q = (s, d) =>
    CorpusOps.chunkWindows(Tables.documents(s, d), "doc_id", 30, 20)
      .orderBy("doc_id", "chunk_idx")

  /** Q97: T5-style span corruption — [[CorpusOps.spanCorruption]] at a
    * 1/10 token mask rate: deterministic md5 position selection, adjacent
    * masks merge into numbered-sentinel spans, (input, target) pair per
    * doc. */
  private val q97: Q = (s, d) =>
    CorpusOps.spanCorruption(Tables.documents(s, d), "doc_id", 10)
      .orderBy("doc_id")

  /** Q106: deterministic stratified train/val/test split — every doc lands
    * in train/val/test at 80/10/10 by a content-stable hash of doc_id (the
    * q58/q80 hash-sampling contract: u = first-8-md5-hex / 2³², exact in
    * both engines because the divisor is a power of two), and the report is
    * what a leakage audit reads: per (lang, source) stratum and split, the
    * doc/token counts, the within-stratum fraction, and an exact BIGINT
    * membership checksum (Σ doc_id) that pins WHICH docs landed where, not
    * just how many. Keying the hash on doc_id alone makes assignments
    * stable under corpus growth — a doc never migrates between splits when
    * other docs arrive, the invariant that keeps a held-out set clean
    * across snapshots (contrast position- or sample()-based splits, which
    * reshuffle membership every ingest).
    *
    * Shape: per-row hash + one partial-agg groupBy (lang, source, split);
    * the stratum-total window runs over the AGGREGATED frame (≤3 rows per
    * stratum), never the corpus — no scale hazard at any corpus size. */
  private val q106: Q = (s, d) => {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0))
    val toks = TextFunctions.tokens(col("text"))
    val w = Window.partitionBy("lang", "source")
    Tables.documents(s, d).select(
        col("lang"), col("source"), col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
          .as("split"))
      .groupBy("lang", "source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        sum(col("doc_id")).as("sum_doc_id"))
      .withColumn("stratum_frac",
        col("n_docs").cast("double") / sum(col("n_docs")).over(w))
      .orderBy("lang", "source", "split")
  }

  /** Q109: duplicated-span removal — [[CorpusOps.removeDuplicatedSpans]]
    * over the documents table at k = 5, the REWRITE companion to q72's
    * detection: non-owner occurrences of cross-doc repeated 5-token spans
    * are cut and the text rebuilt, owners (min doc_id) keep theirs. */
  private val q109: Q = (s, d) =>
    CorpusOps.removeDuplicatedSpans(Tables.documents(s, d), "doc_id")
      .orderBy("doc_id")

  /** Q110: DSIR-style importance resampling —
    * [[CorpusOps.importanceWeights]] with the `lang = 'en'` slice as the
    * target domain, B = 64 hash buckets, top-50 selection. The published
    * data-selection recipe (Xie et al. 2023): documents whose hashed
    * unigram+bigram stream is more likely under the target model than
    * under the raw-corpus model float to the top; a real pretraining mix
    * keeps the top slice. Every arithmetic step is in the determinism
    * contract (md5 bucket hash, BIGINT count products with ONE double
    * division per bucket, position-ordered sequential product fold), so
    * DuckDB recomputes model fitting AND weighting end-to-end. Selection
    * is `orderBy(weight desc, id) limit 50` — TakeOrderedAndProject,
    * never a global sort. */
  private val q110: Q = (s, d) =>
    CorpusOps.importanceWeights(Tables.documents(s, d), "doc_id",
        col("lang") === "en", 64)
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(50)

  /** Q115: Gopher quality rules — [[CorpusOps.gopherFlags]] with the
    * published thresholds (Rae et al. table A1); the driver corpus's
    * ~50-token docs sit right at the 50-word minimum, so the word-count
    * rule is non-vacuous in both directions. All-integer rule math; see
    * the operator scaladoc. */
  private val q115: Q = (s, d) =>
    CorpusOps.gopherFlags(Tables.documents(s, d), "doc_id")
      .orderBy("doc_id")

  /** Q116: within-doc repetition collapse — [[CorpusOps.collapseRepeats]]
    * over the documents table; the rewrite q71 only measures. */
  private val q116: Q = (s, d) =>
    CorpusOps.collapseRepeats(Tables.documents(s, d), "doc_id")
      .orderBy("doc_id")

  // one scored-classifier parquet per (session, sfDir) — the q126 model
  // refit + whole-corpus scoring is the derivation NINE declared queries
  // share (q126/q179/q188/q208/q209/q214/q225/q228/q229: selection,
  // calibration, confusion, AUC, operating point, conformal, gains,
  // isotonic, McNemar), previously re-trained and re-scored per query.
  // Resolved ONCE per (session, testdata dir) and materialized to a
  // session-scoped temp parquet they all scan: a cache cannot span
  // independent declared queries (each query's first action releases
  // what its composition owns), so the memo is a derived TABLE. That is
  // also the production shape: at 100 TB the
  // scored corpus IS the stored artifact of the quality-filter stage —
  // trained and scored once, consumed by every eval/calibration/selection
  // readout, never refit per report. Rows are identical to a fresh
  // scoring (deterministic pipeline: exact BIGINT association weights,
  // md5 train split — the consumers' DuckDB oracles recompute end-to-end
  // from raw documents and still hash-match; ClassifierSpec pins the
  // operator itself).
  private val clsScoresMemo = new SessionMemo[String]

  private[operators] def classifierScoresMemo(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(clsScoresMemo(s, d) {
      val p = TempDirs.scoped("graft-classifier-scores")
      CorpusOps.classifierScores(Tables.documents(s, d), "doc_id",
          col("lang") === "en", 4096)
        .write.mode("overwrite").parquet(p)
      p
    })

  /** Q126: classifier-based quality filtering —
    * [[CorpusOps.classifierScores]] with the `lang = 'en'` slice as the
    * positive (curated) class and B = 4096 hash buckets: the GPT-3-style
    * "train a classifier against a curated corpus, keep high-margin
    * documents" selection step, with training, inference and the
    * train/holdout split all inside the determinism contract (exact
    * BIGINT association-score weights — no transcendental log — and the
    * q106 md5 split), so DuckDB refits the model and rescores every
    * document end-to-end. Selection = `predicted`/`margin`; downstream a
    * mix builder thresholds or importance-samples on the margin (q80's
    * weighted sampler composes directly). Reads the shared
    * [[classifierScoresMemo]] (scored once per session, the nine-consumer
    * note there). */
  private val q126: Q = (s, d) =>
    classifierScoresMemo(s, d)
      .orderBy("doc_id")

  /** Q118: sequence packing — [[CorpusOps.packSequences]] at a 128-token
    * example length (the fixture's ~50-token docs span boundaries, so the
    * multi-doc-per-example AND multi-example-per-doc cases both occur). */
  private val q118: Q = (s, d) =>
    CorpusOps.packSequences(Tables.documents(s, d), "doc_id", 128L)
      .orderBy("source", "ex", "doc_id")

  /** Q136: temperature-weighted source mixing — the mT5/XLM-R balancing
    * move: per-source sampling budgets ∝ n_s^α with α = 1/2, upweighting
    * low-resource sources against the head (α = 1 reproduces natural
    * proportions, α → 0 uniform). Deterministic BECAUSE α = 1/2: `sqrt`
    * is correctly rounded under IEEE-754 — the only transcendental-free
    * power — so per-source weights are bit-identical cross-engine where
    * a general pow() would not be. The weight normalizer is a
    * source-ordered sequential fold (the q111 convention; never an
    * unordered double sum); budgets are floor(share · ⌊N/2⌋); actual
    * selection is the q75 md5-rank machinery, witnessed per source by an
    * additive Σ doc_id checksum (the q106 move).
    *
    * Scale shape: one count aggregation, a broadcast totals row, one
    * source-partitioned rank window over (doc_id, source) only. */
  private val q136: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(
      sum(col("n_docs")).as("n_total"),
      aggregate(array_sort(collect_list(struct(col("source"),
          sqrt(col("n_docs").cast("double")).as("w")))),
        lit(0.0), (a, x) => a + x.getField("w")).as("w_total"))
    val budgets = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        sqrt(col("n_docs").cast("double")).as("weight"),
        floor((sqrt(col("n_docs").cast("double")) / col("w_total")) *
          expr("cast(n_total div 2 as double)")).cast("long").as("budget"))
      .withColumn("kept", least(col("n_docs"), col("budget")))
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val sel = docs.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
      .join(budgets.select("source", "kept"), "source")
      .filter(col("rk") <= col("kept"))
    val sums = sel.groupBy("source").agg(sum(col("doc_id")).as("sel_checksum"))
    budgets.join(sums, Seq("source"), "left")
      .withColumn("sel_checksum", coalesce(col("sel_checksum"), lit(0L)))
      .orderBy("source")
  }

  /** Q221: Neyman-optimal eval-set allocation [Neyman 1934] — the survey-
    * sampling answer to "how many eval documents per source" that q136's
    * temperature mixing does not give: a fixed budget (1000 draws) split
    * ∝ N_h·σ_h, so high-variance strata get proportionally MORE probes
    * and the stratified estimator's variance is minimized at that
    * budget. Strata = source, target metric = per-doc token count. The
    * determinism ladder: within-stratum population variance stays an
    * EXACT rational (var_num = n·Σx² − (Σx)², den = n²) until σ =
    * sqrt(ONE division) — division and sqrt are both correctly rounded
    * under IEEE-754, so σ is bit-identical cross-engine (the q136 α=1/2
    * argument); the weight normalizer is a source-ordered sequential
    * fold (never an unordered double sum); allocations are
    * floor((w/w_total)·1000) capped at N_h; the actual draw is the q75
    * md5-rank machinery witnessed by an additive Σ doc_id checksum.
    * Shape: one grouped moment pass (partials collapse map-side), a
    * broadcast totals row, one source-partitioned rank window. */
  private val q221: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val st = docs
      .select(col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val withW = st
      .withColumn("var_num",
        col("n_docs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("sigma",
        sqrt(col("var_num").cast("double") /
          (col("n_docs") * col("n_docs")).cast("double")))
      .withColumn("weight", col("n_docs").cast("double") * col("sigma"))
    val tot = withW.agg(
      aggregate(array_sort(collect_list(struct(col("source"),
          col("weight").as("w")))),
        lit(0.0), (a, x) => a + x.getField("w")).as("w_total"))
    val budgets = withW.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("sx"), col("var_num"),
        col("sigma"), col("weight"),
        floor(col("weight") / col("w_total") * lit(1000.0))
          .cast("long").as("alloc"))
      .withColumn("kept", least(col("alloc"), col("n_docs")))
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val sel = docs.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
      .join(budgets.select("source", "kept"), "source")
      .filter(col("rk") <= col("kept"))
    val sums = sel.groupBy("source")
      .agg(sum(col("doc_id")).as("sel_checksum"))
    budgets.join(sums, Seq("source"), "left")
      .withColumn("sel_checksum", coalesce(col("sel_checksum"), lit(0L)))
      .orderBy("source")
  }

  /** Q138: k-anonymity audit with one-level generalization — the
    * data-governance check run before releasing or training on
    * user-adjacent tables (q81 scrubs direct identifiers; THIS measures
    * re-identification risk from quasi-identifier combinations
    * [Sweeney 2002]). Every equivalence class over the QI tuple
    * (segment, nation) gets its size and a k = 10 verdict; classes that
    * fail are re-checked one level up the generalization hierarchy
    * (nation → region, the Samarati lattice step) — the standard
    * mitigation ladder: release at level 0, generalize to level 1,
    * suppress only what still fails. All-integer; two grouped counts at
    * QI granularity plus a broadcast hierarchy join — equivalence
    * classes are the only shuffled rows at any table size. */
  private val q138: Q = (s, d) => {
    val k = 10L
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long").as("nation"),
        col("n_regionkey").cast("long").as("region"))
    val rows = Tables.customer(s, d)
      .select(col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nation"))
      .join(broadcast(nat), "nation")
    val lvl0 = rows.groupBy("segment", "nation")
      .agg(count(lit(1)).as("class_size"))
    val lvl1 = rows.groupBy("segment", "region")
      .agg(count(lit(1)).as("gen_size"))
    lvl0.join(broadcast(nat), "nation")
      .join(lvl1, Seq("segment", "region"))
      .select(col("segment"), col("nation"), col("region"),
        col("class_size"), (col("class_size") >= k).as("anonymous"),
        col("gen_size"), (col("gen_size") >= k).as("anonymous_generalized"))
      .orderBy("segment", "nation")
  }

  /** Q146: l-diversity audit — the [Machanavajjhala et al. ICDE'06]
    * refinement of q138's k-anonymity: a class can be large (k-anonymous)
    * yet leak its sensitive attribute when every member SHARES it (the
    * homogeneity attack). Per equivalence class over the QI tuple
    * (nation, $1000 account-balance band): class size, the number of
    * DISTINCT sensitive values (market segment), the l = 3 verdict, and
    * the single most common sensitive value's count (the integer readout
    * behind recursive (c,l)-diversity — no division enters the result).
    *
    * Balance bands shift cents by +$1000 before the integer div so the
    * dividend is non-negative: Spark `div` truncates toward zero while
    * DuckDB `//` floors, and they only agree on non-negative operands.
    *
    * Shape: two grouped counts, the second over (classes × sensitive
    * values) — bounded by the QI/sensitive domain, never by table size;
    * partial aggregation absorbs the row volume map-side at any scale. */
  private val q146: Q = (s, d) => {
    val l = 3L
    val rows = Tables.customer(s, d).select(
      col("c_nationkey").cast("long").as("nation"),
      expr("(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
        " + 100000) div 100000").as("bal_band"),
      col("c_mktsegment").as("segment"))
    val bySens = rows.groupBy("nation", "bal_band", "segment")
      .agg(count(lit(1)).as("cnt"))
    bySens.groupBy("nation", "bal_band")
      .agg(sum(col("cnt")).as("class_size"),
        count(lit(1)).as("n_sensitive"),
        max(col("cnt")).as("top_sensitive"))
      .select(col("nation"), col("bal_band"), col("class_size"),
        col("n_sensitive"), (col("n_sensitive") >= l).as("diverse"),
        col("top_sensitive"))
      .orderBy("nation", "bal_band")
  }

  /** Q150: HTML/markup boilerplate stripping + template-line removal —
    * the [[MarkupStrip]] operator end-to-end (the trafilatura step of a
    * web-crawl pipeline, feeding the q115/q116/q73 hygiene chain). The
    * corpus carries no markup, so the query first SYNTHESIZES a
    * deterministic page around each document — head with title, style
    * and script payloads (the script contains raw `<`, `&&` and braces:
    * exactly the content generic tag-stripping corrupts), an HTML
    * comment, the body text in a `<p>`, and a shared nav/footer line
    * with `&amp;`/`&lt;` entities — then strips it and mines template
    * lines per source (the title and nav lines repeat across every page
    * of a source → dropped; the body line is the surviving content).
    * Output per doc: md5 of the cleaned text + its length.
    *
    * The ORACLE rebuilds the page and replays the identical
    * regexp/replace chain — every pattern is in the Java∩RE2
    * intersection (the q81 contract), entity order `&amp;`-last, exact
    * distinct-counts for the template mining. Clean text equals the
    * original document text (whitespace-collapsed), which the hash
    * match proves end-to-end. */
  private val q150: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val page = concat(
      lit("<html><head><title>doc</title>" +
        "<style>p { color: #fff; }</style>" +
        "<script>if (a < b && c > 0) { run(); }</script></head>\n"),
      lit("<body>\n<!-- generated\n by graft -->\n<p>"),
      col("text"),
      lit("</p>\n<div class=\"nav\">Home &amp; Search &lt;beta&gt;</div>" +
        "\n</body></html>"))
    val stripped = docs
      .select(col("doc_id"), col("source"),
        MarkupStrip.stripMarkup(page).as("text"))
    MarkupStrip.dropTemplateLines(stripped, minDocs = 30L)
      .select(col("doc_id"),
        md5(col("clean").cast("binary")).as("clean_fp"),
        length(col("clean")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Q152: t-closeness audit [Li, Li, Venkatasubramanian ICDE'07] — the
    * third rung of the release-audit ladder (q138 k-anonymity → q146
    * l-diversity → THIS): a class can be large AND diverse yet still leak
    * when its sensitive-value DISTRIBUTION differs sharply from the
    * table's (the skewness attack). Per equivalence class over the QI
    * tuple (segment, nation): Earth Mover's Distance between the class's
    * distribution over the ORDERED sensitive attribute (q146's $1000
    * account-balance band) and the global distribution, with the t = 0.2
    * verdict.
    *
    * For an ordered attribute EMD has the closed form
    * `Σᵢ |Σ_{j≤i} (p_j − q_j)| / (m−1)`; kept in EXACT integer space:
    * p_j − q_j = (cnt_j·N − C_j·n_g)/(n_g·N), so the cumulative sums are
    * BIGINT and the query emits the rational (emd_num, emd_den) pair plus
    * the cross-multiplied verdict `emd_num·5 ≤ emd_den` — no division
    * ever happens, so both engines agree bit-for-bit (the q95
    * exact-ratio contract). At extreme corpus scale the numerator bound
    * is n_g·N·m — swap the BIGINT sums for DECIMAL(38,0) past ~10⁹ rows;
    * the shape is unchanged.
    *
    * Shape: two domain-bounded grouped counts (classes, global bands), a
    * broadcast band-grid expansion (classes × m rows — QI/band domain
    * sized, never table sized), one window cumsum per class. All row
    * volume is absorbed map-side by partial aggregation. */
  private val q152: Q = (s, d) => {
    val rows = Tables.customer(s, d).select(
      col("c_mktsegment").as("segment"),
      col("c_nationkey").cast("long").as("nation"),
      expr("(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
        " + 100000) div 100000").as("band"))
    val global = rows.groupBy("band").agg(count(lit(1)).as("gcnt"))
    val tot = global.agg(sum(col("gcnt")).cast("long").as("n_total"),
      count(lit(1)).cast("long").as("m_bands"))
    val classes = rows.groupBy("segment", "nation")
      .agg(count(lit(1)).as("class_size"))
    val perCell = rows.groupBy("segment", "nation", "band")
      .agg(count(lit(1)).as("cnt"))
    val grid = classes.crossJoin(broadcast(global))
      .join(perCell, Seq("segment", "nation", "band"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val w = Window.partitionBy("segment", "nation").orderBy("band")
    grid.crossJoin(broadcast(tot))
      .withColumn("s_i", sum(
        col("cnt") * col("n_total") - col("gcnt") * col("class_size")).over(w))
      .groupBy("segment", "nation", "class_size", "n_total", "m_bands")
      .agg(sum(abs(col("s_i"))).cast("long").as("emd_num"))
      .select(col("segment"), col("nation"), col("class_size"),
        col("emd_num"),
        (col("class_size") * col("n_total") * (col("m_bands") - 1))
          .as("emd_den"),
        (col("emd_num") * 5 <=
          col("class_size") * col("n_total") * (col("m_bands") - 1))
          .as("t_close"))
      .orderBy("segment", "nation")
  }

  /** Q156: corpus snapshot diff — the data-versioning audit a lake run
    * prints between two corpus snapshots before promoting one (the
    * read-side complement of q130's CDC merge: THAT applies a change
    * feed, THIS derives one from two materialized states). Per doc_id
    * across old ∪ new: `added` / `removed` / `changed` (content md5
    * differs) / `same`, with both fingerprints as evidence. Snapshots
    * are derived deterministically from the documents table (old drops
    * id ≡ 1 mod 7, new drops id ≡ 3 mod 11 and revises id ≡ 2 mod 5) so
    * every verdict class is exercised.
    *
    * Shape: two scans + ONE full-outer equi-join on the id — with both
    * snapshots id-bucketed (the lake layout convention here), the join
    * is co-partitioned and shuffle-free at any snapshot size; the diff
    * report streams out of the join with no further stage. */
  private val q156: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val oldSnap = docs.filter(col("doc_id") % 7 =!= 1)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("old_fp"))
    val newSnap = docs.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 5 === 2, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).cast("binary")).as("new_fp"))
    oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "same")
          .otherwise("changed").as("status"),
        coalesce(col("old_fp"), lit("")).as("old_fp"),
        coalesce(col("new_fp"), lit("")).as("new_fp"))
      .orderBy("doc_id")
  }

  /** Q163: length-bucketed batch assembly — the dynamic-batching loader
    * move: grouping similar-length documents into batches bounds padding
    * waste (a batch pads every member to its max length, so mixing a
    * 500-token doc into a 60-token batch wastes ~88% of the compute).
    * Docs bin into power-of-two length buckets ([0,64), [64,128),
    * [128,256), [256,∞)), each (source, bucket) pool is md5-shuffled
    * (the q91 deterministic-order discipline) and cut into batches of 8;
    * the emitted per-doc (batch_idx, pos, batch_max, pad) IS the loader
    * manifest, with `pad` the per-doc padding-waste evidence.
    *
    * All-integer; the only shuffle is the per-(source, bucket) rank
    * window — per-source pools, never a global rank (the q91/q147
    * contract), and the batch-max window rides the same partitioning. */
  private val q163: Q = (s, d) => {
    val b = 8
    val w = Window.partitionBy("source", "bucket")
      .orderBy(col("k"), col("doc_id"))
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tok"))
      .withColumn("bucket",
        when(col("n_tok") < 64, 0L).when(col("n_tok") < 128, 1L)
          .when(col("n_tok") < 256, 2L).otherwise(3L))
      .withColumn("k", md5(concat_ws(":", lit("lb"), col("doc_id"))))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("batch_idx", expr(s"(rn - 1) div $b"))
      .withColumn("pos", (col("rn") - 1) % b)
      .withColumn("batch_max", max(col("n_tok")).over(
        Window.partitionBy("source", "bucket", "batch_idx")))
      .select(col("doc_id"), col("source"), col("n_tok"), col("bucket"),
        col("batch_idx"), col("pos"), col("batch_max"),
        (col("batch_max") - col("n_tok")).as("pad"))
      .orderBy("doc_id")
  }

  /** Q164: URL canonicalization — the crawl-dedup primitive run before
    * any content fetch (the same page is crawled under case variants,
    * default ports, utm decorations, param orderings and fragments; URL
    * normalization collapses them so fetch+dedup cost is paid once
    * [RFC 3986 §6 syntax-based normalization]). The corpus has no URL
    * column, so each doc synthesizes a deterministic messy variant
    * (three styles per id-triple: clean / SHOUTING+:80+utm+reordered /
    * bare-host+trailing-slash+fragment — every normalization rule is
    * exercised and consecutive id-triples collide after normalization).
    *
    * Rules, each in the Java∩RE2 regex intersection and mirrored
    * verbatim: lowercase scheme+host, strip `www.`, strip the default
    * :80 port, drop the fragment, drop `utm_*` params, sort the
    * remaining params, strip one trailing path slash (root stays `/`).
    * Emits the normalized URL, its md5, and each URL's collision-group
    * size. Pure per-row string algebra + one domain-bounded count —
    * the normalize step itself is shuffle-free at any crawl size. */
  private val q164: Q = (s, d) => {
    val style = col("doc_id") % 3
    val grp = expr("doc_id div 3")
    val raw = when(style === 0,
        concat(lit("http://www.example.com/p"), grp, lit("?a=1&b=2")))
      .when(style === 1,
        concat(lit("HTTP://WWW.EXAMPLE.COM:80/p"), grp,
          lit("?b=2&a=1&utm_source=x")))
      .otherwise(
        concat(lit("http://example.com/p"), grp, lit("/?a=1&b=2#frag")))
    val u = Tables.documents(s, d).select(col("doc_id"), raw.as("url"))
    val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)),
      "^www\\.", ""), ":80$", "")
    val path0 = regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    val path = when(path0 === "" || path0 === "/", "/")
      .otherwise(regexp_replace(path0, "/$", ""))
    val qs = array_join(array_sort(filter(
      split(regexp_extract(col("url"), "\\?([^#]*)", 1), "&"),
      x => x =!= "" && !x.rlike("^utm_"))), "&")
    val normed = u.withColumn("url_norm", concat(scheme, lit("://"), host,
        path, when(qs === "", "").otherwise(concat(lit("?"), qs))))
    normed
      .withColumn("n_variants", count(lit(1)).over(
        Window.partitionBy("url_norm")))
      .select(col("doc_id"), col("url"), col("url_norm"),
        md5(col("url_norm").cast("binary")).as("norm_fp"),
        col("n_variants"))
      .orderBy("doc_id")
  }

  /** Q151: INCREMENTAL duplicated-span removal — [[SpanIndex]] end-to-end
    * in one plan: the stored-corpus half (doc_id < 250) contributes only
    * its shingle-ownership INDEX (the lake's derivation,
    * [[SpanIndex.fromCorpus]]); the ingest half (doc_id ≥ 250) cleans
    * itself against that index plus q109's in-batch min-id rule
    * ([[SpanIndex.cleanAgainst]]). Under monotonic ids this is
    * row-identical to full-batch q109 restricted to the new docs
    * (SpanIndexSpec pins it two waves deep, plus the bucketed-lake
    * round trip) — but the corpus TEXT is never re-shingled: at 100 TB
    * the probe is one map-side pass over the Heaps-sized index, the
    * q82 no-recompute economics at span granularity. */
  private val q151: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val idx = SpanIndex.fromCorpus(docs.filter(col("doc_id") < 250), "doc_id")
    SpanIndex.cleanAgainst(idx, docs.filter(col("doc_id") >= 250), "doc_id")
      .orderBy("doc_id")
  }

  /** Q172: blocklist screening via the Aho–Corasick kernel
    * ([[graft.plans.AcAutomaton]]) — the C4/Gopher bad-word filter shape:
    * every document is scanned ONCE per statistic for the whole pattern
    * list (total occurrences incl. overlapping, distinct patterns hit,
    * earliest match position), instead of once per pattern — the only
    * per-row cost model that survives a hundreds-entry blocklist on a
    * 100 TB corpus. Substring-level, so cross-token phrases ("slow scan")
    * match where shingle decontamination cannot; the pattern list rides
    * the plan as a foldable literal (broadcast-small-side discipline).
    * Patterns deliberately nest ("scan" inside "row scan") and self-
    * overlap ("a a"), exercising the fail/dict links; the oracle mirrors
    * with a position-enumerating substr scan. */
  private val q172: Q = (s, d) => {
    val pats = array(AcBlocklist.map(lit): _*)
    val t = lower(col("text"))
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        call_function("ac_count_all", t, pats).as("n_occ"),
        call_function("ac_distinct_hits", t, pats).as("n_pats"),
        call_function("ac_first_pos", t, pats).as("first_pos"))
      .withColumn("blocked", col("n_pats") >= 2 || col("n_occ") >= 8)
      .orderBy("doc_id")
  }

  private val AcBlocklist =
    Seq("slow scan", "big table", "row scan", "scan", "fast merge", "a a")

  /** Q181: systematic PPS sampling [Madow 1949] — weighted sampling made
    * oracle-exact: Efraimidis–Spirakis keys (u^(1/w)) need transcendental
    * pow, but SYSTEMATIC probability-proportional-to-size sampling is
    * pure integer arithmetic: docs are laid out on a line in
    * content-stable md5 order, each owning a [cum−w, cum) segment of
    * token mass, and a deterministic offset grid with stride T/k picks
    * whoever a grid point lands on — inclusion probability ∝ w exactly,
    * heavy docs (w ≥ 2·stride) legitimately get multiplicity > 1 (the
    * classic PPS-with-multiplicity semantics). The per-source offset
    * comes from md5(source); all divisions keep operands non-negative
    * (`div` truncates, DuckDB `//` floors — the q175 band contract).
    * Per-SOURCE windows only (the q91 rule: never a global rank), so the
    * sampler is one hash family at any corpus size. */
  private val q181: Q = (s, d) => {
    val k = 5 // target draws per source
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("w"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("ord"))
    val wcum = Window.partitionBy("source").orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum", sum("w").over(wcum))
      .withColumn("t", sum("w").over(Window.partitionBy("source")))
      .withColumn("stride", greatest(expr(s"t div $k"), lit(1L)))
      .withColumn("r",
        conv(substring(md5(col("source")), 1, 8), 16, 10).cast("long")
          % col("stride") + 1)
      .withColumn("n_hits", expr(
        "(cum - r + stride) div stride - (cum - w - r + stride) div stride"))
      .withColumn("selected", col("n_hits") > 0)
      .select("source", "doc_id", "w", "cum", "n_hits", "selected")
      .orderBy("source", "doc_id")
  }

  /** Q189: SFT pair format audit — the QC gate every instruction-tuning
    * dataset passes before training: (prompt, response) pairs are checked
    * for the defects that actually poison SFT runs — EMPTY responses,
    * TOO-SHORT responses, and ECHOES (the response containing the prompt
    * verbatim, the classic scrape artifact that teaches the model to
    * parrot). Pairs are synthesized deterministically from the documents
    * (prompt = first ⌊n/3⌋ tokens, response = the rest) with every
    * defect class injected on id residues so all branches fire; checks
    * are pure per-row string/integer algebra (position/instr for the
    * containment probe — code-point-identical on ASCII), zero shuffle at
    * any corpus size. */
  /** The q189/q193 SFT pair synthesis — ONE definition (the ChatTurnsSql
    * convention) so the format audit and the leakage probe can never
    * disagree about what a pair is. Column expressions over (doc_id,
    * text); [[SftPairs.resp]] carries the q189 defect branches. */
  private object SftPairs {
    val toks: org.apache.spark.sql.Column = TextFunctions.tokens(col("text"))
    val n: org.apache.spark.sql.Column = size(toks)
    private val cut = (n / 3).cast("int")
    val prompt: org.apache.spark.sql.Column =
      concat_ws(" ", slice(toks, lit(1), cut))
    val resp: org.apache.spark.sql.Column =
      when(col("doc_id") % 7 === 0,
        concat(lit("sure: "), prompt)) // echo: contains the prompt
        .when(col("doc_id") % 11 === 0, lit("")) // empty
        .when(col("doc_id") % 13 === 0,
          concat_ws(" ", slice(toks, cut + 1, lit(2)))) // too short
        .otherwise(concat_ws(" ", slice(toks, cut + 1, n - cut)))
  }

  private val q189: Q = (s, d) => {
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), SftPairs.prompt.as("prompt"),
        SftPairs.resp.as("resp"))
      .filter(length(col("prompt")) > 0)
      .select(col("doc_id"),
        size(split(col("prompt"), " ")).as("n_prompt_toks"),
        when(col("resp") === "", 0)
          .otherwise(size(split(col("resp"), " "))).as("n_resp_toks"),
        (col("resp") === "").as("is_empty"),
        (col("resp") =!= "" &&
          when(col("resp") === "", 0)
            .otherwise(size(split(col("resp"), " "))) < 5).as("too_short"),
        (instr(col("resp"), col("prompt")) > 0).as("is_echo"))
      .withColumn("keep",
        !col("is_empty") && !col("too_short") && !col("is_echo"))
      .orderBy("doc_id")
  }

  /** Q190: chat-turn alternation audit — multi-turn conversation QC: a
    * transcript must alternate user/assistant turns, start with the user
    * and end with the assistant, or the loss masking downstream is
    * wrong. Transcripts are synthesized deterministically (4-token turns
    * with `u:`/`a:` markers; every 5th doc repeats a role mid-dialogue,
    * every 9th ends on the user), roles re-parsed with ONE
    * regexp_extract_all in the Java∩RE2 intersection, and the violations
    * counted as pure integer algebra over the role sequence — per-row
    * only, the q153 parsing discipline. */
  /** The synthesized chat-turn array shared by q190 (audit) and q192
    * (loss-mask manifest) — ONE definition so the two views can never
    * disagree about the transcript. */
  private val ChatTurnsSql: String =
    """transform(sequence(0, 2 * least(greatest(size(split(lower(text), ' '))
      |  div 8, 1), 3) - 1), i -> concat(
      |    CASE WHEN doc_id % 5 = 0 AND i = 1 THEN 'u:'
      |      WHEN i % 2 = 0 THEN 'u:' ELSE 'a:' END, ' ',
      |    concat_ws(' ', slice(split(lower(text), ' '),
      |      i * 4 + 1, 4))))""".stripMargin

  /** Turns with the q190 corruption set applied (the %9 user-final tail
    * rides as its own element; joining with ' ' reproduces q190's chat
    * string exactly). */
  private def chatTurns: org.apache.spark.sql.Column =
    when(col("doc_id") % 9 === 0,
      concat(expr(ChatTurnsSql), array(lit("u: bye"))))
      .otherwise(expr(ChatTurnsSql))

  private val q190: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), concat_ws(" ", chatTurns).as("chat"))
    val roles = expr("""regexp_extract_all(chat, '(?:^| )([ua]):', 1)""")
    docs
      .select(col("doc_id"), col("chat"), roles.as("roles"))
      .select(col("doc_id"),
        size(col("roles")).as("n_turns"),
        element_at(col("roles"), 1).as("first_role"),
        element_at(col("roles"), -1).as("last_role"),
        size(filter(
          zip_with(col("roles"), slice(col("roles"), lit(2), size(col("roles"))),
            (x, y) => x === y && y.isNotNull),
          v => v)).as("n_violations"))
      .withColumn("well_formed",
        col("first_role") === "u" && col("last_role") === "a" &&
          col("n_violations") === 0)
      .orderBy("doc_id")
  }

  /** Q192: loss-mask span manifest — the artifact a trainer actually
    * consumes from the q190 transcripts: per turn, its 1-based character
    * span inside the chat string plus the role and the assistant-mask
    * flag (assistant spans take loss, user spans are masked). Spans come
    * from construction (a per-doc running sum over turn lengths — the
    * window is bounded by the ≤7-turn transcript), so they tile the
    * transcript EXACTLY: start_k = end_{k-1} + 2 (the joining space),
    * last end = length(chat) — tiling is spec-pinned and shares
    * [[ChatTurnsSql]] with q190 so the two views cannot drift. */
  private val q192: Q = (s, d) => {
    val w = Window.partitionBy("doc_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(chatTurns).as(Seq("turn_idx", "t")))
      .withColumn("n_chars", length(col("t")))
      .withColumn("char_start",
        (coalesce(sum(col("n_chars") + 1).over(w), lit(0L)) + 1)
          .cast("int"))
      .select(col("doc_id"), col("turn_idx"),
        substring(col("t"), 1, 1).as("role"),
        col("n_chars"), col("char_start"),
        (col("char_start") + col("n_chars") - 1).as("char_end"),
        (substring(col("t"), 1, 1) === "a").as("is_assistant"))
      .orderBy("doc_id", "turn_idx")
  }

  /** Q191: the dataset card — the one-row release manifest every corpus
    * publication carries (docs, exact token count, source/language
    * spread, exact-duplicate count, quality-gate share at the
    * cross-multiplied q115-style integer threshold, median document
    * length via the q173 value-histogram rank pick): the numbers a
    * README quotes, produced by ONE query so they can never drift from
    * the data. Two grouped passes (global aggregates + the token-count
    * histogram) — the card costs seconds at any corpus size. */
  private val q191: Q = (s, d) => {
    val toks = TextFunctions.tokens(col("text"))
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("lang"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_uniq"),
        md5(lower(trim(col("text")))).as("h"))
    val card = docs.agg(
      count(lit(1)).as("n_docs"),
      sum("n_tok").as("n_tokens"),
      countDistinct("source").as("n_sources"),
      countDistinct("lang").as("n_langs"),
      countDistinct("h").as("n_distinct_contents"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      sum(when(col("n_uniq") * 20 >= col("n_tok") * 7, 1L).otherwise(0L))
        .as("n_quality"))
    val p50 = docs.groupBy("n_tok").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(Window.orderBy("n_tok")))
      .withColumn("n", sum("c").over(
        Window.partitionBy()))
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("n_tok")))
        .as("p50_tokens"))
    card.crossJoin(broadcast(p50))
      .withColumn("n_exact_dups",
        col("n_docs") - col("n_distinct_contents"))
  }

  /** Q188: holdout confusion matrix — the one-row evaluation summary next
    * to q179's per-bin reliability: TP/FP/TN/FN on the q126 HOLDOUT slice
    * plus precision, recall and F1 kept as EXACT cross-multiplied
    * rationals (F1 = 2TP/(2TP+FP+FN) — all integers, zero divisions; the
    * single-division doubles ride alongside for humans). One grouped
    * pass over the already-scored holdout; the verdict a filter owner
    * reads before trusting q126's keep decisions. */
  private val q188: Q = (s, d) => {
    val scored = classifierScoresMemo(s, d)
      .filter(!col("is_train"))
    // coalesce: on an EMPTY holdout sum() is NULL while the oracle's
    // count(CASE) is 0 — the counts must stay integers either way
    scored.agg(
        coalesce(sum(when(col("predicted") && col("is_pos"), 1L)
          .otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(col("predicted") && !col("is_pos"), 1L)
          .otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(!col("predicted") && !col("is_pos"), 1L)
          .otherwise(0L)), lit(0L)).as("tn"),
        coalesce(sum(when(!col("predicted") && col("is_pos"), 1L)
          .otherwise(0L)), lit(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        (col("tp") + col("fp") + col("tn") + col("fn")).as("n_holdout"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"),
        (lit(2L) * col("tp")).as("f1_num"),
        (lit(2L) * col("tp") + col("fp") + col("fn")).as("f1_den"))
  }

  /** Q208: exact ROC-AUC of the q126 quality classifier on its HOLDOUT —
    * the threshold-free ranking metric that completes the eval ladder
    * (q179 calibration, q188 confusion at the fixed t=0 operating point,
    * THIS the whole curve's area). Computed rank-free from the
    * distinct-margin histogram: AUC = P(margin_pos > margin_neg) +
    * ½P(=), i.e. auc_num2 = Σₛ pₛ·(2·cumNegBelow(s) + nₛ) over the
    * per-margin (pos, neg) counts, auc = auc_num2 / (2·P·N) — the
    * Mann–Whitney U with midrank tie handling, every term BIGINT until
    * ONE final division (the q95/q196 contract). Gini = 2·AUC − 1 rides
    * along from the same integers. Shape: one grouped pass to the
    * distinct-margin histogram, then a prefix-sum window over DISTINCT
    * margins only (≪ rows; at 100 TB the same prefix sum range-partitions
    * exactly like [[CorpusOps.decileBinDistributed]] — the scan and
    * histogram, the data-sized passes, are already distributed). */
  private val q208: Q = (s, d) => {
    val h = classifierScoresMemo(s, d)
      .filter(!col("is_train"))
      .groupBy("margin").agg(
        sum(when(col("is_pos"), 1L).otherwise(0L)).as("p"),
        sum(when(!col("is_pos"), 1L).otherwise(0L)).as("q"))
    val wb = Window.orderBy(col("margin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("cnb", coalesce(sum(col("q")).over(wb), lit(0L)))
      .agg(
        coalesce(sum(col("p")), lit(0L)).as("n_pos"),
        coalesce(sum(col("q")), lit(0L)).as("n_neg"),
        coalesce(sum(col("p") * (lit(2L) * col("cnb") + col("q"))),
          lit(0L)).as("auc_num2"))
      .select(col("n_pos"), col("n_neg"), col("auc_num2"),
        (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den2"))
      .withColumn("auc",
        when(col("auc_den2") === 0, lit(0.5))
          .otherwise(col("auc_num2").cast("double") / col("auc_den2")))
      .withColumn("gini",
        when(col("auc_den2") === 0, lit(0.0))
          .otherwise((lit(2L) * col("auc_num2") - col("auc_den2"))
            .cast("double") / col("auc_den2")))
  }

  /** Q209: operating-point selection — the max-F1 threshold sweep every
    * quality-filter owner runs between q208's "does the score rank at
    * all" and q126's keep decision: every distinct holdout margin t is a
    * candidate threshold (predicted = margin ≥ t), its confusion counts
    * fall out of the SAME two prefix sums (TP = P − cumPosBelow, FP =
    * N − cumNegBelow, FN/TN the complements), and the argmax is decided
    * in integers: f1_scaled = (2·TP·10⁹) div (2·TP + FP + FN) — exact
    * fixed-point, never a double compare (a cross-engine ulp can flip an
    * argmax; 10⁹ headroom holds to TP ≈ 4.6·10⁹, i.e. any real eval
    * holdout). Ties break to the smallest threshold. The sweep table is
    * distinct-margin-sized; the windows run over it only (the q208 scale
    * note applies verbatim). */
  private val q209: Q = (s, d) => {
    val h = classifierScoresMemo(s, d)
      .filter(!col("is_train"))
      .groupBy("margin").agg(
        sum(when(col("is_pos"), 1L).otherwise(0L)).as("p"),
        sum(when(!col("is_pos"), 1L).otherwise(0L)).as("q"))
    val wb = Window.orderBy(col("margin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = h.agg(
      coalesce(sum(col("p")), lit(0L)).as("n_pos"),
      coalesce(sum(col("q")), lit(0L)).as("n_neg"))
    val sweep = h
      .withColumn("cpb", coalesce(sum(col("p")).over(wb), lit(0L)))
      .withColumn("cnb", coalesce(sum(col("q")).over(wb), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("margin").as("threshold"),
        (col("n_pos") - col("cpb")).as("tp"),
        (col("n_neg") - col("cnb")).as("fp"),
        col("cnb").as("tn"), col("cpb").as("fn"))
      .withColumn("f1_scaled",
        expr("(2 * tp * 1000000000) div (2 * tp + fp + fn)"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    sweep
      .withColumn("best", max(col("f1_scaled")).over(wAll))
      .withColumn("n_thresholds", count(lit(1)).over(wAll))
      .filter(col("f1_scaled") === col("best"))
      .withColumn("rk", row_number().over(Window.orderBy(col("threshold"))))
      .filter(col("rk") === 1)
      .select(col("threshold"), col("tp"), col("fp"), col("tn"), col("fn"),
        col("f1_scaled"), col("n_thresholds"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"),
        ((lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn"))).as("f1"))
  }

  /** Q225: cumulative gains / lift of the q126 classifier — the "how much
    * of the good data do the top-k% margins capture" curve that turns
    * q208's AUC into an operational budget decision (keep the top 3
    * deciles → capture_pm of the positives, at lift× the base rate).
    * Deciles rank by DESCENDING margin (q179 ranks ascending — the
    * reliability view; this is the selection view). capture_pm =
    * (1000·cumPos) div totPos and lift_pm = (1000·cumPos·n) div
    * (totPos·cumN) are exact integer fixed-point (the q209 argmax
    * argument: a cross-engine ulp can never reorder them); the
    * single-division doubles ride alongside. The fixed-point product
    * 1000·cumPos·n clears BIGINT to ~10⁶-row holdouts — beyond that the
    * product pair swaps to DECIMAL(38,0) (the q222/q224 move).
    *
    * Scale shape: identical to q179 — scoring is the data-sized pass;
    * the rank window runs over the HOLDOUT only and swaps to
    * [[CorpusOps.decileBinDistributed]] at scale; the cumulative window
    * runs over 10 decile rows. */
  private val q225: Q = (s, d) => {
    val scored = classifierScoresMemo(s, d)
      .filter(!col("is_train"))
      .select("doc_id", "is_pos", "margin")
    val cnt = scored.agg(count(lit(1)).as("n"),
      sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos_tot"))
    val bins = scored
      .withColumn("rn", row_number().over(
        Window.orderBy(col("margin").desc, col("doc_id"))).cast("long"))
      .crossJoin(broadcast(cnt))
      .withColumn("decile", expr("((rn - 1) * 10) div n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"),
        max(col("n")).as("n"), max(col("n_pos_tot")).as("n_pos_tot"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("cum_n", sum("n_docs").over(w))
      .withColumn("cum_pos", sum("n_pos").over(w))
      .select(col("decile"), col("n_docs"), col("n_pos"), col("cum_n"),
        col("cum_pos"),
        expr("""case when n_pos_tot > 0
          then (1000 * cum_pos) div n_pos_tot end""").as("capture_pm"),
        expr("""case when n_pos_tot > 0
          then (1000 * cum_pos * n) div (n_pos_tot * cum_n) end""")
          .as("lift_pm"),
        expr("""case when n_pos_tot > 0
          then cast(cum_pos as double) / n_pos_tot end""").as("capture"),
        expr("""case when n_pos_tot > 0
          then cast(cum_pos * n as double) / (n_pos_tot * cum_n) end""")
          .as("lift"))
      .orderBy("decile")
  }

  /** Q228: isotonic (PAV) margin calibration — the step that turns
    * q179's reliability DIAGNOSIS into a fix: the monotone-nondecreasing
    * probability curve closest (in L2) to the holdout outcomes, i.e.
    * sklearn's isotonic regression / Zadrozny–Elkan calibration of the
    * q126 margin. Computed via the minimax CLOSED FORM of pool-adjacent-
    * violators [Ayer et al. 1955; Robertson et al. 1988]:
    * iso(k) = max_{i≤k} min_{j≥k} mean(y[i..j]) over the distinct-margin
    * histogram — no iteration, so DuckDB replays it exactly. Every mean
    * is ONE IEEE division of exact BIGINT prefix-sum differences:
    * identical integers give bit-identical doubles in both engines, and
    * min/max over identical double sets are identical — the q95 contract
    * extended to a minimax over single divisions. Monotonicity and the
    * pool structure follow from the formula; the spec recounts a driver
    * PAV against it.
    *
    * Scale shape: scoring is the data-sized pass (q208's note); the
    * minimax runs over DISTINCT margins D only — O(D²) pair rows with
    * two partitioned windows, never corpus-sized. At web-scale D a
    * production run swaps the closed form for the linear PAV scan over
    * the SAME histogram (a driver-side D-length array — the histogram
    * is already the small side); the closed form IS the spec both
    * implement. */
  private val q228: Q = (s, d) =>
    isotonicFit(classifierScoresMemo(s, d)
      .filter(!col("is_train"))
      .groupBy("margin").agg(
        count(lit(1)).as("n"),
        sum(when(col("is_pos"), 1L).otherwise(0L)).as("p")))

  /** q228 core over any (margin, n, p) histogram. Two provably-identical
    * paths (R14QuerySemanticsSpec forces both): at or below `maxQuadratic`
    * distinct margins, the in-plan O(D²) minimax (what the DuckDB oracle
    * replays); above it, the classic LINEAR pool-adjacent-violators scan
    * over the COLLECTED histogram — the histogram is the small side by
    * construction (distinct margins ≪ rows), and PAV's pooled means are
    * the same single IEEE divisions of the same integer sums the minimax
    * selects, so the swap is bit-exact, not approximate. */
  private[operators] def isotonicFit(h: org.apache.spark.sql.DataFrame,
      maxQuadratic: Long = 4096L): org.apache.spark.sql.DataFrame =
    RunScope.compose(isotonicFitted(h, maxQuadratic))

  private def isotonicFitted(h: org.apache.spark.sql.DataFrame,
      maxQuadratic: Long): org.apache.spark.sql.DataFrame = {
    val s = h.sparkSession
    val hp = RunScope.own(h)
    val dCount = hp.count() // deciding action
    if (dCount > maxQuadratic) {
      // linear PAV driver-side: integer pool sums, merge while the
      // previous pool's mean >= the new one's (cross-multiplied — exact)
      val rows = hp.orderBy("margin").collect()
      hp.unpersist()
      val w = scala.collection.mutable.ArrayBuffer[Long]()
      val sm = scala.collection.mutable.ArrayBuffer[Long]()
      val cnt = scala.collection.mutable.ArrayBuffer[Int]()
      rows.foreach { r =>
        var cw = r.getLong(1); var cs = r.getLong(2); var cc = 1
        while (w.nonEmpty && sm.last * cw >= cs * w.last) {
          cw += w.remove(w.length - 1)
          cs += sm.remove(sm.length - 1)
          cc += cnt.remove(cnt.length - 1)
        }
        w += cw; sm += cs; cnt += cc
      }
      val fitted = w.indices.iterator.flatMap(b =>
        Iterator.fill(cnt(b))(sm(b).toDouble / w(b).toDouble)).toArray
      val out = rows.zipWithIndex.map { case (r, ix) =>
        org.apache.spark.sql.Row(r.get(0), r.getLong(1), r.getLong(2),
          r.getLong(2).toDouble / r.getLong(1), fitted(ix))
      }
      import scala.jdk.CollectionConverters._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("margin",
          h.schema("margin").dataType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("raw_rate",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("iso_prob",
          org.apache.spark.sql.types.DoubleType)))
      return s.createDataFrame(out.toSeq.asJava, schema)
    }
    val wOrd = Window.orderBy("margin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = hp
      .withColumn("ord", row_number().over(Window.orderBy("margin"))
        .cast("long"))
      .withColumn("cp", sum("p").over(wOrd))
      .withColumn("cn", sum("n").over(wOrd))
    val i = pre.select(col("ord").as("i"), col("margin").as("m_i"),
      (col("cp") - col("p")).as("cp_i0"), (col("cn") - col("n")).as("cn_i0"))
    val j = pre.select(col("ord").as("j"),
      col("cp").as("cp_j"), col("cn").as("cn_j"))
    // A(i,j) = mean of y over blocks i..j (inclusive) — one division of
    // exact prefix-sum differences
    val a = i.join(j, col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("cp_j") - col("cp_i0")).cast("double") /
          (col("cn_j") - col("cn_i0")).cast("double")).as("avg"))
    // suffix min over j ≥ k for each i: order j DESC, cumulative min;
    // the row at (i, j=k) then carries min_{j≥k} A(i,j)
    val wSuf = Window.partitionBy("i").orderBy(col("j").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = a.withColumn("sufmin", min("avg").over(wSuf))
      .select(col("i"), col("j").as("k"), col("sufmin"))
    // cumulative max over i ≤ k for each k; the diagonal row i = k is iso(k)
    val wPre = Window.partitionBy("k").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iso = m.withColumn("iso", max("sufmin").over(wPre))
      .filter(col("i") === col("k"))
      .select(col("k").as("ord"), col("iso"))
    pre.join(iso, "ord")
      .select(col("margin"), col("n"), col("p"),
        (col("p").cast("double") / col("n")).as("raw_rate"),
        col("iso").as("iso_prob"))
      .orderBy("margin")
  }

  /** Q235: k-anonymity generalization CHOOSER — the numeric-QI arm of the
    * Samarati ladder that turns q138's audit into a release decision:
    * for quasi-identifier (nation, balance band), sweep band widths
    * 2^j · $1 (j = 0..14) IN ONE PASS (widths exploded against the rows,
    * classes counted per width simultaneously) and pick the SMALLEST
    * width whose minimum class size clears k = 10 — minimal information
    * loss subject to anonymity, [Sweeney 2002; Samarati 2001]. Balances
    * enter as exact cents (the q224 cast) shifted non-negative before
    * the band division — integer `div` on NEGATIVE operands is an
    * engine-divergence hazard (truncate vs floor), so no negative ever
    * reaches it. Per width: class count, min class size, failing classes
    * and rows at risk — the information-loss-vs-safety table, with the
    * chosen row flagged (and w_star = −1 when even the coarsest band
    * fails, the suppress-instead signal). All-integer; the only shuffle
    * is (width × class)-keyed partial-agg counts. */
  private val q235: Q = (s, d) => {
    val k = 10L
    val widths = (0 to 14).map(j => 100L << j).toArray
    val rows = Tables.customer(s, d).select(
      col("c_nationkey").cast("long").as("nation"),
      ((col("c_acctbal").cast("decimal(12,2)") * 100).cast("long") +
        100000L).as("cents"))
    val per = rows
      .select(col("nation"), col("cents"),
        explode(lit(widths)).as("w"))
      .groupBy(col("w"), col("nation"), expr("cents div w").as("band"))
      .agg(count(lit(1)).as("class_size"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_classes"),
        min("class_size").as("min_class"),
        sum(when(col("class_size") < k, 1L).otherwise(0L))
          .as("n_fail_classes"),
        sum(when(col("class_size") < k, col("class_size")).otherwise(0L))
          .as("n_rows_at_risk"))
    val star = per.agg(
      min(when(col("min_class") >= k, col("w"))).as("w_min_ok"))
    per.crossJoin(broadcast(star))
      .select(col("w"), col("n_classes"), col("min_class"),
        col("n_fail_classes"), col("n_rows_at_risk"),
        coalesce(col("w") === col("w_min_ok"), lit(false)).as("chosen"),
        coalesce(col("w_min_ok"), lit(-1L)).as("w_star"))
      .orderBy("w")
  }

  /** Q232: packing-efficiency report — the EVALUATION beside q118's
    * packing mechanics: for a context window C = 128, what each source
    * pays under the two standard layouts. Single-doc-per-example:
    * truncation loss Σ max(len − C, 0) (tokens thrown away) and padding
    * waste Σ (C − min(len, C)) (compute burned on pad) — the report that
    * decides C and justifies packing at all. Packed (the q118 stream:
    * docs concatenated with one separator each, split every C): examples
    * = ⌈stream/C⌉, waste = only the final partial example + the
    * separators. Utilizations ship as exact integer per-mille (the q95
    * contract); every quantity is a BIGINT sum — the whole report is one
    * partial-agg groupBy over per-row token counts, no windows. */
  private val q232: Q = (s, d) => {
    val C = 128L
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        sum(least(col("n_tok"), lit(C))).as("kept_single"),
        sum(greatest(col("n_tok") - C, lit(0L))).as("trunc_loss"))
      .select(col("source"), col("n_docs"), col("sum_tokens"),
        col("kept_single"), col("trunc_loss"),
        (col("n_docs") * C - col("kept_single")).as("pad_single"),
        expr(s"(1000 * kept_single) div (n_docs * $C)")
          .as("util_single_pm"),
        (col("sum_tokens") + col("n_docs")).as("stream_len"),
        expr(s"(sum_tokens + n_docs + ${C - 1}) div $C").as("n_ex_packed"))
      .withColumn("pad_packed",
        col("n_ex_packed") * C - col("stream_len"))
      .withColumn("util_packed_pm",
        expr(s"(1000 * sum_tokens) div (n_ex_packed * $C)"))
      .orderBy("source")
  }

  /** Q229: McNemar's paired test between two quality filters — the
    * statistically-honest form of "did the new filter beat the old one":
    * the q126 classifier and the q115 Gopher rule set judge the SAME
    * holdout documents against the curated-membership label, and only
    * the DISAGREEMENT cells decide ([McNemar 1947]: b = classifier-only-
    * right, c = gopher-only-right; the concordant cells carry no
    * evidence — the mistake naive accuracy deltas make on overlapping
    * errors). The statistic (b−c)²/(b+c) ships ×1000 in integer
    * fixed-point and the α = 0.05 verdict cross-multiplies against the
    * χ²₁ critical value as the shared literal 3841 (a runtime CDF would
    * be transcendental — the q226 Benford-table move), so engines agree
    * bit-for-bit. BIGINT headroom to ~10⁶-doc holdouts; beyond, the
    * square swaps to DECIMAL(38,0) (the q224 move).
    *
    * Scale shape: both scorings are data-sized map/agg passes the
    * operators already define; the pairing is ONE doc_id-keyed join and
    * a single fold to one row. */
  private val q229: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val cls = classifierScoresMemo(s, d)
      .filter(!col("is_train"))
      .select(col("doc_id"), col("is_pos"), col("predicted").as("cls_keep"))
    val gop = CorpusOps.gopherFlags(docs, "doc_id")
      .select(col("doc_id"), col("kept").as("gopher_keep"))
    cls.join(gop, "doc_id")
      .select((col("cls_keep") === col("is_pos")).as("cls_right"),
        (col("gopher_keep") === col("is_pos")).as("gop_right"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("cls_right") && col("gop_right"), 1L)
          .otherwise(0L)), lit(0L)).as("both_right"),
        coalesce(sum(when(!col("cls_right") && !col("gop_right"), 1L)
          .otherwise(0L)), lit(0L)).as("both_wrong"),
        coalesce(sum(when(col("cls_right") && !col("gop_right"), 1L)
          .otherwise(0L)), lit(0L)).as("b_cls_only"),
        coalesce(sum(when(!col("cls_right") && col("gop_right"), 1L)
          .otherwise(0L)), lit(0L)).as("c_gop_only"))
      .select(col("n"), col("both_right"), col("both_wrong"),
        col("b_cls_only"), col("c_gop_only"),
        expr("""case when b_cls_only + c_gop_only > 0 then
          ((b_cls_only - c_gop_only) * (b_cls_only - c_gop_only) * 1000)
            div (b_cls_only + c_gop_only) end""").as("mcnemar_x1000"),
        expr("""(b_cls_only - c_gop_only) * (b_cls_only - c_gop_only)
          * 1000 > 3841 * (b_cls_only + c_gop_only)""").as("significant"),
        expr("""case when (b_cls_only - c_gop_only) *
            (b_cls_only - c_gop_only) * 1000 <=
            3841 * (b_cls_only + c_gop_only) then 'tie'
          when b_cls_only > c_gop_only then 'classifier'
          else 'gopher' end""").as("winner"))
  }

  /** Q227: source-concentration report — the market-concentration view of
    * the corpus that q78's per-source ratios and q136's temperature
    * budgets both presuppose but never state: how dominated is the token
    * mass by its head sources. Per source (ranked by mass, ties to the
    * smaller name): exact share and cumulative share in integer
    * per-mille; globally the Herfindahl–Hirschman index ×10⁶
    * (Σshare² — the antitrust statistic, = the q176 Simpson collision
    * probability applied to SOURCES) and the Gini coefficient as the
    * exact rational (2·Σrankᵃˢᶜ·x − (n+1)·T, n·T) — integer rank-sum
    * form, no sorting-by-double anywhere. Σx² and T² run in
    * DECIMAL(38,0)/HUGEINT and surface as BIGINT (the q222/CLAUDE rule:
    * hhi ≤ 10⁶ by construction, gini terms are rank-weighted masses).
    * Entropy is deliberately absent — log is libm-divergent (q95);
    * HHI/Gini carry the same decision signal exactly.
    *
    * Scale shape: one map-side token count + a source-keyed partial agg;
    * every window runs over the source-sized table (dozens of rows at
    * any corpus scale — sources are a governance vocabulary, not data). */
  private val q227: Q = (s, d) =>
    concentrationReport(Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("x").as("tok_mass")))

  /** q227 core over any (source, n_docs, tok_mass) frame — separated so
    * the spec can pin the closed-form edges: one source ⇒ gini_num = 0
    * and hhi = 10⁶ exactly; equal masses ⇒ gini_num = 0 at any n. */
  private[operators] def concentrationReport(
      st: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tot = st.agg(sum("tok_mass").as("t"), count(lit(1)).as("n_src"),
      sum(expr("""cast(tok_mass as decimal(38,0)) *
        cast(tok_mass as decimal(38,0))""")).as("sq"))
    val wAsc = Window.orderBy(col("tok_mass").asc, col("source").asc)
    val wDesc = Window.orderBy(col("tok_mass").desc, col("source").asc)
    val ranked = st
      .withColumn("rank_asc", row_number().over(wAsc).cast("long"))
      .withColumn("rank", row_number().over(wDesc).cast("long"))
      .withColumn("cum_mass", sum("tok_mass").over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val g = ranked.agg(sum(col("rank_asc") * col("tok_mass")).as("srx"))
    ranked.crossJoin(broadcast(tot)).crossJoin(broadcast(g))
      .select(col("source"), col("n_docs"), col("tok_mass"), col("rank"),
        expr("(1000 * tok_mass) div t").as("share_pm"),
        expr("(1000 * cum_mass) div t").as("cum_share_pm"),
        expr("""cast((1000000 * sq) div (cast(t as decimal(38,0)) *
          cast(t as decimal(38,0))) as bigint)""").as("hhi_x1e6"),
        (lit(2L) * col("srx") - (col("n_src") + 1L) * col("t"))
          .as("gini_num"),
        (col("n_src") * col("t")).as("gini_den"))
      .withColumn("gini",
        col("gini_num").cast("double") / col("gini_den").cast("double"))
      .orderBy("rank")
  }

  /** Q214: split-conformal keep-threshold selection — the
    * distribution-free answer to "what margin cutoff keeps ≥ 90% of the
    * good documents" ([Vovk et al. 2005; Papadopoulos 2008] split
    * conformal prediction applied to the q126 quality filter). The
    * HOLDOUT splits into CALIBRATION and EVALUATION halves by the q106
    * content-stable hash move (md5("id#conf") < 2³¹ — membership never
    * migrates as the corpus grows); the keep threshold is the exact
    * r-th smallest calibration-POSITIVE margin with the conformal +1
    * correction, r = max(⌊(n_cal_pos + 1)/10⌋, 1) for α = 10% — a pure
    * integer rank (never `0.1·n`: a float rank literal is
    * engine-divergent at boundaries, the q158 lesson), so at most r − 1
    * ≤ α·(n+1) calibration positives fall below it. The EVAL half then
    * reports realized positive coverage and the negative false-keep rate
    * (exact counts, integer per-mille, ONE double division each — the
    * q95 contract). Shape: ONE scored frame feeds both halves inside one
    * action (the shared [[classifierScoresMemo]] parquet); the rank
    * window runs over CALIBRATION POSITIVES only (eval-set-sized, never
    * the corpus — at 100 TB the order statistic swaps to the q83
    * `decileBinDistributed` range-partition form); the 1-row threshold
    * broadcasts. */
  private val q214: Q = (s, d) => {
    val scored = classifierScoresMemo(s, d)
      .filter(!col("is_train"))
      .select(col("doc_id"), col("is_pos"), col("margin"),
        (call_function("md5_prefix32",
          concat(col("doc_id").cast("string"), lit("#conf")))
          < 2147483648L).as("is_cal"))
    val calPos = scored.filter(col("is_cal") && col("is_pos"))
    val nCal = calPos.agg(count(lit(1)).as("n_cal_pos"))
      .withColumn("rank_r", expr("greatest((n_cal_pos + 1) div 10, 1L)"))
    val thr = calPos
      .withColumn("rn", row_number().over(
        Window.orderBy(col("margin"), col("doc_id"))).cast("long"))
      .join(broadcast(nCal), col("rn") === col("rank_r"))
      .select(col("n_cal_pos"), col("rank_r"),
        col("margin").as("threshold"))
    scored.filter(!col("is_cal"))
      .crossJoin(broadcast(thr))
      .groupBy("n_cal_pos", "rank_r", "threshold")
      .agg(
        sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_eval_pos"),
        sum(when(col("is_pos") && col("margin") >= col("threshold"), 1L)
          .otherwise(0L)).as("eval_covered"),
        sum(when(!col("is_pos"), 1L).otherwise(0L)).as("n_eval_neg"),
        sum(when(!col("is_pos") && col("margin") >= col("threshold"), 1L)
          .otherwise(0L)).as("eval_false_keep"))
      .select(col("n_cal_pos"), col("rank_r"), col("threshold"),
        col("n_eval_pos"), col("eval_covered"),
        when(col("n_eval_pos") > 0,
          expr("(1000 * eval_covered) div n_eval_pos")).as("cov_pm"),
        when(col("n_eval_pos") > 0,
          col("eval_covered").cast("double") / col("n_eval_pos"))
          .as("coverage"),
        col("n_eval_neg"), col("eval_false_keep"),
        when(col("n_eval_neg") > 0,
          expr("(1000 * eval_false_keep) div n_eval_neg")).as("fk_pm"),
        when(col("n_eval_neg") > 0,
          col("eval_false_keep").cast("double") / col("n_eval_neg"))
          .as("false_keep_rate"))
  }

  /** Q179: classifier calibration (the reliability report): the q126
    * quality classifier's HOLDOUT margins ranked into q83-style
    * integer-division deciles, each bin reporting exact positive counts,
    * margin bounds and the observed positive rate (one double division) —
    * the evidence that the filter's score actually orders quality, read
    * before anyone picks a keep threshold. Bin totals stay exact BIGINTs;
    * the rank window runs over the HOLDOUT slice only (at 100 TB the
    * binning swaps to `decileBinDistributed`, the q83 contract — scoring,
    * the data-sized pass, is unchanged). */
  private val q179: Q = (s, d) => {
    val scored = classifierScoresMemo(s, d)
      .filter(!col("is_train"))
      .select("doc_id", "is_pos", "margin")
    val cnt = scored.agg(count(lit(1)).as("n"))
    scored
      .withColumn("rn", row_number().over(
        Window.orderBy(col("margin"), col("doc_id"))).cast("long"))
      .crossJoin(broadcast(cnt))
      .withColumn("decile", expr("((rn - 1) * 10) div n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"),
        min("margin").as("margin_lo"), max("margin").as("margin_hi"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n_docs"))
      .orderBy("decile")
  }

  /** Q178: link-graph extraction from markup — the web-graph build step
    * between q150's page cleaning and q129's PageRank: anchors are pulled
    * from deterministic synthesized pages (every doc links to
    * (3i+1) mod 500 and (7i+2) mod 500, every 4th adds a third link —
    * so hubs, broken links and self-links all occur) with ONE
    * `regexp_extract_all` in the Java∩RE2 intersection (the q81/q164
    * contract), exploded to an edge list, then degree statistics: out,
    * in (links from elsewhere in the corpus), and broken outlinks
    * (targets not in the corpus — at small SFs most links dangle, the
    * honest crawl shape). Map-side extract + two hash aggregations; the
    * edge list is links-per-page-bounded, never quadratic. */
  private val q178: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val html = concat(lit("<p>"), col("text"), lit("</p><a href=\"/doc/"),
      (col("doc_id") * 3 + 1) % 500, lit("\">x</a> <a href=\"/doc/"),
      (col("doc_id") * 7 + 2) % 500, lit("\">y</a>"),
      when(col("doc_id") % 4 === 0,
        concat(lit(" <a href=\"/doc/"), (col("doc_id") * 13 + 5) % 500,
          lit("\">z</a>"))).otherwise(lit("")))
    val pages = docs.select(col("doc_id"), html.as("html"))
    val edges = pages.select(col("doc_id").as("src"),
        explode(expr("regexp_extract_all(html, 'href=\"/doc/([0-9]+)\"', 1)"))
          .as("dst_s"))
      .select(col("src"), col("dst_s").cast("long").as("dst"))
    val ids = docs.select(col("doc_id").as("dst"))
    val out = edges.join(ids, Seq("dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("out_deg"))
    val broken = edges.join(ids, Seq("dst"), "left_anti")
      .groupBy("src").agg(count(lit(1)).as("n_broken"))
    val in = edges.join(ids, Seq("dst"), "left_semi")
      .groupBy("dst").agg(count(lit(1)).as("in_deg"))
    docs.select(col("doc_id"))
      .join(out.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .join(broken.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .join(in.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("out_deg", "n_broken", "in_deg"))
      .orderBy("doc_id")
  }

  /** Q193: SFT-response ↔ pretraining contamination — the leakage
    * direction that actually inflates evals: an SFT response whose
    * content ALREADY APPEARS in the pretraining corpus teaches nothing
    * and double-counts its source at loss time (and, when the response
    * came from a benchmark, silently contaminates the eval). q77 probes
    * corpus→benchmark; THIS probes each q189-clean (prompt, response)
    * pair's response 4-shingles against the pretraining corpus and
    * reports per-pair leaked-shingle counts with a pure-integer ≥20%
    * removal flag (`n_leaked·5 ≥ n_shingles` — never `0.2·n`, the q158
    * decimal-literal rule). Pairs are the q189 synthesis restricted to
    * `src0` (the SFT slice); the corpus is every other source.
    *
    * Shape (the q82 no-rescan discipline): the SFT side is SMALL by
    * definition, so its distinct shingle set BROADCASTS; the 100 TB
    * corpus is scanned ONCE with a map-side semi-join probe (never
    * shuffled on shingles, never distinct-reduced globally — the
    * match set is bounded by the SFT side, and only IT is distinct-
    * reduced before the final per-pair count join). */
  private val q193: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    // the q189 pair synthesis — the SHARED SftPairs definition — restricted
    // to src0 and to pairs q189 would keep (clean = not empty / too-short /
    // echo)
    val nRespToks = when(col("resp") === "", 0)
      .otherwise(size(split(col("resp"), " ")))
    val clean = docs.filter(col("source") === "src0")
      .select(col("doc_id"), SftPairs.prompt.as("prompt"),
        SftPairs.resp.as("resp"))
      .filter(length(col("prompt")) > 0)
      .withColumn("n_resp_toks", nRespToks)
      .filter(col("resp") =!= "" && col("n_resp_toks") >= 5 &&
        instr(col("resp"), col("prompt")) === 0)
    // --- the probe itself: CorpusOps.responseLeakage (spec-driven with
    // constructed leaked/clean pairs in ResponseLeakageSpec) ---
    CorpusOps.responseLeakage(clean,
        docs.filter(col("source") =!= "src0"), "doc_id")
      .orderBy("doc_id")
  }

  // --- q194: time travel over the WAP lake ------------------------------

  // one WAP lake per (session, sfDir), built once and reused across the
  // runs of every query that reads it (q194, q239, q262)
  private val wapMemo = new SessionMemo[String]

  /** Builds the deterministic WAP lake q194 reads: batches b0/b1/b2 slice
    * the documents on doc_id mod 3 (b1 carries injected QC defects on the
    * ≡0-mod-5 residue, so the audit quarantines exactly it), then a
    * LATER revision batch b3 publishes — so as-of reads genuinely differ
    * from the live table — and the data tree is small-file-compacted,
    * so the spec's "as-of survives compaction" claim is exercised by the
    * DRIVER gate too, not just locally. Publish log: b0→seq 1, b2→seq 2,
    * b3→seq 3; b1 never appears. */
  private[operators] def asOfLakeDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    wapMemo(s, d) {
      val dir = TempDirs.scoped("graft-wap-asof")
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val rules = Seq(LakeAudit.Rule("qc_flag_true", col("qc_flag")))
      def slice(k: Int) = docs.filter(col("doc_id") % 3 === k)
      val b0 = slice(0).withColumn("qc_flag", lit(true))
      val b1 = slice(1).withColumn("qc_flag", col("doc_id") % 5 =!= 0)
      val b2 = slice(2).withColumn("qc_flag", lit(true))
      val b3 = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" rev")))
        .withColumn("qc_flag", lit(true))
      // publish log: b0→1, b1 quarantined, b2→2, b3→3
      Seq("b0" -> b0, "b1" -> b1, "b2" -> b2, "b3" -> b3).foreach {
        case (id, df) => LakeAudit.writeAuditPublish(s, df, dir, id, rules) }
      // a LATER compaction must not change any as-of snapshot
      graft.etl.LakeCompaction.compact(s, s"$dir/data", 64L << 20)
      dir
    }

  /** Q194: `readAsOf(publishSeq)` — the reproducibility primitive of a
    * dataset release ("train on exactly the corpus as of publish N"):
    * reads the WAP lake as of publish seq 2, i.e. batches b0 and b2 —
    * AFTER batch b3 was published on top and AFTER the data tree was
    * compacted — and aggregates per (batch, source). The oracle rebuilds
    * the same membership algebra from the documents table, so a
    * readAsOf that leaked a later batch (b3's revised rows), included
    * the quarantined batch (b1), or lost rows to compaction
    * hash-mismatches. Publication and time travel are metadata-only at
    * any scale: the as-of read is a pruned parquet scan of exactly the
    * logged batch directories ([[LakeAudit.readAsOf]]). */
  private val q194: Q = (s, d) => {
    val dir = asOfLakeDir(s, d)
    LakeAudit.readAsOf(s, dir, 2L)
      .groupBy(col("batch"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(size(split(lower(col("text")), " ")).cast("long"))
          .as("sum_tokens"))
      .orderBy("batch", "source")
  }

  /** Q239: [[LakeAudit.releaseManifest]] over the q194 WAP lake — the
    * content-addressed release chain a training run pins for byte
    * verifiability ("release digest at publish k certifies exactly these
    * rows"). The manifest runs AFTER the lake's small-file compaction, so
    * the driver gate itself attests the layout-invariance claim: the
    * oracle recomputes every digest from the documents TABLE (no files),
    * and any dependence on file layout, the quarantined b1, row order, or
    * a NULL/empty-string conflation would hash-mismatch. All digest
    * algebra is engine-agnostic: md5 over chr(1)-joined strings, 60-bit
    * hex prefixes as BIGINT, exact 128-bit sums surfaced as strings. */
  private val q239: Q = (s, d) => {
    val dir = asOfLakeDir(s, d)
    LakeAudit.releaseManifest(s, dir)
  }

  /** Q262: snapshot DIFF between releases — the `table_changes` read every
    * versioned lake eventually needs ("what changed between the corpus I
    * trained on and this release?"): the LIVE row per doc_id at publish
    * seq 2 vs seq 3 of the q194 WAP lake (live = the row from the
    * highest-seq batch containing the doc — last-writer-wins over the
    * additive batch log, one doc-keyed rank window per snapshot), joined
    * by doc_id and classified added / revised / unchanged (removed cannot
    * occur in an additive log — deletes live in the GDPR path, q164/q170).
    * The b3 revision batch touches doc_id ≡ 0 (mod 7) including docs from
    * the quarantined-b1 residue, so both ADDED (never published before)
    * and REVISED (text changed) classes occur naturally. Per (source,
    * status): count + Σdoc_id membership checksum.
    *
    * The ORACLE recomputes both live sets from the documents TABLE (the
    * q194 membership algebra) — a diff that leaked the quarantined batch,
    * compared non-live rows, or missed a revision hash-mismatches. Scale
    * shape: two pruned batch-directory scans + one doc-keyed window each
    * + a doc-keyed join; at any corpus size the diff is snapshot-sized,
    * never history-sized. */
  private val q262: Q = (s, d) => {
    val dir = asOfLakeDir(s, d)
    import s.implicits._
    val seqDf = LakeAudit.publishLog(s, dir).map(e => (e.batchId, e.seq))
      .toDF("batch", "publish_seq")
    def live(at: Long): org.apache.spark.sql.DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("publish_seq").desc)
      LakeAudit.readAsOf(s, dir, at)
        .join(broadcast(seqDf), "batch")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("text"))
    }
    val prev = live(2L).select(col("doc_id"), col("text").as("text_prev"))
    live(3L).join(prev, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("text_prev").isNull, lit("added"))
          .when(col("text") =!= col("text_prev"), lit("revised"))
          .otherwise(lit("unchanged")))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
      .orderBy("source", "status")
  }

  // One diff-with-erasure lake per (session, sfDir): publishes b0 (seq 1)
  // and b2 (seq 2), then a LOGGED GDPR erasure of the ≡4-mod-11 residue
  // (seq 3, receipt retained under erasures/), then the b3 revision batch
  // (seq 4) which re-publishes the ≡0-mod-7 residue — so every diff class
  // incl. `removed` and erase-then-republish occurs naturally.
  private val diffMemo = new SessionMemo[String]

  private[operators] def diffLakeDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    diffMemo(s, d) {
      val dir = TempDirs.scoped("graft-wap-diff")
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val rules = Seq(LakeAudit.Rule("doc_id_not_null",
        col("doc_id").isNotNull))
      LakeAudit.writeAuditPublish(s, docs.filter(col("doc_id") % 3 === 0),
        dir, "b0", rules)
      LakeAudit.writeAuditPublish(s, docs.filter(col("doc_id") % 3 === 2),
        dir, "b2", rules)
      // the GDPR batch: published docs with doc_id ≡ 4 (mod 11) —
      // driver-sized (the LakeDeletes deletion-list shape)
      val ids = docs
        .filter((col("doc_id") % 3 === 0 || col("doc_id") % 3 === 2) &&
          col("doc_id") % 11 === 4)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      LakeAudit.eraseLogged(s, dir, "e0", ids, "doc_id", Seq("source"))
      LakeAudit.writeAuditPublish(s,
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("text", concat(col("text"), lit(" rev"))),
        dir, "b3", rules)
      dir
    }

  /** Q265: snapshot diff ACROSS AN ERASURE — q262 completed to the full
    * `table_changes` contract (added / revised / unchanged / REMOVED):
    * the live set at publish seq 2 vs seq 4 of a WAP lake whose history
    * contains a LOGGED GDPR erasure ([[LakeAudit.eraseLogged]], seq 3)
    * between the two. Because erasure REWRITES history (a post-erasure
    * readAsOf at ANY seq no longer contains the rows — the right-to-be-
    * forgotten semantic), the live-set join alone cannot see removals;
    * the diff reads the erasure RECEIPT (id + source, the lawful-to-
    * retain audit columns — the deletion-vector analogue) sequenced
    * inside the diff window and classifies as `removed` every receipt id
    * NOT live at the newer snapshot — an id the b3 revision batch
    * republished after its erasure surfaces as `added` instead (it IS
    * new content with no live predecessor), never as both. Per (source,
    * status): count + Σdoc_id membership checksum.
    *
    * The ORACLE recomputes all four classes from the documents TABLE by
    * residue algebra — a diff that leaked an erased row into any live
    * class, lost a removal, or double-classified a republished id
    * hash-mismatches (R18QuerySemanticsSpec additionally pins the
    * only-as-removed leak check row-by-row). Scale shape: two pruned
    * batch-directory scans + one doc-keyed window each, a doc-keyed
    * join, and one receipt scan (deletion-batch-sized) with an anti
    * join — snapshot-sized at any corpus, never history-sized. */
  private val q265: Q = (s, d) => {
    val dir = diffLakeDir(s, d)
    import s.implicits._
    val seqDf = LakeAudit.publishLog(s, dir)
      .filterNot(LakeAudit.isErasure)
      .map(e => (e.batchId, e.seq)).toDF("batch", "publish_seq")
    def live(at: Long): org.apache.spark.sql.DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("publish_seq").desc)
      LakeAudit.readAsOf(s, dir, at)
        .join(broadcast(seqDf), "batch")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("text"))
    }
    val prev = live(2L).select(col("doc_id"), col("text").as("text_prev"))
    val cur = live(4L)
    val changed = cur.join(prev, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("text_prev").isNull, lit("added"))
          .when(col("text") =!= col("text_prev"), lit("revised"))
          .otherwise(lit("unchanged")))
      .select(col("doc_id"), col("source"), col("status"))
    val removed = LakeAudit.erasureReceipts(s, dir, 2L, 4L)
      .join(cur.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), lit("removed").as("status"))
    changed.unionByName(removed)
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
      .orderBy("source", "status")
  }

  /** Q272: ROW-level table_changes — q265 classifies and AGGREGATES; this
    * emits the change feed itself (the Delta CDF / Iceberg
    * changelog-read shape a downstream incremental consumer actually
    * ingests): one row per changed doc between publish seq 2 and seq 4
    * of the erasure lake, `change_type ∈ insert / update / delete`, with
    * 60-bit md5 content fingerprints of the pre- and post-images
    * (`old_fp` / `new_fp`). Deletes come from the erasure receipt and
    * carry a NULL `old_fp` BY DESIGN: the receipt is content-free (a
    * fingerprint of erased text would itself retain derived content —
    * the GDPR posture of [[LakeAudit.eraseLogged]]); an
    * erase-then-republish id is an `insert` (no live predecessor), never
    * a delete+insert pair. Unchanged rows are absent — the feed is
    * change-sized, not snapshot-sized.
    *
    * The ORACLE rebuilds the exact feed from the documents TABLE by
    * residue algebra with recomputed fingerprints — a feed that leaked
    * an unchanged row, mis-fingerprinted an image, or emitted an erased
    * doc as anything but a delete hash-mismatches. Scale shape: the
    * q265 plan plus one md5 projection per side. */
  private val q272: Q = (s, d) => {
    val dir = diffLakeDir(s, d)
    import s.implicits._
    val seqDf = LakeAudit.publishLog(s, dir)
      .filterNot(LakeAudit.isErasure)
      .map(e => (e.batchId, e.seq)).toDF("batch", "publish_seq")
    def live(at: Long): org.apache.spark.sql.DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("publish_seq").desc)
      LakeAudit.readAsOf(s, dir, at)
        .join(broadcast(seqDf), "batch")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("text"))
    }
    val fp = (c: org.apache.spark.sql.Column) => fingerprint64(c)
    val prev = live(2L).select(col("doc_id"),
      fp(col("text")).as("old_fp"))
    val cur = live(4L)
    val upserts = cur.join(prev, Seq("doc_id"), "left")
      .withColumn("new_fp", fp(col("text")))
      .filter(col("old_fp").isNull || col("old_fp") =!= col("new_fp"))
      .select(col("doc_id"), col("source"),
        when(col("old_fp").isNull, lit("insert")).otherwise(lit("update"))
          .as("change_type"),
        col("old_fp"), col("new_fp"))
    val deletes = LakeAudit.erasureReceipts(s, dir, 2L, 4L)
      .join(cur.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        lit("delete").as("change_type"),
        lit(null).cast("long").as("old_fp"),
        lit(null).cast("long").as("new_fp"))
    upserts.unionByName(deletes).orderBy("doc_id")
  }

  // The restore lake q274 reads: b0 (seq 1, doc_id ≡ 0 mod 3), b2 (seq 2,
  // ≡ 2 mod 3), b3 (seq 3, the ≡0-mod-7 revision batch incl. brand-new
  // ≡1-mod-3 docs), then RESTORED to seq 2 — so the latest live set must
  // be exactly the seq-2 snapshot: revisions superseded by the restore
  // batch, later additions erased.
  private val restoreMemo = new SessionMemo[String]

  private[operators] def restoreLakeDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    restoreMemo(s, d) {
      val dir = TempDirs.scoped("graft-wap-restore")
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val rules = Seq(LakeAudit.Rule("doc_id_not_null",
        col("doc_id").isNotNull))
      // publish log: b0→1, b2→2, b3→3
      LakeAudit.writeAuditPublish(s, docs.filter(col("doc_id") % 3 === 0),
        dir, "b0", rules)
      LakeAudit.writeAuditPublish(s, docs.filter(col("doc_id") % 3 === 2),
        dir, "b2", rules)
      LakeAudit.writeAuditPublish(s,
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("text", concat(col("text"), lit(" rev"))),
        dir, "b3", rules)
      LakeAudit.restoreTo(s, dir, targetSeq = 2L, restoreId = "r1",
        idCol = "doc_id", rules = rules)
      dir
    }

  /** Q274: RESTORE to a publish — the time-travel family's write half
    * (read-as-of q194, diff q262/q265, change feed q272, and now
    * [[LakeAudit.restoreTo]]): after a bad revision batch (b3) the lake
    * is restored to publish seq 2, and THIS query reads the resulting
    * LATEST live set — which must be byte-equal to the seq-2 snapshot:
    * revised texts superseded by the restore batch's re-publish
    * (last-writer-wins), post-target additions erased (the additive
    * log's only un-add). Per source: doc count, Σdoc_id membership
    * checksum, and the 128-bit-exact sum of 60-bit md5 TEXT fingerprints
    * (surfaced as a string, the q239 digest discipline) — a restore that
    * leaked one revised text or kept one later addition hash-mismatches
    * against the oracle's residue-algebra recomputation from the
    * documents TABLE. */
  private val q274: Q = (s, d) => {
    val dir = restoreLakeDir(s, d)
    import s.implicits._
    val seqDf = LakeAudit.publishLog(s, dir)
      .filterNot(LakeAudit.isErasure)
      .map(e => (e.batchId, e.seq)).toDF("batch", "publish_seq")
    val latest = seqDf.agg(max("publish_seq")).collect().head.getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("publish_seq").desc)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    LakeAudit.readAsOf(s, dir, latest)
      .join(broadcast(seqDf), "batch")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(fingerprint64(col("text")).cast(dec38)).cast("string")
          .as("fp_sum"))
      .orderBy("source")
  }

  // The restore-over-erasure lake q277 reads: b0 (seq 1, doc_id ≡ 0
  // mod 3), b2 (seq 2, ≡ 2 mod 3), a LOGGED GDPR erasure of published
  // ≡4-mod-11 docs (seq 3), b3 (seq 4, the ≡0-mod-7 revision batch —
  // which REPUBLISHES some previously-erased ids), then RESTORED to
  // seq 2. Erasure outranks restore: the target snapshot already
  // excludes the erased docs (history rewritten), and the republished-
  // then-restored ids are re-erased as post-target additions — the
  // final live set must be exactly (≡0 or ≡2 mod 3) ∖ (≡4 mod 11) with
  // ORIGINAL texts.
  private val restoreEraseMemo = new SessionMemo[String]

  private[operators] def restoreEraseLakeDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    restoreEraseMemo(s, d) {
      val dir = TempDirs.scoped("graft-wap-restore-erase")
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val rules = Seq(LakeAudit.Rule("doc_id_not_null",
        col("doc_id").isNotNull))
      LakeAudit.writeAuditPublish(s, docs.filter(col("doc_id") % 3 === 0),
        dir, "b0", rules)
      LakeAudit.writeAuditPublish(s, docs.filter(col("doc_id") % 3 === 2),
        dir, "b2", rules)
      val ids = docs
        .filter((col("doc_id") % 3 === 0 || col("doc_id") % 3 === 2) &&
          col("doc_id") % 11 === 4)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      LakeAudit.eraseLogged(s, dir, "e0", ids, "doc_id", Seq("source"))
      LakeAudit.writeAuditPublish(s,
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("text", concat(col("text"), lit(" rev"))),
        dir, "b3", rules)
      LakeAudit.restoreTo(s, dir, targetSeq = 2L, restoreId = "r1",
        idCol = "doc_id", rules = rules)
      dir
    }

  /** Q277: RESTORE past a PRIOR ERASURE — the interplay q274 and q265
    * each cover half of (VERDICT r18 item 6): the lake's history holds a
    * logged GDPR erasure BEFORE the restore target, and the bad revision
    * batch after the target REPUBLISHED some of the erased ids. The
    * restore must (a) NOT resurrect rows erased before the target —
    * erasure rewrites history, so the re-published target snapshot
    * already excludes them and their bytes are physically gone — and
    * (b) re-erase the republished ids as post-target additions (the
    * additive log's only un-add), so right-to-be-forgotten outranks
    * restore in BOTH directions. THIS query reads the final latest live
    * set (the q274 readout: per source, count + Σdoc_id + 128-bit-exact
    * fingerprint sum); the ORACLE recomputes it from the documents
    * TABLE by pure residue algebra — one resurrected erased doc, one
    * surviving republished id, or one leaked revision text
    * hash-mismatches. LakeAuditSpec pins the same precedence plus
    * receipt survival on a hand-built lake. */
  private val q277: Q = (s, d) => {
    val dir = restoreEraseLakeDir(s, d)
    import s.implicits._
    val seqDf = LakeAudit.publishLog(s, dir)
      .filterNot(LakeAudit.isErasure)
      .map(e => (e.batchId, e.seq)).toDF("batch", "publish_seq")
    val latest = seqDf.agg(max("publish_seq")).collect().head.getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("publish_seq").desc)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    LakeAudit.readAsOf(s, dir, latest)
      .join(broadcast(seqDf), "batch")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(fingerprint64(col("text")).cast(dec38)).cast("string")
          .as("fp_sum"))
      .orderBy("source")
  }

  // The bloom-indexed lookup lake q270 reads: documents written id-range-
  // sorted (8 files) carrying a content-fingerprint column `h` the lake is
  // NOT sorted by, with parquet BLOOM FILTERS on h and dictionary encoding
  // disabled (the over-dictionary-ceiling regime 100 TB cardinalities live
  // in — see LakeLayout.bloomOptions).
  private val bloomMemo = new SessionMemo[String]

  private[operators] def fingerprint64(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private[operators] def bloomLakeDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    bloomMemo(s, d) {
      val dir = TempDirs.scoped("graft-bloom-lake")
      Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          fingerprint64(col("text")).as("h"))
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .options(LakeLayout.bloomOptions("h", expectedNdv = 100000L))
        .parquet(dir)
      dir
    }

  /** Q270: point lookup on a BLOOM-indexed non-sort column — the read
    * path of the r18 layout option under the differential gate: the lake
    * is id-range-sorted (so min/max stats say nothing about `h`, the
    * 60-bit md5 content fingerprint), the probe is a bounded driver-sized
    * request list (the GDPR-request / dedup-probe shape, like
    * [[LakeDeletes]]' deletion lists) pushed down as literal equality
    * predicates — exactly what parquet's bloom row-group filtering
    * answers, so at scale the lookup reads the containing row groups
    * only (BloomLakeSpec measures 14.8× on 2M rows; a spec pins skipping
    * on THIS lake too). The probe list exceeds
    * `spark.sql.parquet.pushdown.inFilterThreshold`, above which Spark
    * pushes parquet's NATIVE in(col, set) predicate instead of an
    * equality chain — MEASURED bloom-evaluable either way (the
    * BloomLakeSpec IN-list A/B; an r18 advisory claimed the opposite,
    * refuted there). Skipping is bounded by probe DENSITY, not pushdown
    * form: a group reads iff it contains ≥1 probe value, so this
    * fixture's handful of row groups all read at sf0.01 (every group
    * has a hit), while at corpus scale — groups ≫ request-list size —
    * almost all skip. The ORACLE recomputes every fingerprint from the
    * documents TABLE and replays the membership probe — a bloom writer
    * that corrupted data, dropped rows, or a reader that false-NEGATIVED
    * a present value (the one error blooms must never make)
    * hash-mismatches. */
  private val q270: Q = (s, d) => {
    val dir = bloomLakeDir(s, d)
    val probes = Tables.documents(s, d).filter(col("text").isNotNull)
      .filter(col("doc_id") % 53 === 5)
      .select(fingerprint64(col("text")).as("h"))
      .collect().map(_.getLong(0)).distinct.sorted
    s.read.parquet(dir)
      .filter(col("h").isin(probes.map(Long.box).toSeq: _*))
      .select(col("doc_id"), col("source"), col("h"))
      .orderBy("doc_id")
  }

  /** Builds the schema-evolution lake q210 reads — three parquet batches
    * whose schemas GREW additively across ingest generations, the way
    * every long-lived corpus lake actually evolves: b0 (doc_id, source,
    * text) predates language ID, b1 adds `lang`, b2 adds a BIGINT
    * `quality` score. */
  private val evoMemo = new SessionMemo[String]

  private[operators] def schemaEvoLakeDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    evoMemo(s, d) {
      val dir = TempDirs.scoped("graft-schema-evo")
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      docs.filter(col("doc_id") % 3 === 0)
        .select(lit("b0").as("batch"), col("doc_id"), col("source"),
          col("text"))
        .write.parquet(s"$dir/b0")
      docs.filter(col("doc_id") % 3 === 1)
        .select(lit("b1").as("batch"), col("doc_id"), col("source"),
          col("text"), col("lang"))
        .write.parquet(s"$dir/b1")
      docs.filter(col("doc_id") % 3 === 2)
        .select(lit("b2").as("batch"), col("doc_id"), col("source"),
          col("text"), col("lang"), col("n_chars").as("quality"))
        .write.parquet(s"$dir/b2")
      dir
    }

  /** Q210: schema-evolution lake read — one unified scan over parquet
    * batches written under ADDITIVE schema growth (see
    * [[schemaEvoLakeDir]]): `mergeSchema` reconciles the three
    * generations into one frame (absent columns surface as nulls), then
    * TYPED defaults make the nulls meaningful (`lang` → 'und',
    * `quality` → −1 — the explicit default-fill every reader of an
    * evolved lake must do; a silent null would poison downstream
    * grouping), and the report aggregates per (batch, lang) with an
    * exact Σ doc_id membership checksum (the q106 move) so a reader
    * that dropped or duplicated a generation's rows hash-mismatches.
    * Schema reconciliation is footer-metadata work; the data pass is one
    * grouped scan — no shuffle beyond the batch/lang aggregate at any
    * lake size. */
  private val q210: Q = (s, d) => {
    val dir = schemaEvoLakeDir(s, d)
    s.read.option("mergeSchema", "true")
      .parquet(s"$dir/b0", s"$dir/b1", s"$dir/b2")
      .select(col("batch"), col("doc_id"),
        coalesce(col("lang"), lit("und")).as("lang"),
        coalesce(col("quality"), lit(-1L)).as("quality"))
      .groupBy(col("batch"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality")).as("sum_quality"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy("batch", "lang")
  }

  /** Builds the erasure lake q212 reads: the documents written as an
    * id-range-sorted parquet lake (8 files via repartitionByRange — the
    * layout that keeps [[LakeDeletes]]'s footer pruning tight), then a
    * GDPR-style deletion batch (the ≡13-mod-97 residue, ~1% of ids)
    * erased through the staged-rename path. */
  private val eraseMemo = new SessionMemo[String]

  private[operators] def erasureLakeDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    eraseMemo(s, d) {
      val dir = TempDirs.scoped("graft-erasure")
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.parquet(s"$dir/data")
      val ids = docs.filter(col("doc_id") % 97 === 13)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      LakeDeletes.erase(s, s"$dir/data", ids, "doc_id")
      dir
    }

  /** Q212: right-to-be-forgotten erasure audit — reads the lake AFTER
    * [[LakeDeletes.erase]] removed the deletion batch and reports per
    * source what remains (doc/token counts + the exact Σ doc_id
    * membership checksum), so an erase that missed an id, dropped a
    * survivor, or resurrected a row from a half-committed file
    * hash-mismatches against the oracle's logical recount. The physical
    * claims (only range-intersecting files rewritten, staged-rename
    * crash safety, idempotent re-run) are pinned by LakeDeletesSpec —
    * THIS query pins the logical outcome under the driver's DuckDB
    * gate. */
  private val q212: Q = (s, d) => {
    val dir = erasureLakeDir(s, d)
    s.read.parquet(s"$dir/data")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(lower(col("text")), " ")).cast("long"))
          .as("n_tokens"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy("source")
  }

  /** Q211: epoch-allocation plan under data constraints — the
    * data-constrained-scaling planner [Muennighoff 2023]: given a token
    * budget B = 2× the corpus (the deliberate OVER-subscription regime —
    * some sources must repeat) and a hard repeat ceiling of 2 epochs per
    * source (binding for the long-doc sources whose doc-share exceeds
    * twice their token mass — so cap, surplus and redistribution are all
    * live on the bench corpus), split B across sources ∝ document share, cap each source at
    * its ceiling, and redistribute the capped surplus to uncapped
    * sources ∝ their token mass (ONE redistribution round, re-capped —
    * the fixed-point iteration truncated where its yield stops mattering;
    * the scaladoc'd contract, not a hidden loop). Everything is integer:
    * shares are cross-multiplied floors (never 0.01·x — the q158 rule),
    * epochs surface as (1000·alloc) div tokens. Shape: one per-source
    * aggregate (map-side partials), a broadcast totals row, arithmetic on
    * the source-count-sized frame — nothing data-sized past the first
    * scan at any corpus size. */
  private val q211: Q = (s, d) => {
    val perSrc = Tables.documents(s, d).filter(col("text").isNotNull)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(lower(col("text")), " ")).cast("long"))
          .as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_docs")).as("tot_docs"),
      sum(col("n_tokens")).as("tot_tokens"))
    val base = perSrc.crossJoin(broadcast(tot))
      .withColumn("budget", lit(2L) * col("tot_tokens"))
      .withColumn("base_tokens",
        expr("(budget * n_docs) div tot_docs"))
      .withColumn("cap_tokens", lit(2L) * col("n_tokens"))
      .withColumn("capped", col("base_tokens") > col("cap_tokens"))
      .withColumn("alloc1",
        least(col("base_tokens"), col("cap_tokens")))
    val pools = base.agg(
      (max(col("budget")) - sum(col("alloc1"))).as("leftover"),
      coalesce(sum(when(!col("capped"), col("n_tokens"))
        .otherwise(0L)), lit(0L)).as("uncapped_tokens"))
    base.crossJoin(broadcast(pools))
      .withColumn("extra",
        when(col("capped") || col("uncapped_tokens") === 0, lit(0L))
          .otherwise(expr("(leftover * n_tokens) div uncapped_tokens")))
      .withColumn("alloc_tokens",
        least(col("alloc1") + col("extra"), col("cap_tokens")))
      .withColumn("epochs_x1000",
        expr("(1000 * alloc_tokens) div n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("base_tokens"), col("capped"), col("alloc_tokens"),
        col("epochs_x1000"))
      .orderBy("source")
  }

  /** Q244: water-filling mixture planner — the question q211's
    * cap-and-redistribute does NOT answer: what is the LARGEST corpus
    * buildable at an EXACT target mixture, and which source caps it? With
    * per-source available tokens and integer mixture weights w_s, a total
    * of T needs T·w_s/W from source s, so each source bounds T at
    * `cap_total_s = avail_s·W div w_s` and the achievable maximum is
    * T = min_s cap_total_s — the water level; the limiting source is the
    * one whose cap IS the level (the source to go buy more of). Exact
    * integer algebra end to end (cross-multiplied, never a ratio double):
    * alloc_s = T·w_s div W, util_pct = 100·alloc div avail.
    *
    * Scale shape: one partial-agg groupBy(source) then arithmetic over
    * the ≤|sources| aggregated rows against two broadcast scalars — no
    * row-level shuffle beyond the aggregation at any corpus size. */
  private val q244: Q = (s, d) => {
    val perSrc = Tables.documents(s, d).filter(col("text").isNotNull)
      .groupBy("source")
      .agg(sum(size(split(lower(col("text")), " ")).cast("long"))
        .as("avail_tokens"))
      .withColumn("weight", (length(col("source")) % 5 + 1).cast("long"))
    val tot = perSrc.agg(sum(col("weight")).as("w_total"))
    val caps = perSrc.crossJoin(broadcast(tot))
      .withColumn("cap_total",
        expr("(avail_tokens * w_total) div weight"))
    val level = caps.agg(min(col("cap_total")).as("t_max"))
    caps.crossJoin(broadcast(level))
      .withColumn("alloc_tokens", expr("(t_max * weight) div w_total"))
      .withColumn("limiting", col("cap_total") === col("t_max"))
      .withColumn("util_pct",
        expr("(100 * ((t_max * weight) div w_total)) div avail_tokens"))
      .select("source", "avail_tokens", "weight", "cap_total", "t_max",
        "alloc_tokens", "limiting", "util_pct")
      .orderBy("source")
  }

  /** Q195: preference-pair audit — the QC gate RLHF/DPO data passes
    * before reward-model or preference training: per (prompt, chosen,
    * rejected) triple, the defects that poison preference losses — TIES
    * (chosen ≡ rejected: the gradient is zero but the pair still costs
    * compute and dilutes batches) and DEGENERATE rejected texts (leading
    * token stutter — the classic synthetic-negative artifact) — plus the
    * length-gap evidence a length-bias audit aggregates (reward models
    * infamously learn "longer = better" when len_gap skews positive).
    * Triples are synthesized deterministically from documents (prompt =
    * first ⌊n/4⌋ tokens, chosen = the rest; rejected per id residue:
    * ≡0 mod 9 → tie, ≡0 mod 5 → truncated-to-third, else stutter) so
    * every branch fires. Pure per-row string/integer algebra — zero
    * shuffle at any corpus size (the q189 discipline). */
  private val q195: Q = (s, d) => {
    val toks = TextFunctions.tokens(col("text"))
    val n = size(toks)
    val p = (n / 4).cast("int")
    val chosenArr = slice(toks, p + 1, n - p)
    val chosen = concat_ws(" ", chosenArr)
    val firstC = element_at(chosenArr, 1)
    val rejected = when(col("doc_id") % 9 === 0, chosen)
      .when(col("doc_id") % 5 === 0, concat_ws(" ",
        slice(chosenArr, lit(1),
          greatest((size(chosenArr) / 3).cast("int"), lit(1)))))
      .otherwise(concat_ws(" ", concat(array(firstC, firstC), chosenArr)))
    Tables.documents(s, d)
      .filter(col("text").isNotNull && n >= 8)
      .select(col("doc_id"), chosen.as("chosen"), rejected.as("rejected"))
      .select(col("doc_id"),
        size(split(col("chosen"), " ")).cast("long").as("n_chosen"),
        size(split(col("rejected"), " ")).cast("long").as("n_rejected"),
        (col("chosen") === col("rejected")).as("is_tie"),
        (element_at(split(col("rejected"), " "), 1) ===
          element_at(split(col("rejected"), " "), 2)).as("has_stutter"))
      .select(col("doc_id"), col("n_chosen"), col("n_rejected"),
        (col("n_chosen") - col("n_rejected")).as("len_gap"),
        col("is_tie"), col("has_stutter"),
        (!col("is_tie") && !col("has_stutter")).as("keep"))
      .orderBy("doc_id")
  }

  /** Q196: inter-annotator agreement — Cohen's κ [Cohen 1960] over two
    * label streams, the QC statistic labeled-data (SFT ratings, RLHF
    * comparisons, eval sets) is accepted or rejected on: raw agreement
    * overstates reliability when the label distribution is skewed, κ
    * discounts chance agreement. Annotator A = the per-row lexical-
    * diversity rater (distinct·2 ≥ total tokens — array_distinct per
    * row, NO shuffle); annotator B = A with deterministic disagreement
    * on the ≡0-mod-7 residue. κ stays EXACT: po·n² and pe·n² are BIGINT
    * products, so the query emits (kappa_num, kappa_den) = (n·agree −
    * pe_n2, n² − pe_n2) and performs ONE double division, mirrored
    * op-for-op (the q152 rational discipline). One global aggregate —
    * map-side partials, a single reduced row at any corpus size. */
  private val q196: Q = (s, d) => {
    val toks = split(lower(col("text")), " ")
    val a = (size(array_distinct(toks)) * 2 >= size(toks)).as("a")
    val labeled = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(a, (col("doc_id") % 7 === 0).as("flip"))
      .select(col("a"), (col("a") =!= col("flip")).as("b"))
    labeled.agg(
        count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"),
        sum(when(col("a"), 1L).otherwise(0L)).as("a_pos"),
        sum(when(col("b"), 1L).otherwise(0L)).as("b_pos"))
      .select(col("n"), col("n_agree"), col("a_pos"), col("b_pos"),
        (col("a_pos") * col("b_pos") +
          (col("n") - col("a_pos")) * (col("n") - col("b_pos"))).as("pe_n2"))
      .select(col("n"), col("n_agree"), col("a_pos"), col("b_pos"),
        (col("n") * col("n_agree") - col("pe_n2")).as("kappa_num"),
        (col("n") * col("n") - col("pe_n2")).as("kappa_den"))
      .withColumn("kappa",
        when(col("kappa_den") === 0, lit(0.0))
          .otherwise(col("kappa_num").cast("double") / col("kappa_den")))
  }

  /** Q203: multi-rater agreement — Fleiss' κ [Fleiss 1971] over THREE
    * label streams, q196's Cohen-κ generalized past two annotators (real
    * preference datasets have ≥3 raters; Cohen's pairwise form does not
    * apply). Raters: A = the q196 lexical-diversity rater; B and C flip A
    * deterministically on the ≡0-mod-7 / ≡0-mod-5 residues. With n = 3
    * raters and 2 categories, each doc reduces to r = #TRUE ∈ {0..3}:
    * per-doc agreement P_i = (r² + (3−r)² − 3) / 6, chance agreement
    * P̄e = (R² + (3N−R)²) / 9N² with R = Σr. Everything stays in exact
    * BIGINT rationals (the q95/q196 contract) by clearing denominators
    * with 18N²: κ = (3N·S_a − 2(R²+(3N−R)²)) / (18N² − 2(R²+(3N−R)²))
    * where S_a = Σ(r²+(3−r)²−3) — one double division at the very end,
    * mirrored op-for-op. One global aggregate: map-side partials, a
    * single reduced row at any corpus size (per-doc work is per-row
    * string algebra, no shuffle before the final reduce). */
  private val q203: Q = (s, d) => {
    val toks = split(lower(col("text")), " ")
    val a = (size(array_distinct(toks)) * 2 >= size(toks)).as("a")
    val rated = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(a, (col("doc_id") % 7 === 0).as("f7"),
        (col("doc_id") % 5 === 0).as("f5"))
      .select(col("a"), (col("a") =!= col("f7")).as("b"),
        (col("a") =!= col("f5")).as("c"))
      .select(col("a"), col("b"), col("c"),
        (when(col("a"), 1L).otherwise(0L) +
          when(col("b"), 1L).otherwise(0L) +
          when(col("c"), 1L).otherwise(0L)).as("r"))
    rated.agg(
        count(lit(1)).as("n"),
        sum(col("r")).as("r_sum"),
        sum(col("r") * col("r") +
          (lit(3L) - col("r")) * (lit(3L) - col("r")) - lit(3L)).as("s_a"),
        sum(when(col("a"), 1L).otherwise(0L)).as("a_pos"),
        sum(when(col("b"), 1L).otherwise(0L)).as("b_pos"),
        sum(when(col("c"), 1L).otherwise(0L)).as("c_pos"))
      .select(col("n"), col("r_sum"), col("s_a"),
        col("a_pos"), col("b_pos"), col("c_pos"),
        (col("r_sum") * col("r_sum") +
          (lit(3L) * col("n") - col("r_sum")) *
          (lit(3L) * col("n") - col("r_sum"))).as("pe_18n2_half"))
      .select(col("n"), col("r_sum"), col("s_a"),
        col("a_pos"), col("b_pos"), col("c_pos"),
        (lit(3L) * col("n") * col("s_a") - lit(2L) * col("pe_18n2_half"))
          .as("kappa_num"),
        (lit(18L) * col("n") * col("n") - lit(2L) * col("pe_18n2_half"))
          .as("kappa_den"))
      .withColumn("kappa",
        when(col("kappa_den") === 0, lit(0.0))
          .otherwise(col("kappa_num").cast("double") / col("kappa_den")))
  }

  /** Q207: Krippendorff's α [Krippendorff 1970/2004] — the agreement
    * statistic for the regime neither Cohen (exactly 2 raters, q196) nor
    * Fleiss (every item rated by the SAME number of raters, q203)
    * covers: MISSING ratings. Real annotation queues assign raters per
    * item — rater B skips the ≡0-mod-3 residue, rater C skips ≡1-mod-4 —
    * so items carry m ∈ {1,2,3} ratings; items with m < 2 contribute no
    * pairable values and are DROPPED (counted, not scored — the ≡9-mod-12
    * residue exercises the drop path). Nominal/binary data via the
    * coincidence-matrix form: with r = #TRUE of m ratings, the per-item
    * disagreement is r(m−r)/(m−1), and α = 1 − (n−1)·Σᵢ rᵢ(mᵢ−rᵢ)/(mᵢ−1)
    * / (n_T·n_F) over n = Σ mᵢ pairable values. Denominators stay exact:
    * (m−1) ∈ {1,2}, so S2 = Σ 2·r(m−r)/(m−1) is a pure BIGINT (m=3 →
    * r(3−r); m=2 → 2r(2−r)) and α = (2·n_T·n_F − (n−1)·S2) / (2·n_T·n_F)
    * — one double division at the very end, mirrored op-for-op (the
    * q95/q196/q203 rational contract). One global aggregate: per-row
    * string algebra, map-side partials, a single reduced row at any
    * corpus size. */
  private val q207: Q = (s, d) => {
    val toks = split(lower(col("text")), " ")
    val a = (size(array_distinct(toks)) * 2 >= size(toks)).as("a")
    val rated = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(a, (col("doc_id") % 3 =!= 0).as("hasb"),
        (col("doc_id") % 4 =!= 1).as("hasc"),
        (col("doc_id") % 7 === 0).as("f7"),
        (col("doc_id") % 5 === 0).as("f5"))
      .select(col("a"), col("hasb"), col("hasc"),
        (col("a") =!= col("f7")).as("b"), (col("a") =!= col("f5")).as("c"))
      .select(
        (lit(1L) + when(col("hasb"), 1L).otherwise(0L) +
          when(col("hasc"), 1L).otherwise(0L)).as("m"),
        (when(col("a"), 1L).otherwise(0L) +
          when(col("hasb") && col("b"), 1L).otherwise(0L) +
          when(col("hasc") && col("c"), 1L).otherwise(0L)).as("r"))
    rated.agg(
        sum(when(col("m") >= 2, 1L).otherwise(0L)).as("n_items_used"),
        sum(when(col("m") < 2, 1L).otherwise(0L)).as("n_items_dropped"),
        sum(when(col("m") >= 2, col("m")).otherwise(0L)).as("n_vals"),
        sum(when(col("m") >= 2, col("r")).otherwise(0L)).as("n_true"),
        sum(when(col("m") >= 2,
            when(col("m") === 3, col("r") * (lit(3L) - col("r")))
              .otherwise(lit(2L) * col("r") * (lit(2L) - col("r"))))
          .otherwise(0L)).as("s2"))
      .select(col("n_items_used"), col("n_items_dropped"), col("n_vals"),
        col("n_true"), (col("n_vals") - col("n_true")).as("n_false"),
        col("s2"))
      .select(col("n_items_used"), col("n_items_dropped"), col("n_vals"),
        col("n_true"), col("n_false"), col("s2"),
        (lit(2L) * col("n_true") * col("n_false") -
          (col("n_vals") - 1) * col("s2")).as("alpha_num"),
        (lit(2L) * col("n_true") * col("n_false")).as("alpha_den"))
      .withColumn("alpha",
        when(col("alpha_den") === 0, lit(0.0))
          .otherwise(col("alpha_num").cast("double") / col("alpha_den")))
  }

  /** Q197: corpus drift report — total-variation distance between the
    * token-length distributions of two corpus snapshots (the q156
    * old/new derivation, shared residues), the release-gate question
    * "did the length mix shift enough to re-tune packing/batching?".
    * TVD = ½ Σ |p_i − q_i| stays EXACT by the q152 cross-multiplication:
    * per bucket |n_old·N_new − n_new·N_old|, summed, over den = 2·N_old·
    * N_new, with a pure-integer ≥10% drift verdict (never 0.1·x). Shape:
    * two scans → two 8-row histograms → full-outer on bucket + broadcast
    * totals; the only row-level work is the map-side partial count. */
  private val q197: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    def nTok(t: org.apache.spark.sql.Column) =
      size(split(lower(t), " ")).cast("long")
    def bucketOf(c: org.apache.spark.sql.Column) =
      least(call_function("div", c, lit(32L)), lit(7L)).cast("long")
    val oldH = docs.filter(col("doc_id") % 7 =!= 1)
      .select(bucketOf(nTok(col("text"))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_old"))
    val newText = when(col("doc_id") % 5 === 2,
      concat(col("text"), lit(" rev2"))).otherwise(col("text"))
    val newH = docs.filter(col("doc_id") % 11 =!= 3)
      .select(bucketOf(nTok(newText)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new"))
    val joined = oldH.join(newH, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val totals = joined.agg(sum(col("n_old")).as("tot_old"),
      sum(col("n_new")).as("tot_new"))
    val w = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    joined.crossJoin(broadcast(totals))
      .withColumn("cross_abs",
        abs(col("n_old") * col("tot_new") - col("n_new") * col("tot_old")))
      .withColumn("tvd_num", sum(col("cross_abs")).over(w))
      .select(col("bucket"), col("n_old"), col("n_new"), col("cross_abs"),
        col("tvd_num"),
        (col("tot_old") * col("tot_new") * 2).as("tvd_den"),
        (col("tvd_num") * 10 >= col("tot_old") * col("tot_new") * 2)
          .as("drifted"))
      .orderBy("bucket")
  }

  /** Q201: incremental dataset card — q191's release manifest maintained
    * ACROSS INGEST WAVES without rescanning history: per wave, the
    * cumulative corpus numbers a release dashboard tracks (docs, tokens,
    * unique contents, duplicate docs, an integer dup-per-mille). The
    * additivity trick that makes exact dedup accounting incremental: a
    * content hash is OWNED by its first (min) wave, so "new unique
    * contents per wave" is additive and the cumulative unique count is a
    * plain running sum — no re-dedup of history per wave (cumulative
    * distinct is NOT otherwise sum-mergeable; this is the q177
    * first-seen-wave move applied to whole-document hashes, and at ingest
    * time the per-wave partial comes from the q82 fingerprint-index probe,
    * so history text is never re-read).
    *
    * Shape: one ownership groupBy bounded by DISTINCT contents, one
    * per-wave partial aggregate, then window running sums over the tiny
    * wave table. Linear in the corpus, constant state per wave. */
  private val q201: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(call_function("div", col("doc_id"), lit(100L)).as("wave"),
        md5(col("text").cast("binary")).as("fp"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tok"))
    val perWave = docs.groupBy("wave").agg(
      count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val owned = docs.groupBy("fp").agg(min(col("wave")).as("wave"))
      .groupBy("wave").agg(count(lit(1)).as("n_new_contents"))
    val w = Window.orderBy("wave")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perWave.join(owned, Seq("wave"), "left")
      .withColumn("n_new_contents", coalesce(col("n_new_contents"), lit(0L)))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_unique", sum(col("n_new_contents")).over(w))
      .select(col("wave"), col("n_docs"), col("n_new_contents"),
        col("cum_docs"), col("cum_tokens"), col("cum_unique"),
        (col("cum_docs") - col("cum_unique")).as("cum_dup_docs"),
        expr("((cum_docs - cum_unique) * 1000) div cum_docs")
          .as("dup_permille"))
      .orderBy("wave")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q71_text_repetition" -> q71,
    "q72_dedup_spans" -> q72,
    "q136_mix_temperature" -> q136,
    "q138_privacy_k_anonymity" -> q138,
    "q146_privacy_l_diversity" -> q146,
    "q73_pipeline_clean" -> q73,
    "q75_mix_token_budget" -> q75,
    "q76_text_rare_terms" -> q76,
    "q77_text_contamination" -> q77,
    "q78_corpus_report" -> q78,
    "q80_sample_quality_weighted" -> q80,
    "q81_text_redact" -> q81,
    "q83_ml_decile_bin" -> q83,
    "q240_ml_decile_bin_dist" -> q240,
    "q91_pack_shards" -> q91,
    "q92_chunk_windows" -> q92,
    "q97_span_corruption" -> q97,
    "q106_split_stratified" -> q106,
    "q109_dedup_span_removal" -> q109,
    "q110_dsir_importance" -> q110,
    "q115_gopher_rules" -> q115,
    "q116_collapse_repeats" -> q116,
    "q118_pack_sequences" -> q118,
    "q126_classifier_quality" -> q126,
    "q150_strip_markup" -> q150,
    "q151_dedup_span_incremental" -> q151,
    "q152_privacy_t_closeness" -> q152,
    "q156_corpus_snapshot_diff" -> q156,
    "q163_pack_length_buckets" -> q163,
    "q164_url_normalize" -> q164,
    "q172_text_blocklist" -> q172,
    "q178_link_graph" -> q178,
    "q179_classifier_calibration" -> q179,
    "q181_sample_pps_systematic" -> q181,
    "q188_classifier_confusion" -> q188,
    "q189_sft_format_audit" -> q189,
    "q190_chat_turn_audit" -> q190,
    "q191_dataset_card" -> q191,
    "q192_chat_loss_mask" -> q192,
    "q193_sft_contamination" -> q193,
    "q194_lake_read_asof" -> q194,
    "q239_lake_release_manifest" -> q239,
    "q262_lake_snapshot_diff" -> q262,
    "q265_lake_diff_removals" -> q265,
    "q270_lake_bloom_lookup" -> q270,
    "q272_lake_table_changes" -> q272,
    "q274_lake_restore" -> q274,
    "q277_lake_restore_erasure" -> q277,
    "q195_preference_pair_audit" -> q195,
    "q196_annotator_agreement" -> q196,
    "q203_fleiss_kappa" -> q203,
    "q207_krippendorff_alpha" -> q207,
    "q208_classifier_auc" -> q208,
    "q209_operating_point" -> q209,
    "q225_classifier_gain_lift" -> q225,
    "q227_source_concentration" -> q227,
    "q228_isotonic_calibration" -> q228,
    "q229_mcnemar_filters" -> q229,
    "q232_packing_efficiency" -> q232,
    "q235_privacy_generalization" -> q235,
    "q210_lake_schema_evolution" -> q210,
    "q211_epoch_allocation" -> q211,
    "q244_mix_water_fill" -> q244,
    "q212_lake_erasure" -> q212,
    "q214_conformal_threshold" -> q214,
    "q221_neyman_allocation" -> q221,
    "q197_corpus_drift_tvd" -> q197,
    "q201_card_incremental" -> q201,
  )

  /** The q189/q193 pair-synthesis CTEs, shared by both oracles (the
    * [[SftPairs]] mirror — ONE SQL definition so the audit and the
    * leakage probe can never disagree); `srcFilter` restricts the
    * document slice (q193 passes `" WHERE source = 'src0'"`). Callers
    * append either a final SELECT or further CTEs (`",\n..."`). */
  private def sftPairSqlCore(srcFilter: String): String =
    s"""WITH t AS (SELECT doc_id, source, string_split(lower(text), ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |p0 AS (SELECT doc_id, toks, len(toks) // 3 AS cut FROM t$srcFilter),
       |pairs AS (SELECT doc_id,
       |    array_to_string(toks[1 : cut], ' ') AS prompt,
       |    CASE WHEN doc_id % 7 = 0 THEN 'sure: '
       |        || array_to_string(toks[1 : cut], ' ')
       |      WHEN doc_id % 11 = 0 THEN ''
       |      WHEN doc_id % 13 = 0 THEN
       |        array_to_string(toks[cut + 1 : cut + 2], ' ')
       |      ELSE array_to_string(toks[cut + 1 : len(toks)], ' ')
       |    END AS resp
       |  FROM p0),
       |f AS (SELECT doc_id, prompt, resp,
       |    CAST(len(string_split(prompt, ' ')) AS INT) AS n_prompt_toks,
       |    CAST(CASE WHEN resp = '' THEN 0
       |      ELSE len(string_split(resp, ' ')) END AS INT) AS n_resp_toks
       |  FROM pairs WHERE length(prompt) > 0)""".stripMargin

  /** The q126 classifier refit, shared by the q126 and q179 oracles:
    * identical hashing, split, priors and per-bucket weights; callers
    * append their own final SELECT over `f` (doc features) and `w`
    * (bucket weights). */
  private val clsOracleCore: String =
    """WITH base AS (
      |  SELECT doc_id, lang = 'en' AS is_pos,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#cls'), 1, 8))
      |      ::BIGINT < 3435973836 AS is_train,
      |    string_split(lower(text), ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |fa AS (
      |  SELECT doc_id, is_pos, is_train,
      |    list_concat(toks, CASE WHEN len(toks) < 2 THEN []
      |      ELSE list_transform(range(1, len(toks)),
      |        i -> toks[i] || ' ' || toks[i+1]) END) AS feats
      |  FROM base),
      |f AS (
      |  SELECT DISTINCT doc_id, is_pos, is_train,
      |    ('0x' || substr(md5(feat), 1, 8))::BIGINT % 4096 AS bucket
      |  FROM (SELECT doc_id, is_pos, is_train, unnest(feats) AS feat
      |        FROM fa)),
      |tot AS (
      |  SELECT CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT)
      |      AS tot_pos,
      |    CAST(count(CASE WHEN NOT is_pos THEN 1 END) AS BIGINT)
      |      AS tot_neg
      |  FROM base WHERE is_train),
      |cnt AS (
      |  SELECT bucket,
      |    CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS n_pos,
      |    CAST(count(CASE WHEN NOT is_pos THEN 1 END) AS BIGINT) AS n_neg
      |  FROM f WHERE is_train GROUP BY bucket),
      |w AS (SELECT bucket, n_pos * tot_neg - n_neg * tot_pos AS w
      |  FROM cnt, tot)
      |""".stripMargin

  // 2-gram positions: range(1, len) = 1..len-1 (DuckDB range excludes the
  // upper bound), toks[i:i+1] = the 2 tokens at i — mirrors word_shingles
  // exactly (same convention as the q67 3-gram oracle).
  val oracles: Map[String, String] = Map(
    // markup strip: rebuild the same synthetic page, replay the identical
    // regexp/replace chain (Java∩RE2 patterns, 'g' flag = Spark's
    // replace-all default, entity order &amp;-LAST so &amp;lt;
    // single-decodes), then the same line mining: trimmed non-empty
    // lines, per-(source, line) distinct-doc counts, >= 30 → template,
    // survivors rejoined by chr(10) in line order
    "q150_strip_markup" ->
      """WITH d0 AS (SELECT doc_id, source, text FROM documents
        |  WHERE text IS NOT NULL),
        |synth AS (SELECT doc_id, source,
        |  '<html><head><title>doc</title><style>p { color: #fff; }</style>'
        |  || '<script>if (a < b && c > 0) { run(); }</script></head>'
        |  || chr(10) || '<body>' || chr(10) || '<!-- generated' || chr(10)
        |  || ' by graft -->' || chr(10) || '<p>' || text || '</p>'
        |  || chr(10) || '<div class="nav">Home &amp; Search &lt;beta&gt;</div>'
        |  || chr(10) || '</body></html>' AS t
        |  FROM d0),
        |st AS (SELECT doc_id, source,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        t,
        |        '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |        '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \t\r\f]+', ' ', 'g')) AS s
        |  FROM synth),
        |lines AS (SELECT doc_id, source,
        |    unnest(range(1, len(parts) + 1)) AS ln, unnest(parts) AS line
        |  FROM (SELECT doc_id, source, string_split(s, chr(10)) AS parts
        |    FROM st)),
        |nz AS (SELECT doc_id, source, ln, trim(line) AS norm
        |  FROM lines WHERE trim(line) <> ''),
        |tpl AS (SELECT source, norm FROM (
        |    SELECT source, norm, count(DISTINCT doc_id) AS nd
        |    FROM nz GROUP BY source, norm) WHERE nd >= 30),
        |kept AS (SELECT nz.* FROM nz ANTI JOIN tpl USING (source, norm)),
        |reb AS (SELECT doc_id, string_agg(norm, chr(10) ORDER BY ln)
        |    AS clean FROM kept GROUP BY doc_id)
        |SELECT d0.doc_id, md5(coalesce(reb.clean, '')) AS clean_fp,
        |  CAST(length(coalesce(reb.clean, '')) AS BIGINT) AS n_chars
        |FROM d0 LEFT JOIN reb USING (doc_id) ORDER BY d0.doc_id""".stripMargin,

    // k-anonymity: level-0 classes over (segment, nation), level-1 over
    // (segment, region) via the nation→region hierarchy, k = 10 verdicts
    "q138_privacy_k_anonymity" ->
      """WITH nat AS (SELECT CAST(n_nationkey AS BIGINT) AS nation,
        |    CAST(n_regionkey AS BIGINT) AS region FROM nation),
        |r AS (SELECT c_mktsegment AS segment,
        |    CAST(c_nationkey AS BIGINT) AS nation FROM customer),
        |r2 AS (SELECT r.segment, r.nation, nat.region
        |  FROM r JOIN nat USING (nation)),
        |l0 AS (SELECT segment, nation, CAST(count(*) AS BIGINT)
        |    AS class_size FROM r2 GROUP BY segment, nation),
        |l1 AS (SELECT segment, region, CAST(count(*) AS BIGINT)
        |    AS gen_size FROM r2 GROUP BY segment, region)
        |SELECT l0.segment, l0.nation, nat.region, l0.class_size,
        |  l0.class_size >= 10 AS anonymous,
        |  l1.gen_size, l1.gen_size >= 10 AS anonymous_generalized
        |FROM l0 JOIN nat USING (nation)
        |  JOIN l1 ON l1.segment = l0.segment AND l1.region = nat.region
        |ORDER BY l0.segment, l0.nation""".stripMargin,

    // l-diversity: per-(nation, balance band) class, distinct-sensitive
    // count + majority-sensitive count; the +100000 shift keeps the band
    // div non-negative (Spark div truncates, DuckDB // floors); window-free
    "q146_privacy_l_diversity" ->
      """WITH r AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      + 100000) // 100000 AS bal_band,
        |    c_mktsegment AS segment FROM customer),
        |g AS (SELECT nation, bal_band, segment,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM r GROUP BY nation, bal_band, segment)
        |SELECT nation, bal_band, CAST(sum(cnt) AS BIGINT) AS class_size,
        |  CAST(count(*) AS BIGINT) AS n_sensitive,
        |  count(*) >= 3 AS diverse,
        |  max(cnt) AS top_sensitive
        |FROM g GROUP BY nation, bal_band
        |ORDER BY nation, bal_band""".stripMargin,

    // length-bucketed batching: power-of-two bins, md5-shuffled per
    // (source, bucket) pools, batch-of-8 manifest with padding evidence
    "q163_pack_length_buckets" ->
      """WITH dd AS (SELECT doc_id, source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
        |    md5('lb:' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents WHERE text IS NOT NULL),
        |b0 AS (SELECT *, CAST(CASE WHEN n_tok < 64 THEN 0
        |    WHEN n_tok < 128 THEN 1 WHEN n_tok < 256 THEN 2
        |    ELSE 3 END AS BIGINT) AS bucket FROM dd),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY source, bucket ORDER BY k, doc_id) AS BIGINT)
        |    AS rn FROM b0),
        |b1 AS (SELECT doc_id, source, n_tok, bucket,
        |    (rn - 1) // 8 AS batch_idx, (rn - 1) % 8 AS pos FROM r),
        |b2 AS (SELECT *, max(n_tok) OVER (
        |    PARTITION BY source, bucket, batch_idx) AS batch_max FROM b1)
        |SELECT doc_id, source, n_tok, bucket, batch_idx, pos, batch_max,
        |  batch_max - n_tok AS pad
        |FROM b2 ORDER BY doc_id""".stripMargin,

    // URL canonicalization: identical regex chain in the Java∩RE2
    // intersection; utm filter + param sort via list ops; window count
    "q164_url_normalize" ->
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'http://www.example.com/p'
        |        || CAST(doc_id // 3 AS VARCHAR) || '?a=1&b=2'
        |      WHEN doc_id % 3 = 1 THEN 'HTTP://WWW.EXAMPLE.COM:80/p'
        |        || CAST(doc_id // 3 AS VARCHAR) || '?b=2&a=1&utm_source=x'
        |      ELSE 'http://example.com/p'
        |        || CAST(doc_id // 3 AS VARCHAR) || '/?a=1&b=2#frag'
        |    END AS url
        |  FROM documents),
        |parts AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(lower(regexp_extract(url,
        |      '^[A-Za-z]+://([^/?#]+)', 1)), '^www\.', ''), ':80$', '')
        |      AS host,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS p0,
        |    regexp_extract(url, '\?([^#]*)', 1) AS q0
        |  FROM u),
        |norm AS (SELECT doc_id, url,
        |    scheme || '://' || host ||
        |    (CASE WHEN p0 = '' OR p0 = '/' THEN '/'
        |      ELSE regexp_replace(p0, '/$', '') END) ||
        |    (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) AS url_norm
        |  FROM (SELECT *, array_to_string(list_sort(list_filter(
        |      string_split(q0, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x, '^utm_'))), '&') AS q2
        |    FROM parts))
        |SELECT doc_id, url, url_norm, md5(url_norm) AS norm_fp,
        |  count(*) OVER (PARTITION BY url_norm) AS n_variants
        |FROM norm ORDER BY doc_id""".stripMargin,

    // link graph: identical page synthesis, regexp_extract_all anchors,
    // SEMI/ANTI join degree splits (corpus vs broken targets)
    "q178_link_graph" ->
      """WITH pages AS (SELECT doc_id,
        |    '<p>' || text || '</p><a href="/doc/'
        |    || CAST((doc_id * 3 + 1) % 500 AS VARCHAR)
        |    || '">x</a> <a href="/doc/'
        |    || CAST((doc_id * 7 + 2) % 500 AS VARCHAR) || '">y</a>'
        |    || CASE WHEN doc_id % 4 = 0 THEN ' <a href="/doc/'
        |      || CAST((doc_id * 13 + 5) % 500 AS VARCHAR) || '">z</a>'
        |      ELSE '' END AS html
        |  FROM documents WHERE text IS NOT NULL),
        |edges AS (SELECT doc_id AS src,
        |    CAST(unnest(regexp_extract_all(html,
        |      'href="/doc/([0-9]+)"', 1)) AS BIGINT) AS dst
        |  FROM pages),
        |ids AS (SELECT doc_id AS dst FROM documents
        |  WHERE text IS NOT NULL),
        |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg
        |  FROM edges SEMI JOIN ids USING (dst) GROUP BY src),
        |brok AS (SELECT src, CAST(count(*) AS BIGINT) AS n_broken
        |  FROM edges ANTI JOIN ids USING (dst) GROUP BY src),
        |ind AS (SELECT dst AS doc_id, CAST(count(*) AS BIGINT) AS in_deg
        |  FROM edges SEMI JOIN ids USING (dst) GROUP BY dst)
        |SELECT d.doc_id, coalesce(o.out_deg, 0) AS out_deg,
        |  coalesce(b.n_broken, 0) AS n_broken,
        |  coalesce(i.in_deg, 0) AS in_deg
        |FROM documents d
        |LEFT JOIN outd o ON d.doc_id = o.src
        |LEFT JOIN brok b ON d.doc_id = b.src
        |LEFT JOIN ind i USING (doc_id)
        |WHERE d.text IS NOT NULL
        |ORDER BY d.doc_id""".stripMargin,

    // blocklist screening: the oracle enumerates every start position per
    // (doc, pattern) via scalar-context range + substr equality — all
    // occurrences INCLUDING overlapping, the Aho–Corasick semantics; the
    // kernel's UTF-16 positions coincide with DuckDB's code-point
    // positions on this ASCII corpus
    "q172_text_blocklist" ->
      """WITH pats AS (SELECT * FROM (VALUES ('slow scan'), ('big table'),
        |    ('row scan'), ('scan'), ('fast merge'), ('a a')) p(pat)),
        |m AS (SELECT d.doc_id, p.pat,
        |    list_filter(range(1, length(d.text) - length(p.pat) + 2),
        |      i -> substr(lower(d.text), CAST(i AS INT), length(p.pat))
        |        = p.pat) AS hits
        |  FROM documents d, pats p
        |  WHERE d.text IS NOT NULL),
        |agg AS (SELECT doc_id, CAST(sum(len(hits)) AS INT) AS n_occ,
        |    CAST(count(*) FILTER (WHERE len(hits) > 0) AS INT) AS n_pats,
        |    CAST(min(CASE WHEN len(hits) > 0 THEN hits[1] END) AS INT)
        |      AS first_pos
        |  FROM m GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_occ, 0) AS n_occ,
        |  coalesce(a.n_pats, 0) AS n_pats,
        |  coalesce(a.first_pos, 0) AS first_pos,
        |  (coalesce(a.n_pats, 0) >= 2 OR coalesce(a.n_occ, 0) >= 8)
        |    AS blocked
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |WHERE d.text IS NOT NULL
        |ORDER BY d.doc_id""".stripMargin,

    // snapshot diff: full-outer fingerprint join, verdict per doc
    "q156_corpus_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS old_fp
        |  FROM documents WHERE doc_id % 7 <> 1),
        |n AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 2 THEN text || ' rev2'
        |      ELSE text END) AS new_fp
        |  FROM documents WHERE doc_id % 11 <> 3)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.old_fp IS NULL THEN 'added'
        |    WHEN n.new_fp IS NULL THEN 'removed'
        |    WHEN o.old_fp = n.new_fp THEN 'same'
        |    ELSE 'changed' END AS status,
        |  COALESCE(o.old_fp, '') AS old_fp,
        |  COALESCE(n.new_fp, '') AS new_fp
        |FROM o FULL JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    // t-closeness: exact-integer ordered-EMD — band grid per class, BIGINT
    // cumulative sums of (cnt·N − C·n_g), rational (num, den) output with a
    // cross-multiplied t = 0.2 verdict; window sum(BIGINT) is HUGEINT in
    // DuckDB → cast back (the q91 rule)
    "q152_privacy_t_closeness" ->
      """WITH r AS (SELECT c_mktsegment AS segment,
        |    CAST(c_nationkey AS BIGINT) AS nation,
        |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      + 100000) // 100000 AS band FROM customer),
        |g AS (SELECT band, CAST(count(*) AS BIGINT) AS gcnt
        |  FROM r GROUP BY band),
        |t AS (SELECT CAST(sum(gcnt) AS BIGINT) AS n_total,
        |    CAST(count(*) AS BIGINT) AS m_bands FROM g),
        |cl AS (SELECT segment, nation, CAST(count(*) AS BIGINT)
        |    AS class_size FROM r GROUP BY segment, nation),
        |pc AS (SELECT segment, nation, band, CAST(count(*) AS BIGINT)
        |    AS cnt FROM r GROUP BY segment, nation, band),
        |grid AS (SELECT cl.segment, cl.nation, cl.class_size, g.band,
        |    g.gcnt, COALESCE(pc.cnt, 0) AS cnt
        |  FROM cl CROSS JOIN g
        |  LEFT JOIN pc ON pc.segment = cl.segment
        |    AND pc.nation = cl.nation AND pc.band = g.band),
        |cum AS (SELECT segment, nation, class_size, t.n_total, t.m_bands,
        |    CAST(sum(cnt * t.n_total - gcnt * class_size) OVER (
        |      PARTITION BY segment, nation ORDER BY band) AS BIGINT) AS s_i
        |  FROM grid, t)
        |SELECT segment, nation, class_size,
        |  CAST(sum(abs(s_i)) AS BIGINT) AS emd_num,
        |  class_size * n_total * (m_bands - 1) AS emd_den,
        |  CAST(sum(abs(s_i)) AS BIGINT) * 5
        |    <= class_size * n_total * (m_bands - 1) AS t_close
        |FROM cum GROUP BY segment, nation, class_size, n_total, m_bands
        |ORDER BY segment, nation""".stripMargin,

    // temperature mixing: sqrt weights (correctly-rounded IEEE — the one
    // oracle-safe power), source-ordered fold normalizer, floor budgets,
    // md5-rank selection, additive checksum — mirrored op-for-op
    // Neyman allocation: exact-rational within-source variance, σ and
    // weights as single correctly-rounded ops, source-ordered sequential
    // normalizer fold (the q136 machinery), md5-rank draw + checksum;
    // moment sums CAST back from HUGEINT (the q91 rule)
    // generalization chooser: same shifted-cents bands, widths unnested,
    // the same one-pass class counts; min-satisfying width via a scalar
    // subselect mirrored by the broadcast min
    "q235_privacy_generalization" ->
      """WITH r AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      + 100000 AS cents
        |  FROM customer),
        |ws AS (SELECT unnest([WIDTHS_LIST]) AS w),
        |cl AS (SELECT ws.w, r.nation, r.cents // ws.w AS band,
        |    CAST(count(*) AS BIGINT) AS class_size
        |  FROM r, ws GROUP BY ws.w, r.nation, r.cents // ws.w),
        |per AS (SELECT w, CAST(count(*) AS BIGINT) AS n_classes,
        |    min(class_size) AS min_class,
        |    CAST(count(CASE WHEN class_size < 10 THEN 1 END) AS BIGINT)
        |      AS n_fail_classes,
        |    CAST(coalesce(sum(CASE WHEN class_size < 10
        |      THEN class_size END), 0) AS BIGINT) AS n_rows_at_risk
        |  FROM cl GROUP BY w),
        |st AS (SELECT min(CASE WHEN min_class >= 10 THEN w END)
        |    AS w_min_ok FROM per)
        |SELECT CAST(per.w AS BIGINT) AS w, per.n_classes, per.min_class,
        |  per.n_fail_classes, per.n_rows_at_risk,
        |  coalesce(per.w = st.w_min_ok, FALSE) AS chosen,
        |  CAST(coalesce(st.w_min_ok, -1) AS BIGINT) AS w_star
        |FROM per, st ORDER BY w""".stripMargin
        .replace("WIDTHS_LIST", "100, 200, 400, 800, 1600, 3200, 6400, 12800, 25600, 51200, 102400, 204800, 409600, 819200, 1638400"),

    // packing efficiency: same token counts, the identical integer
    // ceilings/floors; HUGEINT sums cast back (the q91 gotcha)
    "q232_packing_efficiency" ->
      """WITH t AS (SELECT source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |    CAST(sum(least(n_tok, 128)) AS BIGINT) AS kept_single,
        |    CAST(sum(greatest(n_tok - 128, 0)) AS BIGINT) AS trunc_loss
        |  FROM t GROUP BY source),
        |b AS (SELECT source, n_docs, sum_tokens, kept_single, trunc_loss,
        |    n_docs * 128 - kept_single AS pad_single,
        |    (1000 * kept_single) // (n_docs * 128) AS util_single_pm,
        |    sum_tokens + n_docs AS stream_len,
        |    (sum_tokens + n_docs + 127) // 128 AS n_ex_packed
        |  FROM a)
        |SELECT source, n_docs, sum_tokens, kept_single, trunc_loss,
        |  pad_single, util_single_pm, stream_len, n_ex_packed,
        |  n_ex_packed * 128 - stream_len AS pad_packed,
        |  (1000 * sum_tokens) // (n_ex_packed * 128) AS util_packed_pm
        |FROM b ORDER BY source""".stripMargin,

    // McNemar: the clsOracleCore refit's keep verdict paired with the
    // q115 gopher CTEs on the same doc_ids; disagreement cells and the
    // cross-multiplied chi-square verdict in pure integers
    "q229_mcnemar_filters" ->
      (clsOracleCore +
      """, scored AS (SELECT f.doc_id, bool_or(f.is_pos) AS is_pos,
        |    bool_or(f.is_train) AS is_train,
        |    CAST(coalesce(sum(w.w), 0) AS BIGINT) > 0 AS cls_keep
        |  FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id),
        |gt AS (SELECT doc_id, text,
        |    string_split(lower(text), ' ') AS toks FROM documents),
        |gf AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n,
        |    CAST(len(replace(text, ' ', '')) AS BIGINT) AS sumlen,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(toks, x -> contains(x, '#')
        |      OR contains(x, '...'))) AS BIGINT) AS n_sym,
        |    CAST(len(list_intersect(toks,
        |      ['the', 'a', 'to', 'of', 'and', 'in', 'is'])) AS BIGINT)
        |      AS n_stop
        |  FROM gt),
        |gk AS (SELECT doc_id,
        |    COALESCE(n >= 50 AND n <= 100000, FALSE)
        |      AND COALESCE(3 * n <= sumlen AND sumlen <= 10 * n, FALSE)
        |      AND COALESCE(5 * n_alpha >= 4 * n, FALSE)
        |      AND COALESCE(n_stop >= 2, FALSE)
        |      AND COALESCE(10 * n_sym <= n, FALSE) AS gopher_keep
        |  FROM gf),
        |p AS (SELECT (s.cls_keep = s.is_pos) AS cls_right,
        |    (gk.gopher_keep = s.is_pos) AS gop_right
        |  FROM scored s JOIN gk USING (doc_id) WHERE NOT s.is_train),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(CASE WHEN cls_right AND gop_right THEN 1 END)
        |      AS BIGINT) AS both_right,
        |    CAST(count(CASE WHEN NOT cls_right AND NOT gop_right THEN 1
        |      END) AS BIGINT) AS both_wrong,
        |    CAST(count(CASE WHEN cls_right AND NOT gop_right THEN 1 END)
        |      AS BIGINT) AS b_cls_only,
        |    CAST(count(CASE WHEN NOT cls_right AND gop_right THEN 1 END)
        |      AS BIGINT) AS c_gop_only
        |  FROM p)
        |SELECT n, both_right, both_wrong, b_cls_only, c_gop_only,
        |  CASE WHEN b_cls_only + c_gop_only > 0 THEN
        |    ((b_cls_only - c_gop_only) * (b_cls_only - c_gop_only) * 1000)
        |      // (b_cls_only + c_gop_only) END AS mcnemar_x1000,
        |  (b_cls_only - c_gop_only) * (b_cls_only - c_gop_only) * 1000 >
        |    3841 * (b_cls_only + c_gop_only) AS significant,
        |  CASE WHEN (b_cls_only - c_gop_only) *
        |      (b_cls_only - c_gop_only) * 1000 <=
        |      3841 * (b_cls_only + c_gop_only) THEN 'tie'
        |    WHEN b_cls_only > c_gop_only THEN 'classifier'
        |    ELSE 'gopher' END AS winner
        |FROM a""".stripMargin),

    // isotonic calibration: same refit + margin histogram, the identical
    // minimax closed form — every mean ONE division of exact prefix-sum
    // differences, so doubles (and their min/max) agree bit-for-bit
    "q228_isotonic_calibration" ->
      (clsOracleCore +
      """, scored AS (SELECT f.doc_id, bool_or(f.is_pos) AS is_pos,
        |    bool_or(f.is_train) AS is_train,
        |    CAST(coalesce(sum(w.w), 0) AS BIGINT) AS margin
        |  FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id),
        |h AS (SELECT margin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS p
        |  FROM scored WHERE NOT is_train GROUP BY margin),
        |pre AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY margin) AS BIGINT) AS ord,
        |    CAST(sum(p) OVER (ORDER BY margin ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cp,
        |    CAST(sum(n) OVER (ORDER BY margin ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cn
        |  FROM h),
        |a AS (SELECT i.ord AS i, j.ord AS j,
        |    CAST(j.cp - (i.cp - i.p) AS DOUBLE) /
        |      (j.cn - (i.cn - i.n)) AS avg
        |  FROM pre i JOIN pre j ON i.ord <= j.ord),
        |m AS (SELECT i, j AS k,
        |    min(avg) OVER (PARTITION BY i ORDER BY j DESC ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS sufmin
        |  FROM a),
        |iso AS (SELECT k AS ord, iso FROM (
        |    SELECT i, k, max(sufmin) OVER (PARTITION BY k ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iso
        |    FROM m) WHERE i = k)
        |SELECT pre.margin, pre.n, pre.p,
        |  CAST(pre.p AS DOUBLE) / pre.n AS raw_rate,
        |  iso.iso AS iso_prob
        |FROM pre JOIN iso USING (ord) ORDER BY margin""".stripMargin),

    // concentration: same token mass, HUGEINT for Σx²/T² (≡ Spark's
    // DECIMAL(38,0)), window sums cast back (the q91 gotcha), ranks
    // deterministic via (mass, source) ties
    "q227_source_concentration" ->
      """WITH dm AS (SELECT source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS x
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(x) AS BIGINT) AS tok_mass
        |  FROM dm GROUP BY source),
        |tot AS (SELECT CAST(sum(tok_mass) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS n_src,
        |    sum(CAST(tok_mass AS HUGEINT) * tok_mass) AS sq
        |  FROM st),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY tok_mass, source) AS BIGINT)
        |      AS rank_asc,
        |    CAST(row_number() OVER (ORDER BY tok_mass DESC, source)
        |      AS BIGINT) AS rnk,
        |    CAST(sum(tok_mass) OVER (ORDER BY tok_mass DESC, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_mass
        |  FROM st),
        |g AS (SELECT CAST(sum(rank_asc * tok_mass) AS BIGINT) AS srx FROM r)
        |SELECT r.source, r.n_docs, r.tok_mass, r.rnk AS rank,
        |  (1000 * r.tok_mass) // tot.t AS share_pm,
        |  (1000 * r.cum_mass) // tot.t AS cum_share_pm,
        |  CAST((1000000 * tot.sq) //
        |    (CAST(tot.t AS HUGEINT) * tot.t) AS BIGINT) AS hhi_x1e6,
        |  2 * g.srx - (tot.n_src + 1) * tot.t AS gini_num,
        |  tot.n_src * tot.t AS gini_den,
        |  CAST(2 * g.srx - (tot.n_src + 1) * tot.t AS DOUBLE) /
        |    (tot.n_src * tot.t) AS gini
        |FROM r, tot, g ORDER BY rank""".stripMargin,

    "q221_neyman_allocation" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS x
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM d GROUP BY source),
        |v AS (SELECT *, n_docs * sxx - sx * sx AS var_num,
        |    sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
        |      / CAST(n_docs * n_docs AS DOUBLE)) AS sigma
        |  FROM st),
        |wv AS (SELECT *, CAST(n_docs AS DOUBLE) * sigma AS weight FROM v),
        |t AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(weight ORDER BY source)), (a, x) -> a + x) AS w_total
        |  FROM wv),
        |b AS (SELECT wv.source, n_docs, sx, var_num, sigma, weight,
        |    CAST(floor(weight / t.w_total * 1000.0) AS BIGINT) AS alloc
        |  FROM wv, t),
        |b2 AS (SELECT *, least(alloc, n_docs) AS kept FROM b),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM d),
        |sel AS (SELECT r.source, r.doc_id FROM r JOIN b2 USING (source)
        |  WHERE r.rk <= b2.kept),
        |cs AS (SELECT source, CAST(sum(doc_id) AS BIGINT) AS sel_checksum
        |  FROM sel GROUP BY source)
        |SELECT b2.source, b2.n_docs, b2.sx, b2.var_num, b2.sigma,
        |  b2.weight, b2.alloc, b2.kept,
        |  COALESCE(cs.sel_checksum, 0) AS sel_checksum
        |FROM b2 LEFT JOIN cs USING (source)
        |ORDER BY b2.source""".stripMargin,

    "q136_mix_temperature" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source)),
        |      (a, x) -> a + x) AS w_total
        |  FROM c),
        |b AS (SELECT c.source, c.n_docs,
        |    sqrt(CAST(c.n_docs AS DOUBLE)) AS weight,
        |    CAST(floor((sqrt(CAST(c.n_docs AS DOUBLE)) / t.w_total)
        |      * CAST(t.n_total // 2 AS DOUBLE)) AS BIGINT) AS budget
        |  FROM c, t),
        |b2 AS (SELECT source, n_docs, weight, budget,
        |    least(n_docs, budget) AS kept FROM b),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents),
        |sel AS (SELECT r.source, r.doc_id FROM r JOIN b2 USING (source)
        |  WHERE r.rk <= b2.kept),
        |s AS (SELECT source, CAST(sum(doc_id) AS BIGINT) AS sel_checksum
        |  FROM sel GROUP BY source)
        |SELECT b2.source, b2.n_docs, b2.weight, b2.budget, b2.kept,
        |  COALESCE(s.sel_checksum, 0) AS sel_checksum
        |FROM b2 LEFT JOIN s USING (source)
        |ORDER BY b2.source""".stripMargin,

    // sequence packing: q91's md5-ordered per-source running offset with a
    // +1 separator per doc (window sum CAST back from HUGEINT), then each
    // doc explodes over the examples its token interval crosses — pure
    // BIGINT interval math
    "q118_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS o
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(sum(n_tok + 1) OVER (PARTITION BY source ORDER BY o, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM d),
        |s AS (SELECT doc_id, source, n_tok, cum - (n_tok + 1) AS strt FROM c),
        |e AS (SELECT doc_id, source, n_tok, strt,
        |    unnest(range(strt // 128, (strt + n_tok - 1) // 128 + 1)) AS ex
        |  FROM s)
        |SELECT doc_id, source, n_tok, ex,
        |  GREATEST(strt, ex * 128) - strt + 1 AS doc_from,
        |  LEAST(strt + n_tok, (ex + 1) * 128) - strt AS doc_to,
        |  GREATEST(strt, ex * 128) - ex * 128 AS ex_off
        |FROM e ORDER BY source, ex, doc_id""".stripMargin,

    // repetition collapse: identical positional drop predicate (guards
    // FIRST in each conjunct — FALSE AND NULL = FALSE covers DuckDB's
    // out-of-range NULL/negative-wrap indexing), rebuild from survivors
    "q116_collapse_repeats" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |m AS (SELECT doc_id, toks, len(toks) AS n,
        |    list_transform(range(1, len(toks) + 1), p ->
        |      COALESCE(p >= 2 AND toks[p] = toks[p-1], FALSE)
        |      OR COALESCE(p >= 3 AND p < len(toks)
        |        AND toks[p] = toks[p-2] AND toks[p+1] = toks[p-1], FALSE)
        |      OR COALESCE(p >= 4
        |        AND toks[p] = toks[p-2] AND toks[p-1] = toks[p-3], FALSE)) AS drops
        |  FROM t)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
        |  CAST(len(list_filter(range(1, n + 1), p -> drops[p])) AS BIGINT)
        |    AS n_removed,
        |  array_to_string(list_transform(
        |    list_filter(range(1, n + 1), p -> NOT drops[p]), p -> toks[p]), ' ')
        |    AS cleaned
        |FROM m ORDER BY doc_id""".stripMargin,

    // Gopher rules: every ratio cross-multiplied to BIGINT comparisons
    // (no doubles anywhere); list_intersect is distinct like Spark's
    // array_intersect; NULL text → every flag COALESCEd to false
    "q115_gopher_rules" ->
      """WITH t AS (SELECT doc_id, text,
        |    string_split(lower(text), ' ') AS toks FROM documents),
        |f AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n,
        |    CAST(len(replace(text, ' ', '')) AS BIGINT) AS sumlen,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(toks, x -> contains(x, '#')
        |      OR contains(x, '...'))) AS BIGINT) AS n_sym,
        |    CAST(len(list_intersect(toks,
        |      ['the', 'a', 'to', 'of', 'and', 'in', 'is'])) AS BIGINT) AS n_stop
        |  FROM t)
        |SELECT doc_id,
        |  COALESCE(n >= 50 AND n <= 100000, FALSE) AS r_wordcount,
        |  COALESCE(3 * n <= sumlen AND sumlen <= 10 * n, FALSE) AS r_meanlen,
        |  COALESCE(5 * n_alpha >= 4 * n, FALSE) AS r_alpha,
        |  COALESCE(n_stop >= 2, FALSE) AS r_stop,
        |  COALESCE(10 * n_sym <= n, FALSE) AS r_symbol,
        |  COALESCE(n >= 50 AND n <= 100000, FALSE)
        |    AND COALESCE(3 * n <= sumlen AND sumlen <= 10 * n, FALSE)
        |    AND COALESCE(5 * n_alpha >= 4 * n, FALSE)
        |    AND COALESCE(n_stop >= 2, FALSE)
        |    AND COALESCE(10 * n_sym <= n, FALSE) AS kept
        |FROM f ORDER BY doc_id""".stripMargin,

    // DSIR importance weights: feats = toks ++ bigrams (two unnest()s zip
    // row-wise — the q97 trick — giving each feature its 1-based position);
    // bucket = first-8-md5-hex % 64; both models from ONE grouped pass;
    // ratio = exact BIGINT products with a single double division; weight =
    // position-ordered sequential product (list_reduce ≡ Spark aggregate)
    "q110_dsir_importance" ->
      """WITH base AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |    string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |fa AS (
        |  SELECT doc_id, is_target,
        |    list_concat(toks, CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END) AS feats
        |  FROM base),
        |f AS (
        |  SELECT doc_id, is_target,
        |    unnest(range(1, len(feats) + 1)) AS pos,
        |    unnest(feats) AS feat
        |  FROM fa),
        |fb AS (
        |  SELECT doc_id, is_target, pos,
        |    ('0x' || substr(md5(feat), 1, 8))::BIGINT % 64 AS bucket
        |  FROM f),
        |c AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_r,
        |    CAST(count(CASE WHEN is_target THEN 1 END) AS BIGINT) AS cnt_t
        |  FROM fb GROUP BY bucket),
        |t AS (SELECT CAST(sum(cnt_r) AS BIGINT) AS total_r,
        |    CAST(sum(cnt_t) AS BIGINT) AS total_t FROM c),
        |r AS (
        |  SELECT bucket,
        |    CAST((cnt_t + 1) * (t.total_r + 64) AS DOUBLE) /
        |      ((cnt_r + 1) * (t.total_t + 64)) AS ratio
        |  FROM c, t)
        |SELECT fb.doc_id, bool_or(fb.is_target) AS is_target,
        |  CAST(count(*) AS BIGINT) AS n_feat,
        |  list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |    list(r.ratio ORDER BY fb.pos)), (a, x) -> a * x) AS weight
        |FROM fb JOIN r USING (bucket)
        |GROUP BY fb.doc_id
        |ORDER BY weight DESC, doc_id LIMIT 50""".stripMargin,

    // classifier quality filtering: q110's hashed unigram+bigram stream
    // made binary (DISTINCT per doc), integer association-score weights
    // fit on the md5 train split, margins summed over a LEFT join so
    // unseen buckets score 0; sum(BIGINT) is HUGEINT in DuckDB → CAST
    // back (the q91 rule)
    "q126_classifier_quality" ->
      (clsOracleCore +
      """SELECT f.doc_id, bool_or(f.is_pos) AS is_pos,
        |  bool_or(f.is_train) AS is_train,
        |  CAST(count(*) AS BIGINT) AS n_feat,
        |  CAST(coalesce(sum(w.w), 0) AS BIGINT) AS margin,
        |  CAST(coalesce(sum(w.w), 0) AS BIGINT) > 0 AS predicted
        |FROM f LEFT JOIN w USING (bucket)
        |GROUP BY f.doc_id
        |ORDER BY f.doc_id""".stripMargin),

    // systematic PPS: identical md5 layout, per-source cumulative token
    // mass (HUGEINT window sums cast back), integer grid-hit counting
    "q181_sample_pps_systematic" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS w,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      AS ord
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT *, CAST(sum(w) OVER (PARTITION BY source
        |      ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS t
        |  FROM d),
        |p AS (SELECT *, greatest(t // 5, 1) AS stride,
        |    ('0x' || substr(md5(source), 1, 8))::BIGINT
        |      % greatest(t // 5, 1) + 1 AS r
        |  FROM c)
        |SELECT source, doc_id, w, cum,
        |  (cum - r + stride) // stride
        |    - (cum - w - r + stride) // stride AS n_hits,
        |  ((cum - r + stride) // stride
        |    - (cum - w - r + stride) // stride) > 0 AS selected
        |FROM p ORDER BY source, doc_id""".stripMargin,

    // loss-mask spans: same turn synthesis (list_append tail), zipped
    // unnests for (idx, turn), per-doc running length sum for offsets
    "q192_chat_loss_mask" ->
      """WITH t AS (SELECT doc_id, lower(text) AS text
        |  FROM documents WHERE text IS NOT NULL),
        |tt AS (SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0 THEN list_append(turns, 'u: bye')
        |      ELSE turns END AS turns
        |  FROM (SELECT doc_id, list_transform(
        |      range(0, 2 * least(greatest(
        |        len(string_split(text, ' ')) // 8, 1), 3)),
        |      i -> (CASE WHEN doc_id % 5 = 0 AND i = 1 THEN 'u:'
        |          WHEN i % 2 = 0 THEN 'u:' ELSE 'a:' END) || ' '
        |        || array_to_string(string_split(text, ' ')
        |          [CAST(i * 4 + 1 AS INT) : CAST(i * 4 + 4 AS INT)], ' '))
        |      AS turns
        |    FROM t)),
        |e AS (SELECT doc_id,
        |    CAST(unnest(range(1, len(turns) + 1)) AS INT) - 1 AS turn_idx,
        |    unnest(turns) AS tstr
        |  FROM tt),
        |w AS (SELECT doc_id, turn_idx, tstr,
        |    CAST(length(tstr) AS INT) AS n_chars,
        |    CAST(coalesce(sum(length(tstr) + 1) OVER (
        |      PARTITION BY doc_id ORDER BY turn_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS INT) + 1 AS char_start
        |  FROM e)
        |SELECT doc_id, turn_idx, substr(tstr, 1, 1) AS role, n_chars,
        |  char_start, char_start + n_chars - 1 AS char_end,
        |  (substr(tstr, 1, 1) = 'a') AS is_assistant
        |FROM w ORDER BY doc_id, turn_idx""".stripMargin,

    // dataset card: same global aggregates + the q173 histogram median
    // (HUGEINT window sums cast back); quality share cross-multiplied
    "q191_dataset_card" ->
      """WITH d AS (SELECT doc_id, source, lang,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(lower(text), ' ')))
        |      AS BIGINT) AS n_uniq,
        |    md5(lower(trim(text))) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |card AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_contents,
        |    CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT)
        |      AS n_en,
        |    CAST(count(CASE WHEN n_uniq * 20 >= n_tok * 7 THEN 1 END)
        |      AS BIGINT) AS n_quality
        |  FROM d),
        |hist AS (SELECT n_tok, count(*) AS c FROM d GROUP BY n_tok),
        |cum AS (SELECT n_tok,
        |    CAST(sum(c) OVER (ORDER BY n_tok) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS n FROM hist),
        |p50 AS (SELECT min(CASE WHEN cum >= (n + 1) // 2 THEN n_tok END)
        |    AS p50_tokens FROM cum)
        |SELECT card.*, p50.p50_tokens,
        |  card.n_docs - card.n_distinct_contents AS n_exact_dups
        |FROM card, p50""".stripMargin,

    // SFT audit: identical pair synthesis (list slices), checks as pure
    // string/integer algebra; position() is instr's 1-based mirror
    "q189_sft_format_audit" ->
      (sftPairSqlCore("") +
      """
        |SELECT doc_id, n_prompt_toks, n_resp_toks,
        |  (resp = '') AS is_empty,
        |  (resp <> '' AND n_resp_toks < 5) AS too_short,
        |  (position(prompt IN resp) > 0) AS is_echo,
        |  (NOT resp = '' AND NOT (resp <> '' AND n_resp_toks < 5)
        |    AND NOT position(prompt IN resp) > 0) AS keep
        |FROM f ORDER BY doc_id""".stripMargin),

    // chat audit: identical transcript synthesis, roles re-parsed with
    // the same RE2∩Java pattern, adjacent-equal count via zipped slices
    "q190_chat_turn_audit" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |built AS (SELECT doc_id, array_to_string(
        |    list_transform(range(0, 2 * least(greatest(len(toks) // 8, 1), 3)),
        |      i -> (CASE WHEN doc_id % 5 = 0 AND i = 1 THEN 'u:'
        |          WHEN i % 2 = 0 THEN 'u:' ELSE 'a:' END) || ' '
        |        || array_to_string(toks[CAST(i * 4 + 1 AS INT)
        |          : CAST(i * 4 + 4 AS INT)], ' ')), ' ') AS chat0
        |  FROM t),
        |c AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0
        |    THEN chat0 || ' u: bye' ELSE chat0 END AS chat FROM built),
        |r AS (SELECT doc_id, chat,
        |    regexp_extract_all(chat, '(?:^| )([ua]):', 1) AS roles
        |  FROM c),
        |g AS (SELECT doc_id, CAST(len(roles) AS INT) AS n_turns,
        |    roles[1] AS first_role, roles[-1] AS last_role,
        |    CAST(len(list_filter(range(1, len(roles)),
        |      i -> roles[CAST(i AS INT)] = roles[CAST(i + 1 AS INT)]))
        |      AS INT) AS n_violations
        |  FROM r)
        |SELECT doc_id, n_turns, first_role, last_role, n_violations,
        |  (first_role = 'u' AND last_role = 'a' AND n_violations = 0)
        |    AS well_formed
        |FROM g ORDER BY doc_id""".stripMargin,

    // confusion matrix: clsOracleCore refit, scored holdout, one grouped
    // pass; precision/recall are single divisions, F1 stays rational
    "q188_classifier_confusion" ->
      (clsOracleCore +
      """, scored AS (SELECT f.doc_id, bool_or(f.is_pos) AS is_pos,
        |    bool_or(f.is_train) AS is_train,
        |    CAST(coalesce(sum(w.w), 0) AS BIGINT) > 0 AS predicted
        |  FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id),
        |h AS (SELECT * FROM scored WHERE NOT is_train),
        |c AS (SELECT
        |    CAST(count(CASE WHEN predicted AND is_pos THEN 1 END)
        |      AS BIGINT) AS tp,
        |    CAST(count(CASE WHEN predicted AND NOT is_pos THEN 1 END)
        |      AS BIGINT) AS fp,
        |    CAST(count(CASE WHEN NOT predicted AND NOT is_pos THEN 1 END)
        |      AS BIGINT) AS tn,
        |    CAST(count(CASE WHEN NOT predicted AND is_pos THEN 1 END)
        |      AS BIGINT) AS fn
        |  FROM h)
        |SELECT tp, fp, tn, fn, tp + fp + tn + fn AS n_holdout,
        |  CAST(tp AS DOUBLE) / nullif(tp + fp, 0) AS precision,
        |  CAST(tp AS DOUBLE) / nullif(tp + fn, 0) AS recall,
        |  2 * tp AS f1_num, 2 * tp + fp + fn AS f1_den
        |FROM c""".stripMargin),

    // calibration: the q126 refit shared verbatim (clsOracleCore), then
    // margin-ranked holdout deciles via the q83 integer-division bin
    "q179_classifier_calibration" ->
      (clsOracleCore +
      """, scored AS (SELECT f.doc_id, bool_or(f.is_pos) AS is_pos,
        |    bool_or(f.is_train) AS is_train,
        |    CAST(coalesce(sum(w.w), 0) AS BIGINT) AS margin
        |  FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id),
        |h AS (SELECT doc_id, is_pos, margin FROM scored
        |  WHERE NOT is_train),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY margin, doc_id)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS n FROM h)
        |SELECT ((rn - 1) * 10) // n AS decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS n_pos,
        |  min(margin) AS margin_lo, max(margin) AS margin_hi,
        |  CAST(count(CASE WHEN is_pos THEN 1 END) AS DOUBLE) / count(*)
        |    AS pos_rate
        |FROM r GROUP BY 1 ORDER BY decile""".stripMargin),

    // gains/lift: same refit + scoring, rank DESC, window sums cast back
    // from HUGEINT (the q91 gotcha), identical integer fixed-point
    "q225_classifier_gain_lift" ->
      (clsOracleCore +
      """, scored AS (SELECT f.doc_id, bool_or(f.is_pos) AS is_pos,
        |    bool_or(f.is_train) AS is_train,
        |    CAST(coalesce(sum(w.w), 0) AS BIGINT) AS margin
        |  FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id),
        |h AS (SELECT doc_id, is_pos, margin FROM scored
        |  WHERE NOT is_train),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY margin DESC,
        |      doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(count(CASE WHEN is_pos THEN 1 END) OVER () AS BIGINT)
        |      AS n_pos_tot
        |  FROM h),
        |b AS (SELECT ((rn - 1) * 10) // n AS decile,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS n_pos,
        |    max(n) AS n, max(n_pos_tot) AS n_pos_tot
        |  FROM r GROUP BY 1),
        |c AS (SELECT decile, n_docs, n_pos, n, n_pos_tot,
        |    CAST(sum(n_docs) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_n,
        |    CAST(sum(n_pos) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_pos
        |  FROM b)
        |SELECT decile, n_docs, n_pos, cum_n, cum_pos,
        |  CASE WHEN n_pos_tot > 0
        |    THEN (1000 * cum_pos) // n_pos_tot END AS capture_pm,
        |  CASE WHEN n_pos_tot > 0
        |    THEN (1000 * cum_pos * n) // (n_pos_tot * cum_n) END AS lift_pm,
        |  CASE WHEN n_pos_tot > 0
        |    THEN CAST(cum_pos AS DOUBLE) / n_pos_tot END AS capture,
        |  CASE WHEN n_pos_tot > 0
        |    THEN CAST(cum_pos * n AS DOUBLE) / (n_pos_tot * cum_n) END
        |    AS lift
        |FROM c ORDER BY decile""".stripMargin),

    // span corruption: mask position p of doc iff the first-8-hex md5 of
    // "id#p" ≡ 0 (mod 10); runs of masked positions become one sentinel
    // <X_k> in the input and "<X_k> tok…" in the target. Window frames
    // explicit ROWS; string_agg coalesced to '' for unmasked docs (Spark's
    // concat_ws yields '' where DuckDB's filtered agg yields NULL).
    "q97_span_corruption" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |e AS (
        |  SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok
        |  FROM t),
        |f AS (
        |  SELECT doc_id, pos, tok,
        |    (CAST('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#',
        |      CAST(pos AS VARCHAR))), 1, 8) AS BIGINT) % 10) = 0 AS m
        |  FROM e),
        |g AS (
        |  SELECT doc_id, pos, tok, m,
        |    m AND NOT coalesce(lag(m) OVER
        |      (PARTITION BY doc_id ORDER BY pos), false) AS start
        |  FROM f),
        |h AS (
        |  SELECT doc_id, pos, tok, m, start,
        |    sum(CASE WHEN start THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY doc_id ORDER BY pos
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
        |  FROM g),
        |pc AS (
        |  SELECT doc_id, pos, m, start,
        |    CASE WHEN NOT m THEN tok
        |         WHEN start THEN concat('<X_', CAST(k - 1 AS VARCHAR), '>')
        |         ELSE '' END AS ip,
        |    CASE WHEN m AND start THEN
        |           concat('<X_', CAST(k - 1 AS VARCHAR), '> ', tok)
        |         WHEN m THEN tok ELSE '' END AS tp
        |  FROM h)
        |SELECT doc_id,
        |  CAST(count(*) FILTER (m) AS BIGINT) AS n_masked,
        |  CAST(count(*) FILTER (start) AS BIGINT) AS n_spans,
        |  coalesce(string_agg(ip, ' ' ORDER BY pos) FILTER (ip != ''), '') AS input_text,
        |  coalesce(string_agg(tp, ' ' ORDER BY pos) FILTER (tp != ''), '') AS target_text
        |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // running sum in the md5-shuffled order; DuckDB sum(BIGINT) OVER is
    // HUGEINT, so the shard division casts back to BIGINT; ROWS frame
    // explicit on both engines (RANGE would pool peer rows)
    "q91_pack_shards" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS o
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY o, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT doc_id, source, n_tok,
        |  CAST((cum - n_tok) // 400 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,

    // chunk k covers 1-based token positions [k*20+1, k*20+30]; list
    // slices truncate at the tail in both engines
    "q92_chunk_windows" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks,
        |    CAST(ceil(greatest(len(string_split(lower(text), ' ')) - 30, 0) / 20.0) AS BIGINT) + 1 AS nch
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, toks, unnest(range(0, nch)) AS k FROM d)
        |SELECT doc_id, CAST(k AS INT) AS chunk_idx,
        |  array_to_string(toks[CAST(k * 20 + 1 AS INT) : CAST(k * 20 + 30 AS INT)], ' ') AS chunk_text,
        |  CAST(len(toks[CAST(k * 20 + 1 AS INT) : CAST(k * 20 + 30 AS INT)]) AS BIGINT) AS n_tok
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q71_text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        | g AS (SELECT doc_id,
        |   CASE WHEN len(toks) < 2 THEN [] ELSE
        |     list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) END AS g2,
        |   CASE WHEN len(toks) < 3 THEN [] ELSE
        |     list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END AS g3
        | FROM t)
        |SELECT doc_id,
        |  CAST(len(g2) AS BIGINT) AS n_2grams,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END AS dup_2gram_frac,
        |  CASE WHEN len(g3) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END AS dup_3gram_frac,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |       ELSE CAST(list_max(list_transform(list_distinct(g2),
        |              g -> len(list_filter(g2, x -> x = g)))) AS DOUBLE) / len(g2) END AS top_2gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    "q72_dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        | p AS (SELECT doc_id, len(toks) AS n_tokens,
        |   unnest(list_transform(range(1, len(toks)-3),
        |     i -> {'pos': i, 'sh': array_to_string(toks[i:i+4], ' ')})) AS u
        | FROM t WHERE len(toks) >= 5),
        | q AS (SELECT doc_id, n_tokens, u.pos AS pos, u.sh AS sh FROM p),
        | dup AS (SELECT sh FROM q GROUP BY sh HAVING count(DISTINCT doc_id) > 1),
        | c AS (SELECT q.doc_id, q.n_tokens, q.pos FROM q JOIN dup USING (sh)),
        | i AS (SELECT doc_id, n_tokens, pos,
        |   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
        |        THEN 1 ELSE 0 END AS brk FROM c),
        | isl AS (SELECT doc_id, n_tokens, pos,
        |   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
        | sp AS (SELECT doc_id, island, max(n_tokens) AS n_tokens,
        |   min(pos) AS s, max(pos) + 4 AS e
        |   FROM isl GROUP BY doc_id, island)
        |SELECT doc_id,
        |  count(*) AS n_spans,
        |  CAST(sum(e - s + 1) AS BIGINT) AS covered_tokens,
        |  CAST(sum(e - s + 1) AS DOUBLE) / max(n_tokens) AS span_frac
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q73_pipeline_clean" ->
      """WITH t AS (SELECT doc_id, source, text,
        |   string_split(lower(text), ' ') AS toks FROM documents),
        | f AS (SELECT doc_id, source, text,
        |   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
        |   CASE WHEN len(toks) < 2 THEN 0.0 ELSE
        |     1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |       i -> array_to_string(toks[i:i+1], ' ')))) AS DOUBLE) / (len(toks) - 1)
        |   END AS dup_2gram_frac
        | FROM t),
        | qg AS (SELECT * FROM f WHERE uniq_ratio >= 0.35 AND dup_2gram_frac <= 0.10),
        | k AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keeper FROM qg),
        | e AS (SELECT * FROM k WHERE doc_id = keeper),
        | c AS (SELECT *, row_number() OVER (
        |   PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM e)
        |SELECT doc_id, source, uniq_ratio, dup_2gram_frac, rk
        |FROM c WHERE rk <= 15 ORDER BY doc_id""".stripMargin,

    "q75_mix_token_budget" ->
      """WITH t AS (SELECT doc_id, source,
        |   CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        | FROM documents),
        | r AS (SELECT doc_id, source, n_tokens,
        |   coalesce(sum(n_tokens) OVER (
        |     PARTITION BY source
        |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        | FROM t)
        |SELECT doc_id, source, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
        |FROM r WHERE cum_before < 800 ORDER BY doc_id""".stripMargin,

    // u is exact in both engines: integer from 8 md5 hex digits divided by
    // 2^32 (a power of two); the weight is an exact integer ratio
    "q80_sample_quality_weighted" ->
      """SELECT doc_id,
        |  CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
        |    / len(string_split(lower(text), ' ')) AS w,
        |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
        |    / 4294967296.0 AS u
        |FROM documents
        |WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
        |    / 4294967296.0
        |  < CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
        |    / len(string_split(lower(text), ' '))
        |ORDER BY doc_id""".stripMargin,

    // counts on the ORIGINAL text, replacements chained in rule order —
    // mirrors CorpusOps.redact exactly; DuckDB needs the 'g' flag (its
    // regexp_replace is first-match-only by default, Spark's is global)
    "q81_text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '\bcustomer\b', '[NAME]', 'g'),
        |    '\bspark\b', '[ORG]', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '\bcustomer\b')) AS BIGINT) AS n_name,
        |  CAST(len(regexp_extract_all(text, '\bspark\b')) AS BIGINT) AS n_org
        |FROM documents ORDER BY doc_id""".stripMargin,

    // global rank with pinned null order (Spark asc = NULLS FIRST), then
    // pure-integer decile arithmetic — `//` is DuckDB's integer division,
    // mirroring Spark's `div`
    "q83_ml_decile_bin" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        | q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS w FROM t),
        | r AS (SELECT *, row_number() OVER (ORDER BY w NULLS FIRST, doc_id) AS rn,
        |   count(*) OVER () AS n FROM q)
        |SELECT doc_id, n_tokens, w,
        |  CAST(1 + (10 * (rn - 1)) // n AS BIGINT) AS decile
        |FROM r ORDER BY doc_id""".stripMargin,

    // the distributed form is row-identical to the window form by
    // construction (DecileBinSpec) — same oracle text as q83
    "q240_ml_decile_bin_dist" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        | q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS w FROM t),
        | r AS (SELECT *, row_number() OVER (ORDER BY w NULLS FIRST, doc_id) AS rn,
        |   count(*) OVER () AS n FROM q)
        |SELECT doc_id, n_tokens, w,
        |  CAST(1 + (10 * (rn - 1)) // n AS BIGINT) AS decile
        |FROM r ORDER BY doc_id""".stripMargin,

    // pooled ratios: Σ numerator / Σ denominator over exact BIGINTs,
    // divided ONCE as double — never a cross-engine sum of doubles
    "q78_corpus_report" ->
      """WITH f AS (
        |  SELECT source,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |    CAST(len(g2) AS BIGINT) AS n_2grams,
        |    CAST(len(list_distinct(g2)) AS BIGINT) AS n_2grams_distinct,
        |    CAST(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) < 0.35
        |      OR (len(g2) > 0 AND
        |          1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) > 0.10)
        |      AS BIGINT) AS fails_gate
        |  FROM (SELECT source, string_split(lower(text), ' ') AS toks,
        |          CASE WHEN len(string_split(lower(text), ' ')) < 2 THEN []
        |               ELSE list_transform(range(1, len(string_split(lower(text), ' '))),
        |                 i -> array_to_string((string_split(lower(text), ' '))[i:i+1], ' ')) END AS g2
        |        FROM documents))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CASE WHEN sum(n_tokens) = 0 THEN 0.0
        |       ELSE CAST(sum(n_distinct) AS DOUBLE) / sum(n_tokens) END AS pooled_uniq_ratio,
        |  CASE WHEN sum(n_2grams) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(sum(n_2grams_distinct) AS DOUBLE) / sum(n_2grams) END AS pooled_dup_2gram_frac,
        |  CAST(sum(fails_gate) AS DOUBLE) / count(*) AS gate_fail_share
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "q77_text_contamination" ->
      """WITH t AS (SELECT doc_id, source, string_split(lower(text), ' ') AS toks FROM documents),
        | p AS (SELECT doc_id, source, len(toks) - 3 AS n_shingles,
        |   unnest(list_transform(range(1, len(toks)-2),
        |     i -> array_to_string(toks[i:i+3], ' '))) AS sh
        | FROM t WHERE len(toks) >= 4),
        | bench AS (SELECT DISTINCT sh FROM p WHERE source = 'src0'),
        | hits AS (SELECT p.doc_id, p.n_shingles FROM p JOIN bench USING (sh)
        |          WHERE p.source <> 'src0')
        |SELECT doc_id, count(*) AS n_contaminated,
        |  CAST(count(*) AS DOUBLE) / max(n_shingles) AS contam_frac
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // split by u = first-8-md5-hex(doc_id) / 2^32 (exact: power-of-two
    // divisor); counts and the Σdoc_id membership checksum are exact
    // BIGINTs; the stratum fraction divides ONCE as double over the
    // window total (cast back from DuckDB's HUGEINT window sum, the q91
    // gotcha)
    "q106_split_stratified" ->
      """WITH d AS (
        |  SELECT lang, source, doc_id,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS u
        |  FROM documents),
        |a AS (
        |  SELECT lang, source, doc_id, n_tok,
        |    CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM d),
        |g AS (
        |  SELECT lang, source, split, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |    CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |  FROM a GROUP BY lang, source, split)
        |SELECT lang, source, split, n_docs, sum_tokens, sum_doc_id,
        |  CAST(n_docs AS DOUBLE) /
        |    CAST(sum(n_docs) OVER (PARTITION BY lang, source) AS BIGINT)
        |    AS stratum_frac
        |FROM g ORDER BY lang, source, split""".stripMargin,

    // span removal: q72's shingle/ownership CTEs, then each non-owner
    // occurrence explodes to its k positions (scalar-context range IS
    // allowed lateral column refs, unlike the table function), tokens
    // anti-join the drop set, and the rebuild string_aggs in position
    // order; fully-copied docs keep a row with empty cleaned_text
    // incremental span removal: same shingle/position conventions as the
    // q109 oracle; the old half contributes only its (sh, owner) index,
    // the new half applies index-hit OR in-batch non-owner removal
    "q151_dedup_span_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks) - 3),
        |      i -> {'pos': i, 'sh': array_to_string(toks[i:i+4], ' ')})) AS u
        |  FROM t WHERE len(toks) >= 5),
        |q AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM p),
        |idx AS (SELECT sh, min(doc_id) AS owner FROM q
        |  WHERE doc_id < 250 GROUP BY sh),
        |nq AS (SELECT * FROM q WHERE doc_id >= 250),
        |ver AS (SELECT sh, min(doc_id) AS bowner,
        |    count(DISTINCT doc_id) AS nd FROM nq GROUP BY sh),
        |rem AS (SELECT nq.doc_id, nq.pos FROM nq
        |  JOIN ver USING (sh) LEFT JOIN idx USING (sh)
        |  WHERE idx.owner IS NOT NULL
        |     OR (ver.nd > 1 AND nq.doc_id <> ver.bowner)),
        |dp AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 5)) AS tk
        |  FROM rem),
        |tokp AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS tk,
        |  unnest(toks) AS tok FROM t WHERE doc_id >= 250),
        |kept AS (SELECT tokp.doc_id, tokp.tk, tokp.tok FROM tokp
        |  ANTI JOIN dp USING (doc_id, tk)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(tok, ' ' ORDER BY tk) AS cleaned
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(agg.cleaned, '') AS cleaned_text
        |FROM t LEFT JOIN agg USING (doc_id)
        |WHERE t.doc_id >= 250
        |ORDER BY doc_id""".stripMargin,

    "q109_dedup_span_removal" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks) - 3),
        |      i -> {'pos': i, 'sh': array_to_string(toks[i:i+4], ' ')})) AS u
        |  FROM t WHERE len(toks) >= 5),
        |q AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM p),
        |own AS (SELECT sh, min(doc_id) AS owner FROM q GROUP BY sh
        |  HAVING count(DISTINCT doc_id) > 1),
        |rem AS (SELECT q.doc_id, q.pos FROM q JOIN own USING (sh)
        |  WHERE q.doc_id <> own.owner),
        |dp AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 5)) AS tk
        |  FROM rem),
        |tokp AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS tk,
        |  unnest(toks) AS tok FROM t),
        |kept AS (SELECT tokp.doc_id, tokp.tk, tokp.tok FROM tokp
        |  ANTI JOIN dp USING (doc_id, tk)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(tok, ' ' ORDER BY tk) AS cleaned
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(agg.cleaned, '') AS cleaned_text
        |FROM t LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q76_text_rare_terms" ->
      """WITH pairs AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
        |  FROM documents),
        | p AS (SELECT * FROM pairs WHERE tok <> ''),
        | df AS (SELECT tok, count(DISTINCT doc_id) AS df_docs FROM p GROUP BY tok),
        | j AS (SELECT p.doc_id, p.tok, df.df_docs,
        |   row_number() OVER (PARTITION BY p.doc_id ORDER BY df.df_docs, p.tok) AS rn
        | FROM p JOIN df USING (tok))
        |SELECT doc_id, tok AS rare_tok, df_docs
        |FROM j WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // SFT-response→pretrain leakage: the q189 pair synthesis (src0 only,
    // clean pairs), response 4-shingles per position joined against the
    // DISTINCT shingle set of every other source; the ≥20% flag is pure
    // integer (n_leaked·5 ≥ n_sh), the fraction a single division
    "q193_sft_contamination" ->
      (sftPairSqlCore(" WHERE source = 'src0'") +
      """,
        |clean AS (SELECT doc_id, resp, n_resp_toks FROM f
        |  WHERE resp <> '' AND n_resp_toks >= 5
        |    AND position(prompt IN resp) = 0),
        |rsh AS (SELECT doc_id,
        |    unnest(list_transform(range(1, n_resp_toks - 2),
        |      i -> array_to_string(string_split(resp, ' ')[i:i+3], ' ')))
        |      AS sh
        |  FROM clean),
        |csh0 AS (SELECT unnest(list_transform(range(1, len(toks) - 2),
        |      i -> array_to_string(toks[i:i+3], ' '))) AS sh
        |  FROM t WHERE source <> 'src0' AND len(toks) >= 4),
        |csh AS (SELECT DISTINCT sh FROM csh0),
        |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_leaked
        |  FROM rsh JOIN csh USING (sh) GROUP BY doc_id)
        |SELECT c.doc_id,
        |  CAST(c.n_resp_toks - 3 AS BIGINT) AS n_resp_shingles,
        |  coalesce(h.n_leaked, 0) AS n_leaked,
        |  CAST(coalesce(h.n_leaked, 0) AS DOUBLE) / (c.n_resp_toks - 3)
        |    AS leak_frac,
        |  coalesce(h.n_leaked, 0) * 5 >= (c.n_resp_toks - 3) AS is_leaked
        |FROM clean c LEFT JOIN hits h USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin),

    // as-of membership algebra: publish seq 2 = batches b0 (ids ≡0 mod 3)
    // and b2 (≡2) — never the quarantined b1 or the later b3 revision;
    // BIGINT sums cast back from DuckDB's HUGEINT
    "q194_lake_read_asof" ->
      """WITH d AS (SELECT doc_id, source,
        |    len(string_split(lower(text), ' ')) AS n_tok
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 3 <> 1)
        |SELECT 'b' || CAST(doc_id % 3 AS VARCHAR) AS batch, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        |FROM d GROUP BY 1, 2 ORDER BY batch, source""".stripMargin,

    // snapshot diff seq2 → seq3: live(2) = residues {0,2}; live(3) adds
    // the b3 revisions (doc_id ≡ 0 mod 7, text || ' rev') which also
    // PUBLISH quarantined-residue docs for the first time (added)
    "q262_lake_snapshot_diff" ->
      """WITH d AS (SELECT doc_id, source, text FROM documents
        |  WHERE text IS NOT NULL),
        |s3 AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 IN (0, 2) THEN
        |      CASE WHEN doc_id % 7 = 0 THEN 'revised' ELSE 'unchanged' END
        |    ELSE 'added' END AS status
        |  FROM d WHERE doc_id % 3 IN (0, 2) OR doc_id % 7 = 0)
        |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM s3 GROUP BY 1, 2 ORDER BY source, status""".stripMargin,

    // diff across an erasure: all four table_changes classes recomputed
    // by residue algebra — published = mod-3 ∈ {0,2}, erased = mod-11 ≡ 4,
    // republished = mod-7 ≡ 0; CASE order makes erase-then-republish
    // 'added' (no live predecessor) and erased-never-republished 'removed'
    "q265_lake_diff_removals" ->
      """WITH d AS (SELECT doc_id, source FROM documents
        |  WHERE text IS NOT NULL),
        |cls AS (SELECT doc_id, source,
        |    CASE
        |      WHEN doc_id % 7 = 0 AND (doc_id % 3 = 1 OR doc_id % 11 = 4)
        |        THEN 'added'
        |      WHEN doc_id % 7 = 0 THEN 'revised'
        |      WHEN doc_id % 11 = 4 THEN 'removed'
        |      ELSE 'unchanged' END AS status
        |  FROM d WHERE doc_id % 3 IN (0, 2) OR doc_id % 7 = 0)
        |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM cls GROUP BY 1, 2 ORDER BY source, status""".stripMargin,

    // row-level change feed: rebuilt from the table by residue algebra
    // with recomputed pre/post-image fingerprints; deletes are
    // content-free by the GDPR receipt posture
    "q272_lake_table_changes" ->
      """WITH d AS (SELECT doc_id, source, text FROM documents
        |  WHERE text IS NOT NULL),
        |feed AS (
        |  SELECT doc_id, source, 'insert' AS change_type,
        |    CAST(NULL AS BIGINT) AS old_fp,
        |    ('0x' || substr(md5(text || ' rev'), 1, 15))::BIGINT AS new_fp
        |  FROM d WHERE doc_id % 7 = 0
        |    AND (doc_id % 3 = 1 OR doc_id % 11 = 4)
        |  UNION ALL
        |  SELECT doc_id, source, 'update',
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT,
        |    ('0x' || substr(md5(text || ' rev'), 1, 15))::BIGINT
        |  FROM d WHERE doc_id % 7 = 0 AND doc_id % 3 IN (0, 2)
        |    AND doc_id % 11 <> 4
        |  UNION ALL
        |  SELECT doc_id, source, 'delete', CAST(NULL AS BIGINT),
        |    CAST(NULL AS BIGINT)
        |  FROM d WHERE doc_id % 3 IN (0, 2) AND doc_id % 11 = 4
        |    AND doc_id % 7 <> 0)
        |SELECT doc_id, source, change_type, old_fp, new_fp
        |FROM feed ORDER BY doc_id""".stripMargin,

    // restore-to-publish: the latest live set must equal the seq-2
    // snapshot exactly — original texts (no ' rev'), no ≡1-mod-3
    // additions; fingerprint sums in HUGEINT ≡ Spark decimal(38,0),
    // surfaced as VARCHAR (the q239 digest discipline)
    "q274_lake_restore" ->
      """WITH d AS (SELECT doc_id, source, text FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 3 IN (0, 2))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
        |  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT)
        |    AS VARCHAR) AS fp_sum
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    // restore over a prior erasure: pure residue algebra — the final
    // live set is the seq-2 membership MINUS the erased residue class,
    // with ORIGINAL texts (restored images); a resurrected erased doc,
    // a surviving republished id, or a leaked " rev" text mismatches
    "q277_lake_restore_erasure" ->
      """WITH d AS (SELECT doc_id, source, text FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 3 IN (0, 2)
        |    AND doc_id % 11 <> 4)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
        |  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT)
        |    AS VARCHAR) AS fp_sum
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    // bloom-lake lookup: fingerprints recomputed from the table, the
    // probe replayed as a membership subquery (the engine's literal IN
    // list is the same deterministic h set)
    "q270_lake_bloom_lookup" ->
      """WITH d AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, source, h FROM d
        |WHERE h IN (SELECT h FROM d WHERE doc_id % 53 = 5)
        |ORDER BY doc_id""".stripMargin,

    // release-manifest digest chain rebuilt from the TABLE: batch
    // membership = the q194 WAP publish log (b0 seq 1, b2 seq 2, b3 seq 3;
    // quarantined b1 absent); canonical row text chr(1)-joins the
    // stringified columns in the lake's physical order (doc_id, source,
    // text, qc_flag) with chr(2) marking NULL; 60-bit md5 prefixes sum in
    // HUGEINT ≡ Spark decimal(38,0), surfaced as VARCHAR; the release
    // digest is the ''-seeded sequential md5 fold over batch digests in
    // publish order (list_reduce ≡ Spark aggregate)
    "q239_lake_release_manifest" ->
      """WITH d AS (SELECT doc_id, source, text FROM documents
        |  WHERE text IS NOT NULL),
        |r AS (
        |  SELECT 1 AS publish_seq, 'b0' AS batch, doc_id, source, text,
        |    TRUE AS qc_flag FROM d WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 2, 'b2', doc_id, source, text, TRUE FROM d
        |  WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT 3, 'b3', doc_id, source, text || ' rev', TRUE FROM d
        |  WHERE doc_id % 7 = 0),
        |c AS (SELECT publish_seq, batch,
        |    coalesce(CAST(doc_id AS VARCHAR), chr(2)) || chr(1) ||
        |    coalesce(source, chr(2)) || chr(1) ||
        |    coalesce(text, chr(2)) || chr(1) ||
        |    coalesce(CAST(qc_flag AS VARCHAR), chr(2)) AS canon
        |  FROM r),
        |per AS (SELECT publish_seq, batch,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(('0x' || substr(md5('1#' || canon), 1, 15))::BIGINT)
        |      AS VARCHAR) AS content_sum,
        |    CAST(sum(('0x' || substr(md5('2#' || canon), 1, 15))::BIGINT)
        |      AS VARCHAR) AS content_sum2
        |  FROM c GROUP BY 1, 2),
        |dig AS (SELECT *,
        |    md5(batch || '|' || CAST(n_rows AS VARCHAR) || '|' ||
        |      content_sum || '|' || content_sum2) AS batch_digest
        |  FROM per),
        |ch AS (SELECT *, list(batch_digest) OVER (ORDER BY publish_seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chain
        |  FROM dig)
        |SELECT CAST(publish_seq AS BIGINT) AS publish_seq, batch, n_rows,
        |  content_sum, content_sum2, batch_digest,
        |  list_reduce(list_prepend('', chain),
        |    (a, x) -> md5(a || x)) AS release_digest
        |FROM ch ORDER BY publish_seq""".stripMargin,

    // preference-pair synthesis mirrored branch-for-branch (CASE order =
    // the when-chain order, so overlapping residues resolve identically);
    // chosen has ≥6 tokens (n ≥ 8, p = n//4), so rejected always has ≥2
    // and the stutter probe needs no guard
    "q195_preference_pair_audit" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |p0 AS (SELECT doc_id, toks, len(toks) // 4 AS p FROM t
        |  WHERE len(toks) >= 8),
        |pr AS (SELECT doc_id,
        |    array_to_string(toks[p + 1 : len(toks)], ' ') AS chosen,
        |    toks[p + 1] AS firstc,
        |    len(toks) - p AS nc
        |  FROM p0),
        |pair AS (SELECT doc_id, chosen,
        |    CASE WHEN doc_id % 9 = 0 THEN chosen
        |      WHEN doc_id % 5 = 0 THEN array_to_string(
        |        (string_split(chosen, ' '))[1 : greatest(nc // 3, 1)], ' ')
        |      ELSE firstc || ' ' || firstc || ' ' || chosen END AS rejected
        |  FROM pr),
        |f AS (SELECT doc_id,
        |    CAST(len(string_split(chosen, ' ')) AS BIGINT) AS n_chosen,
        |    CAST(len(string_split(rejected, ' ')) AS BIGINT) AS n_rejected,
        |    chosen = rejected AS is_tie,
        |    (string_split(rejected, ' '))[1] =
        |      (string_split(rejected, ' '))[2] AS has_stutter
        |  FROM pair)
        |SELECT doc_id, n_chosen, n_rejected,
        |  n_chosen - n_rejected AS len_gap, is_tie, has_stutter,
        |  (NOT is_tie AND NOT has_stutter) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    // Cohen's kappa in exact integer space: po·n² and pe·n² as BIGINT
    // products, one final double division; annotator B = A XOR the mod-7
    // residue
    "q196_annotator_agreement" ->
      """WITH l AS (SELECT
        |    len(list_distinct(string_split(lower(text), ' '))) * 2 >=
        |      len(string_split(lower(text), ' ')) AS a,
        |    doc_id % 7 = 0 AS flip
        |  FROM documents WHERE text IS NOT NULL),
        |l2 AS (SELECT a, a <> flip AS b FROM l),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_agree,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS a_pos,
        |    CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b_pos
        |  FROM l2),
        |k AS (SELECT n, n_agree, a_pos, b_pos,
        |    a_pos * b_pos + (n - a_pos) * (n - b_pos) AS pe_n2
        |  FROM g)
        |SELECT n, n_agree, a_pos, b_pos,
        |  n * n_agree - pe_n2 AS kappa_num,
        |  n * n - pe_n2 AS kappa_den,
        |  CASE WHEN n * n - pe_n2 = 0 THEN 0.0
        |    ELSE CAST(n * n_agree - pe_n2 AS DOUBLE) / (n * n - pe_n2)
        |  END AS kappa
        |FROM k""".stripMargin,

    // Fleiss' κ, 3 raters / 2 categories in exact-BIGINT rationals: the
    // identical per-doc r = #TRUE reduction, denominators cleared by 18N²
    // (sum(BIGINT) is HUGEINT in DuckDB — cast every aggregate back)
    "q203_fleiss_kappa" ->
      """WITH l AS (SELECT
        |    len(list_distinct(string_split(lower(text), ' '))) * 2 >=
        |      len(string_split(lower(text), ' ')) AS a,
        |    doc_id % 7 = 0 AS f7, doc_id % 5 = 0 AS f5
        |  FROM documents WHERE text IS NOT NULL),
        |l2 AS (SELECT a, a <> f7 AS b, a <> f5 AS c FROM l),
        |l3 AS (SELECT a, b, c,
        |    CAST(CASE WHEN a THEN 1 ELSE 0 END
        |      + CASE WHEN b THEN 1 ELSE 0 END
        |      + CASE WHEN c THEN 1 ELSE 0 END AS BIGINT) AS r
        |  FROM l2),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r) AS BIGINT) AS r_sum,
        |    CAST(sum(r * r + (3 - r) * (3 - r) - 3) AS BIGINT) AS s_a,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS a_pos,
        |    CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b_pos,
        |    CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS c_pos
        |  FROM l3),
        |k AS (SELECT n, r_sum, s_a, a_pos, b_pos, c_pos,
        |    r_sum * r_sum + (3 * n - r_sum) * (3 * n - r_sum)
        |      AS pe_18n2_half
        |  FROM g)
        |SELECT n, r_sum, s_a, a_pos, b_pos, c_pos,
        |  3 * n * s_a - 2 * pe_18n2_half AS kappa_num,
        |  18 * n * n - 2 * pe_18n2_half AS kappa_den,
        |  CASE WHEN 18 * n * n - 2 * pe_18n2_half = 0 THEN 0.0
        |    ELSE CAST(3 * n * s_a - 2 * pe_18n2_half AS DOUBLE) /
        |      (18 * n * n - 2 * pe_18n2_half)
        |  END AS kappa
        |FROM k""".stripMargin,

    // Krippendorff's α with missing ratings: m = #raters present per
    // item (B skips ≡0 mod 3, C skips ≡1 mod 4), items with m < 2
    // dropped; S2 = Σ 2·r(m−r)/(m−1) stays integer because (m−1)∈{1,2}
    // (sum(BIGINT) is HUGEINT in DuckDB — cast every aggregate back)
    "q207_krippendorff_alpha" ->
      """WITH l AS (SELECT doc_id,
        |    len(list_distinct(string_split(lower(text), ' '))) * 2 >=
        |      len(string_split(lower(text), ' ')) AS a,
        |    doc_id % 3 <> 0 AS hasb, doc_id % 4 <> 1 AS hasc,
        |    doc_id % 7 = 0 AS f7, doc_id % 5 = 0 AS f5
        |  FROM documents WHERE text IS NOT NULL),
        |l2 AS (SELECT a, hasb, hasc, a <> f7 AS b, a <> f5 AS c FROM l),
        |l3 AS (SELECT
        |    CAST(1 + CASE WHEN hasb THEN 1 ELSE 0 END
        |      + CASE WHEN hasc THEN 1 ELSE 0 END AS BIGINT) AS m,
        |    CAST(CASE WHEN a THEN 1 ELSE 0 END
        |      + CASE WHEN hasb AND b THEN 1 ELSE 0 END
        |      + CASE WHEN hasc AND c THEN 1 ELSE 0 END AS BIGINT) AS r
        |  FROM l2),
        |g AS (SELECT
        |    CAST(count(CASE WHEN m >= 2 THEN 1 END) AS BIGINT)
        |      AS n_items_used,
        |    CAST(count(CASE WHEN m < 2 THEN 1 END) AS BIGINT)
        |      AS n_items_dropped,
        |    CAST(coalesce(sum(CASE WHEN m >= 2 THEN m ELSE 0 END), 0)
        |      AS BIGINT) AS n_vals,
        |    CAST(coalesce(sum(CASE WHEN m >= 2 THEN r ELSE 0 END), 0)
        |      AS BIGINT) AS n_true,
        |    CAST(coalesce(sum(CASE WHEN m >= 2 THEN
        |        CASE WHEN m = 3 THEN r * (3 - r)
        |          ELSE 2 * r * (2 - r) END
        |      ELSE 0 END), 0) AS BIGINT) AS s2
        |  FROM l3),
        |k AS (SELECT n_items_used, n_items_dropped, n_vals, n_true,
        |    n_vals - n_true AS n_false, s2 FROM g)
        |SELECT n_items_used, n_items_dropped, n_vals, n_true, n_false, s2,
        |  2 * n_true * n_false - (n_vals - 1) * s2 AS alpha_num,
        |  2 * n_true * n_false AS alpha_den,
        |  CASE WHEN 2 * n_true * n_false = 0 THEN 0.0
        |    ELSE CAST(2 * n_true * n_false - (n_vals - 1) * s2 AS DOUBLE)
        |      / (2 * n_true * n_false)
        |  END AS alpha
        |FROM k""".stripMargin,

    // exact midrank ROC-AUC from the distinct-margin histogram over the
    // refit classifier's holdout (clsOracleCore = the shared q126 refit);
    // window-sum HUGEINTs cast back per the q91 gotcha
    "q208_classifier_auc" ->
      (clsOracleCore +
      """, scored AS (SELECT f.doc_id, bool_or(f.is_pos) AS is_pos,
        |    bool_or(f.is_train) AS is_train,
        |    CAST(coalesce(sum(w.w), 0) AS BIGINT) AS margin
        |  FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id),
        |h0 AS (SELECT margin,
        |    CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS p,
        |    CAST(count(CASE WHEN NOT is_pos THEN 1 END) AS BIGINT) AS q
        |  FROM scored WHERE NOT is_train GROUP BY margin),
        |h AS (SELECT p, q,
        |    CAST(coalesce(sum(q) OVER (ORDER BY margin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cnb
        |  FROM h0),
        |g AS (SELECT CAST(coalesce(sum(p), 0) AS BIGINT) AS n_pos,
        |    CAST(coalesce(sum(q), 0) AS BIGINT) AS n_neg,
        |    CAST(coalesce(sum(p * (2 * cnb + q)), 0) AS BIGINT)
        |      AS auc_num2
        |  FROM h)
        |SELECT n_pos, n_neg, auc_num2,
        |  2 * n_pos * n_neg AS auc_den2,
        |  CASE WHEN 2 * n_pos * n_neg = 0 THEN 0.5
        |    ELSE CAST(auc_num2 AS DOUBLE) / (2 * n_pos * n_neg)
        |  END AS auc,
        |  CASE WHEN 2 * n_pos * n_neg = 0 THEN 0.0
        |    ELSE CAST(2 * auc_num2 - 2 * n_pos * n_neg AS DOUBLE)
        |      / (2 * n_pos * n_neg)
        |  END AS gini
        |FROM g""".stripMargin),

    // max-F1 operating point: same histogram + BOTH prefix sums; the
    // argmax is integer fixed-point ((2·TP·10⁹) // den) with ties to the
    // smallest threshold (ORDER BY threshold LIMIT 1)
    "q209_operating_point" ->
      (clsOracleCore +
      """, scored AS (SELECT f.doc_id, bool_or(f.is_pos) AS is_pos,
        |    bool_or(f.is_train) AS is_train,
        |    CAST(coalesce(sum(w.w), 0) AS BIGINT) AS margin
        |  FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id),
        |h0 AS (SELECT margin,
        |    CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS p,
        |    CAST(count(CASE WHEN NOT is_pos THEN 1 END) AS BIGINT) AS q
        |  FROM scored WHERE NOT is_train GROUP BY margin),
        |t AS (SELECT CAST(coalesce(sum(p), 0) AS BIGINT) AS n_pos,
        |    CAST(coalesce(sum(q), 0) AS BIGINT) AS n_neg
        |  FROM h0),
        |pre AS (SELECT margin,
        |    CAST(coalesce(sum(p) OVER (ORDER BY margin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cpb,
        |    CAST(coalesce(sum(q) OVER (ORDER BY margin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cnb
        |  FROM h0),
        |sw AS (SELECT margin AS threshold,
        |    n_pos - cpb AS tp, n_neg - cnb AS fp, cnb AS tn, cpb AS fn
        |  FROM pre, t),
        |sw2 AS (SELECT *,
        |    (2 * tp * 1000000000) // (2 * tp + fp + fn) AS f1_scaled
        |  FROM sw),
        |b AS (SELECT *,
        |    CAST(max(f1_scaled) OVER () AS BIGINT) AS best,
        |    CAST(count(*) OVER () AS BIGINT) AS n_thresholds
        |  FROM sw2)
        |SELECT threshold, tp, fp, tn, fn, f1_scaled, n_thresholds,
        |  CASE WHEN tp + fp > 0
        |    THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
        |  CASE WHEN tp + fn > 0
        |    THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
        |  CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) AS f1
        |FROM b WHERE f1_scaled = best
        |ORDER BY threshold LIMIT 1""".stripMargin),

    // split-conformal keep threshold: the shared q126 refit, the
    // md5("id#conf") < 2³¹ calibration/eval halving, the exact integer
    // rank r = greatest((n+1)//10, 1) into the row_number()-ranked
    // calibration-positive margins, then eval-half coverage /
    // false-keep counts with integer per-mille and one division each
    "q214_conformal_threshold" ->
      (clsOracleCore +
      """, scored AS (SELECT f.doc_id, bool_or(f.is_pos) AS is_pos,
        |    bool_or(f.is_train) AS is_train,
        |    CAST(coalesce(sum(w.w), 0) AS BIGINT) AS margin
        |  FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id),
        |ho AS (SELECT doc_id, is_pos, margin,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#conf'), 1, 8))
        |      ::BIGINT < 2147483648 AS is_cal
        |  FROM scored WHERE NOT is_train),
        |rr AS (SELECT CAST(count(*) AS BIGINT) AS n_cal_pos,
        |    greatest((CAST(count(*) AS BIGINT) + 1) // 10, 1) AS rank_r
        |  FROM ho WHERE is_cal AND is_pos),
        |rk AS (SELECT margin,
        |    row_number() OVER (ORDER BY margin, doc_id) AS rn
        |  FROM ho WHERE is_cal AND is_pos),
        |thr AS (SELECT rr.n_cal_pos, rr.rank_r, rk.margin AS threshold
        |  FROM rr JOIN rk ON rk.rn = rr.rank_r),
        |ev AS (SELECT thr.n_cal_pos, thr.rank_r, thr.threshold,
        |    CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT)
        |      AS n_eval_pos,
        |    CAST(count(CASE WHEN is_pos AND margin >= thr.threshold
        |      THEN 1 END) AS BIGINT) AS eval_covered,
        |    CAST(count(CASE WHEN NOT is_pos THEN 1 END) AS BIGINT)
        |      AS n_eval_neg,
        |    CAST(count(CASE WHEN NOT is_pos AND margin >= thr.threshold
        |      THEN 1 END) AS BIGINT) AS eval_false_keep
        |  FROM ho, thr WHERE NOT is_cal
        |  GROUP BY 1, 2, 3)
        |SELECT n_cal_pos, rank_r, threshold, n_eval_pos, eval_covered,
        |  CASE WHEN n_eval_pos > 0
        |    THEN (1000 * eval_covered) // n_eval_pos END AS cov_pm,
        |  CASE WHEN n_eval_pos > 0
        |    THEN CAST(eval_covered AS DOUBLE) / n_eval_pos
        |  END AS coverage,
        |  n_eval_neg, eval_false_keep,
        |  CASE WHEN n_eval_neg > 0
        |    THEN (1000 * eval_false_keep) // n_eval_neg END AS fk_pm,
        |  CASE WHEN n_eval_neg > 0
        |    THEN CAST(eval_false_keep AS DOUBLE) / n_eval_neg
        |  END AS false_keep_rate
        |FROM ev""".stripMargin),

    // schema-evolution read: rebuild the three batch memberships from
    // the residues and apply the same typed defaults (b0 predates lang
    // → 'und'; quality exists only in b2, else −1)
    "q210_lake_schema_evolution" ->
      """WITH d AS (SELECT doc_id, source, text, lang, n_chars
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'b0'
        |      WHEN 1 THEN 'b1' ELSE 'b2' END AS batch,
        |    doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'und' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 3 = 2 THEN n_chars ELSE -1 END AS quality
        |  FROM d)
        |SELECT batch, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(quality) AS BIGINT) AS sum_quality,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM u GROUP BY batch, lang
        |ORDER BY batch, lang""".stripMargin,

    // epoch allocation: doc-share floors, 2-epoch cap, one surplus
    // redistribution round ∝ uncapped token mass, re-capped; pure
    // integer (aggregate HUGEINTs cast back per the q91 gotcha)
    "q211_epoch_allocation" ->
      """WITH ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY source),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM ps),
        |b AS (SELECT ps.*, 2 * tot_tokens AS budget,
        |    (2 * tot_tokens * n_docs) // tot_docs AS base_tokens,
        |    2 * n_tokens AS cap_tokens
        |  FROM ps, t),
        |b2 AS (SELECT *, base_tokens > cap_tokens AS capped,
        |    least(base_tokens, cap_tokens) AS alloc1 FROM b),
        |p AS (SELECT CAST(max(budget) - sum(alloc1) AS BIGINT)
        |      AS leftover,
        |    CAST(coalesce(sum(CASE WHEN NOT capped THEN n_tokens
        |      ELSE 0 END), 0) AS BIGINT) AS uncapped_tokens
        |  FROM b2),
        |f AS (SELECT b2.*, CASE WHEN capped OR uncapped_tokens = 0
        |      THEN 0
        |      ELSE (leftover * n_tokens) // uncapped_tokens END AS extra
        |  FROM b2, p)
        |SELECT source, n_docs, n_tokens, base_tokens, capped,
        |  least(alloc1 + extra, cap_tokens) AS alloc_tokens,
        |  (1000 * least(alloc1 + extra, cap_tokens)) // n_tokens
        |    AS epochs_x1000
        |FROM f ORDER BY source""".stripMargin,

    // water-filling: per-source cross-multiplied caps, min = the water
    // level, exact integer allocation at the level
    "q244_mix_water_fill" ->
      """WITH ps AS (SELECT source,
        |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |      AS avail_tokens,
        |    CAST(length(source) % 5 + 1 AS BIGINT) AS weight
        |  FROM documents WHERE text IS NOT NULL GROUP BY source),
        |t AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM ps),
        |c AS (SELECT ps.*, w_total,
        |    (avail_tokens * w_total) // weight AS cap_total
        |  FROM ps, t),
        |m AS (SELECT CAST(min(cap_total) AS BIGINT) AS t_max FROM c)
        |SELECT source, avail_tokens, weight, cap_total, t_max,
        |  (t_max * weight) // w_total AS alloc_tokens,
        |  cap_total = t_max AS limiting,
        |  (100 * ((t_max * weight) // w_total)) // avail_tokens
        |    AS util_pct
        |FROM c, m ORDER BY source""".stripMargin,

    // erasure audit: the logical recount of the post-erase lake — all
    // non-null-text docs minus the ≡13-mod-97 deletion batch
    "q212_lake_erasure" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |    AS n_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM documents
        |WHERE text IS NOT NULL AND doc_id % 97 <> 13
        |GROUP BY source ORDER BY source""".stripMargin,

    // TVD drift between the q156-residue snapshots: per-bucket
    // cross-multiplied |n_old·N_new − n_new·N_old| terms, window-summed
    // (HUGEINT cast back — the q91 gotcha), pure-integer ≥10% verdict
    "q197_corpus_drift_tvd" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL),
        |o AS (SELECT least(len(string_split(lower(text), ' ')) // 32, 7)
        |    AS bucket FROM d WHERE doc_id % 7 <> 1),
        |nw AS (SELECT least(len(string_split(lower(
        |      CASE WHEN doc_id % 5 = 2 THEN text || ' rev2' ELSE text END
        |    ), ' ')) // 32, 7) AS bucket
        |  FROM d WHERE doc_id % 11 <> 3),
        |ho AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_old
        |  FROM o GROUP BY bucket),
        |hn AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new
        |  FROM nw GROUP BY bucket),
        |j AS (SELECT CAST(coalesce(ho.bucket, hn.bucket) AS BIGINT)
        |    AS bucket,
        |    coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
        |  FROM ho FULL OUTER JOIN hn ON ho.bucket = hn.bucket),
        |tt AS (SELECT CAST(sum(n_old) AS BIGINT) AS tot_old,
        |    CAST(sum(n_new) AS BIGINT) AS tot_new FROM j),
        |x AS (SELECT j.*, tt.tot_old, tt.tot_new,
        |    abs(n_old * tt.tot_new - n_new * tt.tot_old) AS cross_abs
        |  FROM j, tt)
        |SELECT bucket, n_old, n_new, cross_abs,
        |  CAST(sum(cross_abs) OVER () AS BIGINT) AS tvd_num,
        |  tot_old * tot_new * 2 AS tvd_den,
        |  CAST(sum(cross_abs) OVER () AS BIGINT) * 10 >=
        |    tot_old * tot_new * 2 AS drifted
        |FROM x ORDER BY bucket""".stripMargin,

    // incremental card: min-wave content ownership makes unique counts
    // additive; running sums over the wave table (HUGEINT cast back);
    // dup_permille is a non-negative integer division (the q146 contract)
    "q201_card_incremental" ->
      """WITH d AS (SELECT doc_id // 100 AS wave, md5(text) AS fp,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        |pw AS (SELECT wave, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY wave),
        |own AS (SELECT fp, min(wave) AS wave FROM d GROUP BY fp),
        |nw AS (SELECT wave, CAST(count(*) AS BIGINT) AS n_new
        |  FROM own GROUP BY wave),
        |j AS (SELECT pw.wave, pw.n_docs, pw.n_tokens,
        |    coalesce(nw.n_new, 0) AS n_new_contents
        |  FROM pw LEFT JOIN nw USING (wave)),
        |c AS (SELECT wave, n_docs, n_new_contents,
        |    CAST(sum(n_docs) OVER (ORDER BY wave) AS BIGINT) AS cum_docs,
        |    CAST(sum(n_tokens) OVER (ORDER BY wave) AS BIGINT)
        |      AS cum_tokens,
        |    CAST(sum(n_new_contents) OVER (ORDER BY wave) AS BIGINT)
        |      AS cum_unique
        |  FROM j)
        |SELECT wave, n_docs, n_new_contents, cum_docs, cum_tokens,
        |  cum_unique, cum_docs - cum_unique AS cum_dup_docs,
        |  ((cum_docs - cum_unique) * 1000) // cum_docs AS dup_permille
        |FROM c ORDER BY wave""".stripMargin,
  )
}
