package graft.operators

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis + deduplication over the `documents` table (SURVEY §2B
  * extensions: Q33–Q35 and the training-data-pipeline operators).
  */
object TextQueries extends QueryGroup {

  private val stopList = TextFunctions.stopwords.map(w => s"'$w'").mkString(", ")

  /** Q33: tokenize + stopword filter + top-20 word frequency. */
  private val q33: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "" && !col("word").isin(TextFunctions.stopwords: _*))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc_nulls_last, col("word"))
      .limit(20)

  /** Q34: per-language corpus stats. */
  private val q34: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"))
      .orderBy("lang")

  /** Q35: exact dedup — group by content hash, emit group size + keeper id.
    * The scalable shape: one shuffle on a 128-bit hash, no text comparison. */
  private val q35: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(lower(trim(col("text")))).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
      .orderBy("h")

  /** Q36: fingerprint (bag-of-words) dedup — near-dup docs that share the
    * exact distinct-token set collapse to one fingerprint. */
  private val q36: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
      .orderBy("fp")

  /** Q37: n-gram Jaccard near-dup pairs (τ = 0.8) within a `source` block.
    * Two interchangeable exact strategies live in [[SimilarityJoin]]
    * (postings-count vs PPJoin prefix-filter; agreement is tested); the
    * postings join wins on this corpus's small flat vocabulary.
    */
  private val q37: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("source").as("block"),
        TextFunctions.tokenSet(col("text")).as("w"))
    // round 10: the staged dup-collapse keeps its 100 TB role, but the
    // rep pair stage picks blocked-vs-tiled by measurement
    // (jaccardAdaptive's hashed merge kernel: 0.34 s vs postings' 5.3 s
    // plain on this corpus, BASELINE.md; postings/prefix remain the
    // sparse-corpus regime, ZipfJaccardSpec's stagedPrefixFilter)
    SimilarityJoin.staged(docs, 0.8)(
      SimilarityJoin.jaccardAdaptive(_, _)).orderBy("a_id", "b_id")
  }

  /** Q67: n-gram (3-token shingle) Jaccard near-dup pairs (τ = 0.5) within
    * a `source` block — the word-ORDER-sensitive complement to q37's
    * bag-of-tokens Jaccard: reordered texts share tokens but not shingles.
    * Same [[SimilarityJoin]] machinery over the distinct shingle set
    * (native `word_shingles` builds each shingle once per row); τ is lower
    * because shingle overlap decays much faster than token overlap. On the
    * driver corpus, whose near-dups are token-preserving reorderings, q37
    * finds thousands of pairs and q67 almost none — that asymmetry IS the
    * semantics, pinned by NgramJaccardSpec on constructed fixtures. */
  private val q67: Q = (s, d) => {
    // no size(w)>0 filter here: the similarity operators exclude empty
    // sets themselves (postings structurally, blocked via hashTokenSets),
    // and WITHOUT a w-dependent filter jaccardAdaptive's block-count
    // sizing job prunes this projection to just `source` — with the
    // filter it re-shingled the whole corpus to count rows (a full extra
    // scan, round-10 review). Empty-shingle docs inflating block counts
    // is a conservative upper bound: it can only over-escalate to tiling.
    val docs = Tables.documents(s, d).select(col("doc_id").as("id"),
      col("source").as("block"),
      array_distinct(call_function("word_shingles",
        TextFunctions.tokens(col("text")), lit(3))).as("w"))
    // naive postings, NOT the dup-collapse staging q37 uses: exact-duplicate
    // SHINGLE sets only arise from byte-identical docs (reorderings change
    // shingles), so the collapse stage would run at ~1 group per doc — all
    // overhead, no candidate reduction (measured: staged 2.3s vs naive 1.5s
    // at sf0.1). Round 10: the pair stage itself is jaccardAdaptive (the
    // hashed merge kernel over shingle sets — same strategy trade and
    // measured choice as q37; postings stays the sparse regime)
    SimilarityJoin.jaccardAdaptive(docs, 0.5).orderBy("a_id", "b_id")
  }

  /** Q74: overlap-coefficient (containment) near-dup pairs (τ = 0.95)
    * within a `source` block — catches a short doc pasted inside a long
    * one, which q37's Jaccard structurally misses (the union dilutes it).
    * See [[SimilarityJoin.overlapPostings]] for why containment admits no
    * size-ratio prune and leans on blocking instead.
    */
  private val q74: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("source").as("block"),
        TextFunctions.tokenSet(col("text")).as("w"))
    // measured on this corpus (sf0.1, interleaved A/B): blocked ~4.0 s vs
    // postings ~6.9 s — dense docs against a tiny vocabulary make postings
    // materialize each pair once per shared token (11.2M candidate rows
    // for 622K pairs); blocked touches each pair exactly once. See
    // overlapBlocked's doc for the regime where that choice flips.
    // adaptive measures the largest block and picks blocked here (all
    // blocks fit one task) — but the 100 TB escalation path now runs
    // under the oracle harness instead of only under its spec.
    SimilarityJoin.overlapAdaptive(docs, 0.95).orderBy("a_id", "b_id")
  }

  /** Q45: quality scoring — length / stopword-ratio / uniqueness features. */
  private val q45: Q = (s, d) => {
    val toks = TextFunctions.tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      col("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") /
        size(toks)).as("avg_token_len"),
      (TextFunctions.overlap(toks, TextFunctions.stopwords)
        .cast("double") / size(toks)).as("stop_ratio"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("uniq_ratio"))
    .orderBy("doc_id")
  }

  /** Q46: token counting — whitespace vs regex ("BPE-ish" word pieces). */
  private val q46: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long")
        .as("re_tokens"),
      length(col("text")).cast("long").as("chars"))
    .orderBy("doc_id")

  /** Q44: language-ID heuristic (keyword-overlap argmax, ties to the
    * lexicographically-last language, 'und' on zero overlap). The oracle
    * mirrors the scorer exactly — both engines take max over
    * (score, lang) structs — with the keyword lists generated from the
    * single Scala source of truth. */
  private val q44: Q = (s, d) => {
    val toks = TextFunctions.tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"), col("lang").as("labelled_lang"),
      TextFunctions.langGuess(toks).as("guessed_lang"))
    .orderBy("doc_id")
  }

  /** Q47: rolling-hash document fingerprint (order-sensitive polynomial
    * hash over md5 token prefixes — see TextFunctions.rollingFingerprint;
    * DuckDB mirrors the fold with list_reduce). */
  private val q47: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.rollingFingerprint(TextFunctions.tokens(col("text")))
        .as("rolling_fp"))
    .orderBy("doc_id")

  /** Q84: document-frequency commonness score — the two-pass "train
    * statistics on the corpus, then score every document against them"
    * pattern (the engine-exact stand-in for perplexity filtering: a
    * KenLM-style scorer replaces the df table with LM probabilities, the
    * plumbing is identical). Pass 1 aggregates per-token document
    * frequency; pass 2 joins each doc's distinct tokens back and reports
    * Σdf / |tokens| — exact BIGINT sum, one final double division, so
    * both engines agree bit-for-bit (no cross-engine double sums, no ln
    * whose last ulp could differ).
    *
    * Scale shape: pass 1 is a partial-aggregated groupBy on token; pass 2
    * is a token-keyed join — the df side is one row per vocabulary term,
    * so it broadcasts at moderate vocabularies; on a web-scale vocabulary
    * it shuffle-joins on token where the Zipf-hot keys are 1:1 on the df
    * side (AQE skew-split handles the exploded side). One groupBy on
    * doc_id closes the scoring. */
  private val q84: Q = (s, d) => {
    // shared (doc_id, tok) projection persisted so pass 1 (df dictionary)
    // and pass 2 (probe join) tokenize the corpus ONCE — the
    // lshBandedJaccard pattern; released when the query's action completes
    val exploded = RunScope.own(Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextFunctions.tokenSet(col("text"))).as("tok")))
    val dfTable = exploded.groupBy("tok")
      .agg(count(lit(1)).as("df"))
    exploded.join(dfTable, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("df")).as("sum_df"),
        (sum(col("df")).cast("double") / count(lit(1))).as("mean_df"))
      .orderBy("doc_id")
  }

  /** Q93: boilerplate n-gram mining — per source, the top-3 3-grams by
    * DOCUMENT frequency (how many docs of that source contain the
    * shingle). This is the discovery stage that feeds span-level dedup
    * (q72) and cleaning rules: the highest-df shingles of a domain ARE its
    * header/footer boilerplate. Ties break to the lexicographically
    * smaller shingle, so the rank is total on both engines.
    *
    * Scale shape: distinct shingles per doc, one partial-agg groupBy on
    * (source, shingle), and a rank window partitioned by SOURCE — never a
    * global single-task window. */
  private val q93: Q = (s, d) => {
    val w = Window.partitionBy("source")
      .orderBy(col("n_docs").desc, col("ngram"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(call_function("word_shingles",
          TextFunctions.tokens(col("text")), lit(3)))).as("ngram"))
      .groupBy("source", "ngram")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy("source", "rank")
  }

  /** Q94: vocabulary coverage / OOV rate — fix the top-1000 corpus tokens
    * (by total occurrences, ties to the smaller token) as the vocabulary,
    * then score every document by the fraction of its token OCCURRENCES
    * the vocabulary covers. The curriculum/tokenizer-fit signal:
    * low-coverage docs are gibberish, code, or another language relative
    * to the corpus. Exact BIGINT counts, one final double division.
    *
    * Scale shape: vocab = groupBy(token) + a top-k rank (vocab-sized,
    * broadcastable by construction); scoring = one join of the exploded
    * corpus against the 1000-row vocab (broadcast) + one groupBy(doc). */
  private val q94: Q = (s, d) => {
    val exploded = RunScope.own(Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok")))
    // top-k via orderBy+limit → TakeOrderedAndProject: a distributed
    // per-partition top-1000 merged on the driver, never the single-task
    // global window a row_number() rank would plan over a web-scale
    // vocabulary (the q19 shape)
    val vocab = exploded.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(1000)
      .select(col("tok"), lit(true).as("in_vocab"))
    exploded.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        count(col("in_vocab")).as("n_in_vocab"),
        (count(col("in_vocab")).cast("double") / count(lit(1)))
          .as("coverage"))
      .orderBy("doc_id")
  }

  /** Q95: corpus-frequency familiarity — the unigram-LM quality proxy
    * with engine-exact arithmetic: each token's corpus occurrence count
    * feeds a per-doc mean relative frequency
    * `Σ cnt(tok) / (total · n_tok)`. Gibberish and OCR noise score near
    * 1/|corpus tokens|; template text scores high. A true log-prob would
    * hash-flake across engines (ln's last ulp is libm-specific — the q84
    * doc's KenLM note), so the score stays in exact-ratio space: BIGINT
    * sums, ONE double division at the end.
    *
    * Scale shape: identical to q84's two-pass — partial-agg unigram
    * counts, token-keyed probe join (1:1 on the count side, AQE
    * skew-split for Zipf-hot tokens), one groupBy(doc) to close. */
  private val q95: Q = (s, d) => {
    val exploded = RunScope.own(Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok")))
    val counts = exploded.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    exploded.join(counts, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("cnt")).as("sum_cnt"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tok"), col("sum_cnt"),
        (col("sum_cnt").cast("double") /
          (col("total").cast("double") * col("n_tok"))).as("familiarity"))
      .orderBy("doc_id")
  }

  /** Q99: BPE merge-pair counting — the inner loop of byte-pair-encoding
    * tokenizer training: adjacent character-pair frequencies over the
    * corpus, weighted by word frequency; the most frequent pair (row 1)
    * is the next merge. Scale shape is the standard tokenizer-training
    * trick: collapse to DISTINCT words first (one partial-agg groupBy —
    * Heaps' law makes the distinct-word relation sublinear in the
    * corpus), then expand each distinct word's len−1 character pairs and
    * weight by its frequency — the per-occurrence explosion never
    * materializes. Top-50 by (count, pair) is a total order. */
  private val q99: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2) // 1-char words have no pairs; also
                                       // keeps ANSI sequence() ascending
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(50)

  /** Q100: BPE corpus encode through the dictionary join — the
    * [[BpeTrainer.tokenizeViaDictionary]] path (distinct-word dictionary →
    * batched merge fold → position-preserving join back), under a FIXED
    * 11-merge table with cascading merges ((t,h)→th then (th,e)→the;
    * (j,o)→jo→joi→join collapses a whole word), so the fold order itself
    * is load-bearing. Output is exact: token count (BIGINT) + md5 of the
    * space-joined symbol stream. The DuckDB oracle folds the same table
    * with a recursive CTE over merge rank (the q88 machinery), applying
    * each merge via a seeded list_reduce that mirrors the kernel's
    * left-to-right non-overlapping scan: the accumulator's last symbol
    * merges with the incoming one iff they equal (l, r) — equivalent to
    * the scan because a merged symbol l||r never equals l (r nonempty),
    * so a fresh merge can never chain onto the pair it just consumed. */
  private val q100: Q = (s, d) =>
    BpeTrainer.tokenizeViaDictionary(Tables.documents(s, d), q100Table)
      .select(col("doc_id"),
        size(col("bpe")).cast("long").as("n_bpe"),
        md5(concat_ws(" ", col("bpe")).cast("binary")).as("bpe_fp"))
      .orderBy("doc_id")

  /** The q100 fixed merge table — mirrored verbatim in the oracle's VALUES
    * list; ranks are positions. CONSISTENT ordering (every side is a
    * single char or an earlier merge's output), the property trained
    * tables have by construction. */
  private[operators] val q100Table = BpeTrainer.MergeTable(Seq(
    "e" -> "r", "t" -> "h", "th" -> "e", "a" -> "t", "s" -> "t",
    "o" -> "r", "j" -> "o", "jo" -> "i", "joi" -> "n", "a" -> "n",
    "d" -> "at"))

  /** Q198: tokenizer fertility report — the tokenizer-QA numbers read
    * before committing a vocabulary: per language, pieces-per-word
    * (fertility — the multilingual-tokenizer headline metric: a vocab
    * under-serving a language shows fertility ≫ the English baseline and
    * that language pays more compute per word) and chars-per-piece
    * (compression), over the q100 BPE encode under the same fixed merge
    * table. Ratios are POOLED (Σpieces/Σwords — one double division on
    * exact BIGINTs, the q78 discipline), never averaged per-doc doubles.
    *
    * Shape: the q100 dictionary join (encode cost ∝ DISTINCT words, not
    * corpus size) + one per-lang aggregate; the corpus-sized stages are
    * map-side token counting and the position join q100 already pays. */
  private val q198: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val enc = BpeTrainer.tokenizeViaDictionary(docs, q100Table)
      .select(col("doc_id"), size(col("bpe")).cast("long").as("n_bpe"))
    docs.select(col("doc_id"), col("lang"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_words"),
        length(col("text")).cast("long").as("n_chars"))
      .join(enc, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_words"),
        sum(col("n_bpe")).as("sum_pieces"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("sum_words"),
        col("sum_pieces"), col("sum_chars"),
        (col("sum_pieces").cast("double") / col("sum_words"))
          .as("fertility"),
        (col("sum_chars").cast("double") / col("sum_pieces"))
          .as("chars_per_piece"))
      .orderBy("lang")
  }

  /** Q148: WordPiece corpus encode — the OTHER production tokenizer family
    * (greedy longest-match-first over a fixed vocabulary with `##`
    * continuation pieces [Wu et al. 2016; the BERT tokenizer], vs q100's
    * BPE merge-fold): per document, the subword count, the `[UNK]` word
    * count (the vocabulary-coverage signal a tokenizer rollout monitors —
    * the corpus word `query` has no piece cover, so UNK is exercised),
    * and the md5 fingerprint of the position-ordered piece stream.
    *
    * Same dictionary-join shape as [[BpeTrainer.tokenizeViaDictionary]]:
    * segment each DISTINCT word once through the native
    * `wordpiece_encode` kernel (vocab indexed once per plan), then join
    * the per-word pieces back to token positions — corpus cost is one
    * distinct + one broadcast-sized join at any scale, and the encode
    * work is distinct-words-sized (Heaps-sublinear), never token-stream-
    * sized. The ORACLE replays greedy longest-match per distinct word
    * with a recursive CTE whose step picks the longest matching piece via
    * a LATERAL struct-max (ties impossible: same position + same length
    * ⇒ same piece). */
  private val q148: Q = (s, d) => {
    val live = Tables.documents(s, d).filter(col("text").isNotNull)
    val dict = live
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .distinct()
      .withColumn("pieces", call_function("wordpiece_encode", col("tok"),
        array(wpVocab.map(lit): _*)))
    live.select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
      .join(dict, "tok")
      .groupBy("doc_id")
      .agg(sum(size(col("pieces"))).cast("long").as("n_wp"),
        sum(when(col("pieces") === array(lit("[UNK]")), 1L)
          .otherwise(0L)).as("n_unk"),
        md5(concat_ws(" ", expr(
          "flatten(transform(array_sort(collect_list(struct(pos, pieces)))" +
            ", s -> s.pieces))")).cast("binary")).as("wp_fp"))
      .orderBy("doc_id")
  }

  /** The q148 fixed WordPiece vocabulary, mirrored textually into the
    * oracle's VALUES list: per-letter singles and continuations (so
    * segmentation always succeeds by character fallback) EXCEPT `q` —
    * words containing it become `[UNK]` — plus multi-char pieces the
    * longest-match rule must prefer. */
  private[operators] val wpVocab: Seq[String] = {
    val singles = ('a' to 'z').filterNot(_ == 'q').map(_.toString)
    val multis = Seq(
      "join", "hash", "scan", "data", "spark", "small", "slow", "fast",
      "big", "key", "row", "the", "sort", "part", "line", "agg", "dup",
      "tab", "##le", "cust", "##omer", "col", "##umn", "fil", "##ter",
      "##atch", "st", "##ream", "mer", "##ge", "win", "##dow", "or",
      "##der", "vec", "##tor", "val", "##ue", "gr", "##oup")
    singles ++ singles.map("##" + _) ++ multis
  }

  /** Q105: BM25-family retrieval scoring — top-20 documents for a fixed
    * 3-term query, the ranked-retrieval primitive behind decontamination
    * lookups (find the training docs closest to an eval query) and
    * retrieval-based data selection. Classic BM25 with ONE engine-exact
    * substitution: idf = ln((N−df+0.5)/(df+0.5)+1) becomes the raw rarity
    * ratio (N−df+0.5)/(df+0.5) — ln's last ulp is libm-specific (the
    * q95/q84 contract), and the ratio is a strictly monotone transform of
    * a per-term constant, so per-term doc ranking is unchanged; across
    * terms it weights rare terms harder than log damping would, a
    * documented operating-point choice, not an approximation. Everything
    * else is textbook Robertson–Spärck Jones: tf saturation with k1 = 1.2,
    * length normalization with b = 0.75 against avgdl.
    *
    * Determinism: tf/df/dl/N are exact BIGINTs; avgdl, the length norm
    * and each per-term contribution are fixed chains of IEEE double ops
    * mirrored operation-for-operation in the oracle; the per-doc score
    * sums its ≤3 contributions via a SEQUENTIAL fold in term order
    * (aggregate over the term-sorted struct array ≡ DuckDB's list_reduce
    * over list(… ORDER BY tok)) — never an order-nondeterministic double
    * aggregate.
    *
    * Scale shape: the dl/avgdl statistics are one partial-agg pass; the
    * scoring side filters the posting explosion to the query terms AT THE
    * SCAN (a 3-term IN-list — surviving volume is the postings of the
    * query terms, not the corpus token stream), then one groupBy(doc) and
    * a global top-k (TakeOrderedAndProject, never a full sort). The df
    * table is one row per query term and broadcasts; at a real corpus the
    * dl join is the only shuffle, keyed on doc_id. */
  private val q105: Q = (s, d) => {
    val terms = Seq("vector", "merge", "stream")
    val exploded = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
    val dl = exploded.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val tf = exploded.filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tok"),
        bm25Contrib(col("tf"), col("df"), col("dl"), col("n_docs"),
          col("avgdl")).as("contrib"))
    contrib.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        bm25Fold(col("tok"), col("contrib")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** Q111: bigram-LM familiarity with stupid backoff — the KenLM-shaped
    * upgrade of q95's unigram proxy: a bigram model is fitted on a
    * HELD-OUT training slice (even doc_ids — the standard train/score
    * split, and what makes backoff non-vacuous: a same-corpus fit would
    * observe every pair), and every document is scored over its adjacent
    * token pairs in position order. A pair seen in training contributes
    * the conditional ratio `c2(w1 w2)/c1(w1)`; an unseen pair backs off
    * to `0.4·c1(w2)/T` (Brants et al.'s "stupid backoff" score — the
    * published web-scale LM recipe that needs no discounting pass), and
    * an unseen continuation word contributes 0.
    *
    * Determinism contract: all counts are exact BIGINTs; each pair score
    * is ONE double division (plus one multiply by the exact literal 0.4
    * on the backoff branch); the per-doc score is a position-ordered
    * sequential fold (the q47/q105 convention) — no ln, whose libm last
    * ulp diverges cross-engine; `mean_p` is a single double division of
    * fold result by pair count.
    *
    * Scale shape: model tables are vocabulary-sized (Heaps-sublinear in
    * the corpus); the score side shuffles on token/bigram strings for
    * the three count joins — Zipf-hot keys are the q37-documented skew
    * regime (salting/AQE); the per-doc regroup is the only other
    * shuffle. Docs with < 2 tokens have no pairs and drop out, mirrored
    * by the oracle's empty zip. */
  private val q111: Q = (s, d) => {
    val toksOf = TextFunctions.tokens(col("text"))
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val uni = train.select(explode(toksOf).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val total = uni.agg(sum(col("c1")).as("total"))
    val bi = train.select(explode(
      call_function("word_shingles", toksOf, lit(2))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    val pairs = docs.select(col("doc_id"),
        posexplode(call_function("word_shingles", toksOf, lit(2)))
          .as(Seq("pos", "bg")))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    val scored = pairs
      .join(bi, Seq("bg"), "left")
      .join(uni.select(col("tok").as("w1"), col("c1").as("c1a")), Seq("w1"), "left")
      .join(uni.select(col("tok").as("w2"), col("c1").as("c1b")), Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("pos"), col("c2").isNull.as("backoff"),
        when(col("c2").isNotNull,
            col("c2").cast("double") / col("c1a").cast("double"))
          .otherwise(lit(0.4) * (coalesce(col("c1b"), lit(0L)).cast("double") /
            col("total").cast("double"))).as("p"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("backoff"), 1)).as("n_backoff"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("p")))),
          lit(0.0), (a, x) => a + x.getField("p")).as("score"))
      .withColumn("mean_p", col("score") / col("n_pairs"))
      .orderBy("doc_id")
  }

  /** Q131: interpolated Kneser–Ney bigram familiarity — the
    * principled-discounting upgrade of q111's stupid backoff, the smoothing
    * real LM-perplexity data filters use [Kneser & Ney '95; Chen & Goodman
    * '99]. Model on the same held-out even-doc_id slice:
    *
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1)
    *            + D·N1+(w1·)/c(w1) · N1+(·w2)/N1+(··)
    *
    * with discount D = 3/4. The continuation probability N1+(·w2)/N1+(··)
    * scores how many DISTINCT contexts precede w2 — the "Francisco"
    * correction that raw-frequency backoff (q111) gets wrong. An unseen
    * history word backs off entirely to the continuation distribution.
    *
    * Determinism contract: D = 3/4 keeps everything in exact-integer
    * ratio space — numerators multiply through by 4 (max(4c2−3, 0),
    * 3·fert), so each term is one double division of exact BIGINTs, the
    * interpolation is one multiply and one add, in the same written order
    * both engines evaluate. Per-doc score = the position-ordered
    * sequential fold (the q47/q105/q111 convention).
    *
    * Scale shape: identical to q111 — model tables are vocabulary-sized
    * (fert/cont/btypes are DISTINCT-bigram-type aggregates, strictly
    * smaller than the bigram count table), the score side shuffles on
    * token/bigram strings (Zipf-skew regime documented at q37), one
    * per-doc regroup. */
  private val q131: Q = (s, d) => {
    val toksOf = TextFunctions.tokens(col("text"))
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val uni = train.select(explode(toksOf).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val bi = train.select(explode(
        call_function("word_shingles", toksOf, lit(2))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    // bigram TYPES (one row per distinct bigram) carry the KN counts:
    // fert = N1+(w1·) distinct continuations, cont = N1+(·w2) distinct
    // histories, btypes = N1+(··) total distinct bigrams
    val types = bi.select(
      element_at(split(col("bg"), " "), 1).as("w1"),
      element_at(split(col("bg"), " "), 2).as("w2"))
    val fert = types.groupBy("w1").agg(count(lit(1)).as("fert"))
    val cont = types.groupBy("w2").agg(count(lit(1)).as("cont"))
    val btypes = types.agg(count(lit(1)).as("btypes"))
    val pairs = docs.select(col("doc_id"),
        posexplode(call_function("word_shingles", toksOf, lit(2)))
          .as(Seq("pos", "bg")))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    val pcont = coalesce(col("cont"), lit(0L)).cast("double") /
      col("btypes").cast("double")
    val scored = pairs
      .join(bi, Seq("bg"), "left")
      .join(uni.select(col("tok").as("w1"), col("c1")), Seq("w1"), "left")
      .join(fert, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(btypes))
      .select(col("doc_id"), col("pos"), col("c1").isNull.as("unseen_hist"),
        when(col("c1").isNull, pcont)
          .otherwise(
            (greatest(lit(0L), coalesce(col("c2"), lit(0L)) * 4 - 3)
                .cast("double") / (col("c1") * 4).cast("double")) +
            ((coalesce(col("fert"), lit(0L)) * 3).cast("double") /
              (col("c1") * 4).cast("double")) * pcont)
          .as("p"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("unseen_hist"), 1)).as("n_unseen"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("p")))),
          lit(0.0), (a, x) => a + x.getField("p")).as("score"))
      .withColumn("mean_p", col("score") / col("n_pairs"))
      .orderBy("doc_id")
  }

  /** Q135: exact-phrase search over positional postings — the retrieval
    * capability BM25 bag-of-words scoring (q105) cannot express: find
    * documents containing the CONSECUTIVE token sequence, with the
    * per-doc occurrence count. The standard positional-index algorithm:
    * per (doc, term) sorted position lists; each phrase term at offset i
    * shifts its positions by −i; a phrase occurrence is a position in
    * the INTERSECTION of all shifted lists (overlapping occurrences
    * count, the Lucene PhraseQuery convention).
    *
    * All-integer: positions, shifts and intersection sizes are exact
    * ints — nothing to pin beyond the fold. Scale shape: the term IN
    * filter cuts the position explode at the scan; the only shuffles
    * are the (doc, term)-keyed position collect and the |phrase|-bounded
    * per-doc regroup; the phrase table broadcasts. The write-time twin
    * ([[PostingsIndex.phrase]], bucket-pruned reads, row-identity
    * spec-pinned) is what a deployment queries. */
  private val q135: Q = (s, d) => {
    import s.implicits._
    val terms = Seq("table", "hash")
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val pos = docs.select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
      .filter(col("tok").isin(terms.distinct: _*))
      .groupBy("doc_id", "tok")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
    val q = terms.zipWithIndex.toDF("tok", "off")
    PostingsIndex.alignPhrase(pos, broadcast(q), terms.length)
      .orderBy("doc_id")
  }

  /** Q139: proximity (NEAR) search — the retrieval operator between
    * bag-of-words (q105) and exact phrase (q135): docs where two terms
    * co-occur within a 5-token window in either order, with the closest
    * distance and the within-window pair count. All-integer; same
    * positional machinery ([[PostingsIndex.alignProximity]] — the
    * indexed path is bucket-pruned, row-identity spec-pinned). */
  private val q139: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val pos = docs.select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
      .filter(col("tok").isin("table", "hash"))
      .groupBy("doc_id", "tok")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
    PostingsIndex.alignProximity(pos, "table", "hash", 5)
      .orderBy("doc_id")
  }

  /** The q149 fixed unigram-LM vocabulary as (piece, count) — mirrored
    * textually into the oracle's VALUES list; probabilities are
    * count/Σcount (ONE IEEE division per piece, both engines). Designed
    * to exercise every Viterbi behavior the greedy families cannot:
    * `stream` (count 1) LOSES to `st`+`ream` (40·40) — probability mass
    * beats the longest match, the distinguishing unigram property —
    * while `sort` (40) beats `so`+`rt`; `agg` forces the exact-tie
    * tie-break (p(ag)·p(g) ≡ p(a)·p(gg) bit-for-bit, shortest final
    * piece wins → [ag, g]); `query` has no cover ('q' is not in the
    * vocabulary) → [UNK]. */
  private[operators] val ugVocab: Seq[(String, Long)] = {
    val singles = ('a' to 'z').filterNot(_ == 'q')
      .map(c => (c.toString, 2L))
    val multis = Seq("join", "hash", "scan", "data", "spark", "small",
      "slow", "fast", "big", "key", "row", "the", "sort", "part", "line",
      "dup", "table", "merge", "order", "value", "group", "window",
      "batch", "filter", "column", "customer", "vector", "st", "ream",
      "so", "rt", "ag", "gg").map((_, 40L))
    (singles ++ multis) :+ ("stream", 1L)
  }

  private[operators] def ugModel: UnigramLm.Vocab = {
    val denom = ugVocab.map(_._2).sum.toDouble
    UnigramLm.Vocab(ugVocab.map { case (p, n) => (p, n.toDouble / denom) })
  }

  /** Q149: unigram-LM (SentencePiece) corpus encode — the THIRD
    * production tokenizer family [Kudo 2018] beside q100's BPE and
    * q148's WordPiece: Viterbi maximum-probability segmentation under a
    * fixed piece-probability model (see [[ugVocab]] for the behaviors
    * the fixture pins). Output mirrors q148: per-doc subword count,
    * [UNK] word count, md5 fingerprint of the position-ordered piece
    * stream.
    *
    * Same dictionary-join shape as q148/q100 (distinct words through
    * the native `unigram_encode` kernel, positions joined back). The
    * ORACLE replays the exact Viterbi recurrence per distinct word with
    * a recursive CTE carrying the DP cell list: candidate scores are
    * the identical double chains (best(j)·p in position/length order),
    * the argmax is a struct-max over (score, −len) — equal doubles
    * break to the shortest final piece, the kernel's ascending-length
    * strict-> scan — and unreachable cells carry score 0. See
    * [[graft.plans.UnigramVocab]] for the determinism argument. */
  private val q149: Q = (s, d) => {
    val live = Tables.documents(s, d).filter(col("text").isNotNull)
    val dict = live
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .distinct()
      .withColumn("sp", call_function("unigram_encode", col("tok"),
        ugModel.lit))
    live.select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
      .join(dict, "tok")
      .groupBy("doc_id")
      .agg(sum(size(col("sp"))).cast("long").as("n_sp"),
        sum(when(col("sp") === array(lit("[UNK]")), 1L)
          .otherwise(0L)).as("n_unk"),
        md5(concat_ws(" ", expr(
          "flatten(transform(array_sort(collect_list(struct(pos, sp)))" +
            ", s -> s.sp))")).cast("binary")).as("sp_fp"))
      .orderBy("doc_id")
  }

  /** Q153: regex pretokenization — the GPT-2-family pre-tokenizer stage
    * that precedes BPE/WordPiece/unigram training and encode (q99/q100/
    * q148/q149 all start from whitespace words; production tokenizers
    * first split on THIS kind of class-run pattern so merges never cross
    * a letter/digit/punctuation boundary [Radford et al. 2019]). The
    * pattern is the lookahead-free core of the GPT-2 split —
    * contraction pieces, space-prefixed letter runs, space-prefixed
    * digit runs, space-prefixed punctuation runs, residual spaces —
    * kept inside the Java∩RE2 intersection (alternation is
    * leftmost-first in BOTH engines; RE2 has no lookahead, so the
    * `\s+(?!\S)` tail of the original is the one piece dropped). The
    * corpus is letters-and-spaces only, so each doc is decorated with a
    * deterministic digit/punct/contraction suffix to exercise every
    * branch cross-engine.
    *
    * Emits per doc: token count, per-class counts, and the md5
    * fingerprint of the exact token stream (chr(1)-joined — absent from
    * the printable-ASCII corpus), which pins token IDENTITY and ORDER,
    * not just counts. Pure per-row column math — scan + project + sort,
    * no shuffle at any corpus size. */
  private val q153: Q = (s, d) => {
    val pat = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"
    def classCount(toks: org.apache.spark.sql.Column, re: String) =
      size(filter(toks, t => t.rlike(re))).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("text"), lit(" id="), col("doc_id").cast("string"),
          lit(" we're #1, don't stop!")).as("dec"))
      .withColumn("toks", regexp_extract_all(col("dec"), lit(pat), lit(0)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        classCount(col("toks"), "^ ?[A-Za-z]+$").as("n_word"),
        classCount(col("toks"), "^ ?[0-9]+$").as("n_num"),
        classCount(col("toks"), "^'").as("n_contr"),
        md5(array_join(col("toks"), "\u0001").cast("binary")).as("tok_fp"))
      .orderBy("doc_id")
  }

  /** Q161: TF-IDF keyword extraction — the top-3 most characteristic
    * terms per document (the classic retrieval/topic signal; q33 finds
    * the corpus's top words, THIS finds each doc's distinguishing ones).
    * idf enters as the raw rarity ratio N/df rather than its log: log is
    * monotone, so the RANKING is identical, and the ratio stays inside
    * the engine-exact arithmetic contract (one IEEE division + one
    * multiplication — `ln`'s last ulp is libm-specific, the q95 rule).
    * Ties (score equality is common: equal tf on equal-df terms) break
    * to the lexicographically smaller term in both engines.
    *
    * Shape: token explode → (doc, term) counts → vocabulary-sized df
    * aggregation joined back on term → per-doc rank window bounded by
    * the doc's distinct-term count. All shuffles are token- or
    * vocab-keyed; nothing quadratic, no global stage. */
  private val q161: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val tf = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc_nulls_last, col("term").asc)
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") *
        (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy("doc_id", "rk")
  }

  /** Q162: PMI collocation mining — the top-20 adjacent-bigram
    * collocations of the corpus by pointwise mutual information (the
    * phrase-discovery pass tokenizer pipelines run to promote "new york"
    * into one vocabulary unit [Mikolov et al. NIPS'13's phrase step],
    * and the statistical complement of q93's frequency-only boilerplate
    * mining). PMI's log is monotone, so the RANKING uses the raw ratio
    * n(xy)·N / (n(x)·n(y)) — exact BIGINT products through ONE double
    * division (engine-identical; the q161/q95 rule). A min-count floor
    * (n(xy) ≥ 5) applies the standard small-sample guard.
    *
    * Shape: one token-positions pass building adjacent pairs per doc
    * (map-side), vocabulary-sized unigram counts broadcast-joined onto
    * bigram counts, TakeOrderedAndProject top-20 — never a global rank
    * window. */
  private val q162: Q = (s, d) => {
    val toks = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
    val bigrams = toks
      .select(explode(expr(
        "transform(slice(ts, 1, size(ts) - 1), (x, i) -> struct(x AS w1, ts[i + 1] AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= 5)
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    // n_total from the already-aggregated vocabulary table — a second
    // full-corpus explode for one scalar would double the token-stream
    // scan (identical exact BIGINT either way)
    val tot = uni.agg(sum(col("n_w")).cast("long").as("n_total"))
    bigrams
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_y")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi_ratio",
        (col("n_xy") * col("n_total")).cast("double") /
          (col("n_x") * col("n_y")).cast("double"))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        col("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc_nulls_last, col("w1"), col("w2"))
      .limit(20)
  }

  /** Q176: Simpson lexical concentration — the mode-collapse screen a
    * synthetic-data pipeline runs before admitting generated text: per
    * doc, the probability two random tokens coincide is Σc_i²/n², and
    * diversity = 1 − that. Kept ENTIRELY in exact integer space (the q95
    * contract): the query emits the rational (div_num, div_den) =
    * (n² − Σc_i², n²) and a cross-multiplied ≥ 0.95 verdict — zero
    * divisions, so both engines agree bit-for-bit. Two partial-aggregated
    * groupBys, shuffle bounded by distinct (doc, token) pairs; the
    * complement to q71's n-gram repetition fractions at unigram
    * granularity. */
  private val q176: Q = (s, d) => {
    val counts = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("sum_sq"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_tokens") * col("n_tokens") - col("sum_sq")).as("div_num"),
        (col("n_tokens") * col("n_tokens")).as("div_den"),
        ((col("n_tokens") * col("n_tokens") - col("sum_sq")) * 20 >=
          col("n_tokens") * col("n_tokens") * 19).as("is_diverse"))
      .orderBy("doc_id")
  }

  /** Q182: code-switching detection — the language-CONSISTENCY check
    * lang-ID alone misses: a document whose halves identify as different
    * languages is either mixed-language (drop or segment it before
    * monolingual training) or a concatenation artifact from upstream
    * joining. Each half runs the q44 argmax-overlap scorer independently
    * (per-row array ops, no shuffle, the q44 scale shape); a switch is
    * flagged only when BOTH halves identify (≠ 'und') and disagree —
    * an unidentifiable half is missing evidence, not a switch. */
  /** q182 core over any (doc_id, lang, text) frame — separated so the
    * fixture spec can exercise the switch/und branches the synthetic
    * corpus rarely produces. */
  private[operators] def codeSwitchFlags(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val n = size(toks)
    val first = slice(toks, lit(1), (n / 2).cast("int"))
    val second = slice(toks, (n / 2).cast("int") + 1, n - (n / 2).cast("int"))
    val la = TextFunctions.langGuess(first)
    val lb = TextFunctions.langGuess(second)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang").as("labelled_lang"),
        la.as("first_lang"), lb.as("second_lang"),
        (la =!= "und" && lb =!= "und" && la =!= lb).as("is_switch"))
  }

  private val q182: Q = (s, d) =>
    codeSwitchFlags(Tables.documents(s, d)).orderBy("doc_id")

  /** Q184: Unicode normalization + accent folding — the canonicalization
    * every hash/dedup/vocabulary key needs on real-world text: the same
    * visible string arrives precomposed (é = U+00E9) or decomposed
    * (e + U+0301) and would otherwise fingerprint as two documents. The
    * native kernels ([[graft.plans.TextNormalizeImpl]]) run the standard
    * java.text.Normalizer algorithms; DuckDB's nfc_normalize /
    * strip_accents implement the SAME Unicode standard, so the oracle is
    * the built-in pair — an independent implementation agreeing
    * bit-for-bit. The fixture decorates each doc with deterministic
    * accent material covering all the branches: precomposed, decomposed
    * (NFC must fuse it), mark-vs-letter (ø/œ/ß are letters, NOT accents —
    * folding must keep them), and pure ASCII (the zero-copy fast path).
    * Map-only; on mostly-ASCII corpora the kernel is one byte-scan. */
  private val q184: Q = (s, d) => {
    val decor = element_at(array(
      lit("caf\u00e9 r\u00e9sum\u00e9"),           // precomposed
      lit("cafe\u0301 re\u0301sume\u0301"),        // decomposed: NFC fuses
      lit("u\u0308ber n\u00f1o\u00f1o"),           // mark + precomposed mix
      lit("s\u00f8ster \u0153uvre stra\u00dfe")),  // letters, not accents
      (col("doc_id") % 4 + 1).cast("int"))
    val raw = concat(decor, lit(" "), substring(col("text"), 1, 40))
    // the kernel outputs persist before fan-out: CollapseProject would
    // otherwise inline nfc_normalize(raw) into nfc, n_nfc AND nfc_changed
    // and run the kernel 3x per row (the q110 gotcha; q84's owned
    // persist)
    val base = RunScope.own(Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"), col("raw"),
        call_function("nfc_normalize", col("raw")).as("nfc"),
        call_function("strip_accents", col("raw")).as("folded")))
    base.select(col("doc_id"), col("raw"), col("nfc"), col("folded"),
        length(col("raw")).as("n_raw"),
        length(col("nfc")).as("n_nfc"),
        (col("nfc") =!= col("raw")).as("nfc_changed"))
      .orderBy("doc_id")
  }

  /** Q185: effective token budget — the question every scaling-law plan
    * asks before anyone trains: after exact dedup, how many tokens do we
    * ACTUALLY have per source, and how inflated was the raw count? Raw
    * doc/token counts sit next to the effective counts where each
    * q35-convention content hash (md5 of lower/trim) is counted ONCE —
    * attributed to its keeper's source (min doc_id, the q35 keeper rule,
    * so cross-source copies are not double-budgeted) — plus the exact
    * duplication rational (raw_tokens, effective_tokens): zero divisions,
    * the q95 contract. Two partial-aggregated groupBys (hash, then
    * source); shuffle is bounded by distinct contents, the dedup-floor
    * shape. */
  private val q185: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        md5(lower(trim(col("text")))).as("h"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
    val raw = docs.groupBy("source")
      .agg(count(lit(1)).as("raw_docs"), sum("n_tok").as("raw_tokens"))
    val keepers = docs
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("source"), col("n_tok")))
        .as("k"))
      .select(col("k.source").as("source"), col("k.n_tok").as("n_tok"))
    val eff = keepers.groupBy("source")
      .agg(count(lit(1)).as("eff_docs"), sum("n_tok").as("eff_tokens"))
    raw.join(eff, Seq("source"), "left")
      .na.fill(0L, Seq("eff_docs", "eff_tokens"))
      .orderBy("source")
  }

  /** Q177: vocabulary growth curve — the measured Heaps'-law evidence
    * behind every "index size stays bounded" claim in this repo (postings,
    * shingle ownership, BPE merges): tokens are attributed to the ingest
    * WAVE (doc_id div 100) where they first appear, giving per-wave new
    * types, the cumulative vocabulary, per-wave token volume, and the
    * exact novelty rational (n_new, n_occ) — integer-only, the q95
    * contract. One distinct-token pass + a min-groupBy (shuffle bounded
    * by the vocabulary, not the corpus); the cumulative window runs over
    * a handful of wave rows. */
  private val q177: Q = (s, d) => {
    val toks = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), expr("doc_id div 100").as("wave"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
    val novel = toks.groupBy("tok").agg(min("doc_id").as("first_doc"))
      .select(expr("first_doc div 100").as("wave"))
      .groupBy("wave").agg(count(lit(1)).as("n_new"))
    val volume = toks.groupBy("wave")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct("doc_id").as("n_docs"))
    volume.join(novel, Seq("wave"), "left")
      .na.fill(0L, Seq("n_new"))
      .withColumn("vocab_cum",
        sum("n_new").over(Window.orderBy("wave")))
      .orderBy("wave")
  }

  /** Q223: vocabulary richness estimation — the unseen-species answer to
    * the question q177's measured growth curve only extrapolates: per
    * SOURCE, how much vocabulary exists that this corpus slice has not
    * seen yet. Bias-corrected Chao1 [Chao 1984] estimates total richness
    * as V + f1·(f1−1)/(2·(f2+1)) from the frequency-of-frequencies alone
    * (f1 = hapax types, f2 = dis legomena; the +1 form never divides by
    * zero), and the Good–Turing unseen-probability mass [Gale & Sampson
    * 1995] is P₀ = f1/N — together the "is this source's vocabulary
    * saturating or still open" signal that decides whether more crawl of
    * a source buys new types or re-buys the head. Every estimator is an
    * exact rational over BIGINT type counts (the q95 contract): the
    * Chao1 correction ships as (chao1_add_num, chao1_add_den), the
    * per-mille fields are integer divisions, and the ONE-division
    * doubles ride alongside for humans.
    *
    * Scale shape: one (source, token) partial-agg groupBy (shuffle
    * bounded by the per-source vocabulary, not the corpus), then a
    * source-sized fold of the frequency histogram. No windows, no joins. */
  private val q223: Q = (s, d) => {
    val counts = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    counts.groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("f1"),
        col("f2"),
        expr("(1000 * f1) div n_types").as("hapax_pm"),
        (col("f1") * (col("f1") - 1L)).as("chao1_add_num"),
        (lit(2L) * (col("f2") + 1L)).as("chao1_add_den"),
        (col("n_types").cast("double") +
          (col("f1") * (col("f1") - 1L)).cast("double") /
            (lit(2L) * (col("f2") + 1L)).cast("double")).as("chao1"),
        expr("(1000 * f1) div n_tokens").as("gt_unseen_pm"),
        (col("f1").cast("double") / col("n_tokens")).as("gt_unseen_mass"))
      .orderBy("source")
  }

  /** Q202: cross-source mirror detection — the crawl-curation matrix
    * telling a corpus build WHICH sources duplicate each other (mirror
    * sites, syndication networks, re-hosted dumps), so whole sources can
    * be dropped or merged BEFORE document-level dedup pays for their
    * overlap: per source pair, the exact-content intersection size, both
    * set sizes, an integer Jaccard-per-mille, and a mirror verdict
    * (≥ half of the smaller source contained in the other — pure-integer
    * cross-multiplication). q185 budgets duplicate tokens per source;
    * THIS names the pairs responsible.
    *
    * Shape: sources reduce to DISTINCT (source, content-hash) rows first,
    * the pair join runs on the hash key — shuffle bounded by duplicated
    * contents, never the corpus. The per-hash fanout is C(sources sharing
    * it, 2), so at domain scale a UNIVERSAL boilerplate hash (a cookie
    * banner, a license stub shared by every crawl domain) is a hot key:
    * contents spread across more than `capSources` sources are DROPPED
    * from the pairing universe before the join — they are boilerplate,
    * not mirror evidence (the same reasoning that keeps stop-words out of
    * keyword overlap), and one such hash at a 10k-source crawl would
    * otherwise be a C(10k, 2) ≈ 50M-pair key. The drop is never silent:
    * an `observe` metric carries (dropped_contents, max_sources) per run
    * (the q41 bucket-cap discipline; MirrorCapSpec pins the capped pair
    * set and the counter on a constructed >cap hash). */
  /** The capped (source, content-hash) pairing universe shared by q202's
    * matrix and q205's merge plan: distinct (source, fp) rows with
    * contents spread over more than `capSources` sources dropped (see
    * [[sourceMirrorMatrix]]'s boilerplate rationale) — the drop observed,
    * never silent. */
  private[operators] def cappedSourceContents(
      docs: org.apache.spark.sql.DataFrame, capSources: Int,
      metricName: String): org.apache.spark.sql.DataFrame = {
    val hs = docs.filter(col("text").isNotNull)
      .select(col("source"), md5(col("text").cast("binary")).as("fp"))
      .distinct()
    // hs is (source, fp)-distinct, so count(*) per fp IS the source spread
    val spread = hs.groupBy("fp").agg(count(lit(1)).as("n_src"))
      .observe(metricName,
        sum(when(col("n_src") > capSources, 1L).otherwise(0L))
          .as("dropped_contents"),
        max(col("n_src")).as("max_sources"))
    hs.join(spread.filter(col("n_src") <= capSources).select("fp"),
      Seq("fp"), "left_semi")
  }

  private[operators] def sourceMirrorMatrix(
      docs: org.apache.spark.sql.DataFrame, capSources: Int,
      metricName: String): org.apache.spark.sql.DataFrame = {
    val kept = cappedSourceContents(docs, capSources, metricName)
    val sizes = kept.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    // the COMPLETE pair matrix (zero-overlap pairs included): the report
    // is read as a matrix, and absence-of-overlap is itself the answer
    // for most pairs — the grid is C(|sources|, 2), dimension-bounded
    val grid = sizes.select(col("source").as("src_a"), col("n").as("n_a"))
      .crossJoin(sizes.select(col("source").as("src_b"), col("n").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    grid.join(shared, Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        expr("(n_shared * 1000) div (n_a + n_b - n_shared)")
          .as("jac_permille"),
        (col("n_shared") * 2 >= least(col("n_a"), col("n_b")))
          .as("is_mirror"))
      .orderBy("src_a", "src_b")
  }

  private val q202: Q = (s, d) =>
    sourceMirrorMatrix(Tables.documents(s, d), capSources = 16,
      metricName = "q202_mirror_cap")

  /** Q205: source merge plan — the DECISION step on q202's evidence: the
    * matrix names mirror pairs; this resolves them into merge groups
    * (mirror relations chain — A mirrors B mirrors C is ONE syndication
    * network even when the A–C pair alone misses the bar, the q66
    * transitivity argument at source granularity) and picks one survivor
    * per group: keep the source with the most distinct capped contents,
    * ties to the lexicographically smallest name (q154's keep-richest
    * policy lifted from documents to sources). Emits per source its merge
    * group (min member name), the surviving canonical source, group size,
    * its content count and the keep verdict — the corpus build then drops
    * every non-keeper source before document-level dedup pays for their
    * overlap.
    *
    * Scale shape: everything after the (hash-keyed, capped) pair stage is
    * DIMENSION-bounded — sources number thousands where documents number
    * billions — so the component resolution runs on a source-count graph
    * ([[ConnectedComponents.run]]: driver union-find at this size, the
    * distributed iteration past `driverMaxEdges`); node ids are the
    * sources' rank in name order, so the min-id component label IS the
    * min-name label the oracle's recursive CTE computes. */
  private val q205: Q = (s, d) => {
    // The capped universe feeds THREE executions without this persist: the
    // component resolution's bounded collect (a compose-time action inside
    // ConnectedComponents.run) and the two independent subtrees of the
    // final plan (sizes→ids and the labeled output) — each re-ran the
    // full documents scan + md5 + two-exchange distinct/spread pipeline
    // (guide §2.4: remove repeated shuffles outright; measured 7.4 →
    // 2.9 s at sf0.1, see OPTIMIZATION_r20.md).
    val kept = RunScope.own(cappedSourceContents(Tables.documents(s, d), capSources = 16,
      metricName = "q205_mirror_cap"))
    val sizes = kept.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    val mirrors = shared
      .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
      .filter(col("n_shared") * 2 >= least(col("n_a"), col("n_b")))
      .select("src_a", "src_b")
    // dense ids in NAME order: min id ≡ min name, the oracle's label
    val ids = sizes.select(col("source"), col("n"),
      row_number().over(Window.orderBy("source")).cast("long").as("sid"))
    val edges = mirrors
      .join(ids.select(col("source").as("src_a"), col("sid").as("a")), "src_a")
      .join(ids.select(col("source").as("src_b"), col("sid").as("b")), "src_b")
      .select("a", "b")
    val comp = ConnectedComponents.run(edges)
    val labeled = ids.join(comp, col("sid") === col("node"), "left")
      .select(col("source"), col("n"),
        coalesce(col("component"), col("sid")).as("cid"))
    val names = labeled.groupBy("cid").agg(
      min(col("source")).as("merge_group"),
      count(lit(1)).as("group_size"))
    val w = Window.partitionBy("cid")
      .orderBy(col("n").desc, col("source").asc)
    labeled.withColumn("rk", row_number().over(w))
      .withColumn("canonical_source",
        first(col("source")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(names, "cid")
      .select(col("source"), col("merge_group"), col("canonical_source"),
        col("group_size"), col("n").as("n_contents"),
        (col("rk") === 1).as("keep"))
      .orderBy("source")
  }

  /** Q206: incremental mirror-matrix maintenance — q202's source-pair
    * overlap tracked ACROSS INGEST WAVES without re-pairing history: a
    * shared content becomes pair-visible at the LATER of the two sources'
    * first-sighting waves (max(first_a, first_b)) — the q201 first-seen-
    * wave ownership move applied to PAIRS — so per-wave deltas are
    * additive and the cumulative overlap is a plain running sum. At
    * ingest time the per-wave delta comes from probing the arriving
    * wave's new (source, content) rows against the standing first-
    * sighting index (the q82 shape); history text is never re-read and
    * the matrix a release dashboard shows is the running sum. Emits one
    * row per (source pair, wave with a delta): the delta and the
    * cumulative shared count. Final-wave cumulative ≡ q202's n_shared per
    * pair (spec-pinned) — the full recompute is the exactness oracle of
    * the incremental maintenance, the q124/q201 merge-partials contract.
    * Same capped universe as q202/q205. */
  private val q206: Q = (s, d) => {
    val kept = cappedSourceContents(Tables.documents(s, d),
      capSources = 16, metricName = "q206_mirror_cap")
    // first-sighting wave per (source, content), restricted to the capped
    // universe (the standing index an ingest path would maintain)
    val waved = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("source"), md5(col("text").cast("binary")).as("fp"),
        expr("doc_id div 100").as("wave"))
      .join(kept.select("fp").distinct(), Seq("fp"), "left_semi")
      .groupBy("source", "fp").agg(min(col("wave")).as("w"))
    val deltas = waved.as("a").join(waved.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        greatest(col("a.w"), col("b.w")).as("wave"))
      .groupBy("src_a", "src_b", "wave")
      .agg(count(lit(1)).as("delta_shared"))
    val w = Window.partitionBy("src_a", "src_b").orderBy("wave")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("cum_shared", sum(col("delta_shared")).over(w))
      .select("src_a", "src_b", "wave", "delta_shared", "cum_shared")
      .orderBy("src_a", "src_b", "wave")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q202_source_mirror" -> q202,
    "q205_source_merge_plan" -> q205,
    "q206_mirror_incremental" -> q206,
    "q33_text_topwords" -> q33,
    "q176_text_simpson_diversity" -> q176,
    "q177_vocab_growth" -> q177,
    "q223_vocab_richness" -> q223,
    "q182_text_code_switch" -> q182,
    "q184_text_normalize" -> q184,
    "q185_token_budget_dedup" -> q185,
    "q153_pretokenize_regex" -> q153,
    "q161_text_tfidf_keywords" -> q161,
    "q162_text_pmi_collocations" -> q162,
    "q131_text_kneser_ney" -> q131,
    "q135_text_phrase_search" -> q135,
    "q139_text_proximity" -> q139,
    "q34_text_docstats" -> q34,
    "q35_dedup_exact" -> q35,
    "q36_dedup_fingerprint" -> q36,
    "q37_dedup_jaccard" -> q37,
    "q44_text_langid" -> q44,
    "q45_text_quality" -> q45,
    "q46_text_tokens" -> q46,
    "q47_text_rollinghash" -> q47,
    "q67_dedup_ngram_jaccard" -> q67,
    "q74_dedup_containment" -> q74,
    "q84_text_doc_frequency" -> q84,
    "q93_boilerplate_ngrams" -> q93,
    "q94_vocab_coverage" -> q94,
    "q95_token_familiarity" -> q95,
    "q99_bpe_pair_counts" -> q99,
    "q100_bpe_encode" -> q100,
    "q198_tokenizer_fertility" -> q198,
    "q148_wordpiece_encode" -> q148,
    "q149_unigram_encode" -> q149,
    "q105_text_bm25" -> q105,
    "q111_text_bigram_backoff" -> q111,
  )

  val oracles: Map[String, String] = Map(
    // Simpson concentration as an exact rational — same grouped counts,
    // HUGEINT sums cast back (the q91 gotcha), cross-multiplied verdict
    "q176_text_simpson_diversity" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' '))
        |    AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(c * c) AS BIGINT) AS sum_sq
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |  n_tokens * n_tokens - sum_sq AS div_num,
        |  n_tokens * n_tokens AS div_den,
        |  ((n_tokens * n_tokens - sum_sq) * 20 >= n_tokens * n_tokens * 19)
        |    AS is_diverse
        |FROM a ORDER BY doc_id""".stripMargin,
    // vocabulary richness: same (source, token) counts, HUGEINT sums
    // cast back (the q91 gotcha); Chao1/Good-Turing are the identical
    // integer rationals with the single-division doubles mirrored
    "q223_vocab_richness" ->
      """WITH t AS (SELECT source, unnest(string_split(lower(text), ' '))
        |    AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT source, tok, count(*) AS c FROM t GROUP BY source, tok),
        |f AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(count(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS f1,
        |    CAST(count(CASE WHEN c = 2 THEN 1 END) AS BIGINT) AS f2
        |  FROM c GROUP BY source)
        |SELECT source, n_tokens, n_types, f1, f2,
        |  (1000 * f1) // n_types AS hapax_pm,
        |  f1 * (f1 - 1) AS chao1_add_num,
        |  2 * (f2 + 1) AS chao1_add_den,
        |  CAST(n_types AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE) /
        |    CAST(2 * (f2 + 1) AS DOUBLE) AS chao1,
        |  (1000 * f1) // n_tokens AS gt_unseen_pm,
        |  CAST(f1 AS DOUBLE) / n_tokens AS gt_unseen_mass
        |FROM f ORDER BY source""".stripMargin,

    // vocabulary growth: first-seen wave per type, per-wave volumes,
    // cumulative vocabulary via a window sum over the few wave rows
    "q177_vocab_growth" ->
      """WITH t AS (SELECT doc_id, doc_id // 100 AS wave,
        |    unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |novel AS (SELECT tok, min(doc_id) AS first_doc FROM t GROUP BY tok),
        |nw AS (SELECT first_doc // 100 AS wave,
        |    CAST(count(*) AS BIGINT) AS n_new
        |  FROM novel GROUP BY 1),
        |vol AS (SELECT wave, CAST(count(*) AS BIGINT) AS n_occ,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM t GROUP BY wave)
        |SELECT v.wave, v.n_occ, v.n_docs, coalesce(nw.n_new, 0) AS n_new,
        |  CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY v.wave)
        |    AS BIGINT) AS vocab_cum
        |FROM vol v LEFT JOIN nw USING (wave)
        |ORDER BY wave""".stripMargin,

    // tf-idf keywords: rarity-ratio idf (log-free, rank-identical), ties
    // to the smaller term; df joined back on the vocab key
    "q161_text_tfidf_keywords" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY term),
        |n_ AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents WHERE text IS NOT NULL),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * (CAST(n_.n_docs AS DOUBLE)
        |      / CAST(df.df AS DOUBLE)) AS score
        |  FROM tf JOIN df USING (term), n_),
        |r AS (SELECT doc_id, term, tf, df, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC NULLS LAST, term) AS BIGINT) AS rk
        |  FROM sc)
        |SELECT doc_id, rk, term, tf, df, score FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    // PMI collocations: zipped-unnest adjacent bigrams (the q97 posexplode
    // mirror — range() takes no lateral refs), BIGINT count products, one
    // double division for the monotone rank ratio
    "q162_text_pmi_collocations" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT unnest(ts[1:len(ts)-1]) AS w1,
        |    unnest(ts[2:len(ts)]) AS w2 FROM t),
        |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
        |  FROM p GROUP BY w1, w2 HAVING count(*) >= 5),
        |u AS (SELECT unnest(ts) AS w FROM t),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w
        |  FROM u GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM u)
        |SELECT bg.w1, bg.w2, bg.n_xy, ux.n_w AS n_x, uy.n_w AS n_y,
        |  CAST(bg.n_xy * tot.n_total AS DOUBLE)
        |    / CAST(ux.n_w * uy.n_w AS DOUBLE) AS pmi_ratio
        |FROM bg JOIN uni ux ON ux.w = bg.w1
        |  JOIN uni uy ON uy.w = bg.w2, tot
        |ORDER BY pmi_ratio DESC NULLS LAST, w1, w2 LIMIT 20""".stripMargin,

    // regex pretokenizer: identical leftmost-first alternation in Java and
    // RE2 (no lookahead anywhere); chr(1)-joined md5 pins token order
    "q153_pretokenize_regex" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(
        |    text || ' id=' || CAST(doc_id AS VARCHAR) || ' we''re #1, don''t stop!',
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +',
        |    0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks,
        |    x -> regexp_matches(x, '^ ?[A-Za-z]+$'))) AS BIGINT) AS n_word,
        |  CAST(len(list_filter(toks,
        |    x -> regexp_matches(x, '^ ?[0-9]+$'))) AS BIGINT) AS n_num,
        |  CAST(len(list_filter(toks,
        |    x -> regexp_matches(x, '^'''))) AS BIGINT) AS n_contr,
        |  md5(array_to_string(toks, chr(1))) AS tok_fp
        |FROM t ORDER BY doc_id""".stripMargin,

    // bigram stupid backoff: model on even doc_ids; the pair/pos/w1/w2 zip
    // is four unnest()s over equal-length lists (the q97 trick); each pair
    // score mirrors the Spark branch op-for-op; per-doc score is the
    // position-ordered list_reduce fold
    // proximity: same zipped-position machinery, |pa − pb| over the
    // per-doc position cross product, min + within-window count
    "q139_text_proximity" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |p0 AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
        |    unnest(toks) AS tok FROM d),
        |a AS (SELECT doc_id, pos AS pa FROM p0 WHERE tok = 'table'),
        |b AS (SELECT doc_id, pos AS pb FROM p0 WHERE tok = 'hash'),
        |g AS (SELECT a.doc_id,
        |    CAST(min(abs(a.pa - b.pb)) AS BIGINT) AS min_dist,
        |    CAST(count(CASE WHEN abs(a.pa - b.pb) <= 5 THEN 1 END)
        |      AS BIGINT) AS n_within
        |  FROM a JOIN b USING (doc_id) GROUP BY a.doc_id)
        |SELECT doc_id, min_dist, n_within FROM g
        |WHERE min_dist <= 5 ORDER BY doc_id""".stripMargin,

    // positional phrase match mirrored step-for-step: zipped pos/tok
    // unnest (q97), per-(doc, term) ordered position lists, −off shifts,
    // list_reduce intersection fold (first element seeds, matching the
    // null-seeded Spark fold), all-offsets + non-empty filters
    "q135_text_phrase_search" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |p0 AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
        |    unnest(toks) AS tok FROM d),
        |pos AS (SELECT doc_id, tok, list(pos ORDER BY pos) AS positions
        |  FROM p0 WHERE tok IN ('table', 'hash') GROUP BY doc_id, tok),
        |q AS (SELECT unnest(['table', 'hash']) AS tok,
        |    unnest(range(0, 2)) AS off),
        |c AS (SELECT pos.doc_id, q.off,
        |    list_transform(pos.positions, x -> x - q.off) AS shifted
        |  FROM q JOIN pos USING (tok)),
        |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_off,
        |    list_reduce(list(shifted ORDER BY off),
        |      (a, x) -> list_intersect(a, x)) AS aligned
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, CAST(len(aligned) AS BIGINT) AS phrase_tf
        |FROM g WHERE n_off = 2 AND len(aligned) > 0
        |ORDER BY doc_id""".stripMargin,

    // interpolated Kneser–Ney, D = 3/4 in exact-ratio space: every CASE
    // branch mirrors the Spark expression op-for-op (4·c2−3 / 4·c1
    // discounted term, 3·fert / 4·c1 interpolation weight, cont/btypes
    // continuation probability); same four-way unnest zip as q111
    "q131_text_kneser_ney" ->
      """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tr AS (SELECT toks FROM docs WHERE doc_id % 2 = 0),
        |c1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM (
        |    SELECT unnest(toks) AS tok FROM tr) GROUP BY tok),
        |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END) AS bg FROM tr)
        |  GROUP BY bg),
        |ty AS (SELECT string_split(bg, ' ')[1] AS w1,
        |    string_split(bg, ' ')[2] AS w2 FROM c2),
        |fert AS (SELECT w1, CAST(count(*) AS BIGINT) AS fert
        |  FROM ty GROUP BY w1),
        |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS cont
        |  FROM ty GROUP BY w2),
        |bt AS (SELECT CAST(count(*) AS BIGINT) AS btypes FROM ty),
        |p0 AS (SELECT doc_id,
        |    unnest(range(0, greatest(len(toks) - 1, 0))) AS pos,
        |    unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END) AS bg,
        |    unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)), i -> toks[i]) END) AS w1,
        |    unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)), i -> toks[i+1]) END) AS w2
        |  FROM docs),
        |sc AS (SELECT p0.doc_id, p0.pos, a.c1 IS NULL AS unseen_hist,
        |    CASE WHEN a.c1 IS NULL
        |      THEN CAST(COALESCE(ct.cont, 0) AS DOUBLE)
        |        / CAST(bt.btypes AS DOUBLE)
        |      ELSE CAST(greatest(0, COALESCE(c2.c2, 0) * 4 - 3) AS DOUBLE)
        |          / CAST(a.c1 * 4 AS DOUBLE)
        |        + (CAST(COALESCE(f.fert, 0) * 3 AS DOUBLE)
        |            / CAST(a.c1 * 4 AS DOUBLE))
        |          * (CAST(COALESCE(ct.cont, 0) AS DOUBLE)
        |            / CAST(bt.btypes AS DOUBLE)) END AS p
        |  FROM p0 LEFT JOIN c2 USING (bg)
        |    LEFT JOIN c1 a ON p0.w1 = a.tok
        |    LEFT JOIN fert f ON p0.w1 = f.w1
        |    LEFT JOIN ct ON p0.w2 = ct.w2, bt),
        |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(count(CASE WHEN unseen_hist THEN 1 END) AS BIGINT)
        |      AS n_unseen,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(p ORDER BY pos)), (a, x) -> a + x) AS score
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_pairs, n_unseen, score, score / n_pairs AS mean_p
        |FROM g ORDER BY doc_id""".stripMargin,

    "q111_text_bigram_backoff" ->
      """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tr AS (SELECT toks FROM docs WHERE doc_id % 2 = 0),
        |c1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM (
        |    SELECT unnest(toks) AS tok FROM tr) GROUP BY tok),
        |tt AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM c1),
        |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END) AS bg FROM tr)
        |  GROUP BY bg),
        |p0 AS (SELECT doc_id,
        |    unnest(range(0, greatest(len(toks) - 1, 0))) AS pos,
        |    unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END) AS bg,
        |    unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)), i -> toks[i]) END) AS w1,
        |    unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)), i -> toks[i+1]) END) AS w2
        |  FROM docs),
        |sc AS (SELECT p0.doc_id, p0.pos, c2.c2 IS NULL AS backoff,
        |    CASE WHEN c2.c2 IS NOT NULL
        |      THEN CAST(c2.c2 AS DOUBLE) / CAST(a.c1 AS DOUBLE)
        |      ELSE 0.4 * (CAST(COALESCE(b.c1, 0) AS DOUBLE) /
        |        CAST(tt.total AS DOUBLE)) END AS p
        |  FROM p0 LEFT JOIN c2 USING (bg)
        |    LEFT JOIN c1 a ON p0.w1 = a.tok
        |    LEFT JOIN c1 b ON p0.w2 = b.tok, tt),
        |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(count(CASE WHEN backoff THEN 1 END) AS BIGINT) AS n_backoff,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(p ORDER BY pos)), (a, x) -> a + x) AS score
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_pairs, n_backoff, score, score / n_pairs AS mean_p
        |FROM g ORDER BY doc_id""".stripMargin,

    // doc frequency per (source, 3-gram) over DISTINCT per-doc shingles;
    // rank window mirrors (n_docs DESC, ngram ASC) — a total order
    "q93_boilerplate_ngrams" ->
      """WITH t AS (SELECT doc_id, source, string_split(lower(text), ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, source,
        |    unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' ')) END)) AS ngram
        |  FROM t),
        |c AS (SELECT source, ngram, count(*) AS n_docs FROM g GROUP BY source, ngram),
        |r AS (SELECT source, ngram, CAST(n_docs AS BIGINT) AS n_docs,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_docs DESC, ngram) AS BIGINT) AS rank
        |  FROM c)
        |SELECT source, ngram, n_docs, rank FROM r
        |WHERE rank <= 3 ORDER BY source, rank""".stripMargin,

    // top-1000 vocabulary by total occurrences (ties to the smaller
    // token), coverage = in-vocab occurrences / all occurrences
    "q94_vocab_coverage" ->
      """WITH e AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |v AS (SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM e GROUP BY tok)
        |  ORDER BY cnt DESC, tok LIMIT 1000)
        |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(count(v.tok) AS BIGINT) AS n_in_vocab,
        |  CAST(count(v.tok) AS DOUBLE) / count(*) AS coverage
        |FROM e LEFT JOIN v ON e.tok = v.tok
        |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,

    // unigram familiarity: per-doc Σ cnt(tok) / (total · n_tok) — exact
    // BIGINT sums, one double division (no ln: libm last-ulp divergence)
    "q95_token_familiarity" ->
      """WITH e AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY tok),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        |d AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |    CAST(sum(c.cnt) AS BIGINT) AS sum_cnt
        |  FROM e JOIN c ON e.tok = c.tok GROUP BY e.doc_id)
        |SELECT d.doc_id, d.n_tok, d.sum_cnt,
        |  CAST(d.sum_cnt AS DOUBLE) / (CAST(t.total AS DOUBLE) * d.n_tok) AS familiarity
        |FROM d, t ORDER BY d.doc_id""".stripMargin,

    // df over distinct tokens per doc, Σdf exact BIGINT, one division
    "q84_text_doc_frequency" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
        |  FROM documents),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY tok)
        |SELECT t.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(df.df) AS BIGINT) AS sum_df,
        |  CAST(sum(df.df) AS DOUBLE) / count(*) AS mean_df
        |FROM t JOIN df USING (tok)
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    // BM25-rational: every arithmetic step mirrors the Spark expression
    // operation-for-operation (single divisions over exact BIGINTs, the
    // fixed double chain for the length norm); the per-doc score is a
    // sequential fold over term-sorted contributions (list_reduce ≡
    // Spark's aggregate over the array_sort'ed struct array)
    "q105_text_bm25" ->
      """WITH e AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |  FROM e GROUP BY doc_id),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM e
        |  WHERE tok IN ('vector', 'merge', 'stream') GROUP BY doc_id, tok),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |c AS (
        |  SELECT tf.doc_id, tf.tok,
        |    (CAST(st.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5) /
        |      (CAST(df.df AS DOUBLE) + 0.5) *
        |    ((CAST(tf.tf AS DOUBLE) * 2.2) /
        |      (CAST(tf.tf AS DOUBLE) +
        |        1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl)))) AS contrib
        |  FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id, st)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list(contrib ORDER BY tok)),
        |    (a, x) -> a + x) AS score
        |FROM c GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q33_text_topwords" ->
      s"""SELECT word, count(*) AS n FROM (
         |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |WHERE word <> '' AND word NOT IN ($stopList)
         |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,

    "q34_text_docstats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q35_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS h, count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY h ORDER BY h""".stripMargin,

    "q36_dedup_fingerprint" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp,
        |  count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY fp ORDER BY fp""".stripMargin,

    "q37_dedup_jaccard" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, list_distinct(string_split(lower(text), ' ')) AS w
         |  FROM documents)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  ${sqlJaccard("a.w", "b.w")} AS jaccard
         |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE ${sqlJaccard("a.w", "b.w")} >= 0.8
         |ORDER BY a_id, b_id""".stripMargin,

    // effective budget: q35's content hash, keeper via arg_min on the
    // unique doc_id (the struct-min mirror), HUGEINT sums cast back
    "q185_token_budget_dedup" ->
      """WITH d AS (SELECT doc_id, source, md5(lower(trim(text))) AS h,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS raw_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS raw_tokens FROM d
        |  GROUP BY source),
        |k AS (SELECT h, arg_min(source, doc_id) AS source,
        |    arg_min(n_tok, doc_id) AS n_tok FROM d GROUP BY h),
        |eff AS (SELECT source, CAST(count(*) AS BIGINT) AS eff_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS eff_tokens FROM k
        |  GROUP BY source)
        |SELECT raw.source, raw.raw_docs, raw.raw_tokens,
        |  coalesce(eff.eff_docs, 0) AS eff_docs,
        |  coalesce(eff.eff_tokens, 0) AS eff_tokens
        |FROM raw LEFT JOIN eff USING (source)
        |ORDER BY source""".stripMargin,

    // normalization: DuckDB's built-in nfc_normalize/strip_accents are an
    // independent implementation of the same Unicode standard; the
    // fixture decor is rebuilt with chr() so no source encoding ambiguity
    "q184_text_normalize" ->
      """WITH r AS (SELECT doc_id,
        |    (CASE doc_id % 4
        |      WHEN 0 THEN 'caf' || chr(233) || ' r' || chr(233)
        |        || 'sum' || chr(233)
        |      WHEN 1 THEN 'cafe' || chr(769) || ' re' || chr(769)
        |        || 'sume' || chr(769)
        |      WHEN 2 THEN 'u' || chr(776) || 'ber n' || chr(241)
        |        || 'o' || chr(241) || 'o'
        |      ELSE 's' || chr(248) || 'ster ' || chr(339)
        |        || 'uvre stra' || chr(223) || 'e'
        |    END) || ' ' || substr(text, 1, 40) AS raw
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, raw, nfc_normalize(raw) AS nfc,
        |  strip_accents(raw) AS folded,
        |  CAST(length(raw) AS INT) AS n_raw,
        |  CAST(length(nfc_normalize(raw)) AS INT) AS n_nfc,
        |  (nfc_normalize(raw) <> raw) AS nfc_changed
        |FROM r ORDER BY doc_id""".stripMargin,

    // code-switching: the q44 struct-max scorer replayed per HALF of the
    // token list (inclusive 1-based slices, n//2 split)
    "q182_text_code_switch" -> {
      def guess(half: String): String = {
        val structs = TextFunctions.langKeywords.toSeq.sortBy(_._1)
          .map { case (lang, words) =>
            val list = words.map(w => s"'$w'").mkString(", ")
            s"{'score': len(list_filter($half, t -> t IN ($list))), 'lang': '$lang'}"
          }.mkString(",\n      ")
        s"CASE WHEN list_max([$structs]).score > 0 " +
          s"THEN list_max([$structs]).lang ELSE 'und' END"
      }
      val ga = guess("fh")
      val gb = guess("sh")
      s"""SELECT doc_id, labelled_lang, first_lang, second_lang,
         |  (first_lang <> 'und' AND second_lang <> 'und'
         |    AND first_lang <> second_lang) AS is_switch
         |FROM (
         |  SELECT doc_id, labelled_lang, $ga AS first_lang, $gb AS second_lang
         |  FROM (
         |    SELECT doc_id, lang AS labelled_lang,
         |      toks[1 : len(toks) // 2] AS fh,
         |      toks[len(toks) // 2 + 1 : len(toks)] AS sh
         |    FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
         |          FROM documents WHERE text IS NOT NULL)))
         |ORDER BY doc_id""".stripMargin
    },

    "q44_text_langid" -> {
      val structs = TextFunctions.langKeywords.toSeq.sortBy(_._1)
        .map { case (lang, words) =>
          val list = words.map(w => s"'$w'").mkString(", ")
          s"{'score': len(list_filter(toks, t -> t IN ($list))), 'lang': '$lang'}"
        }.mkString(",\n      ")
      s"""SELECT doc_id, labelled_lang,
         |  CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS guessed_lang
         |FROM (
         |  SELECT doc_id, lang AS labelled_lang,
         |    list_max([
         |      $structs]) AS best
         |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
         |        FROM documents))
         |ORDER BY doc_id""".stripMargin
    },

    "q45_text_quality" ->
      s"""SELECT doc_id, n_chars,
         |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(lower(text), ' ')) AS avg_token_len,
         |  CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ($stopList))) AS DOUBLE) / len(string_split(lower(text), ' ')) AS stop_ratio,
         |  CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE) / len(string_split(lower(text), ' ')) AS uniq_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q46_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS BIGINT) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // shingle construction mirrors word_shingles (n consecutive tokens
    // joined by a space); the <3-token edge yields an empty set, excluded
    // on both sides
    "q67_dedup_ngram_jaccard" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    list_distinct(list_transform(range(1, len(toks)-1),
         |      i -> array_to_string(toks[i:i+2], ' '))) AS w
         |  FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS toks
         |        FROM documents))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  ${sqlJaccard("a.w", "b.w")} AS jaccard
         |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE len(a.w) > 0 AND len(b.w) > 0
         |  AND ${sqlJaccard("a.w", "b.w")} >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    // overlap coefficient = |A∩B| / min(|A|,|B|): exact integer
    // intersection over distinct token sets, divided as double — the same
    // determinism contract as sqlJaccard
    "q74_dedup_containment" ->
      """WITH d AS (
        |  SELECT doc_id, source, list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_filter(a.w, x -> list_contains(b.w, x))) AS DOUBLE)
        |    / least(len(a.w), len(b.w)) AS overlap
        |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_filter(a.w, x -> list_contains(b.w, x))) AS DOUBLE)
        |    / least(len(a.w), len(b.w)) >= 0.95
        |ORDER BY a_id, b_id""".stripMargin,

    // mirrors TextFunctions.rollingFingerprint exactly: sequential left fold
    // (list_prepend seeds the accumulator, per the array-fold oracle rule),
    // token hash = first 8 md5 hex digits parsed as an integer
    "q47_text_rollinghash" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(lower(text), ' '),
        |        t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS rolling_fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // distinct-word collapse then per-word character pairs, weighted by
    // word frequency; sum(BIGINT) is HUGEINT in DuckDB → cast back
    "q99_bpe_pair_counts" ->
      """WITH tf AS (
        |  SELECT tok, count(*) AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        |  WHERE length(tok) >= 2 GROUP BY tok),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, length(tok)),
        |    i -> substring(tok, i, 2))) AS pair, freq
        |  FROM tf)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM pairs GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    // recursive-CTE fold of the fixed merge table over the distinct-word
    // dictionary, then a zipped-unnest position join back to documents —
    // the list_reduce mirrors bpe_merge_pair's left-to-right
    // non-overlapping scan (see q100's scaladoc for the equivalence)
    // wordpiece: greedy longest-match replay per distinct word — the
    // recursive step's LATERAL struct-max picks the longest piece legal
    // at the position (initial vs ## continuation); no match → the whole
    // word becomes [UNK]; then the q100 position-ordered regroup
    "q148_wordpiece_encode" -> (
      s"""WITH RECURSIVE vocab(p) AS (VALUES
        |  ${wpVocab.map(p => s"('$p')").mkString(",")}),
        |w(tok) AS (SELECT DISTINCT unnest(string_split(lower(text), ' '))
        |    AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |enc AS (
        |  SELECT tok, tok AS rem, CAST([] AS VARCHAR[]) AS pieces FROM w
        |  UNION ALL
        |  SELECT e.tok,
        |    CASE WHEN b.best IS NULL THEN ''
        |         ELSE substr(e.rem, CASE WHEN len(e.pieces) = 0
        |           THEN length(struct_extract(b.best, 'p')) + 1
        |           ELSE length(struct_extract(b.best, 'p')) - 1 END)
        |    END AS rem,
        |    CASE WHEN b.best IS NULL THEN ['[UNK]']
        |         ELSE list_append(e.pieces, struct_extract(b.best, 'p'))
        |    END AS pieces
        |  FROM enc e LEFT JOIN LATERAL (
        |    SELECT max({'l': length(v.p), 'p': v.p}) AS best FROM vocab v
        |    WHERE (len(e.pieces) = 0 AND v.p NOT LIKE '##%'
        |        AND v.p = substr(e.rem, 1, length(v.p)))
        |      OR (len(e.pieces) > 0 AND v.p LIKE '##%'
        |        AND substr(v.p, 3) = substr(e.rem, 1, length(v.p) - 2))
        |  ) b ON true
        |  WHERE e.rem <> ''),
        |d AS (SELECT tok, pieces FROM enc WHERE rem = ''),
        |tp AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
        |    unnest(toks) AS tok
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |    FROM documents WHERE text IS NOT NULL))
        |SELECT tp.doc_id, CAST(sum(len(d.pieces)) AS BIGINT) AS n_wp,
        |  CAST(sum(CASE WHEN d.pieces = ['[UNK]'] THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unk,
        |  md5(array_to_string(flatten(list(d.pieces ORDER BY tp.pos)), ' '))
        |    AS wp_fp
        |FROM tp JOIN d USING (tok)
        |GROUP BY tp.doc_id ORDER BY tp.doc_id""".stripMargin),

    // unigram-LM: the exact Viterbi recurrence replayed per distinct
    // word — the recursive CTE carries each word's DP cell list
    // (score, piece stream); the step's candidates are the identical
    // double chains (prev.s · p in the same position/length order as the
    // kernel), the argmax is list_sort's struct order over
    // (s, −len, toks) — equal scores break to shortest final piece —
    // and unreachable cells carry s = 0 (every real score is a product
    // of positive probabilities)
    "q149_unigram_encode" -> {
      val best =
        """list_sort(list_filter(
          |        list_transform(range(1, least(i + 1, ml) + 1),
          |          l -> struct_pack(
          |            s := cells[i + 2 - CAST(l AS INT)].s *
          |                 coalesce(list_extract(map_extract(m,
          |                   substr(tok, i + 2 - CAST(l AS INT), CAST(l AS INT))), 1), 0.0),
          |            neg := -l,
          |            toks := cells[i + 2 - CAST(l AS INT)].toks || ' ' ||
          |                 substr(tok, i + 2 - CAST(l AS INT), CAST(l AS INT)))),
          |        c -> c.s > 0))[-1]""".stripMargin
      s"""WITH RECURSIVE vnum(piece, num) AS (VALUES
        |  ${ugVocab.map { case (p, n) => s"('$p', $n)" }.mkString(",")}),
        |v AS (SELECT piece, CAST(num AS DOUBLE) /
        |    (SELECT CAST(sum(num) AS DOUBLE) FROM vnum) AS p FROM vnum),
        |vm AS (SELECT map(list(piece), list(p)) AS m,
        |    max(len(piece)) AS ml FROM v),
        |w(tok) AS (SELECT DISTINCT unnest(string_split(lower(text), ' '))
        |  FROM documents WHERE text IS NOT NULL),
        |dp(tok, n, i, m, ml, cells) AS (
        |  SELECT tok, len(tok), 0, vm.m, vm.ml,
        |    [struct_pack(s := CAST(1.0 AS DOUBLE), toks := '')]
        |  FROM w, vm
        |  UNION ALL
        |  SELECT tok, n, i + 1, m, ml,
        |    list_append(cells, struct_pack(
        |      s := coalesce(($best).s, CAST(0.0 AS DOUBLE)),
        |      toks := coalesce(($best).toks, '')))
        |  FROM dp WHERE i < n),
        |seg AS (
        |  SELECT tok,
        |    CASE WHEN n = 0 THEN CAST([] AS VARCHAR[])
        |         WHEN cells[n + 1].s = 0 THEN ['[UNK]']
        |         ELSE string_split(ltrim(cells[n + 1].toks, ' '), ' ')
        |    END AS sp
        |  FROM dp WHERE i = n),
        |tp AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
        |    unnest(toks) AS tok
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |    FROM documents WHERE text IS NOT NULL))
        |SELECT tp.doc_id, CAST(sum(len(seg.sp)) AS BIGINT) AS n_sp,
        |  CAST(sum(CASE WHEN seg.sp = ['[UNK]'] THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unk,
        |  md5(array_to_string(flatten(list(seg.sp ORDER BY tp.pos)), ' '))
        |    AS sp_fp
        |FROM tp JOIN seg USING (tok)
        |GROUP BY tp.doc_id ORDER BY tp.doc_id""".stripMargin
    },

    "q100_bpe_encode" ->
      """WITH RECURSIVE m(rank, l, r) AS (
        |  VALUES (1,'e','r'),(2,'t','h'),(3,'th','e'),(4,'a','t'),(5,'s','t'),
        |         (6,'o','r'),(7,'j','o'),(8,'jo','i'),(9,'joi','n'),(10,'a','n'),
        |         (11,'d','at')),
        |w AS (SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS tok
        |      FROM documents WHERE text IS NOT NULL),
        |enc AS (
        |  SELECT tok,
        |    list_transform(range(1, length(tok) + 1), i -> substring(tok, i, 1)) AS syms,
        |    0 AS k
        |  FROM w
        |  UNION ALL
        |  SELECT e.tok,
        |    list_reduce(
        |      list_prepend(CAST([] AS VARCHAR[]), list_transform(e.syms, s -> [s])),
        |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.l AND x[1] = m.r
        |                  THEN list_append(acc[1:len(acc)-1], m.l || m.r)
        |                  ELSE list_append(acc, x[1]) END),
        |    e.k + 1
        |  FROM enc e JOIN m ON m.rank = e.k + 1),
        |d AS (SELECT tok, syms FROM enc WHERE k = 11),
        |tp AS (
        |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |        FROM documents WHERE text IS NOT NULL))
        |SELECT tp.doc_id, CAST(sum(len(d.syms)) AS BIGINT) AS n_bpe,
        |  md5(array_to_string(flatten(list(d.syms ORDER BY tp.pos)), ' ')) AS bpe_fp
        |FROM tp JOIN d USING (tok)
        |GROUP BY tp.doc_id ORDER BY tp.doc_id""".stripMargin,

    // fertility: the q100 recursive-CTE encode refit (same merge VALUES),
    // per-word piece counts summed per doc, pooled per-lang ratios as
    // single double divisions over BIGINT sums (HUGEINT cast back)
    "q198_tokenizer_fertility" ->
      """WITH RECURSIVE m(rank, l, r) AS (
        |  VALUES (1,'e','r'),(2,'t','h'),(3,'th','e'),(4,'a','t'),(5,'s','t'),
        |         (6,'o','r'),(7,'j','o'),(8,'jo','i'),(9,'joi','n'),(10,'a','n'),
        |         (11,'d','at')),
        |w AS (SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS tok
        |      FROM documents WHERE text IS NOT NULL),
        |enc AS (
        |  SELECT tok,
        |    list_transform(range(1, length(tok) + 1), i -> substring(tok, i, 1)) AS syms,
        |    0 AS k
        |  FROM w
        |  UNION ALL
        |  SELECT e.tok,
        |    list_reduce(
        |      list_prepend(CAST([] AS VARCHAR[]), list_transform(e.syms, s -> [s])),
        |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.l AND x[1] = m.r
        |                  THEN list_append(acc[1:len(acc)-1], m.l || m.r)
        |                  ELSE list_append(acc, x[1]) END),
        |    e.k + 1
        |  FROM enc e JOIN m ON m.rank = e.k + 1),
        |dict AS (SELECT tok, CAST(len(syms) AS BIGINT) AS n_p
        |  FROM enc WHERE k = 11),
        |tp AS (SELECT doc_id, unnest(toks) AS tok
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |        FROM documents WHERE text IS NOT NULL)),
        |db AS (SELECT tp.doc_id, CAST(sum(dict.n_p) AS BIGINT) AS n_bpe
        |  FROM tp JOIN dict USING (tok) GROUP BY tp.doc_id),
        |base AS (SELECT doc_id, lang,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT b.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(b.n_words) AS BIGINT) AS sum_words,
        |  CAST(sum(db.n_bpe) AS BIGINT) AS sum_pieces,
        |  CAST(sum(b.n_chars) AS BIGINT) AS sum_chars,
        |  CAST(CAST(sum(db.n_bpe) AS BIGINT) AS DOUBLE) /
        |    CAST(sum(b.n_words) AS BIGINT) AS fertility,
        |  CAST(CAST(sum(b.n_chars) AS BIGINT) AS DOUBLE) /
        |    CAST(sum(db.n_bpe) AS BIGINT) AS chars_per_piece
        |FROM base b JOIN db USING (doc_id)
        |GROUP BY b.lang ORDER BY b.lang""".stripMargin,

    // mirror matrix: distinct (source, content) sets, hash-keyed pair
    // join, integer Jaccard-per-mille and the half-contained verdict
    // the universal-content cap (> 16 sources → boilerplate, dropped
    // before pairing) mirrors sourceMirrorMatrix's capSources = 16
    "q202_source_mirror" ->
      """WITH hs0 AS (SELECT DISTINCT source, md5(text) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |hs AS (SELECT source, fp FROM hs0
        |  WHERE fp IN (SELECT fp FROM hs0 GROUP BY fp
        |               HAVING count(*) <= 16)),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM hs GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS ns
        |  FROM hs a JOIN hs b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2),
        |grid AS (SELECT sa.source AS src_a, sa.n AS n_a,
        |    sb.source AS src_b, sb.n AS n_b
        |  FROM sz sa, sz sb WHERE sa.source < sb.source)
        |SELECT g.src_a, g.src_b, coalesce(p.ns, 0) AS n_shared,
        |  g.n_a, g.n_b,
        |  (coalesce(p.ns, 0) * 1000) // (g.n_a + g.n_b - coalesce(p.ns, 0))
        |    AS jac_permille,
        |  coalesce(p.ns, 0) * 2 >= least(g.n_a, g.n_b) AS is_mirror
        |FROM grid g LEFT JOIN p
        |  ON p.src_a = g.src_a AND p.src_b = g.src_b
        |ORDER BY g.src_a, g.src_b""".stripMargin,

    // the merge-plan resolution on the same capped universe: mirror pairs
    // transitively closed by a recursive reachability CTE (the q66
    // pattern over SOURCE strings — min name labels), survivor = most
    // capped contents, ties to the smallest name
    "q205_source_merge_plan" ->
      """WITH RECURSIVE hs0 AS (SELECT DISTINCT source, md5(text) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |hs AS (SELECT source, fp FROM hs0
        |  WHERE fp IN (SELECT fp FROM hs0 GROUP BY fp
        |               HAVING count(*) <= 16)),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM hs GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS ns
        |  FROM hs a JOIN hs b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2),
        |m AS (SELECT p.src_a, p.src_b FROM p
        |  JOIN sz sa ON sa.source = p.src_a
        |  JOIN sz sb ON sb.source = p.src_b
        |  WHERE p.ns * 2 >= least(sa.n, sb.n)),
        |sym AS (SELECT src_a AS a, src_b AS b FROM m
        |  UNION SELECT src_b AS a, src_a AS b FROM m),
        |reach(src, node) AS (
        |  SELECT source, source FROM sz
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.node),
        |comp AS (SELECT src AS source, min(node) AS merge_group
        |  FROM reach GROUP BY src),
        |g AS (SELECT c.source, c.merge_group, sz.n
        |  FROM comp c JOIN sz USING (source)),
        |names AS (SELECT merge_group, CAST(count(*) AS BIGINT) AS group_size
        |  FROM g GROUP BY 1),
        |wk AS (SELECT source, merge_group, n, row_number() OVER (
        |    PARTITION BY merge_group ORDER BY n DESC, source) AS rk
        |  FROM g),
        |win AS (SELECT merge_group, source AS canonical_source
        |  FROM wk WHERE rk = 1)
        |SELECT wk.source, wk.merge_group, win.canonical_source,
        |  names.group_size, wk.n AS n_contents, wk.rk = 1 AS keep
        |FROM wk JOIN win USING (merge_group) JOIN names USING (merge_group)
        |ORDER BY wk.source""".stripMargin,

    // incremental mirror maintenance: pair-visibility wave =
    // max(first-sighting waves), per-wave deltas summed by a window
    // (HUGEINT cast back — the q91 rule); same <=16 cap as q202/q205
    "q206_mirror_incremental" ->
      """WITH hs0 AS (SELECT DISTINCT source, md5(text) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |capped AS (SELECT fp FROM hs0 GROUP BY fp
        |  HAVING count(*) <= 16),
        |fw AS (SELECT source, md5(text) AS fp,
        |    CAST(min(doc_id // 100) AS BIGINT) AS w
        |  FROM documents WHERE text IS NOT NULL
        |    AND md5(text) IN (SELECT fp FROM capped)
        |  GROUP BY 1, 2),
        |d AS (SELECT a.source AS src_a, b.source AS src_b,
        |    greatest(a.w, b.w) AS wave,
        |    CAST(count(*) AS BIGINT) AS delta_shared
        |  FROM fw a JOIN fw b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2, 3)
        |SELECT src_a, src_b, wave, delta_shared,
        |  CAST(sum(delta_shared) OVER (PARTITION BY src_a, src_b
        |    ORDER BY wave ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_shared
        |FROM d ORDER BY src_a, src_b, wave""".stripMargin,
  )
}
