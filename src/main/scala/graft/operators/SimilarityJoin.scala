package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact τ-Jaccard self-join over token sets, with two interchangeable
  * physical strategies (results are provably identical):
  *
  *  - [[postingsCount]]: explode → equi-join on (block, token) → count
  *    per pair. One shuffle; pair-rows = Σ_token (docs-with-token choose 2).
  *    Wins when the vocabulary is small/flat (each token's posting list is
  *    huge but there's no rare prefix to exploit — e.g. the synthetic
  *    fixtures here).
  *  - [[prefixFilter]] (PPJoin-style): order tokens by ascending global
  *    frequency, index only each set's prefix (nw − ⌈τ·nw⌉ + 1 rarest
  *    tokens), length-filter inside the join, verify candidates exactly.
  *    Wins on realistic Zipfian vocabularies, where prefix postings are
  *    tiny — the strategy that survives 100 TB corpora.
  *
  * Input: (id: bigint, block: string, w: array<string>) — `block` bounds
  * candidate scope (e.g. source, language, shard); `w` must be distinct.
  * Output: (a_id, b_id, jaccard) with a_id < b_id and jaccard ≥ tau,
  * jaccard computed as inter/(na+nb−inter) on exact ints.
  */
object SimilarityJoin {

  /** Pin the similarity join's pair-compute parallelism to the session's
    * shuffle width with an explicitly-numbered repartition on the join
    * keys (which the join then reuses — no second exchange).
    *
    * Why: a similarity self-join is COMPUTE-amplifying — kilobytes of
    * token sets in, millions of candidate pairs inside the join. AQE
    * coalesces post-shuffle partitions by INPUT bytes, so on a small-bytes
    * corpus it folds the whole quadratic pair stage into one task
    * (measured on q74 at sf0.1: the un-pinned join ran as a single 7.9 s
    * task; pinned, the same work spreads across the 32-way session width).
    * An explicitly-numbered repartition is exempt from AQE coalescing, so
    * the pin holds at any input size while changing nothing else about
    * the plan. */
  private def pinPairWidth(df: DataFrame, keys: Column*): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(n, keys: _*)
  }

  /** @param metricName name of the candidate-volume `observe` metric; a plan
    *                    that composes TWO postings joins (e.g. the staged
    *                    strategy equivalence-diffed against the naive one)
    *                    needs distinct names — Spark rejects one name bound
    *                    to different results in a single plan. */
  def postingsCount(docs: DataFrame, tau: Double,
      metricName: String = "sj_candidates_postings"): DataFrame = {
    val toks = docs.select(col("id"), col("block"), size(col("w")).as("nw"),
      explode(col("w")).as("tok"))
      .select(col("id"), col("block"), col("nw"), xxhash64(col("tok")).as("token"))
    val a = toks.select(col("id").as("a_id"), col("block"), col("nw").as("na"),
      col("token"))
    val b = toks.select(col("id").as("b_id"), col("block").as("b_block"),
      col("nw").as("nb"), col("token").as("b_token"))
    // length filter inside the join: J ≥ τ requires τ·max(na,nb) ≤ min —
    // prunes cross-size pairs before they ever reach the count aggregation.
    // na/nb ride through the join and come out of the aggregation (constant
    // per pair), so no extra joins back to a sizes relation are needed —
    // one scan, one shuffle, done.
    a.join(b,
        col("block") === col("b_block") && col("token") === col("b_token") &&
          col("a_id") < col("b_id") &&
          // epsilon guards FP rounding of na*tau landing ABOVE an integer
          // bound (would silently prune an exact-boundary pair); errors can
          // only be over-inclusive, and the final jaccard filter is exact
          col("na") * tau <= col("nb") + lit(1e-7) &&
          col("nb") * tau <= col("na") + lit(1e-7))
      // candidate volume = Σ_token C(df,2)-ish — THE postings-join cost
      // driver; surfaced so runs can see an exploding token before it
      // becomes a dead executor (ZipfJaccardSpec compares strategies on it;
      // names are per-strategy so one plan can hold both, e.g. equivalence
      // tests diffing the two)
      .observe(metricName, count(lit(1)).as("candidates"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"), max(col("na")).as("na"),
        max(col("nb")).as("nb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("a_id", "b_id", "jaccard")
  }

  /** Exact τ-Jaccard self-join in the BLOCKED regime: the all-pairs
    * equi-join on `block` with the hashed-token merge kernel — the
    * Jaccard twin of [[overlapBlocked]], sharing [[hashTokenSets]], the
    * symmetric-rename/merge-hint one-scan shape, and the pinned pair
    * width. Each in-block pair is touched exactly ONCE (cost Σ_block
    * C(n,2)), versus [[postingsCount]]'s once-per-shared-token candidate
    * rows (cost Σ_{block,token} C(df,2)) — the strategy trade measured in
    * BASELINE.md: dense docs on a small vocabulary favor blocked, sparse
    * docs in huge blocks favor postings. Row identity with
    * [[postingsCount]] is spec-pinned (SimilarityJoinSpec); compose with
    * [[staged]] for the dup-collapsed form.
    *
    * PRECONDITION (all jaccard* variants, same as the object header): `w`
    * must be DISTINCT per row. The denominator uses the RAW array sizes
    * (na + nb − inter) while `inter` counts distinct shared hashes — a
    * caller passing duplicate tokens gets a silently DEFLATED Jaccard
    * here (and a different, also-wrong degradation from [[postingsCount]];
    * the spec-pinned row identity only holds for distinct inputs). Apply
    * `array_distinct` upstream, as every in-repo caller does. */
  def jaccardBlocked(docs: DataFrame, tau: Double,
      metricName: String = "sj_pairs_jblocked"): DataFrame =
    blockedPairsWithInter(docs, metricName, sizePruneTau = Some(tau))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("a_id", "b_id", "jaccard")

  /** Shared BLOCKED pair core — one body for the overlap and Jaccard
    * variants (a shape fix written twice during round 10 motivated the
    * merge): hashed projection, SYMMETRIC renames (bare column vs alias
    * canonicalize differently and would break the ReusedExchange), pinned
    * pair width, shuffle_merge hint (stats would flip the self-join to a
    * corpus-double-scanning broadcast when the packed-long estimate dips
    * under the threshold), observe metric, merge-kernel intersection.
    * Emits (a_id < b_id, na, nb, inter).
    *
    * `sizePruneTau`: for τ-Jaccard, J ≥ τ ⇒ τ·max(na,nb) ≤ min(na,nb)
    * (inter ≤ min, union ≥ max) — the same sound join-condition prune
    * [[postingsCount]] applies, skipping the O(na+nb) kernel for
    * cross-size pairs; epsilon guards FP rounding landing ABOVE an
    * integer bound. NOT sound for containment (a tiny set inside a huge
    * one is a legitimate hit), so the overlap variants pass None. */
  private def blockedPairsWithInter(docs: DataFrame, metricName: String,
      sizePruneTau: Option[Double]): DataFrame = {
    val hashed = hashTokenSets(docs)
    val a = pinPairWidth(hashed.select(col("id").as("a_id"),
      col("block").as("a_block"), col("nw").as("na"), col("wh").as("a_w")),
      col("a_block"))
    val b = pinPairWidth(hashed.select(col("id").as("b_id"),
      col("block").as("b_block"), col("nw").as("nb"), col("wh").as("b_w")),
      col("b_block"))
    val prune = sizePruneTau.map(tau =>
      col("na") * tau <= col("nb") + lit(1e-7) &&
        col("nb") * tau <= col("na") + lit(1e-7)).getOrElse(lit(true))
    a.join(b.hint("shuffle_merge"),
        col("a_block") === col("b_block") && col("a_id") < col("b_id") &&
          prune)
      .observe(metricName, count(lit(1)).as("pairs"))
      .select(col("a_id"), col("b_id"), col("na"), col("nb"),
        call_function("intersect_count_sorted", col("a_w"), col("b_w"))
          .as("inter"))
  }

  /** Shared TILED pair core — [[blockedPairsWithInter]]'s escalation twin
    * over [[tiledSelfPairs]]; emits normalized (a_id < b_id, na, nb,
    * inter) (the score formulas are symmetric, so x/y order is free to
    * normalize here). The size prune runs BEFORE the kernel projection. */
  private def tiledPairsWithInter(docs: DataFrame, chunks: Int,
      metricName: String, sizePruneTau: Option[Double]): DataFrame = {
    val prune = sizePruneTau.map(tau =>
      col("x_nw") * tau <= col("y_nw") + lit(1e-7) &&
        col("y_nw") * tau <= col("x_nw") + lit(1e-7)).getOrElse(lit(true))
    tiledSelfPairs(hashTokenSets(docs), "id", "block", Seq("nw", "wh"), chunks)
      .filter(prune)
      .observe(metricName, count(lit(1)).as("pairs"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"),
        col("x_nw").as("na"), col("y_nw").as("nb"),
        call_function("intersect_count_sorted", col("x_wh"), col("y_wh"))
          .as("inter"))
  }

  /** Exact τ-overlap-coefficient self-join: |A∩B| / min(|A|,|B|) ≥ τ —
    * the CONTAINMENT complement to τ-Jaccard. A short document pasted
    * verbatim inside a long one has low Jaccard (the union is large) but
    * overlap ≈ 1; this is the signal that catches quote-/template-
    * containment dedup cases Jaccard structurally cannot.
    *
    * Same postings machinery as [[postingsCount]] with one semantic
    * difference that matters at scale: there is NO size-ratio length
    * filter — a tiny set fully contained in a huge one is a legitimate
    * hit, so cross-size pairs must survive. Containment therefore leans
    * entirely on `block` to bound candidate scope (the same reason PPJoin's
    * prefix filter does not transfer: the τ-prefix bound assumes the
    * Jaccard size constraint). Candidate volume is surfaced via `observe`.
    */
  def overlapPostings(docs: DataFrame, tau: Double,
      metricName: String = "sj_candidates_overlap"): DataFrame = {
    val toks = docs.select(col("id"), col("block"), size(col("w")).as("nw"),
      explode(col("w")).as("tok"))
      .select(col("id"), col("block"), col("nw"), xxhash64(col("tok")).as("token"))
    // pinned width is neutral here when AQE would have kept the width
    // anyway (interleaved A/B on q37: 6.5 s both ways under load) and
    // removes the single-task collapse on small-bytes corpora — see
    // pinPairWidth
    val a = pinPairWidth(toks.select(col("id").as("a_id"), col("block"),
      col("nw").as("na"), col("token")), col("block"), col("token"))
    val b = pinPairWidth(toks.select(col("id").as("b_id"),
      col("block").as("b_block"), col("nw").as("nb"),
      col("token").as("b_token")), col("b_block"), col("b_token"))
    a.join(b,
        col("block") === col("b_block") && col("token") === col("b_token") &&
          col("a_id") < col("b_id"))
      .observe(metricName, count(lit(1)).as("candidates"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"), max(col("na")).as("na"),
        max(col("nb")).as("nb"))
      .withColumn("overlap",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("overlap") >= tau)
      .select("a_id", "b_id", "overlap")
  }

  /** Exact τ-overlap self-join as a blocked all-pairs join: equi-join on
    * `block` with `a_id < b_id`, intersection via the native
    * `intersect_count` kernel (no intersection-array allocation) per
    * pair. Quadratic in block size — the OPPOSITE scaling regime from
    * [[overlapPostings]]:
    *
    *  - postings cost = Σ_{block,token} C(df, 2) shuffled rows — explodes
    *    when documents are DENSE against the vocabulary (every pair shares
    *    many tokens, so every pair is materialized once per shared token);
    *  - blocked cost = Σ_block C(docs, 2) pairs, each touched exactly once
    *    — explodes when BLOCKS are huge, regardless of density.
    *
    * On the driver corpus (tiny flat vocab: ~150 tokens, ~45/doc, blocks
    * of ≤250) the postings join shuffles 11.2M candidate rows to produce
    * 622K pairs (18 rows per pair) while blocked touches each pair once:
    * measured ~4.0 s vs ~6.9 s at sf0.1, interleaved A/B (BASELINE.md). A
    * web corpus inverts this — sparse docs, million-doc blocks — so q74
    * binds blocked by measurement while postings remains the sparse-corpus
    * scale path. For blocks too large for one partition's pair product,
    * the scale escalation is triangular tiling (chunk each block, join
    * chunk-pairs), not this operator as-is.
    */
  def overlapBlocked(docs: DataFrame, tau: Double,
      metricName: String = "sj_pairs_blocked"): DataFrame =
    blockedPairsWithInter(docs, metricName, sizePruneTau = None)
      .withColumn("overlap",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("overlap") >= tau)
      .select("a_id", "b_id", "overlap")

  /** Per-DOC projection feeding the pair-stage merge kernel
    * ([[graft.plans.SortedIntersectCount]]): every token is hashed ONCE per
    * document — not once per candidate pair, where [[overlapBlocked]]'s
    * old per-pair HashSet spent the whole 10× compute wave (BASELINE.md
    * round 10) — and the pair side degrades to a branch-predictable merge
    * over packed longs. `nw` keeps the RAW array size so the overlap
    * denominator is unchanged for callers whose `w` carries duplicates.
    * `token_hashes` is native, not the equivalent HOF — see its scaladoc:
    * a lambda here broke the q74 ReusedExchange (PlanSpec).
    *
    * Empty (and NULL) token sets are excluded: the postings twins
    * structurally never pair them (no posting rows), and a 0-size
    * denominator would raise DIVIDE_BY_ZERO under this repo's ANSI mode
    * instead of matching that no-row behavior. */
  private def hashTokenSets(docs: DataFrame): DataFrame =
    docs.filter(size(col("w")) > 0)
      .select(col("id"), col("block"), size(col("w")).as("nw"),
        call_function("token_hashes", col("w")).as("wh"))

  /** Bipartite τ-Jaccard join — candidate pairs between TWO corpora (same
    * (id, block, w) shape, DISJOINT ids by caller contract; `w` distinct
    * per the object-header precondition), blocked on equal `block` with
    * the same hashed-kernel machinery as [[jaccardBlocked]]. The
    * incremental-dedup probe shape: a 10% append joins against the
    * existing rep index instead of re-running the O(n²/blocks) self-join
    * over everything ([[DedupReport.extend]]). Emits (a_id, b_id, jaccard)
    * with a_id from `left` — NOT id-ordered, unlike the self-join
    * variants, because the sides are semantically distinct. */
  def jaccardBipartite(left: DataFrame, right: DataFrame, tau: Double,
      metricName: String = "sj_pairs_jbipartite"): DataFrame = {
    val la = pinPairWidth(hashTokenSets(left).select(col("id").as("a_id"),
      col("block").as("a_block"), col("nw").as("na"), col("wh").as("a_w")),
      col("a_block"))
    val rb = pinPairWidth(hashTokenSets(right).select(col("id").as("b_id"),
      col("block").as("b_block"), col("nw").as("nb"), col("wh").as("b_w")),
      col("b_block"))
    // the same sound size prune as the self-join (J ≥ τ bounds the size
    // ratio); epsilon guards FP rounding landing above an integer bound
    val prune = col("na") * tau <= col("nb") + lit(1e-7) &&
      col("nb") * tau <= col("na") + lit(1e-7)
    la.join(rb.hint("shuffle_merge"),
        col("a_block") === col("b_block") && prune)
      .observe(metricName, count(lit(1)).as("pairs"))
      .withColumn("inter",
        call_function("intersect_count_sorted", col("a_w"), col("b_w")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("a_id", "b_id", "jaccard")
  }

  /** [[overlapBlocked]] with TRIANGULAR TILING — the giant-block escalation
    * its doc names. Blocked-by-key hangs every block's whole C(n,2) pair
    * product on ONE join key; a million-doc block is then one task no
    * partitioning scheme can split. Tiling re-keys the product itself:
    * each doc lands in chunk `pmod(xxhash64(id), chunks)`, and every
    * unordered chunk pair (i ≤ j) becomes its own join tile —
    * side A replicates a chunk-i doc to tiles (i, i..C-1), side B to
    * tiles (0..i, i), so each unordered doc pair meets in EXACTLY one
    * tile: (chunk(x), chunk(y)) sorted. A block's pair product now spreads
    * over C(C+1)/2 independent keys, bounded-task-size by choosing
    * C ≈ √(block² / target-pairs-per-task).
    *
    * The price is replication: each token set is shipped (C+1)/2 times per
    * side, and the two sides project differently so the corpus is scanned
    * twice (blocked's single-scan exchange reuse is lost). Measured at
    * sf0.1 (warm, interleaved): tiled-8 0.83 s vs blocked 0.92–1.14 s —
    * the replication cost is offset locally because 20 block keys cannot
    * feed 32 cores while 720 tiles can. q74 still binds [[overlapBlocked]]
    * for the single-scan plan on a corpus whose blocks all fit one task;
    * this variant is the insurance a 100 TB run buys when a single block
    * outgrows a task. Row-identity with [[overlapBlocked]] (chunks 1/3/8)
    * is spec-pinned (SimilarityJoinSpec).
    */
  def overlapBlockedTiled(docs: DataFrame, tau: Double, chunks: Int = 8,
      metricName: String = "sj_pairs_tiled"): DataFrame =
    tiledPairsWithInter(docs, chunks, metricName, sizePruneTau = None)
      .withColumn("overlap",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("overlap") >= tau)
      .select("a_id", "b_id", "overlap")

  /** Strategy-picking containment join: measure the LARGEST block's pair
    * product with one metadata-scale aggregation (partial-agg max over
    * per-block counts — never a collect of block sizes) and escalate from
    * [[overlapBlocked]] to [[overlapBlockedTiled]] when that product
    * outgrows `maxPairsPerTask`. This automates the choice the round-9
    * 10× scale run made by hand (BASELINE.md: blocked's task granularity
    * is whole blocks — a ~1800-doc block is a ~1.6M-pair, wall-dominating
    * straggler; tiled-8 halved it): a corpus whose blocks all fit a task
    * keeps blocked's single-scan plan, a corpus with one giant block gets
    * its pair product re-keyed over C(chunks+1, 2) tiles, with `chunks`
    * sized so each tile lands near the per-task target.
    *
    * The extra job costs one pass of partial-aggregated counts before the
    * pair stage — the same "measure, don't guess" trade AQE itself makes.
    * Which strategy ran is visible in the plan (the observe metric's name:
    * sj_pairs_blocked vs sj_pairs_tiled); row identity between the two is
    * already spec-pinned (SimilarityJoinSpec).
    *
    * Default target CALIBRATED from the round-9 measurement, not guessed:
    * the 1.6M-pair block task ran ~15.9 s (~100k pairs/s/core for the
    * intersect kernel), so 250k pairs ≈ a 2–3 s task — small enough that
    * one block never dominates a stage wall, large enough that tiling's
    * replication isn't paid for trivial blocks. The driver corpus's ~31k-
    * pair blocks stay comfortably blocked; the 10× corpus's 1.6M-pair
    * blocks escalate (with the old 2M default they would NOT have, and
    * the measured 15.9 s straggler would be back). */
  def overlapAdaptive(docs: DataFrame, tau: Double,
      maxPairsPerTask: Long = 250000L): DataFrame =
    pickBlockedOrTiled(docs, maxPairsPerTask) match {
      case None => overlapBlocked(docs, tau)
      case Some(chunks) => overlapBlockedTiled(docs, tau, chunks)
    }

  /** The measured strategy choice shared by [[overlapAdaptive]] and
    * [[jaccardAdaptive]]: one partial-agg sizing job over per-block
    * counts; None = every block's pair product fits a task (keep the
    * single-scan blocked plan), Some(chunks) = escalate to triangular
    * tiling with `chunks` sized by BOTH constraints:
    *  - pair target: per-tile pairs ≈ maxPairs / (C(C+1)/2) ≤ target;
    *  - parallelism floor: total tile KEYS must comfortably exceed the
    *    shuffle width, or hash partitioning clumps several tiles into one
    *    reduce partition and the per-task target is fiction — measured
    *    (BASELINE.md round 10): 3 blocks × 6 tiles over 32 partitions
    *    left one task holding ~3 tiles and the stage wall; ≥ 4 tiles per
    *    partition smooths the clumping by the law of large numbers. */
  private def pickBlockedOrTiled(docs: DataFrame,
      maxPairsPerTask: Long): Option[Int] = {
    // coalesce: max over ZERO groups is NULL — an empty corpus must fall
    // through to blocked (itself empty), not NPE on getLong.
    val sized = docs.groupBy("block").agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)), count(lit(1))).head()
    val mx = sized.getLong(0)
    val nBlocks = sized.getLong(1)
    // Saturate instead of overflowing: mx*(mx-1) exceeds Long past
    // mx ≈ 3.04e9 (√Long.MaxValue). No real block is that big, but a
    // corrupted/constant block key must escalate, not silently wrap
    // negative and pick the un-tiled plan.
    val maxPairs =
      if (mx > 3037000499L) Long.MaxValue else mx * (mx - 1) / 2
    if (maxPairs <= maxPairsPerTask) None
    else {
      def chunksFor(tiles: Double): Int =
        math.ceil((math.sqrt(8 * tiles + 1) - 1) / 2).toInt
      val width = docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt
      val byPairs = chunksFor(maxPairs.toDouble / maxPairsPerTask)
      val byWidth = chunksFor(4.0 * width / math.max(1L, nBlocks))
      Some(math.min(64, math.max(2, math.max(byPairs, byWidth))))
    }
  }

  /** [[jaccardBlocked]] under triangular tiling — [[overlapBlockedTiled]]'s
    * Jaccard twin, same [[tiledSelfPairs]] machinery over the hashed
    * projection. Shares [[jaccardBlocked]]'s distinct-`w` PRECONDITION
    * (raw-size denominator vs distinct-hash intersection). */
  def jaccardBlockedTiled(docs: DataFrame, tau: Double, chunks: Int = 8,
      metricName: String = "sj_pairs_jtiled"): DataFrame =
    tiledPairsWithInter(docs, chunks, metricName, sizePruneTau = Some(tau))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("a_id", "b_id", "jaccard")

  /** Strategy-picking τ-Jaccard pair join — [[overlapAdaptive]]'s Jaccard
    * twin. Measured on the sf0.1 corpus (BASELINE.md round 10, identical
    * rows): blocked-with-merge-kernel 0.34–0.55 s vs the postings join's
    * 5.3–5.8 s — dense docs against a modest vocabulary make postings
    * materialize each pair once per shared token while blocked touches it
    * once with a packed-long merge. Postings remains the right regime for
    * sparse docs in blocks whose pair product dwarfs the posting-list
    * volume; the tiling escalation covers the giant-block middle ground. */
  def jaccardAdaptive(docs: DataFrame, tau: Double,
      maxPairsPerTask: Long = 250000L): DataFrame =
    pickBlockedOrTiled(docs, maxPairsPerTask) match {
      case None => jaccardBlocked(docs, tau)
      case Some(chunks) => jaccardBlockedTiled(docs, tau, chunks)
    }

  /** Generic triangular-tiled blocked self-pairing — the machinery behind
    * [[overlapBlockedTiled]], reusable for ANY per-pair computation over
    * in-block pairs (token overlap, embedding cosine, …). Emits each
    * unordered in-block id pair exactly once as
    * (x_id, y_id, block, x_<payload>…, y_<payload>…); x/y order is
    * arbitrary in off-diagonal tiles, so callers normalize with
    * least/greatest where output order matters.
    *
    * Why it exists beyond overlap: ANY blocked-by-key pair join caps its
    * parallelism at the number of DISTINCT BLOCKS — a label-blocked
    * embedding join with 10 labels uses 10 tasks of a 1000-executor
    * cluster. Tiling re-keys the pair product onto
    * blocks × C(chunks+1, 2) keys (see [[overlapBlockedTiled]]'s doc for
    * the construction and its replication cost).
    *
    * Reserves column names c/ca/cb/ca2/cb2 and the x_/y_ prefixes;
    * `payload` columns must not collide with them. */
  def tiledSelfPairs(docs: DataFrame, idCol: String, blockCol: String,
      payload: Seq[String], chunks: Int): DataFrame = {
    require(chunks >= 1, s"chunks must be ≥ 1: $chunks")
    val withChunk = docs.withColumn("c",
      pmod(xxhash64(col(idCol)), lit(chunks)).cast("int"))
    val aSide = withChunk.select(col(idCol).as("x_id") +:
      col(blockCol).as("block") +:
      payload.map(p => col(p).as(s"x_$p")) :+
      col("c").as("ca") :+
      explode(sequence(col("c"), lit(chunks - 1))).as("cb"): _*)
    val bSide = withChunk.select(col(idCol).as("y_id") +:
      col(blockCol).as("y_block") +:
      payload.map(p => col(p).as(s"y_$p")) :+
      explode(sequence(lit(0), col("c"))).as("ca2") :+
      col("c").as("cb2"): _*)
    pinPairWidth(aSide, col("block"), col("ca"), col("cb"))
      .join(pinPairWidth(bSide, col("y_block"), col("ca2"), col("cb2")),
        col("block") === col("y_block") &&
          col("ca") === col("ca2") && col("cb") === col("cb2") &&
          // diagonal tiles hold both orders of an intra-chunk pair (and
          // self-pairs): keep one; off-diagonal tiles hold each cross pair
          // exactly once already
          (col("ca") =!= col("cb") || col("x_id") < col("y_id")))
      .drop("ca", "cb", "ca2", "cb2", "y_block")
  }

  /** Exact-duplicate collapse staging around an inner pair strategy — the
    * 100 TB default shape. Web corpora are boilerplate-heavy: a large share of
    * documents carry an IDENTICAL token set, and inside the postings join a
    * group of k such docs contributes its full C(k,2) clique to the candidate
    * volume — through EVERY shared token, quadratically. Collapsing each
    * (block, token-set) group to its min-id representative BEFORE the join
    * removes that volume; the quadratic stage runs on distinct token sets
    * only. The staging algebra is strategy-agnostic — `inner` is ANY exact
    * τ-Jaccard self-join over (id, block, w) (here [[postingsCount]] or
    * [[prefixFilter]]; a real web corpus is BOTH Zipfian and
    * boilerplate-heavy, so staged×prefix is the combination that survives
    * it — see [[stagedPrefixFilter]]). The exact result is then
    * reconstructed (row-identical to [[postingsCount]], spec-pinned):
    *
    *  - clique pairs: two docs of one group have Jaccard exactly 1 ≥ τ — a
    *    self-join of the (id → group) mapping on the group key, no arrays;
    *  - cross pairs: a member's Jaccard to ANY outside doc equals its
    *    representative's (identical sets), so each rep pair (r1, r2, j) fans
    *    out to all member combinations via two joins on the mapping.
    *
    * Docs with NULL/empty token sets produce no postings and hence no pairs
    * in the naive join; they are excluded before grouping so the empty-set
    * fingerprint group cannot invent clique pairs for them.
    *
    * The staged projection (id, group, rep, token set for reps only) is
    * persisted so the corpus is scanned and fingerprinted once across the
    * rep/member/clique branches; the composition owns it ([[RunScope]]),
    * so the query's first action releases it.
    *
    * [[stagedPostingsCount]] / [[stagedPrefixFilter]] are the two named
    * compositions; [[staged]] is the strategy-agnostic core. */
  def stagedPostingsCount(docs: DataFrame, tau: Double): DataFrame =
    staged(docs, tau)(postingsCount(_, _, metricName = "sj_candidates_staged"))

  /** Dup-collapse staging composed with the PPJoin prefix filter — the shape
    * for a corpus that is BOTH Zipfian (hot tokens would flood a postings
    * index) and boilerplate-heavy (identical docs would clique-explode any
    * index). The collapse also sharpens the prefix filter itself: token
    * frequencies are computed over DISTINCT token sets, so mass-duplicated
    * boilerplate tokens stop masquerading as corpus-hot vocabulary. */
  def stagedPrefixFilter(docs: DataFrame, tau: Double): DataFrame =
    staged(docs, tau)(
      prefixFilter(_, _, metricName = "sj_candidates_staged_prefix"))

  def staged(docs: DataFrame, tau: Double)(
      inner: (DataFrame, Double) => DataFrame): DataFrame = RunScope.compose {
    // 128-bit order-independent set fingerprint. The NUL joiner keeps the
    // encoding unambiguous for space-bearing elements (shingle sets, where
    // {"a b","c"} and {"a","b c"} must not collide under a space joiner).
    // Collision odds at 1e12 docs ~ 1e-15 — the
    // same exactness budget the md5-based exact-dedup queries accept.
    val grpW = Window.partitionBy(col("block"), col("fp"))
    val collapsed = RunScope.own(docs
      .filter(col("w").isNotNull && size(col("w")) > 0)
      .withColumn("fp", md5(concat_ws("\u0000", array_sort(col("w")))))
      .withColumn("rep", min(col("id")).over(grpW))
      // token sets are kept for representatives only — members drop theirs
      // before the persist, so the cached footprint shrinks with the dup rate
      .select(col("id"), col("block"), col("fp"), col("rep"),
        when(col("id") === col("rep"), col("w")).as("w")))
    // an ADAPTIVE inner runs its sizing job against the cache here, at
    // compose time, which also pre-warms it
    val repPairs = inner(
      collapsed.filter(col("id") === col("rep"))
        .select(col("id"), col("block"), col("w")), tau)
    val mapping = collapsed.select(col("id"), col("block"), col("fp"), col("rep"))
    // cross pairs: fan each rep pair out to all (member × member) combos
    val m1 = mapping.select(col("rep").as("a_id"), col("id").as("ida"))
    val m2 = mapping.select(col("rep").as("b_id"), col("id").as("idb"))
    val cross = repPairs.join(m1, "a_id").join(m2, "b_id")
      .select(least(col("ida"), col("idb")).as("a_id"),
        greatest(col("ida"), col("idb")).as("b_id"), col("jaccard"))
    // clique pairs: same group ⇒ identical sets ⇒ Jaccard exactly 1
    val x = mapping.select(col("block"), col("fp"), col("id").as("a_id"))
    val y = mapping.select(col("block").as("b_block"), col("fp").as("b_fp"),
      col("id").as("b_id"))
    val clique = x.join(y,
        col("block") === col("b_block") && col("fp") === col("b_fp") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), lit(1.0).as("jaccard"))
    cross.unionByName(clique)
  }

  /** @param metricName see [[postingsCount]] — distinct names let one plan
    *                    hold both a bare and a staged prefix join. */
  def prefixFilter(docs: DataFrame, tau: Double,
      metricName: String = "sj_candidates_prefix"): DataFrame = {
    val freq = docs.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    // plain shuffle join on tok: the global token-frequency table is
    // vocabulary-sized (billions of rows on a web corpus), so it must never
    // be broadcast — AQE demotes this to a broadcast join by itself when the
    // vocabulary actually is small (the test fixtures).
    val prefixes = docs
      .select(col("id"), col("block"), explode(col("w")).as("tok"))
      .join(freq, "tok")
      .groupBy("id", "block")
      .agg(expr("transform(array_sort(collect_list(struct(f, tok))), s -> s.tok)")
        .as("sorted_toks"))
      .select(col("id"), col("block"), size(col("sorted_toks")).as("nw"),
        explode(expr(s"slice(sorted_toks, 1, size(sorted_toks) - CAST(ceil($tau * size(sorted_toks)) AS INT) + 1)"))
          .as("ptok"))
    val a = prefixes.select(col("id").as("a_id"), col("block"),
      col("nw").as("na"), col("ptok"))
    val b = prefixes.select(col("id").as("b_id"), col("block").as("b_block"),
      col("nw").as("nb"), col("ptok").as("b_ptok"))
    val cands = a.join(b,
        col("block") === col("b_block") && col("ptok") === col("b_ptok") &&
          col("a_id") < col("b_id") &&
          col("na") * tau <= col("nb") + lit(1e-7) &&
          col("nb") * tau <= col("na") + lit(1e-7))
      // same metric as postingsCount, measured on the prefix-postings join:
      // on Zipfian vocabularies this is the volume the prefix filter saves
      .observe(metricName, count(lit(1)).as("candidates"))
      .select("a_id", "b_id").distinct()
    // verify: unpivot each candidate pair to two (pair, id) rows and join
    // the token sets ONCE with a plain shuffle join — sets cross the wire
    // once and only for documents in some candidate pair; the corpus is
    // never broadcast (AQE broadcasts the candidate side when it is small).
    val sides = cands.select(col("a_id"), col("b_id"),
      explode(array(col("a_id"), col("b_id"))).as("id"))
    sides.join(docs.select(col("id"), col("w")), "id")
      .groupBy("a_id", "b_id")
      .agg(min_by(col("w"), col("id")).as("a_w"),
        max_by(col("w"), col("id")).as("b_w"))
      .withColumn("inter",
        call_function("intersect_count", col("a_w"), col("b_w")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_w")) + size(col("b_w")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("a_id", "b_id", "jaccard")
  }
}
