package graft.operators

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-path near-duplicate detection: MinHash+LSH and SimHash (SURVEY §2B
  * Q35 ⚙ / training-data-pipeline dedup). Both are engine-only (⚙): their
  * guarantees are probabilistic, verified by ScalaTest property tests
  * (Jaccard estimate bounds, Hamming vs cosine of token sets, banded-recall
  * equivalence) rather than a row-hash oracle.
  *
  * Shape notes for 100 TB:
  *  - signatures are computed per-row with native codegen expressions
  *    (no UDF, no shuffle), and each document's signature is computed ONCE —
  *    candidate pairs are generated by grouping on the band value and
  *    expanding ordered pairs inside each bucket, never by self-joining the
  *    signature relation (a self-join re-executes the signature subtree on
  *    both sides);
  *  - candidate generation is ONE shuffle on the band key — never an
  *    all-pairs join;
  *  - per-bucket pair expansion is quadratic in the bucket, so bucket sizes
  *    are bounded BEFORE any array is collected: a window count over the
  *    band key (WindowExec buffers rows with disk spill — unlike a
  *    collect_list aggregation buffer, it cannot OOM on a hot key) sizes
  *    every bucket, oversized buckets are star-reduced to O(b)
  *    representative pairs (see [[maxBucket]]), and the reduced volume is
  *    surfaced through `Dataset.observe` metrics — no silent caps. The
  *    window and the subsequent collect_list group on the same keys, so
  *    EnsureRequirements reuses one exchange for both;
  *  - exact verification joins the (small) candidate set against the token
  *    sets with a plain shuffle join (AQE turns it into a broadcast of the
  *    candidate side when it is small) — the corpus is never broadcast.
  */
object DedupQueries extends QueryGroup {

  private val numHashes = 16
  private val bandSize = 4 // 4 bands × 4 rows

  /** Hamming radius for SimHash near-dups: k = 3 on a 64-bit signature is
    * the standard web-dedup setting (Manku, Jain & Sarma, "Detecting
    * Near-Duplicates for Web Crawling", WWW 2007). With 4 disjoint 16-bit
    * chunks, any pair within Hamming ≤ 3 agrees exactly on ≥ 1 chunk
    * (pigeonhole), so chunk-equality banding has perfect recall. */
  private val simHammingMax = 3
  private val simChunks = 4

  /** Largest LSH bucket that still enters full pair expansion (override with
    * `spark.graft.dedup.maxBucket`). A bucket of b docs expands to b·(b−1)/2
    * pairs in ONE task; past ~1000 that task is quadratic-hot and the array
    * itself is a memory hazard. Oversized buckets are NOT dropped — they are
    * star-reduced: the bucket's minimum doc_id becomes a representative and
    * only the O(b) (representative, member) pairs are emitted. A ≥-cap
    * bucket is overwhelmingly a mass-duplicated cluster (boilerplate, empty
    * docs — the primary target of web-scale dedup), and the star keeps every
    * member connected to the representative, so downstream
    * connected-components still recovers the full cluster. What the star
    * gives up is only the redundant within-cluster edges; a true near-dup
    * pair that is NOT cluster-shaped (two docs sharing one hot band by
    * accident) still has the other `numHashes/bandSize − 1` bands (q41) /
    * `simChunks − 1` chunks (q42) to surface through. The number of
    * star-reduced (doc, bucket) rows and the max observed bucket size are
    * emitted as `observe` metrics named [[bucketMetricName]] on every run. */
  private def maxBucket(s: SparkSession): Int =
    s.conf.getOption("spark.graft.dedup.maxBucket").map(_.toInt).getOrElse(1000)

  /** Name of the `Dataset.observe` metric block carrying
    * (rows_in_oversized_buckets, max_bucket) for a dedup query. */
  def bucketMetricName(query: String): String = s"${query}_buckets"

  /** Sizes buckets before any per-bucket array exists: window-count the
    * bucket key and window-min a caller-chosen representative payload (both
    * window functions share ONE WindowExec pass over one exchange —
    * WindowExec buffers rows with disk spill, so unlike a collect_list
    * buffer it cannot OOM on a hot key), observe the oversize volume, and
    * keep buckets with ≥ 2 members. Callers split on `bsz <= cap`: in-cap
    * buckets take the exact quadratic expansion, oversized ones the O(b)
    * star against `rep`.
    *
    * Metric caveat: if the WHOLE result ends up empty, AQE's empty-relation
    * propagation replaces the final plan with an empty LocalRelation and the
    * already-executed CollectMetrics stage is no longer reachable from it,
    * so `observedMetrics` comes back empty for that run (the guard itself
    * still applied). With star-reduction an empty result means no bucket had
    * 2 members at all, so in practice every interesting run reports. */
  private def boundBuckets(df: DataFrame, metricName: String, cap: Int,
      rep: org.apache.spark.sql.Column, keys: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("bsz", count(lit(1)).over(w))
      .withColumn("rep", min(rep).over(w))
      .observe(metricName,
        sum(when(col("bsz") > cap, 1L).otherwise(0L))
          .as("rows_in_oversized_buckets"),
        max(col("bsz")).as("max_bucket"))
      .filter(col("bsz") >= 2)
  }

  /** Q41 ⚙: MinHash + LSH banding → candidate pairs → exact Jaccard.
    *
    * Perf shape: each shingle string is hashed to a long ONCE; the k minhash
    * functions are integer-only re-hashes (xxhash64(seed, h)) of that long —
    * k× cheaper than k string hashes per shingle, and the whole signature
    * computation is per-row codegen with no shuffle. Candidates come from
    * `window-count buckets → drop oversized → collect_list(doc_id) →
    * explode ordered pairs`: one scan, one shuffle, only (doc_id, band)
    * rows ever move, and no per-bucket array can exceed [[maxBucket]].
    * Verification unpivots each candidate pair to two (pair, doc_id) rows
    * and joins the token sets ONCE — sets cross the wire once, and only for
    * documents that appear in some candidate pair.
    *
    * The shared (doc_id, shingles, token-set) projection is persisted so the
    * candidate branch and the verify branch read `documents` once, and
    * released by the query's first action ([[RunScope]]); at
    * 100 TB the same role is played by materializing this projection to
    * storage (it is the reusable artifact of the whole dedup pipeline). */
  private val q41: Q = (s, d) =>
    lshBandedJaccard(s, d, "minhash_bands", bucketMetricName("q41"))

  /** Q41b: the ORACLED MinHash twin — identical LSH pipeline (shared
    * [[lshBandedJaccard]]), with the signature swapped for the md5-nibble
    * kernel (`graft.plans.Md5MinHashBands`): minhash j of shingle t =
    * 60-bit parse of md5("<j>#<t>"), band hash = same parse of md5 over
    * the band's minhashes joined in decimal — every step recomputable in
    * DuckDB SQL, so banding, bucketing, pair generation AND the exact
    * Jaccard verify hash-match the oracle along the ≤[[maxBucket]] exact
    * branch (the star-reduction branch has no SQL mirror and is pinned by
    * DedupBucketCapSpec; fixture buckets never reach the cap). The q42b
    * move applied to the MinHash family; q41 keeps the
    * one-string-hash-per-shingle fast kernel for production. */
  private val q41b: Q = (s, d) =>
    lshBandedJaccard(s, d, "minhash_bands_md5", bucketMetricName("q41b"))

  /** Shared q41/q41b pipeline: shingle → band signature via `bandFn` →
    * bounded band buckets → candidate pairs → exact-Jaccard verify. */
  private def lshBandedJaccard(s: SparkSession, d: String, bandFn: String,
      metric: String): DataFrame = {
    val docs = RunScope.own(Tables.documents(s, d).select(
      col("doc_id"),
      call_function("word_shingles",
        TextFunctions.tokens(col("text")), lit(3)).as("sh"),
      TextFunctions.tokenSet(col("text")).as("w")))
    // native one-pass signature+banding (graft.plans.MinHashBands); only
    // (doc_id, band) goes through the shuffle — token arrays never do.
    val banded = docs.select(col("doc_id"),
      posexplode(call_function(bandFn, col("sh"),
        lit(numHashes), lit(bandSize))).as(Seq("band_idx", "band_hash")))
    val cap = maxBucket(s)
    val bounded = boundBuckets(banded, metric, cap,
      col("doc_id"), "band_idx", "band_hash")
    val exact = bounded.filter(col("bsz") <= cap)
      .groupBy("band_idx", "band_hash")
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    y -> named_struct('a_id', x, 'b_id', y))))""".stripMargin)).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
    // oversized bucket → O(b) star: (min doc_id, member). rep < member, so
    // pairs keep the a_id < b_id convention of the exact branch.
    val starred = bounded.filter(col("bsz") > cap && col("doc_id") =!= col("rep"))
      .select(col("rep").as("a_id"), col("doc_id").as("b_id"))
    val cands = exact.unionByName(starred).distinct()
    // exact-verify candidates only (tiny): two rows per pair, ONE set join
    val sides = cands.select(col("a_id"), col("b_id"),
      explode(array(col("a_id"), col("b_id"))).as("doc_id"))
    sides.join(docs.select(col("doc_id"), col("w")), "doc_id")
      .groupBy("a_id", "b_id")
      .agg(min_by(col("w"), col("doc_id")).as("a_w"),
        max_by(col("w"), col("doc_id")).as("b_w"))
      .withColumn("jaccard",
        size(array_intersect(col("a_w"), col("b_w"))).cast("double") /
          size(array_union(col("a_w"), col("b_w"))))
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Q42 ⚙: SimHash near-pairs by Hamming distance within a source block.
    * 64-bit signature built from per-token hash bit votes; candidates by
    * chunk-equality banding (see [[simHammingMax]]), never all-pairs, with
    * the same [[maxBucket]] bound on chunk buckets as q41.
    *
    * Why this stays ⚙ (no DuckDB oracle): the emitted pairs are exact
    * integer math and WOULD hash-match, but the signature's token hash is
    * Spark's xxhash64 (seed 42), which DuckDB does not implement — no
    * engine-independent SQL can reproduce the signature (its wrapping
    * 64-bit multiplies are also inexpressible in DuckDB's overflow-checked
    * arithmetic). The exact-recall contract is pinned in-engine by
    * SimHashSpec against a brute-force Hamming join, and the ENTIRE
    * downstream banding/pair/Hamming pipeline IS under the cross-engine
    * differential gate via [[q42b]], which swaps only the token hash for
    * md5 nibbles (the q47 trick) and shares [[simhashBandPairs]].
    *
    * Since the per-document payload carried into the bucket shuffle is just
    * the 64-bit signature, the exact Hamming check needs no verify join at
    * all — pairs are emitted with their distance straight from the bucket. */
  private val q42: Q = (s, d) => {
    // bit i vote = Σ_tokens (bit i of xxhash64(token) ? +1 : -1); sig bit i
    // set iff vote > 0 — computed by the native graft.plans.SimHash64
    // expression (one string hash per token + 64 integer ops, inside
    // whole-stage codegen).
    val sigged = Tables.documents(s, d)
      .withColumn("simhash",
        call_function("simhash64", TextFunctions.tokenSet(col("text"))))
      .select("doc_id", "source", "simhash")
    simhashBandPairs(s, sigged, simChunks, 16, bucketMetricName("q42"))
  }

  /** Shared banding + pair stage for the SimHash family: explode the
    * signature into `chunks` chunks of `bits` bits, bucket on (source,
    * chunk_idx, chunk_val) with the [[maxBucket]] bound, emit in-bucket
    * pairs with their exact Hamming distance (no verify join — the whole
    * payload is the signature), filter to [[simHammingMax]]. Pigeonhole:
    * two signatures within Hamming ≤ chunks − 1 must agree on ≥ 1 chunk,
    * so recall is exact for the shipped chunks = 4, max = 3. */
  private[operators] def simhashBandPairs(s: SparkSession, sigged: DataFrame,
      chunks: Int, bits: Int, metric: String): DataFrame = {
    val mask = (1L << bits) - 1
    val chunked = sigged.select(col("doc_id"), col("source"), col("simhash"),
      posexplode(expr(
        s"transform(sequence(0, ${chunks - 1}), i -> (simhash >> (i * $bits)) & $mask)"))
        .as(Seq("chunk_idx", "chunk_val")))
    val cap = maxBucket(s)
    val bounded = boundBuckets(chunked, metric, cap,
      struct(col("doc_id"), col("simhash")), "source", "chunk_idx", "chunk_val")
    val exact = bounded.filter(col("bsz") <= cap)
      .groupBy("source", "chunk_idx", "chunk_val")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash")))).as("ds"))
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    y -> named_struct('a_id', x.doc_id, 'b_id', y.doc_id,
          |      'hamming', CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)))))""".stripMargin))
        .as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("p.hamming").as("hamming"))
    // oversized bucket → O(b) star against the min-(doc_id, simhash) member;
    // the signature rides in `rep`, so star pairs carry an exact Hamming
    // distance with no verify join, same as the exact branch.
    val starred = bounded
      .filter(col("bsz") > cap && col("doc_id") =!= col("rep.doc_id"))
      .select(col("rep.doc_id").as("a_id"), col("doc_id").as("b_id"),
        expr("CAST(bit_count(rep.simhash ^ simhash) AS BIGINT)").as("hamming"))
    exact.unionByName(starred)
      .filter(col("hamming") <= simHammingMax)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** Q42b: the ORACLED SimHash twin — identical banding/pair/Hamming
    * pipeline as q42 (shared [[simhashBandPairs]]), but the signature is
    * the 60-bit md5-nibble SimHash (`graft.plans.Md5SimHash60`), whose
    * per-token hash `CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)` both
    * engines compute bit-identically — so the emitted pairs hash-match a
    * pure-SQL DuckDB mirror. Banded as 4×15-bit chunks (60 bits, signed-
    * bigint-safe in both engines); exact recall for Hamming ≤ 3 by the same
    * pigeonhole as q42. q42 keeps the faster xxhash64 kernel for
    * production; this twin puts the whole pipeline under the cross-engine
    * differential gate. */
  private val q42b: Q = (s, d) => {
    val sigged = Tables.documents(s, d)
      .withColumn("simhash",
        call_function("simhash_md5_60", TextFunctions.tokenSet(col("text"))))
      .select("doc_id", "source", "simhash")
    simhashBandPairs(s, sigged, 4, 15, bucketMetricName("q42b"))
  }

  /** Q66: dedup-cluster resolution — connected components over the q37
    * Jaccard pair graph (τ = 0.8, within source), every document assigned
    * the min doc_id of its duplicate cluster (its own id if unduplicated).
    * Transitive chains make this a true graph closure: A~B and B~C land in
    * one cluster even when the A~C pair was never emitted. The oracle
    * rebuilds the naive all-docs edges in DuckDB and resolves them with a
    * recursive reachability CTE.
    *
    * STAGED physical design (the 100 TB shape; results provably identical
    * to the naive pair join the oracle runs): documents with the same
    * bag-of-words fingerprint have IDENTICAL token sets, i.e. pairwise
    * Jaccard exactly 1 — in the pair graph every (source, fingerprint)
    * group is a clique, and each member has exactly the same Jaccard to any
    * outside doc as the group's representative. So the group collapses to
    * its min-doc_id representative BEFORE the quadratic pair join, which
    * then runs on representatives only — the Σ C(group,2) clique expansion
    * (the bulk of a boilerplate-heavy corpus's candidate volume) never
    * materializes — and the component iteration ALSO runs on the rep graph
    * only, with members inheriting their rep's label afterwards. */
  private val q66: Q = (s, d) =>
    // the pipeline lives in [[DedupReport.assignComponents]]; the four
    // declared consumers (q66/q79/q154/q174) scan the shared per-(session,
    // dir) memo parquet instead of each re-resolving — see
    // [[DedupReport.assignComponentsMemo]]
    DedupReport.assignComponentsMemo(s, d)
      .orderBy("doc_id")

  /** Q79: duplicate-cluster size histogram — the dedup-rate report a corpus
    * build prints after cluster resolution: how many clusters of each size
    * the q66 components produce (size 1 = unique documents). Two
    * partial-aggregated groupBys on top of the q66 pipeline; the result is
    * distinct-sizes small at any corpus scale. */
  private val q79: Q = (s, d) =>
    q66(s, d)
      .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Q174: LEAKAGE-SAFE train/val/test split — the q106 content-stable
    * md5 split lifted from document to NEAR-DUP-CLUSTER granularity: a
    * near-duplicate of a training document in the validation set is a
    * leak the doc-level split cannot prevent, so membership is decided
    * ONCE per q66 component (hash of the cluster representative, same
    * 80/10/10 thresholds and 2³² exact-divisor arithmetic as q106) and
    * every member inherits it. Components never straddle splits by
    * construction, and membership is stable as the corpus grows for
    * unchanged clusters (the q106 invariant, now leak-free). Cost on top
    * of cluster resolution is one map-side hash — the split rides the
    * dedup pass a corpus build already runs. */
  private val q174: Q = (s, d) => {
    val u = (conv(substring(md5(col("component").cast("string")), 1, 8),
      16, 10).cast("long").cast("double") / lit(4294967296.0))
    DedupReport.assignComponentsMemo(s, d)
      .withColumn("split",
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"))
      .orderBy("doc_id")
  }

  /** Q175: blocked record linkage — entity resolution across two systems
    * [Fellegi & Sunter 1969, the simplified fixed-weight form]: system B
    * is a deterministically degraded copy of the customer master (20%
    * missing, code typos every 13th key, +$10 balance drift every 3rd,
    * corrupted segment every 7th, wrong nation every 11th), and the task
    * is to re-link it WITHOUT the key. Candidates come from the UNION OF
    * TWO BLOCKING PASSES — (nation, segment) and (nation, balance band) —
    * so a single corrupted blocking field doesn't lose the entity (the
    * standard multi-pass recall move), deduplicated before scoring; the
    * all-pairs product never materializes — candidate volume is
    * Σ_b |A_b|·|B_b|. These demographic keys are LOW-cardinality, so
    * block size grows with the table (only the block count is
    * domain-bounded): at 100 TB a production run adds one
    * high-cardinality pass (code prefix / sorted neighborhood) to cap
    * block size — the union-of-passes structure is exactly that shape,
    * unchanged. Integer agreement weights (code 40,
    * balance±$5 25, nation 15, segment 10), match at ≥ 65 — so a
    * balance-drifted entity still links via code+nation+segment, while a
    * code typo (the 40-point field) cannot clear the bar. `is_true`
    * exposes linkage quality against the hidden ground truth. The
    * balance band offsets +100000 cents first: `div` truncates while
    * DuckDB `//` floors, so the operand must be non-negative (the q146
    * band contract). */
  /** The q175/q217 two-system linkage fixture: system A = the customer
    * master with its blocking band, system B = the deterministically
    * degraded copy (20% missing, code typos every 13th key, +$10 drift
    * every 3rd, corrupted segment every 7th, wrong nation every 11th).
    * ONE definition so the linkage query and its blocking-evaluation
    * audit can never disagree (the clsOracleCore discipline); the SQL
    * twin is [[linkageOracleCore]]. */
  private def linkageSystems(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val base = Tables.customer(s, d).select(
      col("c_custkey").cast("long").as("key"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("segment"),
      (col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2))
        * 100).cast("long").as("bal"),
      substring(col("c_name"), -6, 6).cast("long").as("code"))
    val a = base
    val b = base.filter(col("key") % 5 =!= 4).select(
      col("key").as("b_key"),
      when(col("key") % 11 === 0, (col("nation") + 1) % 25)
        .otherwise(col("nation")).as("b_nation"),
      when(col("key") % 7 === 0, concat(lit("X"), col("segment")))
        .otherwise(col("segment")).as("b_segment"),
      when(col("key") % 3 === 0, col("bal") + 1000)
        .otherwise(col("bal")).as("b_bal"),
      when(col("key") % 13 === 0, col("code") + 1)
        .otherwise(col("code")).as("b_code"))
    (a.withColumn("band", expr("(bal + 100000) div 200000")),
      b.withColumn("b_band", expr("(b_bal + 100000) div 200000")))
  }

  private val q175: Q = (s, d) => {
    val (aB, bB) = linkageSystems(s, d)
    val pass1 = aB.join(bB,
      col("nation") === col("b_nation") && col("segment") === col("b_segment"))
    val pass2 = aB.join(bB,
      col("nation") === col("b_nation") && col("band") === col("b_band"))
    val cand = pass1.unionByName(pass2)
      .select("key", "b_key", "nation", "b_nation", "segment", "b_segment",
        "bal", "b_bal", "code", "b_code")
      .distinct()
    cand.withColumn("score",
        when(col("code") === col("b_code"), 40).otherwise(0) +
        when(abs(col("bal") - col("b_bal")) <= 500, 25).otherwise(0) +
        when(col("nation") === col("b_nation"), 15).otherwise(0) +
        when(col("segment") === col("b_segment"), 10).otherwise(0))
      .filter(col("score") >= 65)
      .select(col("key").as("a_key"), col("b_key"), col("score"),
        (col("key") === col("b_key")).as("is_true"))
      .orderBy("a_key", "b_key")
  }

  /** Q217: blocking evaluation [Christen 2012] — the audit run BEFORE
    * committing to a blocking scheme at 100 TB, where the blocking
    * decision IS the cost model (candidates are what you pay to score):
    * for each of q175's two blocking passes and their union, the exact
    * pair-completeness (share of true matches surviving the block — the
    * recall ceiling no scoring rule can recover past) and reduction
    * ratio (share of the |A|·|B| pair space pruned), plus the candidate
    * match density. Ground truth is the fixture's hidden key (every
    * system-B record has exactly one true partner, so n_true = |B|).
    * Integer counts, integer per-mille, one double division per rate
    * (the q95 contract); each pass is one blocked join + a count — the
    * all-pairs product is never materialized, only its SIZE enters the
    * arithmetic (as |A|·|B|). */
  /** The q217/q218 metric assembly: per named (key, b_key) candidate
    * frame, exact counts and the per-mille pair-completeness /
    * reduction-ratio / density algebra against the |A|·|B| pair space. */
  private def blockingReport(aB: DataFrame, bB: DataFrame,
      passes: Seq[(String, DataFrame)]): DataFrame = {
    val tot = aB.agg(count(lit(1)).as("n_a"))
      .crossJoin(bB.agg(count(lit(1)).as("n_b")))
    passes.map { case (name, cand) =>
      cand.agg(
          coalesce(count(lit(1)), lit(0L)).as("n_cand"),
          coalesce(sum(when(col("key") === col("b_key"), 1L)
            .otherwise(0L)), lit(0L)).as("n_true_found"))
        .select(lit(name).as("pass"), col("n_cand"), col("n_true_found"))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(tot))
      .select(col("pass"), col("n_cand"), col("n_true_found"),
        col("n_b").as("n_true_total"), col("n_a"), col("n_b"),
        when(col("n_b") > 0,
          expr("(1000 * n_true_found) div n_b")).as("pc_pm"),
        when(col("n_b") > 0,
          col("n_true_found").cast("double") / col("n_b"))
          .as("pair_completeness"),
        (lit(1000L) - expr("(1000 * n_cand) div (n_a * n_b)")).as("rr_pm"),
        (lit(1.0) - col("n_cand").cast("double") /
          (col("n_a") * col("n_b"))).as("reduction_ratio"),
        when(col("n_cand") > 0,
          expr("(1000 * n_true_found) div n_cand")).as("density_pm"))
      .orderBy("pass")
  }

  private val q217: Q = (s, d) => {
    val (aB, bB) = linkageSystems(s, d)
    val pass1 = aB.join(bB,
      col("nation") === col("b_nation") &&
        col("segment") === col("b_segment"))
    val pass2 = aB.join(bB,
      col("nation") === col("b_nation") && col("band") === col("b_band"))
    val unioned = pass1.select("key", "b_key")
      .unionByName(pass2.select("key", "b_key")).distinct()
    blockingReport(aB, bB, Seq(
      "nation_segment" -> pass1.select("key", "b_key"),
      "nation_band" -> pass2.select("key", "b_key"),
      "union" -> unioned))
  }

  /** Q218: HIGH-CARDINALITY blocking pass — the sorted-neighborhood /
    * key-band move q175's scaladoc reserves for production scale, and
    * the fix for the structural ceiling q217 exposes (both demographic
    * passes block on nation, so a corrupted nation is unreachable by
    * their union — PC caps at 1 − 1/11). Candidates are pairs whose
    * name-derived codes sit within ±1 of each other, declared as the
    * band theta-join `b_code ∈ (lo, lo + 3]` with lo = code − 2 —
    * [[graft.plans.BandJoinRewrite]] rewrites it into a bucketed
    * equi-join (O(n) shuffle, never a nested-loop factor: the q11
    * plan shape, asserted in R14QuerySemanticsSpec). The code field is
    * near-unique, so this pass is simultaneously MORE complete (the
    * every-13th-key typo is ±1 and stays inside the band; PC = 1000‰ by
    * construction of the degradation model) and MUCH cheaper (≈ 3
    * candidates per record vs the demographic blocks' hundreds) — the
    * audit row pair (code_band vs all_union) is the evidence for
    * retiring a low-cardinality pass. */
  private val q218: Q = (s, d) => {
    val (aB, bB) = linkageSystems(s, d)
    val aS = aB.withColumn("lo", col("code") - 2)
    val band = aS.join(bB,
        col("b_code") > col("lo") && col("b_code") <= col("lo") + 3)
      .select("key", "b_key")
    val pass1 = aB.join(bB,
      col("nation") === col("b_nation") &&
        col("segment") === col("b_segment")).select("key", "b_key")
    val pass2 = aB.join(bB,
      col("nation") === col("b_nation") && col("band") === col("b_band"))
      .select("key", "b_key")
    val all = band.unionByName(pass1).unionByName(pass2).distinct()
    blockingReport(aB, bB, Seq(
      "code_band" -> band,
      "all_union" -> all))
  }

  /** Q187: MinHash calibration — the "trust your sketch" report read
    * before anyone sets an LSH threshold: over all same-source pairs
    * (source-blocked, the q66 candidate discipline — never corpus
    * all-pairs), the k=16 MinHash agreement count is binned against the
    * EXACT Jaccard it estimates. Pr[mh_i(A)=mh_i(B)] = J(A,B) is the
    * MinHash theorem; this measures it on the actual corpus: each bin
    * reports pair count and the exact-decimal mean true Jaccard (per-pair
    * one division, then the dsum/davg contract at scale 9 — never a raw
    * double sum). The md5-derived hash family is the q41b oracle-exact
    * convention, so DuckDB recomputes signatures, agreements and the
    * whole calibration table end-to-end.
    *
    * GROUP-COLLAPSED pair stage (round 14; output provably identical to
    * the per-doc pair join the oracle runs): every per-pair value here —
    * MinHash agreement, hashed-token intersection, true Jaccard — is a
    * pure function of the two TOKEN SETS, so (source, sorted token set)
    * groups behave exactly like q66's fingerprint cliques: a cross-group
    * member pair reproduces its representatives' row c_a·c_b times, and a
    * within-group pair is always (agreement = k, J = 1). Signatures
    * compute once per DISTINCT set, the quadratic join runs on group
    * representatives, and the bins aggregate WEIGHTED counts — exact-
    * decimal arithmetic makes the weighted sum literally equal the
    * per-pair sum, so the hash match is preserved (not just approximated).
    * On a duplication-heavy corpus this is the difference between pair
    * volume ∝ (dup factor)² and ∝ distinct contents (the sf1 checkpoint
    * measured the uncollapsed form at 96 s where q37's collapsed stage
    * stayed ~3 s — BASELINE.md row). Pair stage shared with q238 as
    * [[calibrationPairs]].
    *
    * Shared collapsed pair stage for q187 (calibration) and q238 (banding
    * chooser): same-source pairs over (source, sorted token set)
    * representatives with multiplicity weights. Emits one row per
    * representative pair: est_num (k-of-16 MinHash agreement), weight
    * (c_a·c_b member pairs it stands for), and the EXACT hashed-token
    * intersection/union sizes (inter, uni) — the integers every
    * downstream similarity/bin derives from. Within-group pairs are
    * (k, c(c−1) div 2, 1, 1): identical sets agree on every signature
    * index and have Jaccard exactly 1 (= 1/1). */
  private def calibrationPairs(s: SparkSession, d: String): DataFrame = {
    val k = 16
    // group key = SORTED distinct token set: all pair-level values are set
    // functions, so set-equal docs collapse regardless of token order
    val groups = RunScope.own(Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        array_sort(TextFunctions.tokenSet(col("text"))).as("w"))
      .filter(size(col("w")) > 0)
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"), min(col("doc_id")).as("gid"))
      .withColumn("mh", call_function("minhash_sig_md5", col("w"), lit(k)))
      .withColumn("n_w", size(col("w")))
      .withColumn("hw", call_function("token_hashes", col("w")))
      .select("source", "gid", "c", "mh", "n_w", "hw"))
    // signatures materialize ONCE (the q41 persisted-projection
    // discipline): un-persisted, the optimizer inlines the signature
    // expression into BOTH join sides' pair-level consumers and
    // recomputes it per candidate pair — measured 17 s (HOF) / 50 s
    // (native, inlined deeper) vs 4.8 s persisted+hashed-intersection on
    // the sf0.1 singleton
    val a = groups.select(col("source"), col("gid").as("a_id"),
      col("c").as("a_c"), col("n_w").as("a_n"), col("hw").as("a_h"),
      col("mh").as("a_mh"))
    val b = groups.select(col("source").as("source_b"),
      col("gid").as("b_id"), col("c").as("b_c"), col("n_w").as("b_n"),
      col("hw").as("b_h"), col("mh").as("b_mh"))
    val cross = a.join(b,
        col("source") === col("source_b") && col("a_id") < col("b_id"))
      .withColumn("est_num", size(filter(
        zip_with(col("a_mh"), col("b_mh"), (x, y) => x === y), v => v)))
      // hashed-token two-pointer intersection: the q37/q74 blocked-regime
      // pair kernel (equivalence with the string intersection is the
      // token_hashes contract, spec-pinned in NativeExpressionsSpec)
      .withColumn("inter",
        call_function("intersect_count_sorted", col("a_h"), col("b_h"))
          .cast("long"))
      .withColumn("uni",
        (col("a_n") + col("b_n")).cast("long") - col("inter"))
      .select(col("est_num"), (col("a_c") * col("b_c")).as("weight"),
        col("inter"), col("uni"))
    // within-group pairs: identical sets ⇒ full signature agreement, J = 1
    val within = groups.filter(col("c") >= 2)
      .select(lit(k).as("est_num"),
        expr("(c * (c - 1)) div 2").as("weight"),
        lit(1L).as("inter"), lit(1L).as("uni"))
    cross.unionByName(within)
  }

  private val q187: Q = (s, d) => {
    calibrationPairs(s, d)
      .withColumn("true_j",
        col("inter").cast("double") / col("uni").cast("double"))
      .groupBy("est_num")
      .agg(sum(col("weight")).as("n_pairs"),
        // weight × exact decimal ≡ the decimal summed `weight` times —
        // the dsum/davg scale-9 contract survives the collapse exactly
        sum(col("weight") *
          col("true_j").cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double").as("sum_true"),
        (sum(col("weight") *
          col("true_j").cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double") / sum(col("weight"))).as("avg_true"))
      .orderBy("est_num")
  }

  /** The exact S-curve per-mille fragment, shared TEXTUALLY by the Spark
    * plan and the DuckDB oracle (the zTerms precedent): for a row with
    * per-cent similarity bin `m` and candidate (n_bands, rows_per_band)
    * with n_bands·rows_per_band = 16, emits
    * (1000 · (10³² − (100^r − m^r)^b)) div 10³² as BIGINT — the collision
    * probability 1 − (1 − (m/100)^r)^b as an exact rational over the
    * common denominator 100^(r·b) = 10³², quantized to per-mille by
    * integer division. Powers are SQUARE CHAINS (never pow(): nothing for
    * libm to diverge on); every intermediate is ≤ 10³², inside the
    * engines' 128-bit integer types. `castM` widens m to that type
    * (Spark DECIMAL(38,0) ≡ DuckDB HUGEINT, the q222 convention); `divOp`
    * is `div` (Spark) / `//` (DuckDB). */
  private def sCurvePmFragment(castM: String, divOp: String): String = {
    def pw(e: String, n: Int): String =
      if (n == 1) e else { val h = pw(e, n / 2); s"($h * $h)" }
    val p32 = "100000000000000000000000000000000" // 10^32 = 100^16
    def branch(r: Int, b: Int): String = {
      val hr = BigInt(10).pow(2 * r).toString // 100^r
      s"($p32 - ${pw(s"($hr - ${pw(castM, r)})", b)})"
    }
    s"CAST((1000 * (CASE rows_per_band WHEN 1 THEN ${branch(1, 16)}" +
      s" WHEN 2 THEN ${branch(2, 8)} WHEN 4 THEN ${branch(4, 4)}" +
      s" WHEN 8 THEN ${branch(8, 2)} ELSE ${branch(16, 1)} END))" +
      s" $divOp $p32 AS BIGINT)"
  }

  /** q238 core, factored over an arbitrary (m, w) per-cent similarity
    * histogram so the spec can pin the choice on CONSTRUCTED S-curves.
    * Scores every (bands × rows) factorization of the k = 16 signature
    * budget and ranks: eligible (fp_pm ≤ 20‰) first, then fewest misses,
    * then lower fp, then fewer bands (cheaper index). The candidate table
    * has 5 rows, so the ranking window is literal-sized — never
    * data-sized. */
  private[graft] def bandingChooser(hist: DataFrame): DataFrame = {
    val s = hist.sparkSession
    import s.implicits._
    val cands = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
      .toDF("n_bands", "rows_per_band")
    val scored = hist.crossJoin(broadcast(cands))
      .withColumn("p_pm",
        expr(sCurvePmFragment("CAST(m AS DECIMAL(38,0))", "div")))
    val agg = scored.groupBy("n_bands", "rows_per_band")
      .agg(
        sum(when(col("m") < 50, col("w")).otherwise(lit(0L))).as("below_w"),
        sum(when(col("m") < 50, col("w") * col("p_pm")).otherwise(lit(0L)))
          .as("fp_num"),
        sum(when(col("m") >= 50, col("w")).otherwise(lit(0L))).as("above_w"),
        sum(when(col("m") >= 50, col("w") * (lit(1000L) - col("p_pm")))
          .otherwise(lit(0L))).as("fn_num"))
      .withColumn("fp_pm", when(col("below_w") > 0,
        expr("fp_num div below_w")).otherwise(lit(0L)))
      .withColumn("fn_pm", when(col("above_w") > 0,
        expr("fn_num div above_w")).otherwise(lit(0L)))
      .withColumn("eligible", col("fp_pm") <= 20)
    val w = Window.orderBy(col("eligible").desc, col("fn_pm").asc,
      col("fp_pm").asc, col("n_bands").asc)
    agg.withColumn("pick_rank", row_number().over(w).cast("long"))
      .withColumn("chosen", col("pick_rank") === 1L)
      .select("n_bands", "rows_per_band", "below_w", "above_w",
        "fp_pm", "fn_pm", "eligible", "pick_rank", "chosen")
      .orderBy("n_bands")
  }

  /** Q238: LSH banding parameter CHOOSER — the decision step for the
    * dedup family's main knob, completing the q187 evidence with the
    * q202→q205 evidence→decision pattern: q187 MEASURES the S-curve; THIS
    * decides (bands, rows). The measured same-source pair-similarity
    * distribution (exact per-cent Jaccard bins m = (100·|∩|) div |∪| over
    * [[calibrationPairs]], weights = member-pair multiplicities) is scored
    * against the collision law Pr[collide | s] = 1 − (1 − s^r)^b for every
    * factorization of the k = 16 budget; the chosen row meets the 20‰
    * false-positive budget at τ = 0.5 with the fewest expected misses.
    * All probability algebra is exact 128-bit integer arithmetic
    * ([[sCurvePmFragment]]), so DuckDB recomputes pairs, histogram,
    * S-curve and the final ranking end-to-end and hash-matches.
    *
    * Scale shape: ONE collapsed pair stage (shared with q187, ∝ distinct
    * contents not dup²) into a ≤101-row histogram; everything downstream
    * is dimension-sized algebra on 5 candidate rows. */
  private val q238: Q = (s, d) => {
    val hist = calibrationPairs(s, d)
      .groupBy(expr("(100L * inter) div uni").as("m"))
      .agg(sum(col("weight")).as("w"))
    bandingChooser(hist)
  }

  /** Q82: incremental cross-snapshot dedup via
    * [[CorpusOps.incrementalDedupFlags]] — the "new batch vs existing
    * corpus" probe. The driver binding splits the documents table
    * deterministically (doc_id % 4: residue 0 = the arriving batch, the
    * rest = the already-deduplicated corpus) and emits each batch doc's
    * verdict flags; both engines compute the identical md5 content hash
    * and bag-of-words fingerprint (the q36 mirror). */
  private val q82: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    CorpusOps.incrementalDedupFlags(
      docs.filter(col("doc_id") % 4 === 0),
      docs.filter(col("doc_id") % 4 =!= 0), "doc_id")
      .orderBy("doc_id")
  }

  /** Q113: fuzzy benchmark decontamination — the MinHash-LSH upgrade of
    * q77's exact-shingle contamination check, and the recipe public corpus
    * builds actually run (Llama/GPT-3-style near-duplicate decontamination
    * tolerates paraphrase and truncation that exact 13-gram matching
    * misses). A held-out "benchmark" slice (doc_id ≡ 0 mod 5) is banded
    * with the SAME md5-nibble MinHash kernel as q41b; corpus docs that
    * collide with a benchmark doc in any band are exact-Jaccard-verified
    * and flagged at τ = 0.3. Emits the (corpus, benchmark, jaccard)
    * evidence pairs a decontamination pass would anti-join on.
    *
    * Scale shape: the benchmark side is tiny by construction (eval sets
    * are thousands of docs) — its banded signature BROADCASTS, so the
    * corpus-side probe is a map-side join: no shuffle of corpus bands at
    * any corpus size (contrast q41's self-join, which must shuffle). The
    * verify join touches only colliding docs. Token sets cross the wire
    * once, candidates only. */
  private val q113: Q = (s, d) => {
    val docs = RunScope.own(Tables.documents(s, d).select(
      col("doc_id"), (col("doc_id") % 5 === 0).as("is_bench"),
      call_function("word_shingles",
        TextFunctions.tokens(col("text")), lit(3)).as("sh"),
      TextFunctions.tokenSet(col("text")).as("w")))
    val banded = docs.select(col("doc_id"), col("is_bench"),
      posexplode(call_function("minhash_bands_md5", col("sh"),
        lit(numHashes), lit(bandSize))).as(Seq("band_idx", "band_hash")))
    val bench = banded.filter(col("is_bench"))
      .select(col("doc_id").as("b_id"), col("band_idx"), col("band_hash"))
    val corp = banded.filter(!col("is_bench"))
      .select(col("doc_id").as("c_id"), col("band_idx"), col("band_hash"))
    val cands = corp.join(broadcast(bench), Seq("band_idx", "band_hash"))
      .select("c_id", "b_id").distinct()
    cands
      .join(docs.select(col("doc_id").as("c_id"), col("w").as("c_w")), "c_id")
      .join(docs.select(col("doc_id").as("b_id"), col("w").as("b_w")), "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("c_w"), col("b_w"))).cast("double") /
          size(array_union(col("c_w"), col("b_w"))))
      .filter(col("jaccard") >= 0.3)
      .select("c_id", "b_id", "jaccard")
      .orderBy("c_id", "b_id")
  }

  /** Q154: dedup survivor selection — the policy step every dedup rewrite
    * actually ends with: q66 resolves WHICH documents are duplicates of
    * each other; THIS decides which copy of each cluster survives into
    * the training corpus. Policy: keep the member with the richest
    * vocabulary (distinct whitespace-token count — an exact-integer
    * quality proxy; the same idea as "keep the longest" but robust to
    * padding), ties to the smallest doc_id. Emits per doc the component,
    * its quality score, the keep verdict, and the cluster's canonical
    * (surviving) doc_id — the corpus rewrite is then one filter on
    * `keep` and the lineage map is (doc_id → canonical_id).
    *
    * Shape: [[DedupReport.assignComponents]] (the staged fingerprint-
    * collapse + rep-graph CC pipeline, provably identical to the naive
    * pair join the oracle runs) + one domain-bounded window over
    * components. The window partitions by component — cluster sizes are
    * bounded by the dedup structure, not the corpus, so no single
    * partition outgrows a task at any scale. */
  private val q154: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val comp = DedupReport.assignComponentsMemo(s, d)
    val scored = docs.select(col("doc_id"),
      size(array_distinct(split(lower(col("text")), " ")))
        .cast("long").as("n_vocab"))
    val w = Window.partitionBy("component")
      .orderBy(col("n_vocab").desc, col("doc_id").asc)
    comp.join(scored, "doc_id")
      .withColumn("rk", row_number().over(w))
      .withColumn("canonical_id",
        first(col("doc_id")).over(
          Window.partitionBy("component")
            .orderBy(col("n_vocab").desc, col("doc_id").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("component"), col("n_vocab"),
        (col("rk") === 1).as("keep"), col("canonical_id"))
      .orderBy("doc_id")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q154_dedup_keep_best" -> q154,
    "q41_dedup_minhash_lsh" -> q41,
    "q41b_dedup_minhash_md5" -> q41b,
    "q42_dedup_simhash" -> q42,
    "q42b_dedup_simhash_md5" -> q42b,
    "q66_dedup_components" -> q66,
    "q79_dedup_cluster_sizes" -> q79,
    "q174_split_cluster_coherent" -> q174,
    "q175_entity_record_linkage" -> q175,
    "q217_blocking_eval" -> q217,
    "q218_blocking_code_band" -> q218,
    "q187_minhash_calibration" -> q187,
    "q238_lsh_band_chooser" -> q238,
    "q82_dedup_incremental" -> q82,
    "q113_decontaminate_fuzzy" -> q113,
  )

  /** The q175/q217 fixture in SQL (base → a → b → b2), shared by both
    * oracles — the [[linkageSystems]] twin. */
  private val linkageOracleCore: String =
    """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS key,
      |    CAST(c_nationkey AS BIGINT) AS nation,
      |    c_mktsegment AS segment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
      |    CAST(right(c_name, 6) AS BIGINT) AS code
      |  FROM customer),
      |a AS (SELECT *, (bal + 100000) // 200000 AS band FROM base),
      |b AS (SELECT key AS b_key,
      |    CASE WHEN key % 11 = 0 THEN (nation + 1) % 25
      |      ELSE nation END AS b_nation,
      |    CASE WHEN key % 7 = 0 THEN 'X' || segment
      |      ELSE segment END AS b_segment,
      |    CASE WHEN key % 3 = 0 THEN bal + 1000 ELSE bal END AS b_bal,
      |    CASE WHEN key % 13 = 0 THEN code + 1 ELSE code END AS b_code
      |  FROM base WHERE key % 5 <> 4),
      |b2 AS (SELECT *, (b_bal + 100000) // 200000 AS b_band FROM b)""".stripMargin

  val oracles: Map[String, String] = Map(
    // blocking evaluation over the shared fixture: per-pass candidate
    // counts, true matches surviving the block (key = b_key), and the
    // integer per-mille pair-completeness / reduction-ratio algebra
    "q217_blocking_eval" ->
      (linkageOracleCore +
      """, tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
        |    (SELECT CAST(count(*) AS BIGINT) FROM b2) AS n_b),
        |p1 AS (SELECT a.key, b2.b_key FROM a JOIN b2
        |  ON a.nation = b2.b_nation AND a.segment = b2.b_segment),
        |p2 AS (SELECT a.key, b2.b_key FROM a JOIN b2
        |  ON a.nation = b2.b_nation AND a.band = b2.b_band),
        |pu AS (SELECT DISTINCT key, b_key FROM
        |  (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
        |ev AS (
        |  SELECT 'nation_segment' AS pass,
        |    CAST(count(*) AS BIGINT) AS n_cand,
        |    CAST(count(CASE WHEN key = b_key THEN 1 END) AS BIGINT)
        |      AS n_true_found FROM p1
        |  UNION ALL
        |  SELECT 'nation_band',
        |    CAST(count(*) AS BIGINT),
        |    CAST(count(CASE WHEN key = b_key THEN 1 END) AS BIGINT)
        |  FROM p2
        |  UNION ALL
        |  SELECT 'union',
        |    CAST(count(*) AS BIGINT),
        |    CAST(count(CASE WHEN key = b_key THEN 1 END) AS BIGINT)
        |  FROM pu)
        |SELECT pass, n_cand, n_true_found, n_b AS n_true_total, n_a, n_b,
        |  CASE WHEN n_b > 0
        |    THEN (1000 * n_true_found) // n_b END AS pc_pm,
        |  CASE WHEN n_b > 0
        |    THEN CAST(n_true_found AS DOUBLE) / n_b
        |  END AS pair_completeness,
        |  1000 - (1000 * n_cand) // (n_a * n_b) AS rr_pm,
        |  1.0 - CAST(n_cand AS DOUBLE) / (n_a * n_b) AS reduction_ratio,
        |  CASE WHEN n_cand > 0
        |    THEN (1000 * n_true_found) // n_cand END AS density_pm
        |FROM ev, tot ORDER BY pass""".stripMargin),

    // high-cardinality code-band pass over the same fixture: the naive
    // theta-join IS the oracle (DuckDB plans it fine at sf; Spark's
    // BandJoinRewrite is the scale path), metrics algebra identical
    "q218_blocking_code_band" ->
      (linkageOracleCore +
      """, tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
        |    (SELECT CAST(count(*) AS BIGINT) FROM b2) AS n_b),
        |cb AS (SELECT a.key, b2.b_key FROM a JOIN b2
        |  ON b2.b_code > a.code - 2 AND b2.b_code <= a.code + 1),
        |p1 AS (SELECT a.key, b2.b_key FROM a JOIN b2
        |  ON a.nation = b2.b_nation AND a.segment = b2.b_segment),
        |p2 AS (SELECT a.key, b2.b_key FROM a JOIN b2
        |  ON a.nation = b2.b_nation AND a.band = b2.b_band),
        |au AS (SELECT DISTINCT key, b_key FROM
        |  (SELECT * FROM cb UNION ALL SELECT * FROM p1
        |   UNION ALL SELECT * FROM p2)),
        |ev AS (
        |  SELECT 'code_band' AS pass,
        |    CAST(count(*) AS BIGINT) AS n_cand,
        |    CAST(count(CASE WHEN key = b_key THEN 1 END) AS BIGINT)
        |      AS n_true_found FROM cb
        |  UNION ALL
        |  SELECT 'all_union',
        |    CAST(count(*) AS BIGINT),
        |    CAST(count(CASE WHEN key = b_key THEN 1 END) AS BIGINT)
        |  FROM au)
        |SELECT pass, n_cand, n_true_found, n_b AS n_true_total, n_a, n_b,
        |  CASE WHEN n_b > 0
        |    THEN (1000 * n_true_found) // n_b END AS pc_pm,
        |  CASE WHEN n_b > 0
        |    THEN CAST(n_true_found AS DOUBLE) / n_b
        |  END AS pair_completeness,
        |  1000 - (1000 * n_cand) // (n_a * n_b) AS rr_pm,
        |  1.0 - CAST(n_cand AS DOUBLE) / (n_a * n_b) AS reduction_ratio,
        |  CASE WHEN n_cand > 0
        |    THEN (1000 * n_true_found) // n_cand END AS density_pm
        |FROM ev, tot ORDER BY pass""".stripMargin),
    // survivor selection: q66's reachability CTE for components, then the
    // keep-richest-vocabulary (ties → min doc_id) window per cluster
    "q154_dedup_keep_best" ->
      s"""WITH RECURSIVE d AS (
        |  SELECT doc_id, source, list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |e AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE ${sqlJaccard("a.w", "b.w")} >= 0.8),
        |sym AS (SELECT a AS n, b AS m FROM e UNION SELECT b AS n, a AS m FROM e),
        |reach(src, node) AS (
        |  SELECT n, n FROM (SELECT DISTINCT n FROM sym)
        |  UNION
        |  SELECT r.src, s.m FROM reach r JOIN sym s ON s.n = r.node),
        |comp AS (SELECT src, min(node) AS component FROM reach GROUP BY src),
        |labels AS (
        |  SELECT doc.doc_id, COALESCE(c.component, doc.doc_id) AS component
        |  FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.src),
        |sc AS (SELECT doc_id, CAST(len(list_distinct(
        |    string_split(lower(text), ' '))) AS BIGINT) AS n_vocab
        |  FROM documents),
        |j AS (SELECT l.doc_id, l.component, sc.n_vocab
        |  FROM labels l JOIN sc USING (doc_id)),
        |wk AS (SELECT doc_id, component, n_vocab, row_number() OVER (
        |    PARTITION BY component ORDER BY n_vocab DESC, doc_id) AS rk
        |  FROM j),
        |win AS (SELECT component, doc_id AS canonical_id FROM wk WHERE rk = 1)
        |SELECT wk.doc_id, wk.component, wk.n_vocab, wk.rk = 1 AS keep,
        |  win.canonical_id
        |FROM wk JOIN win USING (component) ORDER BY wk.doc_id""".stripMargin,

    // the q41b md5-nibble MinHash mirror, bipartite: corpus (id % 5 != 0)
    // bands probe benchmark (id % 5 = 0) bands; collisions exact-verified
    // at τ = 0.3 (jaccard repeated in WHERE — alias reuse is not portable)
    "q113_decontaminate_fuzzy" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |d AS (SELECT doc_id, list_distinct(toks) AS w,
        |   CASE WHEN len(toks) < 3 THEN [] ELSE
        |     list_transform(range(1, len(toks) - 1),
        |       i -> array_to_string(toks[i:i+2], ' ')) END AS sh
        | FROM t),
        |m AS (SELECT doc_id, w,
        |   list_transform(range(0, ${numHashes}), j ->
        |     list_min(list_transform(sh, tok ->
        |       CAST('0x' || substr(md5(concat(CAST(j // 2 AS VARCHAR), '#', tok)),
        |         CASE WHEN j % 2 = 0 THEN 1 ELSE 17 END, 15) AS BIGINT)))) AS mins
        | FROM d WHERE len(sh) > 0),
        |b AS (SELECT doc_id, CAST(g.b AS INT) AS band_idx,
        |   CAST('0x' || substr(md5(array_to_string(
        |     mins[CAST(g.b AS INT) * ${bandSize} + 1 : CAST(g.b AS INT) * ${bandSize} + ${bandSize}],
        |     '#')), 1, 15) AS BIGINT) AS band_hash
        | FROM m, range(0, ${numHashes / bandSize}) g(b)),
        |c AS (SELECT DISTINCT x.doc_id AS c_id, y.doc_id AS b_id
        | FROM b x JOIN b y ON x.band_idx = y.band_idx
        |   AND x.band_hash = y.band_hash
        | WHERE x.doc_id % 5 != 0 AND y.doc_id % 5 = 0)
        |SELECT c.c_id, c.b_id, ${sqlJaccard("dc.w", "db.w")} AS jaccard
        |FROM c JOIN d dc ON dc.doc_id = c.c_id JOIN d db ON db.doc_id = c.b_id
        |WHERE ${sqlJaccard("dc.w", "db.w")} >= 0.3
        |ORDER BY c_id, b_id""".stripMargin,

    // the md5-nibble MinHash twin recomputed end-to-end: minhash functions
    // 2k and 2k+1 of 3-gram shingle t are the 60-bit parses of hex chars
    // 1-15 and 17-31 of ONE md5('<k>#<t>') (two independent views per
    // digest — halves the hashing, see Md5MinHashImpl); band hash = same
    // parse of md5 over 4 minhashes joined '#' in decimal; candidates by
    // band equality; exact Jaccard on token sets. Mirrors lshBandedJaccard
    // with Md5MinHashBands. Mirrors the ≤cap exact branch only: the
    // >maxBucket star-reduction is not expressed here (driver-fixture
    // buckets are ≪ the 1000 cap; the star branch is pinned in-engine by
    // DedupBucketCapSpec). NULL-text docs drop on both sides (NULL sh →
    // NULL bands in Spark; len(NULL) > 0 is NULL here).
    "q41b_dedup_minhash_md5" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |d AS (SELECT doc_id, list_distinct(toks) AS w,
        |   CASE WHEN len(toks) < 3 THEN [] ELSE
        |     list_transform(range(1, len(toks) - 1),
        |       i -> array_to_string(toks[i:i+2], ' ')) END AS sh
        | FROM t),
        |m AS (SELECT doc_id, w,
        |   list_transform(range(0, ${numHashes}), j ->
        |     list_min(list_transform(sh, tok ->
        |       CAST('0x' || substr(md5(concat(CAST(j // 2 AS VARCHAR), '#', tok)),
        |         CASE WHEN j % 2 = 0 THEN 1 ELSE 17 END, 15) AS BIGINT)))) AS mins
        | FROM d WHERE len(sh) > 0),
        |b AS (SELECT doc_id, w, CAST(g.b AS INT) AS band_idx,
        |   CAST('0x' || substr(md5(array_to_string(
        |     mins[CAST(g.b AS INT) * ${bandSize} + 1 : CAST(g.b AS INT) * ${bandSize} + ${bandSize}],
        |     '#')), 1, 15) AS BIGINT) AS band_hash
        | FROM m, range(0, ${numHashes / bandSize}) g(b)),
        |c AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        | FROM b x JOIN b y ON x.band_idx = y.band_idx
        |   AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)
        |SELECT c.a_id, c.b_id, ${sqlJaccard("da.w", "db.w")} AS jaccard
        |FROM c JOIN d da ON da.doc_id = c.a_id JOIN d db ON db.doc_id = c.b_id
        |ORDER BY a_id, b_id""".stripMargin,

    // batch = doc_id % 4 == 0; corpus index = distinct md5/fingerprint of
    // the rest; flags via EXISTS + a min-id window on the batch side
    "q82_dedup_incremental" ->
      """WITH k AS (
        |  SELECT doc_id, md5(text) AS h,
        |    md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
        |  FROM documents),
        |c AS (SELECT * FROM k WHERE doc_id % 4 != 0),
        |b AS (SELECT * FROM k WHERE doc_id % 4 = 0)
        |SELECT doc_id,
        |  EXISTS(SELECT 1 FROM c WHERE c.h = b.h) AS dup_exact,
        |  EXISTS(SELECT 1 FROM c WHERE c.fp = b.fp) AS dup_near,
        |  doc_id != min(doc_id) OVER (PARTITION BY coalesce(fp,
        |    concat(chr(9), 'null:', CAST(doc_id AS VARCHAR)))) AS dup_in_batch,
        |  NOT (EXISTS(SELECT 1 FROM c WHERE c.h = b.h)
        |    OR EXISTS(SELECT 1 FROM c WHERE c.fp = b.fp)
        |    OR doc_id != min(doc_id) OVER (PARTITION BY coalesce(fp,
        |      concat(chr(9), 'null:', CAST(doc_id AS VARCHAR))))) AS kept
        |FROM b ORDER BY doc_id""".stripMargin,

    // the md5-nibble SimHash twin, recomputed end-to-end in SQL: per-token
    // 60-bit hash = first 15 md5 hex digits; sig bit i set iff set-bit
    // votes outnumber unset (2·|set| > n); 4×15-bit chunk banding; exact
    // in-bucket Hamming via bit_count(xor). Mirrors simhashBandPairs.
    // `WHERE text IS NOT NULL` mirrors Spark's NULL-doc elimination. The
    // actual Spark-side drop path: a NULL sig still bands (transform over
    // sequence(0,3) of a NULL sig yields four NULL chunk_vals, and window
    // partitions GROUP nulls), so NULL-sig docs can pair with each other —
    // but their Hamming distance bit_count(NULL ^ NULL) is NULL, which
    // fails `hamming <= 3`, so no pair survives. Without this filter
    // DuckDB's CASE over NULL vote counts would instead fabricate sig = 0
    // and emit (a, b, 0) pairs for NULL-text docs. Mirrors the
    // ≤cap exact branch only — see the q41b note; star branch pinned by
    // DedupBucketCapSpec.
    "q42b_dedup_simhash_md5" ->
      """WITH d AS (
        |  SELECT doc_id, source, list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (
        |  SELECT doc_id, source,
        |    list_transform(w, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
        |  FROM d),
        |s AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_transform(range(0, 60), i ->
        |      CASE WHEN 2 * len(list_filter(hs, x -> ((x >> i) & 1) = 1)) > len(hs)
        |           THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END),
        |      (a, b) -> a | b) AS sig
        |  FROM h),
        |c AS (
        |  SELECT doc_id, source, sig, CAST(t.i AS INT) AS chunk_idx,
        |    (sig >> (CAST(t.i AS INT) * 15)) & 32767 AS chunk_val
        |  FROM s, range(0, 4) t(i)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |  FROM c a JOIN c b
        |    ON a.source = b.source AND a.chunk_idx = b.chunk_idx
        |      AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
        |SELECT DISTINCT a_id, b_id, hamming
        |FROM p WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin,

    // same edge derivation as the q37 oracle, then min-reachable-id per node
    "q66_dedup_components" ->
      s"""WITH RECURSIVE d AS (
        |  SELECT doc_id, source, list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |e AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE ${sqlJaccard("a.w", "b.w")} >= 0.8),
        |sym AS (SELECT a AS n, b AS m FROM e UNION SELECT b AS n, a AS m FROM e),
        |reach(src, node) AS (
        |  SELECT n, n FROM (SELECT DISTINCT n FROM sym)
        |  UNION
        |  SELECT r.src, s.m FROM reach r JOIN sym s ON s.n = r.node),
        |comp AS (SELECT src, min(node) AS component FROM reach GROUP BY src)
        |SELECT doc.doc_id, COALESCE(c.component, doc.doc_id) AS component
        |FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.src
        |ORDER BY doc_id""".stripMargin,

    // minhash calibration: identical md5 hash family per index, agreement
    // count vs the shared sqlJaccard exact ratio, dsum/davg at scale 9
    "q187_minhash_calibration" ->
      s"""WITH d AS (SELECT doc_id, source,
        |    list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |d2 AS (SELECT * FROM d WHERE len(w) > 0),
        |m AS (SELECT doc_id, source, w,
        |    list_transform(range(1, 17), i -> list_min(list_transform(w,
        |      t -> ('0x' || substr(md5(CAST(i AS VARCHAR) || '#' || t),
        |        1, 8))::BIGINT))) AS mh
        |  FROM d2),
        |p AS (SELECT
        |    CAST(len(list_filter(range(1, 17),
        |      i -> a.mh[CAST(i AS INT)] = b.mh[CAST(i AS INT)])) AS INT)
        |      AS est_num,
        |    ${sqlJaccard("a.w", "b.w")} AS true_j
        |  FROM m a JOIN m b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT est_num, CAST(count(*) AS BIGINT) AS n_pairs,
        |  ${sqlDsum("true_j", 9)} AS sum_true,
        |  ${sqlDavg("true_j", 9)} AS avg_true
        |FROM p GROUP BY est_num ORDER BY est_num""".stripMargin,

    // LSH banding chooser: the per-doc pair join (the collapse is
    // Spark-side only — member pairs reproduce their representatives'
    // (inter, uni) exactly, so the per-cent histogram is identical), then
    // the SAME textually-shared exact S-curve fragment over HUGEINT and
    // the same eligibility ranking
    "q238_lsh_band_chooser" ->
      s"""WITH d AS (SELECT doc_id, source,
        |    list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |d2 AS (SELECT * FROM d WHERE len(w) > 0),
        |p0 AS (SELECT
        |    CAST(len(list_filter(a.w, x -> list_contains(b.w, x)))
        |      AS BIGINT) AS inter,
        |    CAST(len(a.w) AS BIGINT) AS la, CAST(len(b.w) AS BIGINT) AS lb
        |  FROM d2 a JOIN d2 b
        |    ON a.source = b.source AND a.doc_id < b.doc_id),
        |h AS (SELECT (100 * inter) // (la + lb - inter) AS m,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM p0 GROUP BY 1),
        |cand AS (SELECT * FROM (VALUES (1, 16), (2, 8), (4, 4), (8, 2),
        |    (16, 1)) t(n_bands, rows_per_band)),
        |sc AS (SELECT h.m, h.w, cand.n_bands, cand.rows_per_band,
        |    ${sCurvePmFragment("CAST(m AS HUGEINT)", "//")} AS p_pm
        |  FROM h CROSS JOIN cand),
        |ag AS (SELECT n_bands, rows_per_band,
        |    CAST(sum(CASE WHEN m < 50 THEN w ELSE 0 END) AS BIGINT)
        |      AS below_w,
        |    CAST(sum(CASE WHEN m < 50 THEN w * p_pm ELSE 0 END) AS BIGINT)
        |      AS fp_num,
        |    CAST(sum(CASE WHEN m >= 50 THEN w ELSE 0 END) AS BIGINT)
        |      AS above_w,
        |    CAST(sum(CASE WHEN m >= 50 THEN w * (1000 - p_pm) ELSE 0 END)
        |      AS BIGINT) AS fn_num
        |  FROM sc GROUP BY 1, 2),
        |f AS (SELECT n_bands, rows_per_band, below_w, above_w,
        |    CAST(CASE WHEN below_w > 0 THEN fp_num // below_w ELSE 0 END
        |      AS BIGINT) AS fp_pm,
        |    CAST(CASE WHEN above_w > 0 THEN fn_num // above_w ELSE 0 END
        |      AS BIGINT) AS fn_pm
        |  FROM ag),
        |g AS (SELECT *, fp_pm <= 20 AS eligible FROM f),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY eligible DESC,
        |      fn_pm, fp_pm, n_bands) AS BIGINT) AS pick_rank
        |  FROM g)
        |SELECT n_bands, rows_per_band, below_w, above_w, fp_pm, fn_pm,
        |  eligible, pick_rank, pick_rank = 1 AS chosen
        |FROM r ORDER BY n_bands""".stripMargin,

    // record linkage: identical degradation, blocking (the two-pass union
    // folds to one OR-join + DISTINCT), integer weights and threshold
    "q175_entity_record_linkage" ->
      (linkageOracleCore +
      """, cand AS (SELECT DISTINCT a.key, b2.b_key, a.nation, b2.b_nation,
        |    a.segment, b2.b_segment, a.bal, b2.b_bal, a.code, b2.b_code
        |  FROM a JOIN b2 ON a.nation = b2.b_nation
        |    AND (a.segment = b2.b_segment OR a.band = b2.b_band)),
        |scored AS (SELECT key, b_key,
        |    (CASE WHEN code = b_code THEN 40 ELSE 0 END
        |     + CASE WHEN abs(bal - b_bal) <= 500 THEN 25 ELSE 0 END
        |     + CASE WHEN nation = b_nation THEN 15 ELSE 0 END
        |     + CASE WHEN segment = b_segment THEN 10 ELSE 0 END) AS score,
        |    (key = b_key) AS is_true
        |  FROM cand)
        |SELECT key AS a_key, b_key, score, is_true FROM scored
        |WHERE score >= 65 ORDER BY a_key, b_key""".stripMargin),

    // q66's reachability CTE, then the q106 md5 split formula applied to
    // the COMPONENT id — every member inherits its cluster's verdict
    "q174_split_cluster_coherent" ->
      s"""WITH RECURSIVE d AS (
        |  SELECT doc_id, source, list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |e AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE ${sqlJaccard("a.w", "b.w")} >= 0.8),
        |sym AS (SELECT a AS n, b AS m FROM e UNION SELECT b AS n, a AS m FROM e),
        |reach(src, node) AS (
        |  SELECT n, n FROM (SELECT DISTINCT n FROM sym)
        |  UNION
        |  SELECT r.src, s.m FROM reach r JOIN sym s ON s.n = r.node),
        |comp AS (SELECT src, min(node) AS component FROM reach GROUP BY src),
        |labels AS (
        |  SELECT doc.doc_id, COALESCE(c.component, doc.doc_id) AS component
        |  FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.src),
        |withu AS (
        |  SELECT doc_id, component,
        |    CAST(CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        |  FROM labels)
        |SELECT doc_id, component,
        |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM withu ORDER BY doc_id""".stripMargin,

    // q66's reachability CTE, aggregated into the cluster-size histogram
    "q79_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE d AS (
        |  SELECT doc_id, source, list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |e AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE ${sqlJaccard("a.w", "b.w")} >= 0.8),
        |sym AS (SELECT a AS n, b AS m FROM e UNION SELECT b AS n, a AS m FROM e),
        |reach(src, node) AS (
        |  SELECT n, n FROM (SELECT DISTINCT n FROM sym)
        |  UNION
        |  SELECT r.src, s.m FROM reach r JOIN sym s ON s.n = r.node),
        |comp AS (SELECT src, min(node) AS component FROM reach GROUP BY src),
        |labels AS (
        |  SELECT doc.doc_id, COALESCE(c.component, doc.doc_id) AS component
        |  FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.src),
        |sizes AS (SELECT component, count(*) AS cluster_size FROM labels GROUP BY component)
        |SELECT cluster_size, count(*) AS n_clusters
        |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
  )
}
