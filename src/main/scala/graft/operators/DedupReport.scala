package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One-pass duplicate-cluster resolution + reporting — the operator a real
  * corpus build runs INSTEAD of executing the q66 pipeline per report
  * (the declared q66/q79/q154/q174 consumers now share one resolution via
  * [[assignComponentsMemo]]'s per-(session, dir) parquet). [[build]] resolves
  * components ONCE, persists only the (doc_id, component) assignment — two
  * longs per document, the smallest artifact the derivations can share —
  * and derives the keeper map, the cluster-size histogram, and the one-row
  * dedup-rate summary from that cached frame; every derivation is a
  * partial-aggregated groupBy over two columns, so at 100 TB the persisted
  * assignment (or its parquet materialization, see below) is the only
  * thing that ever holds corpus-order rows.
  *
  * Row identity with the declared queries is spec-pinned
  * (DedupReportSpec): `assignments` ≡ q66's rows, `histogram` ≡ q79's.
  * Measured saving at sf0.1 is recorded in BASELINE.md.
  *
  * 100 TB note: local runs persist MEMORY_AND_DISK; a cluster-scale build
  * would `assignments.write.parquet(...)` instead — the assignment is the
  * durable artifact the dedup stage hands every downstream consumer
  * (keeper filter, reporting, incremental probes) and it replays for free.
  * The derivations are identical either way.
  */
object DedupReport {

  /** The resolved artifacts. `assignments` stays persisted until
    * [[Report.release]] — callers that materialize it elsewhere should
    * release promptly. */
  final case class Report(assignments: DataFrame, keepers: DataFrame,
      histogram: DataFrame, summary: DataFrame) {
    def release(): Unit = assignments.unpersist()
  }

  /** Cluster resolution over a `documents`-shaped frame
    * (doc_id, source, text, …): token-Jaccard ≥ `tau` within a `source`
    * block, transitively closed — exactly the q66 pipeline, exposed as a
    * reusable operator.
    *
    * Staged physical design (results provably identical to the naive pair
    * join the q66 oracle runs): documents with the same bag-of-words
    * fingerprint have IDENTICAL token sets — in the pair graph every
    * (source, fingerprint) group is a clique whose members all have the
    * same Jaccard to any outside doc as the group's min-doc_id
    * representative. So groups collapse to representatives BEFORE the
    * quadratic pair join AND before the component iteration; members
    * inherit their rep's label with one join at the end. NULL-text docs
    * stay singletons via a per-doc group key (the shared md5('')
    * fingerprint would glue them into one bogus clique). */
  def assignComponents(documents: DataFrame,
      tau: Double = 0.8): DataFrame = RunScope.compose {
    val docs = RunScope.own(groupCollapsed(documents))
    val repDocs = docs.filter(col("doc_id") === col("rep") && col("w").isNotNull)
      .select(col("doc_id").as("id"), col("source").as("block"), col("w"))
    // round 10: the rep pair stage picks blocked-vs-tiled by measurement
    // (hashed merge kernel; identical pairs to postingsCount, spec-pinned
    // — postings remains the sparse-corpus regime)
    val repPairs = SimilarityJoin.jaccardAdaptive(repDocs, tau)
      .select(col("a_id").as("a"), col("b_id").as("b"))
    // components run on the REPRESENTATIVE graph only; the rep-graph label
    // (min rep id) IS the cluster's min doc_id because each group's
    // minimum member is its rep
    val comp = ConnectedComponents.run(repPairs)
    docs.select(col("doc_id"), col("rep"))
      .join(comp, col("rep") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("rep")).as("component"))
  }

  private val componentsMemo = new SessionMemo[String]

  /** [[assignComponents]] over the canonical documents table at τ = 0.8 —
    * the derivation FOUR independent declared queries (q66/q79/q154/q174)
    * share — resolved ONCE per (session, testdata dir) and materialized to
    * a session-scoped temp parquet they all scan. A cache cannot span
    * independent declared queries (each query's first action releases
    * what its composition owns), so the memo is a derived TABLE, which is
    * also the production shape: at 100 TB the
    * (doc_id, component) assignment is the stored artifact of the dedup
    * stage, written once and scanned by every downstream consumer, never
    * re-resolved per report. Rows are identical to a fresh resolution
    * (deterministic pipeline; DedupReportSpec pins memo ≡ fresh, and the
    * four consumers' DuckDB oracles recompute from raw documents and still
    * hash-match). */
  def assignComponentsMemo(s: SparkSession, d: String): DataFrame =
    s.read.parquet(componentsMemo(s, d) {
      val p = TempDirs.scoped("graft-dedup-components")
      assignComponents(graft.Tables.documents(s, d), tau = 0.8)
        .write.mode("overwrite").parquet(p)
      p
    })

  /** Fingerprint-group collapse (the clique argument in
    * [[assignComponents]]' doc): every doc labeled with its group's
    * min-doc_id `rep`; token sets materialized for REPRESENTATIVES only —
    * members carry just (doc_id, rep), so a persisted projection shrinks
    * with the dup rate instead of pinning the full corpus text. */
  private def groupCollapsed(documents: DataFrame): DataFrame = {
    // fingerprint materialized as a column so the width pin can
    // repartition on it and the window reuses that exchange instead of
    // planning its own. The fingerprint kernel itself runs before the pin,
    // in as many tasks as the input has splits (one for a one-file corpus)
    val width = documents.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val grpW = Window.partitionBy(col("source"), col("__fp"))
    documents
      .select(col("doc_id"), col("source"), col("text"),
        coalesce(when(col("text").isNotNull,
            TextFunctions.fingerprint(col("text"))),
          concat(lit("\tnull:"), col("doc_id"))).as("__fp"))
      .repartition(width, col("source"), col("__fp"))
      .select(col("doc_id"), col("source"), col("text"),
        min(col("doc_id")).over(grpW).as("rep"))
      .select(col("doc_id"), col("source"), col("rep"),
        when(col("doc_id") === col("rep") && col("text").isNotNull,
          TextFunctions.tokenSet(col("text"))).as("w"))
  }

  /** Resolve once, derive everything. The assignment is materialized
    * eagerly (the one heavy job); keepers/histogram/summary are cheap
    * scans of the cached two-column frame. The resolution's own cache goes
    * when the materialization ends. */
  def build(documents: DataFrame,
      tau: Double = 0.8): Report = {
    val assignments = RunScope.within {
      val a = assignComponents(documents, tau).persist(StorageLevel.MEMORY_AND_DISK)
      // on a failed materialization no Report (hence no release handle) is
      // ever returned — drop the just-persisted frame too, or a session
      // retrying builds accumulates dead pinned caches
      try a.count() // materialize: derivations below read cache
      catch { case t: Throwable => a.unpersist(); throw t }
      a
    }
    val keepers = assignments
      .withColumn("keep", col("doc_id") === col("component"))
    val histogram = assignments
      .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val summary = assignments.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_clusters"))
      .select(col("n_docs"), col("n_clusters"),
        (col("n_docs") - col("n_clusters")).as("n_duplicates"),
        ((col("n_docs") - col("n_clusters")).cast("double") /
          col("n_docs")).as("dedup_rate"))
    Report(assignments, keepers, histogram, summary)
  }

  /** Incremental cluster-assignment extension for an appended batch — the
    * ingest-path complement to q82's duplicate FLAGS: `newDocs` get real
    * cluster labels and existing labels are updated where the batch merges
    * clusters, WITHOUT re-running the corpus-wide pair join or the
    * component iteration over the full graph.
    *
    * Exactness argument (spec-pinned ≡ full re-resolution on randomized
    * arrival splits, bridges included): new edges can only TOUCH a new
    * doc, and within a fingerprint group every member pairs identically
    * to its rep — so the complete set of NEW connectivity is captured by
    * (new rep ↔ new rep) self-pairs plus (new rep ↔ old rep) bipartite
    * pairs. Folding each old endpoint to its existing component label
    * yields a META-graph over {old labels} ∪ {new rep ids} whose
    * connected components are exactly the merged clusters, and because
    * every label (old or rebuilt) is the min doc_id of its cluster, the
    * meta-component's min IS the label a full rebuild would assign — a
    * batch bridging two old clusters simply merges their labels here, no
    * rebuild fallback needed. Cost: one scan of the old corpus (the
    * rep-index window — at scale, a stored artifact maintained
    * incrementally), a pair probe proportional to the BATCH, and a CC
    * iteration over the touched-cluster meta-graph only (ScaleBench
    * `dedupreport` extend row).
    *
    * Preconditions: `assignments` from [[build]]/[[assignComponents]]
    * over `oldDocs` at the SAME `tau`; new doc_ids disjoint from old. */
  def extend(oldDocs: DataFrame, assignments: DataFrame,
      newDocs: DataFrame, tau: Double = 0.8): DataFrame =
    extendWithIndex(repIndex(oldDocs), assignments, newDocs, tau)

  /** The standing representative index (id, block, w) that [[extend]]
    * probes: one row per fingerprint group, token set attached. At 100 TB
    * this is a STORED artifact beside the assignment parquet — written
    * once at build time and appended per batch (each batch's new-group
    * reps) — so an append never re-scans the corpus; the ScaleBench
    * `dedupreport` extend row measures the probe against a materialized
    * index, which is the deployment shape. */
  def repIndex(documents: DataFrame): DataFrame =
    groupCollapsed(documents)
      .filter(col("doc_id") === col("rep") && col("w").isNotNull)
      .select(col("doc_id").as("id"), col("source").as("block"), col("w"))

  /** [[extend]] against a prebuilt [[repIndex]] — the incremental-ingest
    * fast path (no old-corpus scan at all). */
  def extendWithIndex(oldReps: DataFrame,
      assignments: DataFrame, newDocs: DataFrame,
      tau: Double = 0.8): DataFrame = RunScope.compose {
    val nd = RunScope.own(groupCollapsed(newDocs))
    val newReps = nd.filter(col("doc_id") === col("rep") && col("w").isNotNull)
      .select(col("doc_id").as("id"), col("source").as("block"), col("w"))
    val newNew = SimilarityJoin.jaccardAdaptive(newReps, tau)
      .select(col("a_id").as("a"), col("b_id").as("b"))
    // the adaptive sizing job above read the cache: released here, before
    // the query's action, so the passes below recompute the collapse
    nd.unpersist()
    val newOld = SimilarityJoin.jaccardBipartite(newReps, oldReps, tau,
        metricName = "extend_pairs_bipartite")
      .join(assignments.select(col("doc_id").as("b_id"),
        col("component").as("b_comp")), Seq("b_id"))
      .select(col("a_id").as("a"), col("b_comp").as("b"))
    val comp = ConnectedComponents.run(newNew.unionByName(newOld))
      .select(col("node"), col("component").as("merged"))
    val newAssign = nd.select(col("doc_id"), col("rep"))
      .join(comp, col("rep") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("merged"), col("rep")).as("component"))
    val oldAssign = assignments
      .join(comp, col("component") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("merged"), col("component")).as("component"))
    oldAssign.unionByName(newAssign)
  }
}
