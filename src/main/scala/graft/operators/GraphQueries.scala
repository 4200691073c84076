package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components: fixed-point
  * PageRank — the link-centrality signal web-scale corpus curation uses to
  * weight crawl frontiers and source quality (OPIC/harmonic-centrality
  * variants rank CommonCrawl hosts the same way).
  *
  * All rank arithmetic runs in BIGINT fixed-point (SCALE = 10¹²):
  * per-edge contributions are integer divisions `rank div outdeg`, the
  * damping step is `(15·SCALE) div (100·N) + (85·Σcontrib) div 100`, and
  * integer sums are order-independent — so unlike float PageRank the
  * result is bit-identical at any parallelism AND reproducible in DuckDB,
  * which mirrors the iteration as unrolled CTEs. Truncation loses at most
  * outdeg−1 rank units (10⁻¹² each) per node per round: immaterial for
  * ranking, priceless for determinism.
  */
object PageRank {

  val Scale = 1000000000000L // 10¹² rank units = 1.0

  /** `iterations` damped PageRank rounds over directed `edges` (src, dst).
    * Caller contract: the graph is symmetrized (every node appears as both
    * src and dst — [[GraphQueries]] unions both directions), so there are
    * no dangling nodes and no mass-leak correction is needed; nodes with
    * no in-edges are still kept (rank = the damping base) via the left
    * join.
    *
    * Scale shape: outdeg is folded into the edge table ONCE and the result
    * persisted pre-partitioned by src (run-scoped) — iterations never
    * re-join or re-shuffle the |E|-sized side. |V| is collected once as a
    * driver scalar (it is needed as a literal in the damping term anyway).
    * Below `broadcastNodes` the per-iteration rank table (|V| rows)
    * broadcasts, so each round is a map-side join over the cached edges
    * plus one |V|-bounded shuffle (partial aggs collapse the contribution
    * stream map-side) — ConnectedComponents.run's small-regime escape. Above
    * it, rounds fall back to shuffle joins keyed on src, the plan a web-
    * scale graph needs (|V| in the billions: ranks cannot broadcast).
    * Iteration count is fixed and ≤ 10, so the plan is a bounded chain —
    * no checkpointing. Returns (node, r) in fixed-point units. */
  /** @param seeds optional personalization set (one `node` column):
    *              teleport mass Scale/|S| concentrates on seeds (r₀ = unit
    *              on seeds, 0 elsewhere; damping base = (15·unit) div 100
    *              on seeds, 0 elsewhere — the Jeh & Widom WWW'03 form in
    *              the same exact BIGINT algebra). None = standard
    *              PageRank, whose base formula (15·Scale) div (nn·100)
    *              is kept bit-for-bit (q129's oracle pins it). */
  def run(edges0: DataFrame, iterations: Int,
      driverMaxEdges: Long = 2000000L,
      broadcastNodes: Long = 10000000L,
      seeds: Option[DataFrame] = None): DataFrame =
    RunScope.compose(ranked(edges0, iterations, driverMaxEdges, broadcastNodes, seeds))

  private def ranked(edges0: DataFrame, iterations: Int, driverMaxEdges: Long,
      broadcastNodes: Long, seeds: Option[DataFrame]): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      s"iterations must be in [1, 10] (bounded plan chain): $iterations")
    // the edge list is cached for the deciding count and then dropped
    // explicitly: by the collected branch after its warm collect, by the
    // distributed branch once the deg/edges build has consumed it
    val raw = edges0.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ecnt = raw.count()
    require(ecnt > 0, "PageRank needs a non-empty edge set")
    // small-regime escape (as in ConnectedComponents.run, measured on q104:
    // a handful-of-MB graph spends its whole wall on per-round job
    // overhead): collect the edge list and run the IDENTICAL integer
    // recurrence driver-side, degrees tallied in the same pass —
    // order-independent integer sums make the two paths bit-equal
    // (PageRankSpec pins it). Two actions total against the cache (the
    // deciding count + the collect). Large graphs take the distributed
    // loop unchanged.
    if (ecnt <= driverMaxEdges) {
      // collecting the seed set is safe HERE: the graph itself fits on
      // the driver, so its seed subset does too
      val seedSet = seeds.map(_.select(col("node")).distinct()
        .collect().map(_.getString(0)).toSet)
      return runCollected(raw, iterations, seedSet)
    }
    // out-degrees: one |E| shuffle whose partial aggs collapse map-side to
    // a |V|-sized table, read from the cache the count just materialized
    val deg = raw.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // (src, dst, outdeg) working set for the iteration loop, persisted
    // PRE-PARTITIONED on dst: the per-round rank join is a broadcast
    // (narrow on edges — partitioning survives it), so the round's
    // groupBy(dst) then REUSES the cached hash(dst) layout instead of
    // exchanging |E| rows every iteration — one build-time shuffle buys
    // out `iterations` per-round shuffles (sf1 A/B: q129 37.5 → see
    // BASELINE round-17 row). AQE picks the join strategy for the build
    // (deg broadcasts while |V| allows); the giant-graph non-broadcast
    // branch re-exchanges per round regardless, where the extra build
    // shuffle is noise.
    val edges = RunScope.own(raw.join(deg, "src")
      .repartition(col("dst")))
    // seeds stay DISTRIBUTED on this path (a web-scale personalization
    // set — all pages of one site — would OOM a collect and bloat the
    // plan as an in-list): membership becomes a left-join flag, which
    // AQE broadcasts while the seed table is small and shuffles when
    // it is not. Flag semantics are identical to the collected path's
    // set membership, so PageRankSpec's bit-equality pin still holds.
    val nodes0 = deg.select(col("src").as("node"))
    val nodes = RunScope.own(seeds match {
      case Some(sd) =>
        nodes0.join(
          sd.select(col("node")).distinct().withColumn("is_seed", lit(true)),
          Seq("node"), "left")
          .withColumn("is_seed", coalesce(col("is_seed"), lit(false)))
      case None => nodes0.withColumn("is_seed", lit(true))
    })
    // materialize BOTH working-set caches while raw is still warm, then
    // drop raw
    val nn = nodes.count()
    edges.count()
    raw.unpersist()
    val small = nn <= broadcastNodes
    // personalized: unit-based seed algebra; standard: q129's pinned form.
    // ns counts seeds PRESENT IN THE GRAPH (the collected path indexes
    // graph nodes only, so both paths normalize over the same set)
    val (baseCol, initCol) = seeds match {
      case Some(_) =>
        val ns = nodes.filter(col("is_seed")).count()
        // this count read the node cache: released here, before the
        // query's action, so the rounds recompute the node table
        nodes.unpersist()
        require(ns > 0, "personalization needs a non-empty seed set")
        val unit = Scale / ns
        (when(col("is_seed"), lit((15L * unit) / 100L)).otherwise(lit(0L)),
          when(col("is_seed"), lit(unit)).otherwise(lit(0L)))
      case None =>
        (expr(s"(15 * $Scale) div (${nn}L * 100)"), lit(Scale / nn))
    }
    var ranks = nodes.select(col("node"), initCol.as("r"))
    for (_ <- 1 to iterations) {
      val rsrc = ranks.withColumnRenamed("node", "src")
      val contribs = edges
        .join(if (small) broadcast(rsrc) else rsrc, "src")
        .select(col("dst"), expr("r div outdeg").as("c"))
      val inbound = contribs.groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(if (small) broadcast(inbound) else inbound,
          col("node") === col("dst"), "left")
        .select(col("node"),
          (baseCol + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }
    ranks
  }

  /** The identical fixed-point recurrence over a collected, index-encoded
    * edge list — integer ops in the same order-independent algebra, so
    * results are bit-equal to the distributed loop. Edges and degrees
    * collect separately (both map-side over the cache; no join). */
  private def runCollected(raw: DataFrame, iterations: Int,
      seedSet: Option[Set[String]] = None): DataFrame = {
    val spark = raw.sparkSession
    val rows = raw.collect() // warm: the deciding count materialized the cache
    raw.unpersist()
    val m = rows.length
    val idx = scala.collection.mutable.LinkedHashMap[String, Int]()
    rows.foreach(r => idx.getOrElseUpdate(r.getString(0), idx.size))
    val nn = idx.size.toLong
    val srcI = new Array[Int](m); val dstI = new Array[Int](m)
    val outdeg = new Array[Long](idx.size)
    var i = 0
    while (i < m) {
      val r = rows(i)
      val s = idx(r.getString(0))
      srcI(i) = s
      outdeg(s) += 1L
      // a dst that never occurs as src has no out-edges and therefore no
      // rank row (the distributed loop's node set = distinct srcs); index
      // it as -1 and drop its inbound mass, matching the left-join shape
      dstI(i) = idx.getOrElse(r.getString(1), -1)
      i += 1
    }
    val seedIdx = seedSet.map { ss =>
      val b = new Array[Boolean](idx.size)
      idx.foreach { case (n, j) => b(j) = ss.contains(n) }
      b
    }
    val (baseArr, rank0) = seedIdx match {
      case Some(b) =>
        val ns = b.count(identity).toLong
        require(ns > 0, "personalization needs a non-empty seed set")
        val unit = Scale / ns
        val baseL = (15L * unit) / 100L
        (Array.tabulate(idx.size)(j => if (b(j)) baseL else 0L),
          Array.tabulate(idx.size)(j => if (b(j)) unit else 0L))
      case None =>
        val base = (15L * Scale) / (nn * 100L)
        (Array.fill(idx.size)(base), Array.fill(idx.size)(Scale / nn))
    }
    var rank = rank0
    for (_ <- 1 to iterations) {
      val contrib = Array.tabulate(idx.size)(j => rank(j) / outdeg(j))
      val s = new Array[Long](idx.size)
      var e = 0
      while (e < m) {
        if (dstI(e) >= 0) s(dstI(e)) += contrib(srcI(e))
        e += 1
      }
      rank = Array.tabulate(idx.size)(j => baseArr(j) + (85L * s(j)) / 100L)
    }
    import spark.implicits._
    idx.iterator.map { case (node, j) => (node, rank(j)) }.toSeq
      .toDF("node", "r")
  }
}

/** Exact triangle counting + local clustering coefficients over an
  * undirected simple graph — the graph-structure signal spam/quality
  * curation reads off link graphs (a page whose neighborhood closes no
  * triangles is a link farm; a tight community closes most of them).
  *
  * Algorithm: degree orientation [Suri & Vassilvitskii, WWW'11]. Every
  * edge is directed from its lower (degree, id) endpoint to the higher;
  * wedges are generated only at each edge's LOW-rank endpoint, and a
  * wedge (u; v, w) closes iff the canonical edge (v, w) exists. Each
  * triangle is counted exactly once (at its rank-minimum vertex), and the
  * per-center wedge fan-out is bounded by O(√m) out-degree — hubs become
  * wedge ENDPOINTS, not centers, which is what makes the self-join
  * survive power-law graphs at cluster scale ("the curse of the last
  * reducer" is precisely the unoriented version's hub wedge explosion).
  */
object Triangles {

  /** Per-node triangle count and local clustering coefficient
    * 2·tri/(deg·(deg−1)). `edges` must be canonical: a < b, distinct, no
    * self-loops (the [[ConnectedComponents]] edge contract). Only nodes
    * in ≥ 1 triangle are returned (coefficient 0 nodes carry no signal;
    * left-join [[degrees]] to surface them if needed).
    *
    * Physical strategy: the edge-iterator form — per-node oriented
    * out-neighbor arrays, one `array_intersect` per oriented edge. A
    * triangle x→y, x→z, y→z surfaces exactly once, as z ∈
    * N⁺(x) ∩ N⁺(y) at edge (x, y) (at the other two edges one endpoint
    * lacks the required out-edge). This never MATERIALIZES the wedge set:
    * the naive wedge self-join + closure semi-join shuffles Σ deg⁺(u)²
    * rows (41M at sf0.1, measured 15.8 s in-bench), while here that
    * volume exists only transiently inside the per-row intersections and
    * the shuffled stages stay |E|-bounded (adjacency build, edge⋈adjacency
    * probes, one triangle-row explode — measured 3.5–5.7 s warm on the
    * same graph, ≥2.8×, identical rows; the intersect stage alone A/B'd
    * 4.7 s shuffled vs 1.2 s broadcast). Orientation bounds every array
    * by O(√m), so hub adjacency never exceeds a task (the "last reducer"
    * fix at 100 TB graphs). */
  /** @param broadcastTables when true (default), the degree table and
    *   the adjacency table are broadcast — the per-edge joins run
    *   map-side with no array-payload shuffle (measured 3.2–3.9× on the
    *   sf0.1 co-purchase graph: the adjacency payload totals |E| longs,
    *   tens of MB up to ~50M edges). Set false for graphs whose node or
    *   adjacency tables outgrow executor memory — the joins fall back to
    *   key-keyed shuffles, the only plan a billion-node graph admits. */
  def perNode(edges0: DataFrame, broadcastTables: Boolean = true): DataFrame = RunScope.compose {
    val spark = edges0.sparkSession
    def bc(df: DataFrame): DataFrame = if (broadcastTables) broadcast(df) else df
    val e = edges0.select(col("a"), col("b"))
    val deg0 = degrees(e)
    val lowFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    // the oriented edges are cached — they feed the adjacency build, the
    // probe side, and the final degree table. Inside this single
    // materialization `e` occurs twice (degrees + join); ReuseExchange
    // dedupes its shuffle within the plan.
    val o = RunScope.own(e
      .join(bc(deg0.select(col("n").as("a"), col("deg").as("da"))), "a")
      .join(bc(deg0.select(col("n").as("b"), col("deg").as("db"))), "b")
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("src"),
        when(lowFirst, col("b")).otherwise(col("a")).as("dst")))
    // adjacency persisted: it feeds BOTH broadcast sides of the wedge
    // probe, and the two BroadcastExchanges differ by a rename so the
    // planner builds each from scratch — re-running the collect_list
    // aggregation twice (profiled at sf0.1: 2 × ~25 s of task time,
    // guide §2.4). The cache materializes at the first broadcast build
    // and the second reads it.
    val adj = RunScope.own(o.groupBy("src").agg(collect_list(col("dst")).as("nbrs")))
    // the wedge-closure probe is COMPUTE-amplifying (an array_intersect
    // of two O(√m) lists per oriented edge) over small input bytes, so
    // AQE coalesces it to a handful of tasks (profiled: 40 s of CPU on 8
    // tasks at sf0.1) — pin the width to the session's shuffle
    // parallelism with an explicitly-numbered repartition (the
    // SimilarityJoin.pinPairWidth discipline; guide §2.5 "compute skew").
    // (broadcast path only: the shuffle-join fallback re-exchanges on the
    // join keys anyway, where a round-robin pre-shuffle would be waste)
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val probe = if (broadcastTables) o.repartition(width) else o
    val tri = probe
      .join(bc(adj.select(col("src"), col("nbrs").as("nu"))), "src")
      .join(bc(adj.select(col("src").as("dst"), col("nbrs").as("nv"))), "dst")
      .select(col("src").as("u"), col("dst").as("v"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    val perN = tri.select(explode(array(col("u"), col("v"), col("w"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri"))
    // undirected degree recomputed from the CACHED oriented edges (the
    // orientation preserves the edge multiset), not from `e` — reading
    // `e` here would re-execute the whole upstream edge derivation
    val degO = o.select(col("src").as("n"))
      .unionAll(o.select(col("dst").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    perN.join(bc(degO), "n")
      .select(col("n").as("node"), col("deg"), col("tri"),
        ((col("tri") * 2).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double")).as("clustering"))
  }

  /** Node degrees of a canonical edge list. */
  def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
}

/** Synchronous label propagation [Raghavan et al. 2007] — community
  * detection: the host/domain clustering signal corpus curation uses
  * where connected components (q66) are too coarse (one bridge edge
  * merges two communities; LPA needs a MAJORITY of neighbors to pull a
  * node over). Deterministic variant: every node starts as its own
  * label; each synchronous round it adopts the most frequent label among
  * its neighbors, ties to the SMALLEST label (classic LPA breaks ties
  * randomly — useless under an oracle); a fixed round count bounds the
  * plan chain and sidesteps the oscillation question entirely.
  */
object LabelPropagation {

  /** `iterations` synchronous rounds over canonical undirected `edges`
    * (a < b, distinct, LONG node ids — symmetrized internally; numeric
    * ids are required by the −lbl tie-break encoding). Returns
    * (node, lbl).
    *
    * Scale shape: the symmetrized edge list is persisted once
    * (run-scoped) and each round is one edge⋈labels join (map-side under
    * `broadcastTables`) + a (node, lbl)-keyed count whose partial aggs
    * collapse map-side + a |V|-bounded argmax via max(struct) — never a
    * window. Rounds ≤ 10 keep the lazy plan chain bounded, the PageRank
    * discipline — including its small-regime escape: at or below
    * `driverMaxEdges` the edge list collects and the IDENTICAL rules run
    * driver-side (a few-MB graph spends its whole distributed wall on
    * per-round job overhead; bit-equal both sides of the threshold,
    * LabelPropagationSpec). */
  def run(edges0: DataFrame, iterations: Int,
      broadcastTables: Boolean = true,
      driverMaxEdges: Long = 2000000L): DataFrame =
    RunScope.compose(propagated(edges0, iterations, broadcastTables, driverMaxEdges))

  private def propagated(edges0: DataFrame, iterations: Int,
      broadcastTables: Boolean, driverMaxEdges: Long): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      s"iterations must be in [1, 10] (bounded plan chain): $iterations")
    def bc(df: DataFrame): DataFrame = if (broadcastTables) broadcast(df) else df
    // the edge list is cached for the deciding count; the collected
    // branch unpersists it after its collect, the distributed branch once
    // sym has consumed it
    val e = edges0.select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ecnt = e.count()
    if (ecnt <= driverMaxEdges) return runCollected(e, iterations)
    // the symmetrized working set persists PRE-PARTITIONED on src (the
    // PageRank.run move): the per-round label join is broadcast (narrow
    // on sym), so BOTH per-round aggregations — (node, lbl) counts and
    // the per-node argmax — reuse the cached hash(src≡node) layout and
    // the rounds run exchange-free over 2|E| rows. Materialize sym while
    // e is warm, then drop e.
    val sym = RunScope.own(e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src")))
    sym.count()
    e.unpersist()
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to iterations) {
      val nl = sym
        .join(bc(labels.select(col("node").as("dst"), col("lbl"))), "dst")
        .select(col("src").as("node"), col("lbl"))
      val counts = nl.groupBy("node", "lbl").agg(count(lit(1)).as("c"))
      // argmax(count), tie → min label: max over (c, −lbl) structs (the
      // q44 move; both engines order struct fields left to right)
      labels = counts.groupBy("node")
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
    }
    labels
  }

  /** The identical deterministic rules over a collected, index-encoded
    * edge list (the PageRank.runCollected discipline): per round each
    * node takes the (max count, then min) label among its neighbors —
    * exact integer comparisons, so results are bit-equal to the
    * distributed loop. */
  private def runCollected(e: DataFrame, iterations: Int): DataFrame = {
    val spark = e.sparkSession
    val rows = e.collect() // warm: the deciding count materialized the cache
    e.unpersist()
    val idx = scala.collection.mutable.LinkedHashMap[Long, Int]()
    rows.foreach { r =>
      idx.getOrElseUpdate(r.getLong(0), idx.size)
      idx.getOrElseUpdate(r.getLong(1), idx.size)
    }
    val ids = idx.keys.toArray
    val nbrs = Array.fill(idx.size)(new scala.collection.mutable.ArrayBuffer[Int]())
    rows.foreach { r =>
      val a = idx(r.getLong(0)); val b = idx(r.getLong(1))
      nbrs(a) += b; nbrs(b) += a
    }
    var lbl = Array.tabulate(idx.size)(j => ids(j))
    for (_ <- 1 to iterations) {
      lbl = Array.tabulate(idx.size) { j =>
        val counts = scala.collection.mutable.LongMap[Long]()
        nbrs(j).foreach { n =>
          val l = lbl(n); counts(l) = counts.getOrElse(l, 0L) + 1L
        }
        var bestL = Long.MaxValue; var bestC = 0L
        counts.foreach { case (l, c) =>
          if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
        }
        bestL
      }
    }
    import spark.implicits._
    ids.indices.map(j => (ids(j), lbl(j))).toDF("node", "lbl")
  }
}

/** Synchronous k-core peeling [Seidman 1983; Batagelj & Zaveršnik 2003] —
  * the dense-subgraph signal web-graph curation uses to separate tightly
  * interlinked hubs (link farms, mirror rings, genuinely popular cores)
  * from the sparse periphery PageRank alone ranks too smoothly. Each
  * synchronous round removes EVERY live node whose current degree is
  * below k (classic peeling removes one minimum node at a time — a
  * sequential order no distributed engine should replay); degrees are
  * recomputed over the surviving subgraph and the cascade repeats. A
  * fixed round bound keeps the plan chain bounded (the PageRank/LPA
  * discipline); rounds after convergence are no-ops, so a converged run
  * and a bound-limited run agree wherever peeling has finished.
  */
object KCore {

  /** `rounds` synchronous peel rounds toward the k-core of canonical
    * undirected `edges0` (a < b, distinct, LONG node ids). Returns one
    * row per node incident to at least one input edge:
    * (node, peel_round, deg) — peel_round = the 1-based round the node
    * was removed in with its start-of-round degree, or 0 for a survivor
    * with its degree inside the surviving subgraph.
    *
    * Scale shape: each round is one degree aggregation over the live
    * edge set (partial aggs collapse map-side) + two node-keyed joins
    * that shrink the edge list; live edges are persisted per round and
    * the PREVIOUS round's cache is dropped as soon as the next is
    * materialized, so at most one |E|-sized cache is live at a time. The
    * small per-round (node, deg) tables stay cached until the consuming
    * action (they are the peel evidence the result reads) and release
    * run-scoped. Peeling stops early once a round removes nothing —
    * results are identical to running all `rounds` (no-op rounds change
    * nothing), which is what the unrolled oracle does. At or below
    * `driverMaxEdges` the edge list collects and the IDENTICAL
    * synchronous rules run driver-side over int-indexed adjacency
    * (bit-equal: integer degree comparisons only — KCoreSpec pins both
    * paths). At web scale an executor loss re-derives a dropped round
    * from lineage; a production run over billions of edges would
    * checkpoint the live edge set every few rounds instead. */
  def run(edges0: DataFrame, k: Int, rounds: Int,
      driverMaxEdges: Long = 2000000L): DataFrame =
    RunScope.compose(peel(edges0, k, rounds, driverMaxEdges))

  private def peel(edges0: DataFrame, k: Int, rounds: Int,
      driverMaxEdges: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1 && rounds <= 12,
      s"rounds must be in [1, 12] (bounded plan chain): $rounds")
    val first = edges0.select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ecnt = first.count() // deciding count
    if (ecnt <= driverMaxEdges) return runCollected(first, k, rounds)
    def degreesOf(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dc"))
    var curEdges = first
    var curAlive = first.select(col("a").as("node"))
      .unionAll(first.select(col("b").as("node"))).distinct()
    val peeled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var converged = false
    var r = 1
    while (r <= rounds && !converged) {
      val deg = RunScope.own(curAlive.join(degreesOf(curEdges), Seq("node"), "left")
        .select(col("node"), coalesce(col("dc"), lit(0L)).as("deg")))
      val p = deg.filter(col("deg") < k)
        .select(col("node"), lit(r).as("peel_round"), col("deg"))
      if (p.count() == 0L) {
        // nothing peels: remaining rounds are no-ops; this round's deg
        // table IS the survivor degree table. The live edge cache is no
        // longer referenced by anything the final action reads (its deg
        // aggregation just materialized) — drop it now.
        converged = true
        peeled += deg.select(col("node"), lit(0).as("peel_round"), col("deg"))
        curEdges.unpersist()
      } else {
        peeled += p
        val aliveNext = deg.filter(col("deg") >= k).select(col("node"))
        val eNext = RunScope.own(curEdges
          .join(aliveNext.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(aliveNext.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b")))
        eNext.count() // materialize (reads curEdges + this round's deg)
        curEdges.unpersist()
        curEdges = eNext
        curAlive = aliveNext
      }
      r += 1
    }
    if (!converged) {
      // round bound hit with peeling still live: survivors get their
      // degree inside the final surviving subgraph
      peeled += curAlive.join(degreesOf(curEdges), Seq("node"), "left")
        .select(col("node"), lit(0).as("peel_round"),
          coalesce(col("dc"), lit(0L)).as("deg"))
    }
    peeled.reduce(_.unionAll(_))
  }

  /** The identical synchronous peel over a collected, int-indexed edge
    * list (the PageRank.runCollected discipline): per round, every live
    * node below k records its start-of-round degree and leaves; live
    * neighbors decrement. Integer comparisons only, so results are
    * bit-equal to the distributed loop. */
  private def runCollected(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = e.sparkSession
    val rows = e.collect() // warm: the deciding count materialized the cache
    e.unpersist()
    val idx = scala.collection.mutable.LinkedHashMap[Long, Int]()
    rows.foreach { row =>
      idx.getOrElseUpdate(row.getLong(0), idx.size)
      idx.getOrElseUpdate(row.getLong(1), idx.size)
    }
    val ids = idx.keys.toArray
    val nbrs = Array.fill(idx.size)(
      new scala.collection.mutable.ArrayBuffer[Int]())
    rows.foreach { row =>
      val a = idx(row.getLong(0)); val b = idx(row.getLong(1))
      nbrs(a) += b; nbrs(b) += a
    }
    val deg = Array.tabulate(idx.size)(j => nbrs(j).size.toLong)
    val alive = Array.fill(idx.size)(true)
    val peelRound = Array.fill(idx.size)(0)
    val degOut = new Array[Long](idx.size)
    var r = 1
    var any = true
    while (r <= rounds && any) {
      val toPeel = ids.indices.filter(j => alive(j) && deg(j) < k)
      any = toPeel.nonEmpty
      // record START-of-round degrees first (synchronous semantics:
      // same-round peels must not see each other's decrements)
      toPeel.foreach { j =>
        peelRound(j) = r; degOut(j) = deg(j); alive(j) = false
      }
      toPeel.foreach { j =>
        nbrs(j).foreach(n => if (alive(n)) deg(n) -= 1)
      }
      r += 1
    }
    ids.indices.foreach(j => if (alive(j)) degOut(j) = deg(j))
    import spark.implicits._
    ids.indices.map(j => (ids(j), peelRound(j), degOut(j)))
      .toDF("node", "peel_round", "deg")
  }
}

/** q129/q133/q134/q213 — the graph-analytics queries (SURVEY §2B graph
  * family, with q66's connected components).
  */
object GraphQueries extends QueryGroup {

  private val coPurchaseMemo = new SessionMemo[String]

  /** The part co-purchase edge list (canonical a < b pairs sharing an
    * order) shared by q133 and q134 — derived ONCE per (session, testdata
    * dir) and materialized to a session-scoped temp parquet that both
    * queries scan. A cache cannot span two INDEPENDENT declared queries:
    * each query's first action releases what its composition owns. A
    * derived TABLE is also the production shape: at 100 TB
    * an edge list is a stored artifact every graph analysis scans, not a
    * self-join each analysis re-runs. Rows are identical either way
    * (deterministic derivation; the oracles recompute from raw lineitem
    * and still hash-match). */
  private[operators] def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(coPurchaseMemo(s, d) {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey").distinct()
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .distinct()
      val p = TempDirs.scoped("graft-copurchase")
      e.write.mode("overwrite").parquet(p)
      p
    })

  private val purchaseMemo = new SessionMemo[String]

  /** The customer–supplier purchase edge list (canonical "c:"/"s:" string
    * pairs, one row per distinct (custkey, suppkey) with a shipped part)
    * shared by q129, q253 and q254 — the [[coPurchaseEdges]] derived-table
    * discipline: at sf1 the |lineitem|-join + distinct derivation costs
    * more than the graph iteration it feeds, and re-ran on EVERY query
    * and bench pass; a stored edge table is also the production shape.
    * Rows are deterministic, so the oracles (which recompute from raw
    * lineitem/orders) still hash-match. Symmetrization stays with the
    * consumer (a cheap narrow union over the file scan). */
  private[operators] def purchaseEdges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(purchaseMemo(s, d) {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      // distinct on the INTEGER key pair (the one |lineitem|-sized
      // shuffle runs on 16 bytes/row); node names stringify after
      val e0 = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .distinct()
        .select(concat(lit("c:"), col("ck").cast("string")).as("a"),
          concat(lit("s:"), col("sk").cast("string")).as("b"))
      val p = TempDirs.scoped("graft-purchase-edges")
      e0.write.mode("overwrite").parquet(p)
      p
    })

  /** [[purchaseEdges]] symmetrized to the (src, dst) form the iterators
    * consume. */
  private def purchaseEdgesSym(s: SparkSession, d: String): DataFrame = {
    val e0 = purchaseEdges(s, d)
    e0.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Q129: fixed-point PageRank over the purchase graph — customers and
    * suppliers as nodes, an (undirected → symmetrized) edge wherever a
    * customer's order shipped a supplier's part. 5 damped rounds, top-100
    * by rank (TakeOrderedAndProject — never a global sort). The oracle
    * unrolls the identical integer recurrence as chained CTEs, so model
    * fitting and every truncated division hash-match end-to-end. */
  private val q129: Q = (s, d) => {
    PageRank.run(purchaseEdgesSym(s, d), 5)
      .select(col("node"), col("r").as("rank_fp"),
        (col("r").cast("double") / 1.0e12).as("rank"))
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(100)
  }

  /** Q133: triangle census of the part co-purchase graph — parts are
    * adjacent when some order ships both (the basket-analysis projection),
    * [[Triangles.perNode]] counts each part's closed triangles and local
    * clustering coefficient, top-100 by count. Everything is exact
    * integer until the one coefficient division, so the oracle replays
    * the identical orientation + wedge-closure pipeline. */
  private val q133: Q = (s, d) => {
    val e = coPurchaseEdges(s, d)
    Triangles.perNode(e)
      .orderBy(col("tri").desc, col("node"))
      .limit(100)
  }

  /** Q134: label-propagation communities of the part co-purchase graph —
    * 3 deterministic [[LabelPropagation]] rounds over the q133 edge set,
    * reported as community sizes (top-100 by size). The oracle unrolls
    * the identical rounds as chained CTEs (the q129 pattern) with the
    * max-(c, −lbl)-struct argmax mirrored. */
  private val q134: Q = (s, d) => {
    val e = coPurchaseEdges(s, d)
    LabelPropagation.run(e, 3)
      .select(col("lbl").as("community"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(100)
  }

  /** Q213: k-core peeling of the REPEAT co-purchase graph — parts are
    * adjacent only when ≥ 2 distinct orders ship both (the single-order
    * graph is near-regular and its cores collapse in one step; repeat
    * co-purchase is heterogeneous, so the k = 3 cascade runs the full
    * round budget — the honest web-graph shape where k-core separates a
    * dense hub core from the periphery). 10 synchronous [[KCore]]
    * rounds; full per-node trace (peel round + degree then, survivors
    * with their core degree). The oracle unrolls the identical rounds as
    * generated CTEs (the q129 pattern, loop-emitted). */
  /** The REPEAT co-purchase edge list (canonical a < b LONG pairs sharing
    * ≥ 2 distinct orders) shared by q213 and q220 — the
    * [[coPurchaseEdges]] derived-table discipline applied to the
    * weighted-threshold variant (the single-order graph is near-regular;
    * repeat co-purchase is the heterogeneous shape iterative
    * peeling/BFS are interesting on). Derived once per (session, dir). */
  // the repeat edges are the weighted table minus its weight column —
  // ONE stored derivation serves both families (the |lineitem| self-join
  // + groupBy is the expensive part; r18 measured ~6 s of it duplicated
  // per session at sf1 before this unification)
  private[operators] def coPurchaseRepeatEdges(s: SparkSession,
      d: String): DataFrame =
    coPurchaseWeightedEdges(s, d).select(col("a"), col("b"))

  private val q213: Q = (s, d) =>
    KCore.run(coPurchaseRepeatEdges(s, d), k = 3, rounds = 10)
      .orderBy(col("node"))

  /** Q220: landmark hop-distance features — multi-source BFS from the 4
    * smallest node ids of the repeat co-purchase graph, bounded to 4
    * synchronous rounds: per node, the exact hop distance to each
    * landmark (−1 beyond the bound/unreachable). This is the graph
    * feature web curation derives against seed hosts ("how far is this
    * page from a trusted core") and the landmark-sketch building block
    * for approximate shortest paths [Potamias et al. CIKM'09]. Distances
    * and the round recurrence are pure integer mins, so the oracle
    * unrolls the identical rounds (MATERIALIZED, the q213 lesson).
    *
    * Scale shape: the distance table is ≤ L·|V| rows; each round is one
    * edge⋈dist join + a (node, landmark)-keyed min whose partials
    * collapse map-side — a bounded lazy chain (4 rounds, the PageRank
    * discipline), no caching or driver loop state. The landmark pick is
    * a 4-row TakeOrderedAndProject broadcast. */
  private val q220: Q = (s, d) => {
    val e = coPurchaseRepeatEdges(s, d)
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val marks = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .distinct().orderBy(col("node")).limit(4)
      .withColumn("lr",
        row_number().over(Window.orderBy(col("node"))).cast("long") - 1)
    // each round references dist twice (carry + expand); both reads are
    // the SAME post-shuffle plan, so ReuseExchange collapses them and
    // the chain stays linear work. AQE picks broadcast for the dist
    // side while it fits and falls back to a shuffle join beyond — the
    // PageRank small/large regime without a hand-rolled threshold.
    var dist = marks.select(col("node"), col("lr"), lit(0L).as("hop"))
    for (_ <- 1 to 4) {
      val step = sym
        .join(dist.select(col("node").as("src"), col("lr"), col("hop")),
          "src")
        .select(col("dst").as("node"), col("lr"),
          (col("hop") + 1L).as("hop"))
      dist = dist.unionAll(step)
        .groupBy("node", "lr").agg(min(col("hop")).as("hop"))
    }
    val pivot = dist.groupBy("node")
      .agg(
        coalesce(max(when(col("lr") === 0L, col("hop"))), lit(-1L))
          .as("p0"),
        coalesce(max(when(col("lr") === 1L, col("hop"))), lit(-1L))
          .as("p1"),
        coalesce(max(when(col("lr") === 2L, col("hop"))), lit(-1L))
          .as("p2"),
        coalesce(max(when(col("lr") === 3L, col("hop"))), lit(-1L))
          .as("p3"))
    // nodes no landmark reaches within the bound never enter dist —
    // the left join keeps them with all −1
    sym.select(col("src").as("node")).distinct()
      .join(pivot, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("p0"), lit(-1L)).as("d0"),
        coalesce(col("p1"), lit(-1L)).as("d1"),
        coalesce(col("p2"), lit(-1L)).as("d2"),
        coalesce(col("p3"), lit(-1L)).as("d3"))
      .orderBy("node")
  }

  /** Q222: degree assortativity [Newman, PRL 89:208701 2002] of the
    * repeat co-purchase graph — the one-number graph-health summary next
    * to q133's per-node coefficients: the Pearson correlation of the
    * degrees at the two ends of an edge. Assortative (r > 0) graphs are
    * hub-with-hub (social shape); disassortative (r < 0) are hub-spoke
    * (web/purchase shape) — the signal that decides whether q213's core
    * peel or q220's landmark features separate anything.
    *
    * Determinism: over the SYMMETRIZED stub list Σdx = Σdy and
    * Σdx² = Σdy², so Pearson's sqrt-of-products denominator collapses
    * and r = (m2·Σdxdy − (Σdx)²) / (m2·Σdx² − (Σdx)²) — exact integer
    * sums, the two cross-multiplied terms in DECIMAL(38,0) (BIGINT holds
    * to ~10⁹-stub graphs; 128-bit covers any real one), ONE double
    * division (the q95 contract). NO sqrt anywhere — the only Pearson
    * variant with that property, and why the stub form is the right one.
    *
    * Scale shape: one degree aggregation, two node-keyed joins of the
    * stub list against the node-sized degree table (broadcast while it
    * fits, AQE shuffle beyond), one global partial-agg fold to a single
    * row. No windows, no pairs beyond the edges themselves. */
  private val q222: Q = (s, d) =>
    assortativity(coPurchaseRepeatEdges(s, d))

  /** Q231: landmark harmonic-closeness features — the centrality estimate
    * the q220 sketch exists FOR ([Potamias et al. CIKM'09]: approximate
    * closeness from landmark distances alone, never all-pairs). The
    * HARMONIC form Σ 1/d is the right one under a hop bound: unreachable
    * and beyond-bound landmarks contribute exactly 0 instead of poisoning
    * a reciprocal-of-sum, and with d ∈ {1..4} every term is exact in
    * TWELFTHS — harmonic_x12 = Σ (12 div d) is a pure integer, no double
    * ever exists (lcm(1..4) = 12). Landmarks flag themselves via their
    * own 0 distance and contribute only their ≥1 hops to OTHER landmarks.
    * One projection over q220's bounded-BFS pivot — same scale shape. */
  private val q231: Q = (s, d) => {
    val cols = Seq("d0", "d1", "d2", "d3")
    val reach = cols.map(n =>
      when(col(n) >= 1L, 1L).otherwise(0L)).reduce(_ + _)
    val harm = cols.map(n =>
      when(col(n) >= 1L, expr(s"12 div $n")).otherwise(0L)).reduce(_ + _)
    val isMark = cols.map(n => col(n) === 0L).reduce(_ || _)
    q220(s, d).select(col("node"),
        reach.cast("long").as("n_reached"),
        harm.cast("long").as("harmonic_x12"),
        isMark.as("is_landmark"))
      .orderBy("node")
  }

  private val weightedMemo = new SessionMemo[String]

  /** The WEIGHTED repeat co-purchase edge list — the q213/q220 derivation
    * keeping the shared-order count, INVERTED to a small integer rank
    * (≥4 shared orders → weight 1, 3 → 2, 2 → 3: stronger ties are
    * shorter) — the standard affinity-to-length transform a curation
    * graph uses so weighted distances prefer well-evidenced paths.
    * Derived once per (session, dir) — the [[coPurchaseEdges]]
    * derived-table discipline. */
  private[operators] def coPurchaseWeightedEdges(s: SparkSession,
      d: String): DataFrame =
    s.read.parquet(weightedMemo(s, d) {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey").distinct()
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").cast("long").as("a"),
          col("y.l_partkey").cast("long").as("b"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("a"), col("b"),
          when(col("w") >= 4, 1L).when(col("w") === 3, 2L)
            .otherwise(3L).as("wt"))
      val p = TempDirs.scoped("graft-copurchase-weighted")
      e.write.mode("overwrite").parquet(p)
      p
    })

  /** Q267: WEIGHTED shortest paths — bounded Bellman–Ford over the
    * weighted repeat co-purchase edges ([[coPurchaseWeightedEdges]]) from
    * the q220 landmark set (the 4 smallest node ids): per node, the exact
    * minimum weighted distance to each landmark over paths of ≤ 4 edges
    * (−1 beyond the bound/unreachable). This is the graph-curation
    * standard q220's hop distance approximates — with integer weights
    * inverting tie strength, the distance prefers few-hop
    * well-evidenced routes over long weak chains, and a 3-weight path of
    * 2 edges can genuinely beat a 1-hop weak edge's 3 (the property the
    * spec pins). Distances and the relaxation recurrence are pure
    * integer mins (the q129 fixed-point discipline), so the ORACLE
    * unrolls the identical 4 synchronous relaxations as MATERIALIZED
    * CTEs (the q220 pattern with `dm + wt` in place of `hop + 1`).
    *
    * Scale shape: identical to q220 — the distance table is ≤ L·|V|
    * rows; each round is one edge⋈dist join + a (node, landmark)-keyed
    * min whose partials collapse map-side, a bounded lazy chain with
    * ReuseExchange collapsing the carry/expand reads; the landmark pick
    * is a 4-row TakeOrderedAndProject broadcast. Bounded-round
    * Bellman–Ford is exactly the distributed plan a billion-edge graph
    * admits (per round: one |E| join + a node-keyed min). */
  private val q267: Q = (s, d) => {
    val e = coPurchaseWeightedEdges(s, d)
    val sym = e.select(col("a").as("src"), col("b").as("dst"), col("wt"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst"), col("wt")))
    val marks = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .distinct().orderBy(col("node")).limit(4)
      .withColumn("lr",
        row_number().over(Window.orderBy(col("node"))).cast("long") - 1)
    var dist = marks.select(col("node"), col("lr"), lit(0L).as("dm"))
    for (_ <- 1 to 4) {
      val step = sym
        .join(dist.select(col("node").as("src"), col("lr"), col("dm")),
          "src")
        .select(col("dst").as("node"), col("lr"),
          (col("dm") + col("wt")).as("dm"))
      dist = dist.unionAll(step)
        .groupBy("node", "lr").agg(min(col("dm")).as("dm"))
    }
    val pivot = dist.groupBy("node")
      .agg(
        coalesce(max(when(col("lr") === 0L, col("dm"))), lit(-1L))
          .as("p0"),
        coalesce(max(when(col("lr") === 1L, col("dm"))), lit(-1L))
          .as("p1"),
        coalesce(max(when(col("lr") === 2L, col("dm"))), lit(-1L))
          .as("p2"),
        coalesce(max(when(col("lr") === 3L, col("dm"))), lit(-1L))
          .as("p3"))
    sym.select(col("src").as("node")).distinct()
      .join(pivot, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("p0"), lit(-1L)).as("d0"),
        coalesce(col("p1"), lit(-1L)).as("d1"),
        coalesce(col("p2"), lit(-1L)).as("d2"),
        coalesce(col("p3"), lit(-1L)).as("d3"))
      .orderBy("node")
  }

  /** q222 core over any canonical (a < b, distinct) edge list — separated
    * so the spec can pin the sign and exact rational on constructed
    * star/clique graphs against a driver BigDecimal Pearson. */
  private[graft] def assortativity(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("deg")).as("deg_sum"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val sums = sym
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
      .agg(count(lit(1)).as("m2"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"))
    sums.crossJoin(broadcast(nn)).crossJoin(broadcast(ne))
      .select(col("n_nodes"), col("n_edges"), col("m2"), col("sx"),
        col("sxx"), col("sxy"),
        // surfaced as BIGINT (the gate canonicalizes DECIMAL(38,0) and
        // HUGEINT differently); the subtraction runs in 128-bit first,
        // and an out-of-BIGINT result fails LOUDLY under the ANSI cast
        expr("""cast(cast(m2 as decimal(38,0)) * cast(sxy as decimal(38,0))
          - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0))
          as bigint)""").as("r_num"),
        expr("""cast(cast(m2 as decimal(38,0)) * cast(sxx as decimal(38,0))
          - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0))
          as bigint)""").as("r_den"),
        // mean stub degree in exact per-mille (⟨k⟩ = Σdeg/|V| is the
        // edge-count identity; THIS is the edge-end mean ⟨k²⟩/⟨k⟩ side)
        expr("(1000 * sx) div m2").as("mean_end_deg_x1000"))
      .withColumn("assortativity",
        when(col("r_den") === 0, lit(0.0))
          .otherwise(col("r_num").cast("double") /
            col("r_den").cast("double")))
      .withColumn("is_assortative", col("r_num") > 0)
  }

  /** Q253: PERSONALIZED PageRank — q129's fixed-point recurrence with the
    * teleport mass concentrated on a seed set [Page et al. 1999 §6; the
    * Jeh & Widom WWW'03 personalization]: r₀ = Scale/|S| on seeds,
    * r' = seed·(15·unit div 100) + (85·Σ r div outdeg) div 100. The
    * retrieval/expansion primitive ("entities relevant TO THESE
    * customers") that global PageRank can't answer: rank mass stays in
    * the seeds' neighborhoods. Seeds = customer nodes with custkey ≡ 0
    * (mod 10). Exact BIGINT fixed-point end to end — the ORACLE unrolls
    * the identical 3 rounds as chained CTEs (the q129 pattern, with the
    * seed CASE in the damping term).
    *
    * Scale shape: q129's economics — one (src, dst, outdeg) working set
    * persisted, three |V|-bounded contribution shuffles, top-100 by
    * TakeOrderedAndProject. */
  private val q253: Q = (s, d) => {
    // seed DEFINITION from the customer table (cheap scan); seeds not in
    // the graph are excluded by run() in both paths identically
    val seeds = Tables.customer(s, d)
      .filter(col("c_custkey") % 10 === 0)
      .select(concat(lit("c:"), col("c_custkey").cast("string")).as("node"))
    PageRank.run(purchaseEdgesSym(s, d), 3, seeds = Some(seeds))
      .withColumn("is_seed", col("node").startsWith("c:") &&
        expr("CAST(substring(node, 3) AS BIGINT) % 10 = 0"))
      .select(col("node"), col("is_seed"), col("r").as("rank_fp"),
        (col("r").cast("double") / 1.0e12).as("rank"))
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(100)
  }

  /** Q254: HyperBall neighborhood-function centrality [Boldi & Vigna
    * 2013; the HyperANF lineage] — per node, an md5-HLL counter of its
    * ball B(v, r), grown by ITERATED REGISTER MERGE along edges:
    * counters(v, r+1) = HLL-merge(counters(v, r), counters(w, r) for
    * every neighbor w). Registers use q248's scaled-integer encoding at
    * m = 64 (26-bit rank window, term = roundUpPow2 ≡ 2^(27−ρ), empty =
    * 2²⁷), and are PACKED: one 64-int array per node, merged elementwise
    * by [[graft.plans.RegMinAgg]] — min is commutative/idempotent,
    * so the iteration is deterministic at any parallelism, and a round
    * shuffles |E| array rows, never |E|·m register rows (the exploded
    * form measured 51 s at sf0.1; packed: ~2 s). Per-node harmonic sums
    * S₁, S₂, S₃ are exact BIGINTs (smaller S ⟺ bigger estimated ball);
    * the three per-row IEEE divisions (α₆₄·m²·2²⁷/S) produce the
    * ball-size estimates. This is THE way to compute centralities and
    * distance distributions on graphs too big for all-pairs BFS
    * (HyperBall measured Facebook's four degrees of separation);
    * exact_ball1 = outdeg + 1 rides along as the radius-1 error readout.
    * Top-100 most central by (S₃ ASC, node) — an integer sort key.
    *
    * Scale shape: constant 256-byte state per node, one |E|-join + one
    * node-bounded min-merge shuffle per round, bounded rounds. The
    * ORACLE replays the identical three merges in EXPLODED register form
    * as MATERIALIZED CTE rounds — packed ≡ exploded because elementwise
    * min with an absent-register sentinel is exactly per-(node, bucket)
    * min with sentinel fill. */
  /** q254's round-0 packed-register frame: one (node, regs[64]) row per
    * node, the node's own md5-HLL observation in its bucket, the 2²⁷
    * empty-register sentinel elsewhere — factored out so the sizing spec
    * measures the EXACT frame every round broadcasts. */
  private[operators] def hyperBallInitRegs(nodes: DataFrame): DataFrame =
    nodes
      .withColumn("h", call_function("md5_prefix32", col("node")))
      .withColumn("bucket", expr("CAST(h div 67108864 AS INT)"))
      .withColumn("w", col("h") % lit(67108864L))
      .withColumn("term", expr(
        "CAST((w | (w >> 1) | (w >> 2) | (w >> 4) | (w >> 8) | (w >> 16)) + 1 AS INT)"))
      .select(col("node"), expr(
        "transform(sequence(0, 63), i -> IF(i = bucket, term, 134217728))")
        .as("regs"))

  /** Conservative planning size of one packed-register UnsafeRow:
    * measured 304 B at ≤8-char node ids (sf0.01 and sf0.1 both,
    * BASELINE r18), padded to 320 B for the id widths a 10⁸-node graph
    * reaches (string slots round up in 8-byte words). */
  private[operators] val HyperBallRegRowBytes = 320L

  /** Per-executor broadcast budget for the register table: 128 MB — an
    * order of magnitude above autoBroadcastJoinThreshold's 10 MB default
    * (this is the round's ONLY broadcast and it replaces an |E|-array-row
    * shuffle measured at ~3 GB/round at sf1), still <1% of a 16 GB
    * executor. */
  private[operators] val HyperBallBroadcastBudgetBytes = 128L << 20

  private val q254: Q = (s, d) => {
    // pre-partitioned on dst (the PageRank.run move): the per-round
    // register join is broadcast below the node threshold, so the
    // min-merge aggregation reuses the cached hash(dst) layout and the
    // round never shuffles |E| REGISTER ARRAYS (64 ints/row — the
    // heaviest shuffle payload in the suite; sf1 measured ~3 GB/round
    // on the union-then-groupBy form)
    val edges = RunScope.own(purchaseEdgesSym(s, d)
      .repartition(col("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // registers broadcast while the packed-register table fits a
    // per-executor broadcast BUDGET — the threshold is BYTES, not a node
    // count (ADVICE r17): a broadcast ships one full copy to every
    // executor, so the budget is what one executor pins beside its
    // shuffle working set. Register row footprint is MEASURED, not
    // guessed: the (node, regs[64]) UnsafeRow is exactly 304 B at ≤8-char
    // node ids (8 null bits + 2×8 fixed slots + 8 string + 272
    // UnsafeArrayData; R18QuerySemanticsSpec pins it; BASELINE r18 row),
    // growing to ~320 B at 10⁸-node id widths — the planning constant.
    // At the 128 MB budget the cutoff is ~420k nodes (the r17 round
    // figure of 2M would have shipped ~600 MB copies); past it the
    // rounds fall back to the shuffled union form (the only plan a
    // billion-node graph admits).
    val nn = deg.count()
    val small = nn * HyperBallRegRowBytes <= HyperBallBroadcastBudgetBytes
    // PACKED registers: one row per node carrying all 64 registers
    // (absent = the 2^27 empty-register sentinel), merged elementwise —
    // an iteration shuffles |E| array rows, never |E|·m register rows.
    // The merge is the NATIVE [[graft.plans.RegMinAgg]] (r20 optimization
    // round, guide §4): the ArrayMinAgg UDAF (now RegMinAggSpec's
    // reference, under src/test) had an encoder boundary that boxed
    // every input row to Array[Int] (measured at sf0.1: 126 s task CPU +
    // 70 s GC in the two merge jobs), and an interim 64-slot
    // min(element_at) declarative form traded the GC away for ~28 µs/row
    // of per-expression update overhead (341 s task CPU at sf1). The
    // imperative int[]-buffer aggregate does neither: zero per-row
    // allocation, one 64-int min loop per row. Same elementwise-min
    // algebra, loud on malformed input (RegMinAggSpec).
    // (A 64-slot declarative min(element_at) form was also measured:
    // no boxing, but 64 per-row expression updates cost 291 s CPU + 42 s
    // GC vs reg_min's 190 s CPU + 7 s GC on the same sf1 run pair —
    // task-CPU sums, the load-insensitive metric.)
    val regMins = call_function("reg_min", col("regs"), lit(64))
    var reg = hyperBallInitRegs(deg.select(col("src").as("node")))
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to 3) {
      reg = if (small) {
        // broadcast registers; inbound min-merge aggregates IN PLACE on
        // the edges' cached hash(dst) partitions, then one node-keyed
        // left join (both sides hash(node) — no exchange) folds it into
        // the previous round elementwise. On the SYMMETRIZED graph every
        // dst is a src, so reg's node set already covers every receiver
        // and the left join loses nothing — min-merge associativity
        // makes this exactly the union-then-groupBy result.
        val nbAgg = edges
          .join(broadcast(reg), edges("src") === reg("node"))
          .select(col("dst").as("node"), col("regs"))
          .groupBy("node").agg(regMins.as("nregs"))
        RunScope.own(reg.join(nbAgg, Seq("node"), "left")
          .select(col("node"), coalesce(
            expr("zip_with(regs, nregs, (x, y) -> least(x, y))"),
            col("regs")).as("regs")))
      } else {
        val nb = edges.join(reg, edges("src") === reg("node"))
          .select(col("dst").as("node"), col("regs"))
        RunScope.own(reg.unionAll(nb).groupBy("node")
          .agg(regMins.as("regs")))
      }
      rounds += reg
    }
    // materialize the round caches SEQUENTIALLY before composing the
    // readout (r20 optimization round): left lazy, all three nested
    // persists populated inside the ONE final action — whose plan reads
    // rounds(0) and rounds(1) both directly (ballSum branches) and
    // nested inside rounds(2)'s lineage, so concurrent stages raced to
    // compute the same un-populated cache (profiled at sf1: 8–33 s jobs
    // of near-zero CPU blocked on cache population plus duplicate merge
    // work). Three |V|-row counts are noise; each round now computes
    // exactly once, reading the PREVIOUS round's completed cache.
    rounds.foreach(_.count())
    def ballSum(r: DataFrame, tag: String): DataFrame =
      r.select(col("node"), expr(
        "aggregate(regs, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))")
        .as(s"s$tag"))
    val est = (c: org.apache.spark.sql.Column) =>
      lit(0.709) * lit(4096.0) * lit(134217728.0) / c.cast("double")
    ballSum(rounds(0), "1")
      .join(ballSum(rounds(1), "2"), "node")
      .join(ballSum(rounds(2), "3"), "node")
      .join(deg.select(col("src").as("node"),
        (col("outdeg") + 1L).as("exact_ball1")), "node")
      .select(col("node"), col("exact_ball1"),
        col("s1"), col("s2"), col("s3"),
        est(col("s1")).as("est1"), est(col("s2")).as("est2"),
        est(col("s3")).as("est3"))
      .orderBy(col("s3").asc, col("node"))
      .limit(100)
  }

  val queries: Seq[(String, Q)] = Seq(
    "q254_graph_hyperball" -> q254,
    "q253_graph_ppr" -> q253,
    "q129_graph_pagerank" -> q129,
    "q133_graph_triangles" -> q133,
    "q134_graph_communities" -> q134,
    "q213_graph_kcore" -> q213,
    "q220_graph_landmark_dist" -> q220,
    "q222_graph_assortativity" -> q222,
    "q231_graph_landmark_closeness" -> q231,
    "q267_graph_weighted_paths" -> q267,
  )

  /** The q213 oracle, loop-generated (the q129 unrolled-CTE pattern at
    * 10 rounds): per round, degrees of the live subgraph, peel < k with
    * the start-of-round degree, filter the edge list by the survivor
    * set; survivors report their final-subgraph degree. Rounds after
    * convergence are no-ops, matching [[KCore]]'s early exit. Every
    * per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs, so a
    * 10-round chain whose every table references the previous round ~3×
    * would expand 3¹⁰ scans and exhaust file handles on the base
    * parquet. */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT CAST(x.l_partkey AS BIGINT) AS a,
        |    CAST(y.l_partkey AS BIGINT) AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |a0 AS (SELECT DISTINCT a AS node FROM e0
        |       UNION SELECT DISTINCT b FROM e0),
        |""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(
        s"""d$r AS MATERIALIZED (SELECT a${r - 1}.node,
           |    CAST(coalesce(dd.deg, 0) AS BIGINT) AS deg
           |  FROM a${r - 1} LEFT JOIN (SELECT node, count(*) AS deg
           |      FROM (SELECT a AS node FROM e${r - 1}
           |            UNION ALL SELECT b FROM e${r - 1})
           |      GROUP BY node) dd USING (node)),
           |p$r AS (SELECT node, $r AS peel_round, deg
           |  FROM d$r WHERE deg < $k),
           |a$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k),
           |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
           |  JOIN a$r x ON e.a = x.node JOIN a$r y ON e.b = y.node),
           |""".stripMargin)
    }
    sb.append(
      s"""surv AS (SELECT a$rounds.node, 0 AS peel_round,
         |    CAST(coalesce(dd.deg, 0) AS BIGINT) AS deg
         |  FROM a$rounds LEFT JOIN (SELECT node, count(*) AS deg
         |      FROM (SELECT a AS node FROM e$rounds
         |            UNION ALL SELECT b FROM e$rounds)
         |      GROUP BY node) dd USING (node))
         |SELECT node, CAST(peel_round AS INT) AS peel_round, deg FROM
         |  (${(1 to rounds).map(r => s"SELECT * FROM p$r")
            .mkString("\n   UNION ALL ")}
         |   UNION ALL SELECT * FROM surv)
         |ORDER BY node""".stripMargin)
    sb.toString
  }

  /** The q220 oracle: the q213 repeat-edge derivation, the 4-smallest
    * landmark pick, then `rounds` unrolled synchronous BFS relaxations
    * (MATERIALIZED, the q213 inlining lesson) and the per-node pivot
    * with −1 for beyond-bound/unreachable. */
  /** The q220/q231 shared WITH-body: repeat edges, landmark pick, `rounds`
    * unrolled BFS relaxations, the per-node distance pivot `dd`. */
  private def landmarkDistBodySql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT CAST(x.l_partkey AS BIGINT) AS a,
        |    CAST(y.l_partkey AS BIGINT) AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
        |mk AS MATERIALIZED (SELECT node,
        |    CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT) AS lr
        |  FROM (SELECT node FROM nodes ORDER BY node LIMIT 4)),
        |t0 AS MATERIALIZED (SELECT node, lr, CAST(0 AS BIGINT) AS hop
        |  FROM mk),
        |""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(
        s"""t$r AS MATERIALIZED (SELECT node, lr,
           |    CAST(min(hop) AS BIGINT) AS hop FROM (
           |  SELECT node, lr, hop FROM t${r - 1}
           |  UNION ALL
           |  SELECT sym.dst AS node, t${r - 1}.lr, t${r - 1}.hop + 1
           |  FROM sym JOIN t${r - 1} ON sym.src = t${r - 1}.node)
           |  GROUP BY node, lr),
           |""".stripMargin)
    }
    sb.append(
      s"""pv AS (SELECT node,
         |    max(CASE WHEN lr = 0 THEN hop END) AS p0,
         |    max(CASE WHEN lr = 1 THEN hop END) AS p1,
         |    max(CASE WHEN lr = 2 THEN hop END) AS p2,
         |    max(CASE WHEN lr = 3 THEN hop END) AS p3
         |  FROM t$rounds GROUP BY node),
         |dd AS (SELECT nodes.node,
         |  CAST(coalesce(p0, -1) AS BIGINT) AS d0,
         |  CAST(coalesce(p1, -1) AS BIGINT) AS d1,
         |  CAST(coalesce(p2, -1) AS BIGINT) AS d2,
         |  CAST(coalesce(p3, -1) AS BIGINT) AS d3
         |FROM nodes LEFT JOIN pv USING (node))
         |""".stripMargin)
    sb.toString
  }

  private def landmarkOracleSql(rounds: Int): String =
    landmarkDistBodySql(rounds) +
      "SELECT node, d0, d1, d2, d3 FROM dd ORDER BY node"

  /** The q267 oracle: the weighted repeat-edge derivation (shared-order
    * count inverted to the 1/2/3 rank), the q220 landmark pick, then
    * `rounds` unrolled synchronous Bellman–Ford relaxations
    * (MATERIALIZED — the q213 inlining lesson) with `dm + wt` in place
    * of the BFS `hop + 1`, and the per-node pivot with −1. */
  private def weightedPathOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT CAST(x.l_partkey AS BIGINT) AS a,
        |    CAST(y.l_partkey AS BIGINT) AS b,
        |    CAST(CASE WHEN count(*) >= 4 THEN 1
        |         WHEN count(*) = 3 THEN 2 ELSE 3 END AS BIGINT) AS wt
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS MATERIALIZED (SELECT a AS src, b AS dst, wt FROM e0
        |  UNION ALL SELECT b, a, wt FROM e0),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
        |mk AS MATERIALIZED (SELECT node,
        |    CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT) AS lr
        |  FROM (SELECT node FROM nodes ORDER BY node LIMIT 4)),
        |t0 AS MATERIALIZED (SELECT node, lr, CAST(0 AS BIGINT) AS dm
        |  FROM mk),
        |""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(
        s"""t$r AS MATERIALIZED (SELECT node, lr,
           |    CAST(min(dm) AS BIGINT) AS dm FROM (
           |  SELECT node, lr, dm FROM t${r - 1}
           |  UNION ALL
           |  SELECT sym.dst AS node, t${r - 1}.lr, t${r - 1}.dm + sym.wt
           |  FROM sym JOIN t${r - 1} ON sym.src = t${r - 1}.node)
           |  GROUP BY node, lr),
           |""".stripMargin)
    }
    sb.append(
      s"""pv AS (SELECT node,
         |    max(CASE WHEN lr = 0 THEN dm END) AS p0,
         |    max(CASE WHEN lr = 1 THEN dm END) AS p1,
         |    max(CASE WHEN lr = 2 THEN dm END) AS p2,
         |    max(CASE WHEN lr = 3 THEN dm END) AS p3
         |  FROM t$rounds GROUP BY node)
         |SELECT nodes.node,
         |  CAST(coalesce(p0, -1) AS BIGINT) AS d0,
         |  CAST(coalesce(p1, -1) AS BIGINT) AS d1,
         |  CAST(coalesce(p2, -1) AS BIGINT) AS d2,
         |  CAST(coalesce(p3, -1) AS BIGINT) AS d3
         |FROM nodes LEFT JOIN pv USING (node)
         |ORDER BY node""".stripMargin)
    sb.toString
  }

  /** The q231 oracle: the q220 distance body, then the exact-twelfths
    * harmonic fold over the four landmark columns. */
  private def landmarkClosenessOracleSql(rounds: Int): String =
    landmarkDistBodySql(rounds) +
      """SELECT node,
        |  CAST(CASE WHEN d0 >= 1 THEN 1 ELSE 0 END
        |    + CASE WHEN d1 >= 1 THEN 1 ELSE 0 END
        |    + CASE WHEN d2 >= 1 THEN 1 ELSE 0 END
        |    + CASE WHEN d3 >= 1 THEN 1 ELSE 0 END AS BIGINT) AS n_reached,
        |  CAST(CASE WHEN d0 >= 1 THEN 12 // d0 ELSE 0 END
        |    + CASE WHEN d1 >= 1 THEN 12 // d1 ELSE 0 END
        |    + CASE WHEN d2 >= 1 THEN 12 // d2 ELSE 0 END
        |    + CASE WHEN d3 >= 1 THEN 12 // d3 ELSE 0 END AS BIGINT)
        |    AS harmonic_x12,
        |  (d0 = 0 OR d1 = 0 OR d2 = 0 OR d3 = 0) AS is_landmark
        |FROM dd ORDER BY node""".stripMargin

  val oracles: Map[String, String] = Map(
    "q213_graph_kcore" -> kcoreOracleSql(3, 10),
    "q220_graph_landmark_dist" -> landmarkOracleSql(4),
    "q231_graph_landmark_closeness" -> landmarkClosenessOracleSql(4),
    "q267_graph_weighted_paths" -> weightedPathOracleSql(4),
    // assortativity: same repeat-edge derivation, same stub-list degree
    // joins; the cross-multiplied terms run in HUGEINT (DuckDB's native
    // 128-bit ≡ Spark's DECIMAL(38,0) here) and every sum is cast back
    // to BIGINT (the q91 HUGEINT-sum gotcha)
    "q222_graph_assortativity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT CAST(x.l_partkey AS BIGINT) AS a,
        |    CAST(y.l_partkey AS BIGINT) AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |deg AS MATERIALIZED (SELECT src AS node,
        |    CAST(count(*) AS BIGINT) AS deg
        |  FROM sym GROUP BY src),
        |sums AS (SELECT CAST(count(*) AS BIGINT) AS m2,
        |    CAST(sum(dx.deg) AS BIGINT) AS sx,
        |    CAST(sum(dx.deg * dx.deg) AS BIGINT) AS sxx,
        |    CAST(sum(dx.deg * dy.deg) AS BIGINT) AS sxy
        |  FROM sym JOIN deg dx ON sym.src = dx.node
        |    JOIN deg dy ON sym.dst = dy.node),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0)
        |SELECT n_nodes, n_edges, m2, sx, sxx, sxy,
        |  CAST(CAST(m2 AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx
        |    AS BIGINT) AS r_num,
        |  CAST(CAST(m2 AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |    AS BIGINT) AS r_den,
        |  (1000 * sx) // m2 AS mean_end_deg_x1000,
        |  CASE WHEN CAST(m2 AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
        |    THEN 0.0
        |    ELSE CAST(CAST(m2 AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx
        |        AS DOUBLE) /
        |      CAST(CAST(m2 AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |        AS DOUBLE) END AS assortativity,
        |  CAST(m2 AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx > 0
        |    AS is_assortative
        |FROM sums, nn, ne""".stripMargin,
    // three unrolled LPA rounds (the q129 pattern): neighbor-label
    // counts, argmax via max({'c': c, 'nl': -lbl}) — max count, tie →
    // min label — mirrored against Spark's max(struct(c, -lbl))
    "q134_graph_communities" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey),
        |e AS (SELECT a AS src, b AS dst FROM e0
        |      UNION ALL SELECT b AS src, a AS dst FROM e0),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
        |c1 AS (SELECT e.src AS node, pr.lbl, CAST(count(*) AS BIGINT) AS c
        |  FROM e JOIN l0 pr ON e.dst = pr.node GROUP BY e.src, pr.lbl),
        |l1 AS (SELECT node,
        |    struct_extract(max({'c': c, 'nl': -lbl}), 'nl') * -1 AS lbl
        |  FROM c1 GROUP BY node),
        |c2 AS (SELECT e.src AS node, pr.lbl, CAST(count(*) AS BIGINT) AS c
        |  FROM e JOIN l1 pr ON e.dst = pr.node GROUP BY e.src, pr.lbl),
        |l2 AS (SELECT node,
        |    struct_extract(max({'c': c, 'nl': -lbl}), 'nl') * -1 AS lbl
        |  FROM c2 GROUP BY node),
        |c3 AS (SELECT e.src AS node, pr.lbl, CAST(count(*) AS BIGINT) AS c
        |  FROM e JOIN l2 pr ON e.dst = pr.node GROUP BY e.src, pr.lbl),
        |l3 AS (SELECT node,
        |    struct_extract(max({'c': c, 'nl': -lbl}), 'nl') * -1 AS lbl
        |  FROM c3 GROUP BY node)
        |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
        |FROM l3 GROUP BY lbl
        |ORDER BY n_members DESC, community LIMIT 100""".stripMargin,

    // same degree orientation ((deg, id) row comparison), same
    // low-rank-centered wedge join, same canonical closing-edge EXISTS;
    // coefficient arithmetic mirrored op-for-op on exact BIGINTs
    "q133_graph_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
        |  GROUP BY n),
        |o AS (SELECT
        |    CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END
        |      AS src,
        |    CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END
        |      AS dst
        |  FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
        |wg AS (SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
        |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
        |tri AS (SELECT u, v, w FROM wg
        |  WHERE EXISTS (SELECT 1 FROM e WHERE wg.v = e.a AND wg.w = e.b)),
        |tn AS (SELECT unnest([u, v, w]) AS node FROM tri),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS tri
        |  FROM tn GROUP BY node)
        |SELECT tc.node, deg.deg, tc.tri,
        |  CAST(tc.tri * 2 AS DOUBLE) / CAST(deg.deg * (deg.deg - 1)
        |    AS DOUBLE) AS clustering
        |FROM tc JOIN deg ON deg.n = tc.node
        |ORDER BY tc.tri DESC, tc.node LIMIT 100""".stripMargin,

    // the same integer recurrence, unrolled: i1..i5 each join the previous
    // ranks to the symmetrized edge list, divide by outdeg (BIGINT //),
    // regroup on dst. sum() is HUGEINT in DuckDB → CAST before the damping
    // arithmetic (the q91 rule). Every node has in-edges (symmetrized), so
    // the plain JOIN keeps the full node set, matching Spark's left join.
    // HyperBall: identical register-merge rounds (per-(node, bucket) MIN
    // over q248's integer terms) as MATERIALIZED CTEs, harmonic sums and
    // estimates mirrored from q248
    "q254_graph_hyperball" -> {
      val round = (k: Int) =>
        s"""r$k AS MATERIALIZED (SELECT node, bucket, min(term) AS term
           |  FROM (
           |    SELECT node, bucket, term FROM r${k - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, r.bucket, r.term
           |    FROM e JOIN r${k - 1} r ON e.src = r.node)
           |  GROUP BY 1, 2)""".stripMargin
      val sums = (k: Int) =>
        s"""s$k AS (SELECT node,
           |    CAST(sum(term) + (64 - count(*)) * 134217728 AS BIGINT)
           |      AS s$k
           |  FROM r$k GROUP BY node)""".stripMargin
      def estSql(c: String) =
        s"0.709 * 4096.0 * 134217728.0 / CAST($c AS DOUBLE)"
      s"""WITH e0 AS (
         |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
         |    's:' || CAST(l_suppkey AS VARCHAR) AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT a AS src, b AS dst FROM e0
         |      UNION ALL SELECT b AS src, a AS dst FROM e0),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |        FROM e GROUP BY src),
         |r0 AS MATERIALIZED (SELECT src AS node, h // 67108864 AS bucket,
         |    (((h % 67108864) | ((h % 67108864) >> 1)
         |      | ((h % 67108864) >> 2) | ((h % 67108864) >> 4)
         |      | ((h % 67108864) >> 8) | ((h % 67108864) >> 16)) + 1)
         |      AS term
         |  FROM (SELECT src, ('0x' || substr(md5(src), 1, 8))::BIGINT AS h
         |        FROM deg)),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |${sums(1)},
         |${sums(2)},
         |${sums(3)}
         |SELECT node, CAST(d.outdeg + 1 AS BIGINT) AS exact_ball1,
         |  s1.s1, s2.s2, s3.s3,
         |  ${estSql("s1.s1")} AS est1,
         |  ${estSql("s2.s2")} AS est2,
         |  ${estSql("s3.s3")} AS est3
         |FROM s1 JOIN s2 USING (node) JOIN s3 USING (node)
         |  JOIN deg d ON d.src = node
         |ORDER BY s3.s3 ASC, node LIMIT 100""".stripMargin
    },

    // personalized PageRank: the q129 chained-CTE unroll with the seed
    // CASE in the damping term and teleport mass Scale/|S| on seeds
    "q253_graph_ppr" -> {
      val iter = (k: Int) =>
        s"""i$k AS (SELECT e.dst AS node,
           |    CASE WHEN e.dst LIKE 'c:%'
           |      AND CAST(substr(e.dst, 3) AS BIGINT) % 10 = 0
           |      THEN (SELECT base FROM u) ELSE 0 END
           |    + (85 * CAST(sum(pr.r // dg.outdeg) AS BIGINT)) // 100 AS r
           |  FROM e JOIN i${k - 1} pr ON e.src = pr.node
           |         JOIN deg dg ON dg.src = e.src
           |  GROUP BY e.dst)""".stripMargin
      s"""WITH e0 AS (
         |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
         |    's:' || CAST(l_suppkey AS VARCHAR) AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT a AS src, b AS dst FROM e0
         |      UNION ALL SELECT b AS src, a AS dst FROM e0),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |        FROM e GROUP BY src),
         |nd AS (SELECT src AS node,
         |    src LIKE 'c:%' AND CAST(substr(src, 3) AS BIGINT) % 10 = 0
         |      AS is_seed
         |  FROM deg),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM nd
         |  WHERE is_seed),
         |u AS (SELECT 1000000000000 // ns AS unit,
         |    (15 * (1000000000000 // ns)) // 100 AS base FROM np),
         |i0 AS (SELECT node, CASE WHEN is_seed THEN (SELECT unit FROM u)
         |    ELSE 0 END AS r FROM nd),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT nd.node, nd.is_seed, i3.r AS rank_fp,
         |  CAST(i3.r AS DOUBLE) / 1000000000000.0 AS rank
         |FROM i3 JOIN nd ON nd.node = i3.node
         |ORDER BY rank_fp DESC, nd.node LIMIT 100""".stripMargin
    },

    "q129_graph_pagerank" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
        |    's:' || CAST(l_suppkey AS VARCHAR) AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT a AS src, b AS dst FROM e0
        |      UNION ALL SELECT b AS src, a AS dst FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
        |        FROM e GROUP BY src),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM deg),
        |i0 AS (SELECT src AS node, 1000000000000 // (SELECT nn FROM n) AS r
        |       FROM deg),
        |i1 AS (
        |  SELECT e.dst AS node,
        |    (15 * 1000000000000) // ((SELECT nn FROM n) * 100)
        |      + (85 * CAST(sum(pr.r // dg.outdeg) AS BIGINT)) // 100 AS r
        |  FROM e JOIN i0 pr ON e.src = pr.node
        |         JOIN deg dg ON dg.src = e.src
        |  GROUP BY e.dst),
        |i2 AS (
        |  SELECT e.dst AS node,
        |    (15 * 1000000000000) // ((SELECT nn FROM n) * 100)
        |      + (85 * CAST(sum(pr.r // dg.outdeg) AS BIGINT)) // 100 AS r
        |  FROM e JOIN i1 pr ON e.src = pr.node
        |         JOIN deg dg ON dg.src = e.src
        |  GROUP BY e.dst),
        |i3 AS (
        |  SELECT e.dst AS node,
        |    (15 * 1000000000000) // ((SELECT nn FROM n) * 100)
        |      + (85 * CAST(sum(pr.r // dg.outdeg) AS BIGINT)) // 100 AS r
        |  FROM e JOIN i2 pr ON e.src = pr.node
        |         JOIN deg dg ON dg.src = e.src
        |  GROUP BY e.dst),
        |i4 AS (
        |  SELECT e.dst AS node,
        |    (15 * 1000000000000) // ((SELECT nn FROM n) * 100)
        |      + (85 * CAST(sum(pr.r // dg.outdeg) AS BIGINT)) // 100 AS r
        |  FROM e JOIN i3 pr ON e.src = pr.node
        |         JOIN deg dg ON dg.src = e.src
        |  GROUP BY e.dst),
        |i5 AS (
        |  SELECT e.dst AS node,
        |    (15 * 1000000000000) // ((SELECT nn FROM n) * 100)
        |      + (85 * CAST(sum(pr.r // dg.outdeg) AS BIGINT)) // 100 AS r
        |  FROM e JOIN i4 pr ON e.src = pr.node
        |         JOIN deg dg ON dg.src = e.src
        |  GROUP BY e.dst)
        |SELECT node, r AS rank_fp,
        |  CAST(r AS DOUBLE) / 1000000000000.0 AS rank
        |FROM i5
        |ORDER BY rank_fp DESC, node LIMIT 100""".stripMargin,
  )
}
