package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge set — the step
  * AFTER pair emission in a dedup pipeline: q35/q37/q41/q42 produce
  * duplicate PAIRS; cluster resolution (every doc → one canonical keeper)
  * needs the transitive closure, which no single groupBy can express
  * (A~B, B~C does not imply the A~C pair was ever emitted). The
  * star-reduction of oversized LSH buckets (DedupQueries) is designed
  * around exactly this operator: representative stars keep clusters
  * connected so components recover them whole.
  *
  * Algorithm: iterative min-label propagation. label(n) is seeded with
  * min(n ∪ direct neighbors) — a join-free groupBy that equals the first
  * propagation round; each subsequent round sets label(n) = min(label(n),
  * min over neighbors' labels); stop when nothing changes. The final label
  * of every node is the minimum node id in its component — deterministic
  * regardless of partitioning or engine, hence oracle-checkable (q66
  * mirrors it with a DuckDB recursive CTE).
  *
  * Scale shape: each round is one shuffle join (neighbor labels, keyed on
  * node id) plus one partial+final min aggregation; rounds = graph
  * diameter. Dedup graphs are clique/star-shaped — diameter ≤ ~4 even for
  * million-doc boilerplate clusters, so the round count is small and
  * independent of corpus size. For planet-scale graphs with LONG chains
  * (road networks, social graphs), swap in large-star/small-star (Kiveris
  * et al., "Connected Components in MapReduce and Beyond", SoCC'14) behind
  * this same signature — O(log n) rounds.
  *
  * [[run]] is size-adaptive: an edge set of at most `driverMaxEdges` rows
  * never reaches the rounds — one bounded collect brings it to the driver,
  * where union-find gives the same labels. Pass `driverMaxEdges = 0` to
  * exercise the rounds on a small graph.
  */
object ConnectedComponents {

  /** Fault-tolerance mode for the iteration's per-round lineage truncation.
    *
    * The local default ([[LocalCheckpoints]]) truncates each round onto
    * executor-LOCAL blocks: cheapest, but the blocks have no lineage — one
    * lost executor mid-iteration fails the whole job. Fine on local[n];
    * wrong for an hours-long run on a real cluster, where losing one of
    * 1000 executors is routine.
    *
    * [[ReliableCheckpoints]] writes a REAL checkpoint (to
    * `dir`, through `SparkContext.setCheckpointDir` — HDFS/object store on
    * a cluster) every `everyRounds` rounds and keeps plain
    * MEMORY_AND_DISK persists (lineage intact) in between, so any executor
    * loss replays at most `everyRounds` rounds from the last durable
    * snapshot instead of killing the job. Cost: one distributed write per
    * window, and per-round plans grow within a window (reset at each
    * checkpoint) — keep `everyRounds` small (~5). Every round persists
    * BEFORE any checkpoint so the checkpoint write re-reads cached blocks
    * rather than recomputing the window's lineage, and run()/runStar()
    * return a frame rooted at a durable checkpoint with every per-round
    * cache already released — nothing stays pinned on a long-lived session.
    *
    * Checkpoint files are NOT auto-deleted by default; either point `dir`
    * at a scratch location you clean up, or set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`. */
  sealed trait CheckpointMode
  case object LocalCheckpoints extends CheckpointMode
  final case class ReliableCheckpoints(dir: String, everyRounds: Int = 5)
      extends CheckpointMode {
    require(everyRounds > 0, "everyRounds must be positive")
  }

  /** Round-scoped lineage truncation + cache bookkeeping for one iteration:
    * `truncate` applies the mode's round policy, `materialized` drops blocks a
    * newly-materialized round has made obsolete (safe in reliable mode —
    * plain persists keep lineage back to the last durable checkpoint), and
    * `seal` closes the iteration without leaking the terminal round's cache. */
  private final class RoundState(spark: SparkSession, mode: CheckpointMode) {
    mode match {
      case ReliableCheckpoints(dir, _) => spark.sparkContext.setCheckpointDir(dir)
      case LocalCheckpoints => ()
    }
    // caches backing the in-flight round(s) / the latest materialized round —
    // in reliable checkpoint rounds this is the pre-checkpoint persist, NOT
    // the frame truncate returned (unpersisting the checkpoint-backed frame
    // would be a no-op and the persist would pin storage forever). `current`
    // is a list because the seed round and round 1 materialize under the
    // SAME first action — both persists must be tracked for release.
    private var current: List[DataFrame] = Nil
    private var previous: List[DataFrame] = Nil
    private var lastDurable = false
    def truncate(df: DataFrame, round: Int): DataFrame = mode match {
      case LocalCheckpoints =>
        val c = df.localCheckpoint(false)
        current ::= c
        c
      case ReliableCheckpoints(_, every) =>
        // persist BEFORE the (lazy) checkpoint: the checkpoint write that
        // follows the round's materializing action re-reads the round from
        // these cached blocks instead of recomputing the whole window's
        // lineage a second time
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        current ::= p
        lastDurable = round % every == 0
        if (lastDurable) p.checkpoint(false) else p
    }
    /** Call AFTER an action has materialized the current round. */
    def materialized(): Unit = {
      previous.foreach(_.unpersist())
      previous = current
      current = Nil
    }
    /** Close the iteration. Local mode: the terminal localCheckpoint blocks
      * ARE the result, owned by the returned frame — nothing to release.
      * Reliable mode: root the result durably (an eager checkpoint through
      * the terminal round's cached blocks, skipped when that round already
      * checkpointed), then release every per-round cache, so a long-lived
      * cluster session pins nothing once run() returns. */
    def seal(result: DataFrame): DataFrame = mode match {
      case LocalCheckpoints => result
      case ReliableCheckpoints(_, _) =>
        val out = if (lastDurable) result else result.checkpoint()
        previous.foreach(_.unpersist())
        current.foreach(_.unpersist())
        previous = Nil
        current = Nil
        out
    }
  }

  /** @param edges two-column undirected edge set; self-loops and duplicate
    *              edges are tolerated (dropped / collapsed by the symmetric
    *              closure)
    * @param maxIter safety bound on rounds; propagation needs ~the graph
    *                diameter, so the default covers any dedup-shaped graph
    *                with a wide margin. If the bound is hit before the
    *                fixpoint the result would be WRONG (labels short of the
    *                component minimum), so run throws instead of returning
    *                silently-corrupt components — raise maxIter for
    *                long-chain graphs (or switch to large-star/small-star).
    * @param driverMaxEdges size-adaptive escape: an integer-id edge set of
    *                at most this many rows is collected and resolved on the
    *                driver with path-compressed union-find ([[resolveOnDriver]]),
    *                with no distributed round at all. A round's cost is
    *                fixed job overhead (planning, checkpoint, convergence
    *                count) once the graph is small — measured 7–12 s for a
    *                1006-edge graph at local[32] — and 10k edges are ≤ ~160 KB
    *                on the driver. Larger edge sets take the rounds below
    *                unchanged; 0 forces them (how the specs test the rounds).
    * @return (node, component) for every node incident to an edge, where
    *         component = min node id reachable; isolated nodes (no edges)
    *         do not appear — callers assign them their own id (see q66)
    */
  def run(edges: DataFrame, aCol: String = "a", bCol: String = "b",
          maxIter: Int = 50,
          mode: CheckpointMode = LocalCheckpoints,
          driverMaxEdges: Long = 10000L): DataFrame = {
    require(driverMaxEdges >= 0 && driverMaxEdges < Int.MaxValue,
      s"driverMaxEdges must be in [0, ${Int.MaxValue}): $driverMaxEdges")
    // persisted BEFORE the probe: a bounded collect that finds more than
    // driverMaxEdges rows stops early, and the rounds' edge set below reads
    // these blocks instead of running the upstream pair pipeline again
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = e.select(col("a").as("n"), col("b").as("m"))
      .union(e.select(col("b").as("n"), col("a").as("m")))
    val idType = pairs.schema("n").dataType
    if (Seq(ByteType, ShortType, IntegerType, LongType).contains(idType)) {
      // ONE bounded collect decides the path AND delivers the edges
      val probe = e.limit(driverMaxEdges.toInt + 1).collect()
      if (probe.length <= driverMaxEdges) {
        e.unpersist()
        return resolveOnDriver(edges.sparkSession, probe, idType)
      }
    }
    val rounds = new RoundState(edges.sparkSession, mode)
    val sym = pairs
      .filter(col("n") =!= col("m"))
      .distinct()
      // pre-partitioned on the per-round join key: the cached blocks carry
      // hash(m) partitioning, so the iteration never re-shuffles the edge
      // set — at corpus scale that is one full-edge-set exchange saved PER
      // ROUND (locally AQE broadcasts the label side and hides this)
      .repartition(col("m"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // seed = one propagation round for free: label(n) = min(n ∪ neighbors)
    // via a single groupBy — no join, and for clique/star-shaped dedup
    // graphs most labels are already final (measured: cuts run() 4.0 s →
    // 2.3 s on the q66 rep graph, 93k edges)
    var labels = sym.groupBy("n")
      .agg(least(first(col("n")), min(col("m"))).as("label"))
      // lineage truncation (localCheckpoint by default — see CheckpointMode)
      // keeps per-round planning cost constant instead of growing with the
      // iteration count; round N's checkpointed blocks become garbage at
      // round N+1 and are reclaimed by the ContextCleaner. LAZY checkpoints
      // throughout: the first action that touches the round's RDD (the
      // convergence count below — or round 1's own join for this seed)
      // materializes the blocks, so each round costs ONE job instead of an
      // eager-checkpoint job plus a count job.
      .transform(rounds.truncate(_, 0))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("n").as("m"), col("label").as("ml")), "m")
        .groupBy("n").agg(min(col("ml")).as("nl"))
      // the previous label rides along into the checkpoint, so convergence
      // is a filter-count over the blocks the SAME job just materialized —
      // ONE job per round, no extra join
      val next = labels.join(nbrMin, Seq("n"), "left")
        .select(col("n"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          col("label").as("prev"))
        .transform(rounds.truncate(_, it + 1))
      changed = next.filter(col("label") < col("prev")).count()
      rounds.materialized()
      // round 1's job materialized sym: nothing reads the edge blocks again
      if (it == 0) e.unpersist()
      labels = next.select("n", "label")
      it += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds " +
          s"($changed labels still decreasing) — raise maxIter")
    sym.unpersist()
    rounds.seal(labels.select(col("n").as("node"), col("label").as("component")))
  }

  /** [[run]]'s small regime: path-compressed union-find over collected
    * (a, b) rows, with the rounds' exact semantics — component = min
    * reachable node id, self-loops and NULL endpoints ignored, only
    * edge-touched nodes emitted, ids in the edge set's own type. */
  private def resolveOnDriver(spark: SparkSession, rows: Array[Row],
      idType: DataType): DataFrame = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val (a, b) = (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)
        if (a != b) {
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
    }
    import spark.implicits._
    // unions link the larger root under the smaller, so every root is its
    // tree's minimum: find(n) IS the component label
    parent.keys.toSeq.map(n => (n, find(n)))
      .toDF("node", "component")
      .select(col("node").cast(idType), col("component").cast(idType))
  }

  /** Large-star/small-star connected components (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the O(log n)-round
    * alternative to [[run]] for graphs with LONG chains, where min-label
    * propagation would need diameter rounds.
    *
    * Choosing by graph shape — measured, not folklore (ScaleBench `chains`
    * mode, ~120k-edge path graphs, local[32]; BASELINE.md round-9 row):
    * diameter 4 → run 3.9 s vs star 4.2 s (run wins — its per-round work
    * is cheaper); diameter 16 → 10.4 s vs 5.8 s; diameter 64 → 30.6 s vs
    * 7.1 s (star 4.3×, with 2507 vs 139 tasks and 2.6× the shuffle).
    * Dedup graphs (near-dup cliques/stars, diameter ≲ 4) bind the seeded
    * [[run]]; expected diameter beyond ~10 should take [[runStar]]. Each round rewires the edge set
    * itself instead of propagating labels:
    *
    *  - large-star: every node u links each STRICTLY-LARGER neighbor to the
    *    minimum of its neighborhood ∪ {u} — long tails collapse toward small
    *    ids without ever creating an edge pair larger than the original;
    *  - small-star: every node u links its smaller-or-equal neighbors (and
    *    itself) to that minimum — consolidating the partial stars.
    *
    * The edge set reaches a fixpoint where every component is a star
    * centered on its minimum node; the stars ARE the (node, component)
    * assignment. Same output contract as [[run]] (equivalence is
    * property-tested on random graphs).
    */
  def runStar(edges: DataFrame, aCol: String = "a", bCol: String = "b",
              maxIter: Int = 50,
              mode: CheckpointMode = LocalCheckpoints): DataFrame = {
    val rounds = new RoundState(edges.sparkSession, mode)
    var e = edges.select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      // lazy: the sig() action right below materializes the blocks
      .transform(rounds.truncate(_, 0))
    // order-free canonical-edge-set signature: count + commutative hash-sum
    // (decimal — a plain long sum of hashes overflows under ANSI mode)
    def sig(df: DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    var prevSig = sig(e)
    rounds.materialized()
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      // large-star over the full (symmetric) neighborhood of each center
      val nbrs = e.select(col("u").as("c"), col("v").as("w"))
        .union(e.select(col("v").as("c"), col("u").as("w")))
      val mins = nbrs.groupBy("c")
        .agg(least(min(col("w")), first(col("c"))).as("m"))
      val large = nbrs.join(mins, "c")
        .filter(col("w") > col("c"))
        .select(col("w").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star over the smaller-or-equal neighbors (edges are kept
      // (u=max, v=min)-oriented, so v ≤ u by construction)
      val smins = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(smins, "u")
        .select(explode(array(col("u"), col("v"))).as("w"), col("m"))
        .filter(col("w") =!= col("m"))
        .select(col("w").as("u"), col("m").as("v"))
        .distinct()
        // lazy: the per-round sig() action materializes the blocks
        .transform(rounds.truncate(_, it + 1))
      // fixpoint: the canonical edge set stopped changing
      val newSig = sig(small)
      rounds.materialized()
      done = newSig == prevSig
      prevSig = newSig
      e = small
      it += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"large-star/small-star did not converge in $maxIter rounds")
    // stars: (u, v=center). centers label themselves
    rounds.seal(
      e.select(col("u").as("node"), col("v").as("component"))
        .union(e.select(col("v").as("node"), col("v").as("component")))
        .distinct())
  }
}
