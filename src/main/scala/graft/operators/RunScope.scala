package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Lifetime of the intermediates a query persists: a cache belongs to the
  * composition that persisted it, and goes when the first action over that
  * composition's result ends (success or failure).
  *
  *  - [[compose]] runs a query's composition with a scope open. The
  *    outermost call tags the result's logical plan with the scope; a
  *    nested call joins the enclosing scope. Compose-time actions (sizing
  *    jobs, bounded collects) run before the tag exists, so they never
  *    release anything, whichever caches they read.
  *  - [[own]] persists a frame into the open scope.
  *  - [[within]] scopes an eager block: what it owns goes when it returns
  *    or throws. Every [[SessionMemo]] build runs in one.
  *
  * One listener per session walks each finished action's plan and releases
  * every scope tagged in it, so an action over a frame DERIVED from the
  * result (a filter, a write) releases too. A result that is composed but
  * never acted on (a schema-only consumer) keeps its caches pinned until
  * the session drops them; consuming it below the Dataset API (`df.rdd`,
  * `localCheckpoint`) does the same. An explicit `unpersist()` is for a
  * cache that must go before the query's action runs. */
object RunScope {

  private final class Scope {
    private val owned = new ConcurrentLinkedQueue[DataFrame]()
    def add(df: DataFrame): Unit = { owned.add(df); () }
    def isEmpty: Boolean = owned.isEmpty
    /** Unpersists each owned cache once and drops the handles. */
    def release(): Unit = {
      var df = owned.poll()
      while (df != null) { df.unpersist(); df = owned.poll() }
    }
  }

  private val Owners = TreeNodeTag[Set[Scope]]("graft.runScope")
  private val open = new ThreadLocal[Scope]
  private val listening = new SessionMemo[Unit]

  private object Release extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      release(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      release(qe)
    // the analyzed plan holds the result's own root (an action on the
    // result itself) and every tagged subtree of a derived frame; inner
    // children reach subqueries and a command's query
    private def release(qe: QueryExecution): Unit = {
      def walk(p: QueryPlan[_]): Unit = {
        p.getTagValue(Owners).foreach(_.foreach(_.release()))
        p.children.foreach { case c: QueryPlan[_] => walk(c) }
        p.innerChildren.foreach(walk)
      }
      walk(qe.analyzed)
    }
  }

  /** Runs a query's composition with a scope open; the first action over
    * the returned frame (or over a frame derived from it) releases what the
    * composition owned. If `body` throws, its caches go at once. */
  def compose(body: => DataFrame): DataFrame =
    if (open.get != null) body
    else {
      val scope = new Scope
      open.set(scope)
      val df =
        try body
        catch { case t: Throwable => scope.release(); throw t }
        finally open.remove()
      if (!scope.isEmpty) {
        val root = df.queryExecution.commandExecuted
        root.setTagValue(Owners, root.getTagValue(Owners).getOrElse(Set.empty[Scope]) + scope)
      }
      df
    }

  /** Runs an eager block with its own scope: what it owns is released when
    * it returns or throws, never by an enclosing composition. */
  def within[T](body: => T): T = {
    val outer = open.get
    val scope = new Scope
    open.set(scope)
    try body
    finally { open.set(outer); scope.release() }
  }

  /** Persists `df` (MEMORY_AND_DISK) as a cache of the open scope. Throws
    * outside [[compose]] and [[within]]. */
  def own(df: DataFrame): DataFrame = {
    val scope = open.get
    if (scope == null)
      throw new IllegalStateException("RunScope.own outside RunScope.compose or RunScope.within")
    val s = df.sparkSession
    listening(s, "")(s.listenerManager.register(Release))
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    scope.add(cached)
    cached
  }
}
