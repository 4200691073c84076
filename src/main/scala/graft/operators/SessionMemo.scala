package graft.operators

import org.apache.spark.sql.SparkSession

/** A per-session memo of one derived artifact (a table relation, a memo
  * parquet path, a fixture lake directory): the value is built once per
  * (session, dir) and every later call in that session returns it. Each
  * handle is its own memo, so two handles never share entries even when
  * their dirs are equal.
  *
  * Lifetime contract, stated once for every memo in the library:
  *  - Keyed by (session, dir). `dir` is the data directory the artifact is
  *    derived from (or any string that names its source, e.g. a table's
  *    parquet path). A new session, `spark.newSession()` included, builds
  *    again.
  *  - Weak on the session: the entry goes when the session is collected
  *    and never before. A value that reaches its session (a `DataFrame`
  *    holds its `sparkSession` in a final field) keeps that session
  *    strongly reachable, so such an entry lives as long as the JVM. Every
  *    runner uses one session per JVM, so this holds at most one session's
  *    entries.
  *  - A lock covers one entry while it builds: a concurrent call for the
  *    same (session, dir) waits for that build and then returns its value;
  *    calls for other entries or other handles never wait on it. A build
  *    may call another handle.
  *  - A build that throws stores nothing; the next call builds again.
  *  - A build runs in [[RunScope.within]]: the caches it owns go when it
  *    ends, never with an enclosing query's scope.
  *
  * Files a build writes belong to the build: memo parquet and fixture
  * lakes live under [[TempDirs.scoped]] and go at JVM exit.
  */
final class SessionMemo[V] {

  private final class Entry { var value: Option[V] = None }

  private val bySession = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, Entry]]()

  /** The memoized value for (`s`, `dir`), running `build` on first use. */
  def apply(s: SparkSession, dir: String)(build: => V): V = {
    val entries = bySession.synchronized {
      bySession.computeIfAbsent(s,
        _ => new java.util.concurrent.ConcurrentHashMap[String, Entry]())
    }
    val entry = entries.computeIfAbsent(dir, _ => new Entry)
    entry.synchronized {
      entry.value.getOrElse {
        val v = RunScope.within(build)
        entry.value = Some(v)
        v
      }
    }
  }
}
