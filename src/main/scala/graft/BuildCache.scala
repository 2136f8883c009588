package graft

/** Per-JVM memoization of artifact construction: the build/probe
  * split of the bench.
  *
  * Some entries (q92's version chain, a43's persisted index, s74-s79's
  * folded state dirs, ...) construct a persisted artifact inside the
  * query body on every invocation. That is the correctness shape —
  * Verify and the specs exercise the full lifecycle — but timed as is,
  * the number measures parquet write churn instead of the served read,
  * and write-bound entries drift with the host's disk far more than
  * compute-bound ones (up to 20.8× against ~1.1×).
  *
  * Each such entry wraps its construction phase in [[build]], keyed by
  * (entry, sf dir). Disabled (the default) the wrapper is a no-op and
  * every invocation constructs. Enabled — Bench, Scale and the
  * perfbench main turn it on for their own JVMs — the first
  * invocation constructs, its wall time accrues to [[totalBuildSec]]
  * and its key to [[builtKeys]], and later invocations reuse the
  * artifact. Bench reads both around an entry's first pass: a grown
  * key set marks that pass as the entry's build, reported as
  * `build_sec`. Artifacts live under [[graft.sources.Export.scratch]]
  * paths that are stable for the JVM, and builds are deterministic
  * functions of the sf dir, so reuse preserves results; BenchPlanSpec
  * pins the memoized probe against the full lifecycle.
  */
object BuildCache {
  @volatile private var enabled = false
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Any]()
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private val built = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Turn memoization on for this JVM. */
  def enable(): Unit = enabled = true

  /** Test hook: restore the pristine state. */
  private[graft] def reset(): Unit = {
    enabled = false; cache.clear(); buildNanos.set(0L); built.clear()
  }

  /** Cumulative wall-seconds spent inside first-run build bodies in
    * this JVM. Bench reads the delta around an entry's first pass to
    * attribute build cost per entry (entries run sequentially). */
  def totalBuildSec: Double = buildNanos.get() / 1e9

  /** Keys whose build has run in this JVM. */
  private[graft] def builtKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    built.asScala.toSet
  }

  /** Run `body` once per key per JVM when enabled; always when
    * disabled. The cached value is whatever the construction returns
    * (artifact paths, plus any bounded derived handles the probe
    * needs). */
  def build[T](key: String)(body: => T): T =
    if (!enabled) body
    else cache.computeIfAbsent(key, { _ =>
      val t0 = System.nanoTime()
      val v = body
      buildNanos.addAndGet(System.nanoTime() - t0)
      built.add(key)
      v
    }).asInstanceOf[T]
}
