package graft

import java.util.concurrent.{CompletionException, Executors}
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, GraftCache}
import org.apache.spark.sql.execution.SQLExecution

/** Per-query cached intermediates, and the one way a query body runs
  * two of its parts at once.
  *
  * Several queries materialize mid-plan results (MinHash signatures,
  * n-gram token tables, merged-contact outputs) that must live for the
  * duration of ONE query's action(s) but would otherwise stay pinned in
  * the block manager for the rest of the session — a 60-query
  * Verify/Bench session would accumulate gigabytes of dead cache and
  * push the driver into full GCs (ADVICE r01). Queries wrap such
  * intermediates in [[cache]]; the harness (Bench/Verify, tests) calls
  * [[releaseAll]] after each query's terminal action.
  *
  * Neither [[cache]] nor [[overlap]] mutates the caller's session conf
  * or thread-local state, so both are safe from concurrent threads.
  */
object Scratch {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `ds` (compressed columnar cache) and register it for
    * release after the current query completes.
    *
    * `sized`: compile the cached plan WITH AQE's final-stage shuffle
    * optimizations (`canChangeCachedPlanOutputPartitioning`), so its
    * stored partitioning coalesces by measured BYTES instead of
    * inheriting the session's CPU-count shuffle width. A batch-bounded
    * relation (removal set, cohort slice, retention cells) stops
    * fanning every downstream stage out to 32 near-empty tasks, while a
    * relation that is actually large keeps its parallelism. Opt-in per
    * call site: for caches whose bytes are small but whose downstream
    * work is CPU-dense (the minhash signature/verify family —
    * q53/q64/q72) byte-based coalescing serializes real compute
    * (measured: q53 1.9 → 4.4 s with the conf session-wide). The conf
    * is set on a clone of the session ([[GraftCache.persistSized]]),
    * never on the caller's.
    *
    * `fenced`: return a fresh Dataset whose logical plan is a single
    * RDD leaf over the cached result. Caching truncates EXECUTION but
    * not ANALYSIS — an operator that issues many actions over a deep
    * pipeline (the iterative connected-components machinery,
    * multi-pass merges) re-analyzes the full upstream plan on every
    * action. Measured on q124's merge stage: ~12 s of planning over
    * EMPTY cached relations at sf0.1, ~3 s fenced. The Row-encoder
    * round-trip applies — fence only modest relations (assignments,
    * pair lists, bucket tables), not corpus-wide hot paths. */
  def cache[T](ds: Dataset[T], sized: Boolean = false, fenced: Boolean = false): Dataset[T] = {
    if (sized) GraftCache.persistSized(ds) else ds.persist()
    live.add(ds)
    if (!fenced) ds
    else {
      val df = ds.toDF()
      ds.sparkSession.createDataFrame(df.rdd, df.schema).as(ds.encoder)
    }
  }

  /** Unpersist every intermediate registered since the last call.
    * Non-blocking: block eviction proceeds asynchronously. */
  def releaseAll(): Unit = {
    var d = live.poll()
    while (d != null) {
      try d.unpersist(blocking = false) catch { case NonFatal(_) => () }
      d = live.poll()
    }
  }

  private lazy val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-overlap")
    t.setDaemon(true)
    t
  }

  /** Run `a` and `b` at the same time and return both results: `a` on a
    * pool thread, `b` on the caller's. For two data-independent parts of
    * a query body that each issue sequential driver actions, so their
    * action latencies overlap instead of adding up.
    *
    * `a` runs with the caller's active session and Spark local
    * properties (job group, description, `interruptOnCancel`), captured
    * at the call: its jobs carry the caller's labels even on a reused
    * pool thread. `a` is always joined before this returns or rethrows,
    * so a failing side never leaves the other's jobs or cache
    * registrations running into the next query. If both sides fail,
    * `b`'s exception is thrown with `a`'s suppressed. */
  def overlap[A, B](a: => A, b: => B): (A, B) = {
    val fa = SQLExecution.withThreadLocalCaptured(
      org.apache.spark.sql.classic.SparkSession.active, pool)(a)
    def joinA(): A = try fa.join() catch { case e: CompletionException => throw e.getCause }
    val rb = try b catch { case e: Throwable =>
      try joinA() catch { case ea: Throwable => e.addSuppressed(ea) }
      throw e
    }
    (joinA(), rb)
  }
}
