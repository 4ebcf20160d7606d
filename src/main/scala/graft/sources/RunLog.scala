package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Pipeline run history — the job-log the reference gets for free from
  * its managed stack (every BigQuery load keeps a job entry with row
  * counts, duration, and error; the cloud-run job logs per-stage
  * results). A self-hosted lifecycle needs the same table or nightly
  * failures are invisible: one row per (run, stage) with rows written,
  * wall millis, and ok/failed status, appended to the warehouse like
  * any other table so it is queryable next to the data it describes.
  *
  * Row counting uses the Observation API: `df.observe(count(*))` rides
  * the SAME action that writes the stage — no second count job over
  * what was just written (the naive post-write `table.count()` is a
  * full re-scan that grows with TABLE size; this is O(0) extra — the
  * metric accumulates on rows already flowing through the writer).
  * A stage that THROWS (NonFatal) still gets its row logged
  * (status=failed, rows -1 since the action died) before the error
  * propagates — the log is most valuable precisely when the run does not
  * finish.
  */
object RunLog {

  case class Entry(run_ts: java.sql.Timestamp, pipeline: String,
      stage: String, rows: Long, millis: Long, status: String,
      error: String)

  /** The one place an [[Entry]] is built: `millis` since `t0Nanos`
    * (callers pick the start — a stage's own write, or a flow's start for
    * a cumulative trail), and `error` truncated to 500 chars.
    */
  def entry(runTs: java.sql.Timestamp, pipeline: String, stage: String,
      rows: Long, t0Nanos: Long, status: String = "ok",
      error: String = ""): Entry =
    Entry(runTs, pipeline, stage, rows, (System.nanoTime() - t0Nanos) / 1000000L,
      status, Option(error).getOrElse("").take(500))

  /** A failed stage's entry: rows -1 (the action died) and the error. */
  def failed(runTs: java.sql.Timestamp, pipeline: String, stage: String,
      t0Nanos: Long, e: Throwable): Entry =
    entry(runTs, pipeline, stage, -1L, t0Nanos, "failed", e.toString)

  // The failure rule every logged flow shares: only NonFatal failures are
  // logged. Logging a failure row is itself a Spark append — on VM death
  // (OOM) or an interrupt, submitting more work in a broken JVM masks the
  // real failure, so fatal throwables propagate unlogged.

  /** Run `write` on an observed copy of `df`, returning the stage's log
    * entry; a NonFatal failure is rethrown as a [[LoggedFailure]] carrying
    * the failed entry. The observation name is session-unique (Spark
    * requires uniqueness per query) and `obs.get` returns immediately
    * because the write action has already completed when it is read.
    */
  def observedWrite(df: DataFrame, runTs: java.sql.Timestamp,
      pipeline: String, stage: String)(write: DataFrame => Unit): Entry = {
    val obs = Observation(graft.Session.fresh(s"runlog_${stage}_"))
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    val t0 = System.nanoTime()
    try {
      write(observed)
      entry(runTs, pipeline, stage, obs.get("rows").asInstanceOf[Long], t0)
    } catch {
      case NonFatal(e) => throw LoggedFailure(failed(runTs, pipeline, stage, t0, e), e)
    }
  }

  /** A stage failure carrying its log entry, so the caller can append
    * the partial run history before propagating the original error.
    */
  case class LoggedFailure(entry: Entry, cause: Throwable)
    extends RuntimeException(cause)

  /** Run `body`, append ONE ok/failed row for it, rethrow on failure —
    * the step wrapper every flow that logs a row as each step finishes
    * shares (takedowns, erasure completion); the Wistia lifecycles, which
    * land a run's rows in one append, use [[observedWrite]] instead.
    * `rows` extracts the logged count from the step's result; millis run
    * from `t0Nanos`.
    */
  def step[T](spark: SparkSession, path: String,
      runTs: java.sql.Timestamp, pipeline: String, stage: String,
      t0Nanos: Long)(rows: T => Long)(body: => T): T =
    try {
      val r = body
      append(spark, path, Seq(entry(runTs, pipeline, stage, rows(r), t0Nanos)))
      r
    } catch {
      case NonFatal(e) =>
        append(spark, path, Seq(failed(runTs, pipeline, stage, t0Nanos, e)))
        throw e
    }

  /** Append entries to the path-based run-log table (tiny: one row per
    * stage per run — coalesced to a single file per append).
    */
  def append(spark: SparkSession, path: String, entries: Seq[Entry]): Unit = {
    import spark.implicits._
    if (entries.nonEmpty)
      entries.toDS().toDF().coalesce(1)
        .write.mode("append").parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
