package graft

import org.apache.spark.sql.SparkSession

/** The one engine configuration. Every main (Bench, Verify, ScaleProbe,
  * the dev tools) and the test suite build their session here, so a
  * probe or test number comes from the same engine the bench measures.
  */
object Session {
  /** Worker threads: `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session on `cpus` threads with the graft optimizer extensions,
    * one shuffle partition per thread, AQE on, UTC, no UI.
    */
  def local(cpus: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Unpersist every persisted RDD. Queries that `localCheckpoint`
    * intermediates (dd2/dd7/dd11/dd12…) leave their blocks behind; left
    * alone they accumulate across a run of many queries and push the
    * block manager into eviction/GC churn, inflating every query timed
    * after them (observed: dd12 back-to-back 60 s → 170 s in one JVM,
    * dd11 at 10× 22 s fresh vs 175 s late in a session; flat once
    * dropped). Timing loops call this between queries so each
    * measurement is independent of run order.
    */
  def dropPersisted(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  private val names = new java.util.concurrent.atomic.AtomicLong

  /** `prefix` plus a process-unique sequence number: the one source of
    * `Observation` names. An Observation latches metrics BY NAME from any
    * completing execution in the session, and Verify runs queries
    * concurrently, so two builders must never share a name.
    */
  def fresh(prefix: String): String = s"$prefix${names.incrementAndGet()}"
}
