package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload sees of the run: the session, the recorder, and where
  * its generated inputs and scratch state live.
  */
final class Ctx(val spark: SparkSession, val rec: Recorder, val data: String,
    val work: String, val seed: Long) {
  def sc = spark.sparkContext
  /** Per-run artifact values; some feed the per-layer metrics. */
  val extras = mutable.LinkedHashMap[String, Any]()
  /** Output checks: (name, passed, detail, ids of the ops it covers). A
    * failed check makes every op it covers a failed op.
    */
  val checks = mutable.ArrayBuffer[(String, Boolean, String, Seq[Int])]()
  def check(name: String, ok: Boolean, detail: String, ops: Seq[Int]): Unit =
    checks += ((name, ok, detail, ops))

  /** The generator's description of the inputs (`manifest.json`). */
  lazy val manifest: com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$data/manifest.json"))

  def persistedRdds: Int = sc.getPersistentRDDs.size
  def persistedMb: Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Evaluate independent, untimed Spark actions side by side (set-up and
    * output checks), at most `threads` at a time; results in the order given.
    */
  def inParallel[A](threads: Int, actions: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try actions.map(a => pool.submit(() => a())).map(_.get())
    finally pool.shutdown()
  }
  def concurrently[A](actions: (() => A)*): Seq[A] = inParallel(actions.size, actions)

  /** Storage left behind by op `id` (traced runs only). */
  def storageAfter(id: Int): Unit =
    if (rec.tracing) {
      rec.count(id, "storage.persisted_rdds", persistedRdds)
      rec.count(id, "storage.persisted_mb", persistedMb)
    }
}

/** A closed-loop workload: one client, the next op starts only after the
  * previous one finished.
  */
trait Workload {
  /** Set-up and warm-up: everything before the first timed op. */
  def prepare(): Unit
  /** Run ops until `deadline` (recorder seconds). */
  def run(deadline: Double): Unit
  /** Output checks and artifact extras, after the timed loop. */
  def finish(): Unit
}

/** Harness entry point. Usage:
  * `Main --workload <name> --data <dir> --work <dir> --seconds <n>
  *   --trace <0|1> --seed <n> --out <file> [--cpus <n>] [--sf <x>] [--commit <id>]`
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val cpus = args.getOrElse("cpus", "4").toInt
    val rec = new Recorder(args("trace") == "1")
    val work = args("work")
    val calib = Calib.run()

    val t0 = rec.now()
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // room for the generated classes of every plan a run repeats: with the
      // default 100 entries a pass over the registry queries evicts its own
      // classes, and every timed query compiles again
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (rec.tracing) Some(new EngineListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    spark.range(4).count()
    val sessionS = rec.now() - t0

    val ctx = new Ctx(spark, rec, args("data"), work, args("seed").toLong)
    val w: Workload = workload match {
      case "wistia_nights" => new WistiaNights(ctx)
      case "store_serving" => new StoreServing(ctx)
      case "query_registry" => new QueryRegistry(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def log(msg: String): Unit = System.err.println(f"[perfbench ${rec.now()}%8.2f s] $msg")
    log(f"session started in $sessionS%.2f s")
    val pa = rec.now()
    w.prepare()
    val prepS = rec.now() - pa
    log(f"set-up took $prepS%.2f s")
    val loopStart = rec.now()
    w.run(loopStart + args("seconds").toDouble)
    val loopEnd = rec.now()
    log(f"timed loop: ${rec.ops.size} ops in ${loopEnd - loopStart}%.2f s")
    val heapMb = Heap.retainedMb()
    w.finish()
    log("checks done")

    // per op: engine counters and the intervals its tasks ran in
    val tasks = mutable.LinkedHashMap[String, Seq[Seq[Double]]]()
    listener.foreach { l =>
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      rec.ops.foreach { o =>
        val (counts, spans) = l.window(rec.epochMs(o.start), rec.epochMs(o.end))
        counts.foreach { case (k, v) => rec.count(o.id, k, v) }
        tasks(o.id.toString) = spans.map { case (a, b) => Seq(rec.fromEpochMs(a), rec.fromEpochMs(b)) }
      }
    }
    val rt = Runtime.getRuntime
    val out = Map(
      "workload" -> workload,
      "context" -> Map(
        "seed" -> args("seed").toLong, "sf" -> args.getOrElse("sf", ""),
        "commit" -> args.getOrElse("commit", ""),
        "cpus" -> cpus, "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "heap_max_mb" -> rt.maxMemory() / 1e6,
        "jvm" -> System.getProperty("java.version"),
        "jvm_vendor" -> System.getProperty("java.vm.name"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "tracing" -> rec.tracing),
      "host_calib_s" -> calib,
      "session_s" -> sessionS,
      "prepare_s" -> prepS,
      "loop_s" -> (loopEnd - loopStart),
      "retained_heap_mb" -> heapMb,
      "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "start" -> o.start,
        "end" -> o.end, "ok" -> o.ok, "error" -> o.error)),
      "spans" -> rec.spans.map(s => Map("name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "op" -> s.op)),
      "counters" -> rec.counters.map { case (k, m) => k.toString -> m.toMap }.toMap,
      "tasks" -> tasks.toMap,
      "checks" -> ctx.checks.map { case (n, ok, d, ops) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d, "ops" -> ops) },
      "extras" -> ctx.extras.toMap)
    Json.write(args("out"), out)
    // the artifact is written and the run's directory is removed after
    // exit, so the JVM ends without Spark's orderly shutdown
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }
}

object Json {
  def write(path: String, v: Any): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), m.writeValueAsString(v))
  }
}

/** A fixed pure-JVM kernel (LCG fill + sort of 1M longs), median of 3
  * timings: the host's speed at the start of the run, so drift between
  * runs can be read from the artifact.
  */
object Calib {
  def run(): Double = {
    val n = 1 << 20
    val ts = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val a = new Array[Long](n)
      var x = 42L
      var i = 0
      while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; a(i) = x; i += 1 }
      java.util.Arrays.sort(a)
      if (a(n / 2) == 0L) println("")
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(1)
  }
}

object Heap {
  /** Heap in use after full collections: the least of three readings, each
    * taken after a pause that lets Spark's cleaner release what the
    * previous collection made unreachable.
    */
  def retainedMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      bean.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }
}
