package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev profiler (guide §1) and the one dev timing loop: runs named queries
  * through the noop sink with a listener that counts jobs, stages, tasks
  * and summed task time, so "many tiny sequential jobs" is
  * distinguishable from "one expensive stage".
  * Usage: sbt "runMain graft.tools.ProfJobs <query> [<query> ...]"
  */
object ProfJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local()
    run(spark, sfDir, args.toSeq)
    spark.stop()
  }

  /** Per query: a cold pass to warm codegen/JIT, drop persisted blocks,
    * then one timed pass. Prints one `[prof]` line per query (prefixed by
    * `tag` when given) and a `[prof-job]` line for each of its jobs that
    * took at least 50 ms. A query that throws prints a `[prof] FAIL` line
    * and the loop goes on.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      tag: String = ""): Unit = {
    // the timed pass runs under a job-local property; only jobs carrying
    // it (and their stages and tasks) are counted, so late events of the
    // warm pass never leak into the numbers
    val timedKey = "graft.prof.timed"
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    @volatile var jobWallMs = 0L
    val timedStages = scala.collection.concurrent.TrieMap.empty[Int, Unit]
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(timedKey) != null) {
          jobs += 1
          j.stageIds.foreach(timedStages.put(_, ()))
          val site = j.stageInfos.map(si => s"${si.stageId}:${si.name.takeWhile(_ != '\n').take(60)}")
            .mkString(" | ")
          starts(j.jobId) = (j.time, site)
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, site) =>
          val dt = j.time - t0
          jobWallMs += dt
          if (dt >= 50) jobLines.add(f"[prof-job] #${j.jobId}%4d ${dt / 1e3}%6.2fs  $site")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (timedStages.contains(s.stageInfo.stageId)) stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (timedStages.contains(t.stageId)) {
          tasks += 1
          if (t.taskInfo != null) taskMs += t.taskInfo.duration
        }
    }
    val prefix = if (tag.isEmpty) "[prof]" else s"[prof] $tag"
    spark.sparkContext.addSparkListener(listener)
    try names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def noop(): Unit = fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      try {
        noop()
        graft.Session.dropPersisted(spark)
        jobs = 0; stages = 0; tasks = 0; taskMs = 0L; jobWallMs = 0L
        timedStages.clear(); jobLines.clear()
        spark.sparkContext.setLocalProperty(timedKey, name)
        val t0 = System.nanoTime()
        try noop() finally spark.sparkContext.setLocalProperty(timedKey, null)
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events drain async; give them a beat
        Thread.sleep(300)
        jobLines.forEach(l => println(l))
        println(f"$prefix $name%-28s wall=$wall%6.2fs jobs=$jobs%3d stages=$stages%4d tasks=$tasks%5d taskTime=${taskMs / 1e3}%7.1fs jobWall=${jobWallMs / 1e3}%6.2fs")
      } catch { case e: Throwable =>
        println(s"$prefix FAIL $name: ${String.valueOf(e.getMessage).take(200)}")
      } finally graft.Session.dropPersisted(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
