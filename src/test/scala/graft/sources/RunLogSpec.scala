package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

class RunLogSpec extends SparkSpec {

  test("observedWrite: a fatal write failure propagates unwrapped and logs no row") {
    import spark.implicits._
    val path = Files.createTempDirectory("runlog_fatal").toString + "/run_log"
    val ts = Timestamp.valueOf("2025-05-01 00:00:00")
    val df = Seq(1L, 2L).toDF("x")
    // the caller pattern of every logged lifecycle: append the failed
    // entry a LoggedFailure carries, then rethrow its cause
    def logged(write: DataFrame => Unit): RunLog.Entry =
      try RunLog.observedWrite(df, ts, "p", "s")(write)
      catch {
        case f: RunLog.LoggedFailure =>
          RunLog.append(spark, path, Seq(f.entry))
          throw f.cause
      }
    intercept[InterruptedException] {
      RunLog.observedWrite(df, ts, "p", "s")(_ => throw new InterruptedException("stop"))
    }
    intercept[InterruptedException] {
      logged(_ => throw new InterruptedException("stop"))
    }
    assert(!Files.exists(Paths.get(path)), "a fatal failure must not submit a log append")

    // an ordinary failure is logged: failed, rows -1, the error named
    intercept[IllegalStateException] {
      logged(_ => throw new IllegalStateException("boom"))
    }
    val row = RunLog.read(spark, path).collect().toSeq
    assert(row.map(r => (r.getAs[String]("status"), r.getAs[Long]("rows"))) ===
      Seq(("failed", -1L)))
    assert(row.head.getAs[String]("error").contains("boom"))
    // a clean write carries the count observed on the write action
    assert(logged(_.write.format("noop").mode("overwrite").save()).rows === 2L)
  }
}
