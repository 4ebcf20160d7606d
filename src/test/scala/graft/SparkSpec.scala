package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs: the engine's own configuration
  * ([[Session.local]]) on 4 threads, so the suite's size does not
  * depend on the machine.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(name: String): String = s"/root/testdata/$name"

  /** Run `f` with the graft optimizer rules excluded — for references
    * that must be computed WITHOUT the rewrites under test. Anything
    * lazy must be materialized inside `f`.
    */
  def withoutGraftRules[T](f: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, graft.plans.DotProductRewrite.ruleName)
    try f
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
