package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body`, then puts the shared session's runtime `keys` back as
    * they were, so settings made inside do not leak into later specs.
    */
  def withRestoredConf[T](keys: Iterable[String])(body: => T): T = {
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {

  /** The product's session settings ([[GraftSession.builder]]), so specs
    * run with the settings fixed at session creation that mains get.
    */
  lazy val session: SparkSession = {
    val s = GraftSession.builder(shufflePartitions = 4)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
