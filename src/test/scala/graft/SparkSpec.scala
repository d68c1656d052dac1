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
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.localFileSystem)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
