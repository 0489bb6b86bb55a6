package graft

import org.apache.spark.sql.{GraftCodegenBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (forked test JVM). It sizes
  * the JVM-wide codegen cache through the program's own hook, so every
  * suite runs under the bound the program runs under, whichever suite
  * happens to compile first.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    GraftCodegenBridge.sizeCodegenCache()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` with the given SQL confs set, restoring priors after. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val priors = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally priors.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
