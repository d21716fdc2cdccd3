package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one forked test JVM). */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val ref: String = "/root/reference"

  /** Path of `rel` under the reference checkout, the only way specs read
    * it. Fails the calling test with "reference fixture absent: <path>"
    * when the file is missing, instead of a Spark path error deep in a
    * plan; there is no fallback data. */
  def refFile(rel: String): String = {
    val path = s"$ref/$rel"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      fail(s"reference fixture absent: $path")
    path
  }

  /** Runs `body` with whole-stage codegen off and expressions evaluated
    * interpreted (`NO_CODEGEN`), restoring the session's settings after. */
  def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Filesystem path of a test resource under `src/test/resources`. */
  def fixture(rel: String): String =
    java.nio.file.Paths.get(getClass.getResource(s"/$rel").toURI).toString
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
