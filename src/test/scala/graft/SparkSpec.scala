package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork), on
  * the bench's session confs so plan pins hold for what the bench runs. */
object TestSpark {
  val cores = 4

  lazy val spark: SparkSession =
    graft.Session.builder("graft-test", cores = cores).getOrCreate()

  graft.functions.Native.register(spark)

  def scratch(name: String): String = {
    val dir = s"/root/repo/target/testtmp/$name-${System.nanoTime()}"
    new java.io.File(dir).getParentFile.mkdirs()
    dir
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
