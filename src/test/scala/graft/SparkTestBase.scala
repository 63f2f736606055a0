package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (one JVM under Test/fork). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse-test").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Deletes a test's temp directory tree. */
  def deleteTree(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists)
  }
}
