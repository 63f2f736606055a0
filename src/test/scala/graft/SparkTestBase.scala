package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
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

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Deletes a test's temp directory tree. */
  def deleteTree(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists)
  }

  /** Every temp root the running test created; deleted after it. */
  private val roots = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A fresh temp directory that is deleted when the current test ends. */
  def tempRoot(prefix: String): String = {
    val r = java.nio.file.Files.createTempDirectory(prefix)
    roots += r
    r.toString
  }

  override def afterEach(): Unit =
    try { roots.foreach(deleteTree); roots.clear() }
    finally super.afterEach()
}
