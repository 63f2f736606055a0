package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.Formats

/** Batch format round trips (S-family completeness): every supported
  * format must carry the same rows back, row formats must demand a schema,
  * and partitioned layouts must prune. */
class FormatsSpec extends SparkTestBase {
  import spark.implicits._

  private def sample = model.Tables.events(spark, "/root/testdata/sf0.001")
    .select("event_id", "user_id", "event_type", "value")
    .limit(200)

  test("parquet/orc/json/csv round-trip the same rows") {
    val in = sample
    val schema = in.schema
    val expected = in.as[(Long, Long, String, Double)].collect().toSet
    Formats.supported.foreach { fmt =>
      val dir = tempRoot(s"graft-fmt-$fmt")
      Formats.write(in, dir, fmt)
      val back = Formats.read(spark, dir, fmt, Some(schema))
        .as[(Long, Long, String, Double)].collect().toSet
      assert(back === expected, s"round trip mismatch for $fmt")
    }
  }

  test("row-format reads without a schema are rejected") {
    val dir = tempRoot("graft-fmt-noschema")
    Formats.write(sample, dir, "csv")
    intercept[IllegalArgumentException] {
      Formats.read(spark, dir, "csv", None)
    }
  }

  test("schema evolution: mergeSchema unions old and new file schemas") {
    import spark.implicits._
    val dir = tempRoot("graft-fmt-evolve")
    // generation 1: (event_id, value); generation 2 adds quality_flag
    Seq((1L, 10.0), (2L, 20.0)).toDF("event_id", "value")
      .write.parquet(s"$dir/gen=1")
    Seq((3L, 30.0, "ok")).toDF("event_id", "value", "quality_flag")
      .write.parquet(s"$dir/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("event_id", "value", "quality_flag", "gen"))
    // old-generation rows surface the new column as null, not an error
    assert(merged.filter(col("quality_flag").isNull).count() === 2)
    assert(merged.count() === 3)
  }

  test("corrupt files are skipped under ignoreCorruptFiles, fatal without") {
    import spark.implicits._
    val dir = tempRoot("graft-fmt-corrupt") + "/data"
    Seq((1L, 10.0), (2L, 20.0)).toDF("event_id", "value")
      .write.parquet(dir)
    // drop a non-parquet file into the table directory
    Files.writeString(java.nio.file.Path.of(dir, "part-corrupt.parquet"),
      "this is not parquet")
    val schema = "event_id LONG, value DOUBLE"
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).parquet(dir).count()
    }
    val tolerant = spark.read
      .option("ignoreCorruptFiles", "true")
      .schema(schema).parquet(dir)
    assert(tolerant.count() === 2)
  }

  test("partitionBy layout prunes partitions at the scan") {
    val dir = tempRoot("graft-fmt-part")
    Formats.write(sample, dir, "parquet", partitionBy = Seq("event_type"))
    val scan = Formats.read(spark, dir, "parquet")
      .filter(col("event_type") === "click")
    val p = scan.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition filter at the scan:\n$p")
    val full = sample.filter(col("event_type") === "click").count()
    assert(scan.count() === full)
  }
}
