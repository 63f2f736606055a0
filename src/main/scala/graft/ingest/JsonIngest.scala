package graft.ingest

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema-enforced JSON event parsing with dead-letter routing — the batch
  * core shared by the streaming path (SURVEY §2.2 P1-P7, §2.9 T5;
  * reference: src/consumers/spark_streaming.py:90-141).
  *
  * Works on any frame with a string payload column (Kafka `value`, file
  * lines, testdata `props`). Parse failures are split — never dropped —
  * mirroring the reference's parse-or-dead-letter contract.
  */
object JsonIngest {

  final case class ParseResult(valid: DataFrame, deadLetter: DataFrame)

  /** P1/P2: cast payload to string and parse against the fixed schema.
    * Malformed payloads are detected via the corrupt-record column (Spark's
    * PERMISSIVE mode yields an all-null struct, not a null struct, so a
    * bare IS NULL test — the reference's approach — can't see them). */
  def parse(raw: DataFrame, payloadCol: String, schema: StructType): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    raw.withColumn("raw_value", col(payloadCol).cast("string"))
      .withColumn("data", from_json(col("raw_value"), withCorrupt,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
  }

  /** P3-P7: split parsed rows into the valid flattened stream and the
    * dead-letter stream (enriched with error metadata). Both sides carry
    * ONE stamp taken when `split` is called — `ingestion_time` on valid
    * rows, `error_time` on dead-letter rows — so one micro-batch's rows
    * all share it. `clock` replaces the stamp (deterministic tests).
    *
    * Call it once per micro-batch, on the batch frame (e.g. inside
    * foreachBatch). A streaming frame is refused: its query would stamp
    * every micro-batch with the instant the query was defined, and
    * `ingestion_time` orders dedup, so those rows would silently tie.
    *
    * The stamp is a deterministic zero-argument UDF over the captured
    * instant, not `current_timestamp()`: the optimizer folds the latter
    * into a fresh literal per action and whole-stage codegen inlines it,
    * so every micro-batch compiled new classes for its bronze and
    * dead-letter writes. Generated code only references the UDF object,
    * so one compiled class serves every batch; being deterministic, it
    * leaves filter pushdown on the valid frame untouched. */
  def split(parsed: DataFrame, clock: Option[Column] = None): ParseResult = {
    require(!parsed.isStreaming, "JsonIngest.split takes one micro-batch's " +
      "frame (call it inside foreachBatch), not a streaming frame: the " +
      "stamp is taken once per call")
    val now = clock.getOrElse(stamp(java.sql.Timestamp.from(Instant.now())))
    val isDead = col("data").isNull || col("data._corrupt_record").isNotNull
    val dead = parsed.filter(isDead)
      .select(col("raw_value"),
        now.as("error_time"),
        lit("json_parse_failure").as("error_type"))
    val valid = parsed.filter(!isDead)
      .select(col("data.*"), col("raw_value"))
      .drop("_corrupt_record")
      .withColumn("event_time", col("timestamp").cast("timestamp"))
      .withColumn("ingestion_time", now)
      .drop("timestamp", "raw_value")
    ParseResult(valid, dead)
  }

  private def stamp(at: java.sql.Timestamp): Column =
    udf(() => at).asNonNullable().withName("ingest_stamp").apply()

  def parseAndSplit(raw: DataFrame, payloadCol: String, schema: StructType,
                    clock: Option[Column] = None): ParseResult =
    split(parse(raw, payloadCol, schema), clock)
}
