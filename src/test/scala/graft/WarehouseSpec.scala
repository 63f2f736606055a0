package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.warehouse.{Versioned, Warehouse}

/** Star-schema warehouse operators: calendar seed, dim upsert, idempotent
  * partition load. */
class WarehouseSpec extends SparkTestBase {
  import spark.implicits._

  test("versioned publish: atomic flip, time travel, rollback, crash-window heal, vacuum") {
    import org.apache.hadoop.fs.Path
    val root = tempRoot("graft-ver")
    val v1 = Versioned.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    val v2 = Versioned.publish(Seq((1L, "a2"), (3L, "c")).toDF("k", "v"), root)
    assert((v1, v2) === ((1L, 2L)))
    assert(Versioned.versions(spark, root) === Seq(1L, 2L))
    // readers see exactly the current generation; time travel sees v1
    assert(Versioned.read(spark, root).select("k").as[Long].collect().toSet
      === Set(1L, 3L))
    assert(Versioned.readVersion(spark, root, 1L)
      .select("k").as[Long].collect().toSet === Set(1L, 2L))
    // rollback is a pointer rewrite — data never moves
    Versioned.rollback(spark, root, 1L)
    assert(Versioned.read(spark, root).select("k").as[Long].collect().toSet
      === Set(1L, 2L))
    // crash window: tmp written, old pointer deleted, rename never ran —
    // the next resolve()/read() completes the interrupted flip
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(s"$root/_current.tmp"), true)
    out.write("2".getBytes("UTF-8")); out.close()
    fs.delete(new Path(s"$root/_current"), false)
    assert(Versioned.resolve(spark, root) === Some(2L))
    assert(Versioned.read(spark, root).select("k").as[Long].collect().toSet
      === Set(1L, 3L))
    // vacuum keeps the newest `keep` and never the current target
    Versioned.rollback(spark, root, 1L)
    Versioned.publish(Seq((9L, "z")).toDF("k", "v"), root) // v3
    Versioned.vacuum(spark, root, keep = 1)
    assert(Versioned.versions(spark, root) === Seq(3L))
    assert(Versioned.read(spark, root).select("k").as[Long].collect().toSet
      === Set(9L))
  }

  test("versioned flip: a reader's heal racing the writer's own rename is success for both") {
    import org.apache.hadoop.fs.Path
    val root = tempRoot("graft-ver-race")
    Versioned.publish(Seq((1L, "a")).toDF("k", "v"), root)
    Versioned.publish(Seq((2L, "b")).toDF("k", "v"), root)
    // interleave: the writer flips to gen=1 and, in the window between
    // retiring the old pointer and its own tmp→pointer rename, a reader
    // resolves — sees (no pointer, tmp present) and heals by completing
    // the flip itself. The writer's rename then returns false; with the
    // race fix neither side throws and the pointer lands on gen=1.
    var readerSaw: Option[Long] = None
    Versioned.setPointer(spark, root, 1L, onBeforeFlip = () => {
      readerSaw = Versioned.resolve(spark, root)
    })
    assert(readerSaw === Some(1L)) // the reader healed and read OUR flip
    assert(Versioned.resolve(spark, root) === Some(1L))
    assert(Versioned.read(spark, root).select("k").as[Long].collect().toSet
      === Set(1L))
    // two concurrent readers racing the SAME interrupted flip: simulate
    // the loser — pointer already healed, tmp gone, rename would fail —
    // by just resolving twice; both observe the healed pointer
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(s"$root/_current.tmp"), true)
    out.write("2".getBytes("UTF-8")); out.close()
    fs.delete(new Path(s"$root/_current"), false)
    assert(Versioned.resolve(spark, root) === Some(2L))
    assert(Versioned.resolve(spark, root) === Some(2L))
    // a flip that genuinely failed (pointer absent, rename impossible)
    // still throws: stale tmp pointing nowhere with no healer
    fs.delete(new Path(s"$root/_current"), false)
    assert(fs.exists(new Path(s"$root/_current")) === false)
    // resolve with neither pointer nor tmp → empty table, not an error
    assert(Versioned.resolve(spark, root) === None)
  }

  test("L3 dim_time: dense keys, correct fields, weekend flags") {
    val dt = Warehouse.dimTime(spark, "2024-01-01 00:00:00", 48)
    assert(dt.count() === 48)
    val first = dt.orderBy("time_key").head()
    assert(first.getAs[Long]("time_key") === 1L)
    assert(first.getAs[Int]("hour") === 0)
    assert(first.getAs[Int]("year") === 2024)
    // 2024-01-06/07 are Sat/Sun
    val weekend = Warehouse.dimTime(spark, "2024-01-06 00:00:00", 24)
    assert(weekend.filter(!$"is_weekend").count() === 0)
  }

  test("J1/L2 upsert: staging wins updates, dim keeps first_seen, greatest merges last_seen") {
    val dim = Seq(
      ("s1", "temperature", Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-01-10 00:00:00")),
      ("s2", "humidity", Timestamp.valueOf("2024-01-02 00:00:00"), Timestamp.valueOf("2024-01-11 00:00:00"))
    ).toDF("sensor_id", "sensor_type", "first_seen", "last_seen")
    val staging = Seq(
      ("s2", "pressure", Timestamp.valueOf("2024-01-05 00:00:00"), Timestamp.valueOf("2024-01-20 00:00:00")),
      ("s3", "vibration", Timestamp.valueOf("2024-01-15 00:00:00"), Timestamp.valueOf("2024-01-16 00:00:00"))
    ).toDF("sensor_id", "sensor_type", "first_seen", "last_seen")
    val out = Warehouse.upsertDim(dim, staging, "sensor_id",
      stagingWins = Seq("sensor_type"), dimWins = Seq("first_seen"),
      maxMergeCols = Seq("last_seen"))
    assert(out.count() === 3)
    val s2 = out.filter($"sensor_id" === "s2").head()
    assert(s2.getAs[String]("sensor_type") === "pressure") // staging update
    assert(s2.getAs[Timestamp]("first_seen") === Timestamp.valueOf("2024-01-02 00:00:00")) // dim kept
    assert(s2.getAs[Timestamp]("last_seen") === Timestamp.valueOf("2024-01-20 00:00:00")) // greatest
    val s1 = out.filter($"sensor_id" === "s1").head()
    assert(s1.getAs[String]("sensor_type") === "temperature") // untouched survives
  }

  test("bucketed co-located join runs with zero exchanges") {
    val left = (1 to 1000).map(i => (i.toLong % 50, i)).toDF("key", "v")
    val right = (1 to 500).map(i => (i.toLong % 50, s"n$i")).toDF("key", "name")
    Warehouse.writeBucketed(left, "bkt_left", "key", 8)
    Warehouse.writeBucketed(right, "bkt_right", "key", 8)
    // force the non-broadcast path so bucketing (not broadcast) is what
    // eliminates the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Warehouse.bucketedJoin(spark, "bkt_left", "bkt_right", "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() === 10000) // 1000 x 500 / 50 keys matched
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("observe() yields stage metrics from the single materializing action") {
    val (df, obs) = Pipeline.silverObserved(spark, "/root/testdata/sf0.001")
    val n = df.count() // ONE action
    val row = obs.get
    assert(row("rows") === n)
    assert(row("anomalies").asInstanceOf[Long] >= 0L)
  }

  test("L1 idempotent load replaces only the partitions present in the batch") {
    val path = tempRoot("graft-warehouse") + "/fact"
    val batch1 = Seq(("A", 1), ("A", 2), ("B", 10)).toDF("part", "v")
    Warehouse.idempotentPartitionLoad(batch1, path, Seq("part"))
    val batch2 = Seq(("B", 99)).toDF("part", "v") // re-run window for B only
    Warehouse.idempotentPartitionLoad(batch2, path, Seq("part"))
    val out = spark.read.parquet(path)
    assert(out.filter($"part" === "A").count() === 2) // untouched
    val bVals = out.filter($"part" === "B").select("v").as[Int].collect().toSeq
    assert(bVals === Seq(99)) // replaced, not appended
  }

  test("L1 JDBC variant: delete-window + append round trip matches parquet-native load") {
    // in-process Derby stands in for the warehouse endpoint — same
    // delete-window + distributed-append contract as a Redshift/Postgres URL
    val dbDir = tempRoot("graft-derby")
    val url = s"jdbc:derby:$dbDir/wh;create=true"
    def ts(s: String) = Timestamp.valueOf(s)
    val w0 = ts("2024-01-01 00:00:00"); val w1 = ts("2024-01-02 00:00:00")
    val batch = Seq(
      ("e1", ts("2024-01-01 01:00:00"), 1.5),
      ("e2", ts("2024-01-01 02:00:00"), 2.5),
      ("e3", ts("2024-01-02 05:00:00"), 9.9) // outside window: must not load
    ).toDF("event_id", "ts", "value")
    Warehouse.idempotentJdbcLoad(batch, url, "fact_events", "ts", w0, w1,
      numPartitions = 2)
    // re-run the SAME batch: the delete window clears the first attempt
    Warehouse.idempotentJdbcLoad(batch, url, "fact_events", "ts", w0, w1,
      numPartitions = 2)
    val back = Warehouse.readJdbc(spark, url, "fact_events")
    assert(back.count() === 2) // idempotent, window-scoped
    // matches the parquet-native loader on the same batch/window
    val path = tempRoot("graft-wh-pq") + "/fact"
    Warehouse.idempotentPartitionLoad(
      batch.filter($"ts" >= w0 && $"ts" < w1).withColumn("d", to_date($"ts")),
      path, Seq("d"))
    val pq = spark.read.parquet(path)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("event_id", "value").as[(String, Double)].collect().toSet
    assert(key(back) === key(pq))
    // a later batch for a DIFFERENT window appends without touching this one
    val batch2 = Seq(("e4", ts("2024-01-02 03:00:00"), 4.0))
      .toDF("event_id", "ts", "value")
    Warehouse.idempotentJdbcLoad(batch2, url, "fact_events", "ts",
      w1, ts("2024-01-03 00:00:00"), numPartitions = 1)
    assert(Warehouse.readJdbc(spark, url, "fact_events").count() === 3)
  }

  test("L1 JDBC variant: a crash mid-append repairs to exactly-once on re-run") {
    // Spark's JDBC writes commit per partition-connection with no global
    // transaction, so a mid-load failure leaves a PARTIAL window — the
    // delete-window contract must absorb it. Inject the crash with
    // raise_error on one row so one executor connection dies mid-write
    // while others may have already committed.
    val dbDir = tempRoot("graft-derby-fi")
    val url = s"jdbc:derby:$dbDir/wh;create=true"
    def ts(s: String) = Timestamp.valueOf(s)
    val w0 = ts("2024-01-01 00:00:00"); val w1 = ts("2024-01-02 00:00:00")
    val batch = Seq(
      ("e1", ts("2024-01-01 01:00:00"), 1.5),
      ("e2", ts("2024-01-01 02:00:00"), 2.5),
      ("e3", ts("2024-01-01 03:00:00"), 3.5),
      ("e4", ts("2024-01-01 04:00:00"), 4.5)
    ).toDF("event_id", "ts", "value").repartition(2, col("event_id"))

    val poisoned = batch.withColumn("value",
      when(col("event_id") === "e2", raise_error(lit("injected crash"))
        .cast("double")).otherwise(col("value")))
    intercept[Exception] {
      Warehouse.idempotentJdbcLoad(poisoned, url, "fact_crash", "ts", w0, w1,
        numPartitions = 2)
    }
    // the table exists in a partial state: anywhere from 0 rows (both
    // partitions died first) to 3 (the poison-free partition committed)
    val partial = Warehouse.readJdbc(spark, url, "fact_crash").count()
    assert(partial >= 0 && partial < 4)

    // operator contract: the repair is simply re-running the same load
    Warehouse.idempotentJdbcLoad(batch, url, "fact_crash", "ts", w0, w1,
      numPartitions = 2)
    val back = Warehouse.readJdbc(spark, url, "fact_crash")
    assert(back.count() === 4, "no loss, and no dup of partially-committed rows")
    assert(back.select("event_id").distinct().count() === 4)
    // value-level equality with the parquet-native loader on the same batch
    val path = tempRoot("graft-wh-fi-pq") + "/fact"
    Warehouse.idempotentPartitionLoad(
      batch.withColumn("d", to_date($"ts")), path, Seq("d"))
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("event_id", "value").as[(String, Double)].collect().toSet
    assert(key(back) === key(spark.read.parquet(path)))
  }

  test("compaction collapses a many-file table preserving every row") {
    val path = tempRoot("graft-compact") + "/t"
    // simulate streaming-ingest fragmentation: 12 tiny appends
    (1 to 12).foreach { i =>
      Seq((i, s"p${i % 2}")).toDF("v", "part")
        .write.mode("append").partitionBy("part").parquet(path)
    }
    val beforeRows = spark.read.parquet(path).select("v").as[Int].collect().toSet
    val (before, after) = Warehouse.compact(spark, path, targetRowsPerFile = 100,
      partitionBy = Seq("part"))
    assert(before >= 12)
    assert(after < before)
    val afterDf = spark.read.parquet(path)
    assert(afterDf.select("v").as[Int].collect().toSet === beforeRows)
    assert(afterDf.select("part").distinct().count() === 2) // layout preserved
  }

  test("compaction heals a table stranded aside by a crash before its promote") {
    val path = tempRoot("graft-compact-heal") + "/t"
    (1 to 4).foreach { i =>
      Seq((i, s"p${i % 2}")).toDF("v", "part")
        .write.mode("append").partitionBy("part").parquet(path)
    }
    // a compaction that crashed after moving the table aside left it
    // only at <path>_precompact
    val stranded = new java.io.File(path + "_precompact")
    assert(new java.io.File(path).renameTo(stranded))
    Warehouse.compact(spark, path, targetRowsPerFile = 100,
      partitionBy = Seq("part"))
    assert(spark.read.parquet(path).select("v").as[Int].collect().toSet ===
      (1 to 4).toSet)
    assert(!stranded.exists())
  }

  test("tableDiff: added/removed/changed with null-safe compares, identical rows dropped") {
    val cur = Seq(
      (1L, Option("a"), Option(10)),  // identical → dropped
      (2L, Option("b"), Option(20)),  // value change
      (3L, None: Option[String], Option(30)), // null → value on name
      (4L, Option("d"), None: Option[Int]),   // value → null on score
      (5L, Option("e"), Option(50))   // added (not in snapshot)
    ).toDF("k", "name", "score")
    val snap = Seq(
      (1L, Option("a"), Option(10)),
      (2L, Option("B"), Option(20)),
      (3L, Option("c"), Option(30)),
      (4L, Option("d"), Option(40)),
      (6L, Option("f"), Option(60))   // removed (not in current)
    ).toDF("k", "name", "score")
    val out = Warehouse.tableDiff(cur, snap, "k", Seq("name", "score"))
      .as[(Long, String)].collect().toMap
    assert(out === Map(2L -> "changed", 3L -> "changed", 4L -> "changed",
      5L -> "added", 6L -> "removed"))
    intercept[IllegalArgumentException] {
      Warehouse.tableDiff(cur, snap, "k", Seq.empty)
    }
  }
}
