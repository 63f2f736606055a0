package perfbench

import java.io.File
import java.nio.file.{Files => JFiles, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.ingest.JsonIngest
import graft.model.Schemas
import graft.streaming.StreamingPipeline

/** stream_open_loop: open loop in two phases over one pipeline,
  * fileSource → foreachBatch { JsonIngest.parseAndSplit → bronze parquet
  * append by sensor_type + dead-letter JSON; mergeGoldBatch into a 5-min
  * gold table }, each micro-batch starting as soon as the previous ends.
  * Phase 1 drains a preloaded backlog (restart after downtime); phase 2
  * runs the generator process live at a fixed rate, well under capacity. */
final class StreamOpenLoop extends Workload {
  import StreamOpenLoop._

  private var in: String = _
  private var last: Run = _

  /** One pass's directories and what was observed. */
  final class Run(val dir: String) {
    val src = s"$dir/in"; val bronze = s"$dir/bronze"; val dead = s"$dir/dead_letter"
    val gold = s"$dir/gold"; val ckpt = s"$dir/checkpoint"
    val progress = mutable.ArrayBuffer.empty[(Long, Long, Long, Map[String, Long])]
    var genLog: Seq[GenFile] = Nil
  }

  final case class GenFile(file: String, dueMs: Long, publishMs: Long, lines: Long,
                           malformed: Long)

  def stage(b: Bench, dir: String): Unit =
    generate(b, "backlog", s"$dir/backlog", s"$dir/staging", s"$dir/backlog.log", 0, BacklogFiles)

  /** A staging is one short generator process; its start-up jitter
    * needs more samples for a steady median. */
  override def setupRepeats: Int = 9

  def use(dir: String): Unit = { in = dir }

  private def generate(b: Bench, mode: String, out: String, staging: String, log: String,
                       first: Int, files: Int): Unit = {
    val cmd = Seq("python3", s"${b.root}/perfbench/stream_gen.py", "--mode", mode,
      "--dir", out, "--staging", staging, "--log", log, "--seed", b.seed.toString,
      "--first", first.toString, "--files", files.toString,
      "--files-per-s", FilesPerS.toString, "--sensors", Sensors.toString)
    val p = new ProcessBuilder(cmd.asJava).inheritIO().start()
    try require(p.waitFor() == 0, s"stream generator failed: $cmd")
    finally p.destroyForcibly()
  }

  private def readLog(path: String): Seq[GenFile] = {
    val num = (line: String, k: String) => s""""$k": ?(-?\\d+)""".r
      .findFirstMatchIn(line).get.group(1).toLong
    val str = """"file": ?"([^"]+)"""".r
    JFiles.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.trim.nonEmpty).map { l =>
      GenFile(str.findFirstMatchIn(l).get.group(1), num(l, "due_ms"), num(l, "publish_ms"),
        num(l, "lines"), num(l, "malformed"))
    }
  }

  /** The backlog files, hard-linked into a fresh watched directory. */
  private def newRun(b: Bench, files: Int = BacklogFiles): Run = {
    val r = new Run(b.freshDir("stream"))
    new File(r.src).mkdirs()
    val log = readLog(s"$in/backlog.log").take(files)
    log.foreach { f =>
      JFiles.createLink(Paths.get(r.src, f.file), Paths.get(s"$in/backlog", f.file))
    }
    r.genLog = log
    r
  }

  private def start(b: Bench, r: Run, trigger: Trigger): StreamingQuery = {
    val batchFn: (DataFrame, Long) => Unit = (batch, id) =>
      b.span("streaming", "foreachBatch") {
        val res = b.span("ingest", "parseAndSplit") {
          JsonIngest.parseAndSplit(batch, "value", Schemas.sensorSchema)
        }
        b.span("warehouse", "bronzeAppend") {
          res.valid.write.mode("append").partitionBy("sensor_type").parquet(r.bronze)
        }
        b.span("ingest", "deadLetter") {
          if (!res.deadLetter.isEmpty) res.deadLetter.write.mode("append").json(r.dead)
        }
        b.span("streaming", "mergeGoldBatch") {
          b.guarded("gold_merge", "Aggregate") {
            StreamingPipeline.mergeGoldBatch(res.valid, r.gold, id, "event_time",
              Seq("sensor_id"), "value", "5 minutes")
          }
        }
      }
    StreamingPipeline.fileSource(b.spark, r.src, Some(MaxFilesPerTrigger))
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", r.ckpt)
      .foreachBatch(batchFn)
      .start()
  }

  /** Collects the progress of one query: (batchId, start ms, rows, durations). */
  private def listen(b: Bench, r: Run): StreamingQueryListener = {
    val l = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) r.progress.synchronized {
          r.progress += ((p.batchId, Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
        }
      }
    }
    b.spark.streams.addListener(l)
    l
  }

  private def endMs(p: (Long, Long, Long, Map[String, Long])): Long =
    p._2 + p._4.getOrElse("triggerExecution", 0L)

  /** Wait until every file in `files` is in a committed micro-batch whose
    * progress has been reported; returns the last such batch's progress.
    * (Progress row counts cannot be used: a foreachBatch that reads its
    * batch several times reports the input rows once per read.) */
  private def await(q: StreamingQuery, r: Run, files: Seq[GenFile], timeoutS: Int) = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    def lastBatch: Option[Long] = {
      val m = fileBatches(r)
      if (!files.forall(f => m.contains(f.file))) None
      else {
        val last = files.map(f => m(f.file)).max
        if (r.progress.synchronized(r.progress.exists(_._1 == last))) Some(last) else None
      }
    }
    var last = lastBatch
    while (last.isEmpty) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline,
        s"stream did not commit its ${files.size} files within ${timeoutS}s")
      Thread.sleep(10)
      last = lastBatch
    }
    r.progress.synchronized(r.progress.find(_._1 == last.get).get)
  }

  def warmup(b: Bench): Unit = {
    val r = newRun(b, files = 2 * MaxFilesPerTrigger)
    val q = start(b, r, Trigger.AvailableNow())
    q.awaitTermination()
  }

  /** `full`: [[Drains]] catch-up drains, each on a fresh query over the
    * backlog; the last query then runs the live phase for `seconds`. The
    * drains give the median drain time, the live phase the latencies.
    * Otherwise one drain alone. */
  def pass(b: Bench, seconds: Int, full: Boolean): Pass =
    if (full) passOf(b, Drains, Some(seconds)) else passOf(b, 1, None)

  /** One drain and the live phase, so that per-layer figures cover each
    * phase once. */
  override def tracedPass(b: Bench, seconds: Int): Pass = passOf(b, 1, Some(seconds))

  private def passOf(b: Bench, drains: Int, liveS: Option[Int]): Pass = {
    val runs = (1 to drains).map(i => drainAndLive(b, if (i == drains) liveS else None))
    Pass(runs.map(_._1), last.genLog.filter(_.file.startsWith("backlog")).map(_.lines).sum,
      if (liveS.isDefined) latencies(last) else Nil, runs.map(_._2).sum, 0)
  }

  /** Drain the backlog on a fresh query, then, given `liveS`, run the live
    * phase on the same query. Returns the drain time (query start to the
    * end of the batch that committed the last backlog file) and the
    * number of batches. */
  private def drainAndLive(b: Bench, liveS: Option[Int]): (Double, Int) = {
    val r = newRun(b)
    last = r
    val l = listen(b, r)
    var q: StreamingQuery = null
    try {
      val t0 = System.currentTimeMillis()
      q = start(b, r, Trigger.ProcessingTime(0L))
      val wall = (endMs(await(q, r, r.genLog, 120)) - t0) / 1e3
      liveS.foreach { s =>
        generate(b, "live", r.src, s"${r.dir}/staging", s"${r.dir}/live.log",
          BacklogFiles, s * FilesPerS)
        r.genLog = r.genLog ++ readLog(s"${r.dir}/live.log")
        await(q, r, r.genLog, 60)
      }
      q.stop()
      b.drain()
      (wall, r.progress.size)
    } finally {
      if (q != null) q.stop()
      b.spark.streams.removeListener(l)
    }
  }

  /** batch id of every file, from the file source's log in the checkpoint. */
  private def fileBatches(r: Run): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    val logDir = new File(s"${r.ckpt}/sources/0")
    Option(logDir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith(".")).flatMap { f =>
      JFiles.readAllLines(f.toPath).asScala.flatMap { l =>
        entry.findFirstMatchIn(l).map(m => new File(m.group(1)).getName -> m.group(2).toLong)
      }
    }.toMap
  }

  private def liveFiles(r: Run): Seq[GenFile] = r.genLog.filter(_.file.startsWith("live"))

  /** Per live event: end of the micro-batch that committed it minus the
    * time its file was due (weighted by the file's valid lines). */
  private def latencies(r: Run): Seq[(Double, Long)] = {
    val batchOf = fileBatches(r)
    val ends = r.progress.map(p => p._1 -> endMs(p)).toMap
    liveFiles(r).map { f => ((ends(batchOf(f.file)) - f.dueMs).toDouble, f.lines - f.malformed) }
  }

  def checks(b: Bench): Seq[Check] = {
    val spark = b.spark
    val r = last
    val lines = r.genLog.map(_.lines).sum
    val planted = r.genLog.map(_.malformed).sum
    val bronze = spark.read.parquet(r.bronze)
    val nBronze = bronze.count()
    val nDead = if (new File(r.dead).exists) spark.read.json(r.dead).count() else 0L
    val recompute = bronze
      .groupBy(window(col("event_time"), "5 minutes").getField("start").as("window_start"), col("sensor_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"), min("value").as("min_v"),
        max("value").as("max_v"))
    val gold = spark.read.parquet(s"${r.gold}/data")
    val diff = gold.as("g").join(recompute.as("r"), Seq("window_start", "sensor_id"), "full_outer")
      .filter(col("g.n").isNull || col("r.n").isNull || col("g.n") =!= col("r.n") ||
        abs(col("g.sum_v") - col("r.sum_v")) > lit(1e-6) * greatest(lit(1.0), abs(col("r.sum_v"))) ||
        col("g.min_v") =!= col("r.min_v") || col("g.max_v") =!= col("r.max_v"))
      .count()
    val nGold = gold.count()
    val lateP95 = genLateP95(r)
    Seq(
      Check("lines_eq_bronze_plus_dead", nBronze + nDead == lines,
        s"$nBronze bronze + $nDead dead-letter of $lines lines"),
      Check("dead_letter_eq_planted", nDead == planted, s"$nDead dead-letter, $planted planted"),
      Check("gold_eq_recompute", diff == 0 && nGold > 0,
        s"$diff of $nGold gold rows differ from a batch recompute over bronze"),
      Check("generator_on_schedule", lateP95 <= MaxLateMs,
        f"generator p95 lateness $lateP95%.0f ms (bound $MaxLateMs ms)"))
  }

  private def genLateP95(r: Run): Double = {
    val late = liveFiles(r).map(f => ((f.publishMs - f.dueMs).toDouble, 1L))
    if (late.isEmpty) 0.0 else Stats.percentile(late, 0.95)
  }

  def layerMetrics(b: Bench): Map[String, Double] = {
    val spark = b.spark
    val r = last
    val nBronze = spark.read.parquet(r.bronze).count()
    val nDead = if (new File(r.dead).exists) spark.read.json(r.dead).count() else 0L
    val prog = r.progress.toSeq.sortBy(_._1)
    val live = liveFiles(r)
    val batchOf = fileBatches(r)
    val startOf = prog.map(p => p._1 -> p._2).toMap
    val liveBatches = live.map(f => batchOf(f.file)).toSet
    val liveProg = prog.filter(p => liveBatches.contains(p._1))
    def med(k: String) = Stats.median(liveProg.map(_._4.getOrElse(k, 0L).toDouble))
    val trig = prog.map(p => (p._4.getOrElse("triggerExecution", 0L).toDouble, 1L))
    val backlog = liveProg.map { p =>
      live.count(f => f.publishMs <= p._2 && batchOf(f.file) >= p._1)
    }
    val merges = b.spanDurations("mergeGoldBatch").map(s => (s * 1000, 1L))
    val (files, bytes) = Files.parquetStats(r.bronze)
    Map(
      "gen.rows_offered" -> r.genLog.map(_.lines).sum.toDouble,
      "gen.late_p95_ms" -> genLateP95(r),
      "gen.malformed_planted" -> r.genLog.map(_.malformed).sum.toDouble,
      "ingest.rows_valid" -> nBronze.toDouble,
      "ingest.rows_dead_letter" -> nDead.toDouble,
      "ingest.valid_ratio" -> nBronze.toDouble / (nBronze + nDead),
      "streaming.batches" -> prog.size.toDouble,
      "streaming.batch_ms_p50" -> Stats.percentile(trig, 0.5),
      "streaming.batch_ms_p95" -> Stats.percentile(trig, 0.95),
      "streaming.queue_wait_ms_p50" -> Stats.percentile(
        live.map(f => ((startOf(batchOf(f.file)) - f.dueMs).toDouble, f.lines - f.malformed)), 0.5),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.gold_merge_ms_p50" -> Stats.percentile(merges, 0.5),
      "streaming.gold_merge_ms_p95" -> Stats.percentile(merges, 0.95),
      "streaming.gold_state_rows" -> spark.read.parquet(s"${r.gold}/data").count().toDouble,
      "streaming.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "warehouse.files_written" -> files.toDouble,
      "warehouse.bytes_written_mb" -> bytes / 1048576.0,
      "warehouse.bytes_per_row" -> bytes.toDouble / nBronze)
  }
}

object StreamOpenLoop {
  /** One reading per sensor per file; a file is one simulated minute. */
  val Sensors = 100
  /** Offered rate of the live phase: 5 files/s x 100 lines = 500 events/s. */
  val FilesPerS = 5
  /** 16 s of downtime at the live rate. */
  val BacklogFiles = 80
  val MaxFilesPerTrigger = 20
  /** Catch-up drains in a full pass; their median is the drain time. */
  val Drains = 3
  /** A run whose generator published its p95 file later than this is invalid. */
  val MaxLateMs = 500.0
}
