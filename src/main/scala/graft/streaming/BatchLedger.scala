package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/** The set of micro-batch ids already merged into a state store, kept as
  * sorted, disjoint, non-adjacent closed ranges. Spark batch ids grow by
  * one per trigger, so a long-lived store's ledger stays a single range
  * ("0..3599") however many batches it has merged.
  *
  * On disk it is ONE file, `_merged/ledger`, inside the store's data dir
  * (underscore-prefixed, so parquet readers skip it). */
private[graft] final case class BatchLedger(ranges: Vector[(Long, Long)]) {

  def contains(id: Long): Boolean =
    ranges.exists { case (lo, hi) => lo <= id && id <= hi }

  def +(id: Long): BatchLedger =
    if (contains(id)) this
    else BatchLedger(BatchLedger.coalesce(ranges :+ (id -> id)))

  /** "a..b" per range, "a" for a single id, comma-separated. */
  def encode: String = ranges.map { case (lo, hi) =>
    if (lo == hi) lo.toString else s"$lo..$hi"
  }.mkString(",")

  /** Write this ledger into `dataDir`, replacing any ledger there. */
  def save(fs: FileSystem, dataDir: Path): Unit = {
    val out = fs.create(BatchLedger.file(dataDir), true)
    try out.write(encode.getBytes(UTF_8)) finally out.close()
  }
}

private[graft] object BatchLedger {

  private val Dir = "_merged"
  private val FileName = "ledger"

  val empty: BatchLedger = BatchLedger(Vector.empty)

  def decode(s: String): BatchLedger = BatchLedger(coalesce(
    s.split(',').iterator.map(_.trim).filter(_.nonEmpty).map { r =>
      r.split("\\.\\.") match {
        case Array(id)     => id.toLong -> id.toLong
        case Array(lo, hi) => lo.toLong -> hi.toLong
        case _ => throw new IllegalStateException(
          s"batch ledger: unreadable range '$r'")
      }
    }.toVector))

  private def file(dataDir: Path): Path =
    new Path(new Path(dataDir, Dir), FileName)

  /** The ledger stored in `dataDir`: one small read, whatever the number
    * of merged batches, and [[empty]] for a new store. A data dir that
    * holds parquet files but no ledger was written by hand or by a build
    * that kept no ledger; an empty ledger would re-merge every replayed
    * batch into it, so it fails loudly instead. */
  def load(fs: FileSystem, dataDir: Path): BatchLedger =
    try {
      val in = fs.open(file(dataDir))
      try decode(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException =>
      val unledgered = fs.exists(dataDir) && fs.listStatus(dataDir)
        .exists(_.getPath.getName.endsWith(".parquet"))
      if (unledgered) throw new IllegalStateException(
        s"state store ${dataDir.getParent}: $dataDir holds parquet files " +
          s"but no batch ledger ($Dir/$FileName), so which batches it " +
          "already merged is unknown; rebuild the store")
      empty
    }

  private def coalesce(rs: Vector[(Long, Long)]): Vector[(Long, Long)] =
    rs.sortBy(_._1).foldLeft(Vector.empty[(Long, Long)]) {
      case (done :+ ((lo, hi)), (a, b)) if a <= hi || a - 1 == hi =>
        done :+ (lo -> math.max(hi, b))
      case (done, r) => done :+ r
    }
}
