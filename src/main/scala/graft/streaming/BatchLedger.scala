package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.DirSwap

/** The set of micro-batch ids already merged into a store — its commit
  * log — kept as sorted, disjoint, non-adjacent closed ranges. Spark batch
  * ids grow by one per trigger, so a long-lived store's ledger stays a
  * single range ("0..3599") however many batches it has merged.
  *
  * On disk it is ONE file, `_merged/ledger`, inside the store's data dir
  * (underscore-prefixed, so parquet readers skip it). A state store
  * stages it with each generation ([[save]]); an index-backed ingest,
  * whose data dir grows in place, replaces it with [[commit]]. */
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

  /** Write this ledger into a staged data dir the caller swaps in. */
  def save(fs: FileSystem, dataDir: Path): Unit =
    write(fs, new Path(dataDir, BatchLedger.Dir))

  /** Replace the ledger of the live data dir `dataDir` by staging a new
    * `_merged` beside the old one and swapping it in. */
  def commit(fs: FileSystem, dataDir: Path): Unit = {
    val staged = new Path(dataDir, BatchLedger.StageDir)
    write(fs, staged)
    DirSwap.swapIn(fs, staged, new Path(dataDir, BatchLedger.Dir),
      new Path(dataDir, BatchLedger.AsideDir))
  }

  private def write(fs: FileSystem, dir: Path): Unit = {
    val out = fs.create(new Path(dir, BatchLedger.FileName), true)
    try out.write(encode.getBytes(UTF_8)) finally out.close()
  }
}

private[graft] object BatchLedger {

  private val Dir = "_merged"
  private val StageDir = "_merged_stage"
  private val AsideDir = "_premerged"
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

  /** The ledger stored in `dataDir`: one small read, and [[empty]] for a
    * new store. A missing file first restores a [[commit]] that crashed
    * after its move-aside. A data dir with any visible entry (parquet
    * files, `batch_id=` partitions) but no ledger was written by hand or
    * by a build that kept none; an empty ledger would re-merge every
    * replayed batch into it, so it fails loudly instead. */
  def load(fs: FileSystem, dataDir: Path): BatchLedger = {
    val dir = new Path(dataDir, Dir)
    def read(): BatchLedger = {
      val in = fs.open(new Path(dir, FileName))
      try decode(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
    try read() catch { case _: FileNotFoundException =>
      if (DirSwap.restore(fs, dir, new Path(dataDir, AsideDir))) read()
      else {
        val unledgered = fs.exists(dataDir) && fs.listStatus(dataDir)
          .exists { s => val n = s.getPath.getName
            !n.startsWith("_") && !n.startsWith(".") }
        if (unledgered) throw new IllegalStateException(
          s"store ${dataDir.getParent}: $dataDir holds data but no batch " +
            s"ledger ($Dir/$FileName), so which batches it already merged " +
            "is unknown; rebuild the store")
        empty
      }
    }
  }

  private def coalesce(rs: Vector[(Long, Long)]): Vector[(Long, Long)] =
    rs.sortBy(_._1).foldLeft(Vector.empty[(Long, Long)]) {
      case (done :+ ((lo, hi)), (a, b)) if a <= hi || a - 1 == hi =>
        done :+ (lo -> math.max(hi, b))
      case (done, r) => done :+ r
    }
}
