package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The set of micro-batch ids already merged into a state store, kept as
  * sorted, disjoint, non-adjacent closed ranges. Spark batch ids grow by
  * one per trigger, so a long-lived store's ledger stays a single range
  * ("0..3599") however many batches it has merged.
  *
  * On disk it is ONE file, `_merged/ledger`, inside the store's data dir
  * (underscore-prefixed, so parquet readers skip it). Older stores kept
  * one empty marker file per merged batch (`_merged/<id>`); [[load]]
  * still reads those, and the next merge folds them into the ledger.
  *
  * `stored` is true when [[load]] found a ledger file, i.e. the store was
  * written by a build that keeps one — false for a new store or one still
  * in the legacy marker layout. */
private[graft] final case class BatchLedger(ranges: Vector[(Long, Long)],
                                            stored: Boolean = false) {

  def contains(id: Long): Boolean =
    ranges.exists { case (lo, hi) => lo <= id && id <= hi }

  def +(id: Long): BatchLedger =
    if (contains(id)) this
    else copy(ranges = BatchLedger.coalesce(ranges :+ (id -> id)))

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

  /** The ledger stored in `dataDir`, plus any legacy per-batch marker
    * files beside it. One directory listing and at most one small read,
    * whatever the number of merged batches. */
  def load(fs: FileSystem, dataDir: Path): BatchLedger = {
    val entries =
      try fs.listStatus(new Path(dataDir, Dir))
      catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    entries.foldLeft(empty) { (acc, st) =>
      val name = st.getPath.getName
      if (name == FileName) {
        val in = fs.open(st.getPath)
        val read = try decode(new String(in.readAllBytes(), UTF_8))
          finally in.close()
        BatchLedger(coalesce(acc.ranges ++ read.ranges), stored = true)
      } else name.toLongOption.fold(acc)(acc + _)
    }
  }

  private def coalesce(rs: Vector[(Long, Long)]): Vector[(Long, Long)] =
    rs.sortBy(_._1).foldLeft(Vector.empty[(Long, Long)]) {
      case (done :+ ((lo, hi)), (a, b)) if a <= hi || a - 1 == hi =>
        done :+ (lo -> math.max(hi, b))
      case (done, r) => done :+ r
    }
}
