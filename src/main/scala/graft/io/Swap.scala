package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The commit protocol of every persistent store (EdgeStore, ComponentStore,
  * CentroidStore, ChangelogStore, SigStore, RankStore and the HLL register
  * store): a directory `live` is replaced by writing its successor to `tmp`
  * and swapping with two checked renames through `bak`. The reference's
  * insert-if-absent resume (see [[Checkpoint]]) lifted to a whole directory.
  *
  * Crash windows: a crash before the first rename leaves `live` untouched
  * (the next commit clears the stale `tmp`); a crash between the renames
  * leaves only `bak`, which [[recover]] restores; a crash after the second
  * rename leaves a stale `bak`, which [[recover]] drops. Anything committed
  * together with the data — a store's `_batches.txt` ledger, stats, params —
  * is written INTO `tmp`, so it changes atomically with the data.
  *
  * Hadoop reports a failed rename as `false` (or, on some filesystems, as an
  * exception): every rename here is checked, and a failed swap raises with
  * `live` (or `bak`) intact.
  *
  * SINGLE-WRITER: `tmp` and `bak` are fixed paths, so two concurrent commits
  * to one `live` race. A reader beside the writer never disturbs `tmp`; only
  * in the instant between the two renames can its [[recover]] take the swap
  * for a crash. At lakehouse scale this is the optimistic commit an
  * Iceberg/Delta table provides. */
private[graft] final case class Swap(live: String, tmp: String, bak: String) {
  import Swap._

  /** Finish or undo a swap a crash interrupted: restore `bak` when `live` is
    * missing, drop it when `live` is present. Idempotent; never touches
    * `tmp`, so it is safe on read paths. */
  def recover(spark: SparkSession): Unit = {
    val f = fs(spark, live)
    if (f.exists(new Path(bak))) {
      if (!f.exists(new Path(live))) rename(f, bak, live, "crash recovery failed")
      else f.delete(new Path(bak), true)
    }
  }

  /** Whether `live` exists once [[recover]] has run. */
  def exists(spark: SparkSession): Boolean = {
    recover(spark)
    Swap.exists(spark, live)
  }

  /** Replace `live` with what `write(tmp)` writes: clear `tmp`, run `write`,
    * then swap. A `write` that throws leaves `live` as it was. */
  def commit(spark: SparkSession)(write: String => Unit): Unit = {
    val f = fs(spark, live)
    f.delete(new Path(tmp), true)
    write(tmp)
    if (f.exists(new Path(live))) {
      f.delete(new Path(bak), true)
      rename(f, live, bak, "swap failed, store left on the old state")
      try rename(f, tmp, live, "swap failed, old state restored")
      catch {
        case NonFatal(e) => rename(f, bak, live, "swap failed and rollback failed"); throw e
      }
      f.delete(new Path(bak), true)
    } else {
      f.mkdirs(new Path(live).getParent)
      rename(f, tmp, live, "commit failed")
    }
  }
}

private[graft] object Swap {

  val LedgerName = "_batches.txt"
  val ParamsName = "_params.json"

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  private def rename(f: FileSystem, from: String, to: String, what: String): Unit =
    if (!f.rename(new Path(from), new Path(to))) sys.error(s"$what: cannot move $from to $to")

  private def readText(spark: SparkSession, path: String): Option[String] =
    if (!exists(spark, path)) None
    else {
      val in = fs(spark, path).open(new Path(path))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    }

  private def writeText(spark: SparkSession, path: String, s: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Batch ids recorded in `dir`'s ledger (empty when it has none). */
  def readLedger(spark: SparkSession, dir: String): Set[String] =
    readText(spark, s"$dir/$LedgerName").iterator
      .flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty).toSet

  /** Write `dir`'s ledger: the ids sorted, one per line. */
  def writeLedger(spark: SparkSession, dir: String, ids: Set[String]): Unit =
    writeText(spark, s"$dir/$LedgerName", ids.toSeq.sorted.mkString("\n") + "\n")

  /** Batch ids are ledger lines: non-empty and single-line. */
  def requireBatchId(batchId: String): Unit =
    require(batchId.trim.nonEmpty && !batchId.contains("\n"),
      s"batchId must be a non-empty single-line token, got '$batchId'")

  /** `dir`'s pinned parameters, a flat JSON object of integers (None when it
    * has none). */
  def readParams(spark: SparkSession, dir: String): Option[Map[String, Int]] =
    readText(spark, s"$dir/$ParamsName").map(s =>
      """"(\w+)"\s*:\s*(\d+)""".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toInt).toMap)

  /** Write `dir`'s parameters as a flat JSON object, fields in the given order. */
  def writeParams(spark: SparkSession, dir: String, fields: (String, Int)*): Unit =
    writeText(spark, s"$dir/$ParamsName",
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
}
