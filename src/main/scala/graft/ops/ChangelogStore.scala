package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.io.Swap

/** Persistent add/retract changelog for a CONTINUOUSLY-versioned KG — the
  * durable substrate under [[Changelog]]: each crawl/ingest batch appends
  * its (s, p, o, ts, op) entries, consumers read any point-in-time snapshot
  * or diff ([[Changelog.asOfSnapshot]] / [[Changelog.asOfDelta]] over the
  * stored relation), and [[compact]] keeps the store
  * O(live keys + recent history) instead of O(all history) — the retention
  * story a 10^12-triple KG needs when every crawl retracts and re-asserts.
  * Sibling of [[SigStore]] / [[EdgeStore]] / [[ComponentStore]] in the
  * continuous-ingest family, with the family's exactly-once contract.
  *
  * TRUE append-only merges (log-structured): each batch lands as its own
  * sub-directory `state/d-<md5(batchId)>/` holding the batch's parquet plus
  * an `_batches.txt` marker with the batch id, written OUTSIDE the state
  * directory (`.batch-tmp-*`) and committed by one [[graft.io.Swap]] — so
  * per-merge I/O is O(batch), never O(history), and
  * [[StreamOps.changelogIngestStream]]'s per-micro-batch merges stay linear
  * cumulative. The merged-batch ledger is DERIVED (union of the
  * per-directory markers): a directory exists iff its marker does, so there
  * is no global file to rewrite per merge and no torn-ledger crash window.
  * SINGLE-WRITER, like the siblings: serialize merges per store.
  *
  * Only [[compact]] rewrites: it collapses all batch directories into one
  * `d-base` directory (whose marker carries ALL absorbed batch ids, so a
  * re-driven pre-compaction batch remains a no-op) and replaces the whole
  * state directory through one [[graft.io.Swap]] commit.
  *
  * Scale shape: each batch is repartitioned on the triple key at write, so
  * snapshot aggregations over the union read stay hash-bucketed per file
  * group; compaction is [[Changelog.compact]]'s single aggregation.
  */
object ChangelogStore {

  private def statePath(store: String) = s"$store/state"
  private def swap(store: String) =
    Swap(statePath(store), s"${statePath(store)}.merge-tmp", s"${statePath(store)}.merge-bak")

  private def dirFor(batchId: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(batchId.getBytes("UTF-8"))
    "d-" + md.map("%02x".format(_)).mkString.take(16)
  }

  def exists(spark: SparkSession, store: String): Boolean = swap(store).exists(spark)

  /** The committed batch directories (full paths), i.e. every `state/d-*`. */
  private def batchDirs(spark: SparkSession, store: String): Seq[String] = {
    if (!exists(spark, store)) Seq.empty
    else Swap.fs(spark, store).listStatus(new Path(statePath(store))).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("d-"))
      .map(_.getPath.toString).sorted
  }

  /** Batch ids already folded into the state (empty for a fresh store) —
    * the union of the per-directory commit markers. */
  def mergedBatches(spark: SparkSession, store: String): Set[String] =
    batchDirs(spark, store).iterator.flatMap(Swap.readLedger(spark, _)).toSet

  /** The stored (s, p, o, ts, op) changelog relation — the union read over
    * the base + batch directories (each fully committed by construction). */
  def log(spark: SparkSession, store: String): DataFrame = {
    require(exists(spark, store), s"no changelog store at $store")
    val dirs = batchDirs(spark, store)
    require(dirs.nonEmpty, s"changelog store at $store has no committed batches")
    spark.read.parquet(dirs: _*)
      .select("s", "p", "o", "ts", "op") // drop any partition-inferred cols
  }

  /** The KG state at time `t` from the stored log. */
  def snapshot(spark: SparkSession, store: String, t: Long): DataFrame =
    Changelog.asOfSnapshot(log(spark, store), t)

  /** Triples added/removed between the two cuts, from the stored log. */
  def delta(spark: SparkSession, store: String, t1: Long, t2: Long): DataFrame =
    Changelog.asOfDelta(log(spark, store), t1, t2)

  /** Append one batch's entries (s, p, o, ts: long, op: 'add'|'del') to the
    * store, creating it if absent. O(batch) I/O — the existing state is
    * neither read nor rewritten. Returns false (no-op) when `batchId` is
    * already committed — the idempotent-retry path. */
  def merge(entries: DataFrame, store: String, batchId: String,
      partitions: Int = 32): Boolean = {
    Swap.requireBatchId(batchId)
    val spark = entries.sparkSession
    val have = mergedBatches(spark, store)
    if (have.contains(batchId)) return false
    val norm = entries.select(col("s").cast("string"), col("p").cast("string"),
      col("o").cast("string"), col("ts").cast("long"), col("op").cast("string"))
    val dname = dirFor(batchId)
    // no directory holds this id's marker, so the commit is one rename (the
    // bak path is never made); a retry clears its own stale `.batch-tmp-*`
    Swap(s"${statePath(store)}/$dname", s"$store/.batch-tmp-$dname",
        s"$store/.batch-bak-$dname").commit(spark) { tmp =>
      norm.repartition(partitions, col("s"), col("p"), col("o")).write.parquet(tmp)
      Swap.writeLedger(spark, tmp, Set(batchId))
    }
    true
  }

  /** Collapse the history at-or-before `cut` to per-key winners
    * ([[Changelog.compact]] semantics — post-cut snapshots and late-
    * straggler tie-breaks are preserved exactly), materialized through the
    * same atomic swap. The absorbed batch ids carry over into the base
    * marker: a re-driven pre-compaction batch remains a no-op afterwards. */
  def compact(spark: SparkSession, store: String, cut: Long,
      partitions: Int = 32): Unit = {
    val have = mergedBatches(spark, store)
    require(exists(spark, store), s"no changelog store at $store")
    val compacted = Changelog.compact(log(spark, store), cut)
    swap(store).commit(spark) { tmp =>
      val baseDir = s"$tmp/d-base"
      compacted.repartition(partitions, col("s"), col("p"), col("o")).write.parquet(baseDir)
      Swap.writeLedger(spark, baseDir, have)
    }
  }
}
