package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.GraphBuilder
import graft.io.Swap

/** Persistent KG edge-count state for CONTINUOUS construction: each crawl
  * batch contributes its UNFILTERED edge counts
  * ([[GraphBuilder.edgeState]]), the store folds them in by key
  * ([[GraphBuilder.mergeEdgeState]]), and the min-links HAVING applies only
  * when the edge relation is read out ([[edges]]) — the store-backed
  * counterpart of the kg_edges_incremental query (see DocKg.edgesIncremental
  * for why filtering per batch is wrong). Sibling of [[SigStore]] in the
  * continuous-ingest family.
  *
  * Exactly-once batch merges: callers pass a `batchId`; the set of merged
  * batch ids rides INSIDE the state directory (`_batches.txt`, ignored by
  * the parquet reader like `_SUCCESS`), and each merge replaces the whole
  * directory through one [[graft.io.Swap]] commit — so the data and the
  * ledger commit together, and a re-driven batch is never counted twice.
  * SINGLE-WRITER: serialize merges per store (the Infer CLI and the
  * streaming foreachBatch sink each do exactly one at a time).
  *
  * Scale shape: one merge = one shuffle of (old state union delta) on the
  * group key; the state is edge-cardinality-sized (not corpus-sized) and is
  * rewritten partitioned on the key, so reads and subsequent merges stay
  * co-partitioned. At Iceberg-table scale this is MERGE INTO on the bucketed
  * key; the swap emulates its snapshot atomicity at directory granularity.
  */
object EdgeStore {

  private def statePath(store: String) = s"$store/state"
  private val StatsName = "_bgp_stats"

  private def swap(store: String) =
    Swap(statePath(store), s"${statePath(store)}.merge-tmp", s"${statePath(store)}.merge-bak")

  /** The per-predicate planning stats written by [[merge]] (None for a
    * store predating them): the (count map, relation total) that
    * [[graft.ops.Bgp.planPatternsCached]] plans from without scanning the
    * store. Counts are over the UNFILTERED state (the minLinks read filter
    * applies downstream) — fine for planning, where relative order is all
    * that matters. Driver-sized: one row per distinct predicate. */
  def stats(spark: SparkSession, store: String): Option[(Map[String, Long], Long)] = {
    val path = s"${statePath(store)}/$StatsName"
    if (!exists(spark, store) || !Swap.exists(spark, path)) None
    else {
      val rows = spark.read.parquet(path).collect()
      val total = rows.collectFirst { case r if r.isNullAt(0) => r.getLong(1) }.getOrElse(0L)
      Some((rows.filterNot(_.isNullAt(0)).map(r => r.getString(0) -> r.getLong(1)).toMap, total))
    }
  }

  def exists(spark: SparkSession, store: String): Boolean = swap(store).exists(spark)

  /** Batch ids already folded into the state (empty for a fresh store). */
  def mergedBatches(spark: SparkSession, store: String): Set[String] = {
    swap(store).recover(spark)
    Swap.readLedger(spark, statePath(store))
  }

  /** The raw (source, target, sent, cnt) state relation. */
  def state(spark: SparkSession, store: String): DataFrame = {
    require(exists(spark, store), s"no edge store at $store")
    spark.read.parquet(statePath(store))
  }

  /** The edge relation at read time (min-links HAVING + weights toggle). */
  def edges(spark: SparkSession, store: String, minLinks: Double = 1,
      weights: Boolean = true): DataFrame =
    GraphBuilder.edgesFromState(state(spark, store), minLinks, weights)

  /** Fold one batch's edge counts into the store (creating it if absent).
    * `delta` must be an edge-state relation — (source, target, sent, cnt) as
    * produced by [[GraphBuilder.edgeState]]. Returns false (and does
    * nothing) when `batchId` is already in the ledger — the idempotent-retry
    * path. */
  def merge(delta: DataFrame, store: String, batchId: String,
      partitions: Int = 32): Boolean = {
    Swap.requireBatchId(batchId)
    val spark = delta.sparkSession
    val have = mergedBatches(spark, store) // runs crash recovery on entry
    if (have.contains(batchId)) return false
    val norm = delta.select(col("source"), col("target"), col("sent"),
      col("cnt").cast("long").as("cnt"))
    val merged =
      if (exists(spark, store))
        GraphBuilder.mergeEdgeState(spark.read.parquet(statePath(store)), norm)
      else norm
    swap(store).commit(spark) { tmp =>
      merged.repartition(partitions, col("source"), col("target"), col("sent"))
        .write.parquet(tmp)
      Swap.writeLedger(spark, tmp, have + batchId)
      // per-predicate planning stats ride INSIDE the swap (underscore dir —
      // hidden from the state's parquet reader, invalidated atomically with
      // every merge): BGP sessions over the resident KG plan from this
      // metadata instead of scanning the store (Bgp.planPatternsCached).
      // Derived from the just-written files, so the merge plan runs once.
      graft.ops.Bgp.predicateStats(
          spark.read.parquet(tmp).select(col("sent").cast("string").as("p")))
        .coalesce(1).write.parquet(s"$tmp/$StatsName")
    }
    true
  }
}
