package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Swap

/** Persistent connected-component labels for CONTINUOUS KG construction —
  * the entity-resolution sibling of [[EdgeStore]] (edge counts) and
  * [[graft.graph.RankStore]] (authority): each crawl batch contributes new
  * edges, and the store folds them into a (id, cluster) label relation
  * without ever replaying old batches' edges.
  *
  * The fold is exact, not approximate: stored labels are component-min node
  * ids, so re-materializing each stored component as its star
  * (cluster—member edges) and clustering (star ∪ batch edges) yields
  * EXACTLY the components of the union of every edge ever merged —
  * min-label components are history-independent. That invariant is what the
  * kg_components_store oracle pins: unrolled init+ingest == one full-batch
  * recursive-closure recompute.
  *
  * Exactly-once batch merges, as in [[EdgeStore]]: `_batches.txt` rides
  * inside the state dir, which each merge replaces through one
  * [[graft.io.Swap]] commit, so data and ledger commit together.
  * Single-writer.
  *
  * Scale shape: one merge = one [[Dedup.clusters]] run over (star ∪ delta)
  * — the star relation has one row per non-min node (state-sized, not
  * history-sized), clustering is distributed min-label propagation with
  * O(log d) pointer-halving rounds, and the state is rewritten partitioned
  * on the node key. At lakehouse scale this is MERGE INTO on the bucketed
  * node key; the swap emulates snapshot atomicity at directory granularity. */
object ComponentStore {

  private def statePath(store: String) = s"$store/state"
  private def swap(store: String) =
    Swap(statePath(store), s"${statePath(store)}.merge-tmp", s"${statePath(store)}.merge-bak")

  def exists(spark: SparkSession, store: String): Boolean = swap(store).exists(spark)

  /** Batch ids already folded into the state (empty for a fresh store). */
  def mergedBatches(spark: SparkSession, store: String): Set[String] = {
    swap(store).recover(spark)
    Swap.readLedger(spark, statePath(store))
  }

  /** The (id, cluster) label relation. Nodes whose only edges were
    * self-loops never enter the state (self-loops carry no connectivity —
    * the [[graft.graph.GraphOps.connectedComponents]] contract). */
  def state(spark: SparkSession, store: String): DataFrame = {
    require(exists(spark, store), s"no component store at $store")
    spark.read.parquet(statePath(store))
  }

  /** Fold one batch's edges into the store (creating it if absent). `delta`
    * is any (source, target) edge relation — weights and self-loops are
    * ignored; only connectivity folds in. Returns false (and does nothing)
    * when `batchId` is already in the ledger — the idempotent-retry path. */
  def merge(delta: DataFrame, store: String, batchId: String,
      partitions: Int = 32): Boolean = {
    Swap.requireBatchId(batchId)
    val spark = delta.sparkSession
    val have = mergedBatches(spark, store) // runs crash recovery on entry
    if (have.contains(batchId)) return false
    val pairs = delta.filter(col("source") =!= col("target"))
      .select(least(col("source"), col("target")).as("a_id"),
        greatest(col("source"), col("target")).as("b_id"))
      .distinct()
    val withStar =
      if (exists(spark, store))
        pairs.union(spark.read.parquet(statePath(store))
            .filter(col("id") =!= col("cluster"))
            // cluster is the component MIN, so (cluster, id) is already
            // (least, greatest) ordered
            .select(col("cluster").as("a_id"), col("id").as("b_id")))
          .distinct()
      else pairs
    val merged = Dedup.clusters(withStar)
    swap(store).commit(spark) { tmp =>
      merged.repartition(partitions, col("id")).write.parquet(tmp)
      Swap.writeLedger(spark, tmp, have + batchId)
    }
    true
  }
}
