package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Swap

/** Persistent k-means quantizer state for CONTINUOUS ANN-index maintenance —
  * [[SigStore]]/[[graft.graph.RankStore]]/[[EdgeStore]]'s sibling for the
  * vector tier: the IVF coarse quantizer must accrete with the corpus, but
  * retraining from scratch per batch re-reads everything. The store keeps
  * per-cell per-dimension SUMS and COUNTS (exact BIGINT — unlike means,
  * sums merge exactly and commute), so each ingest is one assignment scan of
  * the NEW batch plus a (cell, pos)-keyed fold; the live centroids are
  * derived at read as floor(sum/cnt) — the same integer mean the exact
  * Lloyd's step uses, so the whole lifecycle stays bit-reproducible
  * cross-engine (the ann_kmeans_store oracle unrolls init + one ingest).
  *
  * Init trains [[Similarity.kmeansCentroids]] on the seed batch and writes
  * its state as the trained centroid itself (ONE virtual point per cell — a
  * deterministic smoothing prior that also keeps every cell defined if its
  * data drains) plus the seed batch's sums under the trained assignment.
  * Ingest assigns each new batch to the CURRENT derived centroids (classic
  * mini-batch k-means step) and folds its sums in — exactly-once per
  * batchId: the `_batches.txt` ledger and the pinned `_params.json` ride
  * inside the state dir, which init and each ingest replace through one
  * [[graft.io.Swap]] commit. Single-writer.
  *
  * Scale shape: state is k×dim rows (tiny); the only corpus-sized work per
  * ingest is the map-side argmin scan of the new batch (native
  * centroid_argmin kernel, centroid matrix as a reference object).
  */
object CentroidStore {

  final case class Params(k: Int, dim: Int, scale: Int)

  private def statePath(store: String) = s"$store/state"
  private def swap(store: String) =
    Swap(statePath(store), s"${statePath(store)}.merge-tmp", s"${statePath(store)}.merge-bak")

  def exists(spark: SparkSession, store: String): Boolean = swap(store).exists(spark)

  def mergedBatches(spark: SparkSession, store: String): Set[String] = {
    swap(store).recover(spark)
    Swap.readLedger(spark, statePath(store))
  }

  private def writeParams(spark: SparkSession, dir: String, params: Params): Unit =
    Swap.writeParams(spark, dir, "k" -> params.k, "dim" -> params.dim, "scale" -> params.scale)

  /** Pinned params — a later run with different k/dim/scale fails fast
    * rather than folding incompatible sums. */
  def params(spark: SparkSession, store: String): Params = {
    require(exists(spark, store), s"no centroid store at $store")
    val m = Swap.readParams(spark, statePath(store))
      .getOrElse(sys.error(s"centroid store at $store has no ${Swap.ParamsName}"))
    Params(m("k"), m("dim"), m("scale"))
  }

  /** The raw (cell, pos, s, cnt) state relation. cnt repeats per pos. */
  def state(spark: SparkSession, store: String): DataFrame = {
    require(exists(spark, store), s"no centroid store at $store")
    spark.read.parquet(statePath(store))
  }

  /** Live centroids: floor(sum/cnt) per (cell, pos) — k×dim longs. */
  def centroids(spark: SparkSession, store: String): Array[Array[Long]] = {
    val pr = params(spark, store)
    val rows = state(spark, store).collect()
    val cents = Array.fill(pr.k)(Array.fill(pr.dim)(0L))
    rows.foreach { r =>
      val (cell, pos) = (r.getLong(0).toInt, r.getLong(1).toInt)
      cents(cell)(pos) = math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
    }
    cents
  }

  private def quant(vec: Column, scale: Int): Column =
    transform(vec.cast("array<double>"), x => floor(x * scale).cast("long"))

  /** Per-(cell, pos) sums + counts of `df` under the given centroids. */
  private def sumsUnder(df: DataFrame, id: Column, vec: Column,
      cents: Array[Array[Long]], scale: Int): DataFrame =
    df.select(quant(vec, scale).as("q")) // quantize once, own projection
      .select(graft.functions.VectorExpressions.centroid_argmin(col("q"), cents).as("cell"),
        posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos").cast("long").as("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))

  /** Train on the seed batch, write state = virtual-centroid prior + seed
    * sums. Fails if the store already exists. */
  def init(seed: DataFrame, id: Column, vec: Column, store: String,
      params: Params, iters: Int = 2): Unit = {
    val spark = seed.sparkSession
    require(!exists(spark, store), s"centroid store at $store already exists")
    val trained = Similarity.kmeansCentroids(seed, id, vec, params.k, iters, params.scale)
    import spark.implicits._
    val virtual = (for (c <- trained.indices; d <- 0 until params.dim)
      yield (c.toLong, d.toLong, trained(c)(d), 1L)).toDF("cell", "pos", "s", "cnt")
    val seedSums = sumsUnder(seed, id, vec, trained, params.scale)
    val merged = virtual.union(seedSums)
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("s")).as("s"), sum(col("cnt")).as("cnt"))
    swap(store).commit(spark) { tmp =>
      merged.repartition(1).write.parquet(tmp)
      Swap.writeLedger(spark, tmp, Set("init"))
      writeParams(spark, tmp, params)
    }
  }

  /** Fold one batch into the store under the CURRENT derived centroids.
    * Returns false (no-op) when `batchId` is already in the ledger. */
  def ingest(batch: DataFrame, id: Column, vec: Column, store: String,
      batchId: String): Boolean = {
    Swap.requireBatchId(batchId)
    val spark = batch.sparkSession
    val have = mergedBatches(spark, store)
    if (have.contains(batchId)) return false
    val pr = params(spark, store)
    val cents = centroids(spark, store)
    val delta = sumsUnder(batch, id, vec, cents, pr.scale)
    val merged = state(spark, store).select("cell", "pos", "s", "cnt").union(delta)
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("s")).as("s"), sum(col("cnt")).as("cnt"))
    swap(store).commit(spark) { tmp =>
      merged.repartition(1).write.parquet(tmp)
      Swap.writeLedger(spark, tmp, have + batchId)
      writeParams(spark, tmp, pr)
    }
    true
  }

  /** Assign a relation to the store's live cells (map-side argmin). */
  def assign(df: DataFrame, id: Column, vec: Column, store: String): DataFrame = {
    val spark = df.sparkSession
    val pr = params(spark, store)
    df.select(id.as("id"), graft.functions.VectorExpressions
      .centroid_argmin(quant(vec, pr.scale), centroids(spark, store)).as("cell"))
  }
}
