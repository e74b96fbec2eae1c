package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Swap

/** Persistent dedup state for CONTINUOUS ingest: the corpus is represented by
  * constant-size-per-document artifacts — its exact-content hashes and its
  * minhash band signatures — so each incoming batch is deduplicated against
  * the full corpus history without ever re-reading or re-minhashing corpus
  * text. At 100 TB the store is ~1e-4 of the corpus bytes and both probes are
  * equi-joins on a hash key (exact: md5; near: (band, sig) bucket), i.e. one
  * shuffle of the BATCH side against a bucketed store.
  *
  * Near-duplicate decision: a batch doc is dropped when it shares at least
  * `minBands` distinct band buckets with any single stored doc. P(band match)
  * = J^rowsPerBand per band, so `minBands` is the precision/recall knob that
  * replaces the exact-Jaccard verify (whose shingle sets would make the store
  * corpus-sized — the classic space/precision trade of signature-only LSH
  * state; batch-internal dedup with full verify still runs per batch via
  * [[Dedup.incrementalNearDups]] when texts are co-resident).
  *
  * The LSH parameters are PINNED in the store (`_params.json`): appending
  * signatures computed under different (bands, shingleW, rowsPerBand) would
  * silently destroy recall, so a mismatch fails fast — same discipline as
  * io.Checkpoint's n_buckets lineage pin.
  */
object SigStore {

  case class Params(bands: Int = 8, shingleW: Int = 3, rowsPerBand: Int = 2)

  private def sigsPath(store: String) = s"$store/sigs"
  private def hashesPath(store: String) = s"$store/hashes"
  private def swaps(store: String) = Seq(sigsPath(store), hashesPath(store))
    .map(path => Swap(path, s"$path.compact-tmp", s"$path.compact-bak"))

  /** Whether the store has pinned params. Runs crash recovery first, so
    * every entry (append, filterNew, compact) sees a healed layout. */
  def exists(spark: SparkSession, store: String): Boolean = {
    swaps(store).foreach(_.recover(spark))
    Swap.exists(spark, s"$store/${Swap.ParamsName}")
  }

  private def readParams(spark: SparkSession, store: String): Params = {
    val m = Swap.readParams(spark, store).getOrElse(sys.error(s"no signature store at $store"))
    Params(m("bands"), m("shingle_w"), m("rows_per_band"))
  }

  /** Pin-or-check: first append writes the params; later appends/probes must
    * match them exactly. */
  private def pinParams(spark: SparkSession, store: String, p: Params): Unit =
    if (!exists(spark, store))
      Swap.writeParams(spark, store,
        "bands" -> p.bands, "shingle_w" -> p.shingleW, "rows_per_band" -> p.rowsPerBand)
    else {
      val have = readParams(spark, store)
      require(have == p,
        s"signature store $store was built with $have, probe/append uses $p — " +
          "mixed LSH parameters silently destroy recall; use the stored parameters " +
          "or start a new store")
    }

  /** Append `docs`' exact hashes and band signatures to the store (creating
    * it if absent). Call AFTER the batch's own dedup decided what to keep. */
  def append(docs: DataFrame, text: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column, store: String,
      params: Params = Params()): Unit = {
    val spark = docs.sparkSession
    pinParams(spark, store, params)
    Dedup.minhashSignatures(docs, text, id, params.bands, params.shingleW, params.rowsPerBand)
      .write.mode(SaveMode.Append).parquet(sigsPath(store))
    // id rides along so [[compact]]'s retention can drop a retired doc's
    // exact-hash row too (the probe itself joins on text_hash only)
    docs.select(id.as("id"), md5(text.cast("binary")).as("text_hash")).distinct()
      .write.mode(SaveMode.Append).parquet(hashesPath(store))
  }

  /** Batch docs NOT already represented in the store: exact-content matches
    * are dropped first (anti-join on md5), then near-duplicates sharing >=
    * `minBands` band buckets with any one stored doc. Returns the surviving
    * rows of `batch` unchanged. */
  def filterNew(batch: DataFrame, text: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column, store: String,
      params: Params = Params(), minBands: Int = 1,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val spark = batch.sparkSession
    require(exists(spark, store), s"no signature store at $store")
    val have = readParams(spark, store)
    require(have == params,
      s"signature store $store was built with $have, probe uses $params")
    val noExact = batch.join(
      spark.read.parquet(hashesPath(store))
        .select(col("text_hash").as("__h")).distinct(),
      md5(text.cast("binary")) === col("__h"), "left_anti")
    val batchSigs = Dedup.minhashSignatures(noExact, text, id,
      params.bands, params.shingleW, params.rowsPerBand)
    val storeSigs = Dedup.cappedSigs(
      spark.read.parquet(sigsPath(store)), maxBucketSize)
      .select(col("id").as("__store_id"), col("band"), col("sig"))
    // shared-band count per (batch, stored) pair from ONE bucket join over the
    // capped store; minBands=1 degenerates to "any shared bucket"
    val flagged = batchSigs.select(col("band"), col("sig"), col("id").as("batch_id"))
      .join(storeSigs, Seq("band", "sig"))
      .groupBy("batch_id", "__store_id")
      .agg(countDistinct(col("band")).as("__nb"))
      .filter(col("__nb") >= minBands)
      .select("batch_id").distinct()
    noExact.join(flagged.withColumnRenamed("batch_id", "__bid"),
      id === col("__bid"), "left_anti")
  }

  /** Rewrite the store's accumulated per-batch parquet file-sets into ONE
    * deduplicated layout bucketed by the probe join key — sigs repartitioned
    * on (band, sig), hashes on text_hash — with `partitions` files each.
    * Continuous ingest appends one file-set per [[append]] forever (the
    * classic small-files failure: at per-minute cadence a year of ingest is
    * ~500k files whose listing dominates every probe), so run this at a
    * maintenance cadence of roughly every ~100 batches, or whenever the
    * file count per relation reaches a few hundred.
    *
    * Probe results are IDENTICAL pre/post: both probes have set semantics
    * (distinct/anti-join), so dropping duplicate rows only shrinks the join.
    * `dropIds` (a one-column `id` relation) optionally retires documents —
    * their band signatures and exact-hash rows are removed, so retired
    * content stops suppressing future ingests (retention requires a store
    * written by a version that records `id` in hashes; older stores fail
    * fast rather than half-retiring).
    *
    * Crash safety: each relation is replaced through its own
    * [[graft.io.Swap]] commit (`sigs.compact-tmp`/`.compact-bak`, and the
    * same for hashes); every entry runs its crash recovery.
    *
    * Retention preconditions (hashes carrying `id`, no null ids from
    * mixed-era files) are validated on BOTH relations before EITHER swap
    * runs, so a failed validation can never retire one relation and not the
    * other (the half-retire state the guard exists to prevent). */
  def compact(spark: SparkSession, store: String, partitions: Int = 32,
      dropIds: Option[DataFrame] = None): Unit = {
    require(exists(spark, store), s"no signature store at $store")
    require(partitions >= 1, s"partitions=$partitions must be >= 1")
    // mergeSchema: hashes files from before the id column and after it can
    // coexist in one store — a single arbitrary footer must not decide
    // whether id exists (silently dropping it would make retention
    // impossible; reading old rows as id=null would silently skip them)
    def read(path: String) = spark.read.option("mergeSchema", "true").parquet(path)
    val drop = dropIds.map(_.select(col(dropIds.get.columns.head).as("__drop_id")))
    if (drop.isDefined) {
      val hashes = read(hashesPath(store))
      require(hashes.columns.contains("id"),
        "store predates id-carrying hashes; retention would half-retire — recreate the store")
      require(hashes.filter(col("id").isNull).isEmpty,
        "store has pre-id hash rows (id=null): retention cannot retire them — " +
          "recreate the store or compact without dropIds first")
    }
    def retire(df: DataFrame): DataFrame = drop match {
      case None => df
      case Some(d) => df.join(d, df("id") === d("__drop_id"), "left_anti")
    }
    swaps(store).zip(Seq(Seq("band", "sig"), Seq("text_hash"))).foreach { case (swap, key) =>
      swap.commit(spark)(tmp => retire(read(swap.live)).distinct()
        .repartition(partitions, key.map(col): _*).write.parquet(tmp))
    }
  }
}
