package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Swap

/** Persistent PageRank state — the analytics sibling of the EdgeStore: as
  * the edge store accretes crawl batches, the rank store lets each analytics
  * pass RESUME the exact fixed-point iteration from the previous snapshot
  * ([[GraphOps.pageRankResume]]) instead of recomputing from the uniform
  * start. State is the post-aggregation (id, r) relation — graph-sized, tiny
  * relative to the corpus.
  *
  * Crash safety: `ranks` is replaced through one [[graft.io.Swap]] commit
  * (`ranks.next`, `ranks.bak`), with recovery on every public entry.
  * Single-writer.
  *
  * NOT idempotent by design: re-running `advance` runs MORE iterations (the
  * iteration count, not the batch id, is the state's meaning) — it converges
  * further, never corrupts. Exactly-once per batch is the EDGE store's
  * contract; the rank store is a resumable gauge over whatever edges exist. */
object RankStore {

  private def swap(dir: String) = Swap(s"$dir/ranks", s"$dir/ranks.next", s"$dir/ranks.bak")

  /** The stored snapshot, if any. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    if (swap(dir).exists(spark))
      Some(spark.read.parquet(s"$dir/ranks").select(col("id"), col("r")))
    else None
  }

  /** Swap `ranks` in as the new snapshot and return the MATERIALIZED
    * relation. The eager localCheckpoint is load-bearing: the incoming plan
    * may lazily read the CURRENT snapshot's files (pageRankResume over
    * [[read]] stays one lazy plan for small budgets), and the returned frame
    * must survive the swap deleting them. */
  def write(ranks: DataFrame, dir: String): DataFrame = {
    val spark = ranks.sparkSession
    swap(dir).recover(spark)
    val mat = ranks.select(col("id"), col("r")).localCheckpoint(true)
    swap(dir).commit(spark)(tmp => mat.write.parquet(tmp))
    mat
  }

  /** Advance the stored ranks by `iters` exact iterations over the CURRENT
    * edge relation (cold start = the uniform [[GraphOps.pageRank]] start):
    * advance(e, 2) then advance(e, 1) equals pageRank(e, 3) bit-for-bit. */
  def advance(edges: DataFrame, dir: String, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    val next = read(spark, dir) match {
      case Some(prev) => GraphOps.pageRankResume(edges, prev, iters)
      case None       => GraphOps.pageRank(edges, iters)
    }
    write(next, dir)
  }
}
