package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-time views over an add/retract triple changelog — the KG
  * VERSIONING layer: a continuously-maintained KG at web scale is a log of
  * assertions and retractions (crawl N asserts a triple, crawl N+3 finds the
  * page changed and retracts it), and consumers ask for the state AS OF a
  * time, or the diff between two times. Engine extension; reference anchor:
  * none (ARElight rebuilds its graph per run — no history model).
  *
  * Log schema: (s, p, o, ts: long, op: 'add' | 'del'). Semantics per triple
  * key (s, p, o): the op with the LATEST ts at-or-before the cut wins; a tie
  * at the same ts resolves to 'del' (retraction dominates — the conservative
  * reading, and 'del' > 'add' lexicographically so the rule is one struct
  * max, no special-casing).
  *
  * Scale shape: both views are ONE hash aggregation over the time-filtered
  * log — max(struct(ts, op)) gets partial map-side aggregation, so the
  * shuffle carries one row per live triple key, never the log's history
  * depth. No window function (a per-key sort would shuffle the full log),
  * no iteration. A log partitioned by ingest day prunes the scan to
  * ts <= cut for free.
  */
object Changelog {

  private def winner(log: DataFrame, cut: Long) =
    max(when(col("ts") <= cut, struct(col("ts"), col("op"))))

  /** The KG state at time `t`: every (s, p, o) whose winning log entry at
    * the cut is an 'add'. */
  def asOfSnapshot(log: DataFrame, t: Long): DataFrame =
    log.groupBy(col("s"), col("p"), col("o"))
      .agg(winner(log, t).as("w"))
      .filter(col("w").isNotNull && col("w.op") === "add")
      .select("s", "p", "o")

  /** Validity intervals — the standard temporal-KG representation derived
    * from the changelog: one row per maximal interval during which a triple
    * was live, `(s, p, o, valid_from, valid_to)` with `valid_to` NULL for
    * currently-open intervals. An interval opens at an 'add' whose
    * predecessor (in the per-key (ts, op) order, 'del' > 'add' on ties —
    * the [[asOfSnapshot]] tie rule) is a 'del' or nothing, and closes at
    * the group's first 'del'; re-assertions inside a live interval extend
    * nothing. Same-ts add+del pairs (retraction wins, never observable
    * live) produce no interval.
    *
    * Plan shape: the one operator in this family that sorts — a per-key
    * window over the DEDUPLICATED entry list. The partition is one triple's
    * HISTORY (bounded by re-crawl cadence, never corpus-sized), so the sort
    * is a short in-memory run per key; keys themselves hash-partition
    * uniformly. */
  def factIntervals(log: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("s"), col("p"), col("o"))
      .orderBy(col("ts"), col("op"))
    val entries = log.select(col("s"), col("p"), col("o"),
        col("ts").cast("long").as("ts"), col("op")).distinct()
      .withColumn("prev_op", lag(col("op"), 1).over(w))
      .withColumn("opens", (col("op") === "add" &&
        (col("prev_op").isNull || col("prev_op") === "del")).cast("long"))
      .withColumn("grp", sum(col("opens")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    entries.filter(col("grp") > 0)
      .groupBy(col("s"), col("p"), col("o"), col("grp"))
      .agg(min(when(col("op") === "add", col("ts"))).as("valid_from"),
        min(when(col("op") === "del", col("ts"))).as("valid_to"))
      .filter(col("valid_to").isNull || col("valid_to") > col("valid_from"))
      .select(col("s"), col("p"), col("o"), col("valid_from"), col("valid_to"))
  }

  /** KG growth series: the live-triple count at each cut in `cuts` — the
    * corpus-health curve over crawl history, computed from ONE pass of
    * [[factIntervals]] joined against the literal cut list (broadcast), so
    * k cuts cost one interval materialization, not k snapshot scans. */
  def snapshotSeries(log: DataFrame, cuts: Seq[Long]): DataFrame = {
    require(cuts.nonEmpty, "empty cut list")
    val spark = log.sparkSession
    import spark.implicits._
    val cutDf = cuts.toDF("cut")
    factIntervals(log)
      .join(broadcast(cutDf), col("valid_from") <= col("cut") &&
        (col("valid_to").isNull || col("valid_to") > col("cut")))
      .groupBy(col("cut")).agg(count(lit(1)).as("n_live"))
      // zero-fill missing cuts: preserved side must be the cut list, and
      // Spark can only broadcast the non-preserved side — a left join with
      // the counts side broadcast (a right join with a broadcast hint on the
      // preserved right side would be silently un-broadcastable)
      .hint("broadcast")
      .join(cutDf, Seq("cut"), "right")
      .select(col("cut"), coalesce(col("n_live"), lit(0L)).as("n_live"))
  }

  /** Compact the history at-or-before `cut` down to one row per key — its
    * winning entry — leaving entries after the cut untouched. For every
    * t >= cut (and any late tail data), `asOfSnapshot(compact(log, cut), t)`
    * equals `asOfSnapshot(log, t)`: snapshot semantics depend only on each
    * key's winner ordering, and the winner row (ts AND op, so same-ts
    * tie-breaking against stragglers is preserved) is exactly what survives.
    * 'del' winners are kept too — dropping them would let a late pre-cut
    * 'add' straggler resurrect a retracted triple on the next compaction.
    * This is the retention story for a continuously-ingested changelog: the
    * store stays O(live keys + recent history) instead of O(all history).
    * One aggregation over the pre-cut slice + a pass-through union. */
  def compact(log: DataFrame, cut: Long): DataFrame = {
    val head = log.filter(col("ts") <= cut)
      .groupBy(col("s"), col("p"), col("o"))
      .agg(max(struct(col("ts"), col("op"))).as("w"))
      .select(col("s"), col("p"), col("o"),
        col("w.ts").as("ts"), col("w.op").as("op"))
    head.unionByName(log.filter(col("ts") > cut).select("s", "p", "o", "ts", "op"))
  }

  /** Snapshot AND delta liveness from ONE pass over the log: per triple
    * key, whether it is live at `t1` and at `t2` — the fused form a
    * consumer needing both the t1 state and the t1→t2 diff should read
    * (e.g. incremental view maintenance), instead of paying the
    * [[asOfSnapshot]] + [[asOfDelta]] aggregations separately over the
    * same history. Output: (s, p, o, live1, live2); filter live1 for the
    * t1 snapshot, live2 && !live1 / live1 && !live2 for the delta — the
    * exact winner/tie semantics of the two single-cut reads. */
  def asOfStates(log: DataFrame, t1: Long, t2: Long): DataFrame = {
    require(t1 < t2, s"asOfStates needs t1 < t2, got $t1 >= $t2")
    def live(w: String) = col(w).isNotNull && col(s"$w.op") === "add"
    log.groupBy(col("s"), col("p"), col("o"))
      .agg(winner(log, t1).as("w1"), winner(log, t2).as("w2"))
      .select(col("s"), col("p"), col("o"),
        live("w1").as("live1"), live("w2").as("live2"))
      .filter(col("live1") || col("live2"))
  }

  /** The diff between the `t1` and `t2` snapshots (t1 < t2), computed in the
    * SAME single aggregation — each key's winning entry at both cuts comes
    * from one pass over the log. Output: (s, p, o, change) with change =
    * 'added' (live at t2, not at t1) or 'removed' (live at t1, not at t2);
    * keys live at both or neither are absent. */
  def asOfDelta(log: DataFrame, t1: Long, t2: Long): DataFrame = {
    require(t1 < t2, s"asOfDelta needs t1 < t2, got $t1 >= $t2")
    def live(w: String) = col(w).isNotNull && col(s"$w.op") === "add"
    log.groupBy(col("s"), col("p"), col("o"))
      .agg(winner(log, t1).as("w1"), winner(log, t2).as("w2"))
      .withColumn("change",
        when(live("w2") && !live("w1"), "added")
          .when(live("w1") && !live("w2"), "removed"))
      .filter(col("change").isNotNull)
      .select("s", "p", "o", "change")
  }
}
