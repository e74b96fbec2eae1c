package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Generic relational operators exercised over the TPC-H-ish driver tables.
  * Aggregates that sum non-integral doubles go through DECIMAL so results are
  * addition-order independent (exact), then back to DOUBLE for a stable
  * cross-engine representation. */
object Relational {


  /** Epoch seconds from a (possibly NTZ) timestamp column; session TZ is UTC so
    * NTZ wall-clock == DuckDB's naive epoch_us // 1e6. */
  private def epochSec(c: Column): Column = c.cast("timestamp").cast("long")

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** TPC-H Q1-style scan + hash aggregate (sum/count per flag/status). */
  def q1(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= expr("timestamp'1998-09-02 00:00:00'"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"), // integral doubles: exact in any order
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style 3-way join + aggregate. customer and orders are far smaller
    * than lineitem; AQE picks broadcast for the dimension side. */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(spark, dir, "orders").filter(col("o_orderdate") < expr("timestamp'1996-01-01 00:00:00'"))
    val l = t(spark, dir, "lineitem").filter(col("l_shipdate") > expr("timestamp'1996-01-01 00:00:00'"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double").as("revenue"),
        min(col("o_orderdate")).cast("timestamp").cast("long").as("o_orderdate_epoch"))
  }

  /** Broadcast-join + two-level aggregate: line counts per part brand. */
  def brandVolume(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).as("sum_qty"))

  /** Window ranking: 3 most recent shipments per supplier, deterministic
    * tiebreak on (orderkey, linenumber). */
  def topShipments(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"))
    t(spark, dir, "lineitem")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("l_suppkey"), col("rank"), col("l_orderkey"), col("l_linenumber"),
        epochSec(col("l_shipdate")).as("ship_epoch"))
  }

  /** Tumbling-window aggregate over the events stream table (batch view of the
    * streaming op; see graft.streaming for the readStream variant). */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(
        (epochSec(col("ts")) - pmod(epochSec(col("ts")), lit(3600))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))

  /** Semi-structured column path: extract a typed field from the JSON `props`
    * column with `get_json_object` (codegen'd JsonPath — no UDF, no full
    * from_json schema materialization when one field is needed) and aggregate
    * per event type. The scan should prune to (event_type, props) only. */
  def eventsJsonStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("k_sum"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))

  /** Distributed AS-OF join — an operator Spark lacks natively: each left
    * row joins the LATEST right row with right.time <= left.time on the same
    * key. Composed from existing operators (preference (a) of the custom-op
    * ladder): tag + unionByName + ONE per-key carry-forward window
    * (last ignoreNulls), so the whole join is one exchange on the key and
    * one per-key sort — no range explosion, no per-row probe join. Right
    * rows sort BEFORE left rows at equal times, giving <= semantics; left
    * rows before any right row keep nulls (left-join behavior). At 100 TB:
    * bucket the partitioning by (key, time range) so each task sorts one
    * bounded slice.
    *
    * The DuckDB oracle is genuinely independent — it uses the engine's
    * NATIVE `ASOF LEFT JOIN`: two different algorithms, one answer.
    * Output: key, `__t` (left time), leftCols, and `r_<col>` for rightCols. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
      leftCols: Seq[String], rightCols: Seq[String]): DataFrame = {
    val rTypes = rightCols.map(c => c -> right.schema(c).dataType)
    val lTypes = leftCols.map(c => c -> left.schema(c).dataType)
    val l = left.select(col(key) +: col(time).as("__t") +: lit(1).as("__tag") +:
      (leftCols.map(col) ++ rTypes.map { case (c, tp) => lit(null).cast(tp).as(s"r_$c") }): _*)
    val r = right.select(col(key) +: col(time).as("__t") +: lit(0).as("__tag") +:
      (lTypes.map { case (c, tp) => lit(null).cast(tp).as(c) } ++
        rightCols.map(c => col(c).as(s"r_$c"))): _*)
    val w = Window.partitionBy(col(key)).orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .select(col(key) +: col("__t") +: col("__tag") +:
        (leftCols.map(col) ++ rightCols.map(c =>
          last(col(s"r_$c"), ignoreNulls = true).over(w).as(s"r_$c"))): _*)
      .filter(col("__tag") === 1)
      .drop("__tag")
  }

  /** Each purchase joined to the user's most recent prior (<=) view. */
  def eventsAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").withColumn("ts", col("ts").cast("timestamp"))
    val p = ev.filter(col("event_type") === "purchase")
    val v = ev.filter(col("event_type") === "view")
    asofJoin(p, v, "user_id", "ts", Seq("event_id"), Seq("event_id", "ts"))
      .select(col("event_id"), col("user_id"),
        epochSec(col("__t")).as("ts_sec"),
        col("r_event_id").as("view_event_id"),
        epochSec(col("r_ts")).as("view_ts_sec"),
        (epochSec(col("__t")) - epochSec(col("r_ts"))).as("lag_sec"))
  }

  /** Ordered funnel per user: first view, then the first click strictly
    * after it, then the first purchase strictly after that. Three keyed
    * aggregations + two broadcast-sized key joins — no windows, no
    * per-event state; users who never viewed are out of the funnel, later
    * stages stay null where the sequence breaks. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), epochSec(col("ts")).as("es"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("es")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("es") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("es")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("es") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("es")).as("t3"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"))
  }

  /** Hourly-count anomaly flags per event type, as an EXACT-INTEGER z-test:
    * with per-type hourly counts x, S1 = Σx, S2 = Σx², n = #hours, the
    * float test |x − μ| > z·σ cross-multiplies to
    *
    *   (n·x − S1)² > z²·(n·S2 − S1²)
    *
    * — every term BIGINT (no sqrt, no float variance), so the flag relation
    * hash-matches cross-engine. Shapes: one (hour, type) count, one tiny
    * per-type rollup joined back broadcast. Keep n·x < 2^31-ish so the
    * square stays under 2^62 (hourly counts × hours — far under). */
  def eventsAnomaly(spark: SparkSession, dir: String, z: Int = 2): DataFrame = {
    val hourly = t(spark, dir, "events")
      .groupBy(
        (epochSec(col("ts")) - pmod(epochSec(col("ts")), lit(3600))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // two consumers: the rollup and the flag join
    val stats = hourly.groupBy(col("event_type"))
      .agg(sum(col("x")).as("s1"), sum(col("x") * col("x")).as("s2"),
        count(lit(1)).as("n"))
    hourly.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hour_epoch"), col("x").as("n_events"),
        ((col("n") * col("x") - col("s1")) * (col("n") * col("x") - col("s1")) >
          lit(z.toLong * z) * (col("n") * col("s2") - col("s1") * col("s1")))
          .as("is_anomaly"))
  }

  /** Cohort retention: users cohort by their FIRST event's hour; for each
    * cohort hour and hour offset k ≤ `maxOffset`, the count of cohort users
    * active in hour cohort+k — the product-analytics retention triangle.
    * Shapes: the per-user cohort is one user_id agg; joining it back to the
    * hourly activity is co-partitioned on user_id (the agg output reuses the
    * exchange), then one distinct + count on the small (cohort, k) key.
    * Integer hour arithmetic throughout — hash-exact cross-engine. */
  def eventsRetention(spark: SparkSession, dir: String, maxOffset: Int = 3): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"),
        (epochSec(col("ts")) - pmod(epochSec(col("ts")), lit(3600))).as("hour"))
    val cohort = ev.groupBy("user_id").agg(min(col("hour")).as("cohort_hour"))
    ev.join(cohort, "user_id")
      .withColumn("hrs_after", ((col("hour") - col("cohort_hour")) / 3600).cast("long"))
      .filter(col("hrs_after") <= maxOffset)
      .select("cohort_hour", "hrs_after", "user_id").distinct()
      .groupBy("cohort_hour", "hrs_after")
      .agg(count(lit(1)).as("n_users"))
  }

  /** DAU / WAU stickiness: per day, distinct active users that day and over
    * the trailing `window` days, plus the engagement ratio. The trailing
    * window is an explode of each activity day onto the `window` anchor days
    * it contributes to — day cardinality is tiny, so the fan-out is bounded
    * and the count-distincts stay keyed on (day). Integer day arithmetic;
    * the ratio is one IEEE division of small integers (bit-stable). */
  def eventsStickiness(spark: SparkSession, dir: String, window: Int = 3): DataFrame = {
    val du = t(spark, dir, "events")
      .select((epochSec(col("ts")) - pmod(epochSec(col("ts")), lit(86400))).as("day"),
        col("user_id"))
      .distinct().localCheckpoint() // two consumers: DAU and the window fan-out
    val dau = du.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
    val wau = du
      .select(explode(sequence(col("day"),
        col("day") + (window - 1) * 86400L, lit(86400L))).as("anchor"), col("user_id"))
      .groupBy(col("anchor").as("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    // anchors past the last activity day are artifacts of the fan-out: keep
    // only days that actually have activity
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  def eventsSessions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = t(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          epochSec(col("ts")) - epochSec(col("prev_ts")) > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    ev.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(epochSec(col("ts"))) - min(epochSec(col("ts")))).as("duration_sec"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        max(col("duration_sec")).as("max_session_sec"))
  }

  /** Bucketed RANGE JOIN — point-in-interval matching WITHOUT an equi key:
    * `points(ptCol, …)` against `intervals(fromCol, toCol NULL=open, …)`,
    * one output row per (point, covering interval). The naive plan is a
    * broadcast-nested-loop over the full cross space; this one manufactures
    * the equi key a hash join needs: every interval EXPLODES onto the
    * fixed-width time buckets it covers (open intervals to `horizon`), every
    * point lands in exactly one bucket, the join runs on the bucket id, and
    * the exact containment predicate refines the candidates. Each point
    * lives in ONE bucket, so no post-join dedup is needed.
    *
    * Scale shape: shuffle volume = points + Σ(interval span / bucketWidth) —
    * tunable: wide buckets shrink the interval replication, narrow buckets
    * shrink the per-bucket candidate cross space. A span longer than
    * `maxBucketsPerInterval` fails fast (pick a wider bucket or cap the
    * horizon) rather than silently exploding the build side — the
    * [[graft.ops.Dedup]] degenerate-bucket discipline applied to time. */
  def bucketedRangeJoin(points: DataFrame, intervals: DataFrame,
      ptCol: String, fromCol: String, toCol: String,
      bucketWidth: Long, horizon: Long,
      maxBucketsPerInterval: Long = 4096L): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be positive: $bucketWidth")
    val to = coalesce(col(toCol), lit(horizon))
    val firstB = (col(fromCol) / bucketWidth).cast("long")
    // inclusive last bucket: intervals are [from, to), so a `to` on a bucket
    // boundary contributes nothing to that bucket
    val lastB = ((to - 1) / bucketWidth).cast("long")
    // the span guard rides INSIDE the sequence bound so column pruning can
    // never drop it unevaluated
    val guardedLast = when(lastB - firstB + 1 > maxBucketsPerInterval,
      raise_error(concat(lit(s"interval spans more than $maxBucketsPerInterval " +
        s"buckets of width $bucketWidth: "), (lastB - firstB + 1).cast("string"))))
      .otherwise(lastB).cast("long")
    val iv = intervals.withColumn("__bucket", explode(sequence(firstB, guardedLast)))
    // horizon contract: an open (to = NULL) interval only explodes onto
    // buckets below `horizon`, so a point at or beyond it would silently
    // miss open intervals the exact predicate accepts — fail fast instead
    // (pick a horizon above the max point)
    val guardedPt = when(col(ptCol) >= horizon,
      raise_error(concat(lit(s"point at or beyond horizon $horizon would " +
        "silently miss open intervals: "), col(ptCol).cast("string"))))
      .otherwise(col(ptCol)).cast(points.schema(ptCol).dataType)
    val pts = points.withColumn("__bucket", (guardedPt / bucketWidth).cast("long"))
    pts.join(iv, Seq("__bucket"))
      .filter(col(fromCol) <= col(ptCol) &&
        (col(toCol).isNull || col(ptCol) < col(toCol)))
      .drop("__bucket")
  }
}
