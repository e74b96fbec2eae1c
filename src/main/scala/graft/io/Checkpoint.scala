package graft.io

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.Observed

/** Resumable stage execution with per-partition lineage — the engine feature
  * behind the north_rule "resumable from checkpoint with per-partition lineage
  * + metrics" requirement. The reference's primitive form of this is the
  * sqlite `skip_existed` insert-if-absent / `write_missed` path
  * (arelight/data/writers/sqlite_native.py:89-94,
  * arelight/predict/writer_sqlite3.py:22-31); the engine lifts it to bucket
  * granularity so resume needs no per-row existence probes at 10^12 rows.
  *
  * Layout under `path`:
  *   data/     parquet, partitioned by graft_bucket = pmod(xxhash64(url), n)
  *   _lineage/ parquet (bucket, rows, wall_ms, n_buckets) — one row per
  *             COMPLETED bucket; n_buckets pins the modulus so a resume with a
  *             different bucket count FAILS FAST instead of silently
  *             reinterpreting bucket ids over a different url partitioning.
  *
  * Exactly-once per bucket: data is written with dynamic partition overwrite,
  * so re-processing a bucket (e.g. after a crash between the data write and
  * the lineage append) REPLACES its partition instead of duplicating rows.
  * The transform must be deterministic per url — which the whole engine is by
  * construction (deterministic ids, SURVEY.md §4.3).
  *
  * Row metrics come from an `Observation` ON the write pass (read through
  * [[graft.exec.Observed]]) — NOT from re-reading the just-written output,
  * which at 100 TB would be a second full pass over stage output. Only if
  * the listener bus never delivers the metric does the run fall back to
  * that rescan (`ResumeReport.rowCountSource == "rescan"`).
  */
object Checkpoint {

  val BucketCol = "graft_bucket"

  /** Null urls hash a fixed sentinel (deterministic, explicit) rather than
    * relying on hash-of-null semantics. */
  def bucketOf(url: Column, nBuckets: Int): Column =
    pmod(xxhash64(coalesce(url.cast("string"), lit("\u0000graft_null_url"))), lit(nBuckets))

  final case class ResumeReport(
      processedBuckets: Seq[Long],
      skippedBuckets: Long,
      rowsWritten: Long,
      rowCountSource: String = "observed") {
    def isComplete: Boolean = processedBuckets.isEmpty
  }

  private def lineagePath(path: String) = s"$path/_lineage"
  private def dataPath(path: String) = s"$path/data"

  /** Buckets already recorded as complete; fails fast if the recorded modulus
    * differs from `expectNBuckets` (bucket ids would mean different url sets).
    * No lineage yet — an absent `_lineage`, or one holding no visible file
    * (only the `_temporary/` of a killed first append) — is a fresh start;
    * any other read failure propagates. */
  def completedBuckets(spark: SparkSession, path: String, expectNBuckets: Int = -1): Set[Long] = {
    val dir = lineagePath(path)
    val visible = Swap.exists(spark, dir) &&
      Swap.fs(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
        .exists(n => !n.startsWith("_") && !n.startsWith("."))
    if (!visible) Set.empty
    else {
      val lin = spark.read.parquet(dir)
      if (expectNBuckets > 0) {
        // a lineage dir WITHOUT the n_buckets column is a pre-upgrade (or
        // foreign) checkpoint — fail fast rather than silently restarting
        // from scratch and mixing schemas in the lineage dir
        require(lin.schema.fieldNames.contains("n_buckets"),
          s"checkpoint at $path has lineage without the n_buckets column — " +
            "unknown bucket modulus; delete the checkpoint or migrate its lineage")
        val recorded = lin.select("n_buckets").distinct().collect().map(_.getLong(0))
        require(recorded.forall(_ == expectNBuckets.toLong),
          s"checkpoint at $path was written with n_buckets=${recorded.mkString(",")}, " +
            s"resume requested $expectNBuckets — bucket ids are incompatible")
      }
      lin.select("bucket").collect().map(_.getLong(0)).toSet
    }
  }

  /** Per-bucket lineage/metrics table (bucket, rows, wall_ms, n_buckets). */
  def lineage(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(lineagePath(path))

  /** The stage's (complete or partial) output. */
  def result(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(dataPath(path))

  /** Run `transform` over the buckets of `input` not yet recorded in lineage,
    * writing outputs partitioned by bucket and appending lineage rows.
    *
    * @param input       any relation carrying `urlCol`
    * @param urlCol      document-identity column; drives bucketing on BOTH the
    *                    input filter and the output partitioning (the transform
    *                    must preserve it under name `outUrlCol`)
    * @param maxBuckets  process at most this many pending buckets this run
    *                    (incremental operation / bounded-failure-domain knob)
    */
  def runResumable(
      input: DataFrame,
      urlCol: String,
      outUrlCol: String,
      nBuckets: Int,
      path: String,
      maxBuckets: Int = Int.MaxValue)(
      transform: DataFrame => DataFrame)(implicit spark: SparkSession): ResumeReport = {

    val done = completedBuckets(spark, path, nBuckets)
    val pendingAll = (0L until nBuckets.toLong).filterNot(done)
    val pending = pendingAll.take(maxBuckets)
    if (pending.isEmpty) return ResumeReport(Seq.empty, done.size.toLong, 0L)

    val t0 = System.nanoTime()
    val inBucketed = input.withColumn(BucketCol, bucketOf(col(urlCol), nBuckets))
    val selected =
      if (pending.size == nBuckets) inBucketed
      else inBucketed.filter(col(BucketCol).isin(pending: _*))

    val out = transform(selected.drop(BucketCol))
      .withColumn(BucketCol, bucketOf(col(outUrlCol), nBuckets))

    // per-bucket row counts observed during the single write pass (one
    // conditional-sum aggregate per pending bucket — nBuckets is an operator
    // config, small by design). Each call observes through its own
    // Observation, so concurrent runResumable calls never cross-read.
    // coalesce: sum over ZERO rows is null — empty buckets must still record
    // rows=0 and complete (the documented contract), not NPE on getLong
    val perBucket = pending.map(b =>
      coalesce(sum(when(col(BucketCol) === b, 1L).otherwise(0L)), lit(0L)).as(s"rows_$b"))
    val rowsObs = Observation()
    val observed = out.observe(rowsObs, perBucket.head, perBucket.tail: _*)

    observed.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BucketCol)
      .parquet(dataPath(path))
    val wallMs = (System.nanoTime() - t0) / 1000000L

    val (counts, source) = Observed.row(rowsObs) match {
      case Some(row) =>
        (pending.zipWithIndex.map { case (b, i) =>
          b -> (if (row.isNullAt(i)) 0L else row.getLong(i))
        }.toMap, "observed")
      case None => // listener bus never delivered (should not happen) — fall back
        val c = spark.read.parquet(dataPath(path))
          .withColumn(BucketCol, col(BucketCol).cast("long"))
          .filter(col(BucketCol).isin(pending: _*))
          .groupBy(col(BucketCol).as("bucket")).agg(count(lit(1)).as("rows"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        (c, "rescan")
    }

    // lineage: one row per bucket actually processed this run (buckets whose
    // input was empty still complete — recorded with rows=0)
    import spark.implicits._
    val lineageRows = pending.map(b => (b, counts.getOrElse(b, 0L), wallMs, nBuckets.toLong))
    val rowsWritten = lineageRows.map(_._2).sum
    lineageRows.toDF("bucket", "rows", "wall_ms", "n_buckets")
      .repartition(1).write.mode("append").parquet(lineagePath(path))

    ResumeReport(pending, done.size.toLong, rowsWritten, source)
  }
}
