package graft.tools

import java.util.concurrent.atomic.AtomicLong
import scala.util.{Failure, Success, Try}
import org.apache.spark.SweepListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import graft.exec.Bounded

/** Full-registry timing sweep: runs EVERY SparkEntry query against
  * SPARK_GRAFT_SF_DIR in ONE session (warm pass + best-of-reps timed
  * `count()`), printing one line per query and a final JSON map. Pairs
  * with tools/time_oracle.py (the same queries' DuckDB oracle timings) to
  * produce the per-query engine-vs-single-node table in BASELINE.md.
  *
  * Each query runs twice over: on its default path, and inside
  * [[Bounded.distributedOnly]], where every driver fast path declines and
  * each operator runs its distributed loop. The line reports, for each,
  * the row count, the best wall and the Spark job count of the last timed
  * pass (a listener counting job starts):
  *
  *   sweep <name> rows=<n> best=<s> jobs=<j> dist rows=<n> best=<s> jobs=<j>
  *
  * A path that throws prints `FAILED: <exception>` in place of its fields.
  * The JSON map holds the default path's best walls only (-1 on failure).
  *
  * `count()` (not toRdd.count) is used on BOTH engines' side deliberately:
  * the sweep compares end-to-end single-query latency including Catalyst
  * analysis, the regime a user pays for one ad-hoc query. The Bench gate
  * numbers (plan-kept rdd.count) measure the opposite regime; both are
  * labeled in BASELINE.md.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
  * SWEEP_REPS (default 2), SWEEP_ONLY / SWEEP_SKIP (comma-separated names).
  */
object SweepTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SWEEP_REPS", "2").toInt
    val only = sys.env.getOrElse("SWEEP_ONLY", "").split(",").filter(_.nonEmpty).toSet
    val skip = sys.env.getOrElse("SWEEP_SKIP", "").split(",").filter(_.nonEmpty).toSet
    val spark = SparkSession.builder()
      .master(s"local[$cpus]").appName("graft-sweep")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    // (rows, best wall, jobs of the last timed pass) after one warm pass
    // (JIT, codegen, file listing)
    def timed(run: => Long): (Long, Double, Long) = {
      val rows = run
      var passJobs = 0L
      val best = (1 to reps).map { _ =>
        SweepListenerBus.drain(spark.sparkContext)
        val j0 = jobs.get
        val t0 = System.nanoTime()
        run
        val s = (System.nanoTime() - t0) / 1e9
        SweepListenerBus.drain(spark.sparkContext)
        passJobs = jobs.get - j0
        s
      }.min
      (rows, best, passJobs)
    }
    // every Throwable, as a failed query must not end the sweep
    def attempt[T](body: => T): Try[T] =
      try Success(body) catch { case e: Throwable => Failure(e) }
    def show(t: Try[(Long, Double, Long)]): String = t match {
      case Success((rows, best, n)) => f"rows=$rows best=$best%.3f jobs=$n"
      case Failure(e) => s"FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => (only.isEmpty || only(n)) && !skip(n))
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val default = attempt(timed(fn(spark, sfDir).count()))
      out(name) = default.map(_._2).getOrElse(-1.0)
      val dist = attempt(timed(Bounded.distributedOnly(fn(spark, sfDir).count())))
      println(s"sweep $name ${show(default)} dist ${show(dist)}")
      System.out.flush()
    }
    val js = out.map { case (k, v) => f""""$k":$v%.4f""" }.mkString("{", ",", "}")
    println(s"""SWEEP_JSON $js""")
    spark.stop()
  }
}
