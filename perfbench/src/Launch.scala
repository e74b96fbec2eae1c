package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one product CLI (`graft.cli.Infer` or `graft.cli.Operations`) in this
  * fresh JVM and writes a small JSON report next to it:
  *
  *   Launch REPORT TRACE CLASS ARGS...
  *
  * Before calling the CLI's `main` it builds the SparkSession the CLI itself
  * would build (same master, app name and configs; the CLI's `getOrCreate`
  * then returns it), so `setup` is JVM start to SparkSession ready. With
  * TRACE=1 a [[StageStats]] listener and the GC MXBeans are read around the
  * call. The JVM exits with 1 when the CLI's main throws; the error text goes
  * into the report.
  */
object Launch {

  private val AlgebraOps = Set("UNION", "INTERSECTION", "DIFFERENCE")

  /** The session a CLI invocation creates, or None when it runs no Spark. */
  def sessionFor(cli: String, opts: Map[String, String]): Option[SparkSession.Builder] = {
    val cores = Runtime.getRuntime.availableProcessors
    cli match {
      case "graft.cli.Infer" => Some(SparkSession.builder()
        .master(opts.getOrElse("--master", s"local[$cores]"))
        .appName("graft-infer")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC"))
      case "graft.cli.Operations" if !AlgebraOps(opts.getOrElse("--operation", "UNION")) =>
        Some(SparkSession.builder()
          .master(opts.getOrElse("--master", s"local[${math.min(8, cores)}]"))
          .appName("graft-operations")
          .config("spark.sql.shuffle.partitions", "8")
          .config("spark.ui.enabled", "false"))
      case _ => None
    }
  }

  def main(args: Array[String]): Unit =
    System.exit(if (call(args(0), args(1) == "1", args(2), args.drop(3))) 0 else 1)

  /** Runs `cli`'s main with `cliArgs` and writes the report; true if it succeeded. */
  def call(report: String, trace: Boolean, cli: String, cliArgs: Array[String]): Boolean = {
    val opts = cliArgs.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spans = new Spans(Paths.get(report).getFileName.toString)

    val session = sessionFor(cli, opts).map(b => spans.timed("setup")(b.getOrCreate()))
    val stats = if (trace) session.map { s =>
      val l = new StageStats
      s.sparkContext.addSparkListener(l)
      l
    } else None
    val gc0 = Gc.totals

    val mainStart = spans.now()
    val error: Option[Throwable] =
      try {
        Class.forName(cli).getMethod("main", classOf[Array[String]]).invoke(null, cliArgs)
        None
      } catch {
        case e: java.lang.reflect.InvocationTargetException => Some(e.getCause)
        case e: Throwable => Some(e)
      }
    val mainEnd = spans.now()
    val gc1 = Gc.totals
    spans.add("main", mainStart, mainEnd, counters = stats.map(_.snapshot).getOrElse(Map.empty))

    val setupEnd = spans.buf.find(_.name == "setup").map(_.end)
    val err = error.map { e =>
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      Option(root.getMessage).getOrElse(root.toString).linesIterator.take(1).mkString.take(300)
    }
    val fields = Seq(
      s""""cli":"$cli"""",
      s""""ok":${error.isEmpty}""",
      s""""jvm_start_ms":$jvmStart""",
      f""""setup_s":${setupEnd.map(e => f"${(e - jvmStart) / 1000}%.4f").getOrElse("null")}""",
      f""""main_s":${(mainEnd - mainStart) / 1000}%.4f""",
      s""""gc_count":${gc1._1 - gc0._1}""",
      s""""gc_ms":${gc1._2 - gc0._2}""",
      s""""error":${err.map(m => "\"" + Json.esc(m) + "\"").getOrElse("null")}""",
      s""""spans":${spans.json}""")
    Files.write(Paths.get(report), fields.mkString("{", ",", "}\n").getBytes(UTF_8))
    error.foreach(e => e.printStackTrace())
    error.isEmpty
  }
}
