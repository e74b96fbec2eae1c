package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (forked JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}

trait SparkTestSession {
  implicit lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Registers a test twice: as is, where at least one bounded probe must
  * take its driver path ([[graft.exec.Bounded.recording]]), and with every
  * probe declining ([[graft.exec.Bounded.distributedOnly]]), so one body
  * checks both paths. */
trait BothPaths { self: AnyFunSuite =>
  def bothPaths(name: String)(body: => Unit): Unit = {
    test(name) {
      val (_, probes) = graft.exec.Bounded.recording(body)
      assert(probes.exists(_.path == graft.exec.Bounded.Driver), s"no fast path ran: $probes")
    }
    test(s"$name [distributedOnly]")(graft.exec.Bounded.distributedOnly(body))
  }
}
