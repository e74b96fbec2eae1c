package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** The names of the SQL actions `body` launches, in order, seen by a
    * listener on a CHILD session: ExecutionListenerManager is per-session,
    * so actions of concurrently running suites (on the shared session)
    * never land here. */
  def actions(body: SparkSession => Unit): List[String] = {
    val s2 = spark.newSession()
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        names.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    s2.listenerManager.register(listener)
    try {
      body(s2)
      // listener events are async: wait until the stream goes quiet
      val deadline = System.nanoTime() + 10000000000L
      var last = -1
      while (names.size() != last && System.nanoTime() < deadline) {
        last = names.size(); Thread.sleep(300)
      }
      names.asScala.toList
    } finally s2.listenerManager.unregister(listener)
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
