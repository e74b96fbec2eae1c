package graft.ops

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.graph.GraphBuilder

/** Injected write faults against the batch-ledger stores, one table row per
  * store: a merge whose input throws part-way through the write must leave
  * the state and its ledger as they were, and a retry under the same batch
  * id must equal a run that never crashed. */
class StoreFaultSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-storefault").toString + "/store"

  /** Wraps one input column so that evaluating it throws. */
  private val boom = udf { (s: String) =>
    if (s != null) throw new IllegalStateException("injected write fault")
    true
  }
  private val fault: Column => Column = c => when(boom(c.cast("string")), c)

  private def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("injected write fault")))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** A store under test: `seed` writes its first batch, `merge` folds the
    * second with `wrap` applied to one input column. */
  private case class Store(name: String, seed: String => Unit,
      merge: (String, Column => Column) => Boolean,
      rows: String => Seq[String], ledger: String => Set[String])

  private def edgeDelta(rows: (String, String, Int)*) =
    GraphBuilder.edgeState(rows.toDF("source", "target", "sent"))

  private val dim = 4
  private def vecs(rows: (Long, Double)*) =
    rows.map { case (i, v) => (i, Seq.fill(dim)(v)) }.toDF("vec_id", "embedding")

  private def clog(rows: (String, Long, String)*) =
    rows.map { case (s, ts, op) => (s, "r", "x", ts, op) }.toDF("s", "p", "o", "ts", "op")

  private val stores = Seq(
    Store("EdgeStore",
      s => EdgeStore.merge(edgeDelta(("A", "B", 0), ("C", "D", 1)), s, "b1"),
      (s, w) => EdgeStore.merge(
        edgeDelta(("A", "B", 0), ("E", "F", 0)).withColumn("source", w(col("source"))), s, "b2"),
      s => sorted(EdgeStore.state(spark, s)), EdgeStore.mergedBatches(spark, _)),
    Store("ComponentStore",
      s => ComponentStore.merge(Seq(("A", "B")).toDF("source", "target"), s, "b1"),
      (s, w) => ComponentStore.merge(Seq(("B", "C"), ("D", "E")).toDF("source", "target")
        .withColumn("source", w(col("source"))), s, "b2"),
      s => sorted(ComponentStore.state(spark, s)), ComponentStore.mergedBatches(spark, _)),
    Store("CentroidStore",
      s => CentroidStore.init(vecs((0L, 1.0), (1L, 1.0), (2L, 9.0), (3L, 9.0)),
        col("vec_id"), col("embedding"), s, CentroidStore.Params(k = 2, dim = dim, scale = 10)),
      (s, w) => CentroidStore.ingest(vecs((10L, 2.0), (11L, 8.0)),
        col("vec_id"), w(col("embedding")), s, "b2"),
      s => sorted(CentroidStore.state(spark, s)), CentroidStore.mergedBatches(spark, _)),
    Store("ChangelogStore",
      s => ChangelogStore.merge(clog(("a", 10L, "add"), ("b", 10L, "add")), s, "b1"),
      (s, w) => ChangelogStore.merge(
        clog(("a", 20L, "del"), ("c", 20L, "add")).withColumn("s", w(col("s"))), s, "b2"),
      s => sorted(ChangelogStore.log(spark, s)), ChangelogStore.mergedBatches(spark, _)))

  stores.foreach { st =>
    test(s"${st.name}: a merge that fails mid-write changes nothing; its retry equals an uncrashed run") {
      val crashed = tmp()
      st.seed(crashed)
      val (rows0, ledger0) = (st.rows(crashed), st.ledger(crashed))
      val e = intercept[Exception](st.merge(crashed, fault))
      assert(injected(e), e)
      assert(st.rows(crashed) == rows0 && st.ledger(crashed) == ledger0)
      assert(st.merge(crashed, identity))
      val clean = tmp()
      st.seed(clean)
      assert(st.merge(clean, identity))
      assert(st.rows(crashed) == st.rows(clean))
      assert(st.ledger(crashed) == st.ledger(clean) && st.ledger(clean) == ledger0 + "b2")
    }

    test(s"${st.name}: a read leaves a writer's in-flight state.merge-tmp alone") {
      val store = tmp()
      st.seed(store)
      val marker = Paths.get(s"$store/state.merge-tmp/marker")
      Files.createDirectories(marker.getParent)
      Files.write(marker, Array[Byte](1))
      st.rows(store)
      st.ledger(store)
      assert(Files.exists(marker))
    }
  }

  test("CentroidStore: init over a stale state.merge-tmp from a killed init succeeds") {
    val store = tmp()
    val stale = Paths.get(s"$store/state.merge-tmp/part-00000-stale.parquet")
    Files.createDirectories(stale.getParent)
    Files.write(stale, "torn".getBytes("UTF-8"))
    stores.find(_.name == "CentroidStore").get.seed(store)
    assert(CentroidStore.mergedBatches(spark, store) == Set("init"))
    assert(CentroidStore.params(spark, store) == CentroidStore.Params(2, dim, 10))
  }
}
