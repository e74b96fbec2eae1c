package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The store commit protocol on plain files: each case lays out `live`,
  * `tmp` and `bak` by hand and checks what `commit`/`recover` leave. */
class SwapSpec extends AnyFunSuite with SparkTestSession {

  private def fixture(): (Path, Swap) = {
    val d = Files.createTempDirectory("graft-swap")
    (d, Swap(s"$d/state", s"$d/state.tmp", s"$d/state.bak"))
  }

  private def put(dir: String, body: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "data"), body.getBytes(UTF_8))
  }

  private def body(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "data")), UTF_8)

  private def exists(p: String) = Files.exists(Paths.get(p))

  test("commit onto an absent live is one rename; onto a present live replaces it") {
    val (_, s) = fixture()
    s.commit(spark)(put(_, "v1"))
    assert(body(s.live) == "v1" && !exists(s.tmp) && !exists(s.bak))
    s.commit(spark)(put(_, "v2"))
    assert(body(s.live) == "v2" && !exists(s.tmp) && !exists(s.bak))
  }

  test("commit creates live's parent directory when it is missing") {
    val (d, _) = fixture()
    val s = Swap(s"$d/state/d-1", s"$d/.tmp-1", s"$d/.bak-1")
    s.commit(spark)(put(_, "v1"))
    assert(body(s.live) == "v1")
  }

  test("commit clears a stale tmp before writing") {
    val (_, s) = fixture()
    put(s.tmp, "stale")
    Files.write(Paths.get(s.tmp, "junk"), Array[Byte](1))
    s.commit(spark)(put(_, "v1"))
    assert(body(s.live) == "v1" && !exists(s"${s.live}/junk"))
  }

  test("recover: bak alone is restored; bak beside live is dropped; tmp is left alone") {
    val (_, s) = fixture()
    put(s.bak, "old")
    put(s.tmp, "in-flight")
    s.recover(spark)
    assert(body(s.live) == "old" && !exists(s.bak))
    assert(body(s.tmp) == "in-flight")
    put(s.bak, "older")
    s.recover(spark)
    assert(body(s.live) == "old" && !exists(s.bak) && body(s.tmp) == "in-flight")
    s.recover(spark) // idempotent
    assert(body(s.live) == "old")
    Files.move(Paths.get(s.live), Paths.get(s.bak))
    assert(s.exists(spark) && body(s.live) == "old") // exists recovers first
  }

  test("a write that throws leaves live intact, and the next commit succeeds") {
    val (_, s) = fixture()
    s.commit(spark)(put(_, "v1"))
    intercept[IllegalStateException] {
      s.commit(spark) { tmp => put(tmp, "half"); throw new IllegalStateException("boom") }
    }
    assert(body(s.live) == "v1" && !exists(s.bak))
    s.commit(spark)(put(_, "v2"))
    assert(body(s.live) == "v2" && !exists(s.tmp))
  }

  test("a failed second rename rolls bak back to live and raises") {
    val (_, s) = fixture()
    s.commit(spark)(put(_, "v1"))
    // a write that leaves no tmp makes the tmp -> live rename fail (Hadoop's
    // local filesystem raises here rather than returning false)
    intercept[Exception](s.commit(spark)(_ => ()))
    assert(body(s.live) == "v1" && !exists(s.bak))
  }

  test("ledger, params and batch ids") {
    val (d, _) = fixture()
    val dir = s"$d/x"
    assert(Swap.readLedger(spark, dir).isEmpty && Swap.readParams(spark, dir).isEmpty)
    Swap.writeLedger(spark, dir, Set("b2", "b1"))
    assert(new String(Files.readAllBytes(Paths.get(dir, "_batches.txt")), UTF_8) == "b1\nb2\n")
    assert(Swap.readLedger(spark, dir) == Set("b1", "b2"))
    Swap.writeParams(spark, dir, "k" -> 3, "dim" -> 8, "scale" -> 1000)
    assert(new String(Files.readAllBytes(Paths.get(dir, "_params.json")), UTF_8) ==
      """{"k":3,"dim":8,"scale":1000}""")
    assert(Swap.readParams(spark, dir).contains(Map("k" -> 3, "dim" -> 8, "scale" -> 1000)))
    // hand-written JSON with whitespace (a fresh dir: no stale .crc beside it)
    Files.createDirectories(Paths.get(s"$d/y"))
    Files.write(Paths.get(s"$d/y", "_params.json"), """{ "p" : 12 }""".getBytes(UTF_8))
    assert(Swap.readParams(spark, s"$d/y").contains(Map("p" -> 12)))
    Swap.requireBatchId("b-1")
    intercept[IllegalArgumentException](Swap.requireBatchId(" "))
    intercept[IllegalArgumentException](Swap.requireBatchId("a\nb"))
  }
}
