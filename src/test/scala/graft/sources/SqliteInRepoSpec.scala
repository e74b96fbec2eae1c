package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Paths

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The built-in sqlite parser ([[Sqlite]]) against a fixture kept in the
  * repository (`src/test/resources/sqlite/samples-predict.sqlite`, written by
  * `tools/make_sqlite_fixture.py` with Python's stdlib sqlite3 3.40.1), so the
  * parser is tested on every host. The rows follow closed-form rules, mirrored
  * here, so every decoded value is checked. [[SqliteFixtureSpec]] keeps the
  * byte-exact parity with the reference's own fixtures.
  */
class SqliteInRepoSpec extends AnyFunSuite with graft.SparkTestSession {

  private val path =
    Paths.get(getClass.getResource("/sqlite/samples-predict.sqlite").toURI).toString

  // the generator's rules (tools/make_sqlite_fixture.py)
  private val Rows = 60
  private val LongRow = 17
  private val NullRow = 23
  private val ints = Seq(0L, 1L, -1L, 127L, 128L, -129L, 40000L, 1L << 31, -(1L << 40), 1L << 62)
  private def textA(i: Int): String =
    if (i == NullRow) null
    else if (i == LongRow) (0 until 10000).map(k => ('a' + k % 26).toChar).mkString
    else s"doc $i: " + "слово " * (i % 5) + (if (i % 7 == 0) "😀 ｚ" else "") + "end"
  private def score(i: Int): Double = i / 4.0 - 3
  private def predicted(i: Int): Boolean = i % 4 != 0

  test("schema discovery: tables, columns, declared types and the rowid alias") {
    val ts = Sqlite.tables(path)
    assert(ts.map(_.name) == Seq("contents", "predict"))
    val Seq(contents, predict) = ts
    assert(contents.columns == Seq("id", "doc_id", "text_a", "s_ind", "score", "entities"))
    assert(contents.declaredTypes == Seq("INTEGER", "TEXT", "TEXT", "INTEGER", "REAL", "TEXT"))
    assert(contents.rowidAlias.isEmpty)
    assert(predict.columns == Seq("id", "col_0", "col_1", "col_2", "tag"))
    assert(predict.declaredTypes == Seq("INTEGER", "INTEGER", "INTEGER", "INTEGER", "BLOB"))
    assert(predict.rowidAlias.contains(0))
  }

  test("rows: interior page, overflow chain, integer widths, REAL stored as integer, NULL, UTF-8") {
    val (_, rows) = Sqlite.readRows(path, "contents")
    assert(rows.length == Rows)
    rows.zipWithIndex.foreach { case (r, i) =>
      val ctx = s"contents row $i"
      assert(r(0) == i.toLong, ctx)
      assert(r(1) == s"d${i / 10}", ctx)
      assert(r(2) == textA(i), ctx)
      assert(r(3) == ints(i % ints.length), ctx)
      // sqlite stores an integral REAL as an integer on disk
      val s = score(i)
      assert(r(4) == (if (s == math.rint(s)) s.toLong else s), ctx)
      assert(r(5) == s"e$i,e${i + 1}", ctx)
    }
    assert(rows(LongRow)(2).asInstanceOf[String].length == 10000)

    val (_, preds) = Sqlite.readRows(path, "predict")
    val ids = (0 until Rows).filter(predicted)
    assert(preds.map(_(0)) == ids.map(_.toLong)) // the alias column takes the rowid
    preds.zip(ids).foreach { case (r, i) =>
      assert((1 to 3).map(k => r(k)) == (0 until 3).map(k => if (i % 3 == k) 1L else 0L), s"predict $i")
      assert(new String(r(4).asInstanceOf[Array[Byte]], StandardCharsets.UTF_8) == s"tag-$i")
    }
  }

  test("DataFrame scan: declared types map to long/double/string") {
    val df = Sqlite.table(spark, path, "contents")
    assert(df.schema.map(_.dataType) == Seq(LongType, StringType, StringType, LongType, DoubleType, StringType))
    val got = df.select(col("id"), col("score"), col("s_ind")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == (0 until Rows).map(i => (i.toLong, score(i), ints(i % ints.length))))
    val tags = Sqlite.table(spark, path, "predict").select(col("tag")).collect().map(_.getString(0)).toSeq
    assert(tags == (0 until Rows).filter(predicted).map(i => s"tag-$i"))
  }

  test("contents INNER JOIN predict ON id: one one-hot label per predicted row") {
    val contents = Sqlite.table(spark, path, "contents")
    val preds = Sqlite.table(spark, path, "predict").withColumnRenamed("id", "pid")
    val joined = contents.join(preds, contents("id") === preds("pid"), "inner")
      .select(col("id"), col("col_0"), col("col_1"), col("col_2"), col("text_a"))
      .collect().sortBy(_.getLong(0))
    val ids = (0 until Rows).filter(predicted)
    assert(joined.map(_.getLong(0)).toSeq == ids.map(_.toLong))
    joined.zip(ids).foreach { case (r, i) =>
      val label = (1 to 3).indexWhere(k => r.getLong(k) > 0)
      assert(label == i % 3, s"row $i")
      assert(r.getString(4) == textA(i), s"row $i")
    }
  }

  test("sqlite doc source: one non-null text_a = one doc, row-ordered ids") {
    val rows = DocSources.sqliteTable(spark, path, "contents", "text_a").collect()
      .map(r => r.getString(0) -> r.getString(1)).sortBy(_._1.split(':').last.toInt).toSeq
    val texts = (0 until Rows).map(textA).filter(_ != null)
    assert(rows == texts.zipWithIndex.map { case (t, k) => s"$path:$k" -> t })
  }
}
