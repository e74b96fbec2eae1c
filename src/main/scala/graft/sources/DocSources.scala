package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-document sources mirroring the reference's ingest formats
  * (arelight/run/utils.py:28-51, SURVEY.md §2.1 S1-S3/S6/S7/S9).
  *
  * Every source yields `(doc_id, text)` with the reference's doc-id convention
  * `"<filepath>:<row_index>"` (arelight/doc_provider.py:46). Whole-file
  * sources use index 0; row sources number rows in file order.
  */
object DocSources {

  /** S1: one txt file = one document; content right-stripped
    * (run/utils.py:48-51). */
  def txt(spark: SparkSession, paths: String): DataFrame =
    spark.read.option("wholetext", "true").text(paths)
      .select(
        concat(input_file_name(), lit(":0")).as("doc_id"),
        regexp_replace(col("value"), raw"\s+$$", "").as("text")) // Python rstrip(): all trailing whitespace

  /** S2: one csv row (named column) = one document; configurable delimiter,
    * utf-8-sig tolerated (BOM stripped from the header). Row index = file
    * order (zipWithIndex — deterministic per file listing). */
  def csvColumn(spark: SparkSession, path: String, column: String, delimiter: String = ","): DataFrame = {
    import spark.implicits._
    val df = spark.read
      .option("header", "true").option("sep", delimiter)
      .option("multiLine", "true").option("escape", "\"")
      .csv(path)
    val cols = df.columns.map(c => c.replace("﻿", ""))
    val clean = df.toDF(scala.collection.immutable.ArraySeq.unsafeWrapArray(cols): _*).select(col(column).as("text"))
    clean.rdd.zipWithIndex().map { case (r, i) => (s"$path:$i", r.getString(0)) }
      .toDF("doc_id", "text")
  }

  /** S6: tsv(.gz) scan — compression inferred from extension by Spark. */
  def tsv(spark: SparkSession, path: String, column: String): DataFrame =
    csvColumn(spark, path, column, delimiter = "\t")

  /** S7: jsonl scan, one document per line from the given field. */
  def jsonl(spark: SparkSession, path: String, field: String): DataFrame = {
    import spark.implicits._
    spark.read.json(path).select(col(field).as("text"))
      .rdd.zipWithIndex().map { case (r, i) => (s"$path:$i", r.getString(0)) }
      .toDF("doc_id", "text")
  }

  /** S3: zip archive — recurse into members, dispatch txt/csv per extension
    * (run/utils.py:40-47). Distributed via binaryFiles + executor-side unzip;
    * member doc ids are `<member_name>:<idx>` like the reference. */
  def zip(spark: SparkSession, path: String, csvColumn: String = "text",
      csvDelimiter: Char = ','): DataFrame = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(path).flatMap { case (_, pds) =>
      val zin = new ZipInputStream(pds.open())
      val out = Seq.newBuilder[(String, String)]
      try {
        var e = zin.getNextEntry
        while (e != null) {
          if (!e.isDirectory) {
            val content = new String(zin.readAllBytes(), StandardCharsets.UTF_8)
            if (e.getName.endsWith(".txt")) {
              out += (s"${e.getName}:0" -> content.replaceAll(raw"\s+$$", ""))
            } else if (e.getName.endsWith(".csv")) {
              val reader = new BufferedReader(new java.io.StringReader(content))
              val header = Option(reader.readLine())
                .map(_.replace("﻿", "").split(csvDelimiter).toSeq).getOrElse(Seq.empty)
              val ci = header.indexOf(csvColumn)
              if (ci >= 0) {
                var line = reader.readLine()
                var i = 0
                while (line != null) {
                  val cells = line.split(csvDelimiter)
                  if (ci < cells.length) { out += (s"${e.getName}:$i" -> cells(ci)); i += 1 }
                  line = reader.readLine()
                }
              }
            }
          }
          e = zin.getNextEntry
        }
      } finally zin.close()
      out.result()
    }.toDF("doc_id", "text")
  }

  /** S4: one sqlite table row (named column) = one document, via the built-in
    * read-only sqlite parser (graft.sources.Sqlite; reference
    * arelight/third_party/sqlite3.py:27-43). Row index = rowid order. */
  def sqliteTable(spark: SparkSession, path: String, table: String, column: String): DataFrame = {
    import spark.implicits._
    Sqlite.table(spark, path, table).select(col(column).cast("string").as("text"))
      .filter(col("text").isNotNull) // sqlite NULLs: fail at the source, not deep in a task
      .rdd.zipWithIndex().map { case (r, i) => (s"$path:$i", r.getString(0)) }
      .toDF("doc_id", "text")
  }

  /** F2: per-source docs limit (arelight/doc_provider.py:43-44) — keep the
    * first `n` documents of each file by row index. */
  def docsLimit(docs: DataFrame, n: Int): DataFrame =
    docs.filter(
      substring_index(col("doc_id"), ":", -1).cast("long") < n)

  /** Adapt a (doc_id, text) relation to the engine's Page shape. */
  def asPages(docs: DataFrame, lang: String = "en")(implicit spark: SparkSession): Dataset[graft.core.Page] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .map(r => graft.core.Page(r.getString(0), null, null, r.getString(1), lang))
  }

  /** WARC / .warc.gz archive scan → Pages (engine extension; see
    * [[graft.sources.Warc]]). One narrow flatMap over the `binaryFile`
    * source: parallelism is file granularity, the Common-Crawl segment
    * layout (thousands of ~1 GB files per crawl → thousands of tasks, no
    * shuffle). Its planner charges each file an open cost, so a few small
    * files get a task each; with fewer files than cores, the decoded pages
    * are dealt round-robin over the cores before the parse. */
  def warc(spark: SparkSession, path: String, lang: String = "en"): Dataset[graft.core.Page] = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    val pages = files.flatMap { case (name, raw) =>
      val plain = if (name.endsWith(".gz")) Warc.gunzipAll(raw) else raw
      Warc.pages(plain, lang)
    }
    val cores = spark.sparkContext.defaultParallelism
    if (files.rdd.getNumPartitions < cores) pages.repartition(cores) else pages
  }
}
