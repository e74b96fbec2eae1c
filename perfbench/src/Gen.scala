package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

import graft.core.{Page, Sentiment}
import graft.gen.PageGen
import graft.graph.{D3Json, GraphBuilder}
import graft.kg.{KgPipeline, LexiconScorer, Sampler}
import graft.link.Linker
import graft.ner.BracketNer
import graft.sources.Warc
import graft.text.TextOps

/** Seeded benchmark inputs. Run once per seed, before any timed phase.
  *
  *   crawl OUT N SEED   Common-Crawl-size pages (15-40 sentences): the rows
  *                      of `PageGen.pages(N, SEED, sentsMin = 15,
  *                      sentsMax = 40)`, written as 8 parquet files under OUT
  *                      in Spark's schema for `Page` (parquet-hadoop's
  *                      example writer, no SparkSession to start).
  *   wide  DIR N SEED SEGMENTS
  *                      Two crawl batches over a wide Zipf vocabulary with
  *                      spelling variants. Batch SEED: N pages written as
  *                      SEGMENTS `.warc.gz` files (one gzip member per
  *                      record) under DIR/warc. Batch SEED+1 is the previous
  *                      crawl: its d3 force graph is built with the engine's
  *                      driver-side functions (html→text, BracketNer,
  *                      `Linker.lshGroups`, `Sampler`, `LexiconScorer`,
  *                      `GraphBuilder.buildLocal`) and saved under DIR/prev.
  *
  * The same arguments always give the same bytes.
  */
object Gen {

  def main(args: Array[String]): Unit = args.toList match {
    case "crawl" :: out :: n :: seed :: Nil => crawl(out, n.toLong, seed.toLong)
    case "wide" :: dir :: n :: seed :: segs :: Nil => wide(dir, n.toInt, seed.toLong, segs.toInt)
    case _ => sys.error("usage: crawl OUT N SEED | wide DIR N SEED SEGMENTS")
  }

  private val pageSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary url (STRING);
      |  optional int64 warc_ts (TIMESTAMP(MICROS,true));
      |  optional binary html;
      |  optional binary text (STRING);
      |  optional binary lang (STRING);
      |}""".stripMargin)

  def crawl(out: String, n: Long, seed: Long): Unit = {
    Files.createDirectories(Paths.get(out))
    val files = 8
    val per = (n + files - 1) / files
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val jobs = (0 until files).map { f =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val w = ExampleParquetWriter
            .builder(new LocalOutputFile(Paths.get(out, f"part-$f%05d.snappy.parquet")))
            .withType(pageSchema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
          val groups = new SimpleGroupFactory(pageSchema)
          try for (i <- f * per until math.min(n, (f + 1) * per)) {
            val p = PageGen.page(seed, i, 15, 40)
            w.write(groups.newGroup()
              .append("url", p.url).append("warc_ts", p.warc_ts.getTime * 1000L)
              .append("html", Binary.fromConstantByteArray(p.html))
              .append("text", p.text).append("lang", p.lang))
          } finally w.close()
        }
      })
    }
    try jobs.foreach(_.get()) finally pool.shutdown()
  }

  /** splitmix64, the same step PageGen uses. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s = mix(s); s }
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  val VocabSize = 10000
  private val types = Vector("GPE", "PERSON", "ORG", "LOC")
  private val syllables = Vector(
    "ka", "lo", "ven", "dra", "mi", "sor", "tal", "bre", "qui", "nor",
    "fa", "zel", "rum", "pe", "gau", "tin", "os", "wy", "char", "lem",
    "bo", "dax", "ir", "shu", "vol", "ne", "gri", "ath", "po", "mun",
    "ce", "ryn", "hal", "tu", "es", "jor", "ki", "ul", "fen", "yas")

  /** Entity `i` of the wide vocabulary: four syllables picked by a bijective
    * mix of `i`, so no two entities share a spelling and near-identical
    * spellings between different entities are rare. */
  def entity(i: Int): (String, String) = {
    val k = syllables.length
    var x = ((i.toLong * 7919L + 104729L) % (k.toLong * k * k * k)).toInt
    val b = new StringBuilder
    for (_ <- 0 until 4) { b ++= syllables(x % k); x /= k }
    (types(i % types.length), b.toString.capitalize)
  }

  /** Spelling variant `v` (1 or 2) of a name: one letter doubled, at a
    * position that depends on `v` — close enough for 3-shingle LSH. */
  def variant(name: String, v: Int): String = {
    val p = if (v == 1) name.length / 2 else name.length - 2
    name.substring(0, p + 1) + name.charAt(p) + name.substring(p + 1)
  }

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / math.pow(i + 1, 1.1))
    val total = w.sum
    val cdf = new Array[Double](w.length)
    var acc = 0.0
    for (i <- w.indices) { acc += w(i) / total; cdf(i) = acc }
    cdf
  }

  private def zipf(r: Double): Int = {
    var lo = 0; var hi = zipfCdf.length - 1
    while (lo < hi) { val mid = (lo + hi) / 2; if (zipfCdf(mid) < r) lo = mid + 1 else hi = mid }
    lo
  }

  private val pos = Vector("praised", "supported", "welcomed", "cooperation", "agreement")
  private val neg = Vector("condemned", "attacked", "sanctions", "threat", "crisis")
  private val fill = Vector("yesterday", "reported", "statement", "meeting", "officials",
    "summit", "talks", "delegation", "press", "sources", "announced", "during", "regional")

  /** Text of page `i` of a wide batch: 6-14 lines, 1-3 mentions per line;
    * 15% of mentions use one of two spelling variants. */
  def wideText(seed: Long, i: Long): String = {
    val rng = new Rng(mix(seed) ^ mix(i + 0x5151L))
    val nSents = 6 + rng.nextInt(9)
    (0 until nSents).map { _ =>
      val ents = (0 until 1 + rng.nextInt(3)).map { _ =>
        val (t, v) = entity(zipf(rng.nextDouble()))
        val r = rng.nextInt(100)
        val spelled = if (r < 10) variant(v, 1) else if (r < 15) variant(v, 2) else v
        s"[$t:$spelled]"
      }
      val cue = rng.nextInt(3) match {
        case 0 => pos(rng.nextInt(pos.length))
        case 1 => neg(rng.nextInt(neg.length))
        case _ => fill(rng.nextInt(fill.length))
      }
      val words = Vector.fill(2 + rng.nextInt(4))(fill(rng.nextInt(fill.length)))
      (words.take(2) ++ (ents.head +: ents.tail.flatMap(e => Seq(cue, e))) ++ words.drop(2))
        .mkString(" ")
    }.mkString("\n")
  }

  private def widePage(seed: Long, i: Int): Page = {
    val html = PageGen.pageHtml(wideText(seed, i))
    Page(f"https://wide.test/$seed%d/$i%07d", new Timestamp(1700000000000L + i * 1000L),
      html, TextOps.extractText(html), "en")
  }

  def wide(dir: String, n: Int, seed: Long, segments: Int): Unit = {
    Files.createDirectories(Paths.get(dir, "warc"))
    val per = (n + segments - 1) / segments
    for (s <- 0 until segments) {
      val recs = (s * per until math.min(n, (s + 1) * per)).map { i =>
        val p = widePage(seed, i)
        Warc.responseRecord(p.url, p.warc_ts, p.html)
      }
      Files.write(Paths.get(dir, "warc", f"segment-$s%03d.warc.gz"), Warc.writeGz(recs))
    }
    val prev = previousGraph((0 until n).map(widePage(seed + 1, _)))
    D3Json.save(prev, s"$dir/prev", "prev", intLinkC = true, intNodeC = false)
  }

  /** The graph `Infer --link lsh` builds, computed on the driver. */
  def previousGraph(pages: Seq[Page]): graft.core.Graph = {
    val cfg = KgPipeline.Config(sampler = Sampler.Config(termsPerContext = 50, distInTermsBound = 50))
    val values = pages.flatMap(p =>
      KgPipeline.parsePage(p, BracketNer, cfg).sentences.flatMap(_.mentions.map(_.value)))
    val dict = Linker.lshGroups(values.distinct)
    val gid: String => Long = v => dict.getOrElse(TextOps.canonicalKey(v), Linker.hashGroupId(v))
    val samples = pages.flatMap(p =>
      Sampler.sampleDoc(KgPipeline.parsePage(p, BracketNer, cfg, gid), cfg.sampler))
    val scorer = LexiconScorer()
    val rels = samples.map(s =>
      GraphBuilder.Relation(s.sValue, s.tValue, Sentiment.name(scorer.score(s).label)))
    // last occurrence wins, in Infer's (docId, sentInd, sampleId, side) order
    val types = samples.sortBy(s => (s.docId, s.sentInd, s.id))
      .foldLeft(Map.empty[String, String])((m, s) => m + (s.sValue -> s.sType) + (s.tValue -> s.tType))
    GraphBuilder.buildLocal("prev", rels, types)
  }
}
