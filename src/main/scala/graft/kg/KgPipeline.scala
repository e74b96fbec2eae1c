package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core._
import graft.ner.{Ner, NerOps}
import graft.text.TextOps

/** End-to-end KG construction over a `pages` table (BASELINE.json input_hint):
  *
  *   pages -> parsedDocs -> samples -> predictions -> triples -> graph
  *
  * Mirrors the reference's 5-stage pipeline (SURVEY.md §3.1) with one crucial
  * structural difference: stages 1-4 are ONE Dataset lineage with no shuffle
  * until graph aggregation. A document is parsed, pair-sampled and scored
  * entirely row-locally; the only shuffles in the whole job are the optional
  * synonym-dictionary build and the final groupBy of the graph edges — both on
  * already-aggregated, far smaller data. This is what lets the job scale
  * linearly with executors (north_rule scaling efficiency >= 0.8).
  */
object KgPipeline {

  final case class Config(
      sampler: Sampler.Config = Sampler.Config(),
      nerTypes: Set[String] = Set("ORG", "PERSON", "LOC", "GPE"), // arelight/run/utils.py:13
      splitter: String = "linesplit", // linesplit | sentence  (arelight/run/utils.py:16-25)
      extractFromHtml: Boolean = false)

  /** Stage 1a-1c: text -> sentences -> terms -> mentions (typed, row-local).
    * Mention ids are per-document ordinals over (sentInd, termInd) — deterministic
    * under resume (SURVEY.md §4.3), unlike the reference's global IdAssigner.
    * `groupId` assigns the synonym group inline (default: the shuffle-free hash
    * grouping, graft.link.Linker.hashGroupId) — fusing linking into the parse
    * pass avoids a second full materialization of every document. */
  def parsePages(pages: Dataset[Page], ner: Ner, cfg: Config,
      groupId: String => Long = graft.link.Linker.hashGroupId)(
      implicit spark: SparkSession): Dataset[ParsedDoc] = {
    import spark.implicits._
    pages.mapPartitions(_.map(p => parsePage(p, ner, cfg, groupId)))
  }

  /** Row-local parse of one page — pure, also usable without a SparkSession. */
  def parsePage(p: Page, ner: Ner, cfg: Config,
      groupId: String => Long = graft.link.Linker.hashGroupId): ParsedDoc = {
    val text = if (cfg.extractFromHtml) TextOps.extractText(p.html) else p.text
    val sents =
      if (cfg.splitter == "linesplit") TextOps.splitLines(text)
      else TextOps.splitSentences(text)
    // index loop, pre-sized output array (hot path: once per document of 10^12)
    var nextId = 0L
    val out = new Array[Sentence](sents.length)
    var i = 0
    while (i < sents.length) {
      val (terms, raw) = ner.tag(TextOps.tokenize(sents(i)))
      val kept = NerOps.filterTypes(raw, cfg.nerTypes)
      val mentions = kept.map { m =>
        val id = nextId; nextId += 1
        Mention(i, m.ind, m.value, m.eType, id, groupId = groupId(m.value))
      }
      out(i) = Sentence(i, terms, mentions)
      i += 1
    }
    ParsedDoc(p.url, p.lang, scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
  }

  /** Stage 1d+2: pair generation + context sampling (row-local flatMap). */
  def samples(docs: Dataset[ParsedDoc], cfg: Config)(
      implicit spark: SparkSession): Dataset[Sample] = {
    import spark.implicits._
    val sCfg = cfg.sampler
    docs.flatMap(d => Sampler.sampleDoc(d, sCfg))
  }

  /** Stage 3 standalone: predictions as their own relation (for external scorers
    * / the compatibility one-hot export). */
  def predictions(ss: Dataset[Sample], scorer: Scorer)(
      implicit spark: SparkSession): Dataset[Prediction] = {
    import spark.implicits._
    ss.map(scorer.score)
  }

  /** Stages 3+4 fused: samples scored in place — no samples⨝predictions shuffle.
    * The reference's positional zip (J3) is an incidental 1:1 id identity; fusing
    * preserves exactly that contract while staying embarrassingly parallel. */
  def triples(ss: Dataset[Sample], scorer: Scorer)(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    ss.map { s =>
      val p = scorer.score(s)
      Triple(s.sValue, s.sType, Sentiment.name(p.label), s.tValue, s.tType,
        s.docId, s.sentInd, s.id)
    }
  }

  /** Zero-token-allocation fused kernel: pages -> triples in ONE pass over the
    * raw text, materializing a String ONLY per emitted mention (~5/doc) and
    * per emitted triple — never per token (~400/doc). The object path
    * allocates every token String plus the ParsedDoc object graph (~20-30 KB
    * of garbage per document), which at tens of kdocs/s/core is hundreds of
    * MB/s/core of DRAM write traffic — measurably the resource that caps the
    * N->4N scaling of a shuffle-free pipeline on a shared-memory box, and at
    * a 10^12-document scale pure waste. This path scans sentence/token
    * boundaries as index ranges over the page text and matches cue words by
    * (hash, region-equals) against the scorer lexicon without substring
    * allocation.
    *
    * Bit-identical output to the object path
    * `triples(samples(parsePages(pages, BracketNer, cfg), cfg), scorer)` — the
    * replicated semantics (each pinned by KgPipelineSpec's fused-parity spec):
    * splitLines' `split("\n", -1)` + Java trim, tokenize's \s runs,
    * BracketNer's bracket/type/value rules INCLUDING the term rewrite of
    * filtered mentions (their bare value participates in cue scoring),
    * NerOps.filterTypes, per-doc mention ordinals, hashGroupId on the mention
    * value, cropBounds prefix-sum scoring, and opinion-id emission order.
    * Supports exactly the fused configuration (linesplit, BracketNer,
    * renderText off, text column) and fails fast otherwise. */
  def triplesFused(pages: Dataset[Page], cfg: Config, scorer: LexiconScorer)(
      implicit spark: SparkSession): Dataset[Triple] =
    fusedImpl(pages, cfg, scorer, entityLexicon = null)

  /** [[triplesFused]] with LexiconNer semantics instead of BracketNer: a
    * token whose canonicalKey (trim + lowercase) is a lexicon key becomes a
    * mention of the mapped type (term NOT rewritten; value = the original
    * token). Matching is allocation-free for ASCII tokens (lowercased region
    * hash + region equality); bit-identical to
    * `triples(samples(parsePages(pages, LexiconNer(lexicon), cfg), cfg), scorer)`
    * — KgPipelineSpec fused-lexicon parity. This is the kernel the
    * oracle-checked DocKg configuration runs. */
  def triplesFusedLexicon(pages: Dataset[Page], cfg: Config,
      lexicon: Map[String, String], scorer: LexiconScorer)(
      implicit spark: SparkSession): Dataset[Triple] =
    fusedImpl(pages, cfg, scorer, entityLexicon = lexicon)

  private def fusedImpl(pages: Dataset[Page], cfg: Config, scorer: LexiconScorer,
      entityLexicon: Map[String, String])(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    require(cfg.splitter == "linesplit", "triplesFused supports splitter=linesplit")
    require(!cfg.sampler.renderText, "triplesFused is the renderText=false path")
    require(!cfg.extractFromHtml, "triplesFused reads the text column directly")
    val nerTypes = cfg.nerTypes
    val pos = scorer.positive
    val neg = scorer.negative
    val bound = cfg.sampler.distInTermsBound
    val tpc = cfg.sampler.termsPerContext
    pages.mapPartitions { it =>
      // cue lexicon keyed by String.hashCode-compatible region hash. A word
      // present in BOTH sets scores +1 — LexiconScorer.respond checks
      // positive FIRST (`if (positive.contains(w)) ... else if
      // (negative.contains(w))`), so negative entries are inserted first and
      // positive ones overwrite
      val cueSign = new java.util.HashMap[String, Integer]
      neg.foreach(w => cueSign.put(w, -1))
      pos.foreach(w => cueSign.put(w, 1))
      val cueByHash: Map[Int, List[(String, Int)]] = {
        import scala.jdk.CollectionConverters._
        cueSign.asScala.toList.map { case (w, s) => (w, s.intValue()) }
          .groupBy(_._1.hashCode)
      }
      val typeArr = nerTypes.toArray
      // LexiconNer mode: entity lexicon keyed by the hash of the CANONICAL
      // (trim+lowercase) token — keys used verbatim like LexiconNer does
      val lexMode = entityLexicon != null
      val lexByHash: Map[Int, List[(String, String)]] =
        if (!lexMode) Map.empty else entityLexicon.toList.groupBy(_._1.hashCode)

      import graft.text.TextOps.isWs // the exact Java-regex \s set

      def regionEquals(text: String, a: Int, b: Int, w: String): Boolean = {
        if (w.length != b - a) return false
        var i = 0
        while (i < w.length) { if (text.charAt(a + i) != w.charAt(i)) return false; i += 1 }
        true
      }

      // ASCII per-char lowercase == String.toLowerCase for ASCII-only input
      def regionEqualsLower(text: String, a: Int, b: Int, w: String): Boolean = {
        if (w.length != b - a) return false
        var i = 0
        while (i < w.length) {
          var c = text.charAt(a + i)
          if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
          if (c != w.charAt(i)) return false
          i += 1
        }
        true
      }

      /** Lexicon type of token region [ts,te) under canonicalKey semantics
        * (Java trim then lowercase); null if absent. ASCII fast path is
        * allocation-free; anything else goes through canonicalKey. */
      def lexType(text: String, ts: Int, te: Int): String = {
        var a = ts; var b = te
        while (a < b && text.charAt(a) <= ' ') a += 1
        while (b > a && text.charAt(b - 1) <= ' ') b -= 1
        var ascii = true
        var q = a
        while (q < b && ascii) { ascii = text.charAt(q) < 128; q += 1 }
        if (!ascii)
          return entityLexicon.getOrElse(
            graft.text.TextOps.canonicalKey(text.substring(ts, te)), null)
        var h = 0
        q = a
        while (q < b) {
          var c = text.charAt(q)
          if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
          h = 31 * h + c; q += 1
        }
        lexByHash.get(h) match {
          case Some(lst) =>
            var r: String = null
            lst.foreach { case (k, v) => if (r == null && regionEqualsLower(text, a, b, k)) r = v }
            r
          case None => null
        }
      }

      /** Cue sign of the term region — TextOps.cueKey semantics: a region of
        * pure [a-z0-9] is its own key (looked up by hash + region equality,
        * no allocation); anything else takes the allocating slow path. */
      def regionSign(text: String, a: Int, b: Int): Int = {
        var fast = true
        var i = a
        while (i < b && fast) {
          val c = text.charAt(i)
          fast = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
          i += 1
        }
        if (!fast) {
          val s = cueSign.get(graft.text.TextOps.cueKey(text.substring(a, b)))
          return if (s == null) 0 else s.intValue()
        }
        var h = 0
        i = a
        while (i < b) { h = 31 * h + text.charAt(i); i += 1 }
        cueByHash.get(h) match {
          case Some(lst) =>
            var r = 0
            lst.foreach { case (w, sg) => if (r == 0 && regionEquals(text, a, b, w)) r = sg }
            r
          case None => 0
        }
      }

      // per-partition reusable scratch (grown on demand, never shrunk)
      var tokS = new Array[Int](256); var tokE = new Array[Int](256)
      var termS = new Array[Int](256); var termE = new Array[Int](256)
      var entity = new Array[Boolean](256)
      var prefix = new Array[Int](257)
      var mInd = new Array[Int](64); var mVal = new Array[String](64)
      var mTyp = new Array[String](64); var mGrp = new Array[Long](64)

      it.flatMap { p =>
        val text = p.text
        val nL = text.length
        val out = Seq.newBuilder[Triple]
        var opinionId = 0L
        var sentInd = 0
        var lineStart = 0
        var done = false
        while (!done) {
          var lineEnd = text.indexOf('\n', lineStart)
          if (lineEnd < 0) { lineEnd = nL; done = true }
          // Java trim: strip chars <= U+0020 at both ends
          var a = lineStart
          var b = lineEnd
          while (a < b && text.charAt(a) <= ' ') a += 1
          while (b > a && text.charAt(b - 1) <= ' ') b -= 1
          // tokenize [a, b): maximal non-\s runs
          var nTok = 0
          var i = a
          while (i < b) {
            var j = i
            while (j < b && !isWs(text.charAt(j))) j += 1
            if (nTok == tokS.length) {
              tokS = java.util.Arrays.copyOf(tokS, nTok * 2)
              tokE = java.util.Arrays.copyOf(tokE, nTok * 2)
              termS = java.util.Arrays.copyOf(termS, nTok * 2)
              termE = java.util.Arrays.copyOf(termE, nTok * 2)
              entity = java.util.Arrays.copyOf(entity, nTok * 2)
              prefix = java.util.Arrays.copyOf(prefix, nTok * 2 + 1)
            }
            tokS(nTok) = i; tokE(nTok) = j; nTok += 1
            i = j
            while (i < b && isWs(text.charAt(i))) i += 1
          }
          // mention detection + term regions (BracketNer + filterTypes)
          var nm = 0
          var k = 0
          while (k < nTok) {
            val ts = tokS(k); val te = tokE(k)
            termS(k) = ts; termE(k) = te; entity(k) = false
            def growMentions(): Unit = if (nm == mInd.length) {
              mInd = java.util.Arrays.copyOf(mInd, nm * 2)
              mVal = java.util.Arrays.copyOf(mVal, nm * 2)
              mTyp = java.util.Arrays.copyOf(mTyp, nm * 2)
              mGrp = java.util.Arrays.copyOf(mGrp, nm * 2)
            }
            if (lexMode) {
              val tpe = lexType(text, ts, te)
              if (tpe != null && (nerTypes.isEmpty || nerTypes.contains(tpe))) {
                growMentions()
                entity(k) = true
                mInd(nm) = k
                mVal(nm) = text.substring(ts, te) // the RAW token, like LexiconNer
                mTyp(nm) = tpe
                mGrp(nm) = graft.link.Linker.hashGroupId(mVal(nm))
                nm += 1
              }
            } else if (te - ts >= 3 && text.charAt(ts) == '[' && text.charAt(te - 1) == ']') {
              // inner region [ts+1, te-1)
              var colon = -1
              var q = ts + 1
              while (q < te - 1 && colon < 0) { if (text.charAt(q) == ':') colon = q; q += 1 }
              var typed = colon > ts + 1 // colon index within inner > 0
              q = ts + 1
              while (q < colon && typed) {
                val c = text.charAt(q)
                typed = Character.isUpperCase(c) || c == '_'
                q += 1
              }
              if (typed) { termS(k) = colon + 1; termE(k) = te - 1 }
              else { termS(k) = ts + 1; termE(k) = te - 1 }
              // filterTypes: typed region vs nerTypes ("UNDEFINED" if untyped)
              var keep = nerTypes.isEmpty
              var t = 0
              while (!keep && t < typeArr.length) {
                val ty = typeArr(t)
                keep =
                  if (typed) regionEquals(text, ts + 1, colon, ty)
                  else ty == "UNDEFINED"
                t += 1
              }
              if (keep) {
                growMentions()
                entity(k) = true
                mInd(nm) = k
                mVal(nm) = text.substring(termS(k), termE(k))
                mTyp(nm) = if (typed) text.substring(ts + 1, colon) else "UNDEFINED"
                mGrp(nm) = graft.link.Linker.hashGroupId(mVal(nm))
                nm += 1
              }
            }
            k += 1
          }
          if (nm >= 2) {
            // cue prefix sums over term regions, entity positions zeroed
            prefix(0) = 0
            k = 0
            while (k < nTok) {
              val v = if (entity(k)) 0 else regionSign(text, termS(k), termE(k))
              prefix(k + 1) = prefix(k) + v
              k += 1
            }
            var si = 0
            while (si < nm) {
              var ti = 0
              while (ti < nm) {
                if (si != ti && mGrp(si) != mGrp(ti) &&
                    math.abs(mInd(si) - mInd(ti)) <= bound) {
                  val (start, end) = Sampler.cropBounds(nTok, mInd(si), mInd(ti), tpc)
                  val score = prefix(end) - prefix(start)
                  val label =
                    if (score > 0) Sentiment.Positive
                    else if (score < 0) Sentiment.Negative
                    else Sentiment.Neutral
                  out += Triple(mVal(si), mTyp(si), Sentiment.name(label),
                    mVal(ti), mTyp(ti), p.url, sentInd, s"${p.url}#$opinionId")
                  opinionId += 1
                }
                ti += 1
              }
              si += 1
            }
          }
          sentInd += 1
          lineStart = lineEnd + 1
        }
        out.result()
      }
    }
  }

  /** Join variant (reference J3/J4 semantics: samples INNER JOIN predictions ON id)
    * for when predictions were materialized separately (resume, external model). */
  def triplesJoined(ss: Dataset[Sample], preds: Dataset[Prediction])(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    ss.joinWith(preds, ss("id") === preds("id"), "inner").map { case (s, p) =>
      Triple(s.sValue, s.sType, Sentiment.name(p.label), s.tValue, s.tType,
        s.docId, s.sentInd, s.id)
    }
  }

  /** The reference's library read API record
    * (AREkitSamplesService.iter_samples_and_predict_sqlite3,
    * arelight/arekit/sample_service.py:27-68): per joined (sample, prediction)
    * row — {filename, text, s_val, t_val, s_type, t_type, label} with an
    * optional record filter. */
  def tripleRecords(ss: Dataset[Sample], preds: Dataset[Prediction],
      filterRecord: Option[org.apache.spark.sql.Column] = None)(
      implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val joined = ss.join(preds.withColumnRenamed("id", "pid"), ss("id") === col("pid"), "inner")
      .select(
        col("docId").as("filename"),
        col("textA").as("text"),
        col("sValue").as("s_val"), col("tValue").as("t_val"),
        col("sType").as("s_type"), col("tType").as("t_type"),
        col("label"))
    filterRecord.map(joined.filter).getOrElse(joined)
  }

  /** Compatibility export of the reference's `contents` schema: list columns
    * comma-joined (SURVEY.md §1.2), for byte-level diffs against fixtures. */
  def contentsCompat(ss: Dataset[Sample])(implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    ss.select(
      col("id"), col("docId").as("doc_id"), col("textA").as("text_a"),
      col("textB").as("text_b"), col("sInd").as("s_ind"), col("tInd").as("t_ind"),
      col("opinionId").as("opinion_id"), col("linkageId").as("linkage_id"),
      concat_ws(",", col("entities")).as("entities"),
      concat_ws(",", col("entityValues")).as("entity_values"),
      concat_ws(",", col("entityTypes")).as("entity_types"),
      col("sentInd").cast("string").as("sent_ind"))
  }

  /** Compatibility export of the one-hot prediction layout
    * (col_0=neutral, col_1=positive, col_2=negative — by-name contract,
    * arelight/arekit/sample_service.py:17-24). */
  def predictionsOneHot(preds: Dataset[Prediction])(implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    preds.select(
      col("id"),
      when(col("label") === Sentiment.Neutral, 1).otherwise(0).as("col_0"),
      when(col("label") === Sentiment.Positive, 1).otherwise(0).as("col_1"),
      when(col("label") === Sentiment.Negative, 1).otherwise(0).as("col_2"))
  }
}
