package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language id, quality
  * scoring, token counting, fingerprinting. All declarative built-ins (no UDF),
  * map-side only — they compose with any scan and never shuffle. */
object TextStats {

  import Dedup.tokens

  /** Per-language stopword profiles for the n-gram/stopword-vote language id.
    * Deliberately small; extend per corpus. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de"),
    "es" -> Seq("el", "los", "las", "y", "es", "de"))

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Stopword-vote language id: argmax over profiles, ties/zero -> "und".
    * Tiebreak: first profile in declaration order with the max votes. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val votes = langProfiles.map { case (lang, ws) => (lang, countIn(toks, ws)) }
    val maxV = greatest(votes.map(_._2): _*)
    val pick = votes.foldRight(lit("und")) { case ((lang, v), acc) =>
      when(v === maxV && maxV > 0, lit(lang)).otherwise(acc)
    }
    // foldRight builds nested whens; first-in-order profile wins a tie because
    // its `when` is outermost
    pick
  }

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "is", "to", "in", "it", "that")

  /** Quality metrics: token count, char count, mean token length,
    * type-token ratio, stopword ratio, punctuation ratio. Exact-division
    * doubles over integer counts — engine-portable bit-for-bit. */
  def quality(df: DataFrame, text: Column, id: Column): DataFrame = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    df.select(
      id.as("id"),
      size(toks).as("n_tokens"),
      length(text).as("n_chars"),
      (length(text).cast("double") / nTok).as("chars_per_token"),
      (size(array_distinct(toks)).cast("double") / nTok).as("type_token_ratio"),
      (countIn(toks, defaultStopwords).cast("double") / nTok).as("stopword_ratio"),
      (size(filter(toks, t => t.rlike("[^\\p{L}\\p{N}]"))).cast("double") / nTok)
        .as("punct_token_ratio"))
  }

  /** Readability profile in exact integer arithmetic: word / sentence /
    * syllable-proxy counts and a Flesch-reading-ease-style score. The
    * syllable proxy is the classic vowel-group count (maximal [aeiouy]+
    * runs in the lowercased text); sentences are 1 + terminal-punctuation
    * runs (a text with no terminators is one sentence). The score is the
    * published Flesch formula ×1000 with each term integer-divided —
    * deterministic and hash-exact cross-engine, unlike the float original:
    *
    *   flesch_x1000 = 206835 − (1015·words) div sents − (84600·syll) div words
    *
    * plus `long_word_permille` (tokens ≥ 7 chars — the LIX-family length
    * signal). Map-side built-ins only, one projection, no shuffle; at
    * 100 TB this rides the same scan as [[quality]]/[[gopherRules]].
    * Output: (id, n_words, n_sents, n_syllables, n_long_words,
    * flesch_x1000, long_word_permille); rows with zero words are dropped
    * (no readability without words). */
  def readability(df: DataFrame, text: Column, id: Column): DataFrame = {
    val base = df.select(id.as("id"), tokens(text).as("toks"),
      size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0))).cast("long").as("n_syllables"),
      (lit(1L) + size(regexp_extract_all(text, lit("[.!?]+"), lit(0)))).cast("long").as("n_sents"))
    base.select(col("id"),
        size(col("toks")).cast("long").as("n_words"),
        col("n_sents"), col("n_syllables"),
        size(filter(col("toks"), t => length(t) >= 7)).cast("long").as("n_long_words"))
      .filter(col("n_words") >= 1L)
      .select(col("id"), col("n_words"), col("n_sents"), col("n_syllables"),
        col("n_long_words"),
        expr("206835L - (1015L * n_words) div n_sents - (84600L * n_syllables) div n_words")
          .as("flesch_x1000"),
        expr("(n_long_words * 1000L) div n_words").as("long_word_permille"))
  }

  /** Repetition signals (the Gopher-rules family): duplicate-line fraction
    * and the share of bigram occurrences taken by the single most frequent
    * bigram — the two cheap detectors for boilerplate/looping text. Map-side
    * built-ins, row-local: the mode count is O(distinct×n) WITHIN a row, no
    * shuffle. Arrays are materialized in their own projection first so the
    * nested HOF lambdas reference only attributes (see [[Dedup.shingles]] on
    * the outer-capture re-evaluation trap). */
  def repetition(df: DataFrame, text: Column, id: Column): DataFrame = {
    val base = df.select(id.as("id"),
      split(text, "\n").as("lines"),
      Dedup.shingles(tokens(text), 2).as("bg"))
    base.select(col("id"),
      size(col("lines")).cast("long").as("n_lines"),
      ((size(col("lines")) - size(array_distinct(col("lines")))).cast("double") /
        size(col("lines")).cast("double")).as("dup_line_frac"),
      when(size(col("bg")) === 0, lit(0.0)).otherwise(
        array_max(transform(array_distinct(col("bg")),
          s => size(filter(col("bg"), x => x === s)))).cast("double") /
          size(col("bg")).cast("double")).as("top_bigram_frac"))
  }

  /** C4-style cleaning rules (Raffel et al. 2020 §2.2, public): line-level —
    * keep only lines that end in terminal punctuation, carry at least
    * `minWordsPerLine` words, and don't mention "javascript"; document-level
    * — flag "lorem ipsum" placeholder text and curly braces (code), and keep
    * a document only if at least `minLinesKept` lines survive and neither
    * flag fires. Emits the flags AND the line-filtered text, so callers can
    * audit or rebuild. Row-local built-ins (nested HOF lambdas reference
    * only their own arguments — the outer-capture trap), no shuffle.
    *
    * Output: (id, n_lines, n_kept, has_lorem, has_brace, keep, clean_text). */
  def c4Rules(df: DataFrame, text: Column, id: Column,
      minWordsPerLine: Int = 5, minLinesKept: Int = 3): DataFrame = {
    val base = df.select(id.as("id"), text.as("t"), split(text, "\n").as("lines"))
    val keptLines = filter(col("lines"), l =>
      rtrim(l).rlike("[.!?\"]$") &&
        size(filter(split(trim(l), "\\s+"), w => w =!= "")) >= minWordsPerLine &&
        !lower(l).contains("javascript"))
    base.select(col("id"), col("t"), size(col("lines")).as("n_lines"), keptLines.as("kept"))
      .select(
        col("id"),
        col("n_lines").cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        lower(col("t")).contains("lorem ipsum").as("has_lorem"),
        col("t").contains("{").as("has_brace"),
        (size(col("kept")) >= minLinesKept &&
          !lower(col("t")).contains("lorem ipsum") &&
          !col("t").contains("{")).as("keep"),
        concat_ws("\n", col("kept")).as("clean_text"))
  }

  /** Gopher quality rules (Rae et al. 2021 §A1.1, public) with every ratio
    * threshold CROSS-MULTIPLIED to integers (3 ≤ mean word len ≤ 10 becomes
    * 3n ≤ Σlen ≤ 10n, etc.) so the keep decision is exact BIGINT arithmetic
    * — no float ratios to drift cross-engine. Rules: word count in
    * [minWords, maxWords]; mean word length in [3, 10]; symbol-to-word
    * ratio ('#' + '...') ≤ 1/10; bullet-start lines ≤ 9/10; ellipsis-end
    * lines ≤ 3/10; words-with-an-alphabetic-char ≥ 4/5; ≥ 2 stopword hits.
    * Row-local; arrays materialized in their own projection (HOF
    * outer-capture trap). Output: per-rule counts + the keep flag. */
  def gopherRules(df: DataFrame, text: Column, id: Column,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val base = df.select(id.as("id"), text.as("t"),
      tokens(text).as("toks"), split(text, "\n").as("lines"))
    base.select(
      col("id"),
      size(col("toks")).cast("long").as("n_words"),
      aggregate(transform(col("toks"), w => length(w).cast("long")),
        lit(0L), (a, v) => a + v).as("sum_word_len"),
      (regexp_count(col("t"), lit("#")) + regexp_count(col("t"), lit(raw"\.\.\.")))
        .cast("long").as("n_symbols"),
      size(col("lines")).cast("long").as("n_lines"),
      size(filter(col("lines"), l => trim(l).rlike("^[-*•]"))).cast("long")
        .as("n_bullet"),
      size(filter(col("lines"), l => rtrim(l).rlike(raw"\.\.\.$$"))).cast("long")
        .as("n_ellipsis"),
      size(filter(col("toks"), w => w.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
      size(filter(col("toks"), w => w.isInCollection(defaultStopwords))).cast("long")
        .as("n_stop_hits"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("sum_word_len") >= lit(3L) * col("n_words") &&
          col("sum_word_len") <= lit(10L) * col("n_words") &&
          lit(10L) * col("n_symbols") <= col("n_words") &&
          lit(10L) * col("n_bullet") <= lit(9L) * col("n_lines") &&
          lit(10L) * col("n_ellipsis") <= lit(3L) * col("n_lines") &&
          lit(5L) * col("n_alpha") >= lit(4L) * col("n_words") &&
          col("n_stop_hits") >= 2)
  }

  /** PII patterns shared by [[piiScrub]] and its oracle — written in the
    * common Java-regex/RE2 dialect subset so both engines match identically. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", raw"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", raw"\+\d[\d\- ]{7,}\d", "<PHONE>"))

  /** PII scrubbing (the CCNet/Dolma pre-training hygiene pass): emails, IPv4
    * addresses and international-format phone numbers replaced by typed
    * placeholder tokens, with per-document match counts for auditing.
    * Applied in [[piiPatterns]] order (emails first — an address must not be
    * half-eaten by the phone rule). Row-local regexp built-ins, no UDF, no
    * shuffle. Output: (id, n_email, n_ip, n_phone, scrubbed). */
  def piiScrub(df: DataFrame, text: Column, id: Column): DataFrame = {
    val counts = piiPatterns.map { case (name, re, _) =>
      regexp_count(text, lit(re)).cast("long").as(s"n_$name")
    }
    val scrubbed = piiPatterns.foldLeft(text) { case (c, (_, re, repl)) =>
      regexp_replace(c, lit(re), lit(repl))
    }
    df.select((id.as("id") +: counts :+ scrubbed.as("scrubbed")): _*)
  }

  /** BPE-ish subword token count: word pieces + standalone punctuation via
    * regex extraction (the usual pre-tokenizer shape). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(raw"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"), lit(0)))

  /** Canonical document fingerprint: md5 over the space-joined sorted distinct
    * token set (robust to token order / duplication). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))).cast("binary"))

  /** Tf-idf top-k keyword extraction per document, in integer log2 space
    * (cross-engine exact, see [[LangModel.ilog2]]): score = tf *
    * (ilog2(n_docs) - ilog2(df)) — corpus-universal terms (df = n_docs)
    * score 0, rare terms get the full integer idf. Scale shape: one shuffle
    * to (id, term) counts (localCheckpointed — three consumers), the df
    * relation is vocabulary-sized and joins on the term key, n_docs rides a
    * one-row broadcast, and the per-doc top-k is a WindowGroupLimit window
    * (k rows per doc retained per partition, no full materialization). */
  def tfIdfTopK(df: DataFrame, text: Column, id: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(id.as("id"), explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = tf.agg(countDistinct(col("id")).cast("long").as("n_docs"))
    val scored = tf.join(dft, "term").crossJoin(broadcast(nd))
      .withColumn("score",
        col("tf") * (LangModel.ilog2(col("n_docs")) - LangModel.ilog2(col("df"))))
    val w = Window.partitionBy(col("id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("id"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("df"), col("score"))
  }

  /** Distributed TF-IDF retrieval: top-k documents per query through an
    * inverted-index join — the data-curation retrieval step (targeted
    * corpus slices, eval-set neighbor mining) with the SAME all-integer
    * weight as [[tfIdfTopK]]: tf · (ilog2(N) − ilog2(df)), so the ranking
    * is bit-identical cross-engine. A query term counts once (document tf
    * carries the weight); terms absent from the corpus contribute nothing.
    *
    * Shape at corpus scale: postings (tf) build is one exchange; the
    * query-term join is keyed on term — the classic inverted-index shape.
    * Ultra-common terms make hot postings keys: `maxDf` > 0 drops terms in
    * more than that many documents BEFORE the join (stop-listing — they
    * carry near-zero idf weight but full join cost; at web scale always
    * set it). Top-k per query is a WindowGroupLimit.
    * Output: (qid, rank, doc_id, score). */
  def tfIdfRetrieve(docs: DataFrame, text: Column, id: Column,
      queries: DataFrame, qid: Column, qtext: Column,
      k: Int, maxDf: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(id.as("id"), explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds df, N and the postings join
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val capped = if (maxDf > 0) dft.filter(col("df") <= maxDf) else dft
    val nd = tf.agg(countDistinct(col("id")).cast("long").as("n_docs"))
    // NOTE (round-6 A/B): semi-join-pruning tf to the query vocabulary
    // before the df join measured SLOWER (2.14s vs 1.82s at sf0.1) — the
    // tf-by-term exchange below is canonical-equal to the df aggregate's
    // and gets REUSED, so the "big" join was already riding a shared
    // shuffle, and the prune replaced it with a second, different exchange
    // plus a checkpoint barrier. Keep the shared-exchange shape.
    val postings = tf.join(capped, "term").crossJoin(broadcast(nd))
      .withColumn("w",
        col("tf") * (LangModel.ilog2(col("n_docs")) - LangModel.ilog2(col("df"))))
    val qt = queries
      .select(qid.as("qid"), explode(array_distinct(tokens(qtext))).as("term"))
      .filter(col("term") =!= "")
    val scored = qt.join(postings, "term")
      .groupBy(col("qid"), col("id")).agg(sum(col("w")).as("score"))
    val win = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(win)).filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("id").as("doc_id"), col("score"))
  }

  /** TextRank keyword scores (the public graph-ranking keyword-extraction
    * formulation): exact integer PageRank over the corpus-wide word
    * co-occurrence graph — terms are nodes; each ADJACENT token pair
    * contributes a symmetrized edge, weighted by corpus adjacency count.
    * Terms that co-occur with many well-connected terms rank highest — the
    * unsupervised keyword signal a curation pipeline uses where tf-idf has
    * no query. Engine extension; reference anchor: none (ARElight ranks
    * graph NODES by degree, `arelight/backend/d3js/graphs_operations.py`,
    * never corpus vocabulary).
    *
    * Scale shape: tokenization is row-local; the only shuffle before the
    * rank loop is the (a, b) adjacency rollup, whose cardinality is bounded
    * by vocabulary², not corpus size. Adjacency counts saturate at the
    * [[graft.graph.GraphOps.pageRank]] weight bound (10^5) — mirrored in
    * the oracle — so one degenerate bigram cannot overflow the exact
    * integer recurrence at any corpus size. Self-adjacencies (immediately
    * repeated tokens) carry no ranking signal and are dropped. Output:
    * (id, r) — term, BIGINT rank, as in the pageRank family. */
  def textRankKeywords(df: DataFrame, text: Column, iters: Int = 3): DataFrame = {
    // materialize the token array in its own projection: the transform
    // lambda below must capture an attribute, not the split expression
    // (a captured expression subtree re-evaluates per element)
    val toks = df.select(tokens(text).as("terms")).filter(size(col("terms")) >= 2)
    val adj = toks
      .select(explode(transform(sequence(lit(0), size(col("terms")) - 2),
        i => struct(element_at(col("terms"), i + 1).as("a"),
          element_at(col("terms"), i + 2).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "" && col("a") =!= col("b"))
    val edges = adj
      .union(adj.select(col("b"), col("a")))
      .groupBy(col("a").as("source"), col("b").as("target"))
      .agg(least(count(lit(1)), lit(100000L)).cast("double").as("c"))
    graft.graph.GraphOps.pageRank(edges, iters)
  }

  /** Exact quantiles by value histogram — the scale-correct exact-percentile
    * pattern when value cardinality << row count (lengths, scores, counts):
    * one aggregation to (value, cnt), a cumulative sum over the value-ordered
    * HISTOGRAM (bounded cardinality, so the single-partition window is over a
    * small relation — never over the raw rows), then each requested q picks
    * the smallest value whose cumulative count reaches floor(q*(n-1)) + 1.
    * Exact cross-engine: counts are BIGINT and q*(n-1) is one double multiply
    * floored identically by both engines. Output: (q, value) per quantile. */
  def histogramQuantiles(df: DataFrame, value: Column, qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df.groupBy(value.as("v")).agg(count(lit(1)).as("cnt")).localCheckpoint()
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val tot = hist.agg(sum(col("cnt")).cast("long").as("n"))
    val qdf = qs.toDF("q")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qdf))
      .filter(col("cum") >=
        floor(col("q") * (col("n") - 1).cast("double")).cast("long") + 1)
      .groupBy(col("q")).agg(min(col("v")).as("value"))
  }

  /** Zipf rank-frequency relation: top-k corpus terms with their global
    * rank (freq DESC, term ASC — deterministic). The frequency aggregation
    * is distributed (partial combines on the term key); the ranking window
    * runs over the AGGREGATED vocabulary relation — bounded cardinality,
    * the [[histogramQuantiles]] argument for a single-partition window.
    * The corpus-health diagnostic: a healthy natural corpus is ~power-law;
    * boilerplate floods flatten the head. Output: (rank, term, freq). */
  def zipf(df: DataFrame, text: Column, k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val freqs = df.select(explode(split(trim(text), raw"\s+")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    freqs
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("freq").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col("rank").cast("long").as("rank"), col("term"), col("freq"))
  }

  /** Per-source corpus health report — the C4/RefinedWeb-style per-domain
    * rollup a webtext curation pipeline watches: document and token volume,
    * exact-duplicate count (docs minus distinct content hashes WITHIN the
    * source — a high rate flags boilerplate-heavy domains), and mean length.
    * One two-level aggregation: count-distinct rewrites to a partial-agg
    * pair of exchanges on (source, hash) then (source), so no per-source
    * row list ever materializes; mean is exact-BIGINT-over-BIGINT double
    * division (bit-identical cross-engine). */
  def sourceStats(df: DataFrame, text: Column, source: Column): DataFrame =
    df.select(source.as("source"),
        size(split(trim(text), raw"\s+")).cast("long").as("toks"),
        md5(text.cast("binary")).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"),
        (sum(col("toks")).cast("double") / count(lit(1)).cast("double")).as("mean_tokens"))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): hash every token into one
    * of `buckets` feature buckets, estimate the target and raw feature
    * distributions from bucket counts, and score each document by the summed
    * log-likelihood ratio of its features — the standard cheap proxy for
    * "how target-like is this document" that drives pretraining-data
    * selection. Exact cross-engine arithmetic: the log ratio is the integer
    * log2 difference `ilog2(c_target + 1) − ilog2(c_raw + 1)` per bucket
    * ([[LangModel.ilog2]]; add-one smoothing keeps empty buckets total), and
    * the document weight is the BIGINT sum of `count_in_doc · log_ratio`.
    *
    * Bucket hash = top-60-bit md5 mod `buckets` — the [[Dedup]] hash family,
    * replayed verbatim in the DuckDB oracle.
    *
    * Scale shape: one shuffle to (doc, bucket) counts; the two distribution
    * estimates re-aggregate that relation down to `buckets` rows; the
    * log-ratio dictionary (≤ `buckets` rows) is BROADCAST back onto the
    * per-doc counts — at 10^12 documents the only large exchange is the
    * first one, and the dictionary stays a constant-size build side. */
  def dsirWeights(df: DataFrame, text: Column, id: Column, isTarget: Column,
      buckets: Int = 64): DataFrame = {
    val perDoc = df.select(id.as("doc_id"), isTarget.as("is_t"),
        explode(tokens(text)).as("term"))
      .select(col("doc_id"), col("is_t"),
        (conv(substring(md5(col("term").cast("binary")), 1, 15), 16, 10)
          .cast("long") % buckets).as("b"))
      .groupBy(col("doc_id"), col("is_t"), col("b"))
      .agg(count(lit(1)).as("c_doc"))
      .localCheckpoint()
    val raw = perDoc.groupBy(col("b")).agg(sum(col("c_doc")).cast("long").as("c_raw"))
    val tgt = perDoc.filter(col("is_t"))
      .groupBy(col("b")).agg(sum(col("c_doc")).cast("long").as("c_tgt"))
    val dict = raw.join(tgt, Seq("b"), "left")
      .select(col("b"),
        (LangModel.ilog2(coalesce(col("c_tgt"), lit(0L)) + 1L) -
          LangModel.ilog2(col("c_raw") + 1L)).as("lr"))
    perDoc.join(broadcast(dict), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c_doc") * col("lr")).cast("long").as("dsir_w"),
        sum(col("c_doc")).cast("long").as("n_terms"))
  }

  /** Hashed linear quality-classifier INFERENCE (fastText shape, Joulin et
    * al. 2016 — the model-based filter stage of DCLM / FineWeb-Edu style
    * pipelines): unigram + bigram features hashed to `buckets` via the
    * cross-engine md5 idiom, summed against a weight vector, keep when the
    * score is non-negative. The WEIGHTS are the pluggable model seam —
    * production passes trained weights as a broadcast (b, w) relation; the
    * default derives a deterministic pseudo-weight per bucket
    * (`(b·2654435761) % 2001 − 1000`, Knuth's multiplicative constant) so
    * the whole inference plumbing (feature hashing, weight lookup, per-doc
    * reduction) is real and oracle-checkable without shipping a model.
    * Scale shape: tokenize/hash/weigh are map-side; the only shuffle is the
    * per-doc aggregation, and a passed weight table broadcasts (a fastText
    * bucket table is ~2M rows — always broadcastable). All integer.
    * Output: (doc_id, n_feats, score, keep). */
  def linearClassifier(df: DataFrame, text: Column, id: Column,
      buckets: Int = 1024, weights: Option[DataFrame] = None): DataFrame = {
    val toks = df.select(id.as("doc_id"), tokens(text).as("ts"))
    // unigrams ++ bigrams off the MATERIALIZED token array (HOF lambdas
    // must not re-evaluate the split — the phrase-mining lesson)
    val feats = toks.select(col("doc_id"), explode(concat(col("ts"),
      when(size(col("ts")) >= 2,
        transform(sequence(lit(0), size(col("ts")) - 2),
          i => array_join(slice(col("ts"), i + 1, lit(2)), " ")))
        .otherwise(array().cast("array<string>")))).as("f"))
    val hashed = feats.select(col("doc_id"),
      (conv(substring(md5(col("f").cast("binary")), 1, 15), 16, 10)
        .cast("long") % buckets).as("b"))
    val weighted = weights match {
      case Some(w) => hashed
        .join(broadcast(w.select(col("b"), col("w"))), Seq("b"), "left")
        .select(col("doc_id"), coalesce(col("w"), lit(0L)).as("w"))
      case None => hashed.select(col("doc_id"),
        ((col("b") * lit(2654435761L)) % 2001L - 1000L).as("w"))
    }
    weighted.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).cast("long").as("score"))
      .withColumn("keep", (col("score") >= 0L).cast("long"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003, the
    * MOSS algorithm): hash every `k`-token gram, slide a window of `w`
    * consecutive gram hashes, and keep the minimum hash of each window
    * (rightmost position on ties). Guarantees: any shared token run of
    * length ≥ k + w − 1 between two documents yields at least one shared
    * selected fingerprint, while storage drops to ~2/(w+1) of the gram
    * count — the selective local-dedup / plagiarism sketch that [[Dedup]]'s
    * whole-document minhash cannot provide (it detects SHARED PASSAGES, not
    * near-identical documents). Output: one row per distinct selected
    * (id, pos, hash); join on the hash to find cross-document shared spans.
    *
    * Documents with fewer than w grams contribute their single all-gram
    * window (at least one fingerprint per non-empty document).
    *
    * Scale shape: gram hashing is map-side; the selection is ONE window pass
    * partitioned by document (min over a w-row frame of (hash, −pos) structs
    * — the struct min IS the rightmost-tie argmin, no second pass and no
    * w-fold row blowup), then a distinct on the selected rows. Nothing
    * shuffles except the per-document window partition and the final
    * distinct, both keyed on the document id. Hashes are md5 hex strings —
    * cross-engine exact vs the DuckDB oracle. */
  def winnowing(df: DataFrame, text: Column, id: Column,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1: k=$k w=$w")
    import org.apache.spark.sql.expressions.Window
    val g = df.select(id.as("id"), posexplode(Dedup.shingles(tokens(text), k)))
      .select(col("id"), col("pos").cast("long").as("pos"),
        md5(col("col").cast("binary")).as("h"))
    val frame = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1L)
    val all = Window.partitionBy(col("id"))
    g.withColumn("sel", min(struct(col("h"), (-col("pos")).as("np"))).over(frame))
      .withColumn("m", count(lit(1)).over(all))
      .filter(col("pos") <= col("m") - w || col("pos") === 0L)
      .select(col("id"), (-col("sel.np")).as("pos"), col("sel.h").as("h"))
      .distinct()
  }
}
