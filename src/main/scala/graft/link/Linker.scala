package graft.link

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.ParsedDoc
import graft.exec.Bounded
import graft.graph.GraphBuilder
import graft.text.TextOps

/** Entity canonicalization (reference P9: synonym grouping,
  * arelight/run/infer.py:293-298 + arelight/synonyms.py:4-14).
  *
  * The reference keeps a mutable driver-side dictionary and registers unseen
  * values as new groups in encounter order — inherently sequential. The engine
  * provides three strategies, all deterministic and shuffle-free on the hot path:
  *
  *  1. [[hashGroupId]] (default at 10^12 scale): groupId = xxhash64(canonicalKey(value)).
  *     No dictionary at all, no shuffle, resume-stable. Group MEMBERSHIP matches the
  *     reference for exact-duplicate surface forms; group IDS differ (documented
  *     deviation, SURVEY.md §7.4).
  *  2. [[withDictionary]]: a synonyms file (one comma-separated group per line,
  *     arelight/synonyms.py:4-14) broadcast as Map[canonicalKey -> groupId];
  *     unseen values fall back to strategy 1 offset into a disjoint id space.
  *  3. Minhash-LSH linking of near-duplicate surface forms ([[withLshGroups]],
  *     [[lshBroadcastDictionary]]): the distinct mention vocabulary is linked
  *     on the driver ([[lshGroups]]) when it fits [[DriverVocabularyBound]]
  *     values and [[DriverBucketWorkBound]] bucket pairs, else distributed
  *     ([[linkGroupsDf]]) — identical partitions either way; only the
  *     non-trivial entries reach the mentions, through strategy 2's probe.
  */
object Linker {

  /** One Jaccard verify threshold for BOTH linking paths (driver [[lshGroups]]
    * and distributed [[linkGroupsDf]]): with the shared md5 hash family this
    * makes candidate recall and final partitions identical across paths. */
  val DefaultJaccardThreshold = 0.5

  /** 64-bit avalanche hash (xxhash64-style finalizer over UTF-8 bytes).
    * Pure JVM, stable across executors/versions — the scale-path group id. */
  def hashGroupId(value: String): Long = {
    val bytes = TextOps.canonicalKey(value).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L // FNV offset basis
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    // xxhash-style avalanche
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h & Long.MaxValue // keep non-negative; reserved dictionary range is below 1<<32
  }

  /** Parse a synonyms file's lines into canonicalKey -> groupId (group per line,
    * comma-separated; group id = line index, matching reference insertion order). */
  def parseSynonyms(lines: Iterator[String]): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    var gid = 0L
    lines.foreach { line =>
      val vals = line.split(",").map(TextOps.canonicalKey).filter(_.nonEmpty)
      if (vals.nonEmpty) { vals.foreach(v => b += (v -> gid)); gid += 1 }
    }
    b.result()
  }

  /** Assign group ids to every mention of every parsed doc. Map-side only
    * (the dictionary is a broadcast-sized Map; hash fallback for misses). */
  def withDictionary(docs: Dataset[ParsedDoc], dict: Map[String, Long])(
      implicit spark: SparkSession): Dataset[ParsedDoc] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(dict)
    docs.map { d =>
      d.copy(sentences = d.sentences.map { s =>
        s.copy(mentions = s.mentions.map { m =>
          m.copy(groupId = bc.value.getOrElse(TextOps.canonicalKey(m.value), hashGroupId(m.value)))
        })
      })
    }
  }

  // ------------------------------------------------------------ LSH linking

  /** Largest distinct canonical vocabulary linked on the driver ([[lshGroups]]);
    * above it [[linkGroupsDf]] links it distributed. */
  val DriverVocabularyBound = 131072

  /** Largest Σ|bucket|² over all bands that [[lshGroups]] takes on the
    * driver — the candidate pairs it may verify. A boilerplate hub bucket
    * above it links distributed instead of going quadratic on the driver.
    * Every value adds at least `bands` (8), so the vocabulary bound alone
    * costs 1 M of it. */
  val DriverBucketWorkBound = 4000000L

  /** Character w-gram shingles of a canonical value ("$" padded, inner
    * whitespace runs collapsed — linking should not distinguish spacing).
    * Grams count code points, as Spark's `substr` does in [[linkGroupsDf]]. */
  private[graft] def charShingles(value: String, w: Int = 3): Seq[String] = {
    val s = "$" + graft.text.TextOps.canonicalKey(value).replaceAll(raw"\s+", " ") + "$"
    val cps = s.codePoints().toArray
    if (cps.length < w) Seq(s) else (0 to cps.length - w).map(i => new String(cps, i, w))
  }

  private val P = 2147483647L

  /** Shingle base hash — md5-derived, IDENTICAL to the distributed family
    * (graft.ops.Dedup.baseHash: top 60 bits of md5, mod P) so the driver
    * and DataFrame linkers generate the same candidate buckets and therefore
    * have identical recall. One hash family everywhere (round-2 verdict #4). */
  private[graft] def baseHash(s: String): Long = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (java.nio.ByteBuffer.wrap(md5).getLong >>> 4) % P
  }
  private def minhash(shingles: Array[Long], k: Int): Long = {
    val (a, b) = (1103515245L + 12345L * k, 104729L + 7919L * k)
    var m = Long.MaxValue
    var i = 0
    while (i < shingles.length) { m = math.min(m, (a * shingles(i) + b) % P); i += 1 }
    m
  }

  /** Minhash-LSH blocking over distinct mention VALUES (north_star linking
    * path): near-duplicate surface forms ("barack obama" / "barak obama") land
    * in shared buckets; candidates above the Jaccard threshold are merged with
    * union-find into canonical groups. Runs on the distinct-value dictionary,
    * NOT per mention: the per-mention path stays a map-side dictionary probe.
    *
    * Returns canonicalKey -> groupId (groupId = the hash id of the group's
    * smallest member in Spark's string order — [[linkGroupsDf]]'s
    * representative; the partition is [[linkGroupsDf]]'s too). */
  def lshGroups(values: Seq[String], bands: Int = 8, rowsPerBand: Int = 2,
      jaccardThreshold: Double = DefaultJaccardThreshold, shingleW: Int = 3): Map[String, Long] =
    driverGroups(values, bands, rowsPerBand, jaccardThreshold, shingleW, Long.MaxValue).get

  /** [[lshGroups]], or None when its buckets hold more than `maxBucketWork`
    * Σ|bucket|² over all bands. */
  private[link] def driverGroups(values: Seq[String], bands: Int, rowsPerBand: Int,
      jaccardThreshold: Double, shingleW: Int, maxBucketWork: Long): Option[Map[String, Long]] = {
    // indexed by position below: an Array, whatever Seq the caller passed
    val canon = values.iterator.map(graft.text.TextOps.canonicalKey).toArray.distinct
      .sorted(GraphBuilder.sparkStringOrdering)
    // each distinct shingle once: an id and its base hash. A value keeps its
    // shingle ids sorted, so its exact Jaccard with another is one merge
    val shingleIds = scala.collection.mutable.HashMap.empty[String, Int]
    val baseHashes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sets = canon.map(v => charShingles(v, shingleW).iterator.map { sh =>
      shingleIds.getOrElseUpdate(sh, { baseHashes += baseHash(sh); baseHashes.size - 1 })
    }.toArray.distinct.sorted)
    val hashes = sets.map(_.map(baseHashes))
    // per band: signature -> members, in ascending index order
    val buckets = (0 until bands).map { b =>
      val m = scala.collection.mutable.HashMap.empty[Seq[Long], scala.collection.mutable.ArrayBuffer[Int]]
      hashes.indices.foreach { i =>
        val sig = (0 until rowsPerBand).map(r => minhash(hashes(i), b * rowsPerBand + r))
        m.getOrElseUpdate(sig, scala.collection.mutable.ArrayBuffer.empty[Int]) += i
      }
      m.values
    }
    if (buckets.iterator.flatten.map(m => m.size.toLong * m.size).sum > maxBucketWork) return None
    val parent = Array.tabulate(canon.length)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }; r }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } // min-id wins
    }
    // over the distinct shingles, as linkGroupsDf's array_intersect/union
    def jaccard(a: Array[Int], b: Array[Int]): Double = {
      var (i, j, inter) = (0, 0, 0)
      while (i < a.length && j < b.length)
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 } else if (a(i) < b(j)) i += 1 else j += 1
      inter.toDouble / (a.length + b.length - inter).toDouble
    }
    for (band <- buckets; members <- band; x <- members.indices; y <- x + 1 until members.size) {
      val (i, j) = (members(x), members(y))
      if (find(i) != find(j) && jaccard(sets(i), sets(j)) >= jaccardThreshold) union(i, j)
    }
    Some(canon.indices.map(i => canon(i) -> hashGroupId(canon(find(i)))).toMap)
  }

  // ------------------------------------- distributed LSH linking (DataFrame)

  /** Distributed entity linking over a distinct-value relation — the web-scale
    * path (vocabulary of 10^8-10^9 surface forms does not fit a driver, and
    * driver union-find with per-bucket O(members²) does not survive hot
    * buckets). Same algorithmic shape as [[lshGroups]], expressed as
    * declarative DataFrame stages reusing the dedup machinery:
    *
    *   canonicalize -> char-shingle -> md5 base hash -> band signatures
    *   (graft.ops.Dedup.bandSignatures) -> bucket self-join candidates
    *   (Dedup.minhashCandidates) -> exact-Jaccard verify -> distributed
    *   connected components (Dedup.clusters, min-label + pointer halving).
    *
    * Output: (value, group_value) where group_value is the lexicographically
    * smallest member of the value's group — same canonical-representative rule
    * as [[lshGroups]] (which returns hashGroupId of that representative).
    *
    * Hash-family note: the shingle hash is md5-derived (DuckDB-oracle parity,
    * like Dedup) and [[lshGroups]] uses the SAME md5 family and the same
    * [[DefaultJaccardThreshold]] — driver and distributed paths generate
    * identical candidate buckets and identical final partitions.
    */
  def linkGroupsDf(values: org.apache.spark.sql.DataFrame,
      valueCol: org.apache.spark.sql.Column,
      bands: Int = 8, rowsPerBand: Int = 2,
      jaccardThreshold: Double = DefaultJaccardThreshold, shingleW: Int = 3,
      maxBucketSize: Int = Int.MaxValue): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    // the canonical vocabulary is consumed by THREE downstream lineages (band
    // signatures, shingle sets for verify, the final group join) — checkpoint
    // it once so the upstream scan/distinct doesn't re-run per consumer
    val canon = values.select(lower(trim(valueCol)).as("value")).distinct().localCheckpoint()
    // padded form materialized in its own projection: the shingle lambda below
    // captures it, and a captured subtree is re-evaluated per element — keep it
    // an attribute reference, not an expression tree
    val padded = canon.select(col("value"),
      concat(lit("$"), regexp_replace(col("value"), raw"\s+", " "), lit("$")).as("p"))
    val sh = padded.select(col("value"),
      when(length(col("p")) < shingleW, array(col("p")))
        .otherwise(transform(sequence(lit(0), length(col("p")) - shingleW),
          i => col("p").substr(i + lit(1), lit(shingleW)))).as("sh"))
    val based = sh.select(col("value").as("id"),
      array_distinct(col("sh")).as("shd"),
      transform(col("sh"), s => Dedup.baseHash(s)).as("base"))
    val sets = based.select(col("id").as("value"), col("shd"))
    val sigs = Dedup.bandSignatures(based.select(col("id"), col("base")), bands, rowsPerBand)
    // maxBucketSize: at web scale a degenerate signature bucket (boilerplate
    // or empty-ish surface forms) would generate |bucket|^2 candidates —
    // cap it like document dedup does (Dedup.minhashCandidates)
    val cand = Dedup.minhashCandidates(sigs, maxBucketSize)
    val verified = cand
      .join(sets.withColumnRenamed("value", "a_id").withColumnRenamed("shd", "a_sh"), "a_id")
      .join(sets.withColumnRenamed("value", "b_id").withColumnRenamed("shd", "b_sh"), "b_id")
      .filter(size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
        size(array_union(col("a_sh"), col("b_sh"))).cast("double") >= jaccardThreshold)
      .select("a_id", "b_id")
    val labels = Dedup.clusters(verified) // (id, cluster) — min-value canonical
    canon
      .join(labels.withColumnRenamed("id", "value").withColumnRenamed("cluster", "grp"),
        Seq("value"), "left")
      .select(col("value"), coalesce(col("grp"), col("value")).as("group_value"))
  }

  /** Distributed dictionary relation over the mention vocabulary:
    * (value, group_id) with group_id = hashGroupId(canonical representative) —
    * the same id rule as [[lshGroups]]. */
  def lshDictionaryDf(docs: Dataset[ParsedDoc], bands: Int = 8, rowsPerBand: Int = 2,
      jaccardThreshold: Double = DefaultJaccardThreshold, shingleW: Int = 3)(
      implicit spark: SparkSession): Dataset[(String, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vals = docs
      .flatMap(_.sentences.flatMap(_.mentions.map(m => TextOps.canonicalKey(m.value))))
      .toDF("value")
    linkGroupsDf(vals, col("value"), bands, rowsPerBand, jaccardThreshold, shingleW)
      .as[(String, String)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING))
      .map { case (v, g) => (v, hashGroupId(g)) }
  }

  /** NON-TRIVIAL dictionary entries only: values whose canonical group id is
    * not their own [[hashGroupId]] (i.e. values actually merged with a
    * near-duplicate). Singletons dominate real vocabularies and the map-side
    * probe ([[withDictionary]]) already falls back to hashGroupId on a miss,
    * so only this fraction ever needs to reach the executors. */
  def lshNonTrivialDf(docs: Dataset[ParsedDoc], bands: Int = 8, rowsPerBand: Int = 2,
      jaccardThreshold: Double = DefaultJaccardThreshold, shingleW: Int = 3)(
      implicit spark: SparkSession): Dataset[(String, Long)] = {
    import spark.implicits._
    lshDictionaryDf(docs, bands, rowsPerBand, jaccardThreshold, shingleW)
      .filter(vg => vg._2 != hashGroupId(vg._1))
  }

  /** The NON-TRIVIAL linking dictionary of the docs' distinct canonical
    * mention vocabulary — the one entry point of both LSH linking callers.
    * Left: the entries, linked on the driver by [[lshGroups]] from one
    * bounded collect of the vocabulary (at most [[DriverVocabularyBound]]
    * values whose buckets fit [[DriverBucketWorkBound]]). Right: the
    * relation (value, group_id) of [[lshNonTrivialDf]], linked distributed.
    * Both give the same entries. */
  private[link] def nonTrivialDictionary(docs: Dataset[ParsedDoc], bands: Int, rowsPerBand: Int,
      jaccardThreshold: Double, shingleW: Int)(
      implicit spark: SparkSession): Either[Map[String, Long], org.apache.spark.sql.DataFrame] = {
    import spark.implicits._
    val vocabulary = docs
      .flatMap(_.sentences.flatMap(_.mentions.map(m => TextOps.canonicalKey(m.value))))
      .toDF("value").distinct()
    Bounded.collectAs("nonTrivialDictionary", vocabulary, DriverVocabularyBound, Bounded.Str) {
      rows => driverGroups(rows.map(_.getString(0)).toSeq, bands, rowsPerBand,
        jaccardThreshold, shingleW, DriverBucketWorkBound).toRight(Bounded.OverBound)
    }.map(groups => Left(groups.filter { case (v, g) => g != hashGroupId(v) }))
      .getOrElse(Right(lshNonTrivialDf(docs, bands, rowsPerBand, jaccardThreshold, shingleW)
        .toDF("value", "group_id")))
  }

  /** Deterministic broadcastable linking dictionary over the FULL corpus —
    * the form checkpointed/resumable runs must use (the dictionary may not
    * depend on which buckets are co-resident in a run; see cli.Infer).
    * Fails fast when the non-trivial fraction exceeds `maxEntries`. */
  def lshBroadcastDictionary(docs: Dataset[ParsedDoc], maxEntries: Int = 10_000_000,
      bands: Int = 8, rowsPerBand: Int = 2,
      jaccardThreshold: Double = DefaultJaccardThreshold, shingleW: Int = 3)(
      implicit spark: SparkSession): Map[String, Long] = {
    val entries = nonTrivialDictionary(docs, bands, rowsPerBand, jaccardThreshold, shingleW) match {
      case Left(linked) => linked
      case Right(df) => df.limit(maxEntries + 1).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    require(entries.size <= maxEntries,
      s"LSH linking dictionary exceeds $maxEntries non-trivial entries — too large to " +
        "broadcast deterministically; raise the cap or link unchekpointed via withLshGroups")
    entries
  }

  /** Assign LSH-linked group ids to every mention. Only the NON-TRIVIAL
    * entries ([[nonTrivialDictionary]]) matter for assignment, which keeps the
    * shuffle-free broadcast path ([[withDictionary]]) viable far beyond the
    * raw-vocabulary size (near-duplicate fractions are small). Above
    * `maxBroadcastEntries` non-trivial entries the fallback is a mention-row
    * join: per-doc distinct canonical values join the dictionary
    * (mention-sized rows only), fold to one map per url, and a single
    * sort-merge join reattaches them to docs — docs are exchanged exactly
    * once and never cogrouped as objects. */
  def withLshGroups(docs: Dataset[ParsedDoc], maxBroadcastEntries: Long = 1_000_000L,
      bands: Int = 8, rowsPerBand: Int = 2,
      jaccardThreshold: Double = DefaultJaccardThreshold, shingleW: Int = 3)(
      implicit spark: SparkSession): Dataset[ParsedDoc] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val broadcastOrJoin: Either[Map[String, Long], org.apache.spark.sql.DataFrame] =
      nonTrivialDictionary(docs, bands, rowsPerBand, jaccardThreshold, shingleW) match {
        case Left(entries) if entries.size > maxBroadcastEntries => Right(entries.toSeq.toDF("value", "group_id"))
        case Right(df) =>
          // consumed by the bounded collect and maybe the join: checkpoint so
          // the distributed linking (distinct + band join + components) runs once
          val dict = df.localCheckpoint()
          val head = dict.limit(math.max(0L, math.min(maxBroadcastEntries, Int.MaxValue - 1L) + 1).toInt)
            .collect()
          if (head.length <= maxBroadcastEntries) Left(head.map(r => r.getString(0) -> r.getLong(1)).toMap)
          else Right(dict)
        case fits => fits
      }
    broadcastOrJoin.fold(withDictionary(docs, _), { dict =>
      // mention-row join path. Keyed by VALUE (group ids are value-determined),
      // so two distinct docs sharing a url can never cross-assign; (url, value)
      // is made distinct ACROSS docs so map_from_entries sees unique keys.
      val valueRows = docs.flatMap(d =>
        d.sentences.flatMap(_.mentions.map(m => (d.url, TextOps.canonicalKey(m.value)))).distinct)
        .toDF("url", "value").distinct()
      val perUrl = valueRows.join(dict, Seq("value"))
        .groupBy("url")
        .agg(map_from_entries(collect_list(struct(col("value"), col("group_id")))).as("groups"))
        .as[(String, Map[String, Long])]
      docs.joinWith(perUrl, docs("url") === perUrl("url"), "left_outer")
        .map { case (d, kv) =>
          val byValue = Option(kv).map(_._2).getOrElse(Map.empty[String, Long])
          d.copy(sentences = d.sentences.map { s =>
            // miss => the value's LSH group IS its own hash id (that is exactly
            // what lshNonTrivialDf filtered away) — identical to the broadcast
            // path's withDictionary fallback
            s.copy(mentions = s.mentions.map(m =>
              m.copy(groupId = byValue.getOrElse(TextOps.canonicalKey(m.value), hashGroupId(m.value)))))
          })
        }
    })
  }
}
