package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketches for corpus-scale statistics — the operations a 100 TB
  * curation pipeline runs BEFORE committing to an exact plan: approximate
  * distinct counting (how many unique pages/URLs — sizing the dedup job) and
  * heavy-hitter detection (which hosts/keys are skewed — sizing the salt).
  * Engine extension; no reference counterpart (the reference never faces
  * cardinality it can't count exactly).
  *
  * Both sketches are DETERMINISTIC (md5-keyed, no RNG) and their register
  * relations are exact integers, so the sketch STATE itself is oracle-able
  * cross-engine — the estimate is then driver-side float math over a
  * constant-size relation (2^p rows / depth×width cells), covered by spec
  * against the exact answer's error bound rather than by hash parity.
  *
  * Scale shape: one map-side pass + one groupBy on a key space of constant
  * size (256 registers / 256 cells) — partial aggregation collapses each
  * partition to at most the register count before the shuffle, so the
  * exchange moves O(partitions × registers) rows regardless of input size,
  * and sketches of disjoint corpus shards merge by the same max/sum.
  */
object Sketches {

  /** HyperLogLog-style register relation for distinct counting of `key`:
    * register = first p bits of md5(key), rho = 1 + leading-zero count of the
    * NEXT 60 bits (capped at 61 when all are zero). Output: (register,
    * max_rho) — at most 2^p rows.
    *
    * The rho extraction is pure hex-string arithmetic (leading '0' nibbles +
    * a 16-way CASE on the first nonzero nibble) rather than float log2 —
    * exact on both engines (log2 of a >2^53 integer rounds unpredictably at
    * nibble boundaries). */
  def hllRegisters(df: DataFrame, key: Column, p: Int = 8): DataFrame = {
    val (reg, rho) = hllCols(key, p)
    df.select(reg.as("register"), rho.as("rho"))
      .groupBy(col("register")).agg(max(col("rho")).as("max_rho"))
  }

  /** The (register, rho) column pair for ONE key under precision p — shared
    * by [[hllRegisters]] and graph.GraphOps.hyperBall so the hash layout
    * cannot drift between the corpus gauge and the per-node ball sketches. */
  def hllCols(key: Column, p: Int): (Column, Column) = {
    require(p >= 4 && p <= 12, s"precision p must be in [4,12]: $p")
    require(p % 4 == 0, s"p must be a whole number of hex nibbles: $p")
    val hex = md5(key.cast("string"))
    val reg = conv(substring(hex, 1, p / 4), 16, 10).cast("long")
    val tail = substring(hex, p / 4 + 1, 15) // 60 bits, < 2^62 both engines
    val zeroNibbles = length(regexp_extract(tail, "^0*", 0))
    val stripped = regexp_replace(tail, "^0+", "")
    val firstNz = substring(stripped, 1, 1)
    val nibbleZeros = when(firstNz === "1", 3)
      .when(firstNz.isin("2", "3"), 2)
      .when(firstNz.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    val rho = when(stripped === "", lit(61L))
      .otherwise((zeroNibbles * 4 + nibbleZeros + 1).cast("long"))
    (reg, rho)
  }

  /** Standard HLL estimate from [[hllRegisters]] output — driver-side float
    * math over the ≤2^p-row register relation (collect here is bounded by
    * construction). Includes the small-range linear-counting correction. */
  def hllEstimate(registers: DataFrame, p: Int = 8): Double =
    hllEstimatePairs(registers.select(col("register"), col("max_rho"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq, p)

  /** The same estimate over an already-collected (register, max_rho) pair
    * set — lets per-node consumers (hyperBall centralities) estimate many
    * small sketches without one Spark action each. */
  def hllEstimatePairs(pairs: Seq[(Long, Long)], p: Int = 8): Double = {
    val m = 1 << p
    val maxRho = pairs.toMap
    val zSum = (0 until m).map(j => math.pow(2.0, -maxRho.getOrElse(j.toLong, 0L).toDouble)).sum
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val raw = alpha * m * m / zSum
    val zeros = m - maxRho.count(_._2 > 0L)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }

  /** The one (r, cell) hash both [[cmsSketch]] and [[cmsEstimate]] use —
    * shared so the two sides cannot drift apart. */
  private def cmsCells(keyed: DataFrame, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16]: $depth")
    require(width >= 2, s"width must be >= 2: $width")
    keyed
      .select(col("k"), explode(array((0 until depth).map(i => lit(i.toLong)): _*)).as("r"))
      .select(col("k"), col("r"),
        (conv(substring(md5(concat(col("r").cast("string"), col("k"))), 1, 15), 16, 10)
          .cast("long") % width).as("cell"))
  }

  /** Count-min sketch cell relation for frequency estimation of `key`:
    * `depth` independent hash rows, cell = md5(row ++ key) mod `width`,
    * exact counts per (r, cell). Output: (r, cell, cnt) — at most
    * depth×width rows. Point estimates from [[cmsEstimate]] upper-bound the
    * true frequency (never under-count). */
  def cmsSketch(df: DataFrame, key: Column, depth: Int = 4, width: Int = 64): DataFrame =
    cmsCells(df.select(key.cast("string").as("k")), depth, width)
      .groupBy(col("r"), col("cell")).agg(count(lit(1)).as("cnt"))

  /** Point-query the sketch for each distinct key in `keys`: estimate =
    * min over the depth rows of that key's cell count (0 for a key hashing
    * into an empty cell — never-inserted keys stay in the output with est 0,
    * the CMS contract). A broadcast left join of the constant-size sketch
    * against the (small) candidate key relation — at scale the candidates
    * come from a cheap pre-filter, never from re-enumerating the corpus.
    *
    * `depth`/`width` MUST be the values the sketch was built with — the
    * sketch relation carries no metadata, so only the bounds are checkable:
    * a sketch whose rows or cells exceed the passed parameters fails fast
    * (the driver-side check reads the ≤depth×width-row sketch once). A
    * LARGER width than the sketch's is NOT detectable here — keep the
    * parameters with the sketch. Output: (k, est). */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, key: Column,
      depth: Int = 4, width: Int = 64): DataFrame = {
    val bounds = sketch.agg(max(col("r")), max(col("cell"))).collect()(0)
    // a non-empty sketch has EVERY row 0..depth-1 populated (the explode
    // emits all rows per key), so max r pins the sketch's depth exactly —
    // both a smaller AND a larger depth here would silently break the
    // never-under-count contract (extra rows join nothing -> min = 0)
    if (!bounds.isNullAt(0))
      require(bounds.getLong(0) == depth - 1 && bounds.getLong(1) < width,
        s"sketch parameters disagree (max r=${bounds.getLong(0)}, " +
          s"max cell=${bounds.getLong(1)} vs depth=$depth width=$width) — " +
          "cmsEstimate must use the sketch's own depth/width")
    val cand = cmsCells(keys.select(key.cast("string").as("k")).distinct(), depth, width)
    cand.join(broadcast(sketch), Seq("r", "cell"), "left")
      .groupBy(col("k")).agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  // -------------------------------------------------------------- bloom filter

  /** The (k, pos) hash both [[bloomBits]] and [[bloomProbe]] share — same
    * discipline as [[cmsCells]] so build and probe cannot drift apart. */
  private def bloomCells(keyed: DataFrame, m: Int, k: Int): DataFrame = {
    require(m >= 2, s"bit space m must be >= 2: $m")
    require(k >= 1 && k <= 16, s"hash count k must be in [1,16]: $k")
    keyed
      .select(col("bk"), col("probe_id"),
        explode(array((0 until k).map(i => lit(i.toLong)): _*)).as("i"))
      .select(col("probe_id"),
        (conv(substring(md5(concat(col("i").cast("string"), col("bk"))), 1, 15), 16, 10)
          .cast("long") % m).as("pos"))
  }

  /** Bloom-filter bit relation for membership pre-filtering: `k` hash
    * positions per key, pos = md5(i ++ key) mod m. Output: distinct (pos) —
    * at most m rows regardless of input size. Deterministic (md5, no RNG);
    * shard filters merge by plain UNION + distinct (bitwise OR), so the
    * filter builds map-side with a constant-key-space exchange, exactly the
    * [[hllRegisters]] scale shape.
    *
    * The 100 TB use: build the filter over the EVAL/holdout set's grams once
    * (small), broadcast it, and pre-filter the corpus before the exact
    * decontamination join ([[Dedup.decontaminate]]) — corpus rows whose
    * positions miss any bit are provably clean and never reach the shuffle. */
  def bloomBits(df: DataFrame, key: Column, m: Int = 1 << 16, k: Int = 4): DataFrame =
    bloomCells(df.select(key.cast("string").as("bk"), lit(0L).as("probe_id")), m, k)
      .select(col("pos")).distinct()

  /** Bottom-k similarity sketches (one-permutation MinHash / KMV): per
    * group, the k smallest md5-derived integer fingerprints of its members'
    * `key` values; then for every group pair that shares at least one
    * sketched fingerprint, the standard bottom-k Jaccard estimate
    *
    *   J ≈ |{x ∈ bottom_k(A ∪ B)} ∩ A ∩ B| / |bottom_k(A ∪ B)|
    *
    * (Bar-Yossef et al. 2002's KMV estimator, built from the public
    * algorithm statement). Where [[hllRegisters]] gauges one set's
    * cardinality, this compares SETS PAIRWISE from constant-size state —
    * the host-vs-host content-overlap triage that scales to 10^9 hosts
    * because each host is reduced to k longs before any pair forms.
    *
    * Scale shape: fingerprints are map-side md5 arithmetic; the bottom-k
    * cut is a (group)-partitioned rank window (WindowGroupLimit keeps k
    * rows per group pre-sort); candidate pairs come from an equi-join on
    * the sketched fingerprint (never all host pairs — only hosts that
    * PROVABLY share a bottom-k element meet); the estimator is array math
    * over two ≤k arrays. All integer/md5 arithmetic, hash-exact
    * cross-engine. Output: (a, b, est_jaccard_permille, n_shared) for
    * candidate pairs, a < b. */
  def bottomKJaccard(df: DataFrame, group: Column, key: Column, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= 64, s"k must be in [1,64]: $k")
    val fp = conv(substring(md5(key.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    val gf = df.select(group.as("g"), fp.as("fp")).distinct()
    val w = Window.partitionBy(col("g")).orderBy(col("fp").asc)
    val sk = gf.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("g"), col("fp"))
    val sketches = sk.groupBy(col("g")).agg(array_sort(collect_list(col("fp"))).as("sketch"))
    val cand = sk.select(col("fp"), col("g").as("a"))
      .join(sk.select(col("fp"), col("g").as("b")), Seq("fp"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val unionK = slice(array_sort(array_union(col("a_sk"), col("b_sk"))), 1, k)
    val inBoth = size(filter(unionK,
      x => array_contains(col("a_sk"), x) && array_contains(col("b_sk"), x)))
    cand
      .join(sketches.select(col("g").as("a"), col("sketch").as("a_sk")), "a")
      .join(sketches.select(col("g").as("b"), col("sketch").as("b_sk")), "b")
      .select(col("a"), col("b"),
        inBoth.cast("long").as("n_shared"),
        size(unionK).cast("long").as("n_union"))
      .select(col("a"), col("b"),
        expr("(n_shared * 1000L) div n_union").as("est_jaccard_permille"),
        col("n_shared"))
  }

  /** Probe the filter for each key row: member = every one of the key's k
    * positions is set (1) or at least one misses (0 — definitely NOT in the
    * build set; 1 may be a false positive, the Bloom contract). One broadcast
    * left join of the ≤m-row bit relation against the probe keys.
    *
    * `m`/`k` MUST be the build values — the bit relation carries no metadata;
    * out-of-range positions fail fast, a smaller m is not detectable (keep
    * the parameters with the filter, the [[SigStore]] discipline). Output:
    * (probe_id, member). */
  def bloomProbe(bits: DataFrame, keys: DataFrame, key: Column, id: Column,
      m: Int = 1 << 16, k: Int = 4): DataFrame = {
    val bound = bits.agg(max(col("pos"))).collect()(0)
    if (!bound.isNullAt(0))
      require(bound.getLong(0) < m,
        s"bit relation has pos=${bound.getLong(0)} >= m=$m — bloomProbe must use the filter's own m")
    bloomCells(keys.select(key.cast("string").as("bk"), id.cast("long").as("probe_id")), m, k)
      .join(broadcast(bits.select(col("pos"), lit(1L).as("hit"))), Seq("pos"), "left")
      .groupBy(col("probe_id"))
      .agg(min(coalesce(col("hit"), lit(0L))).as("member"))
  }

  // ---------------------------------------------------------- register store

  /** Persistent HLL register state for continuous ingest — the sketch sibling
    * of [[SigStore]]/[[EdgeStore]], radically simpler because register-max
    * merge is IDEMPOTENT and commutative: replaying a micro-batch (or merging
    * shards in any order) cannot change the result, so at-least-once delivery
    * IS exactly-once here and no batch ledger is needed. State is ≤2^p rows
    * regardless of corpus size.
    *
    * Crash safety: `registers` is replaced through one [[graft.io.Swap]]
    * commit (`registers.next`, `registers.bak`), with recovery on every
    * entry. Single-writer, like the other stores. */
  def readRegisterStore(spark: org.apache.spark.sql.SparkSession, store: String): DataFrame = {
    if (registerSwap(store).exists(spark)) spark.read.parquet(s"$store/registers")
    else spark.range(0).select(col("id").as("register"), col("id").as("max_rho"))
  }

  /** The precision the store was created with, if it exists. Registers from
    * different p values index DIFFERENT hash prefixes — max-merging them
    * produces silent garbage that can never be lowered again, so p is pinned
    * on first merge and every later merge validates it (the SigStore params
    * discipline). */
  def storeP(spark: org.apache.spark.sql.SparkSession, store: String): Option[Int] =
    graft.io.Swap.readParams(spark, store).flatMap(_.get("p"))

  private def pinStoreP(spark: org.apache.spark.sql.SparkSession, store: String, p: Int): Unit =
    storeP(spark, store) match {
      case Some(q) =>
        require(q == p, s"register store $store was created with p=$q; merge with p=$p refused")
      case None => graft.io.Swap.writeParams(spark, store, "p" -> p)
    }

  private def registerSwap(store: String) =
    graft.io.Swap(s"$store/registers", s"$store/registers.next", s"$store/registers.bak")

  /** Fold a batch's [[hllRegisters]] relation into the store by register
    * max, through one [[graft.io.Swap]] commit. */
  def mergeRegistersIntoStore(registers: DataFrame, store: String, p: Int = 8): Unit = {
    val spark = registers.sparkSession
    pinStoreP(spark, store, p)
    val merged = readRegisterStore(spark, store).union(registers)
      .groupBy(col("register")).agg(max(col("max_rho")).as("max_rho"))
    registerSwap(store).commit(spark)(tmp => merged.coalesce(1).write.parquet(tmp))
  }
}
