package graft.link

import org.scalatest.funsuite.AnyFunSuite

class LinkerLshSpec extends AnyFunSuite {

  test("LSH linking groups near-duplicate surface forms, separates distinct entities") {
    val values = Seq(
      "Barack Obama", "Barak Obama", "barack  obama",
      "European Union", "Europan Union",
      "France", "Germany")
    val groups = Linker.lshGroups(values, jaccardThreshold = 0.55)
    def g(v: String) = groups(graft.text.TextOps.canonicalKey(v))
    assert(g("Barack Obama") == g("Barak Obama"))
    assert(g("European Union") == g("Europan Union"))
    assert(g("France") != g("Germany"))
    assert(g("France") != g("Barack Obama"))
    assert(g("European Union") != g("Barack Obama"))
  }

  test("LSH linking is deterministic and order-insensitive") {
    val values = Seq("alpha corp", "alpha corp.", "beta fund", "gamma", "alpha korp")
    val a = Linker.lshGroups(values)
    val b = Linker.lshGroups(values.reverse)
    assert(a == b)
  }

  test("baseHash is the top 60 bits of md5 mod P, as the hex formula computes it") {
    val rnd = new scala.util.Random(5)
    (1 to 10000).foreach { i =>
      val s = rnd.nextString(rnd.nextInt(12))
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map(b => f"$b%02x").mkString
      assert(Linker.baseHash(s) == java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2147483647L,
        s"string $i")
    }
  }

  test("lshGroups gives the same groups from a List as from a Vector") {
    val rnd = new scala.util.Random(9)
    val words = Seq("alpha", "beta", "gamma", "delta", "corp", "fund", "union")
    val values = List.fill(400)(Seq.fill(2 + rnd.nextInt(2))(words(rnd.nextInt(words.size)))
      .map(w => if (rnd.nextInt(4) == 0) w.drop(1) else w).mkString(" "))
    val groups = Linker.lshGroups(values)
    assert(groups == Linker.lshGroups(values.toVector))
    assert(groups.values.toSet.size < groups.size, "some values are linked")
  }

  test("hub gate: a boilerplate hub under the row bound, over the bucket gate, declines the driver") {
    // whitespace variants of one string have identical shingle sets, so all
    // of them share one bucket in each of the 8 bands: Σ|bucket|² = 8 n²
    def hub(n: Int) = (1 to n).map(k => "all rights reserved" + " " * k + "footer")
    val n = Iterator.from(1).find(n => 8L * n * n > Linker.DriverBucketWorkBound).get
    assert(n <= Linker.DriverVocabularyBound)
    def onDriver(vs: Seq[String]) =
      Linker.driverGroups(vs, 8, 2, Linker.DefaultJaccardThreshold, 3, Linker.DriverBucketWorkBound)
    assert(onDriver(hub(n)).isEmpty)
    assert(onDriver(hub(n - 1)).exists(_.values.toSet.size == 1), "one group just under the gate")
  }

  test("exact duplicates always share a group regardless of threshold") {
    val groups = Linker.lshGroups(Seq("x y z", "X  Y  Z", "other"), jaccardThreshold = 1.0)
    assert(groups(graft.text.TextOps.canonicalKey("x y z")) ==
      groups(graft.text.TextOps.canonicalKey("X  Y  Z")))
  }
}

/** Distributed linking path (the web-scale replacement for the driver-side
  * union-find): DataFrame band join + exact verify + distributed components. */
class LinkerDistributedSpec extends AnyFunSuite with graft.SparkTestSession with graft.BothPaths {

  private val fixture = Seq(
    "Barack Obama", "Barak Obama", "barack  obama",
    "European Union", "Europan Union",
    "France", "Germany", "alpha corp", "alpha corp.", "beta fund")

  private def distributedPartition(threshold: Double): Set[Set[String]] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Linker.linkGroupsDf(fixture.toDF("value"), col("value"), jaccardThreshold = threshold)
      .as[(String, String)].collect()
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
  }

  test("distributed linkGroupsDf partitions the vocabulary exactly like driver lshGroups") {
    val driver = Linker.lshGroups(fixture, jaccardThreshold = 0.55)
      .groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(distributedPartition(0.55) == driver)
  }

  test("driver and distributed paths share one hash family and one default threshold") {
    // DEFAULTS on both sides: identical md5-derived candidate buckets =>
    // identical partitions even on marginal pairs (round-2 verdict item 4)
    val driver = Linker.lshGroups(fixture)
      .groupBy(_._2).values.map(_.keys.toSet).toSet
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dist = Linker.linkGroupsDf(fixture.toDF("value"), col("value"))
      .as[(String, String)].collect()
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(dist == driver)
  }

  test("distributed groups: near-dups merged, distinct entities separated, canonical rep is min value") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = Linker.linkGroupsDf(fixture.toDF("value"), col("value"), jaccardThreshold = 0.55)
      .as[(String, String)].collect().toMap
    assert(out("barack obama") == out("barak obama"))
    assert(out("barack obama") == out("barack  obama")) // inner-space variant
    assert(out("european union") == out("europan union"))
    assert(out("france") != out("germany"))
    // representative = lexicographically smallest member (the double-space
    // variant: canonicalKey lowercases/trims but keeps interior whitespace)
    assert(out("barack obama") == Seq("barack obama", "barak obama", "barack  obama").min)
    // singleton keeps itself
    assert(out("beta fund") == "beta fund")
  }

  private def nearDupDocs = {
    import spark.implicits._
    import graft.core.{Mention, ParsedDoc, Sentence}
    fixture.zipWithIndex.map { case (v, i) =>
      ParsedDoc(s"u$i", "en", Seq(Sentence(0, v.split(" ").toSeq,
        Seq(Mention(0, 0, v, "ORG", 0L, Linker.hashGroupId(v))))))
    }.toDS()
  }

  test("the linking dictionary: driver-linked outside distributedOnly, same entries inside") {
    val driver = Linker.nonTrivialDictionary(nearDupDocs, 8, 2, 0.55, 3)
    val dist = graft.exec.Bounded.distributedOnly(Linker.nonTrivialDictionary(nearDupDocs, 8, 2, 0.55, 3))
    assert(driver.isLeft && dist.isRight)
    val entries = dist.toOption.get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(driver.left.toOption.get == entries)
    assert(entries.keySet == Set("barack obama", "barak obama", "european union", "alpha corp."))
  }

  test("the linking dictionary: a hub over the bucket-work bound declines after the collect") {
    import spark.implicits._
    import graft.core.{Mention, ParsedDoc, Sentence}
    import graft.exec.Bounded.{Decision, OverBound, recording}
    val n = Iterator.from(1).find(n => 8L * n * n > Linker.DriverBucketWorkBound).get
    val hub = (1 to n).map { k =>
      val v = "all rights reserved" + " " * k + "footer"
      ParsedDoc(s"u$k", "en", Seq(Sentence(0, v.split(" ").toSeq,
        Seq(Mention(0, 0, v, "ORG", 0L, Linker.hashGroupId(v))))))
    }.toDS()
    val (dict, log) = recording(Linker.nonTrivialDictionary(hub, 8, 2, 0.55, 3))
    assert(dict.isRight)
    // (the distributed dictionary's own component probe follows it)
    assert(log.filter(_.label == "nonTrivialDictionary") ==
      Seq(Decision("nonTrivialDictionary", OverBound, n)))
  }

  bothPaths("withLshGroups: near-duplicate values share the representative's id") {
    val byValue = Linker.withLshGroups(nearDupDocs, jaccardThreshold = 0.55).collect()
      .flatMap(_.sentences.flatMap(_.mentions.map(m => m.value -> m.groupId))).toMap
    assert(byValue("Barak Obama") == Linker.hashGroupId("barack  obama"))
    assert(byValue("Europan Union") == byValue("European Union"))
    assert(byValue("France") == Linker.hashGroupId("france"))
  }

  bothPaths("withLshGroups: broadcast path and mention-join path assign identical group ids") {
    import spark.implicits._
    val pages = graft.gen.PageGen.pages(40, 7L, 4)
    val docs = graft.kg.KgPipeline.parsePages(pages, graft.ner.BracketNer,
      graft.kg.KgPipeline.Config()).cache()
    def groupsOf(d: org.apache.spark.sql.Dataset[graft.core.ParsedDoc]) =
      d.collect().flatMap(p => p.sentences.flatMap(s =>
        s.mentions.map(m => (p.url, s.sentInd, m.id) -> m.groupId))).toMap
    val viaBroadcast = groupsOf(Linker.withLshGroups(docs))
    // -1 forces the join path even when the non-trivial dictionary is empty
    val joinPath = Linker.withLshGroups(docs, maxBroadcastEntries = -1L)
    val viaJoin = groupsOf(joinPath)
    assert(viaBroadcast == viaJoin)
    assert(viaBroadcast.nonEmpty)
    // fallback path contract: docs are JOINED (one exchange), never cogrouped
    // as whole objects — the dictionary side ships mention-sized rows only
    val plan = joinPath.queryExecution.executedPlan.toString
    assert(!plan.contains("CoGroup"), plan)
  }

  bothPaths("withLshGroups join path: duplicate-url docs don't cross-assign (value-keyed regroup)") {
    import spark.implicits._
    import graft.core.{Mention, ParsedDoc, Sentence}
    // two DISTINCT docs sharing one url; same (sentInd, mentionId) ordinals
    // but different values — a (sentInd, id)-keyed regroup would collide
    val docs = Seq(
      ParsedDoc("u1", "en", Seq(Sentence(0, Seq("Barack", "Obama"),
        Seq(Mention(0, 0, "Barack Obama", "PERSON", 0L, 1L))))),
      ParsedDoc("u1", "en", Seq(Sentence(0, Seq("France", "x"),
        Seq(Mention(0, 0, "France", "GPE", 0L, 2L)))))).toDS()
    val out = Linker.withLshGroups(docs, maxBroadcastEntries = -1L).collect()
    val byValue = out.flatMap(_.sentences.flatMap(_.mentions.map(m => m.value -> m.groupId))).toMap
    assert(byValue("Barack Obama") == Linker.hashGroupId("barack obama"))
    assert(byValue("France") == Linker.hashGroupId("france"))
    assert(byValue("Barack Obama") != byValue("France"))
  }
}
