package graft

import graft.operators.AlertContext
import graft.transform.TransformDsl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Alert context merge/diff, enrichment upsert, url/user-agent parsing. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("alert context merge dedups and preserves order; diff yields additions") {
    val df = Seq((Seq("a", "b"), Seq("b", "c"))).toDF("old", "new")
    val out = df.select(
      AlertContext.merge(col("old"), col("new")).as("m"),
      AlertContext.diff(col("old"), col("new")).as("d")).head
    assert(out.getSeq[String](0) == Seq("a", "b", "c"))
    assert(out.getSeq[String](1) == Seq("c"))
  }

  test("alert context merge tolerates nulls on either side") {
    val df = Seq((null: Seq[String], Seq("x"))).toDF("old", "new")
    val out = df.select(AlertContext.merge(col("old"), col("new")).as("m")).head
    assert(out.getSeq[String](0) == Seq("x"))
  }

  test("mergeMaps merges key-wise and passes through null sides") {
    val df = Seq(
      (Map("ip" -> Seq("1.1.1.1")), Map("ip" -> Seq("2.2.2.2"), "user" -> Seq("u"))),
      (null.asInstanceOf[Map[String, Seq[String]]], Map("ip" -> Seq("3.3.3.3")))
    ).toDF("old", "new")
    val out = df.select(AlertContext.mergeMaps(col("old"), col("new")).as("m")).collect()
    val m0 = out(0).getMap[String, scala.collection.Seq[String]](0)
    assert(m0("ip").toList == List("1.1.1.1", "2.2.2.2"))
    assert(m0("user").toList == List("u"))
    assert(out(1).getMap[String, scala.collection.Seq[String]](0)("ip").toList == List("3.3.3.3"))
  }

  test("enrichment mergeUpsert: updates win, unmatched rows survive") {
    import graft.lake.{Lake, Snapshots}
    // an enrichment dim in one constant partition, as EnrichmentYaml's
    // merge write mode commits it (reference Enrichment.kt:305-324)
    val t = tempDir("enrich_merge").toString
    def dim(rows: (String, String)*) =
      rows.toDF("pk", "v").withColumn(Lake.PartitionCol, lit("static"))
    Snapshots.append(dim(("k1", "old1"), ("k2", "old2")), t)
    Snapshots.mergeUpsert(spark, t, dim(("k2", "new2"), ("k3", "new3")), "pk")
    val out = Snapshots.read(spark, t).select("pk", "v").orderBy("pk").collect()
    assert(out.toSeq == Seq(Row("k1", "old1"), Row("k2", "new2"), Row("k3", "new3")))
  }

  test("cosine_similarity is callable from spark.sql") {
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head
    assert(r.getDouble(0) == 1.0)
  }

  test("delivery renderers produce deterministic CDC and slack payloads") {
    import graft.operators.{Alerts => A, Delivery}
    val alerts = Seq(A.AlertRow("r1", "k", "id1",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-01 00:05:00"),
      3L, true, None)).toDF
    val cdc = Delivery.cdcPayload(alerts).head
    assert(cdc.getString(0) == "id1" && cdc.getString(1).contains("\"match_count\":3"))
    val slack = Delivery.slackText(alerts).head
    assert(slack.getString(1).contains("*r1*") && slack.getString(1).contains("3 matches"))
    // deliver sends executor-side (foreachPartition); in local mode the
    // executor shares the JVM, so a singleton collector observes the sends.
    FunctionsSpec.collected.clear()
    Delivery.deliver(Delivery.cdcPayload(alerts), FunctionsSpec.CollectorSink)
    assert(FunctionsSpec.collected.size == 1 && FunctionsSpec.collected.peek()._1 == "id1")
  }

  test("charNGrams: whitespace-stripped codepoint grams; short text empty; lang routing") {
    import graft.functions.TextFunctions._
    val df = Seq((1L, "你好 世界", "zh"), (2L, "Hi there", "en"), (3L, "你", "zh"))
      .toDF("id", "text", "lang")
    val out = df.select(col("id"),
        charNGrams(col("text"), 1).as("g1"),
        charNGrams(col("text"), 2).as("g2"),
        tokensByLang(col("text"), col("lang")).as("routed"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getSeq[String](2), r.getSeq[String](3))).toMap
    // spaces removed BEFORE gram extraction — grams never straddle a gap
    assert(out(1L)._1 == Seq("你", "好", "世", "界"))
    assert(out(1L)._2 == Seq("你好", "好世", "世界"))
    // shorter-than-n text yields empty, not null
    assert(out(3L)._2 == Seq.empty)
    // routing: zh → char grams, spaced language → whitespace words
    assert(out(1L)._3 == Seq("你", "好", "世", "界"))
    assert(out(2L)._3 == Seq("hi", "there"))
  }

  test("bpePreTokens: GPT-2-style segmentation partitions the input exactly") {
    import graft.functions.TextFunctions._
    val df = Seq(
      (1L, "The spark's 42 rows, fast!"),
      (2L, "hello   world"),
      (3L, "it'll re-run 100x"),
      (4L, "")).toDF("id", "text")
    val out = df.select(col("id"), bpePreTokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // contraction suffix, space-prefixed word/number runs, punctuation runs
    assert(out(1L) == Seq("The", " spark", "'s", " 42", " rows", ",", " fast", "!"))
    // a multi-space run is ONE whitespace segment (no-lookahead variant:
    // the following word keeps no leading space)
    assert(out(2L) == Seq("hello", "   ", "world"))
    assert(out(3L) == Seq("it", "'ll", " re", "-", "run", " 100", "x"))
    assert(out(4L) == Seq.empty)
    // partition invariant: segments concatenate back to the input
    val rebuilt = df.select(col("text"),
        concat_ws("", bpePreTokens(col("text"))).as("back"))
      .collect()
    assert(rebuilt.forall(r => r.getString(0) == r.getString(1)))
  }

  test("languageIdMulti charGramLangs: zh scored on char unigrams, spaced langs unchanged") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "我们的人在这里了他是一个大的"),
      (2L, "the value of the data is in the table"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.languageIdMulti(df, "text",
        TextAnalysis.lexiconsCjk, charGramLangs = Set("zh"))
      .select("doc_id", "lang_pred", "r_zh", "r_en")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L)._1 == "zh" && out(1L)._2 > 0.5)
    // the zh doc is ONE whitespace token — the word ratio can never see it
    assert(out(1L)._3 == 0.0)
    assert(out(2L)._1 == "en" && out(2L)._2 == 0.0)
  }

  test("parse_url extracts scheme/host/path/query") {
    val df = Seq("https://example.com:8443/a/b?x=1&y=2").toDF("u")
    val r = df.select(TransformDsl.parseUrl(col("u")).as("p"))
      .select("p.scheme", "p.host", "p.path", "p.query").head
    assert(r == Row("https", "example.com", "/a/b", "x=1&y=2"))
  }

  test("parse_user_agent lexicon: cli and mobile agents") {
    val df = Seq("aws-cli/2.9 Python/3.9",
      "Mozilla/5.0 (iPhone) Safari/604.1",
      // REAL mobile Safari carries Version/x Mobile/x Safari/x — it must
      // family as Mobile Safari (with the Version/ version), not desktop
      // Safari via that rule's optional " Mobile/\w+" group
      "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1")
      .toDF("ua")
    val rows = df.select(TransformDsl.parseUserAgent(col("ua")).as("p"))
      .select("p.name", "p.version", "p.device.name").collect()
    assert(rows(0) == Row("aws-cli", "2.9", "Other"))
    assert(rows(1) == Row("Mobile Safari", "604.1", "iPhone"))
    assert(rows(2) == Row("Mobile Safari", "17.1", "iPhone"))
  }

  test("parse_user_agent lexicon: uap-core family ordering and os mapping") {
    val uas = Seq(
      // every WebKit UA advertises Safari — Chrome must win over it
      "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.71 Safari/537.36",
      // Edge must win over Chrome
      "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
      // desktop Safari reports its real version in Version/x
      "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
      // Android Chrome = Chrome Mobile family, Samsung hardware model
      "Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.6045.163 Mobile Safari/537.36",
      "Mozilla/5.0 (Windows NT 6.1; rv:102.0) Gecko/20100101 Firefox/102.0")
      .toDF("ua")
    val rows = uas.select(TransformDsl.parseUserAgent(col("ua")).as("p"))
      .select("p.name", "p.version", "p.os.name", "p.os.version", "p.os.full",
        "p.device.name").collect()
    assert(rows(0) == Row("Chrome", "120.0.6099.71", "Windows", "10", "Windows 10", "Other"))
    assert(rows(1) == Row("Edge", "120.0.2210.91", "Windows", "10", "Windows 10", "Other"))
    assert(rows(2) == Row("Safari", "17.1", "Mac OS X", "10.15.7", "Mac OS X 10.15.7", "Mac"))
    assert(rows(3) == Row("Chrome Mobile", "119.0.6045.163", "Android", "13", "Android 13", "Samsung SM-S918B"))
    assert(rows(4) == Row("Firefox", "102.0", "Windows", "7", "Windows 7", "Other"))
  }

  test("ip_pton/ip_ntop round-trip and is_ipv6 on VRL-documented forms") {
    import graft.functions.NetFunctions
    val df = Seq(
      "192.168.0.1",                 // plain v4
      "2001:db8::1",                 // compressed v6
      "::1",                         // loopback
      "::ffff:192.0.2.128",          // v4-mapped tail
      "2001:0db8:0000:0000:0000:ff00:0042:8329", // full form
      "256.1.1.1",                   // invalid octet
      "2001:db8:::1",                // double '::'
      "not-an-ip"
    ).toDF("ip")
    val rows = df.select(
      NetFunctions.isIpv6(col("ip")).as("v6"),
      NetFunctions.ipNtop(NetFunctions.ipPton(col("ip"))).as("canon")).collect()
    assert(rows.map(_.getBoolean(0)).toSeq ==
      Seq(false, true, true, true, true, false, false, false))
    assert(rows(0).getString(1) == "192.168.0.1")
    assert(rows(1).getString(1) == "2001:db8::1")
    assert(rows(2).getString(1) == "::1")
    assert(rows(4).getString(1) == "2001:db8::ff00:42:8329") // RFC 5952 compression
    assert(rows(5).isNullAt(1) && rows(6).isNullAt(1) && rows(7).isNullAt(1))
  }

  test("ip_pton packs v4 and v6 bytes network-order") {
    import graft.functions.NetFunctions
    val r = Seq(("10.0.0.255", "2001:db8::1")).toDF("a", "b")
      .select(NetFunctions.ipPton(col("a")), NetFunctions.ipPton(col("b"))).head
    assert(r.getAs[Array[Byte]](0).toSeq == Seq[Byte](10, 0, 0, -1))
    val v6 = r.getAs[Array[Byte]](1)
    assert(v6.length == 16 && (v6(0) & 0xff) == 0x20 && (v6(1) & 0xff) == 0x01 &&
      (v6(2) & 0xff) == 0x0d && (v6(3) & 0xff) == 0xb8 && (v6(15) & 0xff) == 1)
  }

  test("decode_percent decodes and returns null on bad escapes") {
    val rows = Seq("a%20b%2Fc", "bad%zz").toDF("s")
      .select(TransformDsl.decodePercent(col("s"))).collect()
    assert(rows(0).getString(0) == "a b/c")
    assert(rows(1).isNullAt(0))
  }

  test("deepMerge unions struct fields, from wins, struct-struct recurses") {
    val df = spark.sql(
      """SELECT named_struct('keep', 'x', 'both', 'old',
           'nest', named_struct('a', 1, 'b', 2)) AS t,
         named_struct('both', 'new', 'extra', 'y',
           'nest', named_struct('b', 20, 'c', 30)) AS f""")
    val out = df.select(TransformDsl.deepMerge(df, "t", "f").as("m"))
      .select("m.keep", "m.both", "m.extra", "m.nest.a", "m.nest.b", "m.nest.c").head
    assert(out == Row("x", "new", "y", 1, 20, 30))
  }

  test("deepMerge: null from-side leaf falls back; whole-null side passes through") {
    val df = spark.sql(
      """SELECT named_struct('v', 'old') AS t,
         CAST(named_struct('v', CAST(NULL AS STRING)) AS struct<v:string>) AS f,
         CAST(NULL AS struct<v:string>) AS fnull""")
    val out = df.select(
      TransformDsl.deepMerge(df, "t", "f").getField("v").as("a"),
      TransformDsl.deepMerge(df, "t", "fnull").getField("v").as("b")).head
    assert(out == Row("old", "old"))
  }

  test("NfcNormalize composes combining marks; idempotent; null-safe; " +
      "rejects non-strings") {
    import graft.plans.NfcNormalize
    val df = Seq(
      ("dec", "CAFÉ"),  // E + combining acute
      ("pre", "CAFÉ"),   // precomposed É
      ("ascii", "plain text"),
      ("null", null)).toDF("k", "t")
    val out = df.select(col("k"), NfcNormalize(col("t")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("dec") == out("pre") && out("dec") == "CAFÉ")
    assert(out("ascii") == "plain text")
    assert(out("null") == null)
    // idempotent: NFC(NFC(x)) == NFC(x)
    val twice = df.filter(col("t").isNotNull)
      .select((NfcNormalize(NfcNormalize(col("t"))) ===
        NfcNormalize(col("t"))).as("eq")).collect()
    assert(twice.forall(_.getBoolean(0)))
    val err = intercept[Exception] {
      Seq(1L).toDF("x").select(NfcNormalize(col("x"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("nfc_normalize") ||
      err.getMessage.toLowerCase.contains("string"))
  }

  test("rrfFuse: integer reciprocal-rank scores, absent modality " +
      "contributes zero with a NULL rank, topK total-ordered") {
    import graft.operators.Ranking
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("qid", "id", "rank")
    val vec = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("qid", "id", "rank")
    val out = Ranking.rrfFuse(Seq("lex" -> lex, "vec" -> vec), topK = 2)
      .orderBy(col("rrf").desc, col("id"))
      .collect().map(r => (r.getLong(1), r.getLong(4),
        Option(r.get(2)).map(_.toString), Option(r.get(3)).map(_.toString)))
    // 11: in both → 1000000/62 + 1000000/61 = 16129 + 16393 = 32522
    // 10: lex only → 1000000/61 = 16393 (vec rank NULL)
    // 12: 16129 — cut by topK = 2
    assert(out.toList == List(
      (11L, 32522L, Some("2"), Some("1")),
      (10L, 16393L, Some("1"), None)))
    // modality names that are NOT bare lowercase identifiers (dots,
    // dashes, reserved words) must parse and resolve identically — the
    // fused expression quotes its derived rank columns
    val out2 = Ranking.rrfFuse(
        Seq("bm25.v2" -> lex, "select" -> vec), topK = 2)
      .orderBy(col("rrf").desc, col("id"))
      .collect().map(r => (r.getLong(1), r.getLong(4)))
    assert(out2.toList == List((11L, 32522L), (10L, 16393L)))
  }
}

object FunctionsSpec {
  import graft.operators.Delivery
  val collected = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
  object CollectorSink extends Delivery.AlertSink {
    def send(batch: Seq[(String, String)]): Unit = batch.foreach(collected.add)
  }
}
