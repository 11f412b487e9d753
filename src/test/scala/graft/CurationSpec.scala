package graft

import graft.operators.Curation
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("deterministic split: stable across evaluations, ranges honored") {
    val df = spark.range(0, 2000).toDF("id")
    val a = Curation.deterministicSplit(df, "id").select("id", "bucket", "split")
    val b = Curation.deterministicSplit(df, "id").select("id", "bucket", "split")
    assert(a.collect().sortBy(_.getLong(0)).sameElements(b.collect().sortBy(_.getLong(0))))
    val rows = a.collect()
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 100))
    rows.foreach { r =>
      val expected =
        if (r.getLong(1) < 90) "train" else if (r.getLong(1) < 95) "val" else "test"
      assert(r.getString(2) == expected, s"id=${r.getLong(0)}")
    }
    // all three splits populated and train dominates on 2000 ids
    val counts = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") + counts("test"))
  }

  test("languageIdMulti: argmax over per-language lexicon ratios on mixed fixtures") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "the cat sat on the mat and it was happy in the sun"),
      (2L, "el perro corre por la calle y no se detiene en la plaza"),
      (3L, "le chien court dans la rue et les enfants jouent pour le plaisir"),
      (4L, "der hund läuft auf der straße und das kind spielt mit dem ball nicht"),
      (5L, "o gato dorme em uma casa e não sai para a rua com os outros"),
      (6L, "il gatto dorme con il cane e non esce per la strada che conosce"),
      (7L, "zzz qqq xxx www yyy kkk"), // no lexicon hits anywhere → unk
      (8L, ""))                      // empty → 0 tokens, all ratios 0.0, unk
      .toDF("doc_id", "text")
    val out = TextAnalysis.languageIdMulti(docs, "text")
      .select("doc_id", "lang_pred", "lang_conf", "n_tokens")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getLong(3))).toMap
    assert(out(1L)._1 == "en"); assert(out(2L)._1 == "es")
    assert(out(3L)._1 == "fr"); assert(out(4L)._1 == "de")
    assert(out(5L)._1 == "pt"); assert(out(6L)._1 == "it")
    assert(out(7L) == (("unk", 0.0, 6L)))
    assert(out(8L) == (("unk", 0.0, 0L))) // never NaN
    // confidence is the winning ratio: doc 1 has 8 en-lexicon hits
    // (the×3, on, and, it, was, in) over 13 tokens
    assert(out(1L)._2 == 8.0 / 13)
    // every winner cleared the threshold
    assert(Seq(1L, 2L, 3L, 4L, 5L, 6L).forall(out(_)._2 >= 0.08))
  }

  test("deterministic split rejects percents that do not sum to 100") {
    val df = spark.range(0, 10).toDF("id")
    intercept[IllegalArgumentException] {
      Curation.deterministicSplit(df, "id", Seq("a" -> 50, "b" -> 40))
    }
  }

  test("decontaminate counts distinct n-gram overlap against the train corpus") {
    val train = Seq((1L, "the cat sat on the mat"), (2L, "dogs bark loudly at night"))
      .toDF("doc_id", "text")
    val test = Seq(
      (10L, "the cat sat on a chair"),  // shares "the cat sat", "cat sat on"
      (11L, "completely novel words here entirely"), // zero overlap
      (12L, "on the mat"))               // exactly one trigram, contaminated
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(train, test, "doc_id", "text", shingleN = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(10L) == (4L, 2L))
    assert(out(11L) == (3L, 0L))
    assert(out(12L) == (1L, 1L))
  }

  test("decontaminate drops docs shorter than the shingle width on both sides") {
    val train = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val test = Seq((10L, "alpha beta"), (11L, "alpha beta gamma")).toDF("doc_id", "text")
    val ids = Curation.decontaminate(train, test, "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(11L)) // 2-token doc has no trigram rows to aggregate
  }

  test("decontaminate with bloom pre-pass: identical output (no false negatives)") {
    val docs = (0L until 200L).map(i =>
      (i, s"token${i % 17} alpha token${i % 7} beta token${i % 29} gamma delta word$i"))
      .toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val test_ = docs.filter(col("doc_id") % 10 === 0)
    val off = Curation.decontaminate(train, test_, "doc_id", "text", 3)
      .orderBy("doc_id").collect().toSeq
    for (fpp <- Seq(0.5, 0.03)) {
      val on = Curation.decontaminate(train, test_, "doc_id", "text", 3,
        bloomFpp = Some(fpp), bloomExpectedItems = 1000L)
        .orderBy("doc_id").collect().toSeq
      assert(on == off, s"bloom fpp=$fpp changed the answer")
    }
  }

  test("bloom pre-pass fpp monotonicity: lower fpp never passes more strays") {
    import graft.plans.BloomMightContain
    val members = (0 until 50).map(i => s"member-gram-$i")
    val strays = (0 until 2000).map(i => s"stray-gram-$i")
    val memberDf = members.toDF("gram")
    val strayDf = strays.toDF("gram")
    val passCounts = Seq(0.5, 0.05, 0.005).map { fpp =>
      val bloom = memberDf.stat.bloomFilter("gram", 50L, fpp)
      // no false negatives at any fpp
      assert(memberDf.filter(BloomMightContain(bloom, col("gram"))).count() == 50L)
      fpp -> strayDf.filter(BloomMightContain(bloom, col("gram"))).count()
    }
    // monotone: more bits (lower fpp) never lets MORE non-members through
    assert(passCounts.sliding(2).forall { case Seq((_, hi), (_, lo)) => lo <= hi },
      s"stray pass counts not monotone in fpp: $passCounts")
    // and the tightest filter is actually tight on 2000 strays
    assert(passCounts.last._2 <= 40, s"fpp=0.005 passed ${passCounts.last._2}/2000 strays")
  }

  test("stratifiedSample: per-stratum rates honored exactly and reproducibly") {
    val df = spark.range(0, 3000).toDF("id")
      .withColumn("grp", when(col("id") % 2 === 0, "a").otherwise("b"))
    val kept = Curation.stratifiedSample(df, "id", "grp", Map("a" -> 0.2))
    // membership is exactly bucket < rate, per row
    val check = kept.withColumn("b", Curation.hashBucket(col("id"), 10000))
      .collect()
    assert(check.forall { r =>
      val cap = if (r.getString(1) == "a") 2000L else 10000L
      r.getLong(2) < cap
    })
    // stratum b untouched (default fraction 1.0), stratum a downsampled
    val counts = kept.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("b") == 1500L)
    assert(counts("a") > 200 && counts("a") < 400) // ~20% of 1500
    // reproducible: second evaluation keeps the identical id set
    val again = Curation.stratifiedSample(df, "id", "grp", Map("a" -> 0.2))
    assert(kept.select("id").as[Long].collect().sorted
      .sameElements(again.select("id").as[Long].collect().sorted))
  }

  test("quantizeInt8: codes reconstruct within half a step, zero vector safe") {
    import graft.functions.VectorFunctions._
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(2.0f, -2.0f, 1.0f, -0.5f)))
      .toDF("id", "emb")
      .withColumn("vec", asDouble(col("emb")))
      .withColumn("scale", int8Scale(col("vec")))
      .withColumn("q", quantizeInt8(col("vec"), col("scale")))
    val rows = df.select("id", "scale", "q", "vec").collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Long](2), r.getSeq[Double](3))).toMap
    // max-magnitude component always maps to ±127
    assert(rows(1L)._2 == Seq(64L, -127L, 32L, 0L))
    assert(rows(3L)._2 == Seq(127L, -127L, 64L, -32L))
    // zero vector: scale 0.0, all-zero codes (no NaN/div-by-zero)
    assert(rows(2L)._1 == 0.0 && rows(2L)._2.forall(_ == 0L))
    // dequantization error bounded by half a quantization step
    val (s1, q1, v1) = rows(1L)
    q1.zip(v1).foreach { case (q, x) =>
      assert(math.abs(q / s1 - x) <= 0.5 / s1 + 1e-12)
    }
  }

  test("chunkByTokens: overlapping windows, exact bounds, tail clamp, empty drop") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7"), // 7 tokens, max 3 stride 2 → starts 0,2,4,6
      (2L, "a b"),                  // shorter than one window → 1 chunk of 2
      (3L, ""))                     // no tokens → no chunks
      .toDF("doc_id", "text")
    val out = Curation.chunkByTokens(docs, "doc_id", "text", maxTokens = 3, stride = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[Long]("chunk_start"), r.getAs[Long]("n_chunk_tokens"),
          r.getAs[String]("chunk_text"))).toMap
    assert(out.keySet == Set((1L, 0L), (1L, 1L), (1L, 2L), (1L, 3L), (2L, 0L)))
    assert(out((1L, 0L)) == ((0L, 3L, "w1 w2 w3")))
    assert(out((1L, 1L)) == ((2L, 3L, "w3 w4 w5"))) // 1-token overlap carried
    assert(out((1L, 3L)) == ((6L, 1L, "w7")))       // tail clamps, never empty
    assert(out((2L, 0L)) == ((0L, 2L, "a b")))
    // every token of doc 1 lands in at least one chunk
    val covered = out.collect { case ((1L, _), (s, n, _)) => (s until s + n) }.flatten.toSet
    assert(covered == (0L until 7L).toSet)
    intercept[IllegalArgumentException] {
      Curation.chunkByTokens(docs, "doc_id", "text", maxTokens = 3, stride = 4)
    }
  }

  test("packByBudget: exclusive prefix sum opens packs at budget boundaries") {
    val df = Seq(
      ("en", 1L, 100L), ("en", 2L, 400L), ("en", 3L, 100L), ("en", 4L, 512L),
      ("fr", 1L, 600L), ("fr", 2L, 10L))
      .toDF("lang", "doc_id", "n_tokens")
    val out = Curation.packByBudget(df, "doc_id", "n_tokens", 512L, "lang", "doc_id")
      .select("lang", "doc_id", "pack_id")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // en prefix sums (exclusive): 0, 100, 500, 600 → packs 0,0,0,1
    assert(out(("en", 1L)) == 0L && out(("en", 2L)) == 0L)
    assert(out(("en", 3L)) == 0L && out(("en", 4L)) == 1L)
    // fr stratum packs independently: 0, 600 → packs 0, 1
    assert(out(("fr", 1L)) == 0L && out(("fr", 2L)) == 1L)
  }

  test("bigramFamiliarity: add-one smoothed conditionals, hand-computed") {
    import graft.operators.TextAnalysis
    // corpus: "a b a b" + "a b c"
    //   bigram counts: (a b)=3, (b a)=1, (b c)=1; prefix counts: a=3, b=2
    //   V=3 → P(a b)=4/6, P(b a)=2/5, P(b c)=2/5
    val d = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramFamiliarity(d, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(g => (g._1, g._2)).toSeq == Seq((1L, 3L), (2L, 2L)))
    assert(math.abs(got(0)._3 - (4.0 / 6 + 2.0 / 5 + 4.0 / 6) / 3) < 1e-15)
    assert(math.abs(got(1)._3 - (4.0 / 6 + 2.0 / 5) / 2) < 1e-15)
    // familiar text outscores gibberish under the corpus model
    val mixed = Seq((1L, "a b a b"), (2L, "a b a b"), (3L, "x y z q"))
      .toDF("doc_id", "text")
    val scores = TextAnalysis.bigramFamiliarity(mixed, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getDouble(2))
    assert(scores(0) > scores(2) && scores(1) > scores(2))
  }

  test("removeBoilerplateSegments: repeated segment dropped everywhere, order kept") {
    // segment width 2, minDocs 3: "buy now" appears in docs 1,2,3 → boilerplate;
    // every other segment is unique. Doc 4 has no boilerplate; doc 5 is empty.
    val d = Seq(
      (1L, "alpha beta buy now gamma delta"),
      (2L, "buy now epsilon zeta"),
      (3L, "eta theta buy now"),
      (4L, "iota kappa lambda mu"),
      (5L, ""))
      .toDF("doc_id", "text")
    val out = Curation.removeBoilerplateSegments(d, "doc_id", "text",
        segTokens = 2, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((3L, 1L, "alpha beta gamma delta")))
    assert(out(2L) == ((2L, 1L, "epsilon zeta")))
    assert(out(3L) == ((2L, 1L, "eta theta")))
    assert(out(4L) == ((2L, 0L, "iota kappa lambda mu")))
    assert(out(5L) == ((0L, 0L, ""))) // empty doc survives with zero segments
    // a ragged tail segment (shorter than segTokens) still counts as one unit
    val ragged = Seq((1L, "a b c"), (2L, "x c"), (3L, "y c"), (4L, "z c"))
      .toDF("doc_id", "text")
    val r2 = Curation.removeBoilerplateSegments(ragged, "doc_id", "text",
        segTokens = 2, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // tail "c" of doc 1 aligns with "x c"/"y c"/"z c"? no — those are full
    // segments "x c" etc., distinct strings; nothing reaches minDocs
    assert(r2(1L) == "a b c" && r2(2L) == "x c")
  }

  test("cdcChunks: chunks tile the text exactly and re-align after a prefix edit") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 6
    val d = Seq((1L, base), (2L, "PREFIX INSERTED " + base), (3L, ""))
      .toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(d, "doc_id", "text", window = 4, divisor = 32)
      .collect()
    // tiling: per doc, chunk lens sum to the normalized length and starts chain
    val byDoc = ch.groupBy(_.getLong(0))
    assert(!byDoc.contains(3L)) // empty doc yields no chunks
    for ((id, rows) <- byDoc) {
      val sorted = rows.sortBy(_.getLong(1))
      val normLen = base.trim.length + (if (id == 2L) "prefix inserted ".length else 0)
      assert(sorted.map(_.getLong(3)).sum == normLen)
      sorted.foldLeft(0L) { (pos, r) =>
        assert(r.getLong(2) == pos); pos + r.getLong(3)
      }
    }
    // CDC property: after the prefix edit, boundaries re-align — most of
    // doc 2's chunk hashes are shared with doc 1
    val h1 = byDoc(1L).map(_.getString(4)).toSet
    val h2 = byDoc(2L).map(_.getString(4)).toSet
    assert(h1.size > 4, s"expected several chunks, got ${h1.size}")
    val shared = (h1 intersect h2).size
    assert(shared >= h1.size - 2,
      s"CDC should re-align after a prefix edit: shared=$shared of ${h1.size}")
  }

  test("perceptron: hand-computed rounds, convergence on separable labels") {
    import graft.operators.LinearClassifier
    // 1-D + bias, separable at x > 2: y=+1 for x=3,4; y=-1 for x=0,1
    val f = Seq((1L, 1L, 3L), (1L, 1L, 4L), (-1L, 1L, 0L), (-1L, 1L, 1L))
      .toDF("y", "x0", "x1")
    val hist = LinearClassifier.trainPerceptron(f, "y", Seq("x0", "x1"), 4)
    // round 1: w=0 → all 4 misclassified; grad = Σ y·x = (1+1-1-1, 3+4-0-1) = (0, 6)
    assert(hist(0) == LinearClassifier.PerceptronRound(1, Seq(0L, 6L), 4L))
    // round 2: w=(0,6): margins y·6x1 = 18,24,0,-6 → x=0 row (margin 0) and
    // x=1 row (margin -6) misclassified; grad = (-1-1, 0-1) = (-2, -1)
    assert(hist(1) == LinearClassifier.PerceptronRound(2, Seq(-2L, 5L), 2L))
    // round 3: w=(-2,5): margins = 13,18,2,-3 → x=1 row only; grad=(-1,-1)
    assert(hist(2) == LinearClassifier.PerceptronRound(3, Seq(-3L, 4L), 1L))
    // round 4: w=(-3,4): margins = 9,13,3,-1 → x=1 row; then w=(-4,3)
    assert(hist(3) == LinearClassifier.PerceptronRound(4, Seq(-4L, 3L), 1L))
    // scoring under the final weights separates the classes
    val scored = f.withColumn("m",
        LinearClassifier.score(Seq("x0", "x1"), hist.last.weights))
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(scored.forall { case (y, m) => if (y > 0) m > 0 else m <= 0 })
  }

  test("leakage split: every near-dup cluster lands in exactly one split") {
    import graft.operators.Dedup
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val clustered = Dedup.duplicateClusters(nodes, pairs)
    val out = Curation.deterministicSplit(clustered, "cluster_id")
      .select("id", "cluster_id", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val perCluster = out.groupBy(_._2).view.mapValues(_.map(_._3).distinct).toMap
    assert(perCluster.values.forall(_.size == 1),
      s"cluster straddles splits: $perCluster")
    // the connected component {1,2,3} moves as one unit
    assert(out.filter(t => Set(1L, 2L, 3L)(t._1)).map(_._3).distinct.length == 1)
  }

  test("gopherRules: each published rule fires on its fixture and only " +
      "there; boundaries are exact (cross-multiplied, no float)") {
    // one doc per rule, built to trip THAT rule (minWords lowered to 5
    // so short fixtures stay legible); doc 0 passes everything
    val docs = Seq(
      (0L, "the quick brown foxes jumped over those lazy hounds of " +
        "winter fields"),
      (1L, "the broad oak of"), // 4 words < minWords
      (2L, "the of to be an it is on at up"), // mean word len 21/10 < 3
      (3L, "the cat### sat on the mat of june here now"), // 3 symbols / 10
      (4L, (1 to 10).map(i => s"- the theta items of quality v$i")
        .mkString("\n")), // 10/10 bullet lines > 90%
      (5L, "the first line of it\nwaiting for more...\n" +
        "still waiting here…\nplain closing line of text"), // 2/4 > 30%
      (6L, "the cat of 123 456 789 000 111 222 333"), // 3/10 alpha < 80%
      (7L, "green trees grow tall near rivers quite often"), // 0 stopwords
      (8L, "the first line of text\nsame line again\nsame line again\n" +
        "same line again")) // 2 dup / 4 lines > 30%
      .toDF("doc_id", "text")
    val out = Curation.gopherRules(docs, "doc_id", "text", minWords = 5L,
        maxWords = 100L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val flags = Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio",
      "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words", "r_stopwords",
      "r_dup_lines")
    flags.foreach(f => assert(out(0L).getAs[Boolean](f), s"doc 0 $f"))
    assert(out(0L).getAs[Boolean]("keep"))
    val trips = Map(1L -> "r_word_count", 2L -> "r_mean_word_len",
      3L -> "r_symbol_ratio", 4L -> "r_bullet_lines",
      5L -> "r_ellipsis_lines", 6L -> "r_alpha_words", 7L -> "r_stopwords",
      8L -> "r_dup_lines")
    trips.foreach { case (id, f) =>
      assert(!out(id).getAs[Boolean](f), s"doc $id must trip $f")
      assert(!out(id).getAs[Boolean]("keep"), s"doc $id keep")
    }
    // counters behind doc 5: unicode … counts as an ellipsis ending
    assert(out(5L).getAs[Long]("n_ellipsis_lines") == 2L)
    assert(out(4L).getAs[Long]("n_bullet_lines") == 10L)
    assert(out(8L).getAs[Long]("n_dup_lines") == 2L)
    // exact boundaries: 3 ellipsis lines of 10 is EXACTLY 30% → pass;
    // 1 symbol over 10 words is EXACTLY 10% → pass (a float ratio with
    // rounding error could tip either)
    val edge = Seq(
      (10L, (1 to 7).map(i => s"the plain line of number item v$i")
        .mkString("\n") + "\nwaiting for it...\nholding for it...\n" +
        "pausing for it..."),
      (11L, "the cat### sat on the mat of june here now padding"))
      .toDF("doc_id", "text")
    // doc 11: 3 symbols / 11 words → fails; strip two hashes → 1/10 edge
    val edgeOut = Curation.gopherRules(edge, "doc_id", "text",
        minWords = 5L, maxWords = 100L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(edgeOut(10L).getAs[Long]("n_lines") == 10L)
    assert(edgeOut(10L).getAs[Long]("n_ellipsis_lines") == 3L)
    assert(edgeOut(10L).getAs[Boolean]("r_ellipsis_lines"),
      "exactly 30% ellipsis lines must PASS")
    val oneSym = Seq((12L, "the cat# sat on the mat of june here now"))
      .toDF("doc_id", "text")
    val so = Curation.gopherRules(oneSym, "doc_id", "text", minWords = 5L)
      .head()
    assert(so.getAs[Long]("n_symbols") == 1L &&
      so.getAs[Long]("n_words") == 10L)
    assert(so.getAs[Boolean]("r_symbol_ratio"),
      "exactly 10% symbols must PASS")
  }

  test("gopherRepetition: top-n-gram chars, union-coverage dup n-grams " +
      "(no double counting), paragraph/line duplicate characters") {
    val docs = Seq(
      // 0: 'ba na' ×3 of 6 words — top-2-gram chars 12/12 trips the rule
      (0L, "ba na ba na ba na"),
      // 1: two overlapping duplicated 5-grams; covered positions are the
      // UNION 1..12 (word 13 'seven' uncovered) — 44 of 49 chars
      (1L, "one two three four five six one two three four five six seven"),
      // 2: repeated paragraph (and repeated line inside it)
      (2L, "alpha beta\n\nrepeat me\n\nrepeat me"),
      // 3: 40 distinct words — everything passes
      (3L, (1 to 40).map(i => f"a$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.gopherRepetition(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 0: top 2-gram 'ba na' cnt 3 × (len 5 − 1 sep) = 12 chars of 12
    assert(out(0L).getAs[Long]("top2_chars") == 12L)
    assert(!out(0L).getAs[Boolean]("r_top2gram"))
    assert(out(0L).getAs[Long]("dup5_chars") == 0L, "no duplicated 5-gram")
    // doc 1: dup 5-grams cover words 1..12 exactly once = 44 chars — a
    // per-occurrence sum would double-count the overlap and exceed this
    assert(out(1L).getAs[Long]("dup5_chars") == 44L)
    assert(out(1L).getAs[Long]("n_word_chars") == 49L)
    assert(!out(1L).getAs[Boolean]("r_dup5gram"))
    assert(out(1L).getAs[Long]("dup6_chars") == 44L) // 6-gram pair too
    assert(out(1L).getAs[Long]("dup7_chars") == 0L)
    // doc 2: 3 paragraphs, 1 duplicate (9 redundant chars of 28); the
    // blank lines between paragraphs duplicate at zero chars
    assert(out(2L).getAs[Long]("n_paras") == 3L)
    assert(out(2L).getAs[Long]("n_dup_paras") == 1L)
    assert(out(2L).getAs[Long]("dup_para_chars") == 9L)
    assert(out(2L).getAs[Long]("n_para_chars") == 28L)
    assert(!out(2L).getAs[Boolean]("r_dup_paras"))
    assert(!out(2L).getAs[Boolean]("r_dup_para_chars"))
    assert(out(2L).getAs[Long]("dup_line_chars") == 9L)
    assert(!out(2L).getAs[Boolean]("r_dup_line_chars"))
    // doc 3: all rules pass (unique vocabulary, single line/paragraph)
    assert(out(3L).getAs[Boolean]("keep"), s"doc 3: ${out(3L)}")
    // doc 0 keep must be false via the tripped rule alone
    assert(!out(0L).getAs[Boolean]("keep"))
  }

  test("corpusParagraphDedup: first (doc,pos) occurrence wins corpus-wide, " +
      "digit-placeholder normalization merges counter variants, " +
      "text rebuilds in original order") {
    val docs = Seq(
      (1L, "shared boiler\n\nunique one"),
      // pos-2 footer normalizes equal to doc 3's pos-0 ("call 0 now");
      // (2,2) < (3,0) in (doc, pos) order so doc 2 keeps it
      (2L, "shared boiler\n\nunique two\n\nCall 555 now"),
      (3L, "call 123 NOW\n\nshared boiler"),
      // blank-line runs produce EMPTY paragraphs — they dedup too
      (4L, "a\n\n\n\nb"),
      (5L, "x\n\n\n\ny"))
      .toDF("doc_id", "text")
    val out = Curation.corpusParagraphDedup(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_kept") == 2L)
    assert(out(1L).getAs[String]("text_clean") ==
      "shared boiler\n\nunique one")
    assert(out(2L).getAs[Long]("n_paras") == 3L)
    assert(out(2L).getAs[Long]("n_kept") == 2L)
    assert(out(2L).getAs[String]("text_clean") ==
      "unique two\n\nCall 555 now")
    // doc 3 loses BOTH paragraphs (each first appeared in a lower doc)
    assert(out(3L).getAs[Long]("n_kept") == 0L)
    assert(out(3L).getAs[String]("text_clean") == "")
    // doc 4 owns the first empty paragraph; doc 5's is cut
    assert(out(4L).getAs[String]("text_clean") == "a\n\n\n\nb")
    assert(out(5L).getAs[Long]("n_kept") == 2L)
    assert(out(5L).getAs[String]("text_clean") == "x\n\ny")
  }

  test("datasetDiff: added/removed/changed classified on slim hashes, " +
      "unchanged rows drop, multi-column content and nulls diff") {
    val a = Seq((1L, "same", "x"), (2L, "old", "x"), (3L, "gone", "x"),
      (5L, "same", "x"), (6L, "same", null: String))
      .toDF("id", "t1", "t2")
    val b = Seq((1L, "same", "x"), (2L, "new", "x"), (4L, "fresh", "x"),
      (5L, "same", "y"), (6L, "same", "z"))
      .toDF("id", "t1", "t2")
    val out = Curation.datasetDiff(a, b, "id", Seq("t1", "t2"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      2L -> "changed",  // first content col differs
      3L -> "removed",
      4L -> "added",
      5L -> "changed",  // second content col differs
      6L -> "changed")) // null → value counts as a change
    assert(!out.contains(1L), "unchanged rows never reach the ledger")
  }

  test("datasetDiff: a value moving between adjacent nullable columns is " +
      "changed — null fields must perturb the content hash positionally") {
    // Spark's xxhash64 skips null struct fields without advancing the
    // seed, so without per-column null markers ('x', null) and (null,
    // 'x') hash identically — a deterministic false 'unchanged'
    val a = Seq((1L, "x", null: String), (2L, null: String, null: String))
      .toDF("id", "t1", "t2")
    val b = Seq((1L, null: String, "x"), (2L, null: String, null: String))
      .toDF("id", "t1", "t2")
    val out = Curation.datasetDiff(a, b, "id", Seq("t1", "t2"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "changed"), "null-swap must diff; all-null " +
      "rows identical on both sides stay unchanged")
  }

  test("curriculumPhases: equal-count phases by ascending score with an " +
      "uneven remainder to the FIRST phases, ties broken by id, single " +
      "phase is identity") {
    // 10 docs, scores make rank order = id order
    val docs = (1L to 10L).map(i => (i, i * 10L)).toDF("id", "s")
    val out = Curation.curriculumPhases(docs, "id", "s", nPhases = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // (3·(rk−1)) div 10: ranks 1-4 → 0, 5-7 → 1, 8-10 → 2
    assert((1L to 4L).forall(out(_) == 0L))
    assert((5L to 7L).forall(out(_) == 1L))
    assert((8L to 10L).forall(out(_) == 2L))
    // score ties: id ascending breaks them deterministically
    val tied = Seq((5L, 1L), (1L, 1L), (3L, 1L)).toDF("id", "s")
    val t = Curation.curriculumPhases(tied, "id", "s", nPhases = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(t == Map(1L -> 0L, 3L -> 1L, 5L -> 2L))
    // nPhases = 1: everything phase 0
    assert(Curation.curriculumPhases(docs, "id", "s", nPhases = 1)
      .collect().forall(_.getLong(2) == 0L))
  }

  test("release pipeline corners: identical editions diff empty, an " +
      "empty tier diffs as pure adds, budget > corpus selects everything") {
    import graft.operators.Release
    import graft.lake.Snapshots
    val docs = (1L to 40L)
      .map(i => (i, if (i % 2 == 0) "en" else "fr", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    // identical cuts → identical editions → empty ledger
    val t1 = tempDir("rel_same").toString
    val same = Release.releaseDiffPipeline(spark, docs, "doc_id", "lang",
      "n_chars", cutA = 5000L, cutB = 5000L, budgetNum = 9L,
      budgetDen = 10L, epochCap = 1L, packBudget = 500L, baseDir = t1)
    assert(same.isEmpty, "identical editions must produce an empty ledger")
    // empty tier (cut 0 admits nothing) → every B pack is 'added'
    val t2 = tempDir("rel_empty").toString
    val adds = Release.releaseDiffPipeline(spark, docs, "doc_id", "lang",
      "n_chars", cutA = 0L, cutB = 10000L, budgetNum = 9L,
      budgetDen = 10L, epochCap = 1L, packBudget = 500L, baseDir = t2)
      .collect()
    assert(adds.nonEmpty && adds.forall(_.getString(1) == "added"),
      "an empty previous edition must diff as pure adds")
    val bPacks = Snapshots.read(spark, s"$t2/manifestB").count()
    assert(adds.length.toLong == bPacks)
    // budget > corpus capacity → every language saturates at its epoch
    // cap and the edition keeps its whole tier corpus
    val t3 = tempDir("rel_sat").toString
    Release.buildEdition(spark, docs, "doc_id", "lang", "n_chars",
      cutBp = 10000L, budgetNum = 30L, budgetDen = 10L, epochCap = 1L,
      table = s"$t3/edition")
    assert(Snapshots.read(spark, s"$t3/edition").count() == 40L,
      "an over-budget edition must select the entire corpus")
  }

  test("packManifest: per-pack boundary offsets are the cumulative doc " +
      "ends, whole docs may overshoot the budget, order is the pack order") {
    val docs = Seq(
      (1L, "en", 300L), (2L, "en", 300L), (3L, "en", 100L),
      (4L, "en", 500L), (5L, "en", 100L))
      .toDF("doc_id", "lang", "n_tokens")
    val out = Curation.packManifest(docs, "doc_id", "n_tokens",
        budget = 512L, partitionCol = "lang", orderCol = "doc_id")
      .collect().map(r => r.getAs[Long]("pack_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[String]("boundaries_csv")))).toMap
    // exclusive prefixes 0/300/600/700/1200 → packs 0/0/1/1/2
    assert(out(0L) == ((2L, 600L, "300,600"))) // doc 2 overshoots 512
    assert(out(1L) == ((2L, 600L, "100,600")))
    assert(out(2L) == ((1L, 100L, "100")))
  }

  test("nestedSubsets: cumulative ladder, structural nesting against " +
      "direct membership, extension stability, partial ladders") {
    val docs = spark.range(0, 500)
      .select(col("id").as("doc_id"), (col("id") % 7 + 1).as("w"))
    val cuts = Seq(("a", 100L), ("b", 1000L), ("c", 5000L), ("d", 10000L))
    val out = Curation.nestedSubsets(docs, "doc_id", "w", cuts)
      .orderBy(col("cut_bp")).collect()
    assert(out.map(_.getAs[String]("level")).toSeq == Seq("a", "b", "c", "d"))
    val ns = out.map(_.getAs[Long]("n_docs"))
    val ms = out.map(_.getAs[Long]("weight_mass"))
    assert(ns.toSeq == ns.sorted.toSeq && ms.toSeq == ms.sorted.toSeq,
      "monotone ladder")
    // the full-corpus level covers everything
    assert(ns.last == 500L)
    assert(ms.last == (0L until 500L).map(_ % 7 + 1).sum)
    // nesting ≡ direct hash membership at every cut
    cuts.zip(out).foreach { case ((_, bp), row) =>
      val direct = docs
        .filter(Curation.hashBucket(col("doc_id"), 10000) < bp).count()
      assert(row.getAs[Long]("n_docs") == direct, s"cut $bp")
    }
    // extension stability: the 250-doc prefix's members at each level
    // are unchanged by adding 250 more docs (counts add, never reshuffle)
    val half = Curation.nestedSubsets(
        docs.filter(col("doc_id") < 250), "doc_id", "w", cuts)
      .orderBy(col("cut_bp")).collect().map(_.getAs[Long]("n_docs"))
    val added = Curation.nestedSubsets(
        docs.filter(col("doc_id") >= 250), "doc_id", "w", cuts)
      .orderBy(col("cut_bp")).collect().map(_.getAs[Long]("n_docs"))
    assert(half.zip(added).map { case (a, b) => a + b }.toSeq == ns.toSeq)
    // a partial ladder (top cut below 10000) drops the tail docs
    val partial = Curation.nestedSubsets(docs, "doc_id", "w",
        Seq(("a", 100L), ("b", 1000L)))
      .orderBy(col("cut_bp")).collect()
    assert(partial.map(_.getAs[Long]("n_docs")).toSeq == ns.take(2).toSeq)
    // misordered cuts are rejected loudly
    intercept[IllegalArgumentException] {
      Curation.nestedSubsets(docs, "doc_id", "w",
        Seq(("x", 1000L), ("y", 100L)))
    }
  }

  test("lengthBucketBatches: binary-magnitude buckets, hash-ordered " +
      "fixed-row batches, exact padding ledger, ragged final batch") {
    // md5 order of "1".."4": "4" (a87f…) < "1" (c4ca…) < "2" (c81e…)
    //   < "3" (eccb…); of "5","6": "6" (1679…) < "5" (e4da…)
    val docs = Seq(
      (1L, 4L), (2L, 5L), (3L, 6L), (4L, 7L), // bucket 3: [4, 8)
      (5L, 8L), (6L, 9L),                     // bucket 4: [8, 16)
      (7L, 1L))                               // bucket 1: [1, 2)
      .toDF("doc_id", "n_toks")
    val out = Curation.lengthBucketBatches(docs, "doc_id", "n_toks",
        batchRows = 2L)
      .collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("batch_id")) -> r)
      .toMap
    // bucket 3 in hash order 4,1,2,3 → batch 0 = {7,4}, batch 1 = {5,6}
    val b30 = out((3L, 0L))
    assert(b30.getAs[Long]("n_rows") == 2L &&
      b30.getAs[Long]("max_tokens") == 7L &&
      b30.getAs[Long]("sum_tokens") == 11L &&
      b30.getAs[Long]("n_pad_tokens") == 3L)
    assert(b30.getAs[Double]("efficiency") == 11.0 / 14.0)
    val b31 = out((3L, 1L))
    assert(b31.getAs[Long]("max_tokens") == 6L &&
      b31.getAs[Long]("n_pad_tokens") == 1L)
    // bucket 4 in hash order 6,5 → one full batch {9,8}
    val b40 = out((4L, 0L))
    assert(b40.getAs[Long]("n_rows") == 2L &&
      b40.getAs[Long]("n_pad_tokens") == 1L)
    // ragged singleton batch pads to its own max — zero waste
    val b10 = out((1L, 0L))
    assert(b10.getAs[Long]("n_rows") == 1L &&
      b10.getAs[Long]("n_pad_tokens") == 0L &&
      b10.getAs[Double]("efficiency") == 1.0)
    assert(out.size == 4)
    // within-batch length spread < 2× by construction (shared bucket)
    out.values.foreach { r =>
      assert(r.getAs[Long]("max_tokens") < 2L * r.getAs[Long]("min_tokens"))
    }
    // zero-length rows land in their OWN bucket 0 (not next to genuine
    // length-1 rows, which would break the [2^(b−1), 2^b) invariant)
    // with a DEFINED efficiency of 1.0 — nothing to pad, not 0/0
    val withZero = docs.union(Seq((8L, 0L)).toDF("doc_id", "n_toks"))
    val zrows = Curation.lengthBucketBatches(withZero, "doc_id", "n_toks",
        batchRows = 2L)
      .collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("batch_id")) -> r)
      .toMap
    val z0 = zrows((0L, 0L))
    assert(z0.getAs[Long]("n_rows") == 1L &&
      z0.getAs[Long]("max_tokens") == 0L &&
      z0.getAs[Double]("efficiency") == 1.0)
    // the non-zero buckets are untouched by the zero row
    assert(zrows((1L, 0L)).getAs[Long]("n_rows") == 1L)
  }

  test("c4Rules: each published C4 line and page rule fires on its " +
      "fixture and only it") {
    val docs = Seq(
      // 3 well-formed lines → everything kept, 3 sentences, page kept
      (1L, "this page has a good first line today.\n" +
        "another proper sentence line sits here!\n" +
        "the third line asks a question, yes?"),
      // short line (min-words), unpunct line, javascript line — each
      // removed by its own rule; one good line left → < 3 sentences →
      // page dropped by the min-sentences rule alone
      (2L, "too short.\n" +
        "this line lacks terminal punctuation entirely today\n" +
        "please enable javascript to continue browsing now.\n" +
        "only one good sentence line remains here."),
      // lorem ipsum anywhere on the page → dropped (lines themselves fine)
      (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit.\n" +
        "second good line with enough words here.\n" +
        "third good line with enough words too."),
      // curly brace → dropped
      (4L, "if (x) { return y; } else done.\n" +
        "second good line with enough words here.\n" +
        "third good line with enough words too."),
      // bad-word token → dropped
      (5L, "this page mentions badword1 in passing prose.\n" +
        "second good line with enough words here.\n" +
        "third good line with enough words too."),
      // end-quote is a terminal mark per the published rule
      (6L, "a line ending with a quote she said \"indeed.\"\n" +
        "second good line with enough words here.\n" +
        "third good line with enough words too."))
      .toDF("doc_id", "text")
    val out = Curation.c4Rules(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_lines") == 3L &&
      d1.getAs[Long]("n_kept_lines") == 3L)
    assert(d1.getAs[Long]("n_sentences") == 3L)
    assert(d1.getAs[Boolean]("keep"))
    assert(!d1.getAs[Boolean]("f_lorem") && !d1.getAs[Boolean]("f_brace") &&
      !d1.getAs[Boolean]("f_bad_words"))
    val d2 = out(2L)
    assert(d2.getAs[Long]("n_kept_lines") == 1L)
    assert(d2.getAs[Long]("n_short_lines") == 1L)   // "too short."
    assert(d2.getAs[Long]("n_unpunct_lines") == 1L) // the bare line
    assert(d2.getAs[Long]("n_js_lines") == 1L)
    assert(d2.getAs[String]("text_clean") ==
      "only one good sentence line remains here.")
    assert(d2.getAs[Long]("n_sentences") == 1L)
    assert(!d2.getAs[Boolean]("r_min_sentences") && !d2.getAs[Boolean]("keep"))
    assert(out(3L).getAs[Boolean]("f_lorem") && !out(3L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Long]("n_kept_lines") == 3L) // lines were fine
    assert(out(4L).getAs[Boolean]("f_brace") && !out(4L).getAs[Boolean]("keep"))
    assert(out(5L).getAs[Boolean]("f_bad_words") &&
      !out(5L).getAs[Boolean]("keep"))
    val d6 = out(6L)
    assert(d6.getAs[Long]("n_kept_lines") == 3L) // quote-terminal line kept
    assert(d6.getAs[Boolean]("keep"))
    // a mixed-case blocklist still fires: the operator lowers the list
    // to match the lowered tokens (a verbatim compare would silently
    // disable the rule)
    val mixed = Curation.c4Rules(docs, "doc_id", "text",
        badWords = Seq("BadWord1"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(mixed(5L).getAs[Boolean]("f_bad_words"))
  }

  test("c4SpanDedup: first (doc,pos) span occurrence wins corpus-wide, " +
      "overlapping duplicated spans union their coverage, " +
      "lowercase normalization matches case variants") {
    val docs = Seq(
      (1L, "alpha one. alpha two. alpha three. unique tail one."),
      // span at pos 0 duplicates doc 1's winner → sentences 0..2 cut
      (2L, "alpha one. alpha two. alpha three. different ending here."),
      // the duplicated span sits at pos 1 → sentences 1..3 cut
      (3L, "prefix sentence. alpha one. alpha two. alpha three."),
      // zero sentences (no terminal mark) → absent from the output
      (4L, "no punct at all"),
      // fewer than 3 sentences → no spans, everything kept
      (5L, "solo. duo."),
      // two overlapping spans, BOTH winners here…
      (6L, "beta one. beta two. beta three. beta four."),
      // …and both non-winners here: union coverage cuts 4 sentences, not 6
      (7L, "beta one. beta two. beta three. beta four. extra tail sentence."),
      // case variants normalize onto doc 1's winner span
      (8L, "Alpha One. ALPHA TWO. Alpha Three."))
      .toDF("doc_id", "text")
    val out = Curation.c4SpanDedup(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out.contains(4L))
    assert(out(1L).getAs[Long]("n_cut") == 0L)
    assert(out(1L).getAs[String]("text_clean") ==
      "alpha one. alpha two. alpha three. unique tail one.")
    assert(out(2L).getAs[Long]("n_sents") == 4L &&
      out(2L).getAs[Long]("n_cut") == 3L)
    assert(out(2L).getAs[String]("text_clean") == "different ending here.")
    assert(out(3L).getAs[Long]("n_cut") == 3L)
    assert(out(3L).getAs[String]("text_clean") == "prefix sentence.")
    assert(out(5L).getAs[Long]("n_cut") == 0L &&
      out(5L).getAs[String]("text_clean") == "solo. duo.")
    assert(out(6L).getAs[Long]("n_cut") == 0L)
    assert(out(7L).getAs[Long]("n_cut") == 4L)
    assert(out(7L).getAs[String]("text_clean") == "extra tail sentence.")
    assert(out(8L).getAs[Long]("n_cut") == 3L &&
      out(8L).getAs[String]("text_clean") == "")
  }

  test("urlDomainFilter: longest-suffix registrable domains (co.uk beats " +
      "uk), punycode labels pass through undecoded, unknown suffix falls " +
      "back to last two labels, substring and domain blocklists compose") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      // multi-label suffix: registrable must be news.co.uk, NOT co.uk
      (1L, "a https://media.news.co.uk/article b"),
      // punycode host: xn-- label is an ordinary label, never decoded
      (2L, "a https://shop.xn--bcher-kva.de/kaufen b"),
      // blocked registrable domain (spam.example.net → example.net)
      (3L, "a http://spam.example.net/promo b"),
      // clean domain, blocked SUBSTRING in the path
      (4L, "a https://ok.example.com/free-casino-chips b"),
      // unknown suffix: fallback = last two labels
      (5L, "a https://files.internal/x b"),
      // single-label host: passes through whole
      (6L, "a http://localhost/x b"),
      // two URLs, one blocked — domain csv sorted, counts split
      (7L, "a https://a.example.org/x http://spam.example.net/y b"),
      // no URL at all
      (8L, "plain text only")).toDF("doc_id", "text")
    val out = TextAnalysis.urlDomainFilter(docs, "doc_id", "text",
        suffixes = Seq("com", "net", "org", "de", "uk", "co.uk"),
        blockedDomains = Seq("example.net"),
        blockedSubstrings = Seq("casino", "bet now"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("domains_csv") == "news.co.uk" &&
      out(1L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[String]("domains_csv") == "xn--bcher-kva.de" &&
      out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[String]("domains_csv") == "example.net" &&
      out(3L).getAs[Long]("n_blocked_domain") == 1L &&
      !out(3L).getAs[Boolean]("keep"))
    assert(out(4L).getAs[Long]("n_blocked_domain") == 0L &&
      out(4L).getAs[Long]("n_blocked_substring") == 1L &&
      !out(4L).getAs[Boolean]("keep"))
    assert(out(5L).getAs[String]("domains_csv") == "files.internal")
    assert(out(6L).getAs[String]("domains_csv") == "localhost")
    assert(out(7L).getAs[Long]("n_urls") == 2L &&
      out(7L).getAs[String]("domains_csv") == "example.net,example.org" &&
      out(7L).getAs[Long]("n_blocked_domain") == 1L &&
      !out(7L).getAs[Boolean]("keep"))
    assert(out(8L).getAs[Long]("n_urls") == 0L &&
      out(8L).getAs[String]("domains_csv") == "" &&
      out(8L).getAs[Boolean]("keep"))
  }
}
