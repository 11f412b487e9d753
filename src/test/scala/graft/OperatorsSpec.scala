package graft

import graft.operators.{Dedup, Enrichment, Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Dedup / similarity / enrichment / multimodal operator behavior. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups normalized duplicates") {
    val df = Seq((1L, "Hello  world"), (2L, "hello world"), (3L, "other text"))
      .toDF("id", "text").withColumn("text", lower(col("text")))
    val out = Dedup.exact(df, "id", "text").collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds a near-duplicate pair and jaccard verifies it") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val near = (1 to 28).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val far = (100 to 130).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val sets = Dedup.shingleFrame(df, "doc_id", "text")
    val cands = Dedup.lshCandidatePairs(sets, bands = 2, rowsPerBand = 3)
    val verified = Dedup.jaccardVerify(sets, cands, minJaccard = 0.5)
      .collect()
    assert(verified.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet == Set((1L, 2L)))
    assert(verified.head.getAs[Double]("jaccard") > 0.8)
  }

  test("edit-distance verify keeps pairs within the threshold with the exact distance") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val near = base.dropRight(5) + "XYZAB" // 5 substitutions at the tail
    val far = (100 to 130).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val sets = Dedup.shingleFrame(df, "doc_id", "text")
    val cands = Dedup.lshCandidatePairs(sets, bands = 2, rowsPerBand = 3)
    val kept = Dedup.editDistanceVerify(df, cands, "doc_id", "text", maxDist = 10)
      .collect()
    assert(kept.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet == Set((1L, 2L)))
    assert(kept.head.getAs[Long]("lev") == 5L, "thresholded lev = exact distance on kept pairs")
    // tighter threshold drops the pair entirely (the -1 sentinel is filtered)
    val none = Dedup.editDistanceVerify(df, cands, "doc_id", "text", maxDist = 3)
    assert(none.count() == 0)
  }

  test("salted join and salted count match their unsalted equivalents") {
    import graft.operators.Skew
    val big = (1 to 3000).map(i => (if (i % 10 == 0) "cold" + i else "hot", i))
      .toDF("k", "v")
    val small = Seq(("hot", "H")).toDF("k", "tag") // only the hot key matches
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
    val plain = big.join(small, "k")
    assert(salted.count() == plain.count())
    assert(salted.agg(sum("v")).head.getLong(0) == plain.agg(sum("v")).head.getLong(0))
    val counts = Skew.saltedCount(big, "k", salts = 8)
      .filter(col("k") === "hot").head.getAs[Long]("n")
    assert(counts == big.filter(col("k") === "hot").count())
  }

  test("CommonCount matches size(array_intersect) on distinct sets") {
    val docs = Tables.load(spark, sf, "documents").limit(200)
    val sets = Dedup.shingleFrame(docs, "doc_id", "text")
    val a = sets.select(col("doc").as("id1"), col("sh").as("sh1"))
    val b = sets.select(col("doc").as("id2"), col("sh").as("sh2"))
    val pairs = a.crossJoin(b).filter(col("id1") < col("id2")).limit(5000)
      .withColumn("fused", graft.plans.CommonCount(col("sh1"), col("sh2")))
      .withColumn("builtin", size(array_intersect(col("sh1"), col("sh2"))))
    assert(pairs.filter(col("fused") =!= col("builtin")).count() == 0)
    val nullCase = Seq((Some(Seq("a")), None: Option[Seq[String]])).toDF("x", "y")
      .select(graft.plans.CommonCount(col("x"), col("y")).as("c")).head
    assert(nullCase.isNullAt(0))
  }

  test("blockedCandidatePairs: exact pair-set equality with the uncapped join") {
    // two buckets: a hot one (23 rows, forced into 3-row blocks → an
    // 8×8 upper-triangular cell schedule) and a small one; pair sets
    // must match the uncapped quadratic join exactly
    val rows = ((1 to 23).map(i => (i.toLong, "hot")) ++
      Seq((101L, "cool"), (102L, "cool"))).toDF("id", "bucket")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = pairSet(
      Dedup.blockedCandidatePairs(rows, "id", Seq("bucket"), blockSize = 3,
        hotThreshold = 3)) // force tiling: hot bucket → 8×8 cell schedule
    val full = pairSet(
      Dedup.bandedCandidatePairs(rows, "id", Seq("bucket"), maxBucketSize = None))
    assert(blocked == full)
    assert(blocked.size == 23 * 22 / 2 + 1)
    // every pair ordered, no self-pairs survived the diagonal filter
    assert(blocked.forall { case (a, b) => a < b })
    // a MIXED route — one bucket tiled, one through the plain small-side
    // join — still reproduces the full pair set
    assert(pairSet(Dedup.blockedCandidatePairs(rows, "id", Seq("bucket"),
      blockSize = 3, hotThreshold = 10)) == full)
    // the density dial: no bucket over the threshold degenerates to the
    // plain join (eagerly — no blocked machinery in the plan)
    assert(pairSet(Dedup.blockedCandidatePairs(rows, "id", Seq("bucket"),
      blockSize = 1000)) == full)
    // caller-PERSISTED input in a NON-co-located layout (round-robin —
    // not hash-partitioned by the bucket key) fails the trust check and
    // gets re-pinned; the pair set must be unchanged
    val cached = rows.repartition(4).persist()
    try {
      cached.count()
      assert(pairSet(Dedup.blockedCandidatePairs(cached, "id", Seq("bucket"),
        blockSize = 3, hotThreshold = 3)) == full)
    } finally cached.unpersist()
    // caller-PERSISTED input in the CO-LOCATED layout (hash on the bucket
    // key) passes the trust check and is consumed as-is — same pair set
    val coloc = rows.repartition(4, col("bucket")).persist()
    try {
      coloc.count()
      assert(pairSet(Dedup.blockedCandidatePairs(coloc, "id", Seq("bucket"),
        blockSize = 3, hotThreshold = 3)) == full)
    } finally coloc.unpersist()
  }

  test("crossBandDedup emits the distinct()-identical pair set, once per pair") {
    // real shingle sets: near-dup docs collide in BOTH bands, so the
    // cross-band dedup actually has duplicates to kill
    val sets = Dedup.shingleFrame(
      Tables.load(spark, sf, "documents"), "doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val old = pairsOf(Dedup.blockedCandidatePairs(
      Dedup.lshKeyedBuckets(sets, bands = 2, rowsPerBand = 3),
      "doc", Seq("band", "sig"), blockSize = 256))
    val keyedSigs = Dedup.lshKeyedBucketsWithSigs(sets, bands = 2, rowsPerBand = 3)
    for (hot <- Seq(4096, 3)) { // plain route AND forced tiling route
      val neu = pairsOf(Dedup.blockedCandidatePairs(keyedSigs,
        "doc", Seq("band", "sig"), blockSize = 3, hotThreshold = hot,
        crossBandDedup = Some(2)))
      assert(neu.toSet == old.toSet, s"hot=$hot")
      assert(neu.size == neu.toSet.size, s"hot=$hot: duplicate pairs emitted")
    }
    // plan shape (the r22 point of the mode): the final pair-set
    // distinct() — a HashAggregate pair + full exchange of the QUADRATIC
    // pair space — is gone; the old form carries it
    val oldPlan = Dedup.blockedCandidatePairs(
      Dedup.lshKeyedBuckets(sets, bands = 2, rowsPerBand = 3),
      "doc", Seq("band", "sig"), blockSize = 256)
      .queryExecution.executedPlan.toString
    val neuPlan = Dedup.blockedCandidatePairs(keyedSigs,
      "doc", Seq("band", "sig"), blockSize = 256, crossBandDedup = Some(2))
      .queryExecution.executedPlan.toString
    assert(oldPlan.contains("HashAggregate"), oldPlan)
    assert(!neuPlan.contains("HashAggregate"), neuPlan)
    // and there ARE cross-band collisions in the fixture, so the dedup
    // path was actually exercised (a pair sharing BOTH band sigs)
    val wide = Dedup.lshBandSignatures(sets, bands = 2, rowsPerBand = 3)
    val both = wide.as("a").join(wide.as("b"),
      col("a.doc") < col("b.doc") &&
        col("a.band0") === col("b.band0") &&
        col("a.band1") === col("b.band1")).count()
    assert(both > 0, "fixture has no cross-band collisions; dedup untested")
  }

  test("keepBest keeps the highest-score member per cluster, ties to lowest id") {
    val df = Seq((1L, 10L, "a"), (2L, 30L, "b"), (3L, 30L, "c"), (4L, 5L, "d"))
      .toDF("id", "score", "body")
    val clusters = Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 1L, true))
      .toDF("id", "cluster_id", "cluster_size", "is_canonical")
    val kept = Dedup.keepBest(df, "id", clusters, "score")
      .select("id").as[Long].collect().toSet
    // id 2 beats 3 on the score tie (lower id) and beats 1 on score;
    // the singleton survives as its own best
    assert(kept == Set(2L, 4L))
    // contrast with min-id canonical: keepCanonical keeps 1, not 2
    assert(Dedup.keepCanonical(df, "id", clusters)
      .select("id").as[Long].collect().toSet == Set(1L, 4L))
  }

  test("fuzzyDecontaminate flags planted cross-corpus near-dups only") {
    import graft.operators.Curation
    val shared = "the quick brown fox jumps over the lazy dog again and " +
      "again until the corpus repeats itself entirely"
    val train = Seq(
      (1L, shared + " with a tiny tail"),            // near-dup of eval 100
      (2L, "completely different text about spark catalyst optimizer " +
        "rules and physical planning internals"))
      .toDF("doc_id", "text")
    val test = Seq(
      (100L, shared),
      (101L, "unrelated evaluation prompt about astronomy and telescopes " +
        "observing distant galaxies tonight"))
      .toDF("doc_id", "text")
    val out = Curation.fuzzyDecontaminate(train, test, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getBoolean(4)))).toMap
    assert(out(1L)._3 && out(1L)._2 == 100L && out(1L)._1 >= 1L)
    assert(!out(2L)._3 && out(2L)._2 == -1L && out(2L)._1 == 0L)
  }

  test("Ranking.globalRank equals the single-window row_number, distributed") {
    import graft.operators.Ranking
    val df = spark.range(0, 5000)
      .select(col("id"), (pmod(xxhash64(col("id")), lit(97L)).cast("double") / 10.0).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score"), col("id"))
    val single = df.withColumn("r", row_number().over(w).cast("long"))
      .select("id", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Ranking.globalRank(df, Seq(col("score"), col("id")), "r")
      .select("id", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == single)
    // ranks are a permutation of 1..n
    assert(dist.values.toSeq.sorted == (1L to 5000L))
  }

  test("k-anonymity suppression marks exactly the under-k groups") {
    import graft.operators.Privacy
    val df = Seq(
      ("en", "a"), ("en", "a"), ("en", "a"), ("en", "b"), ("fr", "a"))
      .toDF("lang", "src")
    val out = Privacy.kAnonymize(df, Seq("lang", "src"), k = 2)
    val kept = out.filter(col("__k_kept")).count()
    val dropped = out.filter(!col("__k_kept"))
      .select("lang", "src").distinct.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept == 3 && dropped == Set(("en", "b"), ("fr", "a")))
  }

  test("l-diversity: homogeneous groups suppressed; null sensitive counts") {
    import graft.operators.Privacy
    val df = Seq[(java.lang.Long, String, String)](
      // group a: three distinct diagnoses — diverse
      (1L, "a", "x"), (2L, "a", "y"), (3L, "a", "z"),
      // group b: large but HOMOGENEOUS — the attack l-diversity exists for
      (4L, "b", "x"), (5L, "b", "x"), (6L, "b", "x"),
      // group c: one value + null — null is an observable outcome, so 2
      (7L, "c", "x"), (8L, "c", null),
      // null-keyed group: must not vanish (null-safe stats join)
      (9L, null, "x"), (10L, null, "x"))
      .toDF("id", "grp", "diag")
    val out = Privacy.lDiversify(df, Seq("grp"), "diag", l = 2).cache()
    try {
      assert(out.count() == 10)
      val byId = out.collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
      assert(byId(1L) == ((3L, true)) && byId(4L) == ((1L, false)))
      assert(byId(7L) == ((2L, true)) && byId(8L) == ((2L, true)))
      assert(byId(9L) == ((1L, false)))
    } finally out.unpersist()
  }

  test("t-closeness: exact total-variation distance, missing cells counted") {
    import graft.operators.Privacy
    // global: x=3, y=7 over N=10 → p=(0.3, 0.7)
    //   a = (x,x,y,y): TV = ½(|.5−.3|+|.5−.7|) = 0.2
    //   b = (y,y,y,y): TV = ½(|0−.3|+|1−.7|) = 0.3  ← misses x entirely
    //   c = (x,y):     TV = 0.2
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"), ("a", "y"),
      ("b", "y"), ("b", "y"), ("b", "y"), ("b", "y"),
      ("c", "x"), ("c", "y"))
      .toDF("grp", "diag")
    val out = Privacy.tCloseness(df, Seq("grp"), "diag", t = 0.25)
      .select("grp", "__t_dist", "__t_kept").distinct().collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out("a") == ((0.2, true)))
    assert(out("b") == ((0.3, false))) // homogeneity via the MISSING x cell
    assert(out("c") == ((0.2, true)))
  }

  test("dp count release: deterministic, clamped, inverse-CDF-exact noise") {
    import graft.operators.Privacy
    val df = (1 to 500).map(i => (i.toLong, s"g${i % 50}")).toDF("id", "grp")
    val a = Privacy.dpCountRelease(df, Seq("grp"), epsilon = 0.5, seed = 7L)
      .collect()
    val b = Privacy.dpCountRelease(df, Seq("grp"), epsilon = 0.5, seed = 7L)
      .collect()
    // same seed → the SAME release (fresh noise per re-run would average
    // away under repeated publication)
    assert(a.map(_.toSeq).toSet == b.map(_.toSeq).toSet)
    val byGrp = a.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byGrp.size == 50)
    // released = n + noise, |noise| clamped to maxNoise
    byGrp.values.foreach { case (rel, z) =>
      assert(rel == 10L + z && math.abs(z) <= 20)
    }
    // the draw is exactly the inverse-CDF lookup on the framed key
    // md5(len:group|len:version|len:seed)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("2:g3|2:v2|1:7".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(13)
    val expected = Privacy.dpThresholds(0.5, 20).count(_ <= hex) - 20
    assert(byGrp("g3")._2 == expected.toLong)
    // a different seed draws different noise somewhere
    val c = Privacy.dpCountRelease(df, Seq("grp"), epsilon = 0.5, seed = 8L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byGrp.exists { case (g, (_, z)) => c(g) != z })
    // ε scales the noise: at ε=5 the mass concentrates on 0; at ε=0.5
    // the mean |noise| sits near the theoretical 2α/(1−α²) ≈ 1.9
    val tight = Privacy.dpCountRelease(df, Seq("grp"), epsilon = 5.0, seed = 7L)
      .collect().map(_.getLong(2))
    assert(tight.count(_ == 0L) >= 40)
    val meanAbs = byGrp.values.map { case (_, z) => math.abs(z).toDouble }
      .sum / byGrp.size
    assert(meanAbs > 0.5 && meanAbs < 5.0)
  }

  test("dp count release: null group values draw their own sentinel noise") {
    import graft.operators.Privacy
    val df = Seq((1L, "a"), (2L, "a"), (3L, null: String), (4L, ""))
      .toDF("id", "grp")
    val out = Privacy.dpCountRelease(df, Seq("grp"), epsilon = 1.0, seed = 1L)
      .collect()
    assert(out.length == 3) // "a", null, "" are three distinct groups
    val nullRow = out.find(_.isNullAt(0)).get
    val emptyRow = out.find(r => !r.isNullAt(0) && r.getString(0) == "").get
    // null and empty-string groups get INDEPENDENT draws (the sentinel):
    // their uniforms differ, so equality here would be a 1-in-16^13
    // accident — assert the released values are each n + their own noise
    assert(nullRow.getLong(1) == 1L + nullRow.getLong(2))
    assert(emptyRow.getLong(1) == 1L + emptyRow.getLong(2))
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(key: String): Long = {
      val hex = md.digest(s"${key.length}:$key|2:v2|1:1".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      Privacy.dpThresholds(1.0, 20).count(_ <= hex) - 20L
    }
    assert(nullRow.getLong(2) == draw("\u0001")) // the null sentinel
    assert(emptyRow.getLong(2) == draw(""))
  }

  test("dp count release: len:value framing keeps pipe-bearing group " +
      "keys from colliding across columns") {
    import graft.operators.Privacy
    // under a naive pipe join both groups key as "a|b|c" and would share
    // one draw; the framed keys are 3:a|b|1:c vs 1:a|3:b|c
    val df = Seq((1L, "a|b", "c"), (2L, "a", "b|c"))
      .toDF("id", "g1", "g2")
    val out = Privacy.dpCountRelease(df, Seq("g1", "g2"),
        epsilon = 1.0, seed = 3L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3))
      .toMap
    assert(out.size == 2)
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(key: String): Long = {
      val hex = md.digest(key.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      Privacy.dpThresholds(1.0, 20).count(_ <= hex) - 20L
    }
    assert(out(("a|b", "c")) == draw("3:a|b|1:c|2:v2|1:3"))
    assert(out(("a", "b|c")) == draw("1:a|3:b|c|2:v2|1:3"))
  }

  test("dp sum release: clamped contributions, deterministic domain-" +
      "tagged noise, independent of the count draw") {
    import graft.operators.Privacy
    // values 9 and 12 clamp to 8; -5 clamps to 0
    val df = Seq(("a", 3L), ("a", 9L), ("a", -5L), ("b", 12L), ("b", 1L))
      .toDF("grp", "v")
    val out = Privacy.dpSumRelease(df, Seq("grp"), "v",
        epsilon = 2.0, clampLo = 0L, clampHi = 8L, seed = 7L, maxNoise = 60)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(key: String): Long = {
      val hex = md.digest(key.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      // sensitivity Δ = 8 → ladder at ε/Δ
      Privacy.dpThresholds(2.0 / 8, 60).count(_ <= hex) - 60L
    }
    // clamped sums: a = 3 + 8 + 0 = 11; b = 8 + 1 = 9
    assert(out("a") == ((11L + draw("1:a|5:sum:v|2:v2|1:7"), draw("1:a|5:sum:v|2:v2|1:7"))))
    assert(out("b") == ((9L + draw("1:b|5:sum:v|2:v2|1:7"), draw("1:b|5:sum:v|2:v2|1:7"))))
    // the sum draw is NOT the count draw for the same group+seed (the
    // sum:<col> domain component separates them)
    val cnt = Privacy.dpCountRelease(df, Seq("grp"), epsilon = 2.0 / 8,
        seed = 7L, maxNoise = 60)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(cnt("a") != out("a")._2 || cnt("b") != out("b")._2)
  }

  test("dp sum release: NULL contributions are skipped, not clamped " +
      "to the lower bound") {
    import graft.operators.Privacy
    // greatest/least IGNORE nulls, so a bare clamp turns a NULL row
    // into a clampLo contribution -- with clampLo = -2 every NULL row
    // would silently DRAG the released sum down. Skip-NULL semantics:
    // a NULL row adds nothing; an all-NULL group releases noise alone.
    val df = Seq[(String, java.lang.Long)](
      ("a", 3L), ("a", null), ("a", null),
      ("b", -9L), ("b", null),
      ("c", null), ("c", null))
      .toDF("grp", "v")
    val out = Privacy.dpSumRelease(df, Seq("grp"), "v",
        epsilon = 2.0, clampLo = -2L, clampHi = 6L, seed = 7L,
        maxNoise = 60)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(key: String): Long = {
      val hex = md.digest(key.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      Privacy.dpThresholds(2.0 / 6, 60).count(_ <= hex) - 60L
    }
    // a: 3 (two NULLs skipped); b: -9 clamps to -2, NULL skipped
    // (under the old clamp-NULL-to-lo bug a would read 3-2-2 = -1 and
    // b would read -4); c: all-NULL releases a zero sum
    assert(out("a")._1 == 3L + draw("1:a|5:sum:v|2:v2|1:7"))
    assert(out("b")._1 == -2L + draw("1:b|5:sum:v|2:v2|1:7"))
    assert(out("c")._1 == 0L + draw("1:c|5:sum:v|2:v2|1:7"))
  }

  test("dp histogram release: full public domain incl. empty buckets, " +
      "edge clamping, NULL groups and NULL contributions") {
    import graft.operators.Privacy
    // domain [0, 3] of width-10 bins; group "a" has values in buckets
    // 0 and 1 plus an out-of-range 95 (clamps into edge bucket 3) and a
    // NULL contribution (skipped); the NULL group has one value; group
    // "c" is all-NULL and must still release pure noise over the whole
    // domain. Buckets 2 (everywhere) and most of NULL/"c"'s domain are
    // EMPTY — they must still appear, as noise over zero (an absent row
    // would reveal exact emptiness).
    val df = Seq[(String, java.lang.Long)](
      ("a", 4L), ("a", 7L), ("a", 12L), ("a", 95L), ("a", null),
      (null, 15L),
      ("c", null))
      .toDF("grp", "v")
    val out = Privacy.dpHistogramRelease(df, Seq("grp"), "v",
        binWidth = 10L, binLo = 0L, binHi = 3L,
        epsilon = 1.0, seed = 9L, maxNoise = 20)
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3)))
      .toMap
    // 3 groups × 4 buckets — the full public domain, empties included
    assert(out.size == 12)
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(grp: String, b: Long): Long = {
      val key = s"${grp.length}:$grp|1:$b|9:hist:v:10|2:v2|1:9"
      val hex = md.digest(key.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      Privacy.dpThresholds(1.0, 20).count(_ <= hex) - 20L
    }
    // group a: bucket 0 = {4, 7}, bucket 1 = {12}, bucket 2 empty,
    // bucket 3 = {95 clamped}; the NULL contribution never counts
    assert(out((Some("a"), 0L)) == ((2L + draw("a", 0), draw("a", 0))))
    assert(out((Some("a"), 1L)) == ((1L + draw("a", 1), draw("a", 1))))
    assert(out((Some("a"), 2L)) == ((0L + draw("a", 2), draw("a", 2))))
    assert(out((Some("a"), 3L)) == ((1L + draw("a", 3), draw("a", 3))))
    // NULL group: sentinel-framed draw, value 15 in bucket 1
    assert(out((None, 1L)) == ((1L + draw("\u0001", 1), draw("\u0001", 1))))
    assert(out((None, 2L))._1 == draw("\u0001", 2)) // empty → pure noise
    // all-NULL group releases pure noise across the whole domain
    (0L to 3L).foreach { b =>
      assert(out((Some("c"), b)) == ((draw("c", b), draw("c", b))))
    }
    // determinism: the same seed reproduces the release exactly
    val again = Privacy.dpHistogramRelease(df, Seq("grp"), "v",
        binWidth = 10L, binLo = 0L, binHi = 3L,
        epsilon = 1.0, seed = 9L, maxNoise = 20)
      .collect().map(_.toSeq).toSet
    assert(again == Privacy.dpHistogramRelease(df, Seq("grp"), "v",
        binWidth = 10L, binLo = 0L, binHi = 3L,
        epsilon = 1.0, seed = 9L, maxNoise = 20)
      .collect().map(_.toSeq).toSet)
    // the histogram draw is NOT the count draw for the same group+seed
    // (the hist:<col>:<width> domain component separates them)
    val cnt = Privacy.dpCountRelease(df, Seq("grp"), epsilon = 1.0,
        seed = 9L).collect()
      .map(r => Option(r.getString(0)) -> r.getLong(2)).toMap
    assert((0L to 3L).exists(b => cnt(Some("a")) != out((Some("a"), b))._2))
  }

  test("k-anonymity keeps NULL quasi-identifier rows as their own groups") {
    import graft.operators.Privacy
    // (null, "a") × 3 is a real over-k group; (null, null) × 1 and
    // ("en", null) × 1 are under-k. Every row must come back — a row
    // with a null quasi value that silently vanishes is the worst
    // failure direction for a publishing gate.
    val df = Seq[(java.lang.Long, String, String)](
      (1L, null, "a"), (2L, null, "a"), (3L, null, "a"),
      (4L, null, null), (5L, "en", null),
      (6L, "en", "a"), (7L, "en", "a"))
      .toDF("id", "lang", "src")
    val out = Privacy.kAnonymize(df, Seq("lang", "src"), k = 2).cache()
    try {
      assert(out.count() == 7, "no row may be lost on null quasi values")
      assert(out.columns.toSeq ==
        Seq("id", "lang", "src", "__group_n", "__k_kept"))
      val byId = out.collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
      assert(byId(1L) == ((3L, true)) && byId(2L) == ((3L, true)) &&
        byId(3L) == ((3L, true)))
      assert(byId(4L) == ((1L, false)) && byId(5L) == ((1L, false)))
      assert(byId(6L) == ((2L, true)) && byId(7L) == ((2L, true)))
    } finally out.unpersist()
  }

  test("LSH bucket cap suppresses degenerate boilerplate buckets") {
    val boiler = (1 to 5).map(i => (i.toLong, "same boilerplate text here over and over"))
    val df = boiler.toDF("doc_id", "text")
    val sets = Dedup.shingleFrame(df, "doc_id", "text")
    assert(Dedup.lshCandidatePairs(sets, 2, 3, maxBucketSize = None).count() == 10) // C(5,2)
    assert(Dedup.lshCandidatePairs(sets, 2, 3, maxBucketSize = Some(3)).count() == 0)
  }

  test("LSH default cap bounds a degenerate signature; real near-dups survive") {
    // 1200 copies of one boilerplate doc: one band bucket of width 1200 →
    // C(1200,2) ≈ 719k pairs uncapped. The DEFAULT entry point must bound
    // this without being told.
    val boiler = (1 to 1200).map(i => (i.toLong, "same boilerplate text here over and over"))
    val near = Seq(
      (2001L, (1 to 30).map(i => s"tok$i").mkString(" ")),
      (2002L, (1 to 28).map(i => s"tok$i").mkString(" ") + " tokX tokY"))
    val df = (boiler ++ near).toDF("doc_id", "text")
    val sets = Dedup.shingleFrame(df, "doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(sets, bands = 2, rowsPerBand = 3).collect()
    // boilerplate bucket (width 1200 > default cap) contributes nothing;
    // the genuine near-dup pair still comes through its own bucket
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2001L, 2002L)))
  }

  test("embeddingNearDup default cap drops hot centroid buckets") {
    val hot = (1 to 1200).map(i => (i.toLong, Seq(1.0, 0.0), 0))
    val cool = Seq((5001L, Seq(0.0, 1.0), 1), (5002L, Seq(0.0, 1.0), 1))
    val assigned = (hot ++ cool).toDF("id", "vec", "bucket")
    val out = Similarity.embeddingNearDup(assigned, threshold = 0.9).collect()
    // hot bucket (1200 > cap) suppressed; the cool near-dup pair survives
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((5001L, 5002L)))
    val uncapped = Similarity.embeddingNearDup(assigned, 0.9, maxBucketSize = None)
    assert(uncapped.count() == 1200L * 1199 / 2 + 1)
  }

  test("hyperplane LSH finds parallel vectors, rejects orthogonal ones, caps hot buckets") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(rnd.nextGaussian())
    val near = base.map(_ * 2.0 + 0.001) // same direction, cos ~ 1
    val ortho = Array.tabulate(64)(i => if (i % 2 == 0) base(i + 1) else -base(i - 1))
    val df = Seq(
      (1L, base.toSeq), (2L, near.toSeq), (3L, ortho.toSeq)).toDF("id", "vec")
    val out = Similarity
      .hyperplaneNearDup(df, bands = 3, rowsPerBand = 4, threshold = 0.9)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(out.head.getAs[Double]("cos") > 0.999)
    // sign bits are deterministic: same input, same sketch, run to run
    val bits = df.select(Similarity.hyperplaneBits(col("vec"), 12).as("b"))
      .collect().map(_.getSeq[Long](0))
    val bits2 = df.select(Similarity.hyperplaneBits(col("vec"), 12).as("b"))
      .collect().map(_.getSeq[Long](0))
    assert(bits.toSeq == bits2.toSeq)
    assert(bits(0) == bits(1)) // parallel vectors share every sign bit
    // a degenerate corpus (everything identical) trips the bucket cap
    val degenerate = (1 to 50).map(i => (i.toLong, base.toSeq)).toDF("id", "vec")
    val capped = Similarity
      .hyperplaneNearDup(degenerate, 3, 4, 0.0, maxBucketSize = Some(10))
    assert(capped.count() == 0)
  }

  test("multiProbeLshTopK: probes strictly widen the candidate set " +
      "(monotone recall), probes=0 is the single-probe table, ranks are " +
      "contiguous and exact-cosine ordered") {
    val rnd = new scala.util.Random(7)
    val all = (0L until 40L).map(i => (i, Seq.fill(64)(rnd.nextGaussian())))
      .toDF("id", "vec")
    val queries = all.filter(col("id") < 5)
    val corpus = all.filter(col("id") >= 5)
    def run(probes: Int, k: Int) = Similarity
      .multiProbeLshTopK(corpus, queries, bands = 3, rowsPerBand = 4,
        probes = probes, k = k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // k large enough to return EVERY candidate: the p0 result set must
    // be a subset of p2's (flips only ADD probed buckets)
    val p0 = run(0, 1000).map(t => (t._1, t._2)).toSet
    val p2all = run(2, 1000)
    val p2 = p2all.map(t => (t._1, t._2)).toSet
    assert(p0.subsetOf(p2))
    // on this seeded fixture the extra probes DO recover new candidates
    // (deterministic: seeded vectors, seeded planes)
    assert(p2.size > p0.size,
      s"expected extra probes to add candidates: p0=${p0.size} p2=${p2.size}")
    // ranks contiguous 1..n per query and ordered by (cos desc, id)
    p2all.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to rows.length).toSeq)
      val byScore = rows.sortBy(t => (-t._3, t._2)).map(_._2).toSeq
      assert(sorted.map(_._2).toSeq == byScore)
    }
    // k truncates: top-3 is a prefix of top-1000
    val top3 = run(2, 3)
    top3.groupBy(_._1).foreach { case (q, rows) =>
      val full = p2all.filter(_._1 == q).sortBy(_._4).take(3).map(_._2).toSeq
      assert(rows.sortBy(_._4).map(_._2).toSeq == full)
    }
  }

  test("q32 leaves no cached frame behind after the query fn returns") {
    val q = SparkEntry.queries("q32_lsh_jaccard")
    val out = q(spark, sf)
    out.collect() // consume like a library caller would
    assert(spark.sharedState.cacheManager.isEmpty,
      "q32 must scope its persist — no CacheManager entries after return")
  }

  test("simhash of identical token sets is identical; disjoint sets differ") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
      .toDF("doc_id", "text")
    val keys = Dedup.simhashKeys(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(keys(1L) == keys(2L))
    assert(keys(1L) != keys(3L))
    assert(keys.values.forall(s => s >= 0 && s < 65536))
  }

  test("cosine on mismatched-dimension vectors is null, matching the fold form") {
    import graft.functions.VectorFunctions
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val r = df.select(
      graft.plans.CosineSimilarity(col("a"), col("b")).as("fused"),
      VectorFunctions.cosineFold(col("a"), col("b")).as("fold")).head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("resolver sidelines rows whose array-of-struct elements fail to cast") {
    import graft.schema.SchemaResolver
    import org.apache.spark.sql.types._
    val target = StructType(Seq(StructField("xs",
      ArrayType(StructType(Seq(StructField("n", LongType)))))))
    val df = Seq(Tuple1(Seq(Tuple1("7"))), Tuple1(Seq(Tuple1("bad"))))
      .toDF("xs")
      .select(transform(col("xs"), x => struct(x.getField("_1").as("n"))).as("xs"))
    val r = SchemaResolver.resolve(df, target)
    assert(r.resolved.count() == 1)
    assert(r.sidelined.count() == 1)
  }

  test("ruleMatches with zero rules yields an empty match frame") {
    import graft.operators.Detection
    val events = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("event_id", "ts")
    val out = Detection.ruleMatches(events, Seq.empty, matchId = col("event_id"))
    assert(out.count() == 0)
    assert(out.columns.contains("rule_name") && out.columns.contains("deduplication_window"))
  }

  test("matanoAlertRows equals the broadcast-join form, with no BroadcastExchange") {
    import graft.operators.{Alerts, Detection}
    import graft.operators.Detection.SimpleRule
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val alerts = Seq(
      Alerts.AlertRow("login", "alice", "a1", t(0), t(5), 3L, true, Some(t(2))),
      Alerts.AlertRow("login", null, "a2", t(1), t(1), 1L, false, None),
      Alerts.AlertRow("delete", "bob", "a3", t(3), t(9), 2L, true, Some(t(9))),
      Alerts.AlertRow("unknown", "carol", "a4", t(4), t(4), 1L, true, Some(t(4))),
      Alerts.AlertRow(null, "dave", "a5", t(6), t(6), 1L, true, Some(t(6)))).toDF
    val login = SimpleRule("login", lit(true), severity = "info", threshold = 3, windowSeconds = 600)
    val delete = SimpleRule("delete", lit(true), severity = "high")
    // "delete" twice, once with other metadata: both rows are kept
    val packs = Seq(Seq(login, delete), Seq(login, delete, delete.copy(severity = "low")),
      Seq(delete), Seq.empty)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (rules <- packs) {
      val got = Detection.matanoAlertRows(alerts, rules, "events")
      assert(rows(got) == rows(BroadcastAlertRows(alerts, rules, "events")), s"pack $rules")
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange") && !plan.contains("Join"), plan)
    }
    val twice = Detection.matanoAlertRows(alerts, packs(1), "events")
    assert(twice.filter(col("matano.alert.id") === "a3").count() == 2)
    assert(twice.filter(col("matano.alert.id").isin("a4", "a5")).isEmpty)
  }

  test("ruleMatches: one-scan pack equals the per-rule union on every pack shape") {
    import graft.operators.Detection
    import graft.operators.Detection.{ImperativeRule, SimpleRule}
    import java.sql.Timestamp
    val events = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), "alice", Some(5L), "login"),
      (2L, Timestamp.valueOf("2024-01-01 00:01:00"), "bob", None, "login"),
      (3L, Timestamp.valueOf("2024-01-01 00:02:00"), "alice", Some(9L), "delete"),
      (4L, Timestamp.valueOf("2024-01-01 00:03:00"), "carol", Some(1L), "view"),
      (5L, Timestamp.valueOf("2024-01-01 00:04:00"), null, None, "delete"))
      .toDF("event_id", "ts", "user", "n", "action")
    val login = SimpleRule("login", col("action") === "login", dedupe = col("user"),
      severity = "info", threshold = 2, windowSeconds = 600)
    val big = SimpleRule("big_n", col("n") > 4, dedupe = col("n")) // null n → null
    val alice = SimpleRule("alice", col("user") === "alice", severity = "high")
    val deletes = SimpleRule("dup", col("action") === "delete", dedupe = col("user"))
    val views = SimpleRule("dup", col("action") === "view" || col("n") > 8)
    val typed = ImperativeRule("typed_delete",
      row => row.getAs[String]("action") == "delete", dedupe = col("event_id"))
    val packs = Seq(
      "overlapping rules" -> Seq(login, big, alice),
      "null-yielding predicate" -> Seq(big, SimpleRule("n_null", col("n").isNull)),
      "duplicate rule names" -> Seq(deletes, views, alice),
      "per-rule dedupe columns" -> Seq(login, big, deletes),
      "imperative and declarative mixed" -> Seq(typed, login, big, alice),
      "imperative only" -> Seq(typed),
      "single rule" -> Seq(big))
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.length }
    for ((name, rules) <- packs) {
      val got = Detection.ruleMatches(events, rules, matchId = col("event_id"))
      val want = UnionRuleMatches(events, rules, matchId = col("event_id"))
      assert(got.schema == want.schema, name)
      assert(multiset(got) == multiset(want), name)
    }
    // an event matching k rules yields k rows
    val overlap = Detection.ruleMatches(events, Seq(login, big, alice), col("event_id"))
    assert(overlap.filter(col("match_id") === 1L).count() == 3)
    // zero rules: no rows, the match schema
    val none = Detection.ruleMatches(events, Seq.empty, matchId = col("event_id"))
    assert(none.count() == 0)
    assert(none.schema.fieldNames.toSeq == UnionRuleMatches(events, Seq(login),
      col("event_id")).schema.fieldNames.toSeq)
  }

  test("brute-force top-k returns self-similar vectors first") {
    val mk = (s: Double) => Seq(1.0 * s, 2.0 * s, 3.0 * s)
    val corpus = Seq((10L, mk(2)), (11L, Seq(3.0, -1.0, 0.5)), (12L, mk(-1)))
      .toDF("id", "vec")
    val queries = Seq((1L, mk(1))).toDF("id", "vec")
    val out = Similarity.bruteForceTopK(corpus, queries, k = 3)
      .orderBy("rank").collect()
    // scaled copy has cosine 1, negated copy −1
    assert(out(0).getAs[Long]("neighbor") == 10L)
    assert(math.abs(out(0).getAs[Double]("cos") - 1.0) < 1e-12)
    assert(out(2).getAs[Long]("neighbor") == 12L)
  }

  test("ivf assigns vectors to nearest centroid with deterministic ties") {
    val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)))
      .toDF("cid", "cvec")
    val vecs = Seq((5L, Seq(1.0, 1.0)), (6L, Seq(9.0, 9.0)), (7L, Seq(5.0, 5.0)))
      .toDF("id", "vec")
    val out = Similarity.ivfAssign(vecs, cents).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("bucket")).toMap
    assert(out(5L) == 0L && out(6L) == 1L)
    assert(out(7L) == 0L) // equidistant → lowest centroid id
  }

  test("int8-domain cosine: scales cancel, codes are bytes, error bounded") {
    import graft.functions.VectorFunctions._
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    val df = Seq(
      (1L, Seq(0.8, -0.3, 0.05, 0.41), Seq(0.79, -0.28, 0.07, 0.40)),
      (2L, Seq(12.0, 5.0, -3.0, 0.0), Seq(-1.0, 2.5, 8.0, 0.25)))
      .toDF("id", "a", "b")
      .withColumn("ca", quantizeInt8Bytes(col("a"), int8Scale(col("a"))))
      .withColumn("cb", quantizeInt8Bytes(col("b"), int8Scale(col("b"))))
      .withColumn("cos_fp", cosineFold(col("a"), col("b")))
      .withColumn("cos_q", cosineInt8(col("ca"), col("cb")))
    // at-rest representation is genuinely 1-byte
    assert(df.schema("ca").dataType == ArrayType(ByteType, containsNull = false))
    df.select("cos_fp", "cos_q").collect().foreach { r =>
      // codes have <= 1/254 relative error per component; cosine of 4-dim
      // vectors stays within ~2% of fp — scales cancelled, no scale column
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.02,
        s"fp=${r.getDouble(0)} q=${r.getDouble(1)}")
    }
  }

  test("int8 cosine scores an all-zero vector 0.0, never NaN") {
    import graft.functions.VectorFunctions._
    val df = Seq(
      (1L, Seq(0.0, 0.0, 0.0), Seq(0.5, -0.5, 0.25)), // zero left
      (2L, Seq(0.0, 0.0, 0.0), Seq(0.0, 0.0, 0.0)))   // both zero
      .toDF("id", "a", "b")
      .withColumn("ca", quantizeInt8Bytes(col("a"), int8Scale(col("a"))))
      .withColumn("cb", quantizeInt8Bytes(col("b"), int8Scale(col("b"))))
      .withColumn("cos_q", cosineInt8(col("ca"), col("cb")))
    // NaN would sort differently in Spark vs external engines and silently
    // permute ANN top-k ranks — a degenerate vector must pin to 0.0
    df.select("cos_q").collect().foreach(r => assert(r.getDouble(0) == 0.0))
  }

  test("kmeansStepInt8: members assign to the nearest centroid, means move toward blobs") {
    // two tight blobs around codes ~100 and ~-100 in every dim; seeds at 80/-80
    def blob(center: Long, ids: Range) =
      ids.map(id => (id.toLong, Seq.fill(4)(center + (id % 3) - 1)))
    val corpus = (blob(100L, 10 to 19) ++ blob(-100L, 20 to 29)).toDF("id", "code")
    val cents = Seq((0L, Seq(80L, 80L, 80L, 80L)), (1L, Seq(-80L, -80L, -80L, -80L)))
      .toDF("cid", "code")
    val out = Similarity.kmeansStepInt8(corpus, cents).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("dim")) ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("code_sum"),
          r.getAs[Double]("mean_code"))).toMap
    // every dim of each centroid sees exactly its blob's 10 members
    assert(out.size == 8 && out.values.forall(_._1 == 10L))
    // the update moves each centroid from its seed toward the blob center
    (0L to 3L).foreach { d =>
      assert(math.abs(out((0L, d))._3 - 100.0) <= 1.0)
      assert(math.abs(out((1L, d))._3 + 100.0) <= 1.0)
      // mean is exactly sum/count — one division, no float accumulation
      assert(out((0L, d))._3 == out((0L, d))._2.toDouble / 10)
    }
  }

  test("kmeansTrainInt8: converges on separated blobs with non-increasing inertia") {
    // two tight blobs around codes ~100 and ~-100; seeds deliberately off
    def blob(center: Long, ids: Range) =
      ids.map(id => (id.toLong, Seq.fill(4)(center + (id % 3) - 1)))
    val corpus = (blob(100L, 10 to 19) ++ blob(-100L, 20 to 29)).toDF("id", "code")
    val cents = Seq((0L, Seq(60L, 60L, 60L, 60L)), (1L, Seq(-60L, -60L, -60L, -60L)))
      .toDF("cid", "code")
    val r = Similarity.kmeansTrainInt8(corpus, cents, maxRounds = 10)
    assert(r.converged && r.rounds <= 10)
    // integer-Lloyd monotone invariant, observed per round, not just final
    assert(r.inertiaTrace.sliding(2).forall {
      case Seq(a, b) => b <= a; case _ => true })
    // centroids land on the blob means (blob offsets -1/0/+1 average ~0)
    val byCid = r.centroids.toMap
    assert(byCid(0L).forall(c => math.abs(c - 100L) <= 1))
    assert(byCid(1L).forall(c => math.abs(c + 100L) <= 1))
    // at the fixed point, one more explicit Lloyd step must not move means
    val stable = Similarity.kmeansStepInt8(corpus, r.toDF(spark)).collect()
    stable.foreach { row =>
      val rounded = math.floor(row.getAs[Double]("mean_code") + 0.5).toLong
      assert(rounded == byCid(row.getAs[Long]("cid"))(row.getAs[Long]("dim").toInt))
    }
  }

  test("kmeansTrainInt8: empty cluster keeps its codes; maxRounds errors when strict") {
    val corpus = (1L to 6L).map(i => (i, Seq(10L, 10L))).toDF("id", "code")
    // cid 5 is far from all points: never assigned, codes must not move
    val cents = Seq((0L, Seq(9L, 9L)), (5L, Seq(-120L, -120L))).toDF("cid", "code")
    val r = Similarity.kmeansTrainInt8(corpus, cents, maxRounds = 5)
    assert(r.converged)
    assert(r.centroids.toMap.apply(5L).toSeq == Seq(-120L, -120L))
    assert(r.centroids.toMap.apply(0L).toSeq == Seq(10L, 10L))
    assert(r.inertia == 0L)
    // alternating far-apart pair with a single centroid converges in one
    // update; but maxRounds = 0-style starvation must error under strict
    val ex = intercept[RuntimeException] {
      Similarity.kmeansTrainInt8(
        (1L to 40L).map(i => (i, Seq((i % 7) * 30L - 90L))).toDF("id", "code"),
        Seq((0L, Seq(-128L)), (1L, Seq(127L))).toDF("cid", "code"),
        maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("ivfTopKInt8: same neighbors as fp scoring, bounded rank displacement") {
    val dim = 8
    def v(seed: Int): Seq[Double] =
      Seq.tabulate(dim)(i => math.sin(seed * 7 + i * 13).abs + 0.01)
    val cents = Seq((0L, v(1)), (1L, v(50))).toDF("cid", "cvec")
    val corpus = (10L to 29L).map(i => (i, v(i.toInt))).toDF("id", "vec")
    val assigned = Similarity.ivfAssign(corpus, cents)
    val queries = (10L to 12L).map(i => (i, v(i.toInt))).toDF("id", "vec")
    val fp = Similarity.ivfTopK(assigned, queries, cents, k = 5, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor")).toMap
    val q8 = Similarity.ivfTopKInt8(assigned, queries, cents, k = 5, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor")).toMap
    assert(fp.keySet == q8.keySet)
    // quantization may swap near-ties but each top-5 neighbor moves <= 1 rank
    val displaced = q8.flatMap { case ((qid, rank), n) =>
      fp.collectFirst { case ((`qid`, fpRank), `n`) => math.abs(rank - fpRank) }
    }
    assert(displaced.nonEmpty && displaced.max <= 1,
      s"rank displacement too large: $displaced")
  }

  test("enrichment lookup join: hit returns record struct, miss returns null") {
    val events = Seq(("john", 1), ("ghost", 2)).toDF("user", "i")
    val enrich = Seq(("john", "John Doe")).toDF("user_id", "name")
    val out = Enrichment.lookupJoin(events, enrich, col("user"), "user_id", "user_info")
      .orderBy("i").collect()
    assert(out(0).getAs[Row]("user_info").getAs[String]("name") == "John Doe")
    assert(out(1).isNullAt(out(1).fieldIndex("user_info")))
  }

  test("multimodal feature extraction is deterministic over binary columns") {
    val df = Seq((1L, "payload-one"), (2L, "payload-two"))
      .toDF("doc_id", "text").withColumn("bin", encode(col("text"), "utf-8"))
    val a = Multimodal.extractFeatures(spark, df, "doc_id", "bin").collect()
    val b = Multimodal.extractFeatures(spark, df, "doc_id", "bin").collect()
    assert(a.toSeq == b.toSeq)
    assert(a.forall(r => r.getAs[Int]("width") >= 16 && r.getAs[Int]("channels") == 3))
  }

  test("raw grayscale resize: block-mean pooling and luminance stats are exact") {
    // 4x2 image with known pixels → 2x1 thumbnail: each output pixel is the
    // mean of a 2x2 block
    val px = Array[Byte](10, 20, 30, 40,
                         50, 60, 70, 80)
    val df = Seq((7L, px, 4)).toDF("doc_id", "bin", "w")
    val out = Multimodal.resizeRawGrayscale(spark, df, "doc_id", "bin", "w",
      targetW = 2, targetH = 1).head
    assert(out.getAs[Int]("width") == 4 && out.getAs[Int]("height") == 2)
    val thumb = out.getAs[Array[Byte]]("thumbnail")
    assert(thumb.toSeq == Seq[Byte](35, 55)) // mean(10,20,50,60)=35, mean(30,40,70,80)=55
    assert(out.getAs[Double]("mean_luminance") == 45.0)
    assert(math.abs(out.getAs[Double]("stddev_luminance") - 22.9128784747792) < 1e-9)
    // malformed payload (shorter than one row) is skipped, not crashed
    val bad = Seq((8L, Array[Byte](1, 2), 4)).toDF("doc_id", "bin", "w")
    assert(Multimodal.resizeRawGrayscale(spark, bad, "doc_id", "bin", "w", 2, 1).count() == 0)
  }

  test("png encode -> javax.imageio decode round-trips grayscale pixels exactly") {
    // deterministic pseudo-random pixels, 16 wide x 3 high
    val px = Array.tabulate[Byte](48)(i => ((i * 37 + 11) % 256).toByte)
    val df = Seq((5L, px, 16)).toDF("doc_id", "bin", "w")
    val png = Multimodal.encodeGrayscalePng(spark, df, "doc_id", "bin", "w").head
    val bytes = png.getAs[Array[Byte]]("png")
    // actual PNG magic
    assert(bytes.take(4).toSeq == Seq[Byte](0x89.toByte, 0x50, 0x4e, 0x47))
    val Some((w, h, decoded)) = Multimodal.decodeImageToGrayscale(bytes)
    assert(w == 16 && h == 3)
    assert(decoded.toSeq == px.toSeq) // lossless: decode(encode(px)) == px
    // and the distributed decode+resize path matches the raw-pixel path
    val viaPng = Multimodal.decodeResizeGrayscale(spark,
      Seq((5L, bytes)).toDF("doc_id", "png"), "doc_id", "png", 4, 1).head
    val viaRaw = Multimodal.resizeRawGrayscale(spark, df, "doc_id", "bin", "w", 4, 1).head
    assert(viaPng.getAs[Array[Byte]]("thumbnail").toSeq ==
      viaRaw.getAs[Array[Byte]]("thumbnail").toSeq)
    assert(viaPng.getAs[Double]("mean_luminance") == viaRaw.getAs[Double]("mean_luminance"))
  }

  test("jpeg decode: real codec path, lossy but close on a smooth gradient") {
    val w = 32; val h = 32
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val px = Array.tabulate[Byte](w * h)(i => (((i / w) * 4 + 60) & 0xff).toByte)
    img.getRaster.setDataElements(0, 0, w, h, px)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out)) // writer present headless
    val Some((dw, dh, decoded)) = Multimodal.decodeImageToGrayscale(out.toByteArray)
    assert(dw == w && dh == h)
    // lossy: per-pixel error small on a smooth vertical gradient
    val maxErr = decoded.zip(px).map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.max
    assert(maxErr <= 8, s"jpeg round-trip drifted by $maxErr levels")
  }

  test("animated gif encode -> decode: frames round-trip byte-exact") {
    import graft.operators.Multimodal
    // two full 4x2 frames + a partial tail byte (dropped)
    val f0 = Array.tabulate[Byte](8)(i => (i * 30).toByte)
    val f1 = Array.tabulate[Byte](8)(i => (255 - i * 30).toByte)
    val df = Seq((3L, f0 ++ f1 ++ Array[Byte](99))).toDF("doc_id", "bin")
    val gif = Multimodal.encodeFramesGif(spark, df, "doc_id", "bin",
      frameW = 4, frameH = 2).head
    val bytes = gif.getAs[Array[Byte]]("gif")
    assert(new String(bytes.take(6), "US-ASCII") == "GIF89a")
    val frames = Multimodal.decodeGifFrames(spark,
      Seq((3L, bytes)).toDF("doc_id", "gif"), "doc_id", "gif", stride = 1)
      .orderBy("frame_idx").collect()
    assert(frames.length == 2)
    assert(frames(0).getAs[Array[Byte]]("frame").toSeq == f0.toSeq)
    assert(frames(1).getAs[Array[Byte]]("frame").toSeq == f1.toSeq)
    assert(frames(0).getAs[Double]("mean_luminance")
      == f0.map(_ & 0xff).sum.toDouble / 8)
    // stride skips frames by container index
    val strided = Multimodal.decodeGifFrames(spark,
      Seq((3L, bytes)).toDF("doc_id", "gif"), "doc_id", "gif", stride = 2)
      .collect()
    assert(strided.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0))
    // payload shorter than one frame -> dropped at encode; junk -> dropped at decode
    val short = Seq((4L, Array[Byte](1, 2, 3))).toDF("doc_id", "bin")
    assert(Multimodal.encodeFramesGif(spark, short, "doc_id", "bin", 4, 2).count() == 0)
    val junk = Seq((5L, "not a gif".getBytes)).toDF("doc_id", "gif")
    assert(Multimodal.decodeGifFrames(spark, junk, "doc_id", "gif", 1).count() == 0)
  }

  test("wav encode -> javax.sound decode: exact features from known samples") {
    import graft.operators.Multimodal
    // samples: +1000, -1000, +1000, 0, -32768  (little-endian pairs)
    def le(s: Int): Seq[Byte] = {
      val u = if (s < 0) s + 0x10000 else s
      Seq((u & 0xff).toByte, ((u >> 8) & 0xff).toByte)
    }
    val pcm = (Seq(1000, -1000, 1000, 0, -32768).flatMap(le)).toArray
    val df = Seq((9L, pcm)).toDF("doc_id", "bin")
    val wav = Multimodal.encodePcm16Wav(spark, df, "doc_id", "bin", 8000).head
    val bytes = wav.getAs[Array[Byte]]("wav")
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    val out = Multimodal.decodeAudioFeatures(spark,
      Seq((9L, bytes)).toDF("doc_id", "wav"), "doc_id", "wav").head
    assert(out.getAs[Int]("sample_rate") == 8000)
    assert(out.getAs[Long]("n_samples") == 5L)
    assert(out.getAs[Long]("peak_abs") == 32768L)
    // sign sequence +,-,+,(0 skipped),- -> 3 crossings
    assert(out.getAs[Long]("zero_crossings") == 3L)
    val sumSq = 1000.0 * 1000 * 3 + 32768.0 * 32768
    assert(out.getAs[Double]("rms") == math.sqrt(sumSq / 5))
    assert(out.getAs[Double]("duration_s") == 5.0 / 8000)
    // non-audio bytes are dropped, not crashed
    val junk = Seq((1L, "definitely not audio".getBytes)).toDF("doc_id", "wav")
    assert(Multimodal.decodeAudioFeatures(spark, junk, "doc_id", "wav").count() == 0)
  }

  test("aHash: identical images collide, perturbed images stay near, distant images apart") {
    val w = 16
    def img(f: Int => Int): Array[Byte] = Array.tabulate(w * w)(i => f(i).toByte)
    val gradient = img(i => (i * 255) / (w * w))
    val perturbed = gradient.clone(); perturbed(w * w - 1) = 0 // one corner byte
    val inverse = img(i => 255 - (i * 255) / (w * w))
    val df = Seq((1L, gradient), (2L, gradient.clone()), (3L, perturbed), (4L, inverse))
      .toDF("doc_id", "payload").withColumn("w", lit(w))
    val hashes = Multimodal.aHash(spark, df, "doc_id", "payload", "w")
    val hs = hashes.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("b0"), r.getAs[Long]("b1"), r.getAs[Long]("b2"), r.getAs[Long]("b3"))).toMap
    assert(hs(1L) == hs(2L))       // identical pixels → identical hash
    assert(hs(1L) != hs(4L))       // inverted image → different hash
    val pairs = Multimodal.aHashNearDup(hashes, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0L)  // exact duplicate at Hamming 0
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) <= 3L) // near-dup caught
    assert(!pairs.keys.exists { case (a, b) => b == 4L && a != 4L } ||
      !pairs.contains((1L, 4L)))   // the inverse never verifies as near
    // undersized payloads drop rather than crash
    val tiny = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
      .withColumn("w", lit(w))
    assert(Multimodal.aHash(spark, tiny, "doc_id", "payload", "w").count() == 0)
  }

  test("audioEnvelopeHash: decode-stable, near under small edits, band-compatible") {
    // 256 samples: a loud burst in the first quarter, quiet elsewhere
    def pcm(f: Int => Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(512)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 256).foreach(i => bb.putShort(f(i).toShort))
      bb.array()
    }
    val burst = pcm(i => if (i < 64) 20000 else 100)
    val edited = burst.clone(); edited(510) = 99; edited(511) = 0 // last sample
    val silence = pcm(_ => 0)
    val raw = Seq((1L, burst), (2L, burst.clone()), (3L, edited), (4L, silence))
      .toDF("doc_id", "payload")
    val wav = Multimodal.encodePcm16Wav(spark, raw, "doc_id", "payload")
    val hashes = Multimodal.audioEnvelopeHash(spark, wav, "doc_id", "wav")
    val hs = hashes.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("b0"), r.getAs[Long]("b1"), r.getAs[Long]("b2"), r.getAs[Long]("b3"))).toMap
    assert(hs(1L) == hs(2L)) // byte-identical clips → identical envelope hash
    // burst: first 16 frames loud → bits set there, quiet frames clear
    assert(hs(1L)._1 == 0xFFFFL && hs(1L)._2 == 0L)
    // all-zero clip: env*64 >= 0 everywhere → all bits set (degenerate, stable)
    assert(hs(4L) == ((0xFFFFL, 0xFFFFL, 0xFFFFL, 0xFFFFL)))
    val pairs = Multimodal.aHashNearDup(hashes, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) <= 1L) // one-sample edit
    assert(!pairs.contains((1L, 4L))) // silence is not a near-dup of the burst
  }

  test("undecodable payloads return None / are dropped, not crashed") {
    assert(Multimodal.decodeImageToGrayscale("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImageToGrayscale(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeImageToGrayscale(null).isEmpty)
    val junk = Seq((1L, "plain text bytes".getBytes)).toDF("doc_id", "png")
    assert(Multimodal.decodeResizeGrayscale(spark, junk, "doc_id", "png", 2, 2).count() == 0)
  }

  test("tokenRarity: exact integer corpus-frequency fold, one final division") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a a b"),   // corpus counts: a=3 (2 here + 1 in doc2), b=2
      (2L, "a b zzz"), // zzz=1 (the rare-token signal)
      (3L, ""))        // empty doc drops
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenRarity(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("freq_sum"),
          r.getAs[Long]("min_freq"), r.getAs[Double]("avg_token_freq"))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L, 8L, 2L, 8.0 / 3))) // a+a+b = 3+3+2
    assert(out(2L) == ((3L, 6L, 1L, 2.0)))     // a+b+zzz = 3+2+1
  }

  test("keepCanonical materializes only canonical rows via a semi join") {
    import graft.operators.Dedup
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L, 2L, true), (2L, 1L, 2L, false), (3L, 3L, 1L, true))
      .toDF("id", "cluster_id", "cluster_size", "is_canonical")
    val kept = Dedup.keepCanonical(docs, "doc_id", clusters)
    assert(kept.collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
    assert(kept.columns.toSeq == Seq("doc_id", "text")) // bodies intact, ids only shipped
  }

  test("duplicateClusters: one action per propagation round") {
    // Each round is ONE count() action — the convergence probe rides the
    // same job that materializes the lazy localCheckpoint. That registers
    // 2 SQLExecutionStart events per round (the count + the checkpoint's
    // nested rddQueryExecution — same job, one data pass); the pre-r8
    // shape paid a separate isEmpty probe pass on top. Guard the per-round
    // delta: a singleton graph converges in 1 round, a 3-chain needs 3
    // (propagate, propagate, confirm), so the difference must be exactly
    // 2 rounds × 2 events. Reintroducing a per-round probe action would
    // show up as a delta of 6.
    def measure(pairs: org.apache.spark.sql.DataFrame): Int =
      graft.obs.JobStats.during(spark)(
        Dedup.duplicateClusters((1L to 3L).toDF("id"), pairs))._2.executions.size
    val oneRound = measure(Seq.empty[(Long, Long)].toDF("id1", "id2"))
    val threeRounds = measure(Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"))
    assert(threeRounds - oneRound == 4,
      s"expected 2 extra rounds x 2 events; saw $oneRound -> $threeRounds")
  }

  test("extended PII: SSN issuance exclusions, Luhn-gated cards, IPv6 forms") {
    import graft.operators.Privacy
    val docs = Seq(
      (1L, "ssn 123-45-6789 ok"),
      (2L, "bad 666-12-3456 and 000-12-3456 and 123-00-4567 and 123-45-0000"),
      (3L, "cards 4111111111111111 and 5500 0055 5555 5559"),
      (4L, "typo card 4111-1111-1111-1112"),
      (5L, "v6 2001:0db8:0000:0000:0000:ff00:0042:8329 and 2001:db8::1"),
      (6L, "phone 555-123-4567 ip 10.0.0.1 mail a@b.example"))
      .toDF("doc_id", "text")
    val out = Privacy.redactPiiExtended(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_ssns") == 1)
    assert(out(1L).getAs[String]("redacted") == "ssn <SSN> ok")
    // every exclusion rule: area 666, area 000, group 00, serial 0000
    assert(out(2L).getAs[Long]("n_ssns") == 0)
    assert(out(2L).getAs[String]("redacted") == out(2L).getAs[String]("text"))
    // two valid cards (contiguous + space-separated), both masked
    assert(out(3L).getAs[Long]("n_ccs") == 2)
    assert(out(3L).getAs[String]("redacted") == "cards <CC> and <CC>")
    // Luhn-invalid: masked (conservative) but NOT counted
    assert(out(4L).getAs[Long]("n_ccs") == 0)
    assert(out(4L).getAs[String]("redacted") == "typo card <CC>")
    // full 8-group and ::-compressed forms
    assert(out(5L).getAs[Long]("n_ipv6s") == 2)
    assert(out(5L).getAs[String]("redacted") == "v6 <IPV6> and <IPV6>")
    // the legacy trio keeps working through the extended pass
    assert(out(6L).getAs[Long]("n_phones") == 1)
    assert(out(6L).getAs[Long]("n_ips") == 1)
    assert(out(6L).getAs[Long]("n_emails") == 1)
    assert(out(6L).getAs[String]("redacted") == "phone <PHONE> ip <IP> mail <EMAIL>")
  }

  test("duplicate clusters: transitive closure, canonical min id, singletons kept") {
    val nodes = (0L to 12L).toDF("id")
    // components: {0,1,2,3} via chain, {5,6} pair, {7..12} a long chain
    // (exercises pointer doubling), 4 singleton
    val pairs = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L),
      (7L, 8L), (8L, 9L), (9L, 10L), (10L, 11L), (11L, 12L))
      .toDF("id1", "id2")
    val out = Dedup.duplicateClusters(nodes, pairs)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
          r.getAs[Boolean]("is_canonical"))).toMap
    assert((0L to 3L).forall(i => out(i)._1 == 0L && out(i)._2 == 4L))
    assert(out(5L) == ((5L, 2L, true)) && out(6L) == ((5L, 2L, false)))
    assert((7L to 12L).forall(i => out(i)._1 == 7L && out(i)._2 == 6L))
    assert(out(4L) == ((4L, 1L, true))) // singleton is its own canonical
    // stray pair ids outside the node set must not leak into the output
    val strayOut = Dedup.duplicateClusters(nodes,
      pairs.union(Seq((99L, 0L), (98L, 97L)).toDF("id1", "id2")))
      .collect().map(_.getAs[Long]("id")).toSet
    assert(strayOut == (0L to 12L).toSet)
    // exactly one canonical per cluster
    val canon = out.collect { case (_, (c, _, true)) => c }.toSeq
    assert(canon.sorted == canon.distinct.sorted)
    assert(canon.toSet == Set(0L, 4L, 5L, 7L))
    // exhausting maxRounds without convergence must fail loudly, not
    // return a partially-converged labeling (a 6-node chain needs >1 round)
    val e = intercept[RuntimeException] {
      Dedup.duplicateClusters((7L to 12L).toDF("id"),
        Seq((7L, 8L), (8L, 9L), (9L, 10L), (10L, 11L), (11L, 12L))
          .toDF("id1", "id2"), maxRounds = 1)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("pii redaction: counts over original text, masks applied in order") {
    import graft.operators.Privacy
    val df = Seq(
      (1L, "mail a@b.co and c.d+x@e.org at 10.0.0.1 call 555-123-4567 ok"),
      (2L, "no pii here at all"),
      (3L, "just 1.2.3.4 and 5.6.7.8"))
      .toDF("id", "text")
    val out = Privacy.redactPii(df, "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 2)
    assert(out(1L).getAs[Long]("n_ips") == 1)
    assert(out(1L).getAs[Long]("n_phones") == 1)
    assert(out(1L).getAs[String]("redacted")
      == "mail <EMAIL> and <EMAIL> at <IP> call <PHONE> ok")
    assert(out(2L).getAs[Long]("n_emails") == 0 && out(2L).getAs[String]("redacted")
      == "no pii here at all")
    assert(out(3L).getAs[Long]("n_ips") == 2)
    assert(out(3L).getAs[String]("redacted") == "just <IP> and <IP>")
  }

  test("repetition stats: duplicate-gram ratio and top-gram share are exact") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "a b a b a b"),  // 2-grams: ab ba ab ba ab -> 5 total, 2 distinct, top 3
      (2L, "x y z w"),      // all distinct
      (3L, "q"))            // shorter than the shingle width -> dropped
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df, "doc_id", "text", shingleN = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(3L))
    assert(out(1L).getAs[Long]("n_grams") == 5 && out(1L).getAs[Long]("n_distinct") == 2)
    assert(out(1L).getAs[Double]("dup_ratio") == 1.0 - 2.0 / 5.0)
    assert(out(1L).getAs[Double]("top_gram_share") == 3.0 / 5.0)
    assert(out(2L).getAs[Double]("dup_ratio") == 0.0)
  }

  test("duplicate coverage: shared shingles across docs, unique docs at zero") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "the quick brown fox jumps over"),
      (2L, "the quick brown fox sleeps here"),   // shares 2 of its 4-grams? (5-gram default too wide; use 3)
      (3L, "completely different words entirely now"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.duplicateCoverage(df, "doc_id", "text", shingleN = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    // docs 1 and 2 share the trigrams "the quick brown" and "quick brown fox"
    assert(out(1L).getAs[Long]("n_shared") == 2)
    assert(out(2L).getAs[Long]("n_shared") == 2)
    assert(out(3L).getAs[Long]("n_shared") == 0)
    assert(out(1L).getAs[Double]("dup_coverage") == 2.0 / 4.0)
    assert(out(3L).getAs[Double]("dup_coverage") == 0.0)
  }

  test("frame sampling splits payload bytes with stride") {
    val df = Seq((1L, "x" * 100)).toDF("id", "text")
      .withColumn("bin", encode(col("text"), "utf-8"))
    val frames = Multimodal.sampleFrames(df, "bin", frameBytes = 16, stride = 2)
    val idxs = frames.select("frame_idx").as[Int].collect().toSeq
    assert(idxs == Seq(0, 2, 4, 6)) // ceil(100/16)=7 frames, stride 2
  }

  test("imperative rule escape hatch: loop-with-early-exit over nested structs") {
    import graft.operators.Detection
    import graft.operators.Detection.{ImperativeRule, SimpleRule, deepget}
    import java.sql.Timestamp
    // events carry an ordered array of auth attempts; the rule fires when a
    // failure is LATER followed by a success from the SAME ip — sequential
    // state with early exit, not expressible as a single Column predicate
    def attempts(a: (String, String)*) = a.map { case (ip, res) => (ip, res) }
    val events = Seq(
      (1L, Timestamp.valueOf("2024-05-01 10:00:00"),
        attempts("10.0.0.1" -> "fail", "10.0.0.1" -> "success")),     // fires
      (2L, Timestamp.valueOf("2024-05-01 10:01:00"),
        attempts("10.0.0.1" -> "fail", "10.0.0.2" -> "success")),     // different ip
      (3L, Timestamp.valueOf("2024-05-01 10:02:00"),
        attempts("10.0.0.3" -> "success", "10.0.0.3" -> "fail")),     // wrong order
      (4L, Timestamp.valueOf("2024-05-01 10:03:00"), attempts()))     // empty
      .toDF("event_id", "ts", "tries")
      .withColumn("tries", org.apache.spark.sql.functions.transform(col("tries"),
        t => struct(t.getField("_1").as("ip"), t.getField("_2").as("result"))))
    val rule = ImperativeRule("fail_then_success", { row =>
      val tries = row.getAs[scala.collection.Seq[Row]]("tries")
      var failedIps = Set.empty[String]
      var hit = false
      val it = tries.iterator
      while (!hit && it.hasNext) {               // early exit
        val t = it.next()
        val ip = String.valueOf(deepget(t, "ip", ""))
        if (deepget(t, "result", "") == "fail") failedIps += ip
        else if (deepget(t, "result", "") == "success" && failedIps(ip)) hit = true
      }
      hit
    })
    val declarative = SimpleRule("any_failure", exists(col("tries"),
      t => t.getField("result") === "fail"))
    val matches = Detection.ruleMatches(events, Seq(rule, declarative),
      matchId = col("event_id"))
    val byRule = matches.groupBy("rule_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRule("fail_then_success") == 1L)
    assert(byRule("any_failure") == 3L)
    assert(matches.filter(col("rule_name") === "fail_then_success")
      .select("match_id").head.getLong(0) == 1L)
  }

  test("deepget traverses rows, maps, arrays; missing and null both default") {
    import graft.operators.Detection.deepget
    val df = Seq((1L, ("x", Seq(("a", 1), ("b", 2)), Map("k" -> "v")))).toDF("id", "nested")
      .selectExpr("id",
        "named_struct('s', nested._1, 'arr', transform(nested._2, t -> named_struct('name', t._1, 'n', t._2)), 'm', nested._3, 'nul', cast(null as string)) as nested")
    val row = df.head
    assert(deepget(row, "nested.s") == "x")
    assert(deepget(row, "nested.arr.1.name") == "b")
    assert(deepget(row, "nested.arr.1.n") == 2)
    assert(deepget(row, "nested.m.k") == "v")
    assert(deepget(row, "nested.missing", "dflt") == "dflt")
    assert(deepget(row, "nested.nul", "dflt") == "dflt")      // null collapses to default
    assert(deepget(row, "nested.arr.9.name", "dflt") == "dflt") // OOB index
    assert(deepget(row, "nested.s.deeper", "dflt") == "dflt")   // scalar mid-path
  }

  test("BPE applyMerge: left-to-right non-overlapping fusion, no same-round re-merge") {
    import graft.operators.Bpe
    val df = Seq(
      (1L, Seq("a", "a", "a")),        // overlapping matches: leftmost wins
      (2L, Seq("a", "a", "a", "a")),   // even run: both pairs fuse
      (3L, Seq("a", "b", "a", "b")),   // disjoint matches both fuse
      (4L, Seq("x", "a", "a", "y")),   // interior match
      (5L, Seq("b")),                  // single symbol untouched
      (6L, Seq("a", "a", "a", "b"))    // fused "aa" must not re-merge with b
    ).toDF("id", "syms")
    val out = df.select(col("id"), Bpe.applyMerge(col("syms"), "a", "a").as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("aa", "a"))
    assert(out(2L) == Seq("aa", "aa"))
    assert(out(3L) == Seq("a", "b", "a", "b"))
    assert(out(4L) == Seq("x", "aa", "y"))
    assert(out(5L) == Seq("b"))
    assert(out(6L) == Seq("aa", "a", "b"))
  }

  test("BPE training learns the dominant pair first and respects prior merges") {
    import graft.operators.Bpe
    // "ab" dominates round 1 (freq-weighted 10+3); after (a,b) fuses,
    // round 2's top pair is ("ab","c") from the 10-weight word — counts
    // must reflect the MERGED vocabulary, not raw characters
    val pre = Seq(("abc", 10L), ("ab", 3L), ("zq", 2L)).toDF("tok", "freq")
    val merges = Bpe.trainBpe(pre, rounds = 3)
    assert(merges.map(m => (m.round, m.left, m.right, m.cnt)) == Seq(
      (1, "a", "b", 13L), (2, "ab", "c", 10L), (3, "z", "q", 2L)))
    // a 4th round has no pairs left — the loop stops, no phantom merges
    assert(Bpe.trainBpe(pre, rounds = 10).size == 3)
  }

  test("BPE encodeWithMerges reproduces the trainer's final vocabulary state") {
    import graft.operators.Bpe
    val pre = Seq(("abc", 10L), ("ab", 3L), ("zq", 2L), ("a", 1L)).toDF("tok", "freq")
    val merges = Bpe.trainBpe(pre, rounds = 3)
    // encode(train tokens) with the frozen merges == what training left:
    // abc → [abc] (a,b then ab,c), ab → [ab], zq → [zq], a → [a]
    val enc = pre.select(col("tok"),
        Bpe.encodeWithMerges(Bpe.charSymbols(col("tok")), merges).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(enc("abc") == Seq("abc"))
    assert(enc("ab") == Seq("ab"))
    assert(enc("zq") == Seq("zq"))
    assert(enc("a") == Seq("a"))
    // an UNSEEN token encodes with partial coverage, never errors
    val novel = Seq(Tuple1("abz")).toDF("tok")
      .select(Bpe.encodeWithMerges(Bpe.charSymbols(col("tok")), merges))
      .head.getSeq[String](0)
    assert(novel == Seq("ab", "z"))
  }

  test("byte-level BPE: UTF-8 byte symbols, a multi-byte character split " +
      "ACROSS merges round-trips, byte training has no OOV path") {
    import graft.operators.Bpe
    // 'é' = C3 A9: round-0 symbols are hex byte pairs
    val syms = Seq(Tuple1("hé")).toDF("tok")
      .select(Bpe.byteSymbols(col("tok"))).head.getSeq[String](0)
    assert(syms == Seq("68", "C3", "A9"))
    // merges that SPLIT the 2-byte char across rounds: (68,C3) fuses the
    // ASCII byte with é's FIRST byte — the intermediate symbol "68C3" is
    // not valid UTF-8 on its own — then (68C3,A9) completes it. The full
    // concatenation must still round-trip to the original string.
    val crossMerges = Seq(
      Bpe.BpeMerge(1, "68", "C3", 0L), Bpe.BpeMerge(2, "68C3", "A9", 0L))
    val rt = Seq(Tuple1("hé")).toDF("tok")
      .select(
        Bpe.encodeWithMerges(Bpe.byteSymbols(col("tok")), crossMerges)
          .as("s"))
      .select(col("s"), Bpe.bytesToString(col("s")).as("back"))
      .head
    assert(rt.getSeq[String](0) == Seq("68C3A9")) // one merged symbol
    assert(rt.getString(1) == "hé")               // bytes round-trip
    // byte training: the dominant byte pair wins round 1 with hex-string
    // tie-breaks; every input (ASCII or not) starts in-vocabulary
    val pre = Seq(("héé", 5L), ("hé", 2L)).toDF("tok", "freq")
    val merges = Bpe.trainByteBpe(pre, rounds = 2)
    // pairs round 1: (68,C3)=7, (C3,A9)=12, (A9,C3)=5 → (C3,A9) wins
    assert(merges.head.left == "C3" && merges.head.right == "A9" &&
      merges.head.cnt == 12L)
    // after round 1, "héé" = [68, C3A9, C3A9]: (C3A9,C3A9)=5, (68,C3A9)=7
    assert(merges(1).left == "68" && merges(1).right == "C3A9" &&
      merges(1).cnt == 7L)
    // an arbitrary unseen string encodes losslessly (no OOV): partial
    // merge coverage, full byte round-trip
    val enc = Seq(Tuple1("zhé!")).toDF("tok")
      .select(Bpe.encodeWithMerges(Bpe.byteSymbols(col("tok")), merges)
        .as("s"))
      .select(col("s"), Bpe.bytesToString(col("s")).as("back")).head
    assert(enc.getSeq[String](0) == Seq("7A", "68C3A9", "21"))
    assert(enc.getString(1) == "zhé!")
  }

  test("DictionaryMatches: Aho-Corasick scan ≡ naive per-term contains — " +
      "overlapping terms, failure-link suffixes, randomized cross-check, " +
      "codegen path") {
    import graft.plans.DictionaryMatches
    val terms = Seq("ab", "abc", "b", "bc", "xyz", "ß")
    def naive(text: String): Seq[Int] =
      terms.zipWithIndex.filter { case (t, _) => text.contains(t) }.map(_._2)
    // hand fixtures: overlapping dictionary entries must ALL fire via
    // the folded output links ("zabcz" ends matches for ab/abc/b/bc at
    // three different automaton nodes)
    val texts = Seq("zabcz", "b", "", "qqq", "straße", "ababab", "xy zxyz")
    val out = texts.toDF("t")
      .select(col("t"), DictionaryMatches(col("t"), terms).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    texts.foreach { t =>
      assert(out(t) == naive(t), s"text='$t'")
    }
    assert(out("zabcz") == Seq(0, 1, 2, 3))
    assert(out("") == Seq())
    // randomized cross-check over a 3-char alphabet (dense overlaps,
    // failure links exercised hard): deterministic seed, 300 cases
    val rnd = new scala.util.Random(42)
    val dict = Seq("a", "aa", "aba", "bab", "bb", "abab", "ba")
    val rtexts = Seq.fill(300)(
      (0 until rnd.nextInt(24)).map(_ => "ab" (rnd.nextInt(2))).mkString)
    val rout = rtexts.distinct.toDF("t")
      .select(col("t"), DictionaryMatches(col("t"), dict).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    rtexts.distinct.foreach { t =>
      val expect = dict.zipWithIndex
        .filter { case (d, _) => t.contains(d) }.map(_._2)
      assert(rout(t) == expect, s"text='$t'")
    }
  }

  test("DictionaryMatches at blocklist scale: a 10k-term dictionary " +
      "builds its automaton once per JVM (no rebuilds across multi-" +
      "partition scans) and matches the naive pass on a sample") {
    import graft.plans.{AhoCorasick, DictionaryMatches}
    // 10k deterministic three-word phrases over a 5-word alphabet plus a
    // numeric suffix — fresh (never cached by another test), C4
    // badwords-list scale
    val ws = Seq("alpha", "beta", "gamma", "delta", "omega")
    val terms = (0 until 10000).map(i =>
      s"${ws(i % 5)} ${ws(i / 5 % 5)} ${ws(i / 25 % 5)} t$i")
    val texts = (0L until 64L).map(i =>
      (i, s"prefix ${terms((i * 157 % 10000).toInt)} suffix"))
    val before = AhoCorasick.builds.get()
    // warm on one partition: exactly one cold build (concurrent cold
    // tasks could legitimately race-build; a single task cannot)
    val warm = texts.take(1).toDF("id", "t").coalesce(1)
      .select(DictionaryMatches(col("t"), terms).as("ids"))
      .collect()
    assert(AhoCorasick.builds.get() == before + 1, "one cold build")
    assert(warm.head.getSeq[Int](0).size == 1)
    // two 32-partition scans: the executor-cached automaton serves every
    // task — zero further builds
    val out = texts.toDF("id", "t").repartition(32)
      .select(col("id"), DictionaryMatches(col("t"), terms).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    texts.toDF("id", "t").repartition(32)
      .select(DictionaryMatches(col("t"), terms)).collect()
    assert(AhoCorasick.builds.get() == before + 1,
      "multi-partition scans must not rebuild the automaton")
    // sample semantics vs naive contains (full-equivalence is gated by
    // the randomized test above and the q179 oracle)
    texts.take(8).foreach { case (i, t) =>
      val expect = terms.zipWithIndex
        .filter { case (term, _) => t.contains(term) }.map(_._2)
      assert(out(i) == expect, s"text='$t'")
    }
  }

  test("fertilityByLang: exact per-language ledgers, premium vs the en " +
      "reference; OOV language pays character-level fertility") {
    import graft.operators.Bpe
    // frozen model: one merge (a,b). GPT-2-style pretokens KEEP the
    // leading space: "ab ab cd" → ["ab", " ab", " cd"]
    val merges = Seq(Bpe.BpeMerge(1, "a", "b", 99L))
    val docs = Seq(
      (1L, "en", "ab ab cd"), // 1 + 2 + 3 BPE tokens over 2+3+3 chars
      (2L, "en", "ab"),       // 1 token, 2 chars
      (3L, "xx", "cd cd"))    // merge never fires → 2 + 3 tokens
      .toDF("doc_id", "lang", "text")
    val out = Bpe.fertilityByLang(docs, "doc_id", "lang", "text", merges)
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val en = out("en")
    assert(en.getAs[Long]("n_docs") == 2L)
    assert(en.getAs[Long]("n_pretokens") == 4L)
    assert(en.getAs[Long]("n_chars") == 10L)
    assert(en.getAs[Long]("n_tokens") == 7L)
    assert(en.getAs[Double]("fertility") == 7.0 / 4.0)
    assert(en.getAs[Double]("premium_vs_en") == 1.0) // self-reference
    val xx = out("xx")
    assert(xx.getAs[Long]("n_pretokens") == 2L)
    assert(xx.getAs[Long]("n_chars") == 5L)
    assert(xx.getAs[Long]("n_tokens") == 5L) // every char its own token
    assert(xx.getAs[Double]("fertility") == 5.0 / 2.0)
    assert(xx.getAs[Double]("chars_per_token") == 1.0)
    // tokens-per-char premium: (5/5) / (7/10) = 10/7
    assert(xx.getAs[Double]("premium_vs_en") == 10.0 / 7.0)
    // an absent reference language fails LOUDLY instead of silently
    // erasing every ledger row through the empty reference join
    val noEn = docs.filter(col("lang") =!= "en")
    intercept[IllegalArgumentException] {
      Bpe.fertilityByLang(noEn, "doc_id", "lang", "text", merges)
    }
  }

  test("unigram-LM training: hard-EM rounds with exact quantized scores, " +
      "zero-usage pruning, single-char coverage") {
    import graft.operators.Unigram
    // seed (maxPieceLen 2, freq-weighted positional counts):
    //   a = 2·2 + 3 = 7, b = 2·2 + 3 + 1 = 8, ab = 2·2 + 3 = 7, ba = 2
    // round-0 scores over T = 24: b 3333, a/ab 2916, ba 833
    // Viterbi: "ab" → [ab] (1·2916·10⁴ beats 2916·3333),
    //   "abab" → [ab, ab], "b" → [b]
    // usage: ab = 2·2 + 3 = 7, b = 1, a = 0 (kept: single char),
    //   ba = 0 (PRUNED: multi-char)
    // round 2 re-segments identically; final scores over T = 8:
    //   ab 8750, b 1250, a max(1, 0) = 1
    val pre = Seq(("abab", 2L), ("ab", 3L), ("b", 1L)).toDF("tok", "freq")
    val model = Unigram.trainUnigram(pre, vocabSize = 6, rounds = 2,
      maxPieceLen = 2)
    assert(model.map(m => (m.piece, m.count, m.score)) == Seq(
      ("ab", 7L, 8750L), ("b", 1L, 1250L), ("a", 0L, 1L)))
    // encode with the frozen model reproduces the trainer's segmentation
    val enc = Unigram.encodeUnigram(pre, model, maxPieceLen = 2)
      .collect().map(r => r.getString(0) -> (r.getString(2), r.getLong(3)))
      .toMap
    assert(enc("abab") == (("ab ab", 2L)))
    assert(enc("ab") == (("ab", 1L)))
    assert(enc("b") == (("b", 1L)))
    // determinism: retraining reproduces the model exactly
    assert(Unigram.trainUnigram(pre, vocabSize = 6, rounds = 2,
      maxPieceLen = 2) == model)
    // tokens longer than the DECIMAL(38) width bound are excluded from
    // training, not mis-scored
    val withLong = pre.union(Seq(("abababababab", 100L)).toDF("tok", "freq"))
    assert(Unigram.trainUnigram(withLong, vocabSize = 6, rounds = 2,
      maxPieceLen = 2) == model)
  }

  test("unigram-LM Viterbi: likelihood beats fewest-pieces when scores say " +
      "so; ties break to the longer last piece") {
    import graft.operators.Unigram
    // hand model: "xy" is RARE (score 1), singles are common — the
    // two-piece [x, y] (5000·5000·1 = 2.5e7 on the 10⁴·2 denominator)
    // must beat the one-piece [xy] (1·10⁴ = 1e4): a fewest-pieces
    // objective would get this wrong
    val model = Seq(
      Unigram.UnigramPiece("x", 0L, 5000L),
      Unigram.UnigramPiece("y", 0L, 5000L),
      Unigram.UnigramPiece("xy", 0L, 1L))
    val out = Unigram.encodeUnigram(
        Seq(("xy", 1L)).toDF("tok", "freq"), model, maxPieceLen = 2)
      .head.getString(2)
    assert(out == "x y")
    // exact tie (score·10⁴ equal both ways): longer last piece wins
    val tied = Seq(
      Unigram.UnigramPiece("p", 0L, 100L),
      Unigram.UnigramPiece("q", 0L, 100L),
      Unigram.UnigramPiece("pq", 0L, 1L))
    // [p,q] = 100·100 = 10⁴; [pq] = 1·10⁴ = 10⁴ → tie → k=2 wins
    val t = Unigram.encodeUnigram(
        Seq(("pq", 1L)).toDF("tok", "freq"), tied, maxPieceLen = 2)
      .head.getString(2)
    assert(t == "pq")
  }

  test("unigram-LM: maxPieceLen above the Long-exact rescale bound fails " +
      "loudly instead of silently corrupting the DP") {
    import graft.operators.Unigram
    // the per-candidate rescale literal 10^{4(k-1)} is a Long: at k = 6
    // it would be 10^20 > 2^63-1, so 5 is the largest admissible bound
    val pre = Seq(("abc", 1L)).toDF("tok", "freq")
    val e = intercept[IllegalArgumentException] {
      Unigram.trainUnigram(pre, vocabSize = 4, rounds = 1, maxPieceLen = 6)
    }
    assert(e.getMessage.contains("maxPieceLen"))
    intercept[IllegalArgumentException] {
      Unigram.viterbiSegment(pre, Seq("a" -> 1L), maxPieceLen = 6)
    }
    intercept[IllegalArgumentException] {
      Unigram.encodeUnigram(pre,
        Seq(Unigram.UnigramPiece("a", 1L, 1L)), maxPieceLen = 0)
    }
    // the boundary value 5 (rescale 10^16, Long-exact) is admitted
    val m5 = Unigram.trainUnigram(pre, vocabSize = 8, rounds = 1,
      maxPieceLen = 5)
    assert(m5.nonEmpty)
  }

  test("wordpiece: hand-traced likelihood-scored merges, ## algebra, " +
      "greedy longest-match encode, [UNK]") {
    import graft.operators.WordPiece
    // corpus: aab×10, ab×5, b×3 → round-0 symbols
    //   aab = [a, ##a, ##b], ab = [a, ##b], b = [b]
    // counts: a 15, ##a 10, ##b 15, b 3
    // pair scores (×10¹⁸ floor): (a,##a) 1/15, (##a,##b) 1/15,
    //   (a,##b) 1/45 — score tie, cnt tie (10=10) → lexicographic l:
    //   '##a' < 'a', so merge 1 = (##a, ##b) → fused '##ab'
    // round 2: a 15, ##ab 10, ##b 5, b 3; (a,##ab) 1/15 TIES (a,##b)
    //   1/15 on the quantized score → cnt 10 > 5 → merge 2 = (a, ##ab)
    //   → fused 'aab'
    val pre = Seq(("aab", 10L), ("ab", 5L), ("b", 3L)).toDF("tok", "freq")
    val model = WordPiece.trainWordPiece(pre, rounds = 2)
    assert(model.singles == Seq("##a", "##b", "a", "b"))
    assert(model.merges.map(m =>
      (m.round, m.left, m.right, m.fused, m.cnt, m.score)) == Seq(
      (1, "##a", "##b", "##ab", 10L, 66666666666666666L),
      (2, "a", "##ab", "aab", 10L, 66666666666666666L)))
    // greedy longest-match-first: whole-word piece beats prefix pieces;
    // any position with no vocabulary path maps the WHOLE word to [UNK]
    val toEnc = Seq(("aab", 1L), ("ab", 1L), ("b", 1L), ("az", 1L),
      ("za", 1L)).toDF("tok", "freq")
    val enc = WordPiece.encodeWordPiece(toEnc, model)
      .collect().map(r => r.getString(0) ->
        ((r.getString(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(enc("aab") == (("aab", 1L, false)))
    assert(enc("ab") == (("a ##b", 2L, false)))
    assert(enc("b") == (("b", 1L, false)))
    assert(enc("az") == (("[UNK]", 1L, true)), "dead continuation → UNK")
    assert(enc("za") == (("[UNK]", 1L, true)), "dead word-initial → UNK")
    // determinism: retraining reproduces the model exactly
    assert(WordPiece.trainWordPiece(pre, rounds = 2) == model)
    // merge exhaustion: more rounds than fusable pairs stops early
    assert(WordPiece.trainWordPiece(pre, rounds = 50).merges.size <= 4)
  }

  test("wordpiece: a '##'-leading corpus word can train a vocab that " +
      "repeats a string — encode must dedup the map literal, not throw") {
    import graft.operators.WordPiece
    // "##x" → round-0 symbols [#, ###, ##x]; merge 1 fuses (#, ###) →
    // '##', merge 2 fuses (##, ##x) → '##x' — DUPLICATING the single
    // '##x' in model.vocab (the published ambiguity the scaladoc
    // documents). The encode map literal must be built from the
    // distinct vocab or Spark throws DUPLICATE_MAP_KEY at runtime.
    val pre = Seq(("##x", 4L)).toDF("tok", "freq")
    val model = WordPiece.trainWordPiece(pre, rounds = 2)
    assert(model.vocab.size != model.vocab.distinct.size,
      "fixture must actually produce a duplicated vocab string")
    val enc = WordPiece.encodeWordPiece(pre, model)
      .collect().map(r => r.getString(0) ->
        ((r.getString(2), r.getBoolean(4)))).toMap
    // greedy under the raw-length probe width segments it (never UNK —
    // every single char is in vocab), deterministically
    assert(!enc("##x")._2)
    assert(enc("##x")._1 == "# ### ##x")
  }

  test("dpHistogramRelease: bucket assignment is integer-exact above the " +
      "Double mantissa (2^53)") {
    import graft.operators.Privacy
    // v = 2^60 + 7 with width 4: the exact floor bucket is 2^58 + 1. A
    // Double quotient rounds the numerator 2^60 + 4 to 2^60 (Double
    // spacing at this magnitude is 128) and lands one bucket off — the
    // DECIMAL(38,0) division must not.
    val lo = 1L << 58
    val df = Seq(("g", (1L << 60) + 7L)).toDF("grp", "v")
    val out = Privacy.dpHistogramRelease(df, Seq("grp"), "v", binWidth = 4L,
        binLo = lo, binHi = lo + 10L, epsilon = 1.0, seed = 1L)
      .collect().map(r => r.getLong(1) -> (r.getLong(2) - r.getLong(3)))
      .toMap
    // released − noise = the true count per bucket
    assert(out(lo + 1L) == 1L, "the row must land in its exact bucket")
    assert(out.filter(_._2 != 0L).keySet == Set(lo + 1L))
  }

  test("semanticDedup: lower id wins in-cluster, fail-open above the cap") {
    import graft.operators.Similarity
    // codes chosen so cosineInt8(a, b) = 1.0 for parallel vectors
    val par = Seq(10L, 0L, 0L, 0L)
    val par2 = Seq(20L, 0L, 0L, 0L) // parallel to par => cos 1.0
    val orth = Seq(0L, 10L, 0L, 0L) // orthogonal => cos 0.0
    val assigned = Seq(
      (1L, par, 0L), (2L, par2, 0L), (3L, orth, 0L),   // small cluster
      (10L, par, 1L), (11L, par2, 1L), (12L, orth, 1L), (13L, Seq(0L, 0L, 7L, 0L), 1L)
    ).toDF("id", "vec", "bucket")
    // cap 3: cluster 0 capped-in (2 suppressed by 1), cluster 1 (size 4)
    // fails OPEN — all four survive despite 10/11 being parallel
    val out = Similarity.semanticDedup(assigned, threshold = 0.9,
        maxBucketSize = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 0L), (3L, 0L), (10L, 1L), (11L, 1L), (12L, 1L), (13L, 1L)))
    // uncapped: suppression applies everywhere
    val all = Similarity.semanticDedup(assigned, threshold = 0.9, maxBucketSize = None)
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 3L, 10L, 12L, 13L))
  }

  test("integerPageRank: hand-computed round on a path graph, exact fixed point") {
    import graft.operators.LinkRank
    // undirected path a(1)–b(2)–c(3), isolated d(4); SCALE = 1e12
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val S = 1000000L
    val r1 = LinkRank.integerPageRank(nodes, edges, rounds = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // contrib: a gets r(b) div 2 = 5e11; b gets r(a)+r(c) = 2e12; c = 5e11
    // rank' = 3e12 div 20 + (17·c) div 20
    assert(r1(1L) == ((1L, 3L * S / 20 + 17L * (S / 2) / 20)))
    assert(r1(2L) == ((2L, 3L * S / 20 + 17L * (2 * S) / 20)))
    assert(r1(3L) == ((1L, r1(1L)._2)))
    assert(r1(4L) == ((0L, 3L * S / 20))) // dangling: pure teleport
    // more rounds: symmetry holds, the hub stays on top, mass stays
    // bounded by the start mass (truncating division only loses mass)
    val r3 = LinkRank.integerPageRank(nodes, edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(r3(1L) == r3(3L))
    assert(r3(2L) > r3(1L) && r3(1L) > r3(4L))
    assert(r3.values.sum <= 4 * S)
  }

  test("pqEncode picks the nearest codeword per subspace, ties to lowest id; ADC distance is the LUT sum") {
    import graft.operators.Similarity
    // d=4, 2 subspaces of 2 dims; codewords chosen so every argmin is
    // hand-checkable. Book ids deliberately NOT 0-based contiguous.
    val book = Seq(
      5L -> Seq(0L, 0L, 10L, 10L),
      7L -> Seq(10L, 10L, 0L, 0L))
    val corpus = Seq(
      (100L, Seq(1L, 1L, 9L, 9L)),   // sub0 → cw5 (d=2 vs 162), sub1 → cw5 (2 vs 162)
      (101L, Seq(9L, 9L, 1L, 1L)),   // both subs → cw7
      (102L, Seq(5L, 5L, 5L, 5L))    // equidistant (50 vs 50) → tie → cw5
    ).toDF("id", "code")
    val enc = Similarity.pqEncode(corpus, book, subspaces = 2)
    val codes = enc.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(codes == Map(
      100L -> List(5L, 5L), 101L -> List(7L, 7L), 102L -> List(5L, 5L)))
    // ADC: query = exact codeword concatenation (0,0,10,10 | sub1 of cw7
    // = 0,0): distances reproduce the chosen-codeword L2 sums exactly
    val queries = Seq((200L, Seq(0L, 0L, 0L, 0L))).toDF("id", "code")
    val top = Similarity.pqAdcTopK(enc, queries, book, subspaces = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // dist(q, enc(x)) = L2(qsub0, cw[x0]sub0) + L2(qsub1, cw[x1]sub1):
    //   100/102 → cw5,cw5: (0+0) + (100+100) = 200
    //   101     → cw7,cw7: (100+100) + (0+0) = 200
    // all tie at 200 → id-ordered
    assert(top.toList == List(
      (200L, 100L, 200L, 1), (200L, 101L, 200L, 2), (200L, 102L, 200L, 3)))
  }

  test("pqTrainCodebook: independent per-subspace Lloyd runs, packed " +
      "full-width; memberships may differ per subspace") {
    import graft.operators.Similarity
    // d=4, 2 subspaces. sub0 blobs: {1,2}≈10, {3,4}≈50. sub1 blobs:
    // {1,3}≈-20, {2,4}≈30 — DIFFERENT memberships per subspace, the
    // thing a single full-width k-means cannot represent.
    val corpus = Seq(
      (1L, Seq(9L, 11L, -21L, -19L)),
      (2L, Seq(11L, 9L, 29L, 31L)),
      (3L, Seq(49L, 51L, -19L, -21L)),
      (4L, Seq(51L, 49L, 31L, 29L))).toDF("id", "code")
    val seeds = Seq(
      (0L, Seq(9L, 11L, -21L, -19L)),
      (1L, Seq(51L, 49L, 31L, 29L))).toDF("cid", "code")
    val book = Similarity.pqTrainCodebook(corpus, seeds,
      subspaces = 2, maxRounds = 3)
    // per-subspace blob means, packed: cw0 = (10,10 | -20,-20),
    // cw1 = (50,50 | 30,30)
    assert(book == Seq(
      0L -> Seq(10L, 10L, -20L, -20L),
      1L -> Seq(50L, 50L, 30L, 30L)))
    // encode under the trained book: the four corpus rows realize all
    // four (sub0, sub1) membership combinations
    val enc = Similarity.pqEncode(corpus, book, subspaces = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(enc == Map(
      1L -> List(0L, 0L), 2L -> List(0L, 1L),
      3L -> List(1L, 0L), 4L -> List(1L, 1L)))
  }

  test("pqAdcTopKBucketed scans only probed buckets and excludes self; " +
      "pqRerankExact reorders the shortlist by true distance") {
    import graft.operators.Similarity
    val book = Seq(
      5L -> Seq(0L, 0L, 10L, 10L),
      7L -> Seq(10L, 10L, 0L, 0L))
    val corpus = Seq(
      (100L, Seq(1L, 1L, 9L, 9L), 0L),
      (101L, Seq(9L, 9L, 1L, 1L), 0L),
      (102L, Seq(5L, 5L, 5L, 5L), 1L)).toDF("id", "code", "bucket")
    // pqEncode preserves the non-code columns → (id, bucket, pq)
    val enc = Similarity.pqEncode(corpus, book, subspaces = 2)
    assert(enc.columns.toSet == Set("id", "bucket", "pq"))
    // query 100 probes ONLY bucket 0: candidate set is {101} — 102 is
    // unprobed and the query's own row is excluded
    val probes0 = Seq((100L, Seq(1L, 1L, 9L, 9L), 0L))
      .toDF("qid", "code", "bucket")
    val got0 = Similarity.pqAdcTopKBucketed(enc, probes0, book,
        subspaces = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got0.toList == List((100L, 101L)))
    // query 200 probes both buckets: all three candidates, ADC ties at
    // 200 (the pqAdcTopK fixture arithmetic) → id order
    val probes1 = Seq(
      (200L, Seq(0L, 0L, 0L, 0L), 0L),
      (200L, Seq(0L, 0L, 0L, 0L), 1L)).toDF("qid", "code", "bucket")
    val short = Similarity.pqAdcTopKBucketed(enc, probes1, book,
      subspaces = 2, k = 3)
    assert(short.collect().map(r => (r.getLong(1), r.getInt(3))).toList ==
      List((100L, 1), (101L, 2), (102L, 3)))
    // exact re-rank breaks the ADC tie with TRUE distances: 102 (d=100)
    // beats 100/101 (d=164 each, id order)
    val qcodes = Seq((200L, Seq(0L, 0L, 0L, 0L))).toDF("id", "code")
    val rr = Similarity.pqRerankExact(short, qcodes,
        corpus.select(col("id"), col("code")), k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rr.toList == List((1, 102L, 100L), (2, 100L, 164L)))
  }

  test("prototypicalityPrune: nearest dropPercent of each cluster cut by " +
      "exact rank, boundary rank drops, small clusters keep everyone, " +
      "distance ties break to the lowest id") {
    val cents = Seq(
      (0L, Seq(0L, 0L, 0L, 0L)),
      (1L, Seq(100L, 100L, 100L, 100L))).toDF("cid", "code")
    val corpus = Seq(
      // cluster 0: six points, distances 0/1/1/4/9/16 — ids 11 and 15
      // tie at distance 1 and must rank in id order
      (10L, Seq(0L, 0L, 0L, 0L)),
      (11L, Seq(1L, 0L, 0L, 0L)),
      (15L, Seq(0L, 1L, 0L, 0L)),
      (12L, Seq(2L, 0L, 0L, 0L)),
      (13L, Seq(3L, 0L, 0L, 0L)),
      (14L, Seq(4L, 0L, 0L, 0L)),
      // cluster 1: two points — 20% of 2 rounds to nobody (100·1 > 40)
      (20L, Seq(100L, 100L, 100L, 100L)),
      (21L, Seq(99L, 100L, 100L, 100L))).toDF("id", "code")
    val out = Similarity.prototypicalityPrune(corpus, cents, dropPercent = 20)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("bucket"), r.getAs[Long]("dist"),
          r.getAs[Long]("proto_rank"), r.getAs[Boolean]("kept"))).toMap
    assert(out(10L) == (0L, 0L, 1L, false), "rank 1 of 6 is the cut")
    assert(out(11L) == (0L, 1L, 2L, true), "tie at d=1: id 11 before 15")
    assert(out(15L) == (0L, 1L, 3L, true))
    assert(out(14L) == (0L, 16L, 6L, true))
    // cluster of 2: the 20% cut lands below rank 1 — everyone survives
    assert(out(20L)._4 && out(21L)._4)
    // exact boundary: with n=5 the rank-1 comparison is 100·1 ≤ 20·5 —
    // equality DROPS (kept is a strict >)
    val five = Similarity.prototypicalityPrune(
        corpus.filter(col("id") =!= 15L && col("id") < 20L), cents, 20)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    assert(!five(10L) && five(11L) && five(12L))
  }
}
