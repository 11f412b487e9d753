package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics beyond alerts: watermarked windowed aggregation
  * (SURVEY.md §2.7) and the enrichment broadcast-map point lookup.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("watermarked hourly window aggregates and drops too-late rows") {
    val input = MemoryStream[(java.sql.Timestamp, String)](spark)
    val agg = input.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"))
    val q = agg.writeStream.format("memory").queryName("win_sink")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData((t("2024-01-01 00:10:00"), "a"), (t("2024-01-01 00:40:00"), "a"))
    q.processAllAvailable()
    // advance watermark far past hour 0 → hour-0 window finalizes
    input.addData((t("2024-01-01 05:00:00"), "a"))
    q.processAllAvailable()
    // this row is hours behind the watermark → dropped, window stays closed
    input.addData((t("2024-01-01 00:50:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_sink").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("n") == 2)
    assert(rows.head.getAs[java.sql.Timestamp]("hour") == t("2024-01-01 00:00:00"))
  }

  test("enrichment broadcast map answers point lookups like the join") {
    val enrich = Seq(("john", "John Doe"), ("ana", "Ana B"))
      .toDF("user_id", "name")
    val bc = graft.operators.Enrichment.lookupMap(enrich, "user_id")
    assert(bc.value("john").getAs[String]("name") == "John Doe")
    assert(!bc.value.contains("ghost"))
    // a lake-scale "enrichment" table must fail fast (driver-OOM guard),
    // with the message routing the caller to the distributed join API
    val big = spark.range(10).toDF("user_id")
    val e = intercept[RuntimeException] {
      graft.operators.Enrichment.lookupMap(big, "user_id", maxRows = 5)
    }
    assert(e.getMessage.contains("lookupJoin"))
  }

  test("streaming perceptual dedup: known near-dup images are suppressed per micro-batch") {
    import graft.operators.Multimodal
    val w = 16
    def img(seed: Int): Array[Byte] =
      Array.tabulate(w * w)(i => (((i * 31 + seed * 97) % 251)).toByte)
    // static corpus index: three known images, hashed once
    val corpus = Seq((1L, img(1)), (2L, img(2)), (3L, img(3)))
      .toDF("doc_id", "payload").withColumn("w", lit(w))
    val index = Multimodal.aHash(spark, corpus, "doc_id", "payload", "w")
      .localCheckpoint(true)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val q = input.toDF().toDF("doc_id", "payload")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val hashed = Multimodal.aHash(spark,
          batch.withColumn("w", lit(w)), "doc_id", "payload", "w")
          .localCheckpoint(true)
        // pair incoming against the index: union both sides, keep only
        // cross pairs (index ids < 100 by construction, incoming >= 100)
        val dup = Multimodal.aHashNearDup(index.unionByName(hashed), "doc_id",
            maxHamming = 6)
          .filter(col("id1") < 100L && col("id2") >= 100L)
          .select(col("id2").as("doc_id"))
        seen ++= hashed.join(dup, Seq("doc_id"), "left_anti")
          .collect().map(_.getAs[Long]("doc_id"))
        ()
      }.start()
    val twin = img(1).clone(); twin(w * w - 1) = 0 // near-dup of corpus image 1
    input.addData((100L, twin), (101L, img(42)))   // one dup, one novel
    q.processAllAvailable()
    q.stop()
    assert(seen.toList == List(101L)) // the twin is suppressed, the novel passes
  }

  test("streaming dedup index GROWS: batch N+1 suppresses against batches 1..N, replay is idempotent") {
    import graft.operators.Multimodal
    import graft.streaming.DedupIndex
    val w = 16
    def img(seed: Int): Array[Byte] =
      Array.tabulate(w * w)(i => (((i * 31 + seed * 97) % 251)).toByte)
    def twin(seed: Int): Array[Byte] = {
      val b = img(seed).clone(); b(w * w - 1) = 0; b
    }
    val idxDir = tempDir("graft_dedup_idx").toString
    def hash(rows: Seq[(Long, Array[Byte])]) =
      Multimodal.aHash(spark, rows.toDF("doc_id", "payload").withColumn("w", lit(w)),
        "doc_id", "payload", "w")
    val survived = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val q = input.toDF().toDF("doc_id", "payload")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val hashed = Multimodal.aHash(spark,
          batch.withColumn("w", lit(w)), "doc_id", "payload", "w")
        survived ++= DedupIndex.dedupBatch(spark, idxDir, hashed)
          .collect().map(_.getAs[Long]("doc_id"))
        ()
      }.start()
    // batch 1: one novel image
    input.addData((100L, img(1))); q.processAllAvailable()
    // batch 2: a novel image + a near-twin of BATCH 1's image
    input.addData((200L, img(2)), (201L, twin(1))); q.processAllAvailable()
    // batch 3: a near-twin of BATCH 2's survivor + a novel image — only a
    // grown index can suppress 300 (the static seed never saw img(2))
    input.addData((300L, twin(2)), (301L, img(9))); q.processAllAvailable()
    q.stop()
    assert(survived.toList == List(100L, 200L, 301L),
      s"cross-batch suppression failed: $survived")
    // the main index holds EVERY arrival (survivors and suppressed);
    // the keys side-table carries one row per (id, band)
    val idxCount = graft.lake.Snapshots.read(spark, s"$idxDir/main").count()
    assert(idxCount == 5L)
    assert(graft.lake.Snapshots.read(spark, s"$idxDir/keys").count() == 20L)
    // replaying batch 3 (restart semantics) yields the same survivors and
    // the index does not grow — exactly-once across restarts
    val replay = DedupIndex.dedupBatch(spark, idxDir,
      hash(Seq(300L -> twin(2), 301L -> img(9))))
      .collect().map(_.getAs[Long]("doc_id")).toList
    assert(replay == List(301L))
    assert(graft.lake.Snapshots.read(spark, s"$idxDir/main").count() == 5L)
    assert(graft.lake.Snapshots.read(spark, s"$idxDir/keys").count() == 20L)
  }

  test("LSH text dedup index grows across batches: intra-batch order, cross-batch suppression, idempotent replay") {
    import graft.streaming.DedupIndex
    val idxDir = tempDir("graft_lsh_idx").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def fold(rows: (Long, String)*) =
      DedupIndex.lshDedupBatch(spark, idxDir, batch(rows: _*))
        .collect().map(_.getLong(0)).sorted.toList
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine"
    val t3 = "red green blue yellow purple orange pink teal"
    // batch 1: a novel doc + its same-batch duplicate — the strict
    // id1 < id2 pair order keeps the lower id
    assert(fold(100L -> t1, 101L -> t1) == List(100L))
    // batch 2: novel + a duplicate of BATCH 1's survivor (via the index)
    assert(fold(200L -> t2, 201L -> t1) == List(200L))
    // batch 3: a duplicate of a BATCH 2 survivor + a novel doc — only a
    // grown index can suppress 300 (a static seed never saw t2)
    assert(fold(300L -> t2, 301L -> t3) == List(301L))
    // the main index holds EVERY arrival (survivors and suppressed);
    // the keys side-table carries one row per (doc, band)
    assert(graft.lake.Snapshots.read(spark, s"$idxDir/main").count() == 6L)
    assert(graft.lake.Snapshots.read(spark, s"$idxDir/keys").count() == 12L)
    // replaying batch 3 (restart semantics) re-derives the same survivors
    // and the index does not grow — exactly-once across restarts
    assert(fold(300L -> t2, 301L -> t3) == List(301L))
    assert(graft.lake.Snapshots.read(spark, s"$idxDir/main").count() == 6L)
    assert(graft.lake.Snapshots.read(spark, s"$idxDir/keys").count() == 12L)
  }

  test("paragraph-dedup registry grows across batches: in-batch winner, " +
      "cross-batch cut via the registry, counter variants merge under the " +
      "normalization, idempotent replay") {
    import graft.streaming.DedupIndex
    val idxDir =
      tempDir("graft_para_idx").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def fold(rows: (Long, String)*) =
      DedupIndex.paragraphDedupBatch(spark, idxDir, batch(rows: _*))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_kept"), r.getAs[String]("text_clean"))).toMap
    // batch 1: 100 owns both paragraphs; 101 repeats one IN-batch
    val b1 = fold(100L -> "shared one\n\nunique a",
      101L -> "shared one\n\nunique b")
    assert(b1(100L) == (2L, "shared one\n\nunique a"))
    assert(b1(101L) == (1L, "unique b"))
    // batch 2: a registered paragraph (cut via the REGISTRY, history
    // text never rescanned) + a counter variant of a fresh in-batch
    // paragraph (normalizes equal — cut to the batch winner) + fresh
    val b2 = fold(200L -> "call 555 now\n\nunique c",
      201L -> "unique a\n\ncall 123 now")
    assert(b2(200L) == (2L, "call 555 now\n\nunique c"))
    assert(b2(201L) == (0L, ""), "every paragraph of 201 is a dup")
    // the registry stores ONE slim winner row per distinct key — never
    // paragraph bodies of suppressed occurrences
    assert(graft.lake.Snapshots.read(spark, idxDir).count() == 5L)
    // replaying batch 2 (restart semantics) re-emits identically and the
    // registry does not grow — exactly-once across restarts
    val r2 = fold(200L -> "call 555 now\n\nunique c",
      201L -> "unique a\n\ncall 123 now")
    assert(r2 == b2)
    assert(graft.lake.Snapshots.read(spark, idxDir).count() == 5L)
  }

  test("span-dedup registry grows across batches: in-batch winner, " +
      "cross-batch cut via the registry, overlapping cut spans union " +
      "their coverage, idempotent replay") {
    import graft.streaming.DedupIndex
    val idxDir =
      tempDir("graft_span_idx").toString
    def fold(rows: (Long, String)*) =
      DedupIndex.spanDedupBatch(spark, idxDir, rows.toDF("doc_id", "text"))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_sents"), r.getAs[Long]("n_cut"),
            r.getAs[String]("text_clean")))).toMap
    // batch 1: 100 owns both its spans; 101 repeats the alpha span
    // IN-batch → all three sentences cut
    val b1 = fold(
      100L -> "alpha one. alpha two. alpha three. tail a.",
      101L -> "alpha one. alpha two. alpha three.")
    assert(b1(100L) == ((4L, 0L,
      "alpha one. alpha two. alpha three. tail a.")))
    assert(b1(101L) == ((3L, 3L, "")))
    // batch 2: the alpha span cuts via the REGISTRY (history text never
    // rescanned); the doc's fresh trailing span survives; a case variant
    // normalizes onto the registered key; a short doc has no spans
    val b2 = fold(
      200L -> "alpha one. alpha two. alpha three. tail b.",
      201L -> "solo. duo.",
      202L -> "beta one. beta two. beta three. beta four.",
      203L -> "ALPHA ONE. Alpha Two. alpha THREE.")
    assert(b2(200L) == ((4L, 3L, "tail b.")))
    assert(b2(201L) == ((2L, 0L, "solo. duo.")))
    assert(b2(202L) == ((4L, 0L,
      "beta one. beta two. beta three. beta four.")))
    assert(b2(203L) == ((3L, 3L, "")))
    // registry: alpha span + 100's tail span (batch 1), 200's tail span
    // + 202's two overlapping beta spans (batch 2) — one slim row per
    // distinct key, never sentence bodies
    assert(graft.lake.Snapshots.read(spark, idxDir).count() == 5L)
    // batch 3: BOTH registered beta spans cover this doc — the union
    // cuts 4 sentences (not 6); the fresh trailing span survives
    val b3 = fold(
      300L -> "beta one. beta two. beta three. beta four. extra tail.")
    assert(b3(300L) == ((5L, 4L, "extra tail.")))
    assert(graft.lake.Snapshots.read(spark, idxDir).count() == 6L)
    // replaying batch 3 (restart semantics) re-emits identically and the
    // registry does not grow — exactly-once across restarts
    val r3 = fold(
      300L -> "beta one. beta two. beta three. beta four. extra tail.")
    assert(r3 == b3)
    assert(graft.lake.Snapshots.read(spark, idxDir).count() == 6L)
  }

  test("UniMax allocation fold: per-batch registry fold equals the " +
      "one-shot waterfill on the union for ANY batching, mid-fold " +
      "allocations match prefix unions, replays are keyed no-ops") {
    import graft.streaming.AllocationFold
    import graft.operators.Sampling
    val rows = (1L to 90L)
      .map(i => (i, Seq("en", "fr", "de")((i % 3).toInt), 50L + i * 7 % 400))
      .toDF("doc_id", "lang", "n_chars")
    def alloc(df: org.apache.spark.sql.DataFrame): List[(String, Long)] =
      Sampling.unimaxAllocate(df, "lang", "n_chars", 9L, 10L, 1L)
        .collect().map(r => (r.getString(0), r.getLong(3))).toList.sorted
    def foldOver(cuts: Seq[org.apache.spark.sql.Column]) = {
      val t = tempDir("unimax_fold").toString
      var last: List[(String, Long)] = Nil
      cuts.zipWithIndex.foreach { case (cut, i) =>
        val out = AllocationFold.unimaxBatch(spark, s"$t/reg",
          rows.filter(cut), s"b$i", "lang", "n_chars", 9L, 10L, 1L)
        last = out.collect().map(r => (r.getString(0), r.getLong(3)))
          .toList.sorted
      }
      (t, last)
    }
    // uneven thirds vs halves: final allocation identical (= one-shot)
    val (t1, cut3) = foldOver(Seq(col("doc_id") <= 10,
      col("doc_id") > 10 && col("doc_id") <= 70, col("doc_id") > 70))
    val (_, cut2) = foldOver(Seq(col("doc_id") % 2 === 0,
      col("doc_id") % 2 =!= 0))
    val oneShot = alloc(rows)
    assert(cut3 == oneShot && cut2 == oneShot,
      "fold must equal the one-shot allocation for any batching")
    // mid-fold check: after batch 1 of the halves fold the allocation
    // equals the one-shot over that prefix alone
    val tMid = tempDir("unimax_mid").toString
    val mid = AllocationFold.unimaxBatch(spark, s"$tMid/reg",
        rows.filter(col("doc_id") <= 40), "b0", "lang", "n_chars",
        9L, 10L, 1L)
      .collect().map(r => (r.getString(0), r.getLong(3))).toList.sorted
    assert(mid == alloc(rows.filter(col("doc_id") <= 40)))
    // replaying the last batch re-upserts the same keyed rows: the
    // registry does not grow and the allocation is unchanged
    val regBefore = graft.lake.Snapshots.read(spark, s"$t1/reg").count()
    val replay = AllocationFold.unimaxBatch(spark, s"$t1/reg",
        rows.filter(col("doc_id") > 70), "b2", "lang", "n_chars",
        9L, 10L, 1L)
      .collect().map(r => (r.getString(0), r.getLong(3))).toList.sorted
    assert(replay == oneShot)
    assert(graft.lake.Snapshots.read(spark, s"$t1/reg").count() == regBefore)
  }

  test("LSH index probe pruning: the two-level layout (bk-clustered keys " +
      "side-table + id-clustered main) reads a bounded file subset for a " +
      "small batch after recluster, and suppression is unchanged") {
    import graft.streaming.DedupIndex
    import graft.lake.Snapshots
    val idxDir =
      tempDir("graft_lsh_probe").toString
    def alpha(i: Long): String = java.lang.Long.toString(i, 26)
      .map(c => if (c.isDigit) ('a' + (c - '0')).toChar else (c + 10).toChar)
    def doc(i: Long): (Long, String) =
      i -> (s"qq${alpha(i)} ww${alpha(i)} ee${alpha(i)} rr${alpha(i)} " +
        s"tt${alpha(i)} yy${alpha(i)} uu${alpha(i)} ii${alpha(i)}")
    DedupIndex.lshDedupBatch(spark, idxDir,
      (0L until 600L).map(doc).toDF("doc_id", "text"))
    Snapshots.recluster(spark, s"$idxDir/keys", Seq("bk"), nFiles = 16)
    Snapshots.recluster(spark, s"$idxDir/main", Seq("doc_id"), nFiles = 16)
    // small batch: one exact duplicate of a registered doc + one novel —
    // 2 docs × 2 band keys probe a 16-file keys table
    val out = DedupIndex.lshDedupBatch(spark, idxDir, Seq(
        1000L -> doc(7L)._2,
        1001L -> "zz fresh aa fresh bb fresh cc fresh dd fresh ee fresh")
      .toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet
    val (kept, total) = DedupIndex.lastProbeFiles.get
    assert(total == 16, s"reclustered keys table should be 16 files, was $total")
    assert(kept <= 4,
      s"a 4-key batch probe must read ≤4 of $total keys files, read $kept")
    assert(out == Set(1001L),
      "the duplicate suppresses via the pruned index; the novel survives")
  }

  test("pack-manifest fold: straddled packs continue offsets across " +
      "batches (including a whole batch inside one pack), fold equals " +
      "one-shot for any batching, replays are keyed no-ops") {
    import graft.streaming.PackFold
    import graft.operators.Curation
    // budget 100; doc weights chosen so pack 0 straddles batches 1 AND 2
    // (batch 2 sits ENTIRELY inside pack 0 — the carry-the-carry case)
    val rows = Seq(
      (1L, "en", 40L), (2L, "en", 30L),   // batch 1: pack 0 (excl 0, 40)
      (3L, "en", 20L),                    // batch 2: pack 0 (excl 70) — whole batch in pack 0
      (4L, "en", 50L), (5L, "en", 60L),   // batch 3: 4 → pack 0 (excl 90); 5 → pack 1 (excl 140)
      (11L, "fr", 100L),                  // fr pack 0 closes exactly at the boundary
      (12L, "fr", 10L))                   // fr pack 1
      .toDF("doc_id", "lang", "n_tokens")
    def oneShot = Curation.packManifest(rows, "doc_id", "n_tokens",
        budget = 100L, partitionCol = "lang", orderCol = "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[String]("boundaries_csv")))).toMap
    def foldOver(cuts: Seq[org.apache.spark.sql.Column]): (String,
        Map[(String, Long), (Long, Long, String)]) = {
      val t = tempDir("pack_fold").toString
      cuts.zipWithIndex.foreach { case (cut, i) =>
        PackFold.packBatch(spark, s"$t/reg", s"$t/contrib",
          rows.filter(cut), s"b$i", "doc_id", "lang", "n_tokens", 100L)
      }
      (t, PackFold.manifest(spark, s"$t/contrib", "lang")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
            r.getAs[String]("boundaries_csv")))).toMap)
    }
    val expect = oneShot
    // en pack 0 = docs 1,2,3,4 (offsets 40,70,90,140); en pack 1 = doc 5
    assert(expect(("en", 0L)) == ((4L, 140L, "40,70,90,140")))
    assert(expect(("en", 1L)) == ((1L, 60L, "60")))
    assert(expect(("fr", 0L)) == ((1L, 100L, "100")))
    assert(expect(("fr", 1L)) == ((1L, 10L, "10")))
    val (t1, threeCuts) = foldOver(Seq(
      col("doc_id") <= 2 || col("doc_id") === 11L,
      col("doc_id") === 3L,
      col("doc_id") >= 4 && col("doc_id") =!= 11L))
    assert(threeCuts == expect, "3-cut fold must equal the one-shot manifest")
    val (_, twoCuts) = foldOver(Seq(
      col("doc_id") <= 3 || col("doc_id") === 11L,
      col("doc_id") > 3 && col("doc_id") =!= 11L))
    assert(twoCuts == expect, "2-cut fold must equal the one-shot manifest")
    // replaying the LAST batch re-writes the same keyed rows: manifest
    // unchanged, contribution table does not grow
    val before = graft.lake.Snapshots.read(spark, s"$t1/contrib").count()
    PackFold.packBatch(spark, s"$t1/reg", s"$t1/contrib",
      rows.filter(col("doc_id") >= 4 && col("doc_id") =!= 11L), "b2",
      "doc_id", "lang", "n_tokens", 100L)
    assert(PackFold.manifest(spark, s"$t1/contrib", "lang")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[String]("boundaries_csv")))).toMap == expect)
    assert(graft.lake.Snapshots.read(spark, s"$t1/contrib").count() == before)
  }

  test("UniMax take fold: per-batch re-derivation from the slim registry " +
      "equals the one-shot take at every prefix (evictions included), " +
      "replay leaves registry and selection unchanged") {
    import graft.streaming.AllocationFold
    import graft.operators.Sampling
    val rows = (1L to 60L)
      .map(i => (i, Seq("en", "fr")((i % 2).toInt), 10L + i % 7))
      .toDF("doc_id", "lang", "n_chars")
    def oneShot(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val a = Sampling.unimaxAllocate(df, "lang", "n_chars", 1L, 2L, 1L)
      Sampling.unimaxTake(df, "doc_id", "lang", "n_chars", a)
        .collect().map(_.getLong(1)).toSet
    }
    val t = tempDir("take_fold").toString
    def fold(cut: org.apache.spark.sql.Column): Set[Long] =
      AllocationFold.unimaxTakeBatch(spark, s"$t/reg", rows.filter(cut),
        "doc_id", "lang", "n_chars", 1L, 2L, 1L)
        .collect().map(_.getLong(1)).toSet
    val sel1 = fold(col("doc_id") <= 20)
    assert(sel1 == oneShot(rows.filter(col("doc_id") <= 20)),
      "mid-fold selection must equal the one-shot take over the prefix")
    val sel2 = fold(col("doc_id") > 20)
    assert(sel2 == oneShot(rows),
      "final selection must equal the one-shot take over the union")
    // the take is GLOBAL: batch 2 must have evicted at least one of
    // batch 1's selections (hash-order cutoffs move as the corpus grows)
    // — if this fixture ever stops evicting, pick different weights
    assert((sel1 -- sel2).nonEmpty,
      s"expected an eviction between prefixes: sel1=$sel1 sel2=$sel2")
    // replay of the last batch: keyed no-op, same selection
    val regBefore = graft.lake.Snapshots.read(spark, s"$t/reg").count()
    assert(fold(col("doc_id") > 20) == sel2)
    assert(graft.lake.Snapshots.read(spark, s"$t/reg").count() == regBefore)
  }

  test("span-registry probe pruning: key-clustered commits + recluster " +
      "let a small batch's zone-map key probe read a bounded file subset " +
      "of the registry — and the fold output is unchanged") {
    import graft.streaming.DedupIndex
    import graft.lake.Snapshots
    val idxDir =
      tempDir("graft_span_probe").toString
    // a large first batch: 600 unique docs × 2 span keys each register
    // 1200 uniform int64 keys
    def doc(i: Long) = i -> s"aa$i bb$i. cc$i dd$i. ee$i ff$i. gg$i hh$i."
    DedupIndex.spanDedupBatch(spark, idxDir,
      (0L until 600L).map(doc).toDF("doc_id", "text"))
    // maintenance: merge per-commit runs into one 16-file sorted layout
    Snapshots.recluster(spark, idxDir, Seq("h"), nFiles = 16)
    // a SMALL batch: one doc repeating a registered doc's spans + one
    // fresh doc — 4 probe keys against a 16-file registry
    val out = DedupIndex.spanDedupBatch(spark, idxDir, Seq(
        1000L -> doc(5L)._2,
        1001L -> "zz fresh. yy fresh. xx fresh. ww fresh.")
      .toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_cut"), r.getAs[String]("text_clean")))).toMap
    val (kept, total) = DedupIndex.lastProbeFiles.get
    assert(total == 16, s"reclustered registry should be 16 files, was $total")
    assert(kept <= 4,
      s"a 4-key batch probe must read ≤4 of $total registry files, read $kept")
    // correctness is untouched by the pruning: the repeated doc cuts
    // fully via the registry, the fresh doc survives untouched
    assert(out(1000L) == ((4L, "")))
    assert(out(1001L) ==
      ((0L, "zz fresh. yy fresh. xx fresh. ww fresh.")))
  }

  test("paragraph-registry probe pruning: the q171 registry reads a " +
      "bounded file subset for a small batch after recluster") {
    import graft.streaming.DedupIndex
    import graft.lake.Snapshots
    val idxDir =
      tempDir("graft_para_probe").toString
    // paragraph keys DIGIT-NORMALIZE (the CCNet recipe), so distinct
    // paragraphs must differ in letters: base-26 alpha ids
    def alpha(i: Long): String = java.lang.Long.toString(i, 26)
      .map(c => if (c.isDigit) ('a' + (c - '0')).toChar else (c + 10).toChar)
    DedupIndex.paragraphDedupBatch(spark, idxDir,
      (0L until 600L).map(i => i -> s"para a ${alpha(i)}\n\npara b ${alpha(i)}")
        .toDF("doc_id", "text"))
    Snapshots.recluster(spark, idxDir, Seq("h"), nFiles = 16)
    val out = DedupIndex.paragraphDedupBatch(spark, idxDir,
        Seq(1000L -> s"para a ${alpha(5L)}\n\nfresh x").toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_kept"), r.getAs[String]("text_clean")))).toMap
    val (kept, total) = DedupIndex.lastProbeFiles.get
    assert(total == 16, s"reclustered registry should be 16 files, was $total")
    assert(kept <= 2,
      s"a 2-key batch probe must read ≤2 of $total registry files, read $kept")
    assert(out(1000L) == ((1L, "fresh x")),
      "registered paragraph cut, fresh paragraph kept")
  }

  test("gopher and C4 batteries are stateless map scans: micro-batch " +
      "output equals the batch run row-for-row, any cut") {
    import graft.operators.Curation
    def keyOf(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")
    val rows = Seq(
      // 32 distinct words + the full stopword set: passes BOTH batteries
      // (mean word length lands exactly on the 3·n boundary)
      (1L, ((1 to 32).map(i => f"w$i%02d") ++
        Seq("the", "and", "that", "have", "with", "of", "be", "to"))
        .mkString(" ")),
      (2L, "# # # # # # # # # #"),                 // symbol/alpha rules fire
      (3L, "ba na ba na ba na"))                   // top-2-gram rule fires
    def both(df: org.apache.spark.sql.DataFrame) =
      (Curation.gopherRules(df, "doc_id", "text", minWords = 5L)
        .collect().map(keyOf).toMap,
        Curation.gopherRepetition(df, "doc_id", "text")
          .collect().map(keyOf).toMap,
        Curation.c4Rules(df, "doc_id", "text")
          .collect().map(keyOf).toMap)
    val (batchQ, batchR, batchC) = both(rows.toDF("doc_id", "text"))
    val gotQ = scala.collection.mutable.Map.empty[Long, Boolean]
    val gotR = scala.collection.mutable.Map.empty[Long, Boolean]
    val gotC = scala.collection.mutable.Map.empty[Long, Boolean]
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val (mq, mr, mc) = both(b)
          gotQ ++= mq; gotR ++= mr; gotC ++= mc
          ()
      }.start()
    input.addData(rows(0)); q.processAllAvailable()
    input.addData(rows(1), rows(2)); q.processAllAvailable()
    q.stop()
    assert(gotQ.toMap == batchQ, "quality battery is cut-independent")
    assert(gotR.toMap == batchR, "repetition battery is cut-independent")
    assert(gotC.toMap == batchC, "C4 battery is cut-independent")
    // sanity: the fixtures exercise both outcomes
    assert(batchQ(1L) && !batchQ(2L) && batchR(1L) && !batchR(3L))
    // the punctuation-free fixtures all fail C4's min-sentences page rule
    assert(batchC.values.forall(v => !v))
  }

  test("count-min cells accumulate across micro-batches; folded sketch equals batch sketch") {
    import graft.operators.CountMin
    val d = 4
    val m = 256
    val input = MemoryStream[String](spark)
    // the sketch's streaming claim made literal: every occurrence feeds
    // its d cells, ONE complete-mode aggregation keeps the running sums —
    // d×m bounded state no matter the stream length (the exact-count form
    // would chain two aggregations, which streaming forbids)
    val cells = CountMin.countersFromOccurrences(
      input.toDF().toDF("term"), "term", d, m)
    val q = cells.writeStream.format("memory").queryName("cm_sink")
      .outputMode("complete").start()
    val batches = Seq(
      Seq("a", "b", "a", "c"),
      Seq("a", "c", "c", "d"),
      Seq("a", "a", "b", "e"))
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("cm_sink")
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    // one-shot batch sketch over the union must be cell-identical, via
    // BOTH construction forms (occurrence-fed ≡ exact-count-fed)
    def cellMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    val all = batches.flatten.toDF("term")
    val oneShot = cellMap(CountMin.countersFromOccurrences(all, "term", d, m))
    assert(streamed == oneShot)
    assert(oneShot == cellMap(CountMin.counters(
      all.groupBy(col("term")).agg(count(lit(1)).as("cnt")),
      "term", "cnt", d, m)))
    // and the estimate read off the folded cells is the exact count
    val est = CountMin.estimate(
      spark.table("cm_sink").select(col("r"), col("bucket"), col("cell")),
      Seq("a").toDF("term"), "term", d, m)
      .collect().head.getLong(1)
    assert(est == 5L)
  }

  test("KLL quantile sketch folds across micro-batches under one complete-mode aggregation") {
    import graft.operators.QuantileSketch
    val input = MemoryStream[Double](spark)
    // same streaming claim as count-min: the sketch state is the
    // aggregation buffer, so a complete-mode groupBy keeps ONE few-KB KLL
    // per group no matter the stream length — no per-value state
    val q = input.toDF().toDF("v")
      .agg(QuantileSketch.quantilesAgg(col("v"), Seq(0.5)).as("qs"))
      .select(element_at(col("qs"), 1).as("p50"))
      .writeStream.format("memory").queryName("kll_sink")
      .outputMode("complete").start()
    val rnd = new scala.util.Random(3)
    val batches = Seq.fill(3)(Array.fill(5000)(rnd.nextDouble() * 1000))
    batches.foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
    q.stop()
    val streamedP50 = spark.table("kll_sink").collect().head.getDouble(0)
    // streamed estimate must satisfy the same rank bound as one-shot
    val all = batches.flatten.sorted
    val rank = all.count(_ <= streamedP50).toDouble / all.length
    assert(math.abs(rank - 0.5) < 0.03, s"p50=$streamedP50 rank=$rank")
  }

  test("HLL distinct sketch folds across micro-batches to the batch answer") {
    import graft.operators.Hll
    val input = MemoryStream[Long](spark)
    // third sketch of the family under the same streaming claim: the 4 KB
    // register array is the aggregation buffer, register-wise max across
    // micro-batches — overlapping ids across batches must not double-count
    val q = input.toDF().toDF("v")
      .agg(Hll.approxDistinct(col("v")).as("est"))
      .writeStream.format("memory").queryName("hll_sink")
      .outputMode("complete").start()
    // 3 overlapping batches covering 0..14999 with heavy re-delivery
    Seq(0L until 8000L, 4000L until 12000L, 8000L until 15000L).foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val est = spark.table("hll_sink").collect().head.getDouble(0)
    assert(math.abs(est - 15000) <= 0.05 * 15000, s"est=$est")
    // and the streamed fold equals the one-shot batch sketch exactly
    val oneShot = spark.range(0, 15000)
      .agg(Hll.approxDistinct(col("id"))).collect().head.getDouble(0)
    assert(est == oneShot)
  }

  test("streaming funnel replays to the batch q122 answer on ts-ordered batches") {
    import graft.streaming.Funnel
    val dir = "/root/testdata/sf0.001"
    // batch truth: the q122 earliest-greedy funnel over the same events
    val batch = SparkEntry.queries("q122_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .as[Funnel.Event].collect().sortBy(_.ts.getTime)
    val input = MemoryStream[Funnel.Event](spark)
    val q = Funnel.track(spark, input.toDF().as[Funnel.Event],
        Seq("view", "click", "purchase"), windowUs = 3L * 86400 * 1000000)
      .writeStream.format("memory").queryName("funnel_sink")
      .outputMode("append").start()
    evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    // last snapshot per user (the sink upserts by user)
    val streamed = spark.table("funnel_sink")
      .withColumn("__seq", monotonically_increasing_id())
      .orderBy(col("__seq"))
      .collect()
      .foldLeft(Map.empty[Long, (Long, Boolean)]) { (m, r) =>
        m.updated(r.getLong(0), (r.getLong(1), r.getBoolean(2)))
      }
    assert(streamed == batch,
      s"streamed ${streamed.size} users vs batch ${batch.size}")
  }

  test("streaming sigma correlations replay to the batch answer on " +
      "ts-ordered batches") {
    import graft.config.SigmaRules
    import graft.streaming.SigmaStream
    import java.sql.Timestamp
    val dir = "/root/testdata/sf0.001"
    val rules = SigmaRules.loadAll(
      """title: error_events
        |detection:
        |  sel: {event_type: error}
        |  condition: sel
        |---
        |title: any_event
        |detection:
        |  sel:
        |    event_type: [view, click, purchase, error]
        |  condition: sel
        |---
        |title: saw_view
        |detection:
        |  sel: {event_type: view}
        |  condition: sel
        |---
        |title: saw_click
        |detection:
        |  sel: {event_type: click}
        |  condition: sel
        |---
        |title: saw_purchase
        |detection:
        |  sel: {event_type: purchase}
        |  condition: sel
        |""".stripMargin)
    // all four correlation forms, q142/q144's shapes
    val corrs = Seq(
      """title: error_burst_by_user
        |correlation:
        |  type: event_count
        |  rules: [error_events]
        |  group-by: [user_id]
        |  timeframe: 1d
        |  condition:
        |    gte: 3
        |""",
      """title: type_spread_by_user
        |correlation:
        |  type: value_count
        |  rules: [any_event]
        |  group-by: [user_id]
        |  timeframe: 1d
        |  condition:
        |    gte: 3
        |    field: event_type
        |""",
      """title: view_and_purchase
        |correlation:
        |  type: temporal
        |  rules: [saw_view, saw_purchase]
        |  group-by: [user_id]
        |  timeframe: 1d
        |""",
      """title: view_then_click
        |correlation:
        |  type: temporal_ordered
        |  rules: [saw_view, saw_click]
        |  group-by: [user_id]
        |  timeframe: 1d
        |""").map(y => SigmaRules.loadCorrelation(y.stripMargin)) :+
      // the near() proximity form (pre-resolved predicates, no group-by)
      // streams through the same machinery: view near purchase with no
      // error in the window
      SigmaRules.load(
        """title: view_near_purchase_quiet
          |detection:
          |  recon: {event_type: view}
          |  exfil: {event_type: purchase}
          |  noisy: {event_type: error}
          |  condition: recon | near exfil and not noisy
          |timeframe: 1d
          |""".stripMargin).correlation.get
    val evTable = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val sorted = evTable.as[(Long, String, Timestamp)]
      .collect().sortBy(_._3.getTime)
    val maxTs = sorted.last._3.getTime
    corrs.zipWithIndex.foreach { case (corr, idx) =>
      val input = MemoryStream[(Long, String, Timestamp)](spark)
      val sdf = input.toDF().toDF("user_id", "event_type", "ts")
      val q = SigmaStream.correlationStream(sdf, rules, corr, "ts")
        .writeStream.format("memory").queryName(s"sigma_corr_$idx")
        .outputMode("append").start()
      sorted.grouped(math.max(1, sorted.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
      }
      // two no-op sentinels past every window end: the first advances the
      // watermark (post-batch), the second triggers the timeout sweep
      input.addData((0L, "noop", new Timestamp(maxTs + 3L * 86400 * 1000)))
      q.processAllAvailable()
      input.addData((0L, "noop", new Timestamp(maxTs + 4L * 86400 * 1000)))
      q.processAllAvailable()
      input.addData((0L, "noop", new Timestamp(maxTs + 5L * 86400 * 1000)))
      q.processAllAvailable()
      q.stop()
      // generic canonical form: every column stringified (group keys
      // render as strings on the streaming side by contract)
      def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] = {
        val cols = (Seq(col("rule_name")) ++
          corr.groupBy.map(c => col(c).cast("string")) ++
          Seq(col("window_start").cast("string"), col("n").cast("string")))
        df.select(cols: _*).collect()
          .map(_.toSeq.map(String.valueOf)).toSet
      }
      val streamed = canon(spark.table(s"sigma_corr_$idx"))
      val batch = canon(SigmaRules.correlationMatches(evTable, rules, corr))
      assert(streamed == batch,
        s"${corr.title}: streamed ${streamed.size} vs batch ${batch.size}")
    }
  }

  test("sigma value_count state degrades to bounded HLL registers past " +
      "the cap; estimate matches the batch sketch; under-cap stays exact") {
    import graft.config.SigmaRules
    import graft.streaming.SigmaStream
    import graft.operators.Hll
    import java.sql.Timestamp
    // --- fold-level bound: 1000 distinct hashes under cap 100 collapse
    // to one fixed 2^p-byte register buffer, and stay there
    val eval = SigmaStream.CorrEval("value_count", "gte", 500L,
      valueCap = 100, hllP = 12)
    def ev(h: Long) = SigmaStream.CorrEvent(Seq("g"), 0L, 1L, h,
      new Timestamp(0L))
    val st0 = SigmaStream.CorrState(0L, Set.empty, 0L, Nil, null)
    val batch1 = (1L to 1000L).map(i => ev(i * 0x9E3779B97F4A7C15L))
    val st1 = SigmaStream.fold(eval, 1, st0, batch1)
    assert(st1.values.isEmpty && st1.regs != null && st1.regs.length == 4096)
    val batch2 = (1001L to 5000L).map(i => ev(i * 0x9E3779B97F4A7C15L))
    val st2 = SigmaStream.fold(eval, 1, st1, batch2)
    assert(st2.values.isEmpty && st2.regs.length == 4096,
      "degraded state must stay at the fixed register size")
    // under the cap the set is exact and small
    val stSmall = SigmaStream.fold(eval, 1, st0, batch1.take(50))
    assert(stSmall.regs == null && stSmall.values.size == 50)
    assert(SigmaStream.verdict(eval, 1, stSmall).isEmpty) // 50 < 500
    // --- end-to-end: the degraded window emits estimated=true with n
    // equal to the batch HLL estimate of the same values, bit for bit;
    // an under-cap group in the SAME stream stays exact+unflagged
    val rules = SigmaRules.loadAll(
      """title: any_ev
        |detection:
        |  sel: {event_type: e}
        |  condition: sel
        |""".stripMargin)
    val corr = SigmaRules.loadCorrelation(
      """title: many_values
        |correlation:
        |  type: value_count
        |  rules: [any_ev]
        |  group-by: [user_id]
        |  timeframe: 1d
        |  condition:
        |    gte: 5
        |    field: v
        |""".stripMargin)
    // user 1: 800 distinct values (cap 100 → degraded); user 2: 7 distinct
    val t0 = 1700000000L
    val rows = (1 to 800).map(i => (1L, "e", s"val_$i",
        new Timestamp((t0 + i) * 1000L))) ++
      (1 to 7).map(i => (2L, "e", s"val_$i", new Timestamp((t0 + i) * 1000L)))
    val input = MemoryStream[(Long, String, String, Timestamp)](spark)
    val sdf = input.toDF().toDF("user_id", "event_type", "v", "ts")
    val q = SigmaStream.correlationStream(sdf, rules, corr, "ts",
        valueCap = 100)
      .writeStream.format("memory").queryName("sigma_vc_cap")
      .outputMode("append").start()
    input.addData(rows: _*); q.processAllAvailable()
    input.addData((9L, "noop", "x", new Timestamp((t0 + 3 * 86400) * 1000L)))
    q.processAllAvailable()
    input.addData((9L, "noop", "x", new Timestamp((t0 + 4 * 86400) * 1000L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sigma_vc_cap")
      .collect().map(r => r.getString(1) ->
        (r.getLong(3), r.getBoolean(4))).toMap
    // batch-side sketch of user 1's values — the stream's degraded
    // estimate must equal it exactly (same hash, registers, constants)
    val expected = math.rint(
      (1 to 800).map(i => Tuple1(s"val_$i")).toDF("v")
        .agg(Hll.approxDistinct(col("v"))).head.getDouble(0)).toLong
    assert(got("1") == ((expected, true)),
      s"degraded window must carry the batch-sketch estimate: $got")
    assert(got("2") == ((7L, false)), s"under-cap window stays exact: $got")
  }

  test("streaming near() proximity: replay parity with the batch form; " +
      "boundary-straddling pairs fire; state horizon closes on timeout") {
    import graft.config.SigmaRules
    import graft.streaming.ProximityStream
    import java.sql.Timestamp
    // the q158 configuration over the real events table: purchase base,
    // view within ±600 s required, click within ±600 s vetoes, per user
    val dir = "/root/testdata/sf0.001"
    val evTable = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val batch = SigmaRules.nearProximityMatches(evTable,
        base = col("event_type") === "purchase",
        positives = Seq(col("event_type") === "view"),
        negatives = Seq(col("event_type") === "click"),
        timeframeSeconds = 600L, groupBy = Seq("user_id"))
      .select(col("event_id")).as[Long].collect().toSet
    val sorted = evTable.as[(Long, Long, String, Timestamp)]
      .collect().sortBy(_._4.getTime)
    val maxTs = sorted.last._4.getTime
    val input = MemoryStream[(Long, Long, String, Timestamp)](spark)
    val sdf = input.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val q = ProximityStream.nearProximityStream(sdf,
        base = col("event_type") === "purchase",
        positives = Seq(col("event_type") === "view"),
        negatives = Seq(col("event_type") === "click"),
        timeframeSeconds = 600L, groupBy = Seq("user_id"),
        idCol = "event_id", tsCol = "ts")
      .writeStream.format("memory").queryName("px_stream")
      .outputMode("append").start()
    sorted.grouped(math.max(1, sorted.length / 3 + 1)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    // two sentinels past every horizon: advance the watermark, then
    // trigger the timeout sweep (the sigma-stream convention)
    input.addData((0L, 0L, "noop", new Timestamp(maxTs + 3600 * 1000L)))
    q.processAllAvailable()
    input.addData((0L, 0L, "noop", new Timestamp(maxTs + 7200 * 1000L)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("px_stream")
      .select(col("id")).as[Long].collect().toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}")
    // hand fixture: a view/purchase pair straddling a tumbling-day
    // boundary, 120 s apart — the proximity stream fires where the
    // tumbling near() would not; a click in radius vetoes
    def t(day: Int, hm: String) = new Timestamp(
      java.time.Instant.parse(f"2024-02-$day%02dT$hm:00Z").toEpochMilli)
    val in2 = MemoryStream[(Long, Long, String, Timestamp)](spark)
    val sdf2 = in2.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val q2 = ProximityStream.nearProximityStream(sdf2,
        base = col("event_type") === "purchase",
        positives = Seq(col("event_type") === "view"),
        negatives = Seq(col("event_type") === "click"),
        timeframeSeconds = 600L, groupBy = Seq("user_id"),
        idCol = "event_id", tsCol = "ts")
      .writeStream.format("memory").queryName("px_straddle")
      .outputMode("append").start()
    in2.addData(
      (10L, 1L, "view", t(1, "23:59")),
      (11L, 1L, "purchase", t(2, "00:01")),
      (20L, 2L, "purchase", t(3, "12:05")),
      (21L, 2L, "view", t(3, "12:00")),
      (22L, 2L, "click", t(3, "12:08")))
    q2.processAllAvailable()
    in2.addData((0L, 9L, "noop", t(4, "00:00"))); q2.processAllAvailable()
    in2.addData((0L, 9L, "noop", t(5, "00:00"))); q2.processAllAvailable()
    q2.stop()
    val got2 = spark.table("px_straddle")
      .select(col("id")).as[Long].collect().toSet
    assert(got2 == Set(11L), s"straddle fires, veto holds: $got2")
  }

  test("streaming near() proximity: a fold inside a pending base's open " +
      "horizon must not prune its evidence or its veto") {
    import graft.streaming.ProximityStream
    import java.sql.Timestamp
    // tf = 600 s, delay = 0. Batch 1 parks two pending bases:
    //   user 1: view@1000 (evidence), purchase@1500  → must FIRE
    //   user 2: click@1000 (veto), view@1450, purchase@1500 → must NOT fire
    // Batch 2 moves the watermark to 1500; batch 3 (wm = 2000, inside both
    // bases' open horizons ending 2100) folds both groups via an
    // out-of-window view@2150. A floor of wm − tf = 1400 would prune
    // user 1's evidence (dropping a true match) and user 2's veto
    // (raising a false one); the pending-aware floor keeps both.
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val in3 = MemoryStream[(Long, Long, String, Timestamp)](spark)
    val sdf3 = in3.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val q3 = ProximityStream.nearProximityStream(sdf3,
        base = col("event_type") === "purchase",
        positives = Seq(col("event_type") === "view"),
        negatives = Seq(col("event_type") === "click"),
        timeframeSeconds = 600L, groupBy = Seq("user_id"),
        idCol = "event_id", tsCol = "ts")
      .writeStream.format("memory").queryName("px_pending_prune")
      .outputMode("append").start()
    in3.addData(
      (10L, 1L, "view", ts(1000)), (11L, 1L, "purchase", ts(1500)),
      (20L, 2L, "click", ts(1000)), (21L, 2L, "view", ts(1450)),
      (22L, 2L, "purchase", ts(1500)))
    q3.processAllAvailable()
    // watermark → 1500 (no fold for users 1/2: no data, horizons open)
    in3.addData((0L, 9L, "view", ts(2000))); q3.processAllAvailable()
    // wm = 2000 during this batch: both groups fold with bases pending
    in3.addData((30L, 1L, "view", ts(2150)), (31L, 2L, "view", ts(2150)))
    q3.processAllAvailable()
    // close every horizon, then sweep timeouts
    in3.addData((0L, 9L, "view", ts(4000))); q3.processAllAvailable()
    in3.addData((0L, 9L, "view", ts(8000))); q3.processAllAvailable()
    q3.stop()
    val got3 = spark.table("px_pending_prune")
      .select(col("id")).as[Long].collect().toSet
    assert(got3 == Set(11L),
      s"pending base keeps its evidence and its veto across folds: $got3")
  }

  test("streaming funnel: late cross-batch events never corrupt locked stages") {
    import graft.streaming.Funnel
    import java.sql.Timestamp
    def ev(u: Long, t: String, sec: Long) =
      Funnel.Event(u, t, new Timestamp(sec * 1000L))
    val input = MemoryStream[Funnel.Event](spark)
    val q = Funnel.track(spark, input.toDF().as[Funnel.Event],
        Seq("view", "click", "purchase"), windowUs = 3600L * 1000000)
      .writeStream.format("memory").queryName("funnel_late_sink")
      .outputMode("append").start()
    // batch 1 locks t1=100, t2=200
    input.addData(ev(1, "view", 100), ev(1, "click", 200))
    q.processAllAvailable()
    // batch 2 is LATE: an earlier view (50) and an earlier click (150).
    // Contract: locked stages never re-open — no snapshot is emitted
    // (state unchanged), and a later purchase still completes off t1=100.
    input.addData(ev(1, "view", 50), ev(1, "click", 150))
    q.processAllAvailable()
    val afterLate = spark.table("funnel_late_sink").count()
    input.addData(ev(1, "purchase", 300))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("funnel_late_sink")
      .collect().map(r => (r.getLong(1), r.getBoolean(2))).toSeq
    assert(afterLate == 1, "late batch must not emit a new snapshot")
    assert(rows == Seq((2L, false), (3L, true)),
      s"stages advance monotonically and completion uses the locked t1: $rows")
  }

  test("streaming enrichment refresh: an update is visible to the next batch") {
    import graft.operators.Enrichment
    val dir = tempDir("graft_enrich").toString
    Seq(("u1", "low")).toDF("user_id", "risk")
      .write.mode("overwrite").parquet(dir)
    // staleness 0 → every batch re-resolves (the reference's ~1 min rule,
    // shrunk so the test doesn't sleep)
    val refresher = new Enrichment.RefreshingTable(dir, stalenessMs = 0L)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val body = Enrichment.enrichedForeachBatch(
      refresher, col("user_id"), "user_id", "enr") { out =>
      seen ++= out.select(col("v"), col("enr.risk"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }
    val input = MemoryStream[(String, Long)](spark)
    val q = input.toDF().toDF("user_id", "v")
      .writeStream.foreachBatch(body).outputMode("append").start()
    input.addData(("u1", 1L))
    q.processAllAvailable()
    // enrichment table upserted between batches
    Seq(("u1", "high")).toDF("user_id", "risk")
      .write.mode("overwrite").parquet(dir)
    input.addData(("u1", 2L))
    q.processAllAvailable()
    q.stop()
    assert(seen.sortBy(_._1).toList == List((1L, "low"), (2L, "high")))
  }

  test("streaming drift monitor: per-micro-batch TV drift equals the batch form") {
    import graft.operators.Drift
    // frozen reference: 60% a / 40% b
    val refCnt = Seq(("a", 60L), ("b", 40L)).toDF("key", "r")
    val input = MemoryStream[String](spark)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = input.toDF().toDF("key").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // the q137 shape per micro-batch: aggregate the batch, score it
        // against the SAME frozen reference rows
        val counts = batch.groupBy(col("key"))
          .agg(count(lit(1)).as("c"))
          .withColumn("g", lit(id))
        val row = Drift.tvScaled(counts, "g", "key", "c", refCnt, "r")
          .collect()
        seen.synchronized {
          // drift_scaled is DECIMAL(38,0) (overflow-proof at corpus scale)
          seen ++= row.map(r =>
            (r.getLong(0), r.getLong(1), r.getDecimal(2).longValueExact))
        }
        ()
      }.start()
    val batches = Seq(
      Seq("a", "a", "a", "b", "b"),       // 60/40 — zero drift
      Seq("b", "b", "b", "b", "a"),       // 20/80 — heavy drift
      Seq("a", "a", "c", "c", "c", "c"))  // unseen key dominates
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = seen.sortBy(_._1).toList
    // batch-form recomputation over the same slices must match exactly
    val expect = batches.zipWithIndex.map { case (b, i) =>
      val counts = b.toDF("key").groupBy(col("key"))
        .agg(count(lit(1)).as("c")).withColumn("g", lit(i.toLong))
      val r = Drift.tvScaled(counts, "g", "key", "c", refCnt, "r").collect().head
      (r.getLong(0), r.getLong(1), r.getDecimal(2).longValueExact)
    }.toList
    assert(got == expect)
    // hand-check: batch 0 is the reference mix exactly → drift 0;
    // batch 2: Σ|c·100 − r·6| = |2·100−60·6| + |0·100−40·6| + |4·100−0·6|
    assert(got(0)._3 == 0L)
    assert(got(2)._3 == 160L + 240L + 400L)
  }

  test("ecs master schema composes table schemas for managed sources") {
    val dns = graft.schema.EcsSchema.tableSchema(
      Seq("dns", "source.ip", "source.port", "destination", "network.transport",
        "event", "related"))
    assert(dns.fieldNames.head == "ts")
    assert(dns("dns").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("question"))
    val src = dns("source").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(src.fieldNames.toSet == Set("ip", "port"))
    // the zeek transform's output resolves onto it without sidelining
    val line =
      """{"ts":1658256000.1,"uid":"C1","id.orig_h":"10.0.0.5","id.orig_p":1,"id.resp_h":"8.8.8.8",
        |"id.resp_p":53,"proto":"udp","query":"example.com","qclass_name":"C_INTERNET",
        |"qtype_name":"A","rcode_name":"NOERROR","answers":["1.2.3.4"],"TTLs":[1.0],"rejected":false}"""
        .stripMargin.replace("\n", "")
    val out = graft.transform.managed.ZeekDns(
      graft.sources.Framing.preTransformJsonParse(Seq(line).toDF("message")))
    val r = graft.schema.SchemaResolver.resolve(out, dns)
    assert(r.sidelined.isEmpty)
    assert(r.resolved.select("dns.question.name").head.getString(0) == "example.com")
  }
}
