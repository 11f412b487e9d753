package graft

import graft.lake.Snapshots
import graft.operators.WebCuration
import org.apache.spark.sql.functions._

/** The composed web-curation pipeline's stage-boundary corners: one
  * handcrafted document killed (or rewritten) by EACH stage, one clean
  * document surviving all ten — the spec half of the q199 gate.
  */
class WebCurationSpec extends SparkSpec {
  import spark.implicits._

  /** 9 six-word sentences of doc-unique words, with five function words
    * spread one-per-sentence (en ratio 5/54 ≈ 0.093 ≥ the 0.08 langid
    * threshold; ≥2 Gopher stopwords; 54 words ≥ the 50-word floor).
    */
  private def baseSents(tag: String, fw: Seq[String]): Seq[String] =
    (0 until 9).map { s =>
      val ws = Array.tabulate(6)(j => s"${tag}w${s}x$j")
      if (s < fw.size) ws(3) = fw(s)
      ws.mkString(" ") + "."
    }

  private val en = Seq("the", "a", "of", "to", "and")
  private val es = Seq("el", "la", "de", "que", "y")

  test("each stage kills (or rewrites) its designated doc; the clean doc " +
      "survives all ten stages; ledger attrition matches") {
    val d1 = baseSents("one", en).mkString(" ")
    val docs = Seq(
      // 1: clean — survives every stage untouched (also HTML-wrapped, so
      // the hygiene stage has a real rewrite on the survivor path)
      (1L, "en", "<div class=\"wrap\"><p>" + d1 +
        "</p> &amp; <b>tail.</b></div>"),
      // 2: blocked registrable domain → killed at url_filter
      (2L, "en", baseSents("two", en).mkString(" ") +
        " see http://spam.example.net/x now."),
      // 3: Spanish function words → predicted es, killed at langid
      (3L, "es", baseSents("tre", es).mkString(" ")),
      // 4: symbol burst → killed at gopher_quality (10·n_symbols > words)
      (4L, "en", baseSents("for", en).mkString(" ") +
        " " + "#" * 30 + " x."),
      // 5: repeated bigram burst → killed at gopher_repetition (nine
      // function words: the 25-token splice must not dilute the en
      // ratio below the langid threshold)
      (5L, "en", baseSents("fiv",
        en ++ Seq("in", "is", "on", "for")).mkString(" ") +
        " " + Seq.fill(12)("repeat me").mkString(" ") + " then stop."),
      // 6: lorem ipsum → killed at c4_rules (page rule)
      (6L, "en", baseSents("six", en).mkString(" ") +
        " lorem ipsum dolor sit amet."),
      // 7+8: shared footer line (digits differ, normalization erases
      // them) → doc 7 keeps it, doc 8 loses it at paragraph_dedup
      (7L, "en", baseSents("sev", en).mkString(" ") +
        "\nshared footer 7 all rights reserved today."),
      (8L, "en", baseSents("eig", en).mkString(" ") +
        "\nshared footer 8 all rights reserved today."),
      // 9: doc 1's sentences in REVERSE order — no shared 3-sentence
      // span (span dedup leaves it alone) but shingle Jaccard 0.74 and
      // both LSH bands collide → suppressed at near_dup (doc 1 wins)
      (9L, "en", baseSents("one", en).reverse.mkString(" ")),
      // 10: phone numbers → rewritten (not killed) at pii_redact
      (10L, "en", baseSents("ten", en).mkString(" ") +
        " contact agent 555-123-4567 now.")
    ).toDF("doc_id", "lang", "text")

    val t = tempDir("web_curation_spec").toString
    WebCuration.run(spark, docs, t,
      suffixes = Seq("com", "net", "org", "co.uk"),
      blockedDomains = Seq("example.net"),
      blockedSubstrings = Seq("casino"))

    def ids(k: Int): Set[Long] =
      Snapshots.read(spark, s"$t/s$k").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    def text(k: Int, id: Long): String =
      Snapshots.read(spark, s"$t/s$k").filter(col("doc_id") === id)
        .select("text").head.getString(0)

    assert(ids(0) == (1L to 10L).toSet)
    assert(ids(1) == (1L to 10L).toSet - 2L, "url_filter kills doc 2")
    assert(ids(2) == ids(1), "html_clean rewrites, never kills")
    assert(text(2, 1L) == d1 + " & tail.", "tags stripped, entity unescaped")
    assert(ids(3) == ids(2) - 3L, "langid kills the es doc")
    assert(ids(4) == ids(3) - 4L, "gopher_quality kills the symbol doc")
    assert(ids(5) == ids(4) - 5L, "gopher_repetition kills the bigram doc")
    assert(ids(6) == ids(5) - 6L, "c4_rules kills the lorem doc")
    assert(ids(7) == ids(6), "paragraph_dedup rewrites, never kills")
    assert(text(7, 7L).contains("shared footer"),
      "first footer occurrence survives")
    assert(!text(7, 8L).contains("shared footer"),
      "later footer occurrence is cut")
    assert(ids(8) == ids(7), "span_dedup keeps every sentence-bearing doc")
    assert(ids(9) == ids(8) - 9L,
      "near_dup suppresses the reversed near-duplicate, canonical 1 wins")
    assert(ids(10) == ids(9), "pii_redact rewrites, never kills")
    assert(text(10, 10L).contains("<PHONE>") &&
      !text(10, 10L).contains("555-123-4567"))
    assert(ids(10).contains(1L), "the clean doc survives all ten stages")
    assert(text(10, 1L) == d1 + " & tail.",
      "the survivor's text is untouched past the hygiene stage")

    val ledger = WebCuration.ledger(spark, t)
      .orderBy("stage_id").collect()
    assert(ledger.map(_.getAs[Long]("n_kept")).toSeq ==
      Seq(10L, 9L, 9L, 8L, 7L, 6L, 5L, 5L, 5L, 4L, 4L))
    assert(ledger.map(_.getAs[Long]("n_in")).toSeq ==
      Seq(10L, 10L, 9L, 9L, 8L, 7L, 6L, 5L, 5L, 5L, 4L))
  }

  test("incremental runBatch: cross-batch paragraph cut and near-dup " +
      "suppression via the registries, replay is a keyed no-op, final " +
      "kept table equals the one-shot outcome") {
    val d1 = baseSents("one", en).mkString(" ")
    // the one-shot spec's docs 1/7/8/9/10 (the survivors + the footer
    // pair + the reversed near-dup), split so every registry stage has
    // a CROSS-batch case: batch 1 = ids ≤ 7 (footer winner 7, canonical
    // 1), batch 2 = ids ≥ 8 (doc 8's footer must be cut via the
    // paragraph REGISTRY, doc 9 suppressed via the LSH INDEX)
    val docs = Seq(
      (1L, "en", d1),
      (7L, "en", baseSents("sev", en).mkString(" ") +
        "\nshared footer 7 all rights reserved today."),
      (8L, "en", baseSents("eig", en).mkString(" ") +
        "\nshared footer 8 all rights reserved today."),
      (9L, "en", baseSents("one", en).reverse.mkString(" ")),
      (10L, "en", baseSents("ten", en).mkString(" ") +
        " contact agent 555-123-4567 now.")
    ).toDF("doc_id", "lang", "text")
    val t = tempDir("web_curation_fold_spec").toString
    def batch(cut: org.apache.spark.sql.Column): Unit =
      WebCuration.runBatch(spark, docs.filter(cut), t,
        suffixes = Seq("com", "net", "org", "co.uk"),
        blockedDomains = Seq("example.net"),
        blockedSubstrings = Seq("casino"))
    batch(col("doc_id") <= 7L)
    batch(col("doc_id") >= 8L)
    def kept: Map[Long, String] =
      Snapshots.read(spark, s"$t/kept").select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val k = kept
    assert(k.keySet == Set(1L, 7L, 8L, 10L),
      "doc 9 suppressed cross-batch by the LSH index (near-dup of 1)")
    assert(k(7L).contains("shared footer"),
      "batch-1 footer occurrence wins")
    assert(!k(8L).contains("shared footer"),
      "batch-2 footer cut via the paragraph registry, not a rescan")
    assert(k(10L).contains("<PHONE>"))
    assert(k(1L) == d1, "the clean doc's text unchanged end to end")
    // replay of batch 2: registries drop the batch's own registrations
    // first, resolution repeats exactly, mergeUpsert is a keyed no-op
    batch(col("doc_id") >= 8L)
    assert(kept == k, "replay must not change the kept table")
  }
}
