package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.obs.JobStats
import graft.util.Artifacts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling probe for the dedup/ANN query family: synthesize a
  * documents/embeddings corpus `factor`× the base scale factor's —
  * matching its observed shape (31-word vocabulary, 10–100-word uniform
  * lengths, 5-language/20-source distributions, 64-dim float embeddings)
  * — then sweep the family on base vs scaled, reporting wall time, the
  * wall-time ratio vs the ideal `factor`, and the max single-task time
  * (the skew/straggler signal: if caps hold, max-task must stay bounded
  * while total work grows).
  *
  * {{{ runMain graft.tools.Scale [baseDir] [factor] }}}
  *
  * Everything is generated with codegen'd expressions (range → transform
  * over xxhash64 draws) — deterministic, no driver-side loops, so the 10×
  * corpus itself materializes at cluster speed.
  *
  * The scaled corpus and every per-run lake the family stages are
  * [[graft.util.Artifacts.scratch]] dirs, deleted when the JVM exits.
  */
object Scale {

  /** The base tables' own vocabulary (documents.parquet at any sf). */
  val Vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  def genDocuments(spark: SparkSession, n: Long): DataFrame = {
    val vocabArr = array(Vocab.map(lit): _*)
    val len = lit(10L) + pmod(col("id") * 7919L, lit(91L)) // 10..100 words
    val text = concat_ws(" ", transform(sequence(lit(1L), len),
      j => element_at(vocabArr, (pmod(xxhash64(col("id"), j), lit(31L)) + 1L).cast("int"))))
    val b = pmod(xxhash64(col("doc_id") + 1000000L), lit(20L))
    spark.range(n).select(col("id").as("doc_id"), text.as("text"))
      .withColumn("lang",
        when(b < 8, "en").when(b < 11, "zh").when(b < 14, "es")
          .when(b < 17, "de").otherwise("fr"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20L))))
      .withColumn("n_chars", length(col("text")))
  }

  /** Events matching the base table's observed shape (30-day uniform ts,
    * 5 event types, ~560 value range, user-keyed): at `factor`×, BOTH the
    * event count and the user cardinality scale — the alert fold's state
    * grows in KEYS (more users), not in per-key match counts, which is
    * how a real deployment scales.
    */
  def genEvents(spark: SparkSession, n: Long, users: Long): DataFrame = {
    val types = array(Seq("click", "view", "signup", "purchase", "error").map(lit): _*)
    spark.range(n).select(
      col("id").as("event_id"),
      expr("timestampadd(SECOND, CAST(pmod(xxhash64(id), 2592000) AS INT), " +
        "TIMESTAMP '2024-01-01 00:00:00')").as("ts"),
      pmod(xxhash64(col("id"), lit(1)), lit(users)).as("user_id"),
      element_at(types, (pmod(xxhash64(col("id"), lit(2)), lit(5)) + 1).cast("int"))
        .as("event_type"),
      (pmod(xxhash64(col("id"), lit(3)), lit(56022L)).cast("double") / 100.0)
        .as("value"),
      concat(lit("{\"k\": "), pmod(xxhash64(col("id"), lit(4)), lit(100L)),
        lit("}")).as("props"))
  }

  def genEmbeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        j => ((pmod(xxhash64(col("id"), j), lit(2001L)) - 1000L).cast("double") / 2500.0)
          .cast("float")).as("embedding"),
      pmod(col("id"), lit(10L)).cast("int").as("label"))

  /** The queries whose plans must survive a corpus 10× (and by extension
    * 100×) the verified scale: dedup family + ANN + decontamination.
    * q50/q55 ship under the gate in their UNCAPPED oracle-exhaustive form
    * (within-bucket all-pairs is definitionally quadratic — DuckDB must
    * reproduce every pair); the `_capped` rows here are the production
    * configuration (`maxBucketSize = Some(1000)`, the operators' default)
    * whose scaling is the one that matters at 100 TB.
    */
  val Family: Seq[(String, (SparkSession, String) => DataFrame)] = {
    import graft.operators.Similarity
    def vecs(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
    Seq(
      "q30_fingerprints", "q31_minhash_signatures", "q32_lsh_jaccard",
      "q33_simhash", "q50_embedding_neardup", "q55_hyperplane_neardup",
      "q58_decontaminate", "q66_dup_coverage", "q67_dedup_clusters",
      "q86_image_ahash_neardup", "q87_audio_envelope_neardup",
      "q88_video_envelope_neardup",
      // r18 additions: the repetition battery (window explode + coverage
      // join), corpus-wide paragraph dedup (key agg + slim join-back) and
      // prototypicality pruning (centroid broadcast + per-cluster rank) —
      // each must stay sublinear with bounded max tasks like its family
      "q168_gopher_repetition", "q169_ccnet_paragraph_dedup",
      "q170_prototypicality_prune")
      .map(q => q -> SparkEntry.queries(q)) ++ Seq(
      "q50_capped" -> ((s: SparkSession, dir: String) => {
        val v = vecs(s, dir)
        val centroids = v.filter(col("id") < 8)
          .select(col("id").as("cid"), col("vec").as("cvec"))
        Similarity.embeddingNearDup(
          Similarity.ivfAssign(v.filter(col("id") >= 8), centroids),
          threshold = 0.2)
      }),
      "q55_capped" -> ((s: SparkSession, dir: String) =>
        Similarity.hyperplaneNearDup(vecs(s, dir),
          bands = 3, rowsPerBand = 4, threshold = 0.3)),
      "kmeans_train" -> ((s: SparkSession, dir: String) => {
        // full Lloyd loop to convergence — the training work runs eagerly
        // inside the timed call; per-round shuffle is k·dims partial sums
        // regardless of corpus size, so scaled cost must track the
        // assignment scan (linear), not the round count
        import graft.functions.VectorFunctions._
        val coded = vecs(s, dir).select(col("id"),
          quantizeInt8(col("vec"), int8Scale(col("vec"))).as("code"))
        val cents = coded.filter(col("id") < 8)
          .select(col("id").as("cid"), col("code"))
        Similarity.kmeansTrainInt8(coded.filter(col("id") >= 8), cents,
          maxRounds = 50, requireConvergence = false).toDF(s)
      }),
      // the composed SemDeDup pipeline (quantize → Lloyd → assign →
      // within-cluster suppression) — the one ANN-family member that was
      // never probed as a whole
      "q101_semantic_dedup" -> SparkEntry.queries("q101_semantic_dedup")) ++ {
      // the perceptual family in PRODUCTION configuration (bucket cap ON —
      // the SparkEntry forms are oracle-exhaustive and opt out)
      import graft.operators.Multimodal
      def payload(s: SparkSession, dir: String) =
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      Seq(
        "q86_capped" -> ((s: SparkSession, dir: String) => {
          val d = payload(s, dir).filter(length(col("payload")) >= 16)
            .withColumn("w", lit(16))
          val h = Multimodal.aHash(s, d, "doc_id", "payload", "w")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val out = Multimodal.aHashNearDup(h, "doc_id", maxHamming = 6)
            .localCheckpoint(true)
          h.unpersist(false); out
        }),
        "q87_capped" -> ((s: SparkSession, dir: String) => {
          val wav = Multimodal.encodePcm16Wav(s, payload(s, dir), "doc_id", "payload")
          val h = Multimodal.audioEnvelopeHash(s, wav, "doc_id", "wav")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val out = Multimodal.aHashNearDup(h, "doc_id", maxHamming = 6)
            .localCheckpoint(true)
          h.unpersist(false); out
        }),
        "q88_capped" -> ((s: SparkSession, dir: String) => {
          val gifs = Multimodal.encodeFramesGif(s, payload(s, dir), "doc_id",
            "payload", frameW = 16, frameH = 4)
          val h = Multimodal.videoEnvelopeHash(s, gifs, "doc_id", "gif")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val out = Multimodal.aHashNearDup(h, "doc_id", maxHamming = 6)
            .localCheckpoint(true)
          h.unpersist(false); out
        }))
    } ++ {
      // alerting + ingest-gate families (r9): q81's lake retro pipeline is
      // re-run UN-memoized (fresh lake every invocation — the fold, the
      // append AND the mergeUpsert existing-side scan are all inside the
      // timing, since the history-sized merge scan is the cost that grows
      // with table size); q82/q89 reuse the SparkEntry forms, whose
      // fixture writers memoize per dir — the warm run pays the one-time
      // fixture build, the measured runs time the real ingest chain.
      import graft.operators.{Alerts, Detection}
      // q81's full pipeline, un-memoized (fresh lake per invocation) so
      // the fold, the append AND the mergeUpsert history rewrite are all
      // timed; `clustered` additionally range-clusters the phase-1 append
      // (the merge rewrite clusters itself for wide merges)
      def retro(clustered: Boolean)(s: SparkSession, dir: String): DataFrame = {
        import graft.lake.Snapshots
        val ev = graft.Tables.load(s, dir, "events") // ns-ts normalization
        val cfg = Alerts.AlertConfig(threshold = 2, windowSeconds = 1800)
        val cut = lit("2024-01-06 14:10:00").cast("timestamp")
        val t = Artifacts.scratch("graft_scale_retro")
        val m = Detection.ruleMatches(ev,
          graft.queries.Alerting.rules.filter(_.name == "error_burst"),
          matchId = col("event_id"))
        val phase1 = graft.plans.AnchoredSession.aggregate(s,
          m.filter(col("ts") < cut), cfg)
        Snapshots.append(phase1.withColumn("ts", col("first_matched_at")), t,
          clusterBy = if (clustered) Seq("ts") else Nil)
        val lateKeys = m.filter(col("ts") >= cut)
          .select("rule_name", "dedupe").distinct()
        val retroFold = graft.plans.AnchoredSession.aggregate(s, m, cfg)
          .join(lateKeys, Seq("rule_name", "dedupe"), "left_semi")
        Snapshots.mergeUpsert(s, t,
          retroFold.withColumn("ts", col("first_matched_at")), "alert_id")
        Snapshots.read(s, t).select(col("alert_id"))
      }
      Seq(
        "q81_retro_lake" -> (retro(clustered = false) _),
        "q81_retro_clustered" -> (retro(clustered = true) _),
        "q82_routed_ingest" -> SparkEntry.queries("q82_routed_ingest"),
        "q89_sideline_gate" -> SparkEntry.queries("q89_sideline_gate"))
    } ++ {
      // corpus-search family (r9): the SparkEntry forms are fixture-free;
      // q109's lake fold runs UN-memoized (fresh lake per invocation) so
      // every run times the three-round incremental merge — the partial
      // exchange + touched-terms join — not a cached read-back
      Seq(
        "q103_inverted_index" -> SparkEntry.queries("q103_inverted_index"),
        // winnowing in PRODUCTION configuration: the q106 gate pins
        // maxBucketSize=1000 for its oracle, which saturates at 100×
        // fingerprint density (hot boilerplate buckets × cap² pairs);
        // the production cap bounds pair volume per bucket
        "q106_capped" -> ((s: SparkSession, dir: String) => {
          import graft.operators.Dedup
          val en = s.read.parquet(s"$dir/documents.parquet")
            .filter(col("lang") === "en")
          val fps = Dedup.winnowFingerprints(en, "doc_id", "text", k = 3, w = 4)
          Dedup.winnowSharedPairs(fps, maxBucketSize = Some(64))
            .filter(col("shared") >= 2)
        }),
        // q32's PRODUCTION configuration (the gate form is oracle-
        // exhaustive): capped LSH candidates + Jaccard verify — the
        // corpus-density knob applied, same operator
        "q32_capped" -> ((s: SparkSession, dir: String) => {
          import graft.operators.Dedup
          val sets = Dedup.shingleFrame(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val cands = Dedup.lshCandidatePairs(sets, bands = 2, rowsPerBand = 3,
            maxBucketSize = Some(64))
          val out = Dedup.jaccardVerify(sets, cands, minJaccard = 0.2)
            .localCheckpoint(true)
          sets.unpersist(false)
          out
        }),
        // round-11 additions: sketch/sample/LM — all bounded-state or
        // word-count-shaped, probed with the same family
        "q114_kll_quantiles" -> SparkEntry.queries("q114_kll_quantiles"),
        "q115_bottomk_sample" -> SparkEntry.queries("q115_bottomk_sample"),
        "q116_bigram_lm" -> SparkEntry.queries("q116_bigram_lm"),
        // round-12 additions: Sigma surfaces, IVF lake fold, LM-rank
        // curation, quasi-identifier gate
        "q141_sigma_rules" -> SparkEntry.queries("q141_sigma_rules"),
        "q142_sigma_correlation" -> SparkEntry.queries("q142_sigma_correlation"),
        "q143_ivf_lake_fold" -> SparkEntry.queries("q143_ivf_lake_fold"),
        "q144_sigma_temporal" -> SparkEntry.queries("q144_sigma_temporal"),
        "q145_perplexity_filter" -> SparkEntry.queries("q145_perplexity_filter"),
        "q146_k_anonymity" -> SparkEntry.queries("q146_k_anonymity"),
        // round-14 additions: the privacy-gate complements — both are
        // grouped aggregations + slim null-safe stats joins (q148 adds
        // the broadcastable value-distribution grid)
        "q147_l_diversity" -> SparkEntry.queries("q147_l_diversity"),
        "q148_t_closeness" -> SparkEntry.queries("q148_t_closeness"),
        "q149_dp_release" -> SparkEntry.queries("q149_dp_release"),
        // round-16 additions: trained/residual PQ search + hybrid fusion
        "q154_pq_encode" -> SparkEntry.queries("q154_pq_encode"),
        "q156_ivfpq_search" -> SparkEntry.queries("q156_ivfpq_search"),
        "q159_hybrid_rrf" -> SparkEntry.queries("q159_hybrid_rrf"),
        "q161_residual_ivfpq" -> SparkEntry.queries("q161_residual_ivfpq"),
        "q117_hll_distinct" -> SparkEntry.queries("q117_hll_distinct"),
        "q118_temperature_mix" -> SparkEntry.queries("q118_temperature_mix"),
        "q119_shard_plan" -> SparkEntry.queries("q119_shard_plan"),
        "q120_fuzzy_join" -> SparkEntry.queries("q120_fuzzy_join"),
        "q121_hll_fold" -> SparkEntry.queries("q121_hll_fold"),
        "q122_funnel" -> SparkEntry.queries("q122_funnel"),
        "q123_sliding_distinct" -> SparkEntry.queries("q123_sliding_distinct"),
        "q129_sketch_setops" -> SparkEntry.queries("q129_sketch_setops"),
        "q137_drift_monitor" -> SparkEntry.queries("q137_drift_monitor"),
        "q124_kll_fold" -> SparkEntry.queries("q124_kll_fold"),
        "q104_phrase_search" -> SparkEntry.queries("q104_phrase_search"),
        "q105_dup_spans" -> SparkEntry.queries("q105_dup_spans"),
        "q106_winnow_pairs" -> SparkEntry.queries("q106_winnow_pairs"),
        "q107_ranked_search" -> SparkEntry.queries("q107_ranked_search"),
        "q108_heavy_hitters" -> SparkEntry.queries("q108_heavy_hitters"),
        "q110_despan_emit" -> SparkEntry.queries("q110_despan_emit"),
        // round-11 curation additions: boilerplate removal (broadcast
        // mark join), CDC chunk dedup (slim chunk-hash shuffle), and the
        // perceptron trainer (3 linear passes, d+1-long reduces)
        "q125_boilerplate_lines" -> SparkEntry.queries("q125_boilerplate_lines"),
        "q126_cdc_chunks" -> SparkEntry.queries("q126_cdc_chunks"),
        "q128_quality_classifier" -> SparkEntry.queries("q128_quality_classifier"),
        "q132_link_rank" -> SparkEntry.queries("q132_link_rank"),
        "q134_curation_pipeline_v2" -> SparkEntry.queries("q134_curation_pipeline_v2"),
        // link-rank in PRODUCTION configuration: the q132 gate runs the
        // LSH uncapped for oracle parity; at 100× fingerprint density the
        // hot buckets explode quadratically (the q106 lesson), so the
        // scale probe rides the default bucket cap
        "q132_capped" -> ((s: SparkSession, dir: String) => {
          import graft.operators.{Dedup, LinkRank}
          val d = s.read.parquet(s"$dir/documents.parquet")
          val sets = Dedup.shingleFrame(d, "doc_id", "text")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val cands = Dedup.lshCandidatePairs(sets, bands = 2, rowsPerBand = 3)
          val pairs = Dedup.jaccardVerify(sets, cands, minJaccard = 0.2)
            .select(col("id1"), col("id2")).localCheckpoint(true)
          sets.unpersist(false)
          val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
            .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
          LinkRank.integerPageRank(
            d.select(col("doc_id").as("id")), edges, rounds = 3)
        }),
        "q135_contrastive_pairs" -> SparkEntry.queries("q135_contrastive_pairs"),
        // round-17 additions: DP histogram (bounded domain explode) and
        // unigram-LM training (corpus → Heaps-bounded pretoken table →
        // per-round projections)
        "q162_dp_histogram" -> SparkEntry.queries("q162_dp_histogram"),
        "q163_unigram_lm" -> SparkEntry.queries("q163_unigram_lm"),
        "q164_unigram_encode" -> SparkEntry.queries("q164_unigram_encode"),
        "q152_fuzzy_decontaminate" -> SparkEntry.queries("q152_fuzzy_decontaminate"),
        "q136_bpe_encode" -> SparkEntry.queries("q136_bpe_encode"),
        "q140_blocked_pairs" -> SparkEntry.queries("q140_blocked_pairs"),
        "q109_fold" -> ((s: SparkSession, dir: String) => {
          import graft.lake.Snapshots
          val t = Artifacts.scratch("graft_scale_idx")
          graft.queries.Search.indexFold(s,
            s.read.parquet(s"$dir/documents.parquet"), s"$t/index")
          Snapshots.read(s, s"$t/index").select(col("term"))
        }),
        // q153's incremental LSH text-dedup fold UN-memoized (the
        // SparkEntry form memoizes its staged lake per corpus — the
        // probe must time the three batch folds, not a read-back) and
        // in PRODUCTION configuration (default bucket cap ON; the gate
        // form pins the cap off for its exhaustive oracle)
        "q153_fold" -> ((s: SparkSession, dir: String) => {
          import graft.lake.Snapshots
          import graft.streaming.DedupIndex
          val base = s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("text"))
          val t = Artifacts.scratch("graft_scale_lsh")
          val maxBase = base.agg(max(col("doc_id"))).head.getLong(0)
          val cuts = Seq(
            col("doc_id") < maxBase / 3,
            col("doc_id") >= maxBase / 3 && col("doc_id") < 2 * maxBase / 3,
            col("doc_id") >= 2 * maxBase / 3)
          cuts.foreach { cut =>
            DedupIndex.lshDedupBatch(s, s"$t/index", base.filter(cut))
              .write.mode("overwrite").format("noop").save()
          }
          Snapshots.read(s, s"$t/index/main").select(col("doc_id"))
        }),
        // q171's registry fold UN-memoized (fresh registry per
        // invocation, same rationale as q153_fold): the three batch
        // passes + winner-registry upserts are timed, not a staged
        // read-back
        "q171_fold" -> ((s: SparkSession, dir: String) => {
          import graft.lake.Snapshots
          import graft.streaming.DedupIndex
          val base = s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("text"))
          val t = Artifacts.scratch("graft_scale_para")
          val maxBase = base.agg(max(col("doc_id"))).head.getLong(0)
          val cuts = Seq(
            col("doc_id") < maxBase / 3,
            col("doc_id") >= maxBase / 3 && col("doc_id") < 2 * maxBase / 3,
            col("doc_id") >= 2 * maxBase / 3)
          cuts.foreach { cut =>
            DedupIndex.paragraphDedupBatch(s, s"$t/registry", base.filter(cut))
              .write.mode("overwrite").format("noop").save()
          }
          Snapshots.read(s, s"$t/registry").select(col("h"))
        }),
        // round-18 session additions: the C4 battery (map-only scan),
        // the span dedup (slim-key winner agg + union-coverage join —
        // the q169 class with the ×3 coverage explode), the tokenizer
        // fertility ledger (distinct-pretoken encode + lang agg), and
        // q176's registry fold UN-memoized (the q171_fold rationale)
        "q173_c4_rules" -> SparkEntry.queries("q173_c4_rules"),
        "q174_c4_span_dedup" -> SparkEntry.queries("q174_c4_span_dedup"),
        "q175_tokenizer_fertility" ->
          SparkEntry.queries("q175_tokenizer_fertility"),
        "q177_length_buckets" ->
          SparkEntry.queries("q177_length_bucket_batches"),
        "q178_unimax_take" -> SparkEntry.queries("q178_unimax_take"),
        "q179_dictionary_tags" -> SparkEntry.queries("q179_dictionary_tags"),
        // q179 at REAL blocklist scale: a 10k-term dictionary (the C4
        // badwords-list size) as a plan-literal automaton — the scan
        // must stay a map-only pass whose cost tracks the text, not the
        // dictionary (r18 verdict Next #6). Terms are three-word vocab
        // phrases, so a third of every doc's positions match.
        "q179_dict10k" -> ((s: SparkSession, dir: String) => {
          val terms = (for { a <- Vocab; b <- Vocab; c <- Vocab }
            yield s"$a $b $c").take(10000)
          s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"),
              explode(graft.plans.DictionaryMatches(col("text"), terms))
                .as("i"))
            .groupBy(col("i")).agg(count(lit(1)).as("n"))
        }),
        "q180_multiprobe_lsh" -> SparkEntry.queries("q180_multiprobe_lsh"),
        "q181_nested_subsets" -> SparkEntry.queries("q181_nested_subsets"),
        "q182_pack_manifest" -> SparkEntry.queries("q182_pack_manifest"),
        "q183_multiprobe_recall" ->
          SparkEntry.queries("q183_multiprobe_recall"),
        "q184_dataset_diff" -> SparkEntry.queries("q184_dataset_diff"),
        // round-19 session additions: the composed release pipeline and
        // the UniMax fold UN-memoized (fresh lake tables per invocation,
        // the q171_fold rationale — build cost is what must scale), plus
        // the two tokenizer sweep curves (map/agg scans)
        "q185_release" -> ((s: SparkSession, dir: String) => {
          import graft.operators.Release
          val d = s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("lang"), col("n_chars"))
          val t = Artifacts.scratch("graft_scale_rel")
          Release.buildEdition(s, d, "doc_id", "lang", "n_chars",
            1000L, 9L, 10L, 1L, s"$t/editionA")
          Release.buildEdition(s, d, "doc_id", "lang", "n_chars",
            5000L, 9L, 10L, 1L, s"$t/editionB")
          Release.packEdition(s, s"$t/editionA", "doc_id", "lang",
            "n_chars", 2048L, s"$t/manifestA")
          Release.packEdition(s, s"$t/editionB", "doc_id", "lang",
            "n_chars", 2048L, s"$t/manifestB")
          Release.manifestDiff(s, s"$t/manifestA", s"$t/manifestB")
        }),
        "q186_fold" -> ((s: SparkSession, dir: String) => {
          import graft.streaming.AllocationFold
          val d = s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("lang"), col("n_chars"))
          val t = Artifacts.scratch("graft_scale_alloc")
          val maxId = d.agg(max(col("doc_id"))).head.getLong(0)
          Seq(
            col("doc_id") < maxId / 3,
            col("doc_id") >= maxId / 3 && col("doc_id") < 2 * maxId / 3,
            col("doc_id") >= 2 * maxId / 3).zipWithIndex
            .foreach { case (cut, i) =>
              AllocationFold.unimaxBatch(s, s"$t/reg", d.filter(cut),
                  s"b$i", "lang", "n_chars", 9L, 10L, 1L)
                .write.mode("overwrite").format("noop").save()
            }
          graft.lake.Snapshots.read(s, s"$t/reg").select(col("n_mass"))
        }),
        "q187_vocab_sweep" -> SparkEntry.queries("q187_bpe_vocab_sweep"),
        "q188_word_oov" -> SparkEntry.queries("q188_word_vocab_oov"),
        "q189_epochs" -> SparkEntry.queries("q189_epoch_schedule"),
        "q192_curriculum" -> SparkEntry.queries("q192_curriculum_phases"),
        // q193 UN-memoized (fresh registry per invocation)
        "q193_take_fold" -> ((s: SparkSession, dir: String) => {
          import graft.streaming.AllocationFold
          val d = s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("lang"), col("n_chars"))
          val t = Artifacts.scratch("graft_scale_take")
          val maxId = d.agg(max(col("doc_id"))).head.getLong(0)
          Seq(
            col("doc_id") < maxId / 3,
            col("doc_id") >= maxId / 3 && col("doc_id") < 2 * maxId / 3,
            col("doc_id") >= 2 * maxId / 3)
            .foreach { cut =>
              AllocationFold.unimaxTakeBatch(s, s"$t/reg", d.filter(cut),
                  "doc_id", "lang", "n_chars", 9L, 10L, 1L)
                .write.mode("overwrite").format("noop").save()
            }
          graft.lake.Snapshots.read(s, s"$t/reg").select(col("doc_id"))
        }),
        "q190_payloads" -> SparkEntry.queries("q190_pack_payloads"),
        // q191 UN-memoized (fresh registry/contrib tables per invocation,
        // the q171_fold rationale)
        "q191_fold" -> ((s: SparkSession, dir: String) => {
          import graft.streaming.PackFold
          val d = s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("lang"),
              size(graft.functions.TextFunctions.tokens(col("text")))
                .cast("long").as("n_tokens"))
          val t = Artifacts.scratch("graft_scale_pack")
          val maxId = d.agg(max(col("doc_id"))).head.getLong(0)
          Seq(
            col("doc_id") < maxId / 3,
            col("doc_id") >= maxId / 3 && col("doc_id") < 2 * maxId / 3,
            col("doc_id") >= 2 * maxId / 3).zipWithIndex
            .foreach { case (cut, i) =>
              PackFold.packBatch(s, s"$t/reg", s"$t/contrib",
                d.filter(cut), s"b$i", "doc_id", "lang", "n_tokens", 512L)
            }
          PackFold.manifest(s, s"$t/contrib", "lang")
        }),
        "q176_fold" -> ((s: SparkSession, dir: String) => {
          import graft.lake.Snapshots
          import graft.streaming.DedupIndex
          val sents = graft.functions.TextFunctions
            .sixWordSentences(col("text"))
          val base = s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), array_join(sents, " ").as("text"))
          val t = Artifacts.scratch("graft_scale_span")
          val maxBase = base.agg(max(col("doc_id"))).head.getLong(0)
          val cuts = Seq(
            col("doc_id") < maxBase / 3,
            col("doc_id") >= maxBase / 3 && col("doc_id") < 2 * maxBase / 3,
            col("doc_id") >= 2 * maxBase / 3)
          cuts.foreach { cut =>
            DedupIndex.spanDedupBatch(s, s"$t/registry", base.filter(cut))
              .write.mode("overwrite").format("noop").save()
          }
          Snapshots.read(s, s"$t/registry").select(col("h"))
        }),
        // round-20 session additions: the URL filter (map-only), the
        // byte-BPE pair (vocabulary-sized training loop + vocab-cache
        // encode), the epoch/curriculum serving artifacts, the
        // importance surrogate (bucket-domain weight broadcast), and
        // the composed web-curation pipeline UN-memoized (fresh lake
        // dir per invocation — the q185 rationale: the ten stage
        // round-trips are what must scale)
        "q194_url_filter" -> SparkEntry.queries("q194_url_domain_filter"),
        "q195_byte_bpe_train" -> SparkEntry.queries("q195_byte_bpe_train"),
        "q196_byte_bpe_encode" ->
          SparkEntry.queries("q196_byte_bpe_encode"),
        "q197_epochs" -> SparkEntry.queries("q197_epoch_emission"),
        "q198_curriculum_packs" ->
          SparkEntry.queries("q198_curriculum_packs"),
        "q200_importance" ->
          SparkEntry.queries("q200_importance_surrogate"),
        "q199_pipeline" -> ((s: SparkSession, dir: String) => {
          import graft.operators.WebCuration
          val t = Artifacts.scratch("graft_scale_webpipe")
          WebCuration.run(s,
            graft.queries.TextPipeline.webPipelineCorpus(s, dir), t,
            suffixes = Seq("com", "net", "org", "de", "uk", "co.uk", "io"),
            blockedDomains = Seq("example.net", "badsite.co.uk"),
            blockedSubstrings = Seq("casino", "bet now"))
          WebCuration.ledger(s, t)
        }),
        // q201 UN-memoized release tail only (the curation stages are
        // q199_pipeline's probe; this times the raw-vs-curated double
        // release chain over a fresh lake dir)
        "q201_factory_diff" -> ((s: SparkSession, dir: String) => {
          import graft.lake.Snapshots
          import graft.operators.{Release, WebCuration}
          val t = Artifacts.scratch("graft_scale_factory")
          WebCuration.run(s,
            graft.queries.TextPipeline.webPipelineCorpus(s, dir),
            s"$t/pipe",
            suffixes = Seq("com", "net", "org", "de", "uk", "co.uk", "io"),
            blockedDomains = Seq("example.net", "badsite.co.uk"),
            blockedSubstrings = Seq("casino", "bet now"))
          def withTokens(k: Int) = Snapshots.read(s, s"$t/pipe/s$k")
            .select(col("doc_id"), col("lang"),
              size(graft.functions.TextFunctions.tokens(col("text")))
                .cast("long").as("n_tokens"))
          Release.buildEdition(s, withTokens(0), "doc_id", "lang",
            "n_tokens", 10000L, 9L, 10L, 1L, s"$t/editionRaw")
          Release.buildEdition(s, withTokens(10), "doc_id", "lang",
            "n_tokens", 10000L, 9L, 10L, 1L, s"$t/editionCur")
          Release.packEdition(s, s"$t/editionRaw", "doc_id", "lang",
            "n_tokens", 2048L, s"$t/manifestRaw")
          Release.packEdition(s, s"$t/editionCur", "doc_id", "lang",
            "n_tokens", 2048L, s"$t/manifestCur")
          Release.manifestDiff(s, s"$t/manifestRaw", s"$t/manifestCur")
        }),
        // q202 UN-memoized (fresh registries per invocation — the
        // three-batch incremental pipeline is what must scale)
        "q202_fold" -> ((s: SparkSession, dir: String) => {
          import graft.operators.WebCuration
          val d = graft.queries.TextPipeline.webPipelineCorpus(s, dir)
          val t = Artifacts.scratch("graft_scale_webfold")
          val maxId = d.agg(max(col("doc_id"))).head.getLong(0)
          Seq(
            col("doc_id") < maxId / 3,
            col("doc_id") >= maxId / 3 && col("doc_id") < 2 * maxId / 3,
            col("doc_id") >= 2 * maxId / 3).foreach { cut =>
            WebCuration.runBatch(s, d.filter(cut), t,
              suffixes = Seq("com", "net", "org", "de", "uk", "co.uk",
                "io"),
              blockedDomains = Seq("example.net", "badsite.co.uk"),
              blockedSubstrings = Seq("casino", "bet now"))
          }
          graft.lake.Snapshots.read(s, s"$t/kept").select(col("doc_id"))
        }))
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)

    val nDocs = spark.read.parquet(s"$base/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$base/embeddings.parquet").count()
    val baseEv = spark.read.parquet(s"$base/events.parquet")
    val nEv = baseEv.count()
    val nUsers = baseEv.select(countDistinct(col("user_id"))).head.getLong(0)
    val tmp = Artifacts.scratch("graft_scale")
    // GRAFT_SCALE_TABLES=documents[,events,...]: scale only the listed
    // tables and carry the others over at BASE size — makes a 100× docs
    // probe feasible without generating 100M events. Ratios are only
    // meaningful for queries over the scaled tables.
    val wanted = sys.env.get("GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def scaleTable(name: String)(gen: => org.apache.spark.sql.DataFrame): Unit =
      if (wanted.forall(_.contains(name)))
        gen.repartition(cpus).write.parquet(s"$tmp/$name.parquet")
      else spark.read.parquet(s"$base/$name.parquet")
        .write.parquet(s"$tmp/$name.parquet")
    scaleTable("documents")(genDocuments(spark, nDocs * factor))
    scaleTable("embeddings")(genEmbeddings(spark, nVecs * factor))
    scaleTable("events")(genEvents(spark, nEv * factor, nUsers * factor))
    println(s"[scale] generated at $tmp (factor $factor, scaled: " +
      s"${wanted.map(_.mkString(",")).getOrElse("all")})")

    def run(fn: (SparkSession, String) => DataFrame, dir: String): (Double, Long) = {
      // the bus is drained before and after the run, so the max task is
      // this query's alone
      val (elapsed, stats) = JobStats.during(spark) {
        val t0 = System.nanoTime()
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9 // cache cleanup is untimed
      }
      spark.catalog.clearCache()
      // localCheckpoint blocks bypass catalog cache — free them too
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      (elapsed, stats.maxTaskMs)
    }

    // optional name filter (args 3+): probe a subset without re-running
    // the whole family
    val only = args.drop(2).toSet
    val fam = if (only.isEmpty) Family
      else Family.filter { case (q, _) => only.exists(q.contains) }
    println(f"${"query"}%-24s ${"base_s"}%8s ${"scaled_s"}%9s ${"ratio"}%6s ${"ideal"}%6s ${"mtask_b"}%8s ${"mtask_s"}%8s")
    val rows = fam.map { case (q, fn) =>
      run(fn, base) // warm: JIT + codegen for this plan shape
      val (tb, mb) = run(fn, base)
      // warm the SCALED dir too: composed fold/training queries memoize
      // one-time artifacts (IVF lake fold, PQ codebooks, ANN ground
      // truth) per sf dir — without this the scaled reading pays the
      // one-time build inside its timed window while the base reading
      // doesn't, inflating the ratio with setup cost instead of probe
      // cost (the q156 5.16 artifact of round 16)
      run(fn, tmp)
      val (ts, ms) = run(fn, tmp)
      println(f"$q%-24s $tb%8.2f $ts%9.2f ${ts / tb}%6.2f $factor%6d ${mb}%7dms ${ms}%7dms")
      (q, tb, ts, mb, ms)
    }
    val sumB = rows.map(_._2).sum
    val sumS = rows.map(_._3).sum
    println(f"${"TOTAL"}%-24s $sumB%8.2f $sumS%9.2f ${sumS / sumB}%6.2f $factor%6d")
    spark.stop()
  }
}
