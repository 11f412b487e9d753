package graft.streaming

import graft.lake.Snapshots
import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GROWING near-duplicate index for streaming ingest: each micro-batch is
  * suppressed against everything that arrived BEFORE it, then the batch's
  * own hashes are committed to a snapshot-lake index table — batch N+1
  * dedups against batches 1..N across restarts, not just against a static
  * seed corpus (the reference's seen-set idempotency semantics,
  * `shared/src/duplicates_util.rs:6-57`, mapped onto the engine's own
  * lake).
  *
  * Suppression rule: a row is a duplicate iff it near-dup-pairs with ANY
  * lower-id row already seen (prior batches via the index, or earlier rows
  * of the same batch). The index stores every arriving hash — survivors
  * AND suppressed — so the rule is a pure function of arrival history:
  *
  *  - **Exactly-once across restarts**: re-running a batch re-upserts the
  *    same (id, hash) rows (a keyed no-op) and re-derives the same
  *    survivor set — the batch's own ids are excluded from pairing by the
  *    strict `id1 < id2` pair order, so a replay never self-suppresses.
  *  - **Batch-cutoff independence**: as long as ids are monotone with
  *    arrival (true of log/event pipelines, where ids embed time), the
  *    incremental fold over ANY batching equals the one-shot rule on the
  *    union — "suppress iff a lower-id near-dup exists" — which is what
  *    the q96 oracle checks without knowing the batch boundaries.
  *
  * Scale shape: the per-batch cost is the banded-LSH pairing of
  * index ∪ batch — bucket-capped like every near-dup operator — and
  * batch-sized mergeUpserts. The pairing only needs pairs whose higher id
  * is in the batch; the band buckets that contain no batch row are
  * dropped before the pair join, so index-only work does not grow the
  * probe — and the index SCAN itself is zone-map-pruned: every index here
  * commits key-clustered and reads via
  * [[graft.lake.Snapshots.readKeyProbe]] (the h-keyed registries
  * directly; the multi-band indexes through a two-level bk-keys/main
  * layout), so a micro-batch against a compacted index reads a
  * batch-sized file subset, never the index (SCALING.md "registry probe
  * pruning").
  */
object DedupIndex {

  /** Observability hook: the last registry key-probe's (kept files,
    * total files) as reported by [[graft.lake.Snapshots.readKeyProbe]] —
    * the number a deployment exports as its probe-pruning metric, and
    * what the specs/SCALING probes assert on. Best-effort under
    * concurrent folds (last writer wins); None until a probe has run.
    */
  @volatile var lastProbeFiles: Option[(Int, Int)] = None

  /** The registries'/indexes' pruned read: zone-map key probe over the
    * key-clustered files, recording (kept, total) in [[lastProbeFiles]]
    * when `record` (the two-level indexes record their FIRST-level keys
    * probe, not the id-domain main probe, so the metric reads
    * bucket-adjacency pruning).
    */
  private def probeRead(spark: SparkSession, table: String, keyCol: String,
      probeKeys: DataFrame, record: Boolean = true): DataFrame = {
    val (reg, kept, total) = Snapshots.readKeyProbe(spark, table, keyCol, probeKeys)
    if (record) lastProbeFiles = Some((kept, total))
    reg
  }

  /** Process one micro-batch of aHash rows (`idCol`, b0..b3) against the
    * growing index at `indexTable`: returns the batch's SURVIVORS
    * (materialized — safe to consume after the commit below), and commits
    * ALL the batch's hashes to the index. Designed as a `foreachBatch`
    * body; idempotent under batch replay.
    */
  def dedupBatch(spark: SparkSession, indexTable: String, batchHashes: DataFrame,
      idCol: String = "doc_id", maxHamming: Int = 6,
      maxBucketSize: Option[Int] = Some(1000)): DataFrame = {
    // two-level layout (the lshDedupBatch posture): `main` holds the full
    // hash rows clustered by id; `keys` is the slim (bk, id) inverted
    // side-table clustered by bk, so the per-batch probe reads a file
    // SUBSET of both tables instead of scanning the index
    val mainTable = s"$indexTable/main"
    val keysTable = s"$indexTable/keys"
    // a pre-two-level index (snapshot at the table ROOT) must not be
    // silently treated as empty — that would re-admit every historical
    // near-duplicate; fail loudly with the migration path instead
    require(Snapshots.currentVersion(indexTable).isEmpty,
      s"$indexTable holds a legacy single-table index; migrate its rows " +
        s"to $indexTable/main and rebuild $indexTable/keys before folding")
    val batch = batchHashes.select(col(idCol), col("b0"), col("b1"),
      col("b2"), col("b3")).localCheckpoint(true)
    val indexed = Snapshots.currentVersion(mainTable).isDefined
    def bands(df: DataFrame, keepId: Boolean): DataFrame =
      (0 to 3).map { k =>
        val cols = (if (keepId) Seq(col(idCol)) else Nil) ++
          Seq(lit(k).as("band"), col(s"b$k").as("sig"))
        df.select(cols: _*)
      }.reduce(_ unionAll _)
    val all =
      if (!indexed) batch
      else {
        val batchBk = bands(batch, keepId = false).distinct()
          .select(xxhash64(col("band"), col("sig")).as("bk"))
        val keysRead = probeRead(spark, keysTable, "bk", batchBk)
        // a replayed batch is already indexed: same-id rows would
        // band-bucket together and double candidates — drop them up
        // front; then exact bucket adjacency (a bk collision only ADDS a
        // touched id, which the exact hamming verify rejects — sound)
        // touched feeds TWO consumers (the main-probe's driver-side file
        // selection and the survivors plan) — pin the small id frame once
        val touched = keysRead
          .join(batch.select(col(idCol)), Seq(idCol), "left_anti")
          .join(broadcast(batchBk), Seq("bk"), "left_semi")
          .select(col(idCol)).distinct().localCheckpoint(true)
        val mainRead = probeRead(spark, mainTable, idCol, touched,
          record = false)
        val idx = mainRead
          .select(col(idCol), col("b0"), col("b1"), col("b2"), col("b3"))
          .join(batch.select(col(idCol)), Seq(idCol), "left_anti")
          .join(touched, Seq(idCol), "left_semi")
        idx.unionByName(batch)
      }
    val pairs = Multimodal.aHashNearDup(all, idCol, maxHamming, maxBucketSize)
    val suppressed = pairs
      .join(batch.select(col(idCol).as("id2")), Seq("id2"), "left_semi")
      .select(col("id2").as(idCol)).distinct()
    // survivors must materialize BEFORE the index commit: a lazy plan
    // re-read after the upsert would see the batch's own rows as history
    val survivors = batch.join(suppressed, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    // the index rows need only a constant hour partition — an index is
    // keyed by content hash, not by time; the CLUSTERING carries the
    // probe layout (id for main, bk for keys)
    val ts0 = lit("2024-01-01 00:00:00").cast("timestamp")
    val stamped = batch.withColumn("ts", ts0)
    val stampedKeys = bands(batch, keepId = true)
      .select(
        concat(col(idCol), lit("#"), col("band")).as("pk"),
        xxhash64(col("band"), col("sig")).as("bk"),
        col(idCol), ts0.as("ts"))
    // two commits are NOT one atomic commit: a crash between them leaves
    // keys missing this batch's rows. The foreachBatch contract heals it —
    // the checkpoint only advances after this function returns, so the
    // batch REPLAYS and both mergeUpserts are keyed no-ops/compensations;
    // consumers that skip replays would under-suppress until re-folded
    if (indexed) {
      Snapshots.mergeUpsert(spark, mainTable, stamped, idCol,
        clusterBy = Seq(idCol))
      Snapshots.mergeUpsert(spark, keysTable, stampedKeys, "pk",
        clusterBy = Seq("bk"))
    } else {
      Snapshots.append(stamped, mainTable, clusterBy = Seq(idCol))
      Snapshots.append(stampedKeys, keysTable, clusterBy = Seq("bk"))
    }
    survivors
  }

  /** TEXT near-dup twin of [[dedupBatch]]: a GROWING banded-MinHash index
    * for incremental corpus deduplication — new data dedups against
    * everything already ingested WITHOUT recomputing the corpus, the
    * 100 TB posture for continuously-arriving training data (the aHash
    * variant above covers perceptual payloads; this one covers text via
    * the q31/q32 shingle→MinHash→band machinery).
    *
    * Index layout (two tables under `indexTable`): `main` row = (id,
    * band0..band{bands-1}, sh, n_sh, ts), clustered by id — the band
    * signatures are STORED (computed once, on arrival) and the distinct
    * shingle set next to them so candidate pairs verify by EXACT Jaccard,
    * keeping the fold bit-identical to the one-shot rule and hence
    * oracle-checkable; `keys` row = (bk = xxhash64(band, sig), id),
    * clustered by bk — the slim inverted side-table that makes the
    * per-batch probe a [[graft.lake.Snapshots.readKeyProbe]] file subset
    * instead of an index scan. A deployment trading exactness for index
    * weight would store the k-element MinHash signature instead and
    * verify on estimated Jaccard; the fold's structure is unchanged.
    *
    * Same contract as [[dedupBatch]]: suppression is a pure function of
    * arrival history ("suppress iff a lower-id near-dup exists" — over
    * the index AND earlier rows of the same batch via the strict
    * `id1 < id2` pair order), the index stores every arriving row
    * (survivors and suppressed), replays are keyed no-ops, and under
    * id-monotone arrival the incremental fold over ANY batching equals
    * the one-shot rule on the union — the q153 oracle checks exactly
    * that without knowing the batch cuts.
    *
    * Scale shape: per-batch cost is the batch's own shingle pass + ONE
    * band-bucket pairing restricted to the batch's neighborhood — the
    * keys table is zone-map-probed by the batch's band keys (file
    * skipping), exact bucket adjacency reduces it to touched ids, and
    * only THOSE ids' main files are read (a second key probe) — plus two
    * batch-sized mergeUpserts. Never all-pairs, never a corpus rescan of
    * text, and in the micro-batch-vs-compacted-index regime never an
    * index scan either (SCALING.md "registry probe pruning").
    */
  def lshDedupBatch(spark: SparkSession, indexTable: String, batchDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      minJaccard: Double = 0.2, shingleN: Int = 2,
      bands: Int = 2, rowsPerBand: Int = 3,
      maxBucketSize: Option[Int] = Some(1000)): DataFrame = {
    // TWO-LEVEL index layout (round 19, the span-registry probe applied
    // to the heavy text index): `main` holds the full rows (id, band
    // signatures, shingle set) clustered by id; `keys` is a slim
    // inverted side-table — one (bk = xxhash64(band, sig), id) row per
    // band — clustered by bk. A batch probe then reads ONLY:
    //   1. the keys files whose bk range intersects the batch's band
    //      keys (readKeyProbe — bucket-adjacency at FILE granularity);
    //   2. the main files holding the touched ids (readKeyProbe by id).
    // A bk collision can only ADD a touched id (the exact (band, sig)
    // bucket join downstream rejects it) — pruning stays sound.
    val mainTable = s"$indexTable/main"
    val keysTable = s"$indexTable/keys"
    // a pre-two-level index (snapshot at the table ROOT) must not be
    // silently treated as empty — that would re-admit every historical
    // near-duplicate; fail loudly with the migration path instead
    require(Snapshots.currentVersion(indexTable).isEmpty,
      s"$indexTable holds a legacy single-table index; migrate its rows " +
        s"to $indexTable/main and rebuild $indexTable/keys before folding")
    val batch = batchDocs.select(col(idCol), col(textCol)).localCheckpoint(true)
    // one shingle + minhash pass over the BATCH only; both frames feed
    // two consumers each (pairing + commit), so pin them once
    val bSets = Dedup.shingleFrame(batch, idCol, textCol, shingleN)
      .localCheckpoint(true)
    val bWide = Dedup.lshBandSignatures(bSets, bands, rowsPerBand)
      .localCheckpoint(true)
    val bKeys = Dedup.explodeBandSignatures(bWide, bands)
    val indexed = Snapshots.currentVersion(mainTable).isDefined
    val (allSets, allKeys) =
      if (!indexed) (bSets, bKeys)
      else {
        val batchBk = bKeys
          .select(xxhash64(col("band"), col("sig")).as("bk")).distinct()
        val keysRead = probeRead(spark, keysTable, "bk", batchBk)
        // a replayed batch is already indexed — drop same-id rows up
        // front so a replay never self-suppresses; then exact row-level
        // bucket adjacency via the broadcast semi-join
        // touched feeds TWO consumers (the main-probe's driver-side file
        // selection and the pairing plan) — pin the small id frame once
        val touched = keysRead
          .join(batch.select(col(idCol)), Seq(idCol), "left_anti")
          .join(broadcast(batchBk), Seq("bk"), "left_semi")
          .select(col(idCol).as("doc")).distinct().localCheckpoint(true)
        val mainRead = probeRead(spark, mainTable, idCol,
          touched.select(col("doc")), record = false)
        val idx = mainRead
          .join(batch.select(col(idCol)), Seq(idCol), "left_anti")
          .withColumnRenamed(idCol, "doc")
          .join(touched, Seq("doc"), "left_semi")
        val idxKeys = Dedup.explodeBandSignatures(
          idx.select((col("doc") +: (0 until bands).map(b => col(s"band$b"))): _*),
          bands)
        val prunedSets = idx.select(col("doc"), col("sh"), col("n_sh"))
        (prunedSets.unionByName(bSets), idxKeys.unionByName(bKeys))
      }
    val cands = Dedup.bandedCandidatePairs(allKeys, "doc", Seq("band", "sig"),
      maxBucketSize)
    val verified = Dedup.jaccardVerify(allSets, cands, minJaccard)
    val suppressed = verified
      .join(bSets.select(col("doc").as("id2")), Seq("id2"), "left_semi")
      .select(col("id2").as(idCol)).distinct()
    // survivors materialize BEFORE the index commit — a lazy plan re-read
    // after the upsert would see the batch's own rows as history
    val survivors = batch.join(suppressed, Seq(idCol), "left_anti")
      .select(col(idCol)).localCheckpoint(true)
    val ts0 = lit("2024-01-01 00:00:00").cast("timestamp")
    val stamped = bSets.join(bWide, "doc")
      .select((col("doc").as(idCol) +:
        ((0 until bands).map(b => col(s"band$b")) ++
          Seq(col("sh"), col("n_sh"), ts0.as("ts")))): _*)
    val stampedKeys = Dedup.explodeBandSignatures(bWide, bands)
      .select(
        concat(col("doc"), lit("#"), col("band")).as("pk"),
        xxhash64(col("band"), col("sig")).as("bk"),
        col("doc").as(idCol), ts0.as("ts"))
    // two commits, one crash window — healed by batch replay (see the
    // dedupBatch commit note; both upserts are keyed no-ops on replay)
    if (indexed) {
      Snapshots.mergeUpsert(spark, mainTable, stamped, idCol,
        clusterBy = Seq(idCol))
      Snapshots.mergeUpsert(spark, keysTable, stampedKeys, "pk",
        clusterBy = Seq("bk"))
    } else {
      Snapshots.append(stamped, mainTable, clusterBy = Seq(idCol))
      Snapshots.append(stampedKeys, keysTable, clusterBy = Seq("bk"))
    }
    survivors
  }

  /** Incremental CCNet paragraph dedup —
    * [[graft.operators.Curation.corpusParagraphDedup]]'s rule as a lake
    * fold (the [[lshDedupBatch]] posture lifted from suppress-the-doc to
    * REWRITE-the-doc): the index table is the winner REGISTRY — one row
    * (h, wdoc, wpos) per normalized-paragraph key ever seen — and each
    * arriving batch resolves against it without any corpus rescan:
    *
    *  - batch-internal first occurrence: min (doc, pos) per key;
    *  - keys already registered lose outright (the registered winner is
    *    earlier under id-monotone arrival);
    *  - fresh keys keep their batch winner and REGISTER it.
    *
    * Emits the batch's rebuilt docs (the q169 output shape: n_paras,
    * n_kept, text_clean). Replay safety: the registry read first drops
    * rows won by the replaying batch's own ids (restoring pre-batch
    * state for those keys), so the batch re-resolves identically and the
    * keyed mergeUpsert re-writes the same rows — a no-op.
    *
    * Under id-monotone arrival the fold over ANY batching equals the
    * one-shot corpus rule: a key's global winner sits in the earliest
    * batch containing that key, where it also wins batch-internally
    * (the min over a subset containing the global min; later batches
    * only see the key as registered) — which is what the q171 oracle
    * checks without knowing the batch cuts.
    *
    * Scale shape: per-batch cost is the batch's own paragraph pass +
    * ONE slim key join against the registry (int64 keys and winner
    * coordinates only — paragraph BODIES never touch the index) + a
    * fresh-keys-sized mergeUpsert. The registry commits key-CLUSTERED
    * and the read is [[graft.lake.Snapshots.readKeyProbe]]-pruned, so
    * the scan itself skips files outside the batch's key ranges (gated
    * by StreamingSpec; measured in SCALING.md "registry probe
    * pruning"). History text is never rescanned, and the emitted
    * rewrite is a pure function of arrival history.
    */
  /** @param sep the paragraph separator (regex) — `\n\n` for plain text,
    *   `\n` for the line-level CCNet unit (the
    *   [[graft.operators.Curation.corpusParagraphDedup]] param mirrored,
    *   so the incremental pipeline twin folds the same rule).
    */
  def paragraphDedupBatch(spark: SparkSession, indexTable: String,
      batchDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sep: String = "\n\n"): DataFrame = {
    val batch = batchDocs.select(col(idCol), col(textCol)).localCheckpoint(true)
    // one paragraph pass over the BATCH only; feeds winner-resolve AND
    // the rebuild, so pin it once
    val paras = batch
      .select(col(idCol),
        posexplode(split(col(textCol), sep)).as(Seq("pos", "para")))
      .withColumn("h", xxhash64(
        regexp_replace(lower(col("para")), "[0-9]+", "0")))
      .localCheckpoint(true)
    val batchWinners = paras.groupBy(col("h"))
      .agg(min(struct(col(idCol).as("d"), col("pos").as("p"))).as("w"))
      .select(col("h"), col("w.d").as("wdoc"), col("w.p").as("wpos"))
    val indexed = Snapshots.currentVersion(indexTable).isDefined
    val fresh =
      if (!indexed) batchWinners
      else {
        // registry SCAN pruning first: commits cluster the registry's
        // files on the key (clusterBy below), so the zone-map key probe
        // plans only the files whose h range intersects the batch's
        // keys — in the micro-batch-vs-compacted-registry regime the
        // probe reads a batch-keys-sized file subset, never the whole
        // registry (measured in SCALING.md "registry probe pruning")
        val hist = probeRead(spark, indexTable, "h",
          batchWinners.select(col("h")))
          // a replayed batch's own registrations are dropped up front so
          // the replay resolves against pre-batch state exactly
          .join(batch.select(col(idCol).as("wdoc")), Seq("wdoc"), "left_anti")
        // batch-neighborhood ROW pruning (the lshDedupBatch posture):
        // only registry keys the batch actually touches can veto a batch
        // winner, so the surviving files reduce to a batch-keys-sized
        // frame via one broadcast semi-join BEFORE the anti join — the
        // shuffle tracks the batch even when file skipping kept
        // everything (file pruning is coarse; this is exact)
        val touched = hist.select(col("h"))
          .join(broadcast(batchWinners.select(col("h"))), Seq("h"),
            "left_semi")
        batchWinners.join(touched, Seq("h"), "left_anti")
      }
    // keep ⟺ the key is FRESH and this row is its batch winner; lost
    // keys (registered history) null out on the left join
    val out = paras
      .join(fresh.select(col("h"), col("wdoc").as("__wd"),
        col("wpos").as("__wp")), Seq("h"), "left")
      .withColumn("__keep",
        col("__wd").isNotNull &&
          col(idCol) === col("__wd") && col("pos") === col("__wp"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("__keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("pos"), col("para"))))),
            x => x("para")),
          sep).as("text_clean"))
      // emissions materialize BEFORE the registry commit — a lazy plan
      // re-read after the upsert would see the batch's own registrations
      // as history
      .localCheckpoint(true)
    val stamped = fresh.withColumn("ts",
      lit("2024-01-01 00:00:00").cast("timestamp"))
    // key-clustered commits: each commit's files carry disjoint h ranges
    // so the next batch's readKeyProbe can skip files (recluster() is the
    // maintenance action that merges per-commit runs into one table-wide
    // sorted layout)
    if (indexed) Snapshots.mergeUpsert(spark, indexTable, stamped, "h",
      clusterBy = Seq("h"))
    else Snapshots.append(stamped, indexTable, clusterBy = Seq("h"))
    out
  }

  /** Incremental C4 three-sentence-span dedup —
    * [[graft.operators.Curation.c4SpanDedup]]'s rule as a lake fold, the
    * [[paragraphDedupBatch]] posture with the span family's OVERLAP
    * subtlety: spans share sentences, so a batch occurrence is cut when
    *
    *  - its key is already REGISTERED (an earlier batch holds the global
    *    winner under id-monotone arrival), or
    *  - the key repeats WITHIN the batch and this occurrence is not the
    *    batch winner (which, for a fresh key, IS the global winner:
    *    the earliest batch containing a key holds its least (doc, pos)
    *    occurrence when batches partition ids monotonically),
    *
    * and the doc's removed sentence set is the UNION of cut spans'
    * positions — exactly the one-shot rule's coverage. A key first seen
    * ONCE in its batch registers and survives: later duplicates are
    * strictly later in (doc, pos) order, so the one-shot rule would keep
    * this occurrence too — which is why the fold over ANY id-monotone
    * batching ≡ the one-shot corpus rule, and the gate's oracle is
    * q174's one-shot SQL verbatim, knowing nothing about the cuts.
    *
    * Replay safety: the registry read drops rows won by the replaying
    * batch's own ids first, so the batch re-resolves against pre-batch
    * state and the keyed mergeUpsert re-writes the same rows — a no-op.
    *
    * Scale shape: per-batch cost is the batch's own sentence pass + ONE
    * slim int64-key join against the batch-touched slice of the registry
    * (file-level zone-map pruning via key-clustered commits +
    * [[graft.lake.Snapshots.readKeyProbe]], then batch-neighborhood row
    * pruning via broadcast semi-join — probe cost tracks the batch,
    * never the registry); sentence BODIES never touch the index, history
    * text is never rescanned.
    */
  def spanDedupBatch(spark: SparkSession, indexTable: String,
      batchDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // sentence segmentation and span keying come from Curation's shared
    // definitions (c4SentenceArr/c4SpanKey) — one definition with the
    // one-shot rule, which is what makes the fold ≡ one-shot argument
    // hold by construction rather than copy discipline. The r21 array
    // form (the c4SpanDedup rewrite): ONE row per doc carries the
    // sentence array, span keys derive per doc via posexplode +
    // element_at, and the rebuild is a map-side indexed array filter —
    // the lead window, its doc-keyed exchange, and the sentence-row
    // join all disappear; the batch still tokenizes exactly once (the
    // eager checkpoint).
    val docsArr = batchDocs
      .select(col(idCol),
        graft.operators.Curation.c4SentenceArr(col(textCol)).as("__arr"))
      .localCheckpoint(true)
    val spans = docsArr
      .select(col(idCol), col("__arr"),
        posexplode(col("__arr")).as(Seq("pos", "sent")))
      .filter(col("pos") <= size(col("__arr")) - 3)
      .select(col(idCol), col("pos"),
        graft.operators.Curation.c4SpanKey(col("sent"),
          element_at(col("__arr"), col("pos") + 2),
          element_at(col("__arr"), col("pos") + 3)).as("h"))
    val batchAgg = spans.groupBy(col("h"))
      .agg(min(struct(col(idCol).as("d"), col("pos").as("p"))).as("w"),
        count(lit(1)).as("c"))
      .select(col("h"), col("w.d").as("wdoc"), col("w.p").as("wpos"),
        col("c"))
    val indexed = Snapshots.currentVersion(indexTable).isDefined
    // registry keys the batch touches, with the replaying batch's own
    // registrations dropped up front (the paragraphDedupBatch posture).
    // The scan is zone-map key-probe pruned first (commits cluster the
    // registry on h — see the commit below), then the broadcast semi-join
    // bounds the shuffle by the batch exactly (file pruning is coarse)
    val registered =
      if (!indexed) batchAgg.select(col("h")).limit(0)
      else probeRead(spark, indexTable, "h", batchAgg.select(col("h")))
        .join(docsArr.select(col(idCol).as("wdoc")), Seq("wdoc"), "left_anti")
        .select(col("h"))
        .join(broadcast(batchAgg.select(col("h"))), Seq("h"), "left_semi")
    val flagged = spans
      .join(batchAgg.select(col("h"), col("wdoc"), col("wpos"),
        col("c")), Seq("h"))
      .join(registered.withColumn("__reg", lit(true)), Seq("h"), "left")
      .filter(col("__reg").isNotNull ||
        (col("c") > 1 &&
          !(col(idCol) === col("wdoc") && col("pos") === col("wpos"))))
    val cuts = flagged
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + 2)).as("pos"))
      .groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("__cuts"))
    val out = docsArr.filter(size(col("__arr")) > 0)
      .join(cuts, Seq(idCol), "left")
      .withColumn("__cuts",
        coalesce(col("__cuts"), array().cast("array<int>")))
      .select(col(idCol),
        size(col("__arr")).cast("long").as("n_sents"),
        size(col("__cuts")).cast("long").as("n_cut"),
        array_join(
          filter(col("__arr"),
            (s, i) => !array_contains(col("__cuts"), i)),
          " ").as("text_clean"))
      // emissions materialize BEFORE the registry commit
      .localCheckpoint(true)
    val fresh = batchAgg
      .join(registered, Seq("h"), "left_anti")
      .select(col("h"), col("wdoc"), col("wpos"))
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
    // key-clustered commits keep the registry readKeyProbe-prunable as
    // it grows (recluster() merges per-commit runs at maintenance time)
    if (indexed) Snapshots.mergeUpsert(spark, indexTable, fresh, "h",
      clusterBy = Seq("h"))
    else Snapshots.append(fresh, indexTable, clusterBy = Seq("h"))
    out
  }
}
