package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup is one hash-shuffle on the fingerprint — the only full
  *     shuffle in the family, and it moves only (fingerprint, id) pairs,
  *     not document bodies.
  *   - MinHash LSH never builds the quadratic pair space: docs are bucketed
  *     by band signature (shuffle keyed on the signature), and only
  *     same-bucket pairs are generated. Bucket width (rows per signature)
  *     bounds the blowup; skew-prone signatures can be salted or capped.
  *   - verification joins shingle sets only for candidate pairs.
  */
object Dedup {

  /** Exact dedup on normalized content: one row per fingerprint with the
    * representative (min id) and the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(contentFingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct shingle sets: (doc, sh, n_sh). The single pass every LSH
    * stage derives from — persist it when feeding several stages so text
    * is tokenized once, not per signature.
    */
  def shingleFrame(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2): DataFrame =
    // tokens materialize as their own projection: inside the shingle
    // lambda each element_at then references a bound attribute — without
    // this the split/filter re-evaluates per gram (no CSE inside
    // higher-order-function lambdas) and shingling goes quadratic.
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("__tk"))
      .select(col("doc"), array_distinct(wordShingles(col("__tk"), shingleN)).as("sh"))
      .withColumn("n_sh", size(col("sh")))

  /** Stage ceil(k/4) salted hash arrays next to the shingle set, so k
    * MinHash elements cost k/4 md5 passes (each md5 yields 4 chunk
    * hashes). Hash arrays are their own projection — lambda CSE again.
    */
  private def withHashArrays(sets: DataFrame, numHashes: Int): DataFrame = {
    val nSalts = (numHashes + 3) / 4
    val salted = (0 until nSalts).map(s => saltedHashes(col("sh"), s).as(s"__hs$s"))
    sets.select((sets.columns.map(col).toIndexedSeq ++ salted): _*)
  }

  private def chunkMinhash(j: Int): Column = minhashChunk(col(s"__hs${j / 4}"), j % 4)

  /** Per-document MinHash signature (md5-chunk family), `numHashes`
    * elements.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int = 2): DataFrame = {
    val sets = withHashArrays(shingleFrame(df, idCol, textCol, shingleN), numHashes)
    val sigs = (0 until numHashes).map(j => chunkMinhash(j).as(s"mh$j"))
    sets.select((col("doc").as(idCol) +: sigs).toIndexedSeq: _*)
  }

  /** LSH candidate pairs from a shingle frame: docs agreeing on a whole
    * band of `rowsPerBand` MinHashes. One shuffle keyed on (band, sig) —
    * the quadratic pair space is never materialized, only same-bucket
    * pairs.
    */
  def lshCandidatePairs(sets: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucketSize: Option[Int] = Some(1000)): DataFrame =
    bandedCandidatePairs(lshKeyedBuckets(sets, bands, rowsPerBand),
      "doc", Seq("band", "sig"), maxBucketSize)

  /** WIDE per-document band signatures: (doc, band0..band{bands-1}).
    * The storable form of the LSH keys — one row per document, so a
    * growing dedup index can persist signatures next to the shingle set
    * and re-derive the (band, sig) bucket keys by a cheap unpivot on
    * read instead of re-hashing the corpus every batch.
    */
  def lshBandSignatures(sets: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val staged = withHashArrays(sets, bands * rowsPerBand)
    val bandSigs = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => chunkMinhash(b * rowsPerBand + r))
      concat_ws("#", parts: _*).as(s"band$b")
    }
    staged.select((col("doc") +: bandSigs).toIndexedSeq: _*)
  }

  /** Unpivot [[lshBandSignatures]] back to the (doc, band, sig) bucket
    * frame — the read path of a signature-bearing index table.
    */
  def explodeBandSignatures(wide: DataFrame, bands: Int): DataFrame =
    wide.select(col("doc"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), col(s"band$b").as("sig"))): _*)).as("bs"))
      .select(col("doc"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** The (doc, band, sig) bucket frame the LSH pairing strategies share —
    * exposed so callers can choose the pairing schedule: capped
    * ([[bandedCandidatePairs]], the default) or complete-with-bounded-
    * tasks ([[blockedCandidatePairs]]).
    */
  def lshKeyedBuckets(sets: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    explodeBandSignatures(lshBandSignatures(sets, bands, rowsPerBand), bands)

  /** [[lshKeyedBuckets]] carrying each doc's FULL ordered band-signature
    * array (`__sigs`) on every bucket row — the input shape
    * [[blockedCandidatePairs]]' `crossBandDedup` mode needs to dedup
    * pairs across bands WITHOUT a pair-set distinct (guide §2.4): a pair
    * sharing several band buckets is emitted only from its FIRST shared
    * band, decided per emitted pair from the two sig arrays, so the
    * quadratic pair space never pays a dedup exchange. Cost: `bands`
    * extra sig strings ride each (linear-sized) bucket row.
    */
  def lshKeyedBucketsWithSigs(sets: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val wide = lshBandSignatures(sets, bands, rowsPerBand)
    wide.select(col("doc"),
        array((0 until bands).map(b => col(s"band$b")): _*).as("__sigs"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), col(s"band$b").as("sig"))): _*)).as("bs"))
      .select(col("doc"), col("bs.band").as("band"), col("bs.sig").as("sig"),
        col("__sigs"))
  }

  /** The shared banded-LSH pairing core — ONE implementation for every
    * banded family (MinHash here, hyperplane sign sketches, perceptual
    * hashes): cap hot buckets, pair ids within each bucket, dedup across
    * bands.
    *
    * Skew guard, ON BY DEFAULT: a degenerate bucket value (empty docs,
    * boilerplate, all-zero sketches) makes one bucket quadratic. Capping
    * bucket width bounds the worst pair count at buckets×cap² — at corpus
    * scale an uncapped hot bucket is a straggler task that never
    * finishes. Capped-out buckets are degenerate clusters, not near-dup
    * signal; callers that need exhaustive pairs (small corpora, oracle
    * checks) pass None. The count is a WINDOW over the bucket key, not a
    * groupBy+self-join: one exchange instead of two, and the result stays
    * partitioned on `keyCols` — exactly what the pair self-join needs, so
    * the planner reuses the exchange instead of reshuffling.
    */
  def bandedCandidatePairs(keyed: DataFrame, idCol: String,
      keyCols: Seq[String], maxBucketSize: Option[Int]): DataFrame =
    maxBucketSize match {
      // complete pairing routes through the BLOCKED schedule: identical
      // pair set to the plain self-join (q140's oracle is the proof),
      // but a hot bucket's quadratic work tiles across the cluster
      // instead of landing in one straggler task — every uncapped
      // caller (text LSH, perceptual bands, sign sketches) inherits it
      case None => blockedCandidatePairs(keyed, idCol, keyCols)
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
        val bounded = keyed.withColumn("__bucket_n", count(lit(1)).over(w))
          .filter(col("__bucket_n") <= cap).drop("__bucket_n")
        bounded.select(keyCols.map(col) :+ col(idCol).as("id1"): _*)
          .join(bounded.select(keyCols.map(col) :+ col(idCol).as("id2"): _*),
            keyCols)
          .filter(col("id1") < col("id2"))
          .select(col("id1"), col("id2")).distinct()
    }

  /** COMPLETE candidate pairing with BOUNDED tasks — the third option in
    * the hot-bucket space (the cap DROPS pathological buckets; this keeps
    * every pair but schedules the quadratic bucket in blocks): bucket
    * rows are numbered in id order and grouped into ceil(B/blockSize)
    * chunks; each row replicates to the (its-chunk, laterChunk) cells of
    * the bucket's upper-triangular schedule and the pair join keys on
    * (bucket, cell) — so no single task ever holds more than ~blockSize²
    * pairs, while the pair SET is EXACTLY the uncapped join's
    * (OperatorsSpec gates the equality). Total pair volume stays O(Σ B²)
    * — inherent to complete pairing — but it arrives as uniform
    * cluster-wide tasks instead of one straggler per boilerplate bucket.
    * Chunking in id order makes every cross-chunk pair already id1 < id2;
    * only the diagonal cells need the in-cell ordering filter.
    *
    * `hotThreshold` is the PER-TASK pair-volume dial, decoupled from the
    * tile width: buckets at or under it take the plain within-bucket
    * join (worst case ~hotThreshold²/2 pairs in the task owning that
    * bucket — the default 4096 bounds a task at ~8M generated id pairs,
    * a sub-second unit), buckets over it tile into blockSize chunks.
    * Callers that need a tighter task bound pass hotThreshold down with
    * blockSize (as q140 does); the two defaults are independent on
    * purpose — shrinking the tile width should not drag every mid-size
    * bucket into the schedule's replication overhead.
    *
    * The density dial (small/hot split) is EAGER at call time: the
    * input is pinned (below), then one shuffle-free mapPartitions
    * stage hash-counts bucket keys per partition and collects only the
    * over-threshold candidates — bounded by n/hotThreshold by
    * construction — which compile into codegen'd set-membership
    * filters routing each row to the plain or tiled branch. (The
    * in-plan broadcast anti/semi variant was measured SLOWER: its
    * agg+broadcast stages serialize into the critical path — the
    * inline A/B numbers below.) The dial is advisory only — it picks
    * the schedule, never the pair set.
    *
    * The input is pinned before anything reads it: a caller-persisted
    * frame whose cached layout is already hash-partitioned by (a
    * subset of) the bucket key is used as-is; anything else —
    * including a persisted frame with the WRONG layout — is
    * repartitioned on the bucket key and eagerly localCheckpointed.
    * This guarantees an expensive banding derivation runs ONCE, not
    * once per consumer (the dial stage + both pairing branches + the
    * chunk windows). The checkpoint is RDD storage reclaimed by the
    * ContextCleaner, so callers inherit no CacheManager entry.
    */
  def blockedCandidatePairs(keyed: DataFrame, idCol: String,
      keyCols: Seq[String], blockSize: Int = 1024,
      hotThreshold: Int = 4096, crossBandDedup: Option[Int] = None): DataFrame = {
    require(blockSize >= 2, s"blockSize must be >= 2, got $blockSize")
    require(hotThreshold >= 2, s"hotThreshold must be >= 2, got $hotThreshold")
    // crossBandDedup = Some(bands): the keyed frame carries each doc's
    // ordered band-signature array (`__sigs` — lshKeyedBucketsWithSigs),
    // and a pair colliding in SEVERAL bands is emitted only from the
    // FIRST shared band — decided per emitted pair from the two arrays,
    // so the final pair-set `distinct()` (a full exchange of the
    // QUADRATIC pair space, guide §2.4) disappears; only the linear
    // bucket rows widen by `bands` sig strings. The pair SET is
    // identical: within one bucket a pair is produced once (id1 < id2
    // over distinct ids), and across bands exactly one shared band is
    // the first.
    crossBandDedup.foreach { bands =>
      require(bands >= 1, s"crossBandDedup bands must be >= 1: $bands")
      require(keyed.columns.contains("__sigs") && keyCols.contains("band"),
        "crossBandDedup needs a __sigs column (lshKeyedBucketsWithSigs) " +
          "and 'band' among keyCols")
    }
    def firstSharedBand(bands: Int): Column =
      coalesce((0 until bands).map(b =>
        when(element_at(col("__sg1"), b + 1) ===
          element_at(col("__sg2"), b + 1), lit(b))) :+ lit(-1): _*)
    val carry = if (crossBandDedup.isDefined) Seq("__sigs") else Nil
    val nParts = keyed.sparkSession.sessionState.conf.numShufflePartitions
    // The parallelism pin lives in the checkpoint materialization, paid
    // once: repartition on the bucket key BEFORE checkpointing, so the
    // LogicalRDD carries hashpartitioning(keyCols, nParts) and every
    // consumer — the sizing agg, the hot window, the self-join — reads a
    // 32-way-partitioned (locally) input with NO further exchange. This
    // is what prevents the q55-class straggler: a slim narrow chain from
    // a 1–2-file parquet scan would otherwise feed the expanding pair
    // join with 1–2 stream partitions and the quadratic output lands in
    // one task (measured: 147 s max task on the uncapped 10× probe). A
    // caller-persisted frame is trusted ONLY when its cached layout is
    // already hash-partitioned by (a subset of) the bucket key — then
    // every bucket lives in exactly one partition and the self-join
    // reuses the layout with no exchange (the layout the round-15 pairing
    // A/B persisted, BENCHNOTES.md). Any OTHER persisted layout is
    // re-pinned like an unpersisted input: trusting it would hand the
    // expanding join an AQE-sized exchange over slim input bytes — the
    // straggler class this pin exists to prevent.
    val persistedCoLocated =
      keyed.storageLevel != org.apache.spark.storage.StorageLevel.NONE && {
        import org.apache.spark.sql.catalyst.expressions.AttributeReference
        import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        import org.apache.spark.sql.execution.columnar.InMemoryRelation
        val keyNames = keyCols.map(_.toLowerCase).toSet
        // the cached plan hides behind TWO wrappers: the persisted frame
        // plans as InMemoryRelation, whose cachedPlan is an
        // AdaptiveSparkPlanExec reporting UnknownPartitioning at the
        // wrapper — the real layout lives on its current physical plan
        // (final after materialization; the initial shuffle plan's
        // partitioning is equally truthful before). No job is triggered.
        keyed.queryExecution.optimizedPlan.collectFirst {
          case r: InMemoryRelation => r.cachedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan.outputPartitioning
            case p => p.outputPartitioning
          }
        }.exists {
          case h: HashPartitioning if h.numPartitions > 1 =>
            h.expressions.nonEmpty && h.expressions.forall {
              case a: AttributeReference =>
                keyNames.contains(a.name.toLowerCase)
              case _ => false
            }
          case _ => false
        }
      }
    val pinned =
      if (persistedCoLocated) keyed
      else keyed.repartition(nParts, keyCols.map(col): _*)
        .localCheckpoint(true)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    // Density dial (round-11 30× finding, SCALING.md closing section): a
    // bucket that fits in ONE block gains nothing from the schedule —
    // its whole upper triangle is the single diagonal cell — yet the
    // general path still charges it the row_number sort, the explode,
    // and the widened join key. At uniform density that overhead
    // exceeded the straggler it insures against (q32 30×: 14.3 s
    // blocked vs 9.1 s plain). So: buckets ≤ hotThreshold take the plain
    // within-bucket join; only genuinely hot buckets tile. The pair SET
    // is unchanged (OperatorsSpec gates equality), and the worst task
    // stays bounded — ≤ hotThreshold² pairs per small bucket,
    // ~blockSize² per hot-bucket cell.
    // Both pairing joins below EXPAND: their input is slim id tuples but
    // the join output is the quadratic pair space, so join parallelism
    // must come from the INPUT's partition layout (the pinned checkpoint
    // above), never from an AQE-sized exchange — AQE only sees input
    // bytes. The small self-join therefore runs directly over `pinned`
    // (broadcast-hash at modest sizes — zero exchanges; sort-merge on
    // the pinned layout otherwise); only the hot-cell join below keeps
    // an EXPLICIT repartition, because its cell key (`keyCols, __cell`)
    // differs from the pinned layout and its expansion is the extreme
    // case the schedule exists for.
    // EAGER dial over the PINNED input, ONE shuffle-free stage (~0.1 s
    // at the 30× pairing A/B shape; the earlier groupBy-count+collect job
    // paid a 155k-group shuffle ≈ 0.27 s, and an in-plan broadcast
    // subtree was slower still at 0.37 s — its agg+broadcast stages
    // serialize into the critical path): each partition hash-counts its
    // bucket keys locally and emits only OVER-THRESHOLD candidates, so
    // nothing shuffles and the collect is tiny. Bucket identity is the
    // 64-bit xxhash of the key columns — a collision merely routes one
    // extra bucket to the tiled branch, never changes the pair set
    // (both branches compute complete within-bucket pairs; the split
    // only picks the schedule). Both pin paths co-locate buckets (a
    // hash layout on the key or a subset of it puts a bucket in exactly
    // ONE partition), so local counts are exact global counts. The dial
    // can never disagree with the rows the branches read — both consume
    // the same materialized `pinned` (the round-13 consistency finding).
    val keyHash = xxhash64(keyCols.map(col): _*)
    val localThreshold = hotThreshold.toLong + 1
    val candidates: Array[Long] = pinned
      .select(keyHash)
      .as(org.apache.spark.sql.Encoders.scalaLong)
      .mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[Long, Long]
        it.foreach(h => counts.update(h, counts.getOrElse(h, 0L) + 1L))
        counts.iterator.collect {
          case (h, n) if n >= localThreshold => h
        }
      }(org.apache.spark.sql.Encoders.scalaLong)
      .collect().distinct
    // With no hot bucket the whole blocked apparatus — split filters,
    // chunk windows, cell replication — is pure overhead, so the
    // uniform case returns the plain bucket join outright: skew
    // insurance is only priced when skew exists (the premium BENCHNOTES.md
    // measured in the pairing A/B).
    def pairGate: Column = crossBandDedup match {
      case Some(bands) => col("id1") < col("id2") &&
        firstSharedBand(bands) === col("band")
      case None => col("id1") < col("id2")
    }
    def dedupOut(pairs: DataFrame): DataFrame =
      if (crossBandDedup.isDefined) pairs.select(col("id1"), col("id2"))
      else pairs.select(col("id1"), col("id2")).distinct()
    if (candidates.isEmpty) {
      return dedupOut(pinned
        .select(keyCols.map(col) ++ Seq(col(idCol).as("id1")) ++
          carry.map(c => col(c).as("__sg1")): _*)
        .join(pinned.select(keyCols.map(col) ++ Seq(col(idCol).as("id2")) ++
          carry.map(c => col(c).as("__sg2")): _*), keyCols)
        .filter(pairGate))
    }
    // codegen'd set-membership filters, not anti/semi joins: every row
    // routes to exactly one branch by its bucket hash. If a pathological
    // layout yields a candidate set too large to inline as a literal,
    // tile EVERYTHING — always correct, always bounded-task.
    val isHot =
      if (candidates.length > (1 << 20)) lit(true)
      else keyHash.isInCollection(candidates.toSeq)
    val small = pinned.filter(!isHot)
    val hot = pinned.filter(isHot)
    val smallPairs = small
      .select(keyCols.map(col) ++ Seq(col(idCol).as("id1")) ++
        carry.map(c => col(c).as("__sg1")): _*)
      .join(small.select(keyCols.map(col) ++ Seq(col(idCol).as("id2")) ++
        carry.map(c => col(c).as("__sg2")): _*), keyCols)
      .filter(pairGate)
      .select(col("id1"), col("id2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    val chunked = hot
      .withColumn("__chunk",
        ((row_number().over(w) - 1) / blockSize).cast("int"))
      .withColumn("__nchunks",
        ceil(count(lit(1)).over(wAll) / lit(blockSize.toDouble)).cast("int"))
    val cellKey = keyCols :+ "__cell"
    val left = chunked.select(
        keyCols.map(col) ++ Seq(col(idCol).as("id1"), col("__chunk").as("__ca"),
          explode(sequence(col("__chunk"), col("__nchunks") - 1)).as("__cell")) ++
          carry.map(c => col(c).as("__sg1")): _*)
      .repartition(nParts, cellKey.map(col): _*)
    val right = chunked.select(
        keyCols.map(col) ++ Seq(col(idCol).as("id2"), col("__chunk").as("__cell")) ++
          carry.map(c => col(c).as("__sg2")): _*)
      .repartition(nParts, cellKey.map(col): _*)
    val hotPairs = left.join(right, cellKey)
      .filter(col("__ca") < col("__cell") || col("id1") < col("id2"))
      .filter(crossBandDedup.map(firstSharedBand(_) === col("band"))
        .getOrElse(lit(true)))
      .select(col("id1"), col("id2"))
    if (crossBandDedup.isDefined) smallPairs.unionAll(hotPairs)
    else smallPairs.unionAll(hotPairs).distinct()
  }

  /** Exact n-gram Jaccard for candidate pairs: fetch both shingle arrays
    * (two hash joins on doc id) and intersect per pair in one codegen'd
    * expression — no exploded shuffle of candidates × shingles.
    * common = |{s ∈ A : s ∈ B}| over distinct sets; J = common/(n1+n2−common).
    */
  def jaccardVerify(sets: DataFrame, candidates: DataFrame,
      minJaccard: Double = 0.0): DataFrame = {
    val s1 = sets.select(col("doc").as("id1"), col("sh").as("sh1"), col("n_sh").as("n1"))
    val s2 = sets.select(col("doc").as("id2"), col("sh").as("sh2"), col("n_sh").as("n2"))
    candidates.join(s1, "id1").join(s2, "id2")
      // fused native count: hash set of the smaller side, membership scan
      // of the other — no intermediate intersection array per pair
      .withColumn("common", graft.plans.CommonCount(col("sh1"), col("sh2")).cast("long"))
      // a pair of two EMPTY shingle sets has denominator 0 — Jaccard is
      // undefined and the pair carries no similarity evidence, so it is
      // EXCLUDED (not scored 1.0, not an ANSI divide-by-zero). Such pairs
      // reach here when a pipeline stage empties a doc's text and the
      // pairing schedule buckets the empties together (q199 at 10×)
      .filter(col("n1") + col("n2") > 0)
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("common"), col("jaccard"))
  }

  /** Edit-distance verification over LSH candidates — the record-linkage
    * fuzzy join: candidate generation stays the banded-minhash machinery
    * (sublinear, no all-pairs), verification is character-level Levenshtein
    * instead of shingle Jaccard — the measure record-linkage and title/
    * citation dedup actually want (insertions/deletions/typos, not token
    * overlap). Verification uses Spark's THRESHOLDED levenshtein: the
    * banded O(maxDist·n) algorithm short-circuits to -1 past the bound, so
    * per-pair cost is bounded by the threshold, not the text length — the
    * 100 TB shape next to the candidate join's two hash joins on id.
    */
  def editDistanceVerify(texts: DataFrame, candidates: DataFrame,
      idCol: String, textCol: String, maxDist: Int): DataFrame = {
    val t1 = texts.select(col(idCol).as("id1"), col(textCol).as("__t1"))
    val t2 = texts.select(col(idCol).as("id2"), col(textCol).as("__t2"))
    candidates.join(t1, "id1").join(t2, "id2")
      .withColumn("lev", levenshtein(col("__t1"), col("__t2"), maxDist))
      .where(col("lev") >= 0)
      .select(col("id1"), col("id2"),
        length(col("__t1")).cast("long").as("len1"),
        length(col("__t2")).cast("long").as("len2"),
        col("lev").cast("long").as("lev"))
  }

  /** Connected components over duplicate pairs — the step that turns pair
    * DETECTION (LSH/SimHash/embedding blocking) into actual DEDUPLICATION:
    * transitively-linked documents form one cluster, the minimum id is the
    * canonical representative, and a pipeline keeps exactly the canonical
    * row of each cluster.
    *
    * Algorithm: min-label propagation with pointer doubling — each round a
    * node takes the min of its own label, its neighbors' labels, and its
    * label's label (`label(label(v))`, the doubling step that contracts
    * chains in O(log n) rounds instead of O(diameter)). Near-dup graphs
    * cluster tightly (diameter 2-4), so convergence is typically 2-3
    * rounds. Each round is two co-partitioned joins + one min-aggregation;
    * labels localCheckpoint eagerly per round, truncating lineage (the
    * standard requirement for iterative Spark — an uncheckpointed loop
    * re-executes every prior round per action). A third branch,
    * label(label(neighbor)), was measured and rejected (BENCHNOTES.md
    * round 15).
    *
    * @param nodes  (id) — every document to label; docs in no pair become
    *               their own singleton cluster.
    * @param pairs  (id1, id2) undirected duplicate/candidate edges.
    * @return (id, cluster_id, cluster_size, is_canonical)
    */
  def duplicateClusters(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    // materialize the edge list once: the loop joins it every round, and an
    // unmaterialized frame would re-execute the (expensive) pair-derivation
    // pipeline per round per action. Both endpoints are restricted to
    // `nodes` first — a stray pair id would otherwise inject ghost labels
    // and inflate cluster sizes.
    val ids = nodes.select(col("id"))
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .localCheckpoint(true)
    var labels = nodes.select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    val labelType = labels.schema("label").dataType
    // Scoped checkpoint release (r22): each round's label checkpoint is
    // DEAD the moment the next round's lazy checkpoint materializes in
    // the convergence count() — nothing downstream reads it — yet its
    // blocks otherwise sit in the unified-memory region until the
    // ContextCleaner or a harness-level settle drains them (the r9
    // sweep class: 60 queries in, accumulated blocks degraded the
    // checkpoint-loop queries 6x). Blocking-unpersist the superseded
    // round inside the loop so a long-lived session bounds its block
    // count at O(1) rounds, with no reliance on the bench's settle.
    var superseded = org.apache.spark.sql.GraftBridge.checkpointRdd(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      // neighbor labels: dst inherits src's current label
      val viaNeighbor = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      // pointer doubling: v proposes label(label(v))
      val l2 = labels.select(col("id").as("__lid"), col("label").as("__llabel"))
      val viaDouble = labels.join(l2, labels("label") === l2("__lid"))
        .select(col("id"), col("__llabel").as("label"))
      // The convergence probe rides the SAME aggregation (and the same
      // action) as the label update: the current-label branch carries its
      // label in `__old` (exactly one per id — max() recovers it), so
      // changed = (min proposal != __old) per row. A LAZY localCheckpoint
      // materializes during the count() — one job per round in the UI,
      // where an eager checkpoint + isEmpty probe was two.
      val proposed = ((labels.select(col("id"), col("label"), col("label").as("__old"))
        +: Seq(viaNeighbor, viaDouble).map(_.select(col("id"),
          col("label"), lit(null).cast(labelType).as("__old")))): Seq[DataFrame])
        .reduce(_.union(_))
        .groupBy("id").agg(min("label").as("label"), max("__old").as("__old"))
        .localCheckpoint(eager = false)
      converged = proposed.filter(col("label") =!= col("__old")).count() == 0
      // the count materialized this round's checkpoint — the previous
      // round's blocks are now unreachable by any future plan
      superseded.foreach(_.unpersist(true))
      superseded = org.apache.spark.sql.GraftBridge.checkpointRdd(proposed)
      labels = proposed.select("id", "label")
    }
    // the edge checkpoint served only the loop; the returned frame
    // derives from the FINAL round's labels alone
    org.apache.spark.sql.GraftBridge.checkpointRdd(edges)
      .foreach(_.unpersist(true))
    // A partially-converged labeling would place transitively-linked docs
    // in different clusters and be consumed as correct — fail loudly.
    if (!converged) sys.error(
      s"duplicateClusters did not converge within $maxRounds rounds — " +
        "raise maxRounds (pointer doubling needs O(log n) rounds)")
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id"), col("label").as("cluster_id"), col("cluster_size"),
        (col("id") === col("label")).as("is_canonical"))
  }

  /** Materialize the DEDUPLICATED corpus: keep exactly the canonical row
    * of each cluster (the pipeline end-product of
    * [[duplicateClusters]] — detection became deletion). A left-semi join
    * on the id: the cluster frame ships only ids, bodies never move, and
    * the canonical filter pushes below the join.
    */
  def keepCanonical(df: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    df.join(
      clusters.filter(col("is_canonical")).select(col("id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Keep the HIGHEST-QUALITY member of each near-dup cluster — the
    * arbitration production curation recipes apply instead of min-id
    * canonical: of transitively-linked duplicates, the SURVIVOR should
    * be the best copy (longest, cleanest, highest quality score), not an
    * arbitrary representative. Deterministic: per cluster, the row
    * minimizing (−score, id) — score ties break to the LOWEST id, so
    * the choice is total-ordered and engine-portable. Only the score is
    * negated (validated NUMERIC below); the id column never is — a
    * string id under arithmetic negation casts to double → NULL and
    * the tie-break silently degenerates to "whichever partial arrived
    * last" instead of failing.
    *
    * Scale shape: the argmax runs over the slim (id, cluster, score)
    * frame (one grouped `min_by` with map-side partials — never the
    * bodies); survivors come back as one semi join on the id. Bodies
    * never shuffle.
    */
  def keepBest(df: DataFrame, idCol: String, clusters: DataFrame,
      scoreCol: String): DataFrame = {
    require(df.schema(scoreCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBest score column '$scoreCol' must be numeric " +
        s"(got ${df.schema(scoreCol).dataType.simpleString}); the " +
        "ordering negates the score to express score-desc/id-asc")
    val scored = clusters.select(col("id"), col("cluster_id"))
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("__score")), "id")
    val best = scored.groupBy(col("cluster_id"))
      .agg(min_by(col("id"), struct(-col("__score"), col("id")))
        .as(idCol))
      .select(col(idCol))
    df.join(best, Seq(idCol), "left_semi")
  }

  /** SimHash near-dup keys: 16-bit signature + two 8-bit bands. Documents
    * within Hamming distance 8 share at least one band (pigeonhole), so
    * banding the signature gives candidate buckets without pair explosion.
    */
  def simhashKeys(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // stage tokens, then per-token hashes, then fold bits — each md5 runs
    // once per token (lambdas get no CSE; see shingleFrame)
    df.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), transform(col("__tk"), t => md5Hash32(t)).as("__h"))
      // packed counters staged as their own projection: the 16 per-bit
      // extractions then read an attribute, not 16 re-folds of the array
      .select(col(idCol), simhashPackedCounts(col("__h")).as("__pc"),
        size(col("__h")).as("__n"))
      .select(col(idCol),
        simhash16FromPacked(col("__pc"), col("__n")).as("simhash"))
      .withColumn("band_hi", shiftright(col("simhash"), 8))
      .withColumn("band_lo", col("simhash") % 256)

  /** Positional w-token span table: (doc, start, h) with start 1-based and
    * h = 64-bit xxhash64 of the space-joined token window. The Spark
    * substitute for a suffix array: exact repeated SUBSTRINGS (not
    * whole-document dups) are found by hashing every fixed-width window
    * and grouping — the detection half of substring-level dedup (repeated
    * boilerplate, licenses, navigation chrome), which document-level
    * dedup provably misses. Payload per span is (8-byte hash, id, int) —
    * bodies never move, and the group-by needs only counts, never the
    * pair space. The DICTIONARY-ENCODED long key is the q116 convention
    * ([[graft.operators.TextAnalysis.bigramFamiliarity]]): every
    * downstream consumer uses h only for grouping / canonical selection,
    * never in output columns, so swapping the md5 hex string for the
    * codegen'd 8-byte hash is result-neutral unless two distinct window
    * texts collide in 64 bits (≈ n²/2⁶⁵; a collision would merge two
    * span groups, which the string-keyed sf0.1 oracle would catch).
    */
  def spanTable(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    spanTableFromTokens(InvertedIndex.tokenized(df, idCol, textCol), w)

  /** [[spanTable]] from a pre-tokenized (doc, tk) frame
    * (InvertedIndex.tokenized) — lets a query that also builds postings
    * share ONE persisted tokenize pass across both derivations.
    */
  def spanTableFromTokens(tok: DataFrame, w: Int): DataFrame =
    // posexplode_outer + isNotNull, NOT posexplode: InferFiltersFromGenerate
    // would clone the full shingle derivation (tokens re-inlined per lambda
    // reference) into a pre-Generate filter — the q58 generator-pushdown
    // trap; see Curation.scala:92
    tok.select(col("doc"), posexplode_outer(wordShingles(col("tk"), w)))
      .filter(col("col").isNotNull)
      .select(col("doc"), (col("pos") + 1).as("start"),
        xxhash64(col("col")).as("h"))

  /** Spans whose window text occurs >= 2 times corpus-wide (within- OR
    * cross-doc — substring dedup removes both). One count-shuffle on the
    * span hash, then a left-semi back onto the span table; `ndocs` rides
    * along so callers can distinguish cross-doc boilerplate from
    * within-doc repetition.
    */
  def duplicatedSpans(spans: DataFrame): DataFrame = {
    // two-level agg instead of count + countDistinct in one groupBy: the
    // mixed-distinct rewrite EXPANDs the span exchange to 2× rows; the
    // (h, doc) pre-agg ships each distinct pair once and derives both
    // counts from the slim second level
    val dup = spans.groupBy(col("h"), col("doc"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("h"))
      .agg(sum(col("__n")).as("n_occ"), count(lit(1)).as("ndocs"))
      .filter(col("n_occ") >= 2)
    spans.join(dup, "h")
      .select(col("doc"), col("start"), col("h"), col("n_occ"), col("ndocs"))
  }

  /** [[duplicatedSpans]] without the cross-doc occurrence split: emission
    * callers (q110) only need WHICH spans are duplicated, so the
    * countDistinct(doc) — a two-phase distinct-expand on the span
    * exchange — is dropped and detection is one plain count-shuffle.
    */
  def duplicatedSpansLite(spans: DataFrame): DataFrame = {
    val dup = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("h"))
    spans.join(dup, "h").select(col("doc"), col("start"), col("h"))
  }

  /** Per-doc duplicated-token coverage: the number of token positions
    * covered by at least one duplicated span (union of [start, start+w)
    * intervals). One aggregation shipping each START once, with the
    * interval union computed natively per doc (r22 — the explode form
    * multiplied the coverage shuffle by w and paid a distinct-aggregate
    * exchange on (doc, position) rows); counts are exact integers →
    * oracle-portable.
    */
  def dupSpanCoverage(dupSpans: DataFrame, w: Int): DataFrame =
    dupSpans
      .groupBy(col("doc"))
      .agg(graft.plans.SpanCoverage(collect_list(col("start")), w)
        .as("covered_tokens"))

  /** Substring-dedup EMISSION — detection became deletion at the SPAN
    * level (document-level keepCanonical can't remove boilerplate from
    * otherwise-distinct docs): every token covered by a non-canonical
    * duplicated span is dropped and the cleaned token stream rebuilt.
    * Canonical = the lexicographically-first (doc, start) occurrence of
    * the span text, so exactly one copy of each repeated substring
    * survives corpus-wide; overlapping-span interactions resolve by the
    * simple covered-position rule (a position is dropped iff any
    * non-canonical span covers it) — deterministic and oracle-mirrorable.
    *
    * Shape: one window rank over the dup-span table (partitioned by span
    * hash — tiny payload), covered positions exploded only for
    * non-canonical spans (≤ w × dup count), one anti-join against the
    * postings, and a per-doc rebuild. The rebuild groupBy is the only
    * place token bodies move — inherent to emission; everything before it
    * ships (hash, id, int) tuples.
    *
    * @param post     (term, doc, pos) postings — see InvertedIndex.postings
    * @param dupSpans output of [[duplicatedSpans]]
    * @return (doc, n_kept, clean_text)
    */
  def removeDuplicatedSpans(post: DataFrame, dupSpans: DataFrame,
      w: Int): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc"), col("start"))
    val nonCanon = dupSpans.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") > 1)
    val covered = nonCanon.select(col("doc"),
      explode(sequence(col("start"), col("start") + (w - 1))).as("pos"))
      .distinct()
    post.join(covered, Seq("doc", "pos"), "left_anti")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("term")))),
          s => s.getField("term")), " ").as("clean_text"))
  }

  /** Array-native form of [[removeDuplicatedSpans]] for callers that hold a
    * (persisted) tokenized frame: the cleaned doc is rebuilt by MASKING the
    * token array against the doc's covered-position set instead of
    * anti-joining exploded postings — token bodies never shuffle (only the
    * covered positions move, bounded by w x dup-span count), there is no
    * per-token groupBy, and output order is the array order for free. The
    * per-token mask test is array_contains over the doc's covered set —
    * O(|cov|) per token, all inside one codegen'd projection; the
    * postings/anti-join form instead ships EVERY corpus token through two
    * shuffles. Semantics identical: a position is dropped iff a
    * non-canonical duplicated span covers it; token-less docs are absent.
    */
  def removeDuplicatedSpansFromTokens(tok: DataFrame, dupSpans: DataFrame,
      w: Int): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc"), col("start"))
    val nonCanon = dupSpans.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") > 1)
    val covSet = nonCanon.select(col("doc"),
        explode(sequence(col("start"), col("start") + (w - 1))).as("pos"))
      .groupBy(col("doc")).agg(collect_set(col("pos")).as("__cov"))
    tok.filter(size(col("tk")) > 0)
      .join(covSet, Seq("doc"), "left")
      .select(col("doc"),
        when(col("__cov").isNull, col("tk"))
          .otherwise(filter(col("tk"),
            (_, i) => not(array_contains(col("__cov"), i + 1)))).as("__kept"))
      .select(col("doc"), size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every k-token gram,
    * slide a w-wide window over the hash sequence, keep each window's
    * minimum — a guarantee-bearing selection (any shared run of w+k-1
    * tokens shares at least one fingerprint) at ~1/w the density of full
    * shingling. Returns (doc, fp) with the per-doc DISTINCT fingerprint
    * set exploded.
    *
    * Everything is per-row array arithmetic (no shuffle): gram md5s are
    * staged as their own projection (lambda CSE), window minima are
    * slice+array_min — O(n·w) per doc with w small. Fingerprints are
    * 8-hex-char md5 chunks: lexicographic min agrees across engines on
    * the hex alphabet.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "winnowFingerprints needs k >= 1 and w >= 1")
    val fps = df
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("__tk"))
      .select(col("doc"), wordShingles(col("__tk"), k).as("__g"))
      .select(col("doc"),
        transform(col("__g"), g => substring(md5(g), 1, 8)).as("__h"))
      .select(col("doc"), when(size(col("__h")) >= w,
          array_distinct(transform(sequence(lit(0), size(col("__h")) - w),
            i => array_min(slice(col("__h"), i + 1, lit(w))))))
        .otherwise(array_distinct(when(size(col("__h")) > 0,
          array(array_min(col("__h")))).otherwise(array().cast("array<string>"))))
        .as("fps"))
    // explode_outer + isNotNull: a plain explode's inferred `size(fps) > 0`
    // filter inlines the ENTIRE window-min derivation with the token array
    // re-derived inside every lambda reference — measured 842 s (vs ~1 s)
    // over sf0.1 before this. See Curation.scala:92.
    fps.select(col("doc"), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
  }

  /** Doc pairs ranked by shared winnowing fingerprints. Same bucket shape
    * as the LSH families: group docs by fingerprint (one exchange), cap
    * pathological buckets (a fingerprint shared by B docs yields B² pairs
    * — boilerplate hashes are exactly the skew case), pair within the
    * bucket, then count distinct shared fingerprints per pair. The cap is
    * a deterministic window count, so an oracle can mirror it exactly.
    */
  /** Content-defined chunking (CDC) — the rolling-hash chunker of
    * large-scale storage/corpus dedup, in its STATELESS gear-style form:
    * a cut falls after character position i iff the hash of the fixed
    * `window`-char context ending at i is ≡ 0 mod `divisor`. Because the
    * cut test depends only on local content (not on the previous cut),
    * boundaries re-align after any insertion/edit — the CDC property that
    * makes chunk-hash dedup robust to shifted content where fixed-size
    * blocks are not — AND the whole derivation is pure per-row array
    * arithmetic: no sequential state, so it runs inside one codegen'd
    * projection and reproduces exactly in any engine (md5 window hashes,
    * codepoint-indexed substrings).
    *
    * Returns one row per chunk: (doc, chunk_idx, chunk_start, chunk_len,
    * chunk_hash). Expected chunk length ≈ `divisor` chars. Downstream
    * dedup is one hash-shuffle on chunk_hash moving (hash, doc, len)
    * triples — document bodies never shuffle, the Dedup family invariant.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 4, divisor: Int = 64): DataFrame = {
    require(window >= 1 && divisor >= 2,
      s"cdcChunks needs window >= 1, divisor >= 2; got $window, $divisor")
    val staged = df
      .select(col(idCol).as("doc"), lower(trim(col(textCol))).as("__nm"))
      .select(col("doc"), col("__nm"), length(col("__nm")).as("__len"))
    // cut positions in [window, len-1]: a cut at len would only split off
    // an empty trailing chunk, so it is excluded up front
    val cuts = when(col("__len") > window,
        filter(sequence(lit(window), col("__len") - 1), i =>
          conv(substring(md5(col("__nm").substr(i - (window - 1), lit(window))),
            1, 8), 16, 10).cast("long") % divisor === 0))
      .otherwise(array().cast("array<int>"))
    val withBounds = staged
      .select(col("doc"), col("__nm"),
        concat(array(lit(0)), cuts, array(col("__len"))).as("__bd"))
    val chunkStructs = transform(sequence(lit(1), size(col("__bd")) - 1), j =>
      struct(
        j.cast("long").as("chunk_idx"),
        element_at(col("__bd"), j).cast("long").as("chunk_start"),
        (element_at(col("__bd"), j + 1) - element_at(col("__bd"), j))
          .cast("long").as("chunk_len"),
        md5(col("__nm").substr(element_at(col("__bd"), j) + 1,
          element_at(col("__bd"), j + 1) - element_at(col("__bd"), j)))
          .as("chunk_hash")))
    // explode_outer + isNotNull — the generator-pushdown trap again
    // (see shingleFrame): an inferred size()>0 scan filter would inline
    // the whole cut derivation into the parquet scan
    withBounds
      .select(col("doc"), explode_outer(chunkStructs).as("__c"))
      .filter(col("__c").isNotNull && col("__c").getField("chunk_len") > 0)
      .select(col("doc"), col("__c.chunk_idx"), col("__c.chunk_start"),
        col("__c.chunk_len"), col("__c.chunk_hash"))
  }

  def winnowSharedPairs(fps: DataFrame,
      maxBucketSize: Option[Int] = Some(1000)): DataFrame = {
    val bounded = maxBucketSize match {
      case Some(cap) =>
        val win = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
        fps.withColumn("__bn", count(lit(1)).over(win))
          .filter(col("__bn") <= cap).drop("__bn")
      case None => fps
    }
    bounded.select(col("fp"), col("doc").as("id1"))
      .join(bounded.select(col("fp"), col("doc").as("id2")), "fp")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"))
  }
}
