package graft.queries

import graft.Tables
import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.util.Artifacts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, and IVF-bucketed
  * top-k as the scale path (corpus partitioned by nearest centroid,
  * queries probe one bucket). Cosines are sequential-fold doubles —
  * bit-identical to the scalar oracle, no tolerance needed.
  */
object Vectors {

  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id").as("id"), VectorFunctions.asDouble(col("embedding")).as("vec"))

  /** DuckDB scalar mirrors of VectorFunctions (sequential list_sum). */
  private def sqlDot(a: String, b: String) =
    s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"

  /** Build the q143 lake-resident IVF index: corpus assignments arrive in
    * three id-cut batches, each a pure APPEND of (id, vec, bucket) rows
    * into a snapshot table PARTITIONED BY BUCKET — batches are
    * doc-disjoint so the ANN index needs no merge at all (contrast
    * q109's stats fold), and partitioning by bucket is the searchable
    * layout: a probe reads ONLY its buckets' files. Centroids stay
    * frozen (the IVF contract — retraining is q93/q95's job).
    */
  private def ivfFold(s: SparkSession, dir: String, table: String): Unit = {
    import graft.lake.{Lake, Snapshots}
    val v = vecs(s, dir)
    val centroids = v.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val corpus = v.filter(col("id") >= 8)
    val maxId = corpus.agg(max(col("id"))).head.getLong(0)
    val cuts = Seq(
      col("id") < maxId / 3,
      col("id") >= maxId / 3 && col("id") < 2 * maxId / 3,
      col("id") >= 2 * maxId / 3)
    // Write distribution (guide §2.5 skew + §6 file sizing, r22): hash
    // on (bucket, id-salt) so a bucket directory is written by up to
    // `fanout` tasks. fanout is DERIVED FROM DATA VOLUME — estimated
    // batch bytes per bucket over the target output file size — so at
    // bench scale it is 1 (one file per bucket per batch, exactly the
    // r21 layout: an unclustered append wrote |parallelism| tiny files
    // per bucket and q143 paid 0.7 -> 2.9 s of per-file open cost,
    // and a fixed parallelism/8 fanout re-paid a third of that), while
    // at production scale a HOT bucket fans across enough writers to
    // keep each output file near the target instead of serializing the
    // whole bucket through ONE task (the r21 form's skew hazard). The
    // salt is a deterministic id-hash — never rand(): task retries
    // must reproduce the row→file assignment (guide §2.5).
    val targetFileBytes = s.conf.get(
      "spark.graft.ivf.targetFileBytes", (128L << 20).toString).toLong
    val batchBytesPerBucket = (corpus.queryExecution.optimizedPlan
      .stats.sizeInBytes / (8 * cuts.size)).toLong
    val fanout = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong,
      (batchBytesPerBucket + targetFileBytes - 1) / targetFileBytes))
    cuts.foreach { cut =>
      val assigned = Similarity.ivfAssign(corpus.filter(cut), centroids)
        .withColumn(Lake.PartitionCol, concat(lit("b"), col("bucket")))
        .repartition(col(Lake.PartitionCol),
          pmod(xxhash64(col("id")), lit(fanout)))
      Snapshots.append(assigned, table)
    }
  }

  /** Integer-domain dot over int8 code lists (exact — mirrors dotInt). */
  private def sqlDotInt(a: String, b: String) =
    s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"

  /** One unrolled integer-Lloyd round (assignment → per-dim rounded mean →
    * empty clusters keep codes) — chained `cent0 … centR` CTEs give the
    * q95 oracle the exact round-for-round mirror of
    * [[graft.operators.Similarity.kmeansTrainInt8]] in `exactRounds` mode.
    */
  private def sqlLloyd(r: Int): String = s"""
    asg$r AS (SELECT id, code, cid
              FROM (SELECT corpus.id, corpus.code, c.cid,
                      ROW_NUMBER() OVER (PARTITION BY corpus.id ORDER BY
                        list_sum(list_transform(range(1, 65), i ->
                          (code[i] - ccode[i]) * (code[i] - ccode[i]))), c.cid) AS rn
                    FROM corpus CROSS JOIN cent${r - 1} c)
              WHERE rn = 1),
    upd$r AS (SELECT cid, k AS dim,
                CAST(floor(SUM(code[k + 1])::DOUBLE / COUNT(*) + 0.5) AS BIGINT) AS x
              FROM asg$r, (SELECT unnest(range(0, 64)) AS k)
              GROUP BY cid, k),
    cent$r AS (SELECT p.cid, COALESCE(u.ccode, p.ccode) AS ccode
               FROM cent${r - 1} p LEFT JOIN
                 (SELECT cid, list(x ORDER BY dim) AS ccode
                  FROM upd$r GROUP BY cid) u ON u.cid = p.cid)"""

  /** q154/q155 shared: the corpus in q61's int8 code domain. Width-
    * pinned: the embeddings parquet scans as ONE partition, so without
    * the repartition the quantize pass serializes on a single task
    * (measured 0.9 s at the q161 checkpoint site).
    */
  private def pqCoded(s: SparkSession, dir: String): DataFrame =
    vecs(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("id"))
      .select(col("id"),
        VectorFunctions.quantizeInt8(col("vec"),
          VectorFunctions.int8Scale(col("vec"))).as("code"))

  /** The 8-row frozen PQ codebook (q63's corpus-rows-as-centroids
    * contract): collected once — bounded by construction (codebooks are
    * tiny by definition; the ≤64-centroid collect precedent) — so the
    * book travels as plan literals in encode and ADC.
    */
  private def pqBook(coded: DataFrame): Seq[(Long, Seq[Long])] =
    coded.filter(col("id") < 8).orderBy(col("id")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq

  /** Symmetric int8 codes of a DOUBLE[] column (mirrors quantizeInt8). */
  private def sqlCodes(v: String) =
    s"""list_transform($v, x -> greatest(-127, least(127,
       CAST(floor(x * (CASE WHEN list_max(list_transform($v, y -> abs(y))) > 0
                       THEN 127.0 / list_max(list_transform($v, y -> abs(y)))
                       ELSE 0.0 END) + 0.5) AS BIGINT))))"""

  /** q156/q157's TRAINED codebook, memoized per corpus like the folded
    * index itself: the book is an immutable per-corpus-snapshot artifact —
    * production trains it once and every encode/search ships it as plan
    * literals; the per-subspace Lloyd loop is ~a dozen driver jobs, so
    * re-training per query call was pure floor cost. Deterministic
    * (exactRounds integer Lloyd), so memoization cannot change results.
    * Subspaces=4, 2 exact rounds over the id≥8 corpus seeded by rows
    * id<8 — the fixture contract both queries and both oracles unroll.
    */
  private def trainedBook(coded: DataFrame, dir: String): Seq[(Long, Seq[Long])] =
    Artifacts.memo("vectors.pq_book", dir, Seq("embeddings"))(_ => {
      val seeds = coded.filter(col("id") < 8)
        .select(col("id").as("cid"), col("code"))
      Similarity.pqTrainCodebook(coded.filter(col("id") >= 8), seeds,
        subspaces = 4, maxRounds = 2)
    })

  /** One unrolled 16-dim Lloyd round over subspace `j`'s sub-vectors —
    * [[sqlLloyd]]'s shape re-parameterized for the PQ codebook training
    * (q156/q157): assignment/update/carry-forward read `sub$j` (the
    * corpus slice CTE) and chain `cent${j}_0 … cent${j}_R`, the exact
    * round-for-round mirror of [[graft.operators.Similarity.pqTrainCodebook]]'s
    * per-subspace [[graft.operators.Similarity.kmeansTrainInt8]] run.
    */
  private def sqlLloydSub(j: Int, r: Int, mat: String): String = s"""
    asg${j}_$r AS $mat(SELECT id, code, cid
              FROM (SELECT s.id, s.code, c.cid,
                      ROW_NUMBER() OVER (PARTITION BY s.id ORDER BY
                        list_sum(list_transform(range(1, 17), i ->
                          (code[i] - ccode[i]) * (code[i] - ccode[i]))), c.cid) AS rn
                    FROM sub$j s CROSS JOIN cent${j}_${r - 1} c)
              WHERE rn = 1),
    upd${j}_$r AS $mat(SELECT cid, k AS dim,
                CAST(floor(SUM(code[k + 1])::DOUBLE / COUNT(*) + 0.5) AS BIGINT) AS x
              FROM asg${j}_$r, (SELECT unnest(range(0, 16)) AS k)
              GROUP BY cid, k),
    cent${j}_$r AS $mat(SELECT p.cid, COALESCE(u.ccode, p.ccode) AS ccode
               FROM cent${j}_${r - 1} p LEFT JOIN
                 (SELECT cid, list(x ORDER BY dim) AS ccode
                  FROM upd${j}_$r GROUP BY cid) u ON u.cid = p.cid)"""

  /** Shared SQL scaffolding for the trained-PQ oracles (q156/q157):
    * int8 codes → 4 corpus sub-slice CTEs → per-subspace seeds → `rounds`
    * unrolled Lloyd rounds per subspace → the trained book as one
    * (j, cid, ccode16) CTE → trained-book PQ encode of the corpus.
    */
  private def sqlPqTrained(rounds: Int): String = {
    val subs = (0 until 4).map { j =>
      s"""sub$j AS (SELECT id, code[${j * 16 + 1}:${(j + 1) * 16}] AS code
                    FROM corpus),
          cent${j}_0 AS (SELECT id AS cid,
                           code[${j * 16 + 1}:${(j + 1) * 16}] AS ccode
                         FROM codes WHERE id < 8)"""
    }.mkString(",\n")
    s"$subs,\n${sqlPqTail(rounds)}"
  }

  /** [[sqlPqTrained]] over the RESIDUAL domain (q161): sub-vector slices
    * of the `res` CTE (code − coarse centroid), seeded by the first 8
    * corpus rows' residuals (id < 16 — corpus ids start at 8).
    */
  private def sqlPqTrainedRes(rounds: Int): String = {
    // every CTE here is MATERIALIZED: DuckDB inlines CTEs by default, and
    // the residual scaffold (res → 4 sub slices → per-round chains that
    // each reference the previous round twice) re-derives the whole
    // assignment chain per reference — the naive form measured ~28 s at
    // sf0.1 vs ~1.5 s materialized, identical results. q156/q157's
    // scaffold hangs off a cheap corpus scan and doesn't need it.
    val subs = (0 until 4).map { j =>
      s"""sub$j AS MATERIALIZED (SELECT id, res[${j * 16 + 1}:${(j + 1) * 16}] AS code
                    FROM res),
          cent${j}_0 AS MATERIALIZED (SELECT id AS cid,
                           res[${j * 16 + 1}:${(j + 1) * 16}] AS ccode
                         FROM res WHERE id < 16)"""
    }.mkString(",\n")
    s"$subs,\n${sqlPqTail(rounds, "MATERIALIZED ")}"
  }

  /** Shared training tail: unrolled Lloyd rounds per subspace over the
    * `sub$j`/`cent${j}_0` CTEs, the trained (j, cid, ccode16) book, and
    * the trained-book encode of whatever `sub$j` slices.
    */
  private def sqlPqTail(rounds: Int, mat: String = ""): String = {
    val lloyd = (0 until 4).flatMap(j => (1 to rounds).map(sqlLloydSub(j, _, mat)))
      .mkString(",\n")
    val book = (0 until 4)
      .map(j => s"SELECT $j AS j, cid, ccode FROM cent${j}_$rounds")
      .mkString(s"book AS $mat(", "\n UNION ALL ", ")")
    val enc = (0 until 4).map { j =>
      s"""SELECT id, j, cid FROM (
            SELECT s.id, $j AS j, c.cid,
              ROW_NUMBER() OVER (PARTITION BY s.id ORDER BY
                list_sum(list_transform(range(1, 17), i ->
                  (s.code[i] - c.ccode[i]) * (s.code[i] - c.ccode[i]))),
                c.cid) AS rn
            FROM sub$j s CROSS JOIN cent${j}_$rounds c) WHERE rn = 1"""
    }.mkString(s"enc AS $mat(", "\n UNION ALL ", ")")
    s"$lloyd,\n$book,\n$enc"
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q34: brute-force cosine top-k (exact baseline) ----
    QueryDef(
      "q34_cosine_topk",
      (s, dir) => {
        val v = vecs(s, dir)
        Similarity.bruteForceTopK(
          corpus = v.filter(col("id") >= 5),
          queries = v.filter(col("id") < 5),
          k = 5)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             q AS (SELECT id AS qid, vec AS qv FROM v WHERE id < 5),
             c AS (SELECT id AS cid, vec AS cv FROM v WHERE id >= 5),
             s AS (SELECT qid, cid,
                     ${sqlDot("qv", "cv")} /
                     (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})) AS cos
                   FROM c CROSS JOIN q)
        SELECT qid, rank, cid AS neighbor, cos
        FROM (SELECT qid, cid, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
              FROM s)
        WHERE rank <= 5
        ORDER BY qid, rank""")),

    // ---- q35: IVF ANN (centroid-bucketed search, the scale path) ----
    QueryDef(
      "q35_ivf_ann",
      (s, dir) => {
        val v = vecs(s, dir)
        val centroids = v.filter(col("id") < 8)
          .select(col("id").as("cid"), col("vec").as("cvec"))
        val corpus = v.filter(col("id") >= 8)
        val assigned = Similarity.ivfAssign(corpus, centroids)
        val queries = v.filter(col("id") >= 8 && col("id") <= 12)
        Similarity.ivfTopK(assigned, queries, centroids, k = 3, nprobe = 2)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             cent AS (SELECT id AS cid, vec AS cvec FROM v WHERE id < 8),
             corpus AS (SELECT * FROM v WHERE id >= 8),
             scored AS (SELECT corpus.id, corpus.vec, cid,
                          list_sum(list_transform(range(1, 65),
                            i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))) AS dist
                        FROM corpus CROSS JOIN cent),
             assigned AS (SELECT id, vec, cid AS bucket
                          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY dist, cid) AS rn FROM scored)
                          WHERE rn = 1),
             qs AS (SELECT corpus.id AS qid, corpus.vec AS qv, cid,
                          list_sum(list_transform(range(1, 65),
                            i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))) AS dist
                        FROM corpus CROSS JOIN cent
                        WHERE corpus.id >= 8 AND corpus.id <= 12),
             q AS (SELECT qid, qv, cid AS bucket
                   FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY dist, cid) AS rn FROM qs)
                   WHERE rn <= 2),
             cand AS (SELECT qid, qv, a.id AS cid, a.vec AS cv
                      FROM assigned a JOIN q USING (bucket) WHERE a.id <> qid),
             s AS (SELECT qid, cid,
                     ${sqlDot("qv", "cv")} /
                     (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})) AS cos
                   FROM cand)
        SELECT qid, rank, cid AS neighbor, cos
        FROM (SELECT qid, cid, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
              FROM s)
        WHERE rank <= 3
        ORDER BY qid, rank""")),

    // ---- q143: IVF index AS A LAKE TABLE, folded incrementally — the
    // q109 posture for ANN: the corpus arrives in three id-cut batches,
    // each batch's centroid assignments APPEND into a snapshot table
    // partitioned BY BUCKET (doc-disjoint batches need no merge — the
    // ANN index is pure postings), and search reads ONLY the probed
    // buckets' partitions via the manifest (scan cost ∝ probed buckets,
    // not corpus — the layout IS the index; VectorsFoldSpec asserts the
    // file-level pruning). The gate is fold-independence: search over
    // the lake-folded index must equal q35's one-shot oracle exactly.
    QueryDef(
      "q143_ivf_lake_fold",
      (s, dir) => {
        import graft.lake.{Lake, Snapshots}
        val tmp = Artifacts.memo("vectors.ivf_fold", dir, Seq("embeddings"))({ sc =>
          val t = sc.dir("graft_ivf_fold")
          ivfFold(s, dir, s"$t/ivf")
          t
        })
        val v = vecs(s, dir)
        val centroids = v.filter(col("id") < 8)
          .select(col("id").as("cid"), col("vec").as("cvec"))
        val queries = v.filter(col("id") >= 8 && col("id") <= 12)
        // probe buckets first (centroids broadcast, queries tiny), then
        // read ONLY those buckets' partitions from the index table
        val probed = Similarity.probeAssignments(queries, centroids, nprobe = 2)
          .select(col("bucket")).distinct()
          .collect().map(r => s"b${r.getLong(0)}").toSet
        val assigned = Snapshots.readHours(s, s"$tmp/ivf", probed)
          .drop(Lake.PartitionCol)
        Similarity.ivfTopK(assigned, queries, centroids, k = 3, nprobe = 2)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             cent AS (SELECT id AS cid, vec AS cvec FROM v WHERE id < 8),
             corpus AS (SELECT * FROM v WHERE id >= 8),
             scored AS (SELECT corpus.id, corpus.vec, cid,
                          list_sum(list_transform(range(1, 65),
                            i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))) AS dist
                        FROM corpus CROSS JOIN cent),
             assigned AS (SELECT id, vec, cid AS bucket
                          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY dist, cid) AS rn FROM scored)
                          WHERE rn = 1),
             qs AS (SELECT corpus.id AS qid, corpus.vec AS qv, cid,
                          list_sum(list_transform(range(1, 65),
                            i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))) AS dist
                        FROM corpus CROSS JOIN cent
                        WHERE corpus.id >= 8 AND corpus.id <= 12),
             q AS (SELECT qid, qv, cid AS bucket
                   FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY dist, cid) AS rn FROM qs)
                   WHERE rn <= 2),
             cand AS (SELECT qid, qv, a.id AS cid, a.vec AS cv
                      FROM assigned a JOIN q USING (bucket) WHERE a.id <> qid),
             s AS (SELECT qid, cid,
                     ${sqlDot("qv", "cv")} /
                     (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})) AS cos
                   FROM cand)
        SELECT qid, rank, cid AS neighbor, cos
        FROM (SELECT qid, cid, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
              FROM s)
        WHERE rank <= 3
        ORDER BY qid, rank""")),

    // ---- q50: embedding near-duplicate pairs (IVF bucket blocking) ----
    // Same-bucket pairs above a cosine floor; the oracle re-derives the
    // centroid assignment and within-bucket all-pairs scan. The query opts
    // out of the production bucket cap because the oracle is exhaustive.
    QueryDef(
      "q50_embedding_neardup",
      (s, dir) => {
        val v = vecs(s, dir)
        val centroids = v.filter(col("id") < 8)
          .select(col("id").as("cid"), col("vec").as("cvec"))
        val corpus = v.filter(col("id") >= 8)
        val assigned = Similarity.ivfAssign(corpus, centroids)
        Similarity.embeddingNearDup(assigned, threshold = 0.2, maxBucketSize = None)
          .orderBy(col("id1"), col("id2"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             cent AS (SELECT id AS cid, vec AS cvec FROM v WHERE id < 8),
             corpus AS (SELECT * FROM v WHERE id >= 8),
             scored AS (SELECT corpus.id, corpus.vec, cid,
                          list_sum(list_transform(range(1, 65),
                            i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))) AS dist
                        FROM corpus CROSS JOIN cent),
             assigned AS (SELECT id, vec, cid AS bucket
                          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY dist, cid) AS rn FROM scored)
                          WHERE rn = 1),
             pairs AS (SELECT a.id AS id1, b.id AS id2, a.vec AS v1, b.vec AS v2
                       FROM assigned a JOIN assigned b USING (bucket)
                       WHERE a.id < b.id),
             s AS (SELECT id1, id2,
                     ${sqlDot("v1", "v2")} /
                     (sqrt(${sqlDot("v1", "v1")}) * sqrt(${sqlDot("v2", "v2")})) AS cos
                   FROM pairs)
        SELECT id1, id2, cos FROM s
        WHERE cos >= 0.2
        ORDER BY id1, id2""")),

    // ---- q55: cosine near-dup via sign-random-projection (hyperplane) LSH --
    // The cosine-space analogue of MinHash banding and the second ANN
    // blocking scheme next to IVF (q50): 3 bands x 4 sign bits from
    // deterministic Rademacher planes, candidates verified by exact cosine.
    // The oracle re-derives the sketch from the same seeded formula —
    // nothing engine-private in the sketch. Cap off: oracle is exhaustive.
    QueryDef(
      "q55_hyperplane_neardup",
      (s, dir) =>
        Similarity.hyperplaneNearDup(vecs(s, dir),
            bands = 3, rowsPerBand = 4, threshold = 0.3, maxBucketSize = None)
          .orderBy(col("id1"), col("id2")),
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
        bits AS (
          SELECT id, j,
            CASE WHEN list_sum(list_transform(range(1, 65),
              i -> vec[i] * CASE WHEN (CAST(i-1 AS BIGINT)*19349663
                                       + CAST(j AS BIGINT)*73856093) % 97 < 48
                                 THEN 1.0 ELSE -1.0 END)) >= 0
                 THEN 1 ELSE 0 END AS bit
          FROM v CROSS JOIN range(12) t(j)
        ),
        banded AS (
          SELECT id, j // 4 AS band,
                 CAST(SUM(bit * CAST(POW(2, j % 4) AS BIGINT)) AS BIGINT) AS bucket
          FROM bits GROUP BY id, j // 4
        ),
        cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                 FROM banded a JOIN banded b USING (band, bucket)
                 WHERE a.id < b.id),
        pairs AS (SELECT id1, id2, v1.vec AS p1, v2.vec AS p2
                  FROM cand JOIN v v1 ON v1.id = cand.id1
                            JOIN v v2 ON v2.id = cand.id2),
        s AS (SELECT id1, id2,
                ${sqlDot("p1", "p2")} /
                (sqrt(${sqlDot("p1", "p1")}) * sqrt(${sqlDot("p2", "p2")})) AS cos
              FROM pairs)
        SELECT id1, id2, cos FROM s
        WHERE cos >= 0.3
        ORDER BY id1, id2""")),

    // ---- q61: symmetric int8 embedding quantization ----
    // The 4x memory cut that makes a 100 TB fp32 corpus RAM-resident for
    // ANN. floor(x*scale + 0.5), never round(): floor is the same IEEE op
    // in every engine, so codes are bit-reproducible (the oracle re-derives
    // them exactly — no tolerance).
    QueryDef(
      "q61_quantize_int8",
      (s, dir) => {
        import graft.functions.VectorFunctions
        vecs(s, dir)
          .withColumn("scale", VectorFunctions.int8Scale(col("vec")))
          .withColumn("q", VectorFunctions.quantizeInt8(col("vec"), col("scale")))
          .select(col("id"), col("scale"),
            // codes as CSV: the driver's compare hashes scalar cells
            array_join(transform(col("q"), _.cast("string")), ",").as("q_csv"))
          .orderBy("id")
      },
      Some("""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
        m AS (SELECT id, vec,
                     list_max(list_transform(vec, x -> abs(x))) AS ma FROM v),
        s AS (SELECT id, vec,
                     CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END AS scale FROM m)
        SELECT id, scale,
               array_to_string(list_transform(vec, x ->
                 greatest(-127, least(127, CAST(floor(x * scale + 0.5) AS BIGINT)))), ',')
                 AS q_csv
        FROM s
        ORDER BY id""")),

    // ---- q63: IVF top-k scored in the int8 code domain (the 4x memory
    // cut proven IN the search path). Per-vector symmetric scales cancel
    // in cosine, so scoring inputs are 1-byte codes alone; quantized
    // scores are exact int64 + IEEE arithmetic, so the oracle re-derives
    // the quantized ranking bit-for-bit. Each quantized top-k row also
    // carries the neighbor's rank under FP scoring over the SAME probed
    // candidates — the displacement column measures pure quantization
    // reordering (bounded by a unit test; typically 0-1 on near-ties).
    QueryDef(
      "q63_ivf_int8",
      (s, dir) => {
        val v = vecs(s, dir)
        val centroids = v.filter(col("id") < 8)
          .select(col("id").as("cid"), col("vec").as("cvec"))
        val corpus = v.filter(col("id") >= 8)
        val assigned = Similarity.ivfAssign(corpus, centroids)
        val queries = v.filter(col("id") >= 8 && col("id") <= 12)
        val qtop = Similarity.ivfTopKInt8(assigned, queries, centroids, k = 3, nprobe = 2)
        val fpAll = Similarity.ivfTopK(assigned, queries, centroids,
            k = Int.MaxValue, nprobe = 2)
          .select(col("qid"), col("neighbor"), col("rank").as("fp_rank"))
        qtop.join(fpAll, Seq("qid", "neighbor"))
          .withColumn("displacement", abs(col("rank") - col("fp_rank")))
          .select(col("qid"), col("rank"), col("neighbor"), col("cos_q"),
            col("fp_rank"), col("displacement"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             cent AS (SELECT id AS cid, vec AS cvec FROM v WHERE id < 8),
             corpus AS (SELECT * FROM v WHERE id >= 8),
             scored AS (SELECT corpus.id, corpus.vec, cid,
                          list_sum(list_transform(range(1, 65),
                            i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))) AS dist
                        FROM corpus CROSS JOIN cent),
             assigned AS (SELECT id, vec, cid AS bucket
                          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY dist, cid) AS rn FROM scored)
                          WHERE rn = 1),
             qs AS (SELECT corpus.id AS qid, corpus.vec AS qv, cid,
                          list_sum(list_transform(range(1, 65),
                            i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))) AS dist
                        FROM corpus CROSS JOIN cent
                        WHERE corpus.id >= 8 AND corpus.id <= 12),
             q AS (SELECT qid, qv, cid AS bucket
                   FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY dist, cid) AS rn FROM qs)
                   WHERE rn <= 2),
             qc AS (SELECT qid, qv, bucket, ${sqlCodes("qv")} AS qcode FROM q),
             cc AS (SELECT id, vec, bucket, ${sqlCodes("vec")} AS ccode FROM assigned),
             cand AS (SELECT qid, qv, qcode, cc.id AS cid, cc.vec AS cv, ccode
                      FROM cc JOIN qc USING (bucket) WHERE cc.id <> qid),
             sq AS (SELECT qid, cid,
                      -- mirror cosineInt8's zero-norm guard: degenerate
                      -- all-zero codes score 0.0, never NaN
                      CASE WHEN sqrt(CAST(${sqlDotInt("qcode", "qcode")} AS DOUBLE)) *
                                sqrt(CAST(${sqlDotInt("ccode", "ccode")} AS DOUBLE)) > 0
                           THEN CAST(${sqlDotInt("qcode", "ccode")} AS DOUBLE) /
                                (sqrt(CAST(${sqlDotInt("qcode", "qcode")} AS DOUBLE)) *
                                 sqrt(CAST(${sqlDotInt("ccode", "ccode")} AS DOUBLE)))
                           ELSE 0.0 END AS cos_q,
                      ${sqlDot("qv", "cv")} /
                      (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})) AS cos_fp
                    FROM cand),
             r AS (SELECT qid, cid, cos_q,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_q DESC, cid) AS rank,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_fp DESC, cid) AS fp_rank
                   FROM sq)
        SELECT qid, rank, cid AS neighbor, cos_q, fp_rank,
               abs(rank - fp_rank) AS displacement
        FROM r
        WHERE rank <= 3
        ORDER BY qid, rank""")),

    // ---- q93: k-means centroid TRAINING step (Lloyd iteration) in the
    // int8 code domain — the step that produces the centroids q35/q50/q63
    // consume, verified under the gate because every quantity is exact:
    // integer L2 assignment over q61's reproducible codes, integer
    // per-(cid, dim) sums, one final division for the mean. The oracle
    // re-derives codes, assignment and the update from the raw floats.
    QueryDef(
      "q93_kmeans_step",
      (s, dir) => {
        val coded = vecs(s, dir)
          // width pin BEFORE the quantize (the pqCoded lesson, r22): the
          // embeddings parquet scans as one partition, and the first
          // exchange otherwise sits ABOVE this projection - the two-pass
          // scale+quantize ran as one task on the critical path
          // (q101 stage profile: a 0.71 s single-task checkpoint stage)
          .repartition(s.sparkContext.defaultParallelism, col("id"))
          .select(col("id"),
          VectorFunctions.quantizeInt8(col("vec"),
            VectorFunctions.int8Scale(col("vec"))).as("code"))
        val cents = coded.filter(col("id") < 8)
          .select(col("id").as("cid"), col("code"))
        Similarity.kmeansStepInt8(coded.filter(col("id") >= 8), cents)
          .orderBy(col("cid"), col("dim"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             c AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             cent AS (SELECT id AS cid, code AS ccode FROM c WHERE id < 8),
             corpus AS (SELECT * FROM c WHERE id >= 8),
             scored AS (SELECT corpus.id, corpus.code, cid,
                          list_sum(list_transform(range(1, 65), i ->
                            (code[i] - ccode[i]) * (code[i] - ccode[i]))) AS dist
                        FROM corpus CROSS JOIN cent),
             assigned AS (SELECT id, code, cid AS bucket
                          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY dist, cid) AS rn FROM scored)
                          WHERE rn = 1),
             d AS (SELECT bucket AS cid, k AS dim, code[k + 1] AS x
                   FROM assigned, (SELECT unnest(range(0, 64)) AS k))
        SELECT cid, dim::BIGINT AS dim, COUNT(*) AS n_members,
               SUM(x)::BIGINT AS code_sum,
               SUM(x)::DOUBLE / COUNT(*) AS mean_code
        FROM d
        GROUP BY cid, dim
        ORDER BY cid, dim""")),

    // ---- q94: ANN recall@k gate — retrieval QUALITY under the oracle,
    // not just rank displacement (q63): recall of the IVF probe path vs
    // exact brute-force truth at nprobe ∈ {1, 2, 4}. Hit counts are
    // integers and recall is one division, so the fractions reproduce
    // bit-for-bit; the oracle re-derives truth, buckets, probes and the
    // per-nprobe top-k from raw floats. Recall must (weakly) grow with
    // nprobe — the quality/cost dial the 100 TB deployment turns.
    QueryDef(
      "q94_ann_recall",
      (s, dir) => {
        import s.implicits._
        val v = vecs(s, dir)
        val centroids = v.filter(col("id") < 8)
          .select(col("id").as("cid"), col("vec").as("cvec"))
        val corpus = v.filter(col("id") >= 8)
        val assigned = Similarity.ivfAssign(corpus, centroids)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val queries = v.filter(col("id") >= 8 && col("id") <= 17)
        // q94's ground truth: the brute-force exact neighbors are the
        // audit's one expensive artifact and immutable for a corpus
        // snapshot — computed once and reused across audits; k·|queries|
        // id pairs, driver-resident by construction
        val truth = Artifacts.memo("vectors.ann_truth", dir, Seq("embeddings"))(_ =>
            Similarity.exactNeighbors(assigned, queries, k = 5)
              .collect().map(r => (r.getLong(0), r.getLong(1))))
          .toSeq.toDF("qid", "neighbor")
        val out = Similarity.recallAtK(assigned, queries, centroids, k = 5,
            nprobes = Seq(1, 2, 4), truthOverride = Some(truth))
          .orderBy(col("nprobe"), col("qid"))
          .localCheckpoint(true) // three IVF passes share `assigned`
        assigned.unpersist(false)
        out
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             cent AS (SELECT id AS cid, vec AS cvec FROM v WHERE id < 8),
             corpus AS (SELECT * FROM v WHERE id >= 8),
             q AS (SELECT id AS qid, vec AS qv FROM v WHERE id >= 8 AND id <= 17),
             truth AS (SELECT qid, cid AS neighbor
                       FROM (SELECT qid, cid,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, cid) AS rnk
                             FROM (SELECT q.qid, corpus.id AS cid,
                                     ${sqlDot("qv", "vec")} /
                                     (sqrt(${sqlDot("qv", "qv")}) *
                                      sqrt(${sqlDot("vec", "vec")})) AS cos
                                   FROM corpus CROSS JOIN q
                                   WHERE corpus.id <> q.qid))
                       WHERE rnk <= 5),
             tc AS (SELECT qid, COUNT(*)::BIGINT AS n_true FROM truth GROUP BY qid),
             ad AS (SELECT corpus.id, corpus.vec, cid,
                      list_sum(list_transform(range(1, 65),
                        i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))) AS dist
                    FROM corpus CROSS JOIN cent),
             assigned AS (SELECT id, vec, cid AS bucket
                          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY dist, cid) AS rn FROM ad)
                          WHERE rn = 1),
             qd AS (SELECT q.qid, q.qv, cid,
                      list_sum(list_transform(range(1, 65),
                        i -> (qv[i] - cvec[i]) * (qv[i] - cvec[i]))) AS dist
                    FROM q CROSS JOIN cent),
             probes AS (SELECT qid, qv, cid AS bucket, rn
                        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY dist, cid) AS rn FROM qd)
                        WHERE rn <= 4),
             np AS (SELECT unnest([1, 2, 4]) AS nprobe),
             cand AS (SELECT np.nprobe, p.qid, a.id AS cid,
                        ${sqlDot("p.qv", "a.vec")} /
                        (sqrt(${sqlDot("p.qv", "p.qv")}) *
                         sqrt(${sqlDot("a.vec", "a.vec")})) AS cos
                      FROM probes p
                      JOIN np ON p.rn <= np.nprobe
                      JOIN assigned a ON a.bucket = p.bucket
                      WHERE a.id <> p.qid),
             ivf AS (SELECT nprobe, qid, cid
                     FROM (SELECT nprobe, qid, cid,
                             ROW_NUMBER() OVER (PARTITION BY nprobe, qid
                               ORDER BY cos DESC, cid) AS rnk
                           FROM cand)
                     WHERE rnk <= 5),
             hit AS (SELECT nprobe, ivf.qid AS qid, COUNT(*)::BIGINT AS n_hit
                     FROM ivf JOIN truth ON ivf.qid = truth.qid
                                        AND ivf.cid = truth.neighbor
                     GROUP BY nprobe, ivf.qid)
        SELECT np.nprobe, tc.qid, tc.n_true,
               COALESCE(hit.n_hit, 0)::BIGINT AS n_hit,
               COALESCE(hit.n_hit, 0)::DOUBLE / tc.n_true AS recall
        FROM tc CROSS JOIN np
        LEFT JOIN hit ON hit.nprobe = np.nprobe AND hit.qid = tc.qid
        ORDER BY np.nprobe, tc.qid""")),

    // ---- q95: END-TO-END embedding pipeline composition gate — quantize
    // (q61's codes) → TRAIN (3 exact Lloyd rounds, q93's loop) → assign →
    // search (q63's int8 scoring), with BOTH intermediate tables
    // (centroids, bucketed codes) round-tripping through the snapshot
    // lake between stages, the q81 composition pattern for the vector
    // family. The oracle reconstructs the final top-k from RAW floats:
    // codes, three unrolled Lloyd rounds, assignment, probes and the
    // zero-guarded int8 cosine — so a defect anywhere in the chain
    // (training arithmetic, lake round-trip fidelity, probe rule) breaks
    // the gate.
    QueryDef(
      "q95_embed_pipeline",
      (s, dir) => {
        import graft.lake.Snapshots
        import org.apache.spark.sql.expressions.Window
        val coded = vecs(s, dir)
          // width pin BEFORE the quantize (the pqCoded lesson, r22): the
          // embeddings parquet scans as one partition, and the first
          // exchange otherwise sits ABOVE this projection - the two-pass
          // scale+quantize ran as one task on the critical path
          // (q101 stage profile: a 0.71 s single-task checkpoint stage)
          .repartition(s.sparkContext.defaultParallelism, col("id"))
          .select(col("id"),
          VectorFunctions.quantizeInt8(col("vec"),
            VectorFunctions.int8Scale(col("vec"))).as("code"))
        val tmp = Artifacts.memo("vectors.embed_pipe", dir, Seq("embeddings"))({ sc =>
          val t = sc.dir("graft_embed_pipe")
          val seeds = coded.filter(col("id") < 8)
            .select(col("id").as("cid"), col("code"))
          val corpus = coded.filter(col("id") >= 8)
          val trained = Similarity.kmeansTrainInt8(corpus, seeds,
            maxRounds = 3, exactRounds = true)
          val ts0 = lit("2024-01-01 00:00:00").cast("timestamp")
          Snapshots.append(trained.toDF(s).withColumn("ts", ts0), s"$t/centroids")
          // stage 2 reads the COMMITTED centroids, not the in-memory result
          val cents = Snapshots.read(s, s"$t/centroids")
            .select(col("cid"), col("code").as("cvec"))
          val assigned = Similarity.ivfAssign(
              corpus.select(col("id"), col("code").as("vec")), cents)
            .select(col("id"), col("vec").as("code"), col("bucket"))
          Snapshots.append(assigned.withColumn("ts", ts0), s"$t/codes")
          t
        })
        val codes = Snapshots.read(s, s"$tmp/codes")
          .select(col("id"), col("code"), col("bucket"))
        val cents = Snapshots.read(s, s"$tmp/centroids")
          .select(col("cid"), col("code").as("ccode"))
        // search in the code domain: probe the 2 nearest trained
        // centroids (exact integer L2), score with the scale-free int8
        // cosine — the committed codes are the ONLY scoring input
        val queries = codes.filter(col("id") >= 8 && col("id") <= 12)
          .select(col("id").as("qid"), col("code").as("qcode"))
        val wq = Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))
        val probes = queries.crossJoin(broadcast(cents))
          .withColumn("dist", VectorFunctions.l2sqInt(col("qcode"), col("ccode")))
          .withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= 2)
          .select(col("qid"), col("qcode"), col("cid").as("bucket"))
        val w = Window.partitionBy(col("qid")).orderBy(col("cos_q").desc, col("nid"))
        codes.select(col("id").as("nid"), col("code").as("ncode"), col("bucket"))
          .join(broadcast(probes), Seq("bucket"))
          .filter(col("nid") =!= col("qid"))
          .withColumn("cos_q",
            VectorFunctions.cosineInt8(col("qcode"), col("ncode")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("nid").as("neighbor"), col("cos_q"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             c AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             cent0 AS (SELECT id AS cid, code AS ccode FROM c WHERE id < 8),
             corpus AS (SELECT id, code FROM c WHERE id >= 8),
             ${(1 to 3).map(sqlLloyd).mkString(",\n")},
             asgF AS (SELECT id, code, cid AS bucket
                      FROM (SELECT corpus.id, corpus.code, c.cid,
                              ROW_NUMBER() OVER (PARTITION BY corpus.id ORDER BY
                                list_sum(list_transform(range(1, 65), i ->
                                  (code[i] - ccode[i]) * (code[i] - ccode[i]))), c.cid) AS rn
                            FROM corpus CROSS JOIN cent3 c)
                      WHERE rn = 1),
             q AS (SELECT id AS qid, code AS qcode FROM corpus
                   WHERE id >= 8 AND id <= 12),
             probes AS (SELECT qid, qcode, cid AS bucket
                        FROM (SELECT q.qid, q.qcode, c.cid,
                                ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                                  list_sum(list_transform(range(1, 65), i ->
                                    (qcode[i] - ccode[i]) * (qcode[i] - ccode[i]))), c.cid) AS rn
                              FROM q CROSS JOIN cent3 c)
                        WHERE rn <= 2),
             cand AS (SELECT p.qid, a.id AS nid, p.qcode, a.code AS ncode
                      FROM asgF a JOIN probes p ON a.bucket = p.bucket
                      WHERE a.id <> p.qid),
             sq AS (SELECT qid, nid,
                      CASE WHEN sqrt(CAST(${sqlDotInt("qcode", "qcode")} AS DOUBLE)) *
                                sqrt(CAST(${sqlDotInt("ncode", "ncode")} AS DOUBLE)) > 0
                           THEN CAST(${sqlDotInt("qcode", "ncode")} AS DOUBLE) /
                                (sqrt(CAST(${sqlDotInt("qcode", "qcode")} AS DOUBLE)) *
                                 sqrt(CAST(${sqlDotInt("ncode", "ncode")} AS DOUBLE)))
                           ELSE 0.0 END AS cos_q
                    FROM cand)
        SELECT qid, rank, nid AS neighbor, cos_q
        FROM (SELECT qid, nid, cos_q,
                ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY cos_q DESC, nid) AS rank
              FROM sq)
        WHERE rank <= 3
        ORDER BY qid, rank""")),

    // ---- q101: SemDeDup — semantic deduplication over TRAINED clusters.
    // The published recipe end to end: quantize -> k-means (3 exact Lloyd
    // rounds, the q93/q95 training loop) -> assign -> within-cluster
    // cosine suppression (lower id wins) -> emit the surviving corpus.
    // Distinct from q50 (pair DETECTION under fixed seed centroids): this
    // gates the EMISSION semantics, blocked on centroids the engine
    // itself trained. maxBucketSize = 60 deliberately splits the trained
    // clusters into capped-in and FAIL-OPEN (oversized => suppression
    // skipped, every member survives) — both paths of the skew guard sit
    // under the oracle, which mirrors the cap as a window count. At
    // 100 TB this is one window count + one same-bucket self-join on the
    // cluster partitioning; the corpus never forms all-pairs.
    QueryDef(
      "q101_semantic_dedup",
      (s, dir) => {
        // quantize ONCE: seeds, the Lloyd loop, and the assignment pass all
        // read these codes — without the checkpoint the float corpus is
        // re-read and re-quantized by each consumer (3x the dominant map
        // cost; the Lloyd loop's internal checkpoint only covered its own
        // rounds)
        val coded = vecs(s, dir)
          // width pin BEFORE the quantize (the pqCoded lesson, r22): the
          // embeddings parquet scans as one partition, and the first
          // exchange otherwise sits ABOVE this projection - the two-pass
          // scale+quantize ran as one task on the critical path
          // (q101 stage profile: a 0.71 s single-task checkpoint stage)
          .repartition(s.sparkContext.defaultParallelism, col("id"))
          .select(col("id"),
          VectorFunctions.quantizeInt8(col("vec"),
            VectorFunctions.int8Scale(col("vec"))).as("code"))
          .localCheckpoint(true)
        val seeds = coded.filter(col("id") < 8)
          .select(col("id").as("cid"), col("code"))
        val corpus = coded.filter(col("id") >= 8)
        val trained = Similarity.kmeansTrainInt8(corpus, seeds,
          maxRounds = 3, exactRounds = true)
        val cents = trained.toDF(s)
          .select(col("cid"), col("code").as("cvec"))
        // materialized once: semanticDedup references the frame 3 times
        val assigned = Similarity.ivfAssign(
            corpus.select(col("id"), col("code").as("vec")), cents)
          .localCheckpoint(true)
        Similarity.semanticDedup(assigned, threshold = 0.35,
            maxBucketSize = Some(60))
          .orderBy(col("id"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             c AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             cent0 AS (SELECT id AS cid, code AS ccode FROM c WHERE id < 8),
             corpus AS (SELECT id, code FROM c WHERE id >= 8),
             ${(1 to 3).map(sqlLloyd).mkString(",\n")},
             asgF AS (SELECT id, code, cid AS bucket
                      FROM (SELECT corpus.id, corpus.code, cc.cid,
                              ROW_NUMBER() OVER (PARTITION BY corpus.id ORDER BY
                                list_sum(list_transform(range(1, 65), i ->
                                  (code[i] - ccode[i]) * (code[i] - ccode[i]))), cc.cid) AS rn
                            FROM corpus CROSS JOIN cent3 cc)
                      WHERE rn = 1),
             sz AS (SELECT bucket, COUNT(*) AS n FROM asgF GROUP BY bucket),
             capd AS (SELECT a.id, a.code, a.bucket
                      FROM asgF a JOIN sz USING (bucket) WHERE sz.n <= 60),
             pr AS (SELECT a.id, a.code AS c1, b.code AS c2
                    FROM capd a JOIN capd b USING (bucket)
                    WHERE b.id < a.id),
             sc AS (SELECT id,
                      CASE WHEN sqrt(CAST(${sqlDotInt("c1", "c1")} AS DOUBLE)) *
                                sqrt(CAST(${sqlDotInt("c2", "c2")} AS DOUBLE)) > 0
                           THEN CAST(${sqlDotInt("c1", "c2")} AS DOUBLE) /
                                (sqrt(CAST(${sqlDotInt("c1", "c1")} AS DOUBLE)) *
                                 sqrt(CAST(${sqlDotInt("c2", "c2")} AS DOUBLE)))
                           ELSE 0.0 END AS cos
                    FROM pr),
             dup AS (SELECT DISTINCT id FROM sc WHERE cos >= 0.35)
        SELECT a.id, a.bucket FROM asgF a
        LEFT JOIN dup d ON d.id = a.id
        WHERE d.id IS NULL
        ORDER BY a.id""")),

    // ---- q154: product-quantization encode — the vector-memory step
    // past int8 (q61): each 64-dim int8 code splits into 4 contiguous
    // 16-dim subspaces, each replaced by the id of its nearest codeword
    // (exact integer L2, ties to the lowest codeword id). Codewords are
    // frozen corpus rows (q63's contract) so the book travels as plan
    // literals and encoding is ONE codegen'd projection — no join, no
    // shuffle. The oracle re-derives codes, the book, and the per-
    // subspace argmin (row_number over dist, cid) bit-for-bit.
    QueryDef(
      "q154_pq_encode",
      (s, dir) => {
        // materialized once: the book collect, the encode's 32 subspace
        // distances, and the corpus filter all read these codes
        val coded = pqCoded(s, dir).localCheckpoint(true)
        Similarity.pqEncode(coded.filter(col("id") >= 8), pqBook(coded),
            subspaces = 4)
          .select(col("id"),
            array_join(transform(col("pq"), _.cast("string")), ",").as("pq_csv"))
          .orderBy(col("id"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             codes AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             cb AS (SELECT id AS cid, code AS ccode FROM codes WHERE id < 8),
             corpus AS (SELECT id, code FROM codes WHERE id >= 8),
             enc AS (SELECT id, j, cid
                     FROM (SELECT corpus.id, j.j, cb.cid,
                             ROW_NUMBER() OVER (PARTITION BY corpus.id, j.j
                               ORDER BY list_sum(list_transform(range(1, 17), i ->
                                 (code[j.j*16 + i] - ccode[j.j*16 + i]) *
                                 (code[j.j*16 + i] - ccode[j.j*16 + i]))),
                               cb.cid) AS rn
                           FROM corpus
                           CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j
                           CROSS JOIN cb)
                     WHERE rn = 1)
        SELECT id, string_agg(cid::VARCHAR, ',' ORDER BY j) AS pq_csv
        FROM enc
        GROUP BY id
        ORDER BY id""")),

    // ---- q155: asymmetric-distance (ADC) top-k over the PQ corpus —
    // the IVF-PQ scan shape: a query precomputes a 4×8 integer-L2 lookup
    // table against the codebook (a plan literal per query), and each
    // corpus row costs 4 table lookups + a sum — the scan touches only
    // pq codes, never a vector. Exact integer distances end to end, so
    // the oracle (which recomputes the same chosen-codeword distances)
    // reproduces the ranking bit-for-bit; ties total-ordered (dist asc,
    // id asc).
    QueryDef(
      "q155_pq_adc",
      (s, dir) => {
        val coded = pqCoded(s, dir).localCheckpoint(true)
        val book = pqBook(coded)
        val corpus = coded.filter(col("id") >= 8)
        val encoded = Similarity.pqEncode(corpus, book, subspaces = 4)
        val queries = corpus.filter(col("id") <= 12)
        Similarity.pqAdcTopK(encoded, queries, book, subspaces = 4, k = 3)
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             codes AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             cb AS (SELECT id AS cid, code AS ccode FROM codes WHERE id < 8),
             corpus AS (SELECT id, code FROM codes WHERE id >= 8),
             enc AS (SELECT id, j, cid
                     FROM (SELECT corpus.id, j.j, cb.cid,
                             ROW_NUMBER() OVER (PARTITION BY corpus.id, j.j
                               ORDER BY list_sum(list_transform(range(1, 17), i ->
                                 (code[j.j*16 + i] - ccode[j.j*16 + i]) *
                                 (code[j.j*16 + i] - ccode[j.j*16 + i]))),
                               cb.cid) AS rn
                           FROM corpus
                           CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j
                           CROSS JOIN cb)
                     WHERE rn = 1),
             q AS (SELECT id AS qid, code AS qcode FROM corpus WHERE id <= 12),
             adc AS (SELECT q.qid, enc.id,
                       SUM(list_sum(list_transform(range(1, 17), i ->
                         (qcode[enc.j*16 + i] - ccode[enc.j*16 + i]) *
                         (qcode[enc.j*16 + i] - ccode[enc.j*16 + i]))))::BIGINT AS dist
                     FROM enc
                     JOIN cb ON cb.cid = enc.cid
                     CROSS JOIN q
                     GROUP BY q.qid, enc.id),
             r AS (SELECT qid, id, dist,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY dist, id) AS rk
                   FROM adc)
        SELECT qid, id, dist, rk
        FROM r
        WHERE rk <= 3
        ORDER BY qid, rk""")),

    // ---- q156: IVF-PQ search COMPOSED end to end — the published
    // recipe as one gated query: per-subspace codebooks TRAINED with the
    // integer Lloyd loop (4 independent kmeansTrainInt8 runs on 16-dim
    // sub-vectors, 2 exact rounds — the q95 training precedent, per
    // subspace), the corpus PQ-encoded under the trained book and FOLDED
    // into a lake table partitioned by coarse IVF bucket (the q143
    // layout with pq codes instead of vectors — 3 id-cut append batches,
    // no merge), search = probe 2 coarse buckets → ADC scan over ONLY
    // the probed partitions' pq codes → exact integer-L2 re-rank of the
    // top-5 shortlist (the only step that touches full codes, R·|q|
    // rows). This replaces q155's full-corpus-per-query window shape
    // with the per-bucket scan its docs promised. The oracle re-derives
    // codes, 4×2 unrolled Lloyd rounds, trained-book encode, coarse
    // assignment, probes, in-bucket ADC and the re-rank — one-shot, so
    // equality also gates fold independence (the q143 convention).
    QueryDef(
      "q156_ivfpq_search",
      (s, dir) => {
        import graft.lake.{Lake, Snapshots}
        import org.apache.spark.sql.expressions.Window
        // codes feed seeds, 4 trainings, the fold, queries and re-rank —
        // checkpoint once (the q101 rationale)
        val coded = pqCoded(s, dir).localCheckpoint(true)
        val seeds = coded.filter(col("id") < 8)
          .select(col("id").as("cid"), col("code"))
        val corpus = coded.filter(col("id") >= 8)
        val book = trainedBook(coded, dir)
        val tmp = Artifacts.memo("vectors.ivfpq_fold", dir, Seq("embeddings"))({ sc =>
          val t = sc.dir("graft_ivfpq_fold")
          pqFold(s, dir, s"$t/ivfpq", book)
          t
        })
        // coarse probes in the code domain (exact integer L2, ties →
        // lowest cid — the q95 probe rule)
        val cents = seeds.select(col("cid"), col("code").as("ccode"))
        val queries = corpus.filter(col("id") <= 12)
          .select(col("id").as("qid"), col("code"))
        val wq = Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))
        val probes = queries.crossJoin(broadcast(cents))
          .withColumn("dist", VectorFunctions.l2sqInt(col("code"), col("ccode")))
          .withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= 2)
          .select(col("qid"), col("code"), col("cid").as("bucket"))
        val probedSet = probes.select(col("bucket")).distinct()
          .collect().map(r => s"b${r.getLong(0)}").toSet
        val encoded = Snapshots.readHours(s, s"$tmp/ivfpq", probedSet)
          .drop(Lake.PartitionCol)
        val short = Similarity.pqAdcTopKBucketed(encoded, probes, book,
          subspaces = 4, k = 5)
        Similarity.pqRerankExact(short,
            queries.select(col("qid").as("id"), col("code")), corpus, k = 3)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             codes AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             corpus AS (SELECT id, code FROM codes WHERE id >= 8),
             ${sqlPqTrained(2)},
             centC AS (SELECT id AS cid, code AS ccode FROM codes WHERE id < 8),
             asgC AS (SELECT id, cid AS bucket
                      FROM (SELECT corpus.id, c.cid,
                              ROW_NUMBER() OVER (PARTITION BY corpus.id ORDER BY
                                list_sum(list_transform(range(1, 65), i ->
                                  (code[i] - ccode[i]) * (code[i] - ccode[i]))), c.cid) AS rn
                            FROM corpus CROSS JOIN centC c)
                      WHERE rn = 1),
             q AS (SELECT id AS qid, code AS qcode FROM corpus WHERE id <= 12),
             probes AS (SELECT qid, bucket
                        FROM (SELECT q.qid, c.cid AS bucket,
                                ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                                  list_sum(list_transform(range(1, 65), i ->
                                    (qcode[i] - ccode[i]) * (qcode[i] - ccode[i]))), c.cid) AS rn
                              FROM q CROSS JOIN centC c)
                        WHERE rn <= 2),
             cand AS (SELECT p.qid, a.id
                      FROM asgC a JOIN probes p ON a.bucket = p.bucket
                      WHERE a.id <> p.qid),
             adc AS (SELECT c.qid, c.id,
                       SUM(list_sum(list_transform(range(1, 17), i ->
                         (q.qcode[e.j*16 + i] - b.ccode[i]) *
                         (q.qcode[e.j*16 + i] - b.ccode[i]))))::BIGINT AS dist
                     FROM cand c
                     JOIN enc e ON e.id = c.id
                     JOIN book b ON b.j = e.j AND b.cid = e.cid
                     JOIN q ON q.qid = c.qid
                     GROUP BY c.qid, c.id),
             short AS (SELECT qid, id
                       FROM (SELECT qid, id,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY dist, id) AS rr FROM adc)
                       WHERE rr <= 5),
             rr AS (SELECT s.qid, s.id,
                      list_sum(list_transform(range(1, 65), i ->
                        (q.qcode[i] - c.code[i]) *
                        (q.qcode[i] - c.code[i])))::BIGINT AS dist
                    FROM short s
                    JOIN q ON q.qid = s.qid
                    JOIN corpus c ON c.id = s.id)
        SELECT qid, rank, id AS neighbor, dist
        FROM (SELECT qid, id, dist,
                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
              FROM rr)
        WHERE rank <= 3
        ORDER BY qid, rank""")),

    // ---- q157: PQ retrieval-quality gate — recall@3 of the lossy ADC
    // ranking (trained book, q156's) against the EXACT integer-L2 truth,
    // q94's shape for the PQ family: integer hit counts, one final
    // division, so the recall fractions reproduce bit-for-bit. Two
    // methods per query: `adc` (raw ADC top-3) and `rerank` (ADC top-5
    // shortlist → exact re-rank top-3) — the pair quantifies exactly how
    // much recall the re-rank step buys back, which is the number that
    // sizes R at 100 TB. Self-matches excluded on both sides (the q94
    // rule). The (method × qid) grid keeps zero-hit queries visible.
    // ABSOLUTE recall on this fixture is low by construction: the test
    // embeddings are random, and random 64-dim vectors are nearly
    // equidistant — 8 codewords (3 bits) per 16-dim subspace carry
    // almost no ranking signal, so ADC ordering is close to noise and a
    // deeper shortlist recovers little (R=50 probed: ~0.33). The gate
    // verifies the MEASUREMENT machinery bit-for-bit; the recall value
    // itself is a data property, high on clustered real embeddings.
    QueryDef(
      "q157_pq_recall",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val coded = pqCoded(s, dir).localCheckpoint(true)
        val corpus = coded.filter(col("id") >= 8)
        val book = trainedBook(coded, dir)
        val encoded = Similarity.pqEncode(corpus, book, subspaces = 4)
        val queries = corpus.filter(col("id") <= 12)
          .select(col("id").as("qid"), col("code").as("qcode"))
        val wt = Window.partitionBy(col("qid")).orderBy(col("dist"), col("id"))
        val truth = corpus.crossJoin(broadcast(queries))
          .filter(col("id") =!= col("qid"))
          .withColumn("dist", VectorFunctions.l2sqInt(col("qcode"), col("code")))
          .withColumn("rk", row_number().over(wt))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("id"))
          .localCheckpoint(true) // tiny (3·|queries| ids); read twice
        val truthCounts = truth.groupBy(col("qid"))
          .agg(count(lit(1)).as("n_true"))
        val qcodes = queries.select(col("qid").as("id"),
          col("qcode").as("code"))
        // ONE ADC scan: the k=5 shortlist's rk prefix IS the k=3 result
        // (same total order), so the raw-ADC method reads rk<=3 off it
        val short = Similarity.pqAdcTopK(encoded, qcodes, book,
            subspaces = 4, k = 5, excludeSelf = true)
          .localCheckpoint(true) // read twice: adc3 + the re-rank
        val adc3 = short.filter(col("rk") <= 3)
          .select(lit("adc").as("method"), col("qid"), col("id"))
        val rr3 = Similarity.pqRerankExact(short, qcodes, corpus, k = 3)
          .select(lit("rerank").as("method"), col("qid"),
            col("neighbor").as("id"))
        val hits = adc3.unionAll(rr3)
          .join(truth, Seq("qid", "id"), "left_semi")
          .groupBy(col("method"), col("qid")).agg(count(lit(1)).as("n_hit"))
        truthCounts.crossJoin(Seq("adc", "rerank").toDF("method"))
          .join(hits, Seq("method", "qid"), "left")
          .na.fill(0L, Seq("n_hit"))
          .select(col("method"), col("qid"), col("n_true"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_true")).as("recall"))
          .orderBy(col("method"), col("qid"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             codes AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             corpus AS (SELECT id, code FROM codes WHERE id >= 8),
             ${sqlPqTrained(2)},
             q AS (SELECT id AS qid, code AS qcode FROM corpus WHERE id <= 12),
             truth AS (SELECT qid, id
                       FROM (SELECT q.qid, c.id,
                               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                                 list_sum(list_transform(range(1, 65), i ->
                                   (qcode[i] - code[i]) * (qcode[i] - code[i]))), c.id) AS rk
                             FROM corpus c CROSS JOIN q
                             WHERE c.id <> q.qid)
                       WHERE rk <= 3),
             adc AS (SELECT q.qid, e.id,
                       SUM(list_sum(list_transform(range(1, 17), i ->
                         (q.qcode[e.j*16 + i] - b.ccode[i]) *
                         (q.qcode[e.j*16 + i] - b.ccode[i]))))::BIGINT AS dist
                     FROM enc e
                     JOIN book b ON b.j = e.j AND b.cid = e.cid
                     CROSS JOIN q
                     WHERE e.id <> q.qid
                     GROUP BY q.qid, e.id),
             adc3 AS (SELECT qid, id
                      FROM (SELECT qid, id,
                              ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist, id) AS rk FROM adc)
                      WHERE rk <= 3),
             short AS (SELECT qid, id
                       FROM (SELECT qid, id,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY dist, id) AS rk FROM adc)
                       WHERE rk <= 5),
             rr3 AS (SELECT qid, id
                     FROM (SELECT s.qid, s.id,
                             ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY
                               list_sum(list_transform(range(1, 65), i ->
                                 (q.qcode[i] - c.code[i]) * (q.qcode[i] - c.code[i]))), s.id) AS rk
                           FROM short s
                           JOIN q ON q.qid = s.qid
                           JOIN corpus c ON c.id = s.id)
                     WHERE rk <= 3),
             hits AS (SELECT 'adc' AS method, a.qid, COUNT(*) AS n_hit
                      FROM adc3 a JOIN truth t ON t.qid = a.qid AND t.id = a.id
                      GROUP BY a.qid
                      UNION ALL
                      SELECT 'rerank' AS method, r.qid, COUNT(*) AS n_hit
                      FROM rr3 r JOIN truth t ON t.qid = r.qid AND t.id = r.id
                      GROUP BY r.qid),
             tc AS (SELECT qid, COUNT(*)::BIGINT AS n_true FROM truth GROUP BY qid)
        SELECT m.method, tc.qid, tc.n_true,
               COALESCE(h.n_hit, 0)::BIGINT AS n_hit,
               COALESCE(h.n_hit, 0)::DOUBLE / tc.n_true AS recall
        FROM tc
        CROSS JOIN (SELECT 'adc' AS method UNION ALL SELECT 'rerank') m
        LEFT JOIN hits h ON h.qid = tc.qid AND h.method = m.method
        ORDER BY m.method, tc.qid""")),

    // ---- q161: RESIDUAL IVF-PQ (the published IVFADC recipe proper) —
    // q156 quantizes raw codes; the canonical form quantizes the
    // RESIDUAL to the coarse centroid (code − centroid[bucket]), which
    // is what makes a small per-subspace book accurate: residuals
    // concentrate near 0 regardless of which cell a vector lives in.
    // Everything stays exact integer arithmetic (residuals ∈ [−254,254],
    // the same Lloyd/ADC machinery runs unchanged on them — the
    // OPERATORS compose; only the query derives residuals on both
    // sides): per-subspace book trained on residuals, in-bucket ADC
    // where each probe row carries the QUERY'S residual against THAT
    // bucket's centroid (the IVFADC twist — the LUT is per
    // (query, probed bucket)), exact full-code re-rank of the top-5.
    // The oracle unrolls residual derivation, 4×2 Lloyd rounds over
    // residual slices, encode, per-probe residual LUTs and the re-rank.
    QueryDef(
      "q161_residual_ivfpq",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val coded = pqCoded(s, dir).localCheckpoint(true)
        val cents = coded.filter(col("id") < 8)
          .select(col("id").as("cid"), col("code").as("ccode"))
        val corpus = coded.filter(col("id") >= 8)
        val w = Window.partitionBy(col("id")).orderBy(col("dist"), col("cid"))
        // coarse assign + residual in one pass (integer L2, ties → cid)
        val assigned = corpus.crossJoin(broadcast(cents))
          .withColumn("dist", VectorFunctions.l2sqInt(col("code"), col("ccode")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("id"), col("cid").as("bucket"),
            zip_with(col("code"), col("ccode"), (x, y) => x - y).as("res"))
          // NOT checkpointed: after the first call trains and memoizes
          // the book, the encode is this frame's only consumer — a
          // checkpoint job per call would outweigh the single pass
          // (kmeansTrainInt8 checkpoints its own input on the one
          // training call)
        // q161's residual-domain codebook, memoized like trainedBook
        val book = Artifacts.memo("vectors.pq_res_book", dir, Seq("embeddings"))(_ =>
          Similarity.pqTrainCodebook(
            assigned.select(col("id"), col("res").as("code")),
            assigned.filter(col("id") < 16)
              .select(col("id").as("cid"), col("res").as("code")),
            subspaces = 4, maxRounds = 2))
        val encoded = Similarity.pqEncode(
          assigned.select(col("id"), col("bucket"), col("res").as("code")),
          book, subspaces = 4)
        val queries = corpus.filter(col("id") <= 12)
          .select(col("id").as("qid"), col("code").as("qcode"))
        val wq = Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))
        // probe rows carry the query's residual vs THAT bucket's centroid
        val probes = queries.crossJoin(broadcast(cents))
          .withColumn("dist", VectorFunctions.l2sqInt(col("qcode"), col("ccode")))
          .withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= 2)
          .select(col("qid"),
            zip_with(col("qcode"), col("ccode"), (x, y) => x - y).as("code"),
            col("cid").as("bucket"))
        val short = Similarity.pqAdcTopKBucketed(encoded, probes, book,
          subspaces = 4, k = 5)
        Similarity.pqRerankExact(short,
            queries.select(col("qid").as("id"), col("qcode").as("code")),
            corpus, k = 3)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             codes AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             corpus AS (SELECT id, code FROM codes WHERE id >= 8),
             centC AS (SELECT id AS cid, code AS ccode FROM codes WHERE id < 8),
             asgC AS MATERIALIZED (SELECT id, code, cid AS bucket
                      FROM (SELECT corpus.id, corpus.code, c.cid,
                              ROW_NUMBER() OVER (PARTITION BY corpus.id ORDER BY
                                list_sum(list_transform(range(1, 65), i ->
                                  (code[i] - ccode[i]) * (code[i] - ccode[i]))), c.cid) AS rn
                            FROM corpus CROSS JOIN centC c)
                      WHERE rn = 1),
             res AS MATERIALIZED (SELECT a.id, a.bucket,
                            list_transform(range(1, 65), i ->
                              a.code[i] - c.ccode[i]) AS res
                     FROM asgC a JOIN centC c ON c.cid = a.bucket),
             ${sqlPqTrainedRes(2)},
             q AS (SELECT id AS qid, code AS qcode FROM corpus WHERE id <= 12),
             probes AS (SELECT qid, bucket
                        FROM (SELECT q.qid, c.cid AS bucket,
                                ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                                  list_sum(list_transform(range(1, 65), i ->
                                    (qcode[i] - ccode[i]) * (qcode[i] - ccode[i]))), c.cid) AS rn
                              FROM q CROSS JOIN centC c)
                        WHERE rn <= 2),
             probesR AS (SELECT p.qid, p.bucket,
                                list_transform(range(1, 65), i ->
                                  q.qcode[i] - c.ccode[i]) AS qres
                         FROM probes p
                         JOIN q ON q.qid = p.qid
                         JOIN centC c ON c.cid = p.bucket),
             cand AS (SELECT p.qid, r.id, r.bucket
                      FROM res r JOIN probes p ON r.bucket = p.bucket
                      WHERE r.id <> p.qid),
             adc AS (SELECT cd.qid, cd.id,
                       SUM(list_sum(list_transform(range(1, 17), i ->
                         (pr.qres[e.j*16 + i] - b.ccode[i]) *
                         (pr.qres[e.j*16 + i] - b.ccode[i]))))::BIGINT AS dist
                     FROM cand cd
                     JOIN enc e ON e.id = cd.id
                     JOIN book b ON b.j = e.j AND b.cid = e.cid
                     JOIN probesR pr ON pr.qid = cd.qid AND pr.bucket = cd.bucket
                     GROUP BY cd.qid, cd.id),
             short AS (SELECT qid, id
                       FROM (SELECT qid, id,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY dist, id) AS rr FROM adc)
                       WHERE rr <= 5),
             rr AS (SELECT s.qid, s.id,
                      list_sum(list_transform(range(1, 65), i ->
                        (q.qcode[i] - c.code[i]) *
                        (q.qcode[i] - c.code[i])))::BIGINT AS dist
                    FROM short s
                    JOIN q ON q.qid = s.qid
                    JOIN corpus c ON c.id = s.id)
        SELECT qid, rank, id AS neighbor, dist
        FROM (SELECT qid, id, dist,
                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
              FROM rr)
        WHERE rank <= 3
        ORDER BY qid, rank""")),

    // ---- q170: D4 prototypicality pruning (Tirumala et al. 2023;
    // pruning rule from Sorscher et al. 2022) — the diversification half
    // of D4 next to q101's SemDeDup half: per cluster, the 20% of points
    // NEAREST their centroid (most prototypical = most redundant) are
    // dropped and the diverse tail kept. Assignment and distances are
    // exact integer L2 over q61's reproducible int8 codes; the cut is a
    // rank compared by integer cross-multiplication (100·rank >
    // 20·n_cluster), so boundary clusters compare exactly. The oracle
    // re-derives codes, assignment, per-cluster ranks and the cut from
    // the raw floats.
    QueryDef(
      "q170_prototypicality_prune",
      (s, dir) => {
        val coded = vecs(s, dir)
          // width pin BEFORE the quantize (the pqCoded lesson, r22): the
          // embeddings parquet scans as one partition, and the first
          // exchange otherwise sits ABOVE this projection - the two-pass
          // scale+quantize ran as one task on the critical path
          // (q101 stage profile: a 0.71 s single-task checkpoint stage)
          .repartition(s.sparkContext.defaultParallelism, col("id"))
          .select(col("id"),
          VectorFunctions.quantizeInt8(col("vec"),
            VectorFunctions.int8Scale(col("vec"))).as("code"))
        val cents = coded.filter(col("id") < 8)
          .select(col("id").as("cid"), col("code"))
        Similarity.prototypicalityPrune(coded.filter(col("id") >= 8), cents,
            dropPercent = 20)
          .orderBy(col("id"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             c AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             cent AS (SELECT id AS cid, code AS ccode FROM c WHERE id < 8),
             corpus AS (SELECT * FROM c WHERE id >= 8),
             scored AS (SELECT corpus.id, cid,
                          list_sum(list_transform(range(1, 65), i ->
                            (code[i] - ccode[i]) * (code[i] - ccode[i]))) AS dist
                        FROM corpus CROSS JOIN cent),
             assigned AS (SELECT id, cid AS bucket, dist
                          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY dist, cid) AS rn FROM scored)
                          WHERE rn = 1),
             r AS (SELECT id, bucket, dist,
                     ROW_NUMBER() OVER (PARTITION BY bucket
                       ORDER BY dist, id)::BIGINT AS proto_rank,
                     COUNT(*) OVER (PARTITION BY bucket)::BIGINT AS n_cluster
                   FROM assigned)
        SELECT id, bucket, dist::BIGINT AS dist, proto_rank, n_cluster,
               100 * proto_rank > 20 * n_cluster AS kept
        FROM r
        ORDER BY id""")),

    // ---- q180: multi-probe sign-LSH top-k (Lv et al. 2007's multi-probe
    // principle on the q55 hyperplane table — the FALCONN recipe): each
    // query probes its primary bucket per band PLUS the buckets across
    // its 2 closest hyperplanes (lowest |projection|, ties to the lower
    // bit), recovering the near-boundary misses single-probe LSH drops —
    // recall from query work instead of index memory (more bands). The
    // oracle re-derives the projections from the same seeded Rademacher
    // formula, orders flips by the identical (|dot|, r) key, and probes
    // the same buckets — candidate sets match exactly, so the verified
    // top-5 matches bit-for-bit.
    QueryDef(
      "q180_multiprobe_lsh",
      (s, dir) => {
        val v = vecs(s, dir)
        Similarity.multiProbeLshTopK(
            v.filter(col("id") >= 8), v.filter(col("id") < 8),
            bands = 3, rowsPerBand = 4, probes = 2, k = 5)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
                   FROM embeddings),
        q AS (SELECT id AS qid, vec FROM v WHERE id < 8),
        c AS (SELECT id, vec FROM v WHERE id >= 8),
        cbits AS (
          SELECT id, j,
            CASE WHEN list_sum(list_transform(range(1, 65),
              i -> vec[i] * CASE WHEN (CAST(i-1 AS BIGINT)*19349663
                                       + CAST(j AS BIGINT)*73856093) % 97 < 48
                                 THEN 1.0 ELSE -1.0 END)) >= 0
                 THEN 1 ELSE 0 END AS bit
          FROM c CROSS JOIN range(12) t(j)),
        cband AS (SELECT id, j // 4 AS band,
                    SUM(bit * (1 << (j % 4)))::BIGINT AS bucket
                  FROM cbits GROUP BY 1, 2),
        qdots AS (
          SELECT qid, j,
            list_sum(list_transform(range(1, 65),
              i -> vec[i] * CASE WHEN (CAST(i-1 AS BIGINT)*19349663
                                       + CAST(j AS BIGINT)*73856093) % 97 < 48
                                 THEN 1.0 ELSE -1.0 END)) AS dot
          FROM q CROSS JOIN range(12) t(j)),
        qb AS (SELECT qid, j // 4 AS band, j % 4 AS r, dot,
                 CASE WHEN dot >= 0 THEN 1 ELSE 0 END AS bit
               FROM qdots),
        prim AS (SELECT qid, band, SUM(bit * (1 << r))::BIGINT AS bucket
                 FROM qb GROUP BY 1, 2),
        flips AS (SELECT qid, band, r, dot,
                    ROW_NUMBER() OVER (PARTITION BY qid, band
                      ORDER BY abs(dot), r) AS rn
                  FROM qb),
        pr AS (SELECT qid, band, bucket FROM prim
               UNION ALL
               SELECT f.qid, f.band,
                      (p.bucket + CASE WHEN f.dot >= 0 THEN -(1 << f.r)
                                       ELSE (1 << f.r) END)::BIGINT
               FROM flips f JOIN prim p USING (qid, band)
               WHERE f.rn <= 2),
        cand AS (SELECT DISTINCT pr.qid, cb.id
                 FROM pr JOIN cband cb USING (band, bucket)),
        sc AS (SELECT cand.qid, cand.id,
                 ${sqlDot("q.vec", "c.vec")} /
                 (sqrt(${sqlDot("q.vec", "q.vec")})
                  * sqrt(${sqlDot("c.vec", "c.vec")})) AS cos
               FROM cand JOIN q ON q.qid = cand.qid
                         JOIN c ON c.id = cand.id),
        rk AS (SELECT qid, id, cos,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos DESC, id)::BIGINT AS rank
               FROM sc)
        SELECT qid, id, cos, rank FROM rk
        WHERE rank <= 5
        ORDER BY qid, rank""")),

    // ---- q183: multi-probe recall gate — q180's "probing recovers the
    // near-boundary misses" claim as MEASURED numbers (the q94
    // comparison-class pattern): recall@10 of the probed candidate set
    // vs exact brute-force truth, at probes ∈ {0, 2} per query. Hit
    // counts are integers, recall one division; the oracle re-derives
    // truth, projections, both probe sets and the hit counts from raw
    // floats. Single-probe candidates are a SUBSET of multi-probe's by
    // construction, so per-query recall must weakly grow with probes —
    // the quality/cost dial, gated.
    QueryDef(
      "q183_multiprobe_recall",
      (s, dir) => {
        val v = vecs(s, dir)
        val corpus = v.filter(col("id") >= 8)
        val queries = v.filter(col("id") < 8)
        val truth = Similarity.exactNeighbors(corpus, queries, k = 10)
        // ONE candidate derivation for the whole probe sweep (r22):
        // level p's candidate set is exactly min_probe <= p, so the
        // band keys, bucket join, and dedup run once — the old
        // per-level union re-ran the full multiProbeLshTopK chain per
        // branch, including a corpus scoring join + window sort whose
        // ranks the recall count never used (k = MaxValue kept every
        // row). One left join against truth + two conditional sums
        // replace two join+aggregate branches; 0 windows beyond truth's.
        val cands = Similarity.multiProbeLshCandidates(corpus, queries,
          bands = 3, rowsPerBand = 4, probes = 2)
        truth
          .join(cands.withColumnRenamed("id", "neighbor"),
            Seq("qid", "neighbor"), "left")
          .groupBy(col("qid"))
          .agg(
            sum(when(col("min_probe") <= 0L, 1L).otherwise(0L)).as("__h0"),
            sum(when(col("min_probe") <= 2L, 1L).otherwise(0L)).as("__h2"))
          .select(col("qid"), explode(array(
            struct(lit(0L).as("probes"), col("__h0").as("n_hits")),
            struct(lit(2L).as("probes"), col("__h2").as("n_hits"))))
            .as("pr"))
          .select(col("pr.probes").as("probes"), col("qid"),
            col("pr.n_hits").as("n_hits"))
          .withColumn("recall", col("n_hits").cast("double") / 10.0d)
          .select(col("probes"), col("qid"), col("n_hits"), col("recall"))
          .orderBy(col("probes"), col("qid"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
                   FROM embeddings),
        q AS (SELECT id AS qid, vec FROM v WHERE id < 8),
        c AS (SELECT id, vec FROM v WHERE id >= 8),
        truth AS (SELECT qid, id AS neighbor
                  FROM (SELECT q.qid, c.id,
                          ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                            ${sqlDot("q.vec", "c.vec")} /
                            (sqrt(${sqlDot("q.vec", "q.vec")})
                             * sqrt(${sqlDot("c.vec", "c.vec")})) DESC,
                            c.id) AS rnk
                        FROM c CROSS JOIN q)
                  WHERE rnk <= 10),
        cbits AS (
          SELECT id, j,
            CASE WHEN list_sum(list_transform(range(1, 65),
              i -> vec[i] * CASE WHEN (CAST(i-1 AS BIGINT)*19349663
                                       + CAST(j AS BIGINT)*73856093) % 97 < 48
                                 THEN 1.0 ELSE -1.0 END)) >= 0
                 THEN 1 ELSE 0 END AS bit
          FROM c CROSS JOIN range(12) t(j)),
        cband AS (SELECT id, j // 4 AS band,
                    SUM(bit * (1 << (j % 4)))::BIGINT AS bucket
                  FROM cbits GROUP BY 1, 2),
        qdots AS (
          SELECT qid, j,
            list_sum(list_transform(range(1, 65),
              i -> vec[i] * CASE WHEN (CAST(i-1 AS BIGINT)*19349663
                                       + CAST(j AS BIGINT)*73856093) % 97 < 48
                                 THEN 1.0 ELSE -1.0 END)) AS dot
          FROM q CROSS JOIN range(12) t(j)),
        qb AS (SELECT qid, j // 4 AS band, j % 4 AS r, dot,
                 CASE WHEN dot >= 0 THEN 1 ELSE 0 END AS bit
               FROM qdots),
        prim AS (SELECT qid, band, SUM(bit * (1 << r))::BIGINT AS bucket
                 FROM qb GROUP BY 1, 2),
        flips AS (SELECT qid, band, r, dot,
                    ROW_NUMBER() OVER (PARTITION BY qid, band
                      ORDER BY abs(dot), r) AS rn
                  FROM qb),
        pr AS (SELECT 0 AS probes, qid, band, bucket FROM prim
               UNION ALL
               SELECT 2, qid, band, bucket FROM prim
               UNION ALL
               SELECT 2, f.qid, f.band,
                      (p.bucket + CASE WHEN f.dot >= 0 THEN -(1 << f.r)
                                       ELSE (1 << f.r) END)::BIGINT
               FROM flips f JOIN prim p USING (qid, band)
               WHERE f.rn <= 2),
        cand AS (SELECT DISTINCT pr.probes, pr.qid, cb.id AS neighbor
                 FROM pr JOIN cband cb USING (band, bucket)),
        lv AS (SELECT * FROM (VALUES (0), (2)) AS l(probes))
        SELECT lv.probes::BIGINT AS probes, t.qid,
               SUM(CASE WHEN cand.neighbor IS NOT NULL
                        THEN 1 ELSE 0 END)::BIGINT AS n_hits,
               SUM(CASE WHEN cand.neighbor IS NOT NULL
                        THEN 1 ELSE 0 END)::DOUBLE / 10.0 AS recall
        FROM truth t CROSS JOIN lv
        LEFT JOIN cand ON cand.probes = lv.probes AND cand.qid = t.qid
                      AND cand.neighbor = t.neighbor
        GROUP BY lv.probes, t.qid
        ORDER BY probes, t.qid"""))
  )

  /** Build the q156 lake-resident IVF-PQ index: the q143 fold with PQ
    * codes in place of vectors — 3 doc-disjoint id-cut batches, each
    * coarse-assigned (exact integer L2 against the frozen code-domain
    * centroids, ties → lowest cid) and PQ-encoded under the TRAINED
    * book, then appended into a snapshot table PARTITIONED BY BUCKET.
    * The book is trained before the first batch and frozen across the
    * fold (encode under a moving book would make the index
    * batch-cut-dependent). A probe reads only its buckets' files; the
    * index row is (id, pq) — a few bytes — so at 100 TB the searchable
    * working set is the PQ codes, with full vectors touched only by the
    * re-rank's id join.
    */
  private def pqFold(s: SparkSession, dir: String, table: String,
      book: Seq[(Long, Seq[Long])]): Unit = {
    import graft.lake.{Lake, Snapshots}
    import org.apache.spark.sql.expressions.Window
    val coded = pqCoded(s, dir)
    val cents = coded.filter(col("id") < 8)
      .select(col("id").as("cid"), col("code").as("ccode"))
    val corpus = coded.filter(col("id") >= 8)
    val maxId = corpus.agg(max(col("id"))).head.getLong(0)
    val cuts = Seq(
      col("id") < maxId / 3,
      col("id") >= maxId / 3 && col("id") < 2 * maxId / 3,
      col("id") >= 2 * maxId / 3)
    val w = Window.partitionBy(col("id")).orderBy(col("dist"), col("cid"))
    cuts.foreach { cut =>
      val assigned = corpus.filter(cut).crossJoin(broadcast(cents))
        .withColumn("dist", VectorFunctions.l2sqInt(col("code"), col("ccode")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("code"), col("cid").as("bucket"))
      val enc = Similarity.pqEncode(assigned, book, subspaces = 4)
      Snapshots.append(
        enc.withColumn(Lake.PartitionCol, concat(lit("b"), col("bucket"))),
        table)
    }
  }

  // --------------------------------------------------------------------
  // Symmetric staged-artifact bench mode (r18, judge item #2).
  //
  // Five queries memoize immutable per-corpus artifacts on the Spark
  // side (ANN ground truth, trained PQ books, the folded IVF/IVF-PQ
  // index content) while their CORRECTNESS oracles re-derive everything
  // from raw floats every run — the right gate (independence), but a
  // bench denominator that flatters Spark. This section provides the
  // symmetric denominator: [[stageArtifacts]] writes exactly the
  // memoized artifacts as parquet, and [[stagedOracleSql]] carries an
  // alternate oracle per query that READS them (placeholder `{STAGED}`
  // = the staging dir) and keeps derived everything the Spark side also
  // derives per call (probes, per-call encodes, exact truth where not
  // memoized). tools/OracleBench.py `--staged-dir` VERIFIES each staged
  // oracle returns bit-identical rows to the re-deriving one before
  // timing it, so the duplicated SQL here cannot silently drift. The
  // re-deriving oracle remains the correctness gate.
  // --------------------------------------------------------------------

  /** Write the five queries' memoized artifacts as parquet under
    * `outDir`: ann_truth (q94), ivf_assigned (q143), pq_book + pq_enc +
    * pq_asg (q156/q157), pq_res_book (q161). Derivations are the same
    * deterministic paths the memos use.
    */
  def stageArtifacts(s: SparkSession, dir: String, outDir: String): Unit = {
    import s.implicits._
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
    // q94: exact-cosine ground truth over the assigned corpus
    val v = vecs(s, dir)
    val centroids = v.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val corpus = v.filter(col("id") >= 8)
    val assigned = Similarity.ivfAssign(corpus, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = v.filter(col("id") >= 8 && col("id") <= 17)
    save(Similarity.exactNeighbors(assigned, queries, k = 5), "ann_truth")
    // q143: the folded IVF index's content (id, vec, bucket)
    save(assigned.select(col("id"), col("vec"), col("bucket")),
      "ivf_assigned")
    assigned.unpersist(false)
    // q156/q157: trained book (per-subspace 16-dim slices), the coarse
    // code-domain assignment, and the trained-book encode (the folded
    // IVF-PQ index's rows)
    val coded = pqCoded(s, dir).localCheckpoint(true)
    val book = trainedBook(coded, dir)
    save(book.flatMap { case (cid, cw) =>
      (0 until 4).map(j => (j, cid, cw.slice(j * 16, (j + 1) * 16)))
    }.toDF("j", "cid", "ccode"), "pq_book")
    val cents = coded.filter(col("id") < 8)
      .select(col("id").as("cid"), col("code").as("ccode"))
    val pqCorpus = coded.filter(col("id") >= 8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("dist"), col("cid"))
    val asgC = pqCorpus.crossJoin(broadcast(cents))
      .withColumn("dist", VectorFunctions.l2sqInt(col("code"), col("ccode")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("code"), col("cid").as("bucket"))
      .localCheckpoint(true)
    save(asgC.select(col("id"), col("bucket")), "pq_asg")
    save(Similarity.pqEncode(asgC.select(col("id"), col("code")), book,
        subspaces = 4)
      .select(col("id"), posexplode(col("pq")))
      .select(col("id"), col("pos").cast("int").as("j"),
        col("col").as("cid")), "pq_enc")
    // q161: the residual-domain book (the one memoized q161 artifact)
    val resAssigned = asgC
      .join(cents.withColumnRenamed("cid", "bucket"), "bucket")
      .select(col("id"),
        zip_with(col("code"), col("ccode"), (x, y) => x - y).as("res"))
    val resBook = Artifacts.memo("vectors.pq_res_book", dir, Seq("embeddings"))(_ =>
      Similarity.pqTrainCodebook(
        resAssigned.select(col("id"), col("res").as("code")),
        resAssigned.filter(col("id") < 16)
          .select(col("id").as("cid"), col("res").as("code")),
        subspaces = 4, maxRounds = 2))
    save(resBook.flatMap { case (cid, cw) =>
      (0 until 4).map(j => (j, cid, cw.slice(j * 16, (j + 1) * 16)))
    }.toDF("j", "cid", "ccode"), "pq_res_book")
  }

  /** Derived-per-call enc (the q157/q161 symmetric shape): the frozen
    * BOOK comes from parquet, the encode of `srcCte` (id, 64-long
    * `codeCol`) under it is re-done in SQL — matching a Spark side that
    * memoizes the book but encodes per call.
    */
  private def sqlStagedEncode(srcCte: String, codeCol: String): String = s"""
    enc AS (SELECT id, j, cid FROM (
              SELECT s.id, s.j, b.cid,
                ROW_NUMBER() OVER (PARTITION BY s.id, s.j ORDER BY
                  list_sum(list_transform(range(1, 17), i ->
                    (s.code[i] - b.ccode[i]) * (s.code[i] - b.ccode[i]))),
                  b.cid) AS rn
              FROM (${(0 until 4).map(j =>
                s"SELECT id, $j AS j, $codeCol[${j * 16 + 1}:${(j + 1) * 16}] AS code FROM $srcCte")
                .mkString("\n                    UNION ALL ")}) s
              JOIN book b ON b.j = s.j)
            WHERE rn = 1)"""

  /** The five staged oracles ({STAGED} = staging dir). OracleBench
    * verifies each against the re-deriving oracle's rows before timing.
    */
  lazy val stagedOracleSql: Map[String, String] = Map(
    "q94_ann_recall" -> s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             cent AS (SELECT id AS cid, vec AS cvec FROM v WHERE id < 8),
             corpus AS (SELECT * FROM v WHERE id >= 8),
             q AS (SELECT id AS qid, vec AS qv FROM v WHERE id >= 8 AND id <= 17),
             truth AS (SELECT qid, neighbor
                       FROM read_parquet('{STAGED}/ann_truth.parquet/*.parquet')),
             tc AS (SELECT qid, COUNT(*)::BIGINT AS n_true FROM truth GROUP BY qid),
             ad AS (SELECT corpus.id, corpus.vec, cid,
                      list_sum(list_transform(range(1, 65),
                        i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))) AS dist
                    FROM corpus CROSS JOIN cent),
             assigned AS (SELECT id, vec, cid AS bucket
                          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY dist, cid) AS rn FROM ad)
                          WHERE rn = 1),
             qd AS (SELECT q.qid, q.qv, cid,
                      list_sum(list_transform(range(1, 65),
                        i -> (qv[i] - cvec[i]) * (qv[i] - cvec[i]))) AS dist
                    FROM q CROSS JOIN cent),
             probes AS (SELECT qid, qv, cid AS bucket, rn
                        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY dist, cid) AS rn FROM qd)
                        WHERE rn <= 4),
             np AS (SELECT unnest([1, 2, 4]) AS nprobe),
             cand AS (SELECT np.nprobe, p.qid, a.id AS cid,
                        ${sqlDot("p.qv", "a.vec")} /
                        (sqrt(${sqlDot("p.qv", "p.qv")}) *
                         sqrt(${sqlDot("a.vec", "a.vec")})) AS cos
                      FROM probes p
                      JOIN np ON p.rn <= np.nprobe
                      JOIN assigned a ON a.bucket = p.bucket
                      WHERE a.id <> p.qid),
             ivf AS (SELECT nprobe, qid, cid
                     FROM (SELECT nprobe, qid, cid,
                             ROW_NUMBER() OVER (PARTITION BY nprobe, qid
                               ORDER BY cos DESC, cid) AS rnk
                           FROM cand)
                     WHERE rnk <= 5),
             hit AS (SELECT nprobe, ivf.qid AS qid, COUNT(*)::BIGINT AS n_hit
                     FROM ivf JOIN truth ON ivf.qid = truth.qid
                                        AND ivf.cid = truth.neighbor
                     GROUP BY nprobe, ivf.qid)
        SELECT np.nprobe, tc.qid, tc.n_true,
               COALESCE(hit.n_hit, 0)::BIGINT AS n_hit,
               COALESCE(hit.n_hit, 0)::DOUBLE / tc.n_true AS recall
        FROM tc CROSS JOIN np
        LEFT JOIN hit ON hit.nprobe = np.nprobe AND hit.qid = tc.qid
        ORDER BY np.nprobe, tc.qid""",

    "q143_ivf_lake_fold" -> s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             cent AS (SELECT id AS cid, vec AS cvec FROM v WHERE id < 8),
             corpus AS (SELECT * FROM v WHERE id >= 8),
             assigned AS (SELECT id, vec, bucket
                          FROM read_parquet('{STAGED}/ivf_assigned.parquet/*.parquet')),
             qs AS (SELECT corpus.id AS qid, corpus.vec AS qv, cid,
                          list_sum(list_transform(range(1, 65),
                            i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))) AS dist
                        FROM corpus CROSS JOIN cent
                        WHERE corpus.id >= 8 AND corpus.id <= 12),
             q AS (SELECT qid, qv, cid AS bucket
                   FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY dist, cid) AS rn FROM qs)
                   WHERE rn <= 2),
             cand AS (SELECT qid, qv, a.id AS cid, a.vec AS cv
                      FROM assigned a JOIN q USING (bucket) WHERE a.id <> qid),
             s AS (SELECT qid, cid,
                     ${sqlDot("qv", "cv")} /
                     (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})) AS cos
                   FROM cand)
        SELECT qid, rank, cid AS neighbor, cos
        FROM (SELECT qid, cid, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
              FROM s)
        WHERE rank <= 3
        ORDER BY qid, rank""",

    "q156_ivfpq_search" -> s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             codes AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             corpus AS (SELECT id, code FROM codes WHERE id >= 8),
             book AS (SELECT j, cid, ccode
                      FROM read_parquet('{STAGED}/pq_book.parquet/*.parquet')),
             enc AS (SELECT id, j, cid
                     FROM read_parquet('{STAGED}/pq_enc.parquet/*.parquet')),
             centC AS (SELECT id AS cid, code AS ccode FROM codes WHERE id < 8),
             asgC AS (SELECT id, bucket
                      FROM read_parquet('{STAGED}/pq_asg.parquet/*.parquet')),
             q AS (SELECT id AS qid, code AS qcode FROM corpus WHERE id <= 12),
             probes AS (SELECT qid, bucket
                        FROM (SELECT q.qid, c.cid AS bucket,
                                ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                                  list_sum(list_transform(range(1, 65), i ->
                                    (qcode[i] - ccode[i]) * (qcode[i] - ccode[i]))), c.cid) AS rn
                              FROM q CROSS JOIN centC c)
                        WHERE rn <= 2),
             cand AS (SELECT p.qid, a.id
                      FROM asgC a JOIN probes p ON a.bucket = p.bucket
                      WHERE a.id <> p.qid),
             adc AS (SELECT c.qid, c.id,
                       SUM(list_sum(list_transform(range(1, 17), i ->
                         (q.qcode[e.j*16 + i] - b.ccode[i]) *
                         (q.qcode[e.j*16 + i] - b.ccode[i]))))::BIGINT AS dist
                     FROM cand c
                     JOIN enc e ON e.id = c.id
                     JOIN book b ON b.j = e.j AND b.cid = e.cid
                     JOIN q ON q.qid = c.qid
                     GROUP BY c.qid, c.id),
             short AS (SELECT qid, id
                       FROM (SELECT qid, id,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY dist, id) AS rr FROM adc)
                       WHERE rr <= 5),
             rr AS (SELECT s.qid, s.id,
                      list_sum(list_transform(range(1, 65), i ->
                        (q.qcode[i] - c.code[i]) *
                        (q.qcode[i] - c.code[i])))::BIGINT AS dist
                    FROM short s
                    JOIN q ON q.qid = s.qid
                    JOIN corpus c ON c.id = s.id)
        SELECT qid, rank, id AS neighbor, dist
        FROM (SELECT qid, id, dist,
                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
              FROM rr)
        WHERE rank <= 3
        ORDER BY qid, rank""",

    "q157_pq_recall" -> s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             codes AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             corpus AS (SELECT id, code FROM codes WHERE id >= 8),
             book AS (SELECT j, cid, ccode
                      FROM read_parquet('{STAGED}/pq_book.parquet/*.parquet')),
             ${sqlStagedEncode("corpus", "code")},
             q AS (SELECT id AS qid, code AS qcode FROM corpus WHERE id <= 12),
             truth AS (SELECT qid, id
                       FROM (SELECT q.qid, c.id,
                               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                                 list_sum(list_transform(range(1, 65), i ->
                                   (qcode[i] - code[i]) * (qcode[i] - code[i]))), c.id) AS rk
                             FROM corpus c CROSS JOIN q
                             WHERE c.id <> q.qid)
                       WHERE rk <= 3),
             adc AS (SELECT q.qid, e.id,
                       SUM(list_sum(list_transform(range(1, 17), i ->
                         (q.qcode[e.j*16 + i] - b.ccode[i]) *
                         (q.qcode[e.j*16 + i] - b.ccode[i]))))::BIGINT AS dist
                     FROM enc e
                     JOIN book b ON b.j = e.j AND b.cid = e.cid
                     CROSS JOIN q
                     WHERE e.id <> q.qid
                     GROUP BY q.qid, e.id),
             adc3 AS (SELECT qid, id
                      FROM (SELECT qid, id,
                              ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist, id) AS rk FROM adc)
                      WHERE rk <= 3),
             short AS (SELECT qid, id
                       FROM (SELECT qid, id,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY dist, id) AS rk FROM adc)
                       WHERE rk <= 5),
             rr3 AS (SELECT qid, id
                     FROM (SELECT s.qid, s.id,
                             ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY
                               list_sum(list_transform(range(1, 65), i ->
                                 (q.qcode[i] - c.code[i]) * (q.qcode[i] - c.code[i]))), s.id) AS rk
                           FROM short s
                           JOIN q ON q.qid = s.qid
                           JOIN corpus c ON c.id = s.id)
                     WHERE rk <= 3),
             hits AS (SELECT 'adc' AS method, a.qid, COUNT(*) AS n_hit
                      FROM adc3 a JOIN truth t ON t.qid = a.qid AND t.id = a.id
                      GROUP BY a.qid
                      UNION ALL
                      SELECT 'rerank' AS method, r.qid, COUNT(*) AS n_hit
                      FROM rr3 r JOIN truth t ON t.qid = r.qid AND t.id = r.id
                      GROUP BY r.qid),
             tc AS (SELECT qid, COUNT(*)::BIGINT AS n_true FROM truth GROUP BY qid)
        SELECT m.method, tc.qid, tc.n_true,
               COALESCE(h.n_hit, 0)::BIGINT AS n_hit,
               COALESCE(h.n_hit, 0)::DOUBLE / tc.n_true AS recall
        FROM tc
        CROSS JOIN (SELECT 'adc' AS method UNION ALL SELECT 'rerank') m
        LEFT JOIN hits h ON h.qid = tc.qid AND h.method = m.method
        ORDER BY m.method, tc.qid""",

    "q161_residual_ivfpq" -> s"""
        WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
             codes AS (SELECT id, ${sqlCodes("vec")} AS code FROM v),
             corpus AS (SELECT id, code FROM codes WHERE id >= 8),
             centC AS (SELECT id AS cid, code AS ccode FROM codes WHERE id < 8),
             asgC AS MATERIALIZED (SELECT id, code, cid AS bucket
                      FROM (SELECT corpus.id, corpus.code, c.cid,
                              ROW_NUMBER() OVER (PARTITION BY corpus.id ORDER BY
                                list_sum(list_transform(range(1, 65), i ->
                                  (code[i] - ccode[i]) * (code[i] - ccode[i]))), c.cid) AS rn
                            FROM corpus CROSS JOIN centC c)
                      WHERE rn = 1),
             res AS MATERIALIZED (SELECT a.id, a.bucket,
                            list_transform(range(1, 65), i ->
                              a.code[i] - c.ccode[i]) AS res
                     FROM asgC a JOIN centC c ON c.cid = a.bucket),
             book AS (SELECT j, cid, ccode
                      FROM read_parquet('{STAGED}/pq_res_book.parquet/*.parquet')),
             ${sqlStagedEncode("res", "res")},
             q AS (SELECT id AS qid, code AS qcode FROM corpus WHERE id <= 12),
             probes AS (SELECT qid, bucket
                        FROM (SELECT q.qid, c.cid AS bucket,
                                ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                                  list_sum(list_transform(range(1, 65), i ->
                                    (qcode[i] - ccode[i]) * (qcode[i] - ccode[i]))), c.cid) AS rn
                              FROM q CROSS JOIN centC c)
                        WHERE rn <= 2),
             probesR AS (SELECT p.qid, p.bucket,
                                list_transform(range(1, 65), i ->
                                  q.qcode[i] - c.ccode[i]) AS qres
                         FROM probes p
                         JOIN q ON q.qid = p.qid
                         JOIN centC c ON c.cid = p.bucket),
             cand AS (SELECT p.qid, r.id, r.bucket
                      FROM res r JOIN probes p ON r.bucket = p.bucket
                      WHERE r.id <> p.qid),
             adc AS (SELECT cd.qid, cd.id,
                       SUM(list_sum(list_transform(range(1, 17), i ->
                         (pr.qres[e.j*16 + i] - b.ccode[i]) *
                         (pr.qres[e.j*16 + i] - b.ccode[i]))))::BIGINT AS dist
                     FROM cand cd
                     JOIN enc e ON e.id = cd.id
                     JOIN book b ON b.j = e.j AND b.cid = e.cid
                     JOIN probesR pr ON pr.qid = cd.qid AND pr.bucket = cd.bucket
                     GROUP BY cd.qid, cd.id),
             short AS (SELECT qid, id
                       FROM (SELECT qid, id,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY dist, id) AS rr FROM adc)
                       WHERE rr <= 5),
             rr AS (SELECT s.qid, s.id,
                      list_sum(list_transform(range(1, 65), i ->
                        (q.qcode[i] - c.code[i]) *
                        (q.qcode[i] - c.code[i])))::BIGINT AS dist
                    FROM short s
                    JOIN q ON q.qid = s.qid
                    JOIN corpus c ON c.id = s.id)
        SELECT qid, rank, id AS neighbor, dist
        FROM (SELECT qid, id, dist,
                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
              FROM rr)
        WHERE rank <= 3
        ORDER BY qid, rank""")
}
