package graft.streaming

import graft.lake.Lake
import graft.schema.SchemaResolver
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The E1 pipeline as ONE Structured Streaming query (SURVEY.md §3 E1):
  * landing files → framing/transform → schema resolution with sidelining →
  * hour-partitioned lake append. The reference's five Lambda/SQS hops
  * collapse into stages of this query. The checkpointed file source gives
  * each input file exactly one processing (the DDB sequencer-dedup S11
  * equivalent); the sink appends are at-least-once if a crash replays an
  * uncommitted batch — a transactional table format whose commit carries
  * the batch id (Iceberg, as the reference uses) upgrades the sink side
  * to exactly-once; the engine's deterministic ids are chosen so such
  * replays stay idempotent for downstream MERGE sinks.
  */
object Ingest {

  final case class Pipeline(
      transform: DataFrame => DataFrame,
      target: StructType,
      lakePath: String,
      sidelinePath: String)

  /** Apply one micro-batch: transform → resolve → append clean rows to the
    * lake, mismatches to the sideline (grouped by error_kind, reference
    * S17). Used by both the streaming sink and batch backfills — same
    * code, same layout.
    *
    * The batch is read once: the flagged frame is persisted for the span
    * of the call (Spark's multiple-sink `foreachBatch` pattern), the lake
    * append fills it and counts the mismatched rows on the way (an
    * `observe` metric, no separate emptiness job), and the sideline write,
    * run only when that count is non-zero, reads the cached rows. The
    * cache is released in a `finally`, so nothing outlives the batch, a
    * failed write included.
    */
  def processBatch(p: Pipeline)(batch: DataFrame, batchId: Long): Unit = {
    val flagged = SchemaResolver.flag(p.transform(batch), p.target).persist()
    try {
      val mismatched = Observation()
      val counted = flagged.observe(mismatched,
        count_if(col(SchemaResolver.ErrorFlag)).as("n"))
      Lake.append(SchemaResolver.split(counted, p.target).resolved, p.lakePath)
      if (mismatched.get("n") != 0L) {
        // a sidelined row without an event time gets the batch time, read
        // from a UDF's closure: `current_timestamp()` folds to a literal
        // that codegen inlines, so each batch's code would differ and compile
        val batchTime = java.sql.Timestamp.from(java.time.Instant.now())
        val now = udf(() => batchTime)
        SchemaResolver.split(flagged, p.target).sidelined
          .withColumn("ts", coalesce(col("ts").cast("timestamp"), now()))
          .write.mode("append").partitionBy("error_kind").json(p.sidelinePath)
      }
    } finally flagged.unpersist(blocking = true)
  }

  /** Start the ingest query over ANY streaming source — the queue-shaped
    * entry (reference S9): the caller provides a streaming DataFrame of
    * raw messages (Kafka `format("kafka")...selectExpr("CAST(value AS
    * STRING)")`, a cloud-queue connector, or a memory/rate source in
    * tests) and `p.transform` frames messages into the target shape. The
    * pipeline downstream — resolve, sideline, hour-partitioned lake
    * append — is byte-identical to the file path: source choice is a
    * one-line swap, not a second pipeline. Offsets live in the checkpoint,
    * so each message is processed exactly once across restarts; sink
    * appends stay idempotent for replayed uncommitted batches as in
    * [[start]].
    */
  def startFromStream(source: DataFrame, p: Pipeline, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    source.writeStream
      .foreachBatch((b: DataFrame, id: Long) => processBatch(p)(b, id))
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Start the continuous ingest query over a landing directory. */
  def start(spark: SparkSession, landingPath: String, landingSchema: StructType,
      p: Pipeline, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startFromStream(
      spark.readStream.schema(landingSchema)
        .option("maxFilesPerTrigger", 1000)
        .json(landingPath),
      p, checkpoint, trigger)

  /** Convenience: run to completion with AvailableNow (tests/backfill). */
  def runOnce(spark: SparkSession, landingPath: String, landingSchema: StructType,
      p: Pipeline, checkpoint: String): Unit = {
    val q = start(spark, landingPath, landingSchema, p, checkpoint)
    q.awaitTermination()
  }

  /** Idempotent BATCH backfill without a streaming checkpoint — the
    * driver-controlled path for historical re-ingests (re-running a
    * month of landed objects) where standing up a streaming query per
    * run is the wrong tool: a file LEDGER table records every ingested
    * file; each invocation lists the landing directory, anti-joins the
    * ledger (distributed — the ledger can be millions of rows), pipes
    * only the NEW files through the same [[processBatch]] as streaming,
    * and appends them to the ledger LAST.
    *
    * Semantics: re-runs are no-ops for ledgered files (the spec gates
    * it); a crash between the lake append and the ledger append
    * re-processes at most the in-flight batch on the next run —
    * at-least-once with a bounded window, which downstream record-level
    * dedup (S11, q25's keep-first) absorbs, the same contract cloud
    * queue ingest gives the streaming path.
    *
    * @return number of newly processed files
    */
  def backfillOnce(spark: SparkSession, landingPath: String,
      landingSchema: StructType, p: Pipeline, ledgerPath: String): Int = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(landingPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(new org.apache.hadoop.fs.Path(landingPath))
      .filter(_.isFile)
      // Spark's hidden-file convention, on the BASENAME only — a landing
      // dir whose own path contains "/_incoming/" must not filter to zero.
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .map(_.getPath.toString)
    val candidates = listed.toSeq.toDF("path")
    // Ledger-missing (first run) is expected; ledger-UNREADABLE is not.
    // Swallowing a transient read error here would silently reprocess the
    // entire landing history, breaking the "at most the in-flight batch"
    // re-processing bound — so only genuinely-empty states are forgiven:
    // a missing path, or a dir with no committed parquet files (the state
    // a crash during the FIRST ledger write leaves behind — its files
    // were never ledgered, so reprocessing them is the documented
    // in-flight-batch window, not a history replay).
    val lp = new org.apache.hadoop.fs.Path(ledgerPath)
    val ledgerFs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committedLedgerFiles: Boolean = ledgerFs.listStatus(lp).exists { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")
    }
    val ledgered =
      if (ledgerFs.exists(lp) && committedLedgerFiles)
        spark.read.parquet(ledgerPath).select(col("path"))
      else Seq.empty[String].toDF("path")
    // bounded collect: one row per NEW file of this batch — the driver
    // must hold the batch's file list anyway to build the read
    val fresh = candidates.join(ledgered, Seq("path"), "left_anti")
      .as[String].collect().sorted
    if (fresh.nonEmpty) {
      processBatch(p)(
        spark.read.schema(landingSchema).json(fresh: _*), batchId = -1L)
      fresh.toSeq.toDF("path").write.mode("append").parquet(ledgerPath)
    }
    fresh.length
  }
}
