package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Enrichment-table lookup joins.
  *
  * The reference resolves `get_enrichment_table_record(table, {key: value})`
  * with an mmap'd Avro file + per-key offset index (reference
  * lib/rust/shared/src/functions.rs:108-255, avro_index.rs:30-156). In Spark
  * the idiomatic equivalent is a broadcast hash join: the enrichment table is
  * small by construction, so the lookup side ships to every executor once and
  * the probe is a hash-map hit inside whole-stage codegen — same point-lookup
  * cost, no custom index machinery, and it scales to any event volume because
  * the big side never shuffles.
  */
object Enrichment {

  /** Left-join `events` against a small `enrichment` table on equality of
    * `eventKey == lookupKey`, exposing the matched record as one struct
    * column `as` (null when no match) — the shape VRL's
    * get_enrichment_table_record returns.
    */
  def lookupJoin(
      events: DataFrame,
      enrichment: DataFrame,
      eventKey: Column,
      lookupKey: String,
      as: String): DataFrame = {
    val packed = enrichment
      .select(col(lookupKey).as("__graft_lookup_key"),
        struct(enrichment.columns.map(col).toIndexedSeq: _*).as(as))
    events.join(broadcast(packed), eventKey === col("__graft_lookup_key"), "left")
      .drop("__graft_lookup_key")
  }

  /** Flat variant: append selected enrichment columns (optionally prefixed)
    * instead of a struct. Columns absent on miss are null, as in the
    * reference's left-lookup semantics.
    */
  def lookupJoinFlat(
      events: DataFrame,
      enrichment: DataFrame,
      eventKey: Column,
      lookupKey: String,
      prefix: String = ""): DataFrame = {
    val renamed = enrichment.columns.foldLeft(enrichment) { (d, c) =>
      d.withColumnRenamed(c, prefix + c)
    }
    events.join(broadcast(renamed), eventKey === col(prefix + lookupKey), "left")
  }

  /** Point-lookup form for imperative consumers (the reference's
    * detection-side `get_enrichment_table_record`): collect the small
    * table once into a broadcast map keyed by `lookupKey`. Use inside
    * rules/foreachBatch bodies; plan-level joins should use lookupJoin.
    *
    * Size-guarded: collecting a mislabeled "enrichment" table of lake
    * scale would OOM the DRIVER (a broadcast map is driver-resident
    * before shipping), so the collect is capped by `maxRows` — a table
    * over the cap fails fast with a pointer at the distributed join API
    * instead of dying mid-collect. Probe and collect are ONE
    * `limit(cap+1)` job (the documented call site is a foreachBatch body
    * — a separate probe job would double the enrichment scan every
    * micro-batch): one extra row over the cap is enough to detect the
    * overflow without materializing the table.
    *
    * Duplicate `lookupKey` values collapse to ONE map entry (last wins
    * in collect order, which is not deterministic across runs) — the
    * point-lookup contract is one row per key; dedupe upstream if the
    * table can carry duplicates.
    */
  def lookupMap(enrichment: DataFrame, lookupKey: String,
      maxRows: Long = 2000000L)
      : org.apache.spark.broadcast.Broadcast[Map[String, org.apache.spark.sql.Row]] = {
    val cap = maxRows.min(Int.MaxValue - 1L).toInt
    val rows = enrichment.limit(cap + 1).collect()
    if (rows.length > cap) sys.error(
      s"enrichment table exceeds the $cap-row broadcast-map cap — " +
        "use Enrichment.lookupJoin (distributed, size-gated broadcast join) " +
        "instead of the driver-side lookupMap, or raise maxRows deliberately")
    val keyed = rows.map(r => String.valueOf(r.getAs[Any](lookupKey)) -> r).toMap
    enrichment.sparkSession.sparkContext.broadcast(keyed)
  }

  /** Streaming refresh (reference Enrichment.kt:122-128: enrichment data
    * re-resolves with ~1 minute staleness): a handle that re-reads the
    * enrichment table from storage when the cached load is older than
    * `stalenessMs`. In a `foreachBatch` body each micro-batch calls
    * `get`, so a refreshed enrichment table becomes visible to the next
    * batch — the broadcast in lookupJoin is rebuilt from the fresh read
    * rather than frozen into the streaming plan at start.
    *
    * When the table is published through the snapshot-pointer protocol
    * ([[graft.lake.Snapshots]] — detected by its `_graft_lake` metadata
    * dir), each refresh pins the then-current snapshot, so destructive
    * rewrites (overwritePartitions, compactHour, mergeUpsert) commit
    * freely: the cached frame keeps reading the file set of its pinned
    * manifest until the staleness refresh picks up the new version — the
    * isolation a real Iceberg catalog would provide. For a bare parquet
    * directory the old contract stands: publish updates NON-destructively
    * within the staleness window (an in-place overwrite deletes files the
    * cached frame's index still references, failing batches until the
    * next refresh).
    */
  final class RefreshingTable(path: String, stalenessMs: Long = 60000L)
      extends Serializable {
    @transient private var cached: DataFrame = _
    @transient private var loadedAtMs = 0L
    def get(spark: org.apache.spark.sql.SparkSession): DataFrame = synchronized {
      val now = System.currentTimeMillis()
      if (cached == null || now - loadedAtMs > stalenessMs) {
        // a fresh read re-lists (or re-pins a snapshot), so upserted /
        // compacted enrichment snapshots are picked up; between refreshes
        // the cached frame's file index avoids re-listing on every batch
        cached =
          if (graft.lake.Snapshots.currentVersion(path).isDefined)
            graft.lake.Snapshots.read(spark, path)
          else spark.read.parquet(path)
        loadedAtMs = now
      }
      cached
    }
  }

  /** foreachBatch body factory: join each micro-batch against the
    * (staleness-refreshed) enrichment table, then hand to `write`.
    */
  def enrichedForeachBatch(
      refresher: RefreshingTable, eventKey: Column, lookupKey: String, as: String)(
      write: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      write(lookupJoin(batch, refresher.get(batch.sparkSession), eventKey, lookupKey, as))
}
