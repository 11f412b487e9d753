package graft.lake

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Lake layout + maintenance: hour-partitioned columnar storage with
  * partition-level rewrite, mirroring the reference's Iceberg usage
  * (`PARTITIONED BY hours(ts)`, append commits, overwrite-partition
  * retro-updates, hourly bin-pack OPTIMIZE — IcebergMetadataWriter.kt,
  * AlertsIcebergHelper.kt:56-102, iceberg-maintenance.ts:63-66).
  *
  * Iceberg integration attempt (documented per round-1 review): this
  * sandbox has zero network egress, `iceberg-spark-runtime` is absent
  * from /opt/spark/jars and from the offline coursier cache, and
  * `libraryDependencies` beyond build.sbt are disallowed — so a real
  * catalog (`PARTITIONED BY (hours(ts))`, `MERGE INTO`,
  * `expire_snapshots`/`rewrite_manifests`) cannot load. The physical
  * layer is therefore hour-partitioned zstd parquet with Spark dynamic
  * partition overwrite — the same layout and commit-semantics class; on a
  * cluster with an Iceberg catalog these calls become
  * `writeTo(t).append()` / `overwritePartitions()` /
  * `CALL rewrite_data_files` with no operator changes above them. The
  * catalog-only features that ARE expressible without the jars live
  * here: schema evolution ([[evolveAppend]] = the reference's
  * `unionByNameWith`, MatanoIcebergTableCustomResource.kt:194-212) and
  * key-based MERGE scoped to touched partitions ([[mergeUpsert]],
  * Enrichment.kt:305-324).
  */
object Lake {

  val PartitionCol = "ts_hour"

  /** Stamp the reference's `%Y-%m-%d-%H` partition value from event time.
    * A frame that already carries the partition column keeps it — updates
    * flowing back through [[overwritePartitions]] must stay in their
    * ORIGINAL partition (dynamic overwrite would otherwise delete every
    * row of any partition a re-derived value happens to land in).
    */
  def withHourPartition(df: DataFrame, tsCol: String = "ts"): DataFrame =
    if (df.columns.contains(PartitionCol)) df
    else df.withColumn(PartitionCol, date_format(col(tsCol), "yyyy-MM-dd-HH"))

  /** Append rows into hour partitions. */
  def append(df: DataFrame, path: String): Unit =
    withHourPartition(df).write.mode("append")
      .partitionBy(PartitionCol).parquet(path)

  /** Overwrite only the partitions present in `df` (retro-activation /
    * enrichment refresh path). Requires dynamic partitionOverwriteMode,
    * set per-write here so session config stays untouched.
    */
  def overwritePartitions(df: DataFrame, path: String): Unit =
    withHourPartition(df).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartitionCol).parquet(path)

  /** Partition-pruned read: `WHERE ts_hour IN …` prunes directories.
    *
    * The table schema is read on the driver from one parquet footer, the one
    * Spark's own inference reads: the first data file by full path
    * (`ParquetUtils.splitFiles`), converted by Spark's converter
    * ([[GraftParquetBridge.footerSchema]]). Planning then starts no Spark
    * job; Spark's inference would run a one-task job for that footer. A
    * path that is missing, a glob or not a directory, that holds no data
    * file, or that shows a parquet summary file on the way to the first one,
    * is left to Spark's inference, which keeps its errors and its choice.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.option("basePath", path)
    firstDataFile(spark, path).flatMap(GraftParquetBridge.footerSchema(spark, _)) match {
      case Some(schema) => reader.schema(schema).parquet(path)
      case None => reader.parquet(path)
    }
  }

  private val SummaryFiles = Set("_metadata", "_common_metadata")

  /** The least data file under `path` by full path, among the entries
    * Spark's file index keeps. A best-first walk: a directory waits in the
    * queue under its path plus "/", a lower bound of every path below it,
    * so the first file dequeued is the least of all, and only the
    * directories on the way to it are listed (the root and one hour for an
    * hour-partitioned table), whatever the table's size.
    */
  private def firstDataFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootDir = if (path.exists("{}[]*?\\".contains(_))) None
      else scala.util.Try(fs.getFileStatus(root)).toOption.filter(_.isDirectory)
    val queue = mutable.PriorityQueue.empty[(String, FileStatus)](
      Ordering.by[(String, FileStatus), String](_._1).reverse)
    def list(dir: FileStatus): Boolean = {
      val kept = fs.listStatus(dir.getPath)
        .filter(st => GraftParquetBridge.listedByFileIndex(st.getPath.getName))
      kept.foreach(st => queue.enqueue(
        (if (st.isDirectory) s"${st.getPath}/" else st.getPath.toString, st)))
      !kept.exists(st => SummaryFiles(st.getPath.getName))
    }
    var found: Option[FileStatus] = None
    var walk = rootDir.exists(list)
    while (walk && found.isEmpty && queue.nonEmpty) {
      val (_, st) = queue.dequeue()
      if (st.isDirectory) walk = list(st) else found = Some(st)
    }
    found.filter(_ => walk)
  }

  /** Bin-pack one hour partition to ~targetBytes files (the hourly
    * OPTIMIZE job): rewrite that partition's files only.
    */
  def compactHour(spark: SparkSession, path: String, hour: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val part = read(spark, path).filter(col(PartitionCol) === hour)
    val bytes = part.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = math.max(1, (BigDecimal(bytes) / targetBytes).setScale(0, BigDecimal.RoundingMode.CEILING).toInt)
    overwritePartitions(part.repartition(files).drop(PartitionCol), path)
  }

  /** Schema-evolving append — the reference evolves the Iceberg table
    * schema by name-union when a source mapping grows fields
    * (`unionByNameWith`): columns new in `df` appear in the table (old
    * rows read null there via parquet schema merge); columns the table
    * has but `df` lacks are null-filled on the incoming side. Top-level
    * name union; struct-internal evolution follows parquet's by-name
    * field resolution on read.
    */
  /** Evolved-schema cache: merging every file footer per append would be
    * O(total files) at scale (a real catalog stores the schema in table
    * metadata); one merge per session per path, then evolved in-memory as
    * appends widen it.
    *
    * SINGLE-WRITER ASSUMPTION: the cache is per-JVM, so a second writer
    * process appending to the same path with a schema this JVM hasn't seen
    * would evolve from a stale union (reads still self-heal via
    * mergeSchema). Multi-writer deployments should route appends through
    * [[Snapshots]], whose manifest CAS serializes commits; [[invalidateSchema]]
    * drops a path's cached entry for callers that know the table changed
    * underneath them.
    */
  private val schemaCache = scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** Drop the cached evolved schema for `path` (re-derived on next append). */
  def invalidateSchema(path: String): Unit = schemaCache.remove(path)

  def evolveAppend(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val existing = schemaCache.get(path).orElse(scala.util.Try(
      spark.read.option("basePath", path).option("mergeSchema", "true")
        .parquet(path).schema).toOption)
    val aligned = existing match {
      case None => df
      case Some(tableSchema) =>
        val have = df.columns.toSet
        val missing = tableSchema.fields.filterNot(f =>
          have.contains(f.name) || f.name == PartitionCol)
        missing.foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    append(aligned, path)
    // table schema after this append = name-union of what was there + df
    val union = existing match {
      case None => aligned.schema
      case Some(prev) => StructType(prev.fields ++
        aligned.schema.fields.filterNot(f => prev.fieldNames.contains(f.name)))
    }
    schemaCache.put(path, StructType(union.filterNot(_.name == PartitionCol)))
  }

  /** Evolution-aware read: parquet schema merge unions all file schemas
    * (old files resolve new columns to null by name).
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("basePath", path).option("mergeSchema", "true").parquet(path)

  /** Broadcast hint only when the plan-estimated size fits a broadcast
    * (enrichment-sized update batches); a backfill-scale update frame
    * falls back to a plain join and lets AQE pick the strategy — an
    * unconditional `broadcast()` there blows the driver/broadcast limit.
    */
  def sizeGatedBroadcast(df: DataFrame,
      maxBytes: Long = 64L * 1024 * 1024): DataFrame =
    if (fitsBroadcast(df, maxBytes)) broadcast(df) else df

  /** The gate behind [[sizeGatedBroadcast]], exposed for callers whose
    * oversized fallback is a different JOIN SHAPE (not just a dropped
    * hint) — e.g. a range semi-join that must re-bucket to equi keys
    * when the small side outgrows a broadcast.
    */
  def fitsBroadcast(df: DataFrame,
      maxBytes: Long = 64L * 1024 * 1024): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes

  /** Key-based MERGE INTO on the lake (reference Enrichment.kt:305-324:
    * `WHEN MATCHED UPDATE, WHEN NOT MATCHED INSERT`), rewriting ONLY the
    * hour partitions that contain matched keys; unmatched-key updates
    * append into their own event-time partitions. Partitions untouched by
    * any update are never read or rewritten — at 100 TB the rewrite cost
    * scales with the update's partition footprint, not table size.
    */
  /** Iceberg's MERGE cardinality rule, shared by both merge entry points
    * (here and [[Snapshots.mergeUpsert]]): multiple source rows per key
    * would silently multiply matched target rows through the merge join.
    */
  private[lake] def requireUniquePk(updates: DataFrame, pk: String): Unit = {
    val dupes = updates.groupBy(col(pk)).count().filter(col("count") > 1).limit(1)
    if (!dupes.isEmpty)
      throw new IllegalArgumentException(
        s"mergeUpsert: updates contain duplicate values of primary key '$pk'")
  }

  def mergeUpsert(spark: SparkSession, path: String, updatesIn: DataFrame, pk: String): Unit = {
    // four actions reference the update frame (pk check, match probe,
    // rewrite, insert) — materialize once, as in Snapshots.mergeUpsert
    val updates = updatesIn.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeUpsertImpl(spark, path, updates, pk)
    finally updates.unpersist(false)
  }

  private def mergeUpsertImpl(spark: SparkSession, path: String,
      updates: DataFrame, pk: String): Unit = {
    requireUniquePk(updates, pk)
    val lake = read(spark, path)
    val renamed = updates.columns.foldLeft(updates)((d, c) => d.withColumnRenamed(c, "__u_" + c))
    // ONE scan locates matched keys + their partitions (tiny result:
    // bounded by |updates| × partitions-per-key); persisted so the rewrite
    // and insert branches below don't rescan the lake
    val gated = sizeGatedBroadcast(renamed)
    val matched = lake.join(gated, col(pk) === col("__u_" + pk))
      .select(col(PartitionCol), col(pk)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touchedHours = matched.select(col(PartitionCol)).distinct()
      val affected = lake.join(broadcast(touchedHours), Seq(PartitionCol))
      val updatedCols = updates.columns.filterNot(_ == pk)
      // keep each rewritten row in its ORIGINAL hour partition (even if an
      // updated ts would re-derive differently) — the rewrite set covers
      // only matched partitions, so letting a row migrate into an
      // untouched partition would dynamic-overwrite that partition down to
      // the single migrated row. Cross-partition moves are delete+insert,
      // as in Iceberg.
      val rewritten = updatedCols.foldLeft(
          affected.join(gated, col(pk) === col("__u_" + pk), "left")) {
          (d, c) => d.withColumn(c, coalesce(col("__u_" + c), col(c)))
        }
        .drop(updates.columns.map("__u_" + _).toIndexedSeq: _*)
      overwritePartitions(rewritten, path)
      // inserts: update keys matched nowhere (rows must carry event time
      // for their partition, as any lake append does)
      val inserts = renamed.join(matched.select(col(pk)).distinct(),
          col("__u_" + pk) === col(pk), "left_anti")
      val insertDf = updates.columns.foldLeft(inserts)((d, c) =>
        d.withColumnRenamed("__u_" + c, c))
      if (!insertDf.isEmpty) append(insertDf, path)
    } finally matched.unpersist()
  }

  /** Z-order (Morton) key of two non-negative integral columns — the
    * MULTI-dimension clustering device: bit-interleaving makes file
    * min/max ranges tight on BOTH dimensions simultaneously, so zone-map
    * pruning works for 2-D box predicates where a linear sort serves only
    * its leading column (SnapshotsSpec measures exactly that contrast).
    * Pure bitwise arithmetic in one codegen'd projection; the key orders
    * the LAYOUT only and never appears in query results, so cross-engine
    * oracle parity is untouched.
    */
  def zorderKey(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"zorderKey bits in [1,31]; got $bits")
    val (al, bl) = (a.cast("long"), b.cast("long"))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Bucketed lake table — the co-location device for repeated
    * big-to-big joins on a stable key: both sides pre-hashed into the
    * same `buckets` layout at WRITE time, so every later join/agg on
    * `key` runs with ZERO exchanges (the 100 TB enrichment shape: pay
    * the shuffle once when the table lands, never per query).
    *
    * Written as an EXTERNAL parquet table at `path` (catalog entry only
    * carries metadata). The repartition before the write matters twice:
    * Spark's repartition hash IS the bucketing hash (Murmur3), so with
    * partition count == bucket count each writer task holds exactly one
    * bucket and emits ONE file per bucket — the single-file layout that
    * lets the scan recover the per-bucket SORT as well (multi-file
    * buckets would re-sort, though still never re-shuffle).
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      key: String, buckets: Int): Unit =
    df.repartition(buckets, col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(table)
}
