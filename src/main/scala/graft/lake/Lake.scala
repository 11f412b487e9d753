package graft.lake

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._

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
  * `writeTo(t).append()` / `CALL rewrite_data_files` with no operator
  * changes above them. The catalog-only features that ARE expressible
  * without the jars — atomic commits, schema evolution (the reference's
  * `unionByNameWith`, MatanoIcebergTableCustomResource.kt:194-212) and
  * key-based MERGE scoped to touched partitions (Enrichment.kt:305-324,
  * retro-activation in AlertsIcebergHelper.kt) — live in [[Snapshots]],
  * the lake's one commit path. This object keeps the plain append, read
  * and hourly compaction that [[graft.streaming.Ingest]], q45 and
  * `lakebench` use, and the layout helpers.
  */
object Lake {

  val PartitionCol = "ts_hour"

  /** Stamp the reference's `%Y-%m-%d-%H` partition value from event time.
    * A frame that already carries the partition column keeps it — rows a
    * rewrite reads back ([[Snapshots.mergeUpsert]]) must stay in their
    * ORIGINAL partition, whatever their updated event time re-derives.
    */
  def withHourPartition(df: DataFrame, tsCol: String = "ts"): DataFrame =
    if (df.columns.contains(PartitionCol)) df
    else df.withColumn(PartitionCol, date_format(col(tsCol), "yyyy-MM-dd-HH"))

  /** Append rows into hour partitions. */
  def append(df: DataFrame, path: String): Unit =
    withHourPartition(df).write.mode("append")
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
    * OPTIMIZE job): rewrite that partition's files only, by a dynamic
    * partition overwrite (set per write, so session config stays
    * untouched).
    */
  def compactHour(spark: SparkSession, path: String, hour: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val part = read(spark, path).filter(col(PartitionCol) === hour)
    val files = Snapshots.binPackFiles(part, targetBytes)
    withHourPartition(part.repartition(files).drop(PartitionCol)).write
      .mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartitionCol).parquet(path)
  }

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
