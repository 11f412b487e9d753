package graft.lake

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Snapshot-pointer commit protocol: MVCC for the parquet lake facade
  * without Iceberg jars (sandbox constraint documented in [[Lake]]).
  *
  * Layout (all data files immutable once written):
  * {{{
  *   <table>/data/c<uuid>/ts_hour=<H>/part-*.parquet   commit-staged files
  *   <table>/_graft_lake/v<NNNNNN>.manifest            snapshot = file list
  * }}}
  *
  * A manifest is the COMPLETE table state: one `hour\tfile` line per live
  * data file. Committing = staging new files, then claiming the next
  * version number with an atomic create-no-overwrite of its manifest —
  * the analogue of Iceberg's metadata-pointer swap. Losers of the race
  * re-derive their manifest against the new current (their staged files
  * stay valid) and retry: optimistic concurrency, no locks. Readers pin
  * the manifest they planned against; since commits never delete data
  * files (only [[expireSnapshots]] does, and only files unreferenced by
  * the retained manifests), a pinned reader sees a consistent snapshot
  * while writers commit — the hazard documented on
  * [[graft.operators.Enrichment.RefreshingTable]] disappears.
  *
  * Atomicity relies on create-no-overwrite being atomic, true on POSIX
  * and HDFS; on S3 the same protocol needs a conditional PUT
  * (If-None-Match), which object stores expose natively.
  *
  * Scale: a manifest line is ~100 bytes/file, so even 10⁶ live files is a
  * ~100 MB driver-side read — the same order as an Iceberg manifest scan.
  * Partition pruning happens at manifest level ([[readHours]] selects the
  * file subset before the scan is planned), so a pruned read never lists
  * or opens untouched partitions.
  */
object Snapshots {

  /** @param stats per-file column zone-map, None for pre-stats manifests
    *              (or an unreadable footer) — absent stats never prune.
    */
  final case class Entry(hour: String, file: String,
      stats: Option[FileStats.Stats] = None)

  /** @param schema the table's logical data schema (partition column
    *   excluded), recorded in the manifest and name-union-evolved on every
    *   commit — the `unionByNameWith` semantic of the reference's table
    *   CRD (MatanoIcebergTableCustomResource.kt:194-212), but versioned
    *   with the snapshot so a pinned reader sees the schema its files were
    *   committed under. None for pre-schema manifests (read falls back to
    *   footer inference, exactly the old behavior).
    */
  final case class Snapshot(version: Int, entries: Vector[Entry],
      schema: Option[org.apache.spark.sql.types.StructType] = None)

  private def metaDir(table: String): Path = Paths.get(table, "_graft_lake")

  private def manifestPath(table: String, version: Int): Path =
    metaDir(table).resolve(f"v$version%06d.manifest")

  private val ManifestRe = raw"v(\d{6})\.manifest".r

  /** Highest committed version, or None for an empty/unsnapshotted table. */
  def currentVersion(table: String): Option[Int] = {
    val dir = metaDir(table)
    if (!Files.isDirectory(dir)) None
    else {
      val s = Files.list(dir)
      try s.iterator.asScala
        .flatMap(p => ManifestRe.findFirstMatchIn(p.getFileName.toString))
        .map(_.group(1).toInt).maxOption
      finally s.close()
    }
  }

  private val SchemaHeader = "#schema\t"
  private val CommittedAtHeader = "#committed_at\t"

  /** Commit wall-clock of a version (epoch millis), None for pre-header
    * manifests. Basis for [[readAsOf]] time travel.
    */
  def committedAt(table: String, version: Int): Option[Long] = {
    val lines = Files.readAllLines(manifestPath(table, version), UTF_8).asScala
    lines.collectFirst {
      case l if l.startsWith(CommittedAtHeader) =>
        l.stripPrefix(CommittedAtHeader).trim.toLong
    }
  }

  def snapshot(table: String, version: Int): Snapshot = {
    val lines = Files.readAllLines(manifestPath(table, version), UTF_8).asScala
    val schema = lines.collectFirst {
      case l if l.startsWith(SchemaHeader) =>
        org.apache.spark.sql.types.DataType
          .fromJson(l.stripPrefix(SchemaHeader))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    Snapshot(version, lines.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        l.split("\t", -1) match {
          case Array(hour, file) => Entry(hour, file) // pre-stats manifest line
          case Array(hour, file, stats) => Entry(hour, file, FileStats.parse(stats))
          case _ => sys.error(s"malformed manifest line in v$version: $l")
        }
      }.toVector, schema)
  }

  def current(table: String): Option[Snapshot] =
    currentVersion(table).map(snapshot(table, _))

  /** Manifest read that tolerates a concurrent expire deleting the file
    * between the caller's existence check and the read (maintenance sweeps
    * must not abort mid-run on that race — the expired manifest simply no
    * longer contributes entries).
    */
  private def snapshotIfExists(table: String, version: Int): Option[Snapshot] =
    try {
      if (Files.exists(manifestPath(table, version))) Some(snapshot(table, version))
      else None
    } catch { case _: java.nio.file.NoSuchFileException => None }

  // ---- reads --------------------------------------------------------------

  /** Read a pinned snapshot (default: current). The frame keeps reading
    * exactly this snapshot's files even while later versions commit.
    * `ts_hour` is recovered from the file path, as partition discovery
    * would. Empty table → empty-schema frame is not constructible without
    * a schema, so callers check [[currentVersion]] first (as with any
    * not-yet-created table).
    */
  def read(spark: SparkSession, table: String, version: Option[Int] = None): DataFrame = {
    val snap = pin(table, version)
    readEntries(spark, table, snap.entries, snap.schema)
  }

  /** The snapshot at `version` (default: current); an error for a table
    * with no commit.
    */
  private def pin(table: String, version: Option[Int] = None): Snapshot =
    version.map(snapshot(table, _)).orElse(current(table))
      .getOrElse(sys.error(s"no snapshot committed at $table"))

  /** Time travel: read the newest RETAINED snapshot committed at or
    * before `epochMillis` (Iceberg's timestamp-as-of). Versions without a
    * commit-time header (pre-header manifests) are treated as older than
    * any timestamp, matching their actual age. Manifests deleted by
    * [[expireSnapshots]] (or deleted concurrently mid-probe) simply no
    * longer qualify — time travel keeps working over the retained window,
    * erroring only when no retained version is old enough.
    *
    * The retry below covers the PLANNING race only (a manifest expiring
    * between the probe and `read`). The returned frame is lazy: if a
    * concurrent [[expireSnapshots]] deletes the chosen snapshot's data
    * files before the caller runs an action, that action can still fail
    * with FileNotFoundException. Callers that must survive concurrent
    * expiry should materialize promptly (e.g. `.localCheckpoint(true)`)
    * or size `keepLast` so the retention window exceeds a read.
    */
  def readAsOf(spark: SparkSession, table: String, epochMillis: Long): DataFrame = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val cur = currentVersion(table)
        .getOrElse(sys.error(s"no snapshot committed at $table"))
      val v = (1 to cur)
        .filter { v =>
          try Files.exists(manifestPath(table, v)) &&
            committedAt(table, v).forall(_ <= epochMillis)
          catch { case _: java.nio.file.NoSuchFileException => false }
        }
        .maxOption
        .getOrElse(sys.error(
          s"no retained snapshot at or before $epochMillis in $table " +
            "(older versions may have been expired)"))
      // the chosen version can still expire between the probe and this
      // read — re-probe rather than surface NoSuchFileException
      try return read(spark, table, version = Some(v))
      catch { case _: java.nio.file.NoSuchFileException => }
    }
    sys.error(s"readAsOf lost the expiry race 5 times on $table — " +
      "retention window is shorter than a read; raise keepLast")
  }

  /** Manifest-level partition pruning: plan a scan over only the files of
    * `hours` — untouched partitions are never listed or opened.
    */
  def readHours(spark: SparkSession, table: String, hours: Set[String]): DataFrame = {
    val snap = pin(table)
    readEntries(spark, table, snap.entries.filter(e => hours(e.hour)), snap.schema)
  }

  /** Zone-map file skipping: plan a scan over only the files whose
    * manifest min/max stats may satisfy `filters`
    * (`org.apache.spark.sql.sources.Filter`, the public pushdown algebra).
    * Purely an optimization — callers still apply the real `.where`; files
    * without stats are always kept. Composes with the hour partition level:
    * stats prune WITHIN the hours a caller reads.
    */
  /** (kept, total) data-file counts after zone-map pruning — the
    * metadata-only decision [[readWhere]] acts on, exposed so layout
    * strategies (linear sort vs z-order) can be measured without reading
    * a byte of data.
    */
  def pruneStats(table: String,
      filters: Seq[org.apache.spark.sql.sources.Filter]): (Int, Int) = {
    val snap = pin(table)
    val kept = snap.entries.count(e =>
      e.stats.forall(st => filters.forall(f => FileStats.mayMatch(f, st))))
    (kept, snap.entries.size)
  }

  def readWhere(spark: SparkSession, table: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      version: Option[Int] = None): DataFrame = {
    val snap = pin(table, version)
    val kept = snap.entries.filter(e =>
      e.stats.forall(st => filters.forall(f => FileStats.mayMatch(f, st))))
    if (kept.nonEmpty) readEntries(spark, table, kept, snap.schema)
    // every file pruned: keep the snapshot's schema, read no data
    else readEntries(spark, table, snap.entries, snap.schema).limit(0)
  }

  /** Key-probe pruned read for REGISTRY tables (int64-keyed lookaside
    * indexes — the dedup fold's span/paragraph registries): plan a scan
    * over only the files whose `keyCol` zone-map range contains at least
    * one key of `probeKeys` — the read path that makes a growing
    * registry's per-batch probe read a file subset once commits cluster
    * on the key ([[append]]/[[mergeUpsert]] `clusterBy`, [[recluster]]
    * maintenance).
    *
    * Never collects the probe keys: the manifest's per-file (min, max)
    * ranges — metadata-sized — broadcast against the key frame as a
    * range join, and only the touched FILE indices come back to the
    * driver (bounded by the table's file count, never by the batch).
    * Files without usable long-typed `keyCol` stats are always kept
    * (pruning is an optimization, never a correctness gate — the
    * [[readWhere]] contract). Callers still apply their real key
    * join/filter; file skipping is coarse.
    *
    * Effectiveness regime (uniform hash keys): a file kept ⟺ ≥1 probe
    * key lands in its range, so kept ≈ min(distinct probe keys, files
    * whose ranges are disjoint) — the probe reads a bounded subset when
    * the batch's key count is BELOW the registry's file count (the
    * micro-batch-vs-compacted-registry regime), and degrades gracefully
    * to the full registry scan above it, where the subsequent broadcast
    * semi-join still bounds the SHUFFLE by the batch. Measured in
    * SCALING.md ("registry probe pruning").
    *
    * @return (pruned frame, kept file count, total file count)
    */
  def readKeyProbe(spark: SparkSession, table: String, keyCol: String,
      probeKeys: DataFrame): (DataFrame, Int, Int) = {
    val snap = pin(table)
    val entries = snap.entries
    val ranged = entries.zipWithIndex.flatMap { case (e, i) =>
      for {
        st <- e.stats
        c <- st.cols.get(keyCol)
        if c.typ == 'l'
        mn <- c.min
        mx <- c.max
      } yield (i, mn.asInstanceOf[java.lang.Long].longValue,
        mx.asInstanceOf[java.lang.Long].longValue)
    }
    val blind = entries.indices.toSet -- ranged.map(_._1)
    val touched: Set[Int] =
      if (ranged.isEmpty) Set.empty[Int]
      else {
        val ranges = broadcast(spark.createDataFrame(ranged)
          .toDF("__fidx", "__kmin", "__kmax"))
        probeKeys.toDF("__k")
          .join(ranges,
            col("__k") >= col("__kmin") && col("__k") <= col("__kmax"))
          .select(col("__fidx")).distinct()
          .collect().map(_.getInt(0)).toSet
      }
    val keptIdx = blind ++ touched
    val kept = entries.zipWithIndex.collect { case (e, i) if keptIdx(i) => e }
    val df =
      if (kept.nonEmpty) readEntries(spark, table, kept, snap.schema)
      // every file pruned: keep the snapshot's schema, read no data
      else readEntries(spark, table, entries, snap.schema).limit(0)
    (df, kept.size, entries.size)
  }

  /** Re-cluster the ENTIRE table on `cols` into `nFiles` range-disjoint
    * sorted files in ONE atomic commit — Iceberg's
    * `rewrite_data_files(strategy => 'sort')` maintenance action. This is
    * what restores [[readKeyProbe]] pruning power on a registry that has
    * accrued many per-commit runs (each commit's files are range-disjoint
    * WITHIN the commit but overlap across commits; after reclustering a
    * point key touches one file table-wide). The commit follows
    * [[commitRewrite]]: files committed after the rewrite read the table
    * carry forward, and a file it read that a concurrent rewrite replaced
    * aborts it. Pinned readers keep their file set; [[expireSnapshots]]
    * reclaims the replaced files later.
    *
    * Single-hour tables (registries use a constant hour — an index is
    * keyed by content hash, not time) recluster with no cross-hour file
    * fan-out; multi-hour tables should prefer [[compactSmallFiles]],
    * which clusters on the hour.
    */
  def recluster(spark: SparkSession, table: String, cols: Seq[String],
      nFiles: Int): Int = {
    val snap = pin(table)
    val rewritten = readEntries(spark, table, snap.entries, snap.schema)
      .repartitionByRange(nFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .drop(Lake.PartitionCol)
    commitRewrite(table, "recluster", snap.entries, stage(rewritten, table),
      dataSchema(rewritten))
  }

  /** Fraction of a snapshot's files whose `keyCol` zone-map range
    * OVERLAPS the previous file's range when sorted by range start —
    * the direct measure of lost [[readKeyProbe]] pruning power (a fully
    * reclustered table reads 0.0: every point key touches one file; a
    * table of n interleaved per-commit runs reads → 1.0: every key
    * touches every run). Files without usable long-typed stats count as
    * overlapping (they are never prunable). Metadata-only — no data
    * files are read.
    */
  def keyOverlapFraction(table: String, keyCol: String): Double = {
    val entries = current(table).map(_.entries).getOrElse(Vector.empty)
    if (entries.size <= 1) return 0.0
    val ranged = entries.flatMap { e =>
      for {
        st <- e.stats; c <- st.cols.get(keyCol); if c.typ == 'l'
        mn <- c.min; mx <- c.max
      } yield (mn.asInstanceOf[java.lang.Long].longValue,
        mx.asInstanceOf[java.lang.Long].longValue)
    }
    val blind = entries.size - ranged.size
    val sorted = ranged.sortBy(r => (r._1, r._2))
    val overlapping = sorted.iterator.sliding(2).withPartial(false)
      .count { case Seq((_, aMax), (bMin, _)) => aMax >= bMin }
    (overlapping + blind).toDouble / entries.size
  }

  /** Scheduled-run-safe registry maintenance — [[compactSmallFiles]]'
    * no-op discipline applied to key clustering: measure
    * [[keyOverlapFraction]] on `cols.head` and run ONE atomic
    * [[recluster]] only when fragmentation exceeds `maxOverlapFrac`
    * (per-commit clustered runs overlap ACROSS commits; a fold sequence
    * that commits k batches accrues k interleaved runs and probe reads
    * degrade toward full scans until a rewrite restores disjoint
    * ranges). Below the threshold the call is a metadata-only no-op, so
    * it is safe — and intended — to invoke after every fold batch.
    * Returns the recluster commit version, or None on no-op.
    *
    * `nFiles` ≤ 0 derives the target from `keysPerFile` (file count
    * grows with the registry, file SIZE stays constant — the 128 MB
    * geometry SCALING.md's "registry probe pruning" measured).
    */
  def reclusterIfFragmented(spark: SparkSession, table: String,
      cols: Seq[String], maxOverlapFrac: Double = 0.3,
      nFiles: Int = 0, keysPerFile: Long = 3300L): Option[Int] = {
    require(cols.nonEmpty, "reclusterIfFragmented needs cluster columns")
    val snap = pin(table)
    if (snap.entries.size <= 1) return None
    if (keyOverlapFraction(table, cols.head) <= maxOverlapFrac) return None
    val target =
      if (nFiles > 0) nFiles
      else {
        val rows = snap.entries.iterator.flatMap(_.stats).map(_.rows).sum
        math.max(1L, math.min(rows / math.max(1L, keysPerFile),
          Int.MaxValue.toLong)).toInt
      }
    Some(recluster(spark, table, cols, target))
  }

  private[lake] def readEntries(spark: SparkSession, table: String,
      entries: Seq[Entry],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val paths = entries.map(e => Paths.get(table).resolve(e.file).toString)
    // With a manifest schema, plan against IT: files written before a
    // column existed read that column as null (evolution-on-read), newer
    // files project down — and planning skips footer schema inference
    // entirely (no sample-file read, no mergeSchema listing pass).
    // Pre-schema manifests keep the old footer-inference path.
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    reader.parquet(paths: _*).withColumn(Lake.PartitionCol,
      regexp_extract(input_file_name(), "ts_hour=([^/]+)/", 1))
  }

  // ---- commits ------------------------------------------------------------

  /** Stage `df` as immutable hour-partitioned files under a fresh commit
    * dir; returns (hour, relative file) entries for the manifest.
    */
  private[lake] def stage(df: DataFrame, table: String): Vector[Entry] = {
    val commitDir = s"data/c${UUID.randomUUID().toString.take(12)}"
    val abs = Paths.get(table).resolve(commitDir)
    Lake.withHourPartition(df).write
      .partitionBy(Lake.PartitionCol).parquet(abs.toString)
    val hourRe = raw"ts_hour=([^/]+)".r
    // footer stats at commit time — the reference's IcebergMetadataWriter
    // move (`IcebergMetadataWriter.kt:199-216`): O(staged files) footer
    // reads, no second data pass
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val s = Files.walk(abs)
    try s.iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val rel = Paths.get(table).relativize(p).toString
        Entry(hourRe.findFirstMatchIn(rel).map(_.group(1))
            .getOrElse(sys.error(s"unpartitioned staged file $rel")),
          rel, FileStats.collect(conf, p))
      }.toVector
    finally s.close()
  }

  /** Name-union schema evolution (additive; the reference's
    * `unionByNameWith` semantic): existing fields keep their position and
    * type, new fields append. A staged field that REUSES an existing name
    * with an incompatible type fails the commit here — Iceberg validates
    * types at evolution time; silently keeping the old type would commit
    * files the table schema can no longer read (or would miscast).
    * Nullability is not a compatibility dimension (the read schema is
    * nullable anyway).
    */
  private def unionSchema(prev: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val byName = prev.fields.map(f => f.name -> f.dataType).toMap
    for (f <- next.fields; prevType <- byName.get(f.name))
      if (asNullable(prevType) != asNullable(f.dataType))
        sys.error(
          s"schema evolution conflict on column '${f.name}': table type " +
            s"${prevType.catalogString} vs staged ${f.dataType.catalogString} — " +
            "renaming or explicit casting is required (type changes are not additive)")
    org.apache.spark.sql.types.StructType(prev.fields ++
      next.fields.filterNot(f => byName.contains(f.name)))
  }

  /** Structural type with every nested nullability flag forced true —
    * the equality basis for evolution compatibility.
    */
  private def asNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** The logical data schema a frame commits under (partition column
    * excluded — it is path-derived on read).
    */
  private def dataSchema(df: DataFrame): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(df.schema.filterNot(_.name == Lake.PartitionCol))

  /** Claim the next version with `entries` derived from the then-current
    * manifest by `evolve`. Retries on a concurrent claim (staged data files
    * remain valid; only the manifest derivation re-runs). The committed
    * schema is the name-union of the then-current schema and `staged` —
    * recomputed INSIDE the retry loop, so columns added by a concurrent
    * winner survive this commit's manifest too.
    */
  private def commit(table: String, staged: org.apache.spark.sql.types.StructType)(
      evolve: Vector[Entry] => Vector[Entry]): Int = {
    Files.createDirectories(metaDir(table))
    var attempts = 0
    while (true) {
      attempts += 1
      val cur = current(table)
      val next = cur.map(_.version + 1).getOrElse(1)
      val entries = evolve(cur.map(_.entries).getOrElse(Vector.empty))
      val schema = cur.flatMap(_.schema).fold(staged)(unionSchema(_, staged))
      val body = (Seq(CommittedAtHeader + System.currentTimeMillis(),
        SchemaHeader + schema.json) ++
        entries.map { e =>
          e.stats.fold(s"${e.hour}\t${e.file}")(
            st => s"${e.hour}\t${e.file}\t${FileStats.encode(st)}")
        }).mkString("\n")
      try {
        Files.write(manifestPath(table, next), body.getBytes(UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        return next
      } catch {
        case _: FileAlreadyExistsException if attempts < 20 => // lost the race; retry
      }
    }
    -1 // unreachable
  }

  /** The manifest rule of every rewrite commit ([[compactHour]],
    * [[compactSmallFiles]], [[recluster]], [[mergeUpsert]]): the rewrite
    * planned against ONE pinned snapshot and read its `read` entries; the
    * commit is `prev − read + staged`. Entries committed concurrently
    * between the pinned read and the commit carry forward — dropping whole
    * hours instead would silently lose an append that landed in a hour
    * the rewrite touched.
    *
    * Conflict validation (Iceberg `rewrite_data_files` semantics): every
    * file the rewrite read must still be live. A concurrent rewrite that
    * replaced one of them has already superseded its rows — re-adding our
    * staged copy would resurrect the old versions alongside the new ones.
    * The commit aborts instead, writing no manifest; the caller re-runs
    * against the new snapshot (the staged files are orphans that
    * [[removeOrphans]] reclaims).
    */
  private[lake] def commitRewrite(table: String, op: String, read: Seq[Entry],
      staged: Vector[Entry], schema: org.apache.spark.sql.types.StructType): Int = {
    val readFiles = read.iterator.map(_.file).toSet
    commit(table, schema) { prev =>
      val gone = readFiles -- prev.iterator.map(_.file)
      if (gone.nonEmpty)
        sys.error(s"$op conflict at $table: ${gone.size} file(s) read by " +
          s"this rewrite were rewritten concurrently (e.g. ${gone.head}); " +
          s"re-run $op against the current snapshot")
      prev.filterNot(e => readFiles(e.file)) ++ staged
    }
  }

  /** Append commit: new snapshot = previous files + staged files; schema
    * name-union-evolves, so an append with new columns upgrades the table
    * and old files read those columns as null — atomically with the data.
    *
    * @param clusterBy range-partition + sort the staged files on these
    *   columns (one range shuffle — the cost of clustering, same as an
    *   Iceberg sort order at write). Clustering is what makes the zone
    *   maps BITE: range partitioning gives files DISJOINT key ranges, so
    *   a point/range filter in [[readWhere]] prunes to a handful of files
    *   instead of keeping all of them (every unclustered file spans the
    *   whole key range).
    */
  /** @param clusterPartitions pin the clustering range-exchange width (an
    *   explicit count opts out of AQE partition coalescing, which would
    *   otherwise collapse a small append into one file and erase the
    *   zone-map layout the clustering exists for — the q46 lesson applied
    *   to writes). None keeps the session default.
    */
  def append(df: DataFrame, table: String, clusterBy: Seq[String] = Nil,
      clusterPartitions: Option[Int] = None): Int = {
    val clustered =
      if (clusterBy.isEmpty) df
      else clusterPartitions match {
        case Some(n) => df.repartitionByRange(n, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
        case None => df.repartitionByRange(clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      }
    val staged = stage(clustered, table)
    commit(table, dataSchema(df))(prev => prev ++ staged)
  }

  /** Snapshot history as a DataFrame — the metadata-table surface
    * (Iceberg's `<table>.snapshots` / `.files` parity): one row per
    * retained manifest with file/partition/row-group-stats rollups. Reads
    * only manifests, never data files.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val rows = (1 to currentVersion(table).getOrElse(0)).flatMap(v =>
      snapshotIfExists(table, v).map { s =>
        (s.version, s.entries.size.toLong,
          s.entries.map(_.hour).distinct.size.toLong,
          s.entries.count(_.stats.isDefined).toLong,
          s.schema.map(_.fieldNames.length.toLong).getOrElse(0L))
      })
    rows.toDF("version", "n_files", "n_hours", "n_files_with_stats", "n_columns")
  }

  /** Partition-overwrite commit: staged hours replace those hours' files;
    * all other partitions carry forward untouched (no data movement).
    */
  def overwritePartitions(df: DataFrame, table: String): Int = {
    val staged = stage(df, table)
    val touched = staged.map(_.hour).toSet
    commit(table, dataSchema(df))(
      prev => prev.filterNot(e => touched(e.hour)) ++ staged)
  }

  /** Bin-pack one hour to ~targetBytes files — the [[Lake.compactHour]]
    * rewrite, committed by [[commitRewrite]]: one atomic snapshot swap,
    * and concurrent pinned readers keep their file set.
    */
  def compactHour(spark: SparkSession, table: String, hour: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val snap = pin(table)
    val read = snap.entries.filter(_.hour == hour)
    val part = readEntries(spark, table, read, snap.schema)
    val compacted = part.repartition(binPackFiles(part, targetBytes))
      .drop(Lake.PartitionCol)
    commitRewrite(table, "compactHour", read, stage(compacted, table),
      dataSchema(compacted))
  }

  /** Output file count that packs `df` into files of ~targetBytes. */
  private[lake] def binPackFiles(df: DataFrame, targetBytes: Long): Int =
    math.max(1, (BigDecimal(df.queryExecution.optimizedPlan.stats.sizeInBytes) /
      targetBytes).setScale(0, BigDecimal.RoundingMode.CEILING).toInt)

  /** Lake maintenance: bin-pack EVERY fragmented hour — more live data
    * files than `maxFilesPerHour`, the small-file debt that micro-batch
    * appends accrue (each streaming commit writes ≥1 file per touched
    * hour, so a day of 1-minute batches leaves ~1440 tiny files per hour)
    * — in ONE atomic commit: the Iceberg `rewrite_data_files` maintenance
    * action on this facade, committed by [[commitRewrite]]. Untouched
    * hours, and files appended to a fragmented hour after the rewrite
    * read it, carry forward with no data movement; pinned readers keep
    * their file set (rewrites never delete data files —
    * [[expireSnapshots]] reclaims the replaced ones later).
    * The rewrite range-clusters on the hour so each staged task writes a
    * contiguous hour range rather than one file into every hour dir (the
    * wide-merge lesson — see [[mergeUpsert]]).
    *
    * Returns the new version, or the current version unchanged when no
    * hour is fragmented — safe to run on a schedule.
    */
  def compactSmallFiles(spark: SparkSession, table: String,
      maxFilesPerHour: Int = 4,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val snap = pin(table)
    val frag = snap.entries.groupBy(_.hour)
      .collect { case (h, es) if es.size > maxFilesPerHour => h }.toSet
    if (frag.isEmpty) return snap.version
    val read = snap.entries.filter(e => frag(e.hour))
    val part = readEntries(spark, table, read, snap.schema)
    val compacted = part
      .repartitionByRange(binPackFiles(part, targetBytes), col(Lake.PartitionCol))
      .drop(Lake.PartitionCol)
    commitRewrite(table, "compactSmallFiles", read, stage(compacted, table),
      dataSchema(compacted))
  }

  /** Key-based MERGE INTO as ONE atomic commit: rewritten matched
    * partitions and inserted rows become visible together, or not at all.
    * Only partitions containing matched keys are rewritten, each row in
    * its original hour (an update whose `ts` re-derives another hour does
    * not move it — cross-partition moves are delete+insert, as in
    * Iceberg). The key probe and the rewrite read one pinned snapshot, and
    * the commit follows [[commitRewrite]]. The broadcast of the update
    * side is size-gated (backfill-scale updates fall back to a shuffle
    * join under AQE).
    *
    * @param clusterBy range-cluster the staged insert AND rewrite files
    *   on these columns (the [[append]] clustering applied to merge
    *   commits) — what keeps a keyed registry's files [[readKeyProbe]]-
    *   prunable as it grows through per-batch upserts. Wide merges
    *   (touched hours above the shuffle-partition count) prepend the
    *   hour so staged tasks keep disjoint hour ranges.
    */
  def mergeUpsert(spark: SparkSession, table: String, updatesIn: DataFrame,
      pk: String, clusterBy: Seq[String] = Nil): Int = {
    // the update frame feeds FOUR separate actions (pk-uniqueness check,
    // match probe, rewrite join build side, insert anti-join) — without a
    // persist an expensive update derivation re-executes per action
    // (q81's full-history re-fold ran 4x: the merge was 37 s of a 50 s
    // pipeline at 10x scale before this, see SCALING.md)
    val updates = updatesIn.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeUpsertImpl(spark, table, updates, pk, clusterBy)
    finally updates.unpersist(false)
  }

  /** Update sets at or below this row count take the single-collect
    * merge fast path (see the inline note in [[mergeUpsertImpl]]); the
    * collected sample is pk values only, so the driver footprint is
    * bounded by SmallMergeRows keys.
    */
  private[graft] val SmallMergeRows = 4096

  /** Iceberg's MERGE cardinality rule: multiple source rows per key would
    * silently multiply matched target rows through the merge join. A
    * collected pk sample is checked in memory (nulls collide, as in a
    * groupBy); without one, a job looks for a duplicated key.
    */
  private def requireUniquePk(updates: DataFrame, pk: String,
      pkSample: Option[Array[Any]]): Unit = {
    val dup = pkSample.fold(!updates.groupBy(col(pk)).count()
      .filter(col("count") > 1).limit(1).isEmpty)(s => s.distinct.length != s.length)
    if (dup) throw new IllegalArgumentException(
      s"mergeUpsert: updates contain duplicate values of primary key '$pk'")
  }

  private def mergeUpsertImpl(spark: SparkSession, table: String,
      updates: DataFrame, pk: String, clusterBy: Seq[String]): Int = {
    // staging clustering: narrow merges range-cluster on `clusterBy`
    // alone (registries are single-hour, so no cross-hour fan-out); wide
    // merges prepend the hour — the wide-merge lesson composed with key
    // clustering. No clusterBy keeps the exact pre-existing paths.
    def clusterStaged(df: DataFrame, wide: Boolean): DataFrame =
      if (clusterBy.nonEmpty) {
        val keys = (if (wide) Seq(col(Lake.PartitionCol)) else Nil) ++
          clusterBy.map(col)
        val base = if (wide) Lake.withHourPartition(df) else df
        base.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
      } else if (wide)
        Lake.withHourPartition(df).repartitionByRange(col(Lake.PartitionCol))
      else df
    // SMALL-UPDATE FAST PATH: the per-batch streaming/fold upsert is a
    // handful of rows, and the generic path pays FOUR driver actions
    // (pk-uniqueness job, match-probe collect, insert anti-join emptiness
    // probe, plus the rewrite) to reach one commit — measured at
    // ~1.2-1.7 s of pure job floors on a 5-row update (BENCHNOTES.md's
    // sketch-fold profile).
    // When the update pk set fits a driver threshold, ONE limited collect
    // of the pk column replaces the pk job AND the anti-join: duplicates
    // are checked in memory (nulls collide like a groupBy), matched
    // (partition, pk) pairs come from one isin-pruned lake probe, and the
    // insert set is the update frame filtered by the collected matched-pk
    // set — the rewrite's stage write is then the only remaining
    // corpus-touching job. The two paths differ only in how they find the
    // touched hours and the insert set; SnapshotsSpec checks that both
    // give the same table.
    val pkSample = updates.select(col(pk))
      .limit(SmallMergeRows + 1).collect().map(_.get(0))
    val small = pkSample.length <= SmallMergeRows
    requireUniquePk(updates, pk, Some(pkSample).filter(_ => small))
    val snap = pin(table)
    val lake = readEntries(spark, table, snap.entries, snap.schema)
    // schema contract FIRST (before any staging I/O): a type-conflicting
    // update — including a pk whose type differs from the lake's — is
    // rejected loudly here ("explicit casting is required"). Past this
    // point update and lake pk column types are IDENTICAL, which is what
    // makes the fast path's driver-side Scala == on collected pk values
    // sound (an Int-vs-Long mismatch would otherwise classify every
    // matched update as an insert).
    val merged = unionSchema(dataSchema(lake), dataSchema(updates))
    val renamed = updates.columns.foldLeft(updates)(
      (d, c) => d.withColumnRenamed(c, "__u_" + c))
    val gated = Lake.sizeGatedBroadcast(renamed)
    val matched =
      if (small) None
      else Some(lake.join(gated, col(pk) === col("__u_" + pk))
        .select(col(Lake.PartitionCol), col(pk)).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      // (touched hours, the insert frame when it holds rows)
      val (touched, inserts) = matched match {
        case None =>
          val pks = pkSample.filter(_ != null).toSet
          val matchedRows =
            if (pks.isEmpty) Array.empty[org.apache.spark.sql.Row]
            else lake.filter(col(pk).isInCollection(pks))
              .select(col(Lake.PartitionCol), col(pk)).distinct().collect()
          val matchedPks = matchedRows.map(_.get(1)).toSet
          // insert existence and membership are known DRIVER-SIDE: a null
          // pk never equi-matches (kept as insert, mirroring the
          // anti-join); Scala == across the two collected sides is sound
          // because the schema check above guarantees identical pk types
          val insertDf =
            if (matchedPks.isEmpty) updates
            else updates.filter(col(pk).isNull || !col(pk).isInCollection(matchedPks))
          (matchedRows.map(_.getString(0)).toSet,
            Some(insertDf).filter(_ => pkSample.exists(v => v == null || !matchedPks(v))))
        case Some(m) =>
          val touched = m.select(col(Lake.PartitionCol)).distinct()
            .collect().map(_.getString(0)).toSet
          val antiJoined = renamed.join(m.select(col(pk)).distinct(),
            col("__u_" + pk) === col(pk), "left_anti")
          val insertDf = updates.columns.foldLeft(antiJoined)(
            (d, c) => d.withColumnRenamed("__u_" + c, c))
          (touched, Some(insertDf).filterNot(_.isEmpty))
      }
      // WIDE merges (history-scale backfills touching hundreds of hour
      // partitions): without clustering, EVERY staging task opens a parquet
      // file in every touched hour — tasks × hours tiny files, and one
      // task's file fan-out becomes a flat multi-second straggler
      // regardless of data size (measured in SCALING.md). Range-partitioning
      // on the hour gives staged tasks disjoint hour ranges, at the cost of
      // one shuffle of the staged rows; narrow merges (the common streaming
      // case) keep the no-shuffle path.
      val wide = touched.size > spark.sessionState.conf.numShufflePartitions
      val read = snap.entries.filter(e => touched(e.hour))
      // insert-only merges (no key matched — the bootstrap case) must not
      // plan a zero-path read: short-circuit the whole rewrite branch
      val stagedRewrites =
        if (read.isEmpty) Vector.empty
        else {
          val affected = readEntries(spark, table, read, snap.schema)
          val updatedCols = updates.columns.filterNot(_ == pk)
          val rewritten = updatedCols.foldLeft(
              affected.join(gated, col(pk) === col("__u_" + pk), "left")) {
              (d, c) => d.withColumn(c, coalesce(col("__u_" + c), col(c)))
            }
            .drop(updates.columns.map("__u_" + _).toIndexedSeq: _*)
          stage(clusterStaged(rewritten, wide), table)
        }
      // a history-scale insert set spans hundreds of hours, and the
      // persisted update frame can coalesce to a handful of cached
      // partitions — without the hour clustering ONE task then writes a
      // file into every hour (measured as a 158 s single-task stage at 10x
      // scale, SCALING.md); the fast path's inserts are a few rows, never
      // hour-clustered
      val stagedInserts = inserts.fold(Vector.empty[Entry])(
        df => stage(clusterStaged(df, wide && !small), table))
      commitRewrite(table, "mergeUpsert", read, stagedRewrites ++ stagedInserts, merged)
    } finally matched.foreach(_.unpersist())
  }

  // ---- maintenance ---------------------------------------------------------

  /** Drop all but the newest `keepLast` manifests and delete the data
    * files they referenced that no retained manifest still references.
    * Deliberately does NOT touch unreferenced files outside the expired
    * manifests: a concurrent writer stages data BEFORE its manifest CAS,
    * so an orphan sweep here would delete an in-flight commit's files and
    * corrupt the table once its manifest lands. (Iceberg splits these the
    * same way: expire_snapshots never removes orphans; that is
    * remove_orphan_files with an age gate — see [[removeOrphans]].)
    * Run with a retention window longer than any reader's pin.
    */
  def expireSnapshots(table: String, keepLast: Int = 2): Unit = {
    val cur = currentVersion(table).getOrElse(return)
    val keepFrom = cur - keepLast + 1
    val retained = (keepFrom to cur)
      .flatMap(v => snapshotIfExists(table, v).toSeq.flatMap(_.entries.map(_.file))).toSet
    val expired = (1 until keepFrom)
      .flatMap(v => snapshotIfExists(table, v).toSeq.flatMap(_.entries.map(_.file))).toSet
    // delete expired manifests first: a concurrent reader can no longer pin them
    (1 until keepFrom).map(manifestPath(table, _)).foreach(Files.deleteIfExists)
    val doomed = expired -- retained
    val emptied = scala.collection.mutable.Set.empty[Path]
    doomed.foreach { rel =>
      val p = Paths.get(table).resolve(rel)
      Files.deleteIfExists(p)
      emptied += p.getParent
    }
    // prune only dirs we ourselves emptied (never a writer's fresh stage dir)
    emptied.toVector.sortBy(-_.getNameCount).foreach { d =>
      pruneIfEmpty(d); pruneIfEmpty(d.getParent)
    }
  }

  private def pruneIfEmpty(dir: Path): Unit =
    if (dir != null && Files.isDirectory(dir)) {
      val s = Files.list(dir)
      val empty = try !s.iterator.hasNext finally s.close()
      // a file can land between the empty check and the delete (concurrent
      // writer staging into the dir) — the dir is simply no longer empty
      if (empty)
        try Files.deleteIfExists(dir)
        catch { case _: java.nio.file.DirectoryNotEmptyException => () }
    }

  /** Age-gated orphan sweep (Iceberg's remove_orphan_files): delete data
    * files referenced by NO manifest at all whose mtime is older than
    * `olderThanMillis` — old enough that no in-flight commit can still be
    * racing toward a manifest that references them.
    */
  def removeOrphans(table: String,
      olderThanMillis: Long = 3L * 24 * 3600 * 1000): Unit = {
    val cur = currentVersion(table).getOrElse(return)
    val referenced = (1 to cur)
      .flatMap(v => snapshotIfExists(table, v).toSeq.flatMap(_.entries.map(_.file))).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val dataDir = Paths.get(table, "data")
    if (!Files.isDirectory(dataDir)) return
    val s = Files.walk(dataDir)
    // mtime read tolerates a concurrent sweep deleting the file mid-walk
    def mtimeBefore(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: java.nio.file.NoSuchFileException => false }
    val orphans = try s.iterator.asScala.filter { p =>
      Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !referenced(Paths.get(table).relativize(p).toString) &&
        mtimeBefore(p)
    }.toVector finally s.close()
    val emptied = scala.collection.mutable.Set.empty[Path]
    orphans.foreach { p => Files.deleteIfExists(p); emptied += p.getParent }
    emptied.toVector.sortBy(-_.getNameCount).foreach { d =>
      pruneIfEmpty(d); pruneIfEmpty(d.getParent)
    }
  }
}
