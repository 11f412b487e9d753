package graft

import java.nio.file.{Files, Paths}

import graft.lake.{Lake, Snapshots}
import org.apache.spark.sql.functions._

/** Snapshot-pointer commit protocol: MVCC isolation, atomic merge,
  * expire/orphan safety.
  */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def mkRows(ids: Range, hour: String) =
    ids.map(i => (i.toLong, s"v$i", ts(s"$hour:10:00"))).toDF("id", "name", "ts")

  test("append commits advance the version; reads see committed state") {
    val t = tempDir("snap_append").toString
    assert(Snapshots.currentVersion(t).isEmpty)
    val v1 = Snapshots.append(mkRows(1 to 10, "2024-03-01 05"), t)
    assert(v1 == 1)
    val v2 = Snapshots.append(mkRows(11 to 20, "2024-03-01 06"), t)
    assert(v2 == 2)
    assert(Snapshots.read(spark, t).count() == 20)
    // pinned read of v1 sees only the first commit
    assert(Snapshots.read(spark, t, version = Some(1)).count() == 10)
  }

  test("a reader pinned to snapshot N stays consistent while N+1 commits") {
    val t = tempDir("snap_pin").toString
    Snapshots.append(mkRows(1 to 100, "2024-03-01 05"), t)
    val pinnedVersion = Snapshots.currentVersion(t).get
    val pinned = Snapshots.read(spark, t, version = Some(pinnedVersion))
    // writer overwrites the same partition (destructive rewrite of hour 05)
    Snapshots.overwritePartitions(mkRows(1 to 5, "2024-03-01 05"), t)
    // the pinned frame still reads the v1 file set: 100 rows, original sum
    assert(pinned.count() == 100)
    assert(pinned.select(sum("id")).head.getLong(0) == (1 to 100).map(_.toLong).sum)
    // an unpinned read sees the new state
    assert(Snapshots.read(spark, t).count() == 5)
  }

  test("overwritePartitions replaces only staged hours") {
    val t = tempDir("snap_ow").toString
    Snapshots.append(mkRows(1 to 10, "2024-03-01 05"), t)
    Snapshots.append(mkRows(11 to 20, "2024-03-01 06"), t)
    Snapshots.overwritePartitions(mkRows(21 to 22, "2024-03-01 05"), t)
    val out = Snapshots.read(spark, t)
    assert(out.count() == 12)
    assert(out.filter(col(Lake.PartitionCol) === "2024-03-01-06").count() == 10)
  }

  test("bucket-partitioned index layout: a probe reads only its buckets' files") {
    // the q143 IVF-on-lake shape: PartitionCol carries the bucket, so a
    // probed read plans ONLY the probed buckets' files off the manifest
    val t = tempDir("snap_bucket").toString
    val rows = (1 to 40).map(i => (i.toLong, s"v$i", s"b${i % 4}"))
      .toDF("id", "name", Lake.PartitionCol)
    Snapshots.append(rows, t)
    Snapshots.append((41 to 60).map(i => (i.toLong, s"v$i", s"b${i % 4}"))
      .toDF("id", "name", Lake.PartitionCol), t) // second batch, pure append
    val snap = Snapshots.current(t).get
    val probedEntries = snap.entries.filter(e => Set("b1", "b2")(e.hour))
    assert(probedEntries.nonEmpty &&
      probedEntries.size < snap.entries.size) // strictly fewer files planned
    val probed = Snapshots.readHours(spark, t, Set("b1", "b2"))
    assert(probed.count() == 30) // 15 ids per bucket over both batches
    assert(probed.select(Lake.PartitionCol).distinct.as[String]
      .collect().toSet == Set("b1", "b2"))
  }

  test("schema evolution: appends with new columns union-evolve the manifest schema") {
    val t = tempDir("snap_evo").toString
    Snapshots.append(mkRows(1 to 5, "2024-03-01 05"), t)
    // second commit adds `score`, drops nothing — the unionByNameWith shape
    val withScore = (6 to 8).map(i => (i.toLong, s"v$i", ts("2024-03-01 06:10:00"), i * 1.5))
      .toDF("id", "name", "ts", "score")
    Snapshots.append(withScore, t)
    val out = Snapshots.read(spark, t)
    // evolved schema visible over the whole table, ordered prev-then-new
    assert(out.columns.toSeq == Seq("id", "name", "ts", "score", Lake.PartitionCol))
    // rows from before the column existed read as null (evolution-on-read)
    assert(out.filter(col("score").isNull).count() == 5)
    assert(out.filter(col("score").isNotNull).count() == 3)
    // a reader pinned to v1 still sees v1's schema — no `score`
    assert(!Snapshots.read(spark, t, version = Some(1)).columns.contains("score"))
    // a third commit drops `name`: the table keeps it, old rows keep their
    // names, and the new row reads null there
    Snapshots.append(Seq((9L, ts("2024-03-01 07:10:00"), 9.5)).toDF("id", "ts", "score"), t)
    val evolved = Snapshots.read(spark, t)
    assert(evolved.columns.toSeq == Seq("id", "name", "ts", "score", Lake.PartitionCol))
    val expected = (1 to 5).map(i => (i.toLong, Option(s"v$i"), Option.empty[Double])) ++
      (6 to 8).map(i => (i.toLong, Option(s"v$i"), Option(i * 1.5))) :+
      ((9L, Option.empty[String], Option(9.5)))
    assert(evolved.select("id", "name", "score").as[(Long, Option[String], Option[Double])]
      .collect().sortBy(_._1).toSeq == expected)
  }

  test("schema evolution survives overwrite and a subset-column append") {
    val t = tempDir("snap_evo2").toString
    Snapshots.append(mkRows(1 to 4, "2024-03-01 05"), t)
    Snapshots.append((5 to 6).map(i => (i.toLong, s"v$i", ts("2024-03-01 06:10:00"), i * 1.0))
      .toDF("id", "name", "ts", "score"), t)
    // a later commit WITHOUT score must not shrink the table schema
    Snapshots.overwritePartitions(mkRows(7 to 9, "2024-03-01 05"), t)
    val out = Snapshots.read(spark, t)
    assert(out.columns.contains("score"))
    assert(out.count() == 5) // 3 overwritten + 2 from hour 06
    assert(out.filter(col("score").isNotNull).count() == 2)
  }

  test("cluster-on-write: disjoint file key ranges make zone-map pruning bite") {
    import org.apache.spark.sql.sources.EqualTo
    def ids = new scala.util.Random(7).shuffle((1 to 4000).toList)
      .map(i => (i.toLong, s"v$i", ts("2024-03-01 05:10:00")))
    val spread = tempDir("snap_unclustered").toString
    Snapshots.append(ids.toDF("id", "name", "ts").repartition(8), spread)
    val tight = tempDir("snap_clustered").toString
    Snapshots.append(ids.toDF("id", "name", "ts").repartition(8), tight,
      clusterBy = Seq("id"))
    def filesKept(t: String): Int = {
      val snap = Snapshots.current(t).get
      snap.entries.count(e =>
        e.stats.forall(st => graft.lake.FileStats.mayMatch(EqualTo("id", 17L), st)))
    }
    val total = Snapshots.current(spread).get.entries.size
    assert(total >= 8)
    // unclustered: files span nearly the whole id range -> pruning keeps
    // most of them (a random 500-id sample can miss a small id by chance)
    assert(filesKept(spread) >= total / 2, s"kept ${filesKept(spread)} of $total")
    // clustered: ranges are disjoint -> a point lookup keeps 1 file (2 on a boundary)
    assert(filesKept(tight) <= 2, s"kept ${filesKept(tight)} of ${filesKept(spread)}")
    // same rows either way
    assert(Snapshots.read(spark, tight).count() == 4000)
    assert(Snapshots.readWhere(spark, tight, Seq(EqualTo("id", 17L)))
      .filter(col("id") === 17L).count() == 1)
  }

  test("readAsOf: timestamp time travel picks the newest snapshot at-or-before") {
    val t = tempDir("snap_asof").toString
    Snapshots.append(mkRows(1 to 10, "2024-03-01 05"), t)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(5) // ensure v2's commit-time is strictly later
    Snapshots.append(mkRows(11 to 30, "2024-03-01 06"), t)
    assert(Snapshots.readAsOf(spark, t, afterV1).count() == 10)
    assert(Snapshots.readAsOf(spark, t, System.currentTimeMillis()).count() == 30)
    // before any commit → error, not silent empty
    val tooEarly = Snapshots.committedAt(t, 1).get - 1
    intercept[RuntimeException] { Snapshots.readAsOf(spark, t, tooEarly) }
  }

  test("readAsOf keeps working over the retained window after expireSnapshots") {
    val t = tempDir("snap_asof_exp").toString
    Snapshots.append(mkRows(1 to 10, "2024-03-01 05"), t)
    Thread.sleep(5)
    Snapshots.append(mkRows(11 to 20, "2024-03-01 06"), t)
    val afterV2 = System.currentTimeMillis()
    Thread.sleep(5)
    Snapshots.append(mkRows(21 to 30, "2024-03-01 07"), t)
    Snapshots.expireSnapshots(t, keepLast = 2) // v1's manifest is gone
    // a timestamp inside the retained window still time-travels
    assert(Snapshots.readAsOf(spark, t, afterV2).count() == 20)
    assert(Snapshots.readAsOf(spark, t, System.currentTimeMillis()).count() == 30)
    // a timestamp older than every retained version errors (not NoSuchFile)
    val tooEarly = Snapshots.committedAt(t, 2).get - 1
    val e = intercept[RuntimeException] { Snapshots.readAsOf(spark, t, tooEarly) }
    assert(e.getMessage.contains("retained"))
  }

  test("schema evolution rejects a type-conflicting reuse of a column name") {
    val t = tempDir("snap_evo_conflict").toString
    Snapshots.append(mkRows(1 to 3, "2024-03-01 05"), t) // name: string
    val conflicting = (4 to 5).map(i => (i.toLong, i * 2, ts("2024-03-01 06:10:00")))
      .toDF("id", "name", "ts") // name: int — incompatible with string
    val e = intercept[RuntimeException] { Snapshots.append(conflicting, t) }
    assert(e.getMessage.contains("name"))
    // the failed commit left no new version and the table still reads
    assert(Snapshots.currentVersion(t).contains(1))
    assert(Snapshots.read(spark, t).count() == 3)
    // nullability differences are NOT conflicts; same-type append still works
    Snapshots.append(mkRows(6 to 7, "2024-03-01 06"), t)
    assert(Snapshots.read(spark, t).count() == 5)
  }

  test("history: one row per retained manifest with rollups") {
    val t = tempDir("snap_hist").toString
    Snapshots.append(mkRows(1 to 10, "2024-03-01 05"), t)
    Snapshots.append((11 to 12).map(i => (i.toLong, s"v$i", ts("2024-03-01 06:10:00"), 1.0))
      .toDF("id", "name", "ts", "extra"), t)
    val h = Snapshots.history(spark, t).orderBy("version").collect()
    assert(h.map(_.getAs[Int]("version")).toSeq == Seq(1, 2))
    assert(h(1).getAs[Long]("n_files") > h(0).getAs[Long]("n_files"))
    assert(h(0).getAs[Long]("n_hours") == 1 && h(1).getAs[Long]("n_hours") == 2)
    assert(h(0).getAs[Long]("n_columns") == 3 && h(1).getAs[Long]("n_columns") == 4)
    // rollups come from manifests only; stats present on every committed file
    assert(h.forall(r => r.getAs[Long]("n_files_with_stats") == r.getAs[Long]("n_files")))
  }

  test("pre-schema manifests (no #schema header) still read via footer inference") {
    val t = tempDir("snap_preschema").toString
    Snapshots.append(mkRows(1 to 6, "2024-03-01 05"), t)
    // strip the schema header from the manifest, simulating an old table
    val mf = Files.list(Paths.get(t, "_graft_lake")).iterator().next()
    val stripped = new String(Files.readAllBytes(mf), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#")).mkString("\n")
    Files.write(mf, stripped.getBytes("UTF-8"))
    val out = Snapshots.read(spark, t)
    assert(out.count() == 6)
    assert(out.columns.toSet == Set("id", "name", "ts", Lake.PartitionCol))
  }

  test("mergeUpsert: one atomic commit updates matched rows, inserts the rest") {
    val t = tempDir("snap_merge").toString
    Snapshots.append(mkRows(1 to 10, "2024-03-01 05"), t)
    Snapshots.append(mkRows(11 to 20, "2024-03-01 06"), t)
    val before = Snapshots.currentVersion(t).get
    val updates = Seq(
      (5L, "UPD5", ts("2024-03-01 05:10:00")),
      (15L, "UPD15", ts("2024-03-01 06:10:00")),
      (99L, "NEW99", ts("2024-03-01 07:10:00"))).toDF("id", "name", "ts")
    val v = Snapshots.mergeUpsert(spark, t, updates, "id")
    assert(v == before + 1) // exactly one commit
    val out = Snapshots.read(spark, t)
    assert(out.count() == 21)
    assert(out.filter(col("id") === 5L).select("name").head.getString(0) == "UPD5")
    assert(out.filter(col("id") === 15L).select("name").head.getString(0) == "UPD15")
    assert(out.filter(col("id") === 99L).select("name").head.getString(0) == "NEW99")
    assert(out.filter(col("id") === 99L).select(col(Lake.PartitionCol))
      .head.getString(0) == "2024-03-01-07")
  }

  test("mergeUpsert: an update frame carrying ts_hour commits no ts_hour data column") {
    val t = tempDir("snap_merge_hourcol").toString
    Snapshots.append(mkRows(1 to 10, "2024-03-01 05"), t)
    def nColumns = Snapshots.history(spark, t).orderBy(col("version").desc)
      .select("n_columns").head.getLong(0)
    val before = nColumns
    val updates = Lake.withHourPartition(Seq(
      (5L, "UPD5", ts("2024-03-01 05:10:00")),
      (99L, "NEW99", ts("2024-03-01 07:10:00"))).toDF("id", "name", "ts"))
    assert(updates.columns.contains(Lake.PartitionCol))
    Snapshots.mergeUpsert(spark, t, updates, "id")
    val schema = Snapshots.current(t).get.schema.get
    assert(!schema.fieldNames.contains(Lake.PartitionCol), s"manifest schema: $schema")
    assert(schema.fieldNames.toSeq == Seq("id", "name", "ts"))
    assert(nColumns == before)
    assert(Snapshots.read(spark, t).count() == 11)
  }

  test("mergeUpsert: an Int-typed update pk against a Long lake pk is " +
      "rejected loudly BEFORE any staging I/O (driver-side pk == is only " +
      "sound under identical types)") {
    val t = tempDir("snap_pk_type").toString
    Snapshots.append(mkRows(1 to 10, "2024-03-01 05"), t)
    val before = Snapshots.currentVersion(t).get
    // update pk column is INT — the Spark join would coerce it against
    // the lake's LONG pk, but the fast path's driver-side Scala ==
    // between collected pk values would see Integer vs Long and classify
    // every matched update as an insert; the schema contract rejects the
    // type conflict up front instead (explicit casting required), before
    // any file is staged
    val updates = Seq((5, "UPD5", ts("2024-03-01 05:10:00")),
      (7, "UPD7", ts("2024-03-01 05:10:00"))).toDF("id", "name", "ts")
    assert(updates.schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val err = intercept[RuntimeException] {
      Snapshots.mergeUpsert(spark, t, updates, "id")
    }
    assert(err.getMessage.contains("schema evolution conflict"))
    assert(Snapshots.currentVersion(t).get == before, "no commit")
    // rejection precedes staging: no orphaned data files beyond the
    // committed ones
    val committed = Snapshots.read(spark, t).inputFiles.length
    val onDisk = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(t)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    assert(onDisk == committed, s"staged orphans: $onDisk vs $committed")
    // the explicitly-cast form merges cleanly on the fast path
    Snapshots.mergeUpsert(spark, t,
      updates.withColumn("id", col("id").cast("long")), "id")
    val out = Snapshots.read(spark, t)
    assert(out.count() == 10, "matched updates must not duplicate as inserts")
    assert(out.filter(col("id") === 5L).select("name").head.getString(0) == "UPD5")
    assert(out.filter(col("id") === 7L).select("name").head.getString(0) == "UPD7")
  }

  test("mergeUpsert: insert-only updates (no key matches) append cleanly") {
    val t = tempDir("snap_insert_only").toString
    Snapshots.append(mkRows(1 to 10, "2024-03-01 05"), t)
    val fresh = Seq((100L, "n100", ts("2024-03-01 08:10:00")),
      (101L, "n101", ts("2024-03-01 08:10:00"))).toDF("id", "name", "ts")
    Snapshots.mergeUpsert(spark, t, fresh, "id") // must not throw
    assert(Snapshots.read(spark, t).count() == 12)
  }

  test("mergeUpsert rejects duplicate primary keys in updates") {
    val t = tempDir("snap_dup").toString
    Snapshots.append(mkRows(1 to 5, "2024-03-01 05"), t)
    val dup = Seq((1L, "a", ts("2024-03-01 05:10:00")),
      (1L, "b", ts("2024-03-01 05:10:00"))).toDF("id", "name", "ts")
    intercept[IllegalArgumentException] {
      Snapshots.mergeUpsert(spark, t, dup, "id")
    }
    // above the fast path's threshold the generic path checks with a job,
    // and must reject one duplicate as well
    val bigDup = mkRows(1 to Snapshots.SmallMergeRows + 1, "2024-03-01 05")
      .union(Seq((3L, "c", ts("2024-03-01 05:10:00"))).toDF("id", "name", "ts"))
    intercept[IllegalArgumentException] {
      Snapshots.mergeUpsert(spark, t, bigDup, "id")
    }
    assert(Snapshots.currentVersion(t).contains(1), "no commit")
  }

  test("mergeUpsert: the fast path and the generic path give the same table " +
      "and touched-hour entries; a matched row keeps its hour") {
    // hours 00, 01 and 02 hold ids 1-10, 11-20 and 21-30; hour 02 is the
    // bystander no update matches
    val updates = Seq(
      (Option(5L), "UPD5", ts("2024-03-01 00:20:00")),
      // matched, but its new ts falls in the bystander's hour
      (Option(15L), "UPD15", ts("2024-03-01 02:30:00")),
      (Option(100L), "NEW100", ts("2024-03-01 03:10:00")),
      (Option.empty[Long], "NULLPK", ts("2024-03-01 03:20:00"))).toDF("id", "name", "ts")
    // inserts into hour 09 that push the update set past the fast path
    val padding = (1000 until 1000 + Snapshots.SmallMergeRows)
      .map(i => (Option(i.toLong), s"pad$i", ts("2024-03-01 09:10:00")))
      .toDF("id", "name", "ts")
    def merged(name: String, upd: org.apache.spark.sql.DataFrame) = {
      val t = tempDir(name).toString
      for (h <- 0 to 2) Snapshots.append(mkRows(h * 10 + 1 to h * 10 + 10, f"2024-03-01 $h%02d"), t)
      val base = Snapshots.current(t).get
      assert(Snapshots.mergeUpsert(spark, t, upd, "id") == base.version + 1)
      val after = Snapshots.current(t).get
      def files(es: Vector[Snapshots.Entry], h: String) = es.filter(_.hour == h).map(_.file).toSet
      // the bystander keeps its files
      assert(files(after.entries, "2024-03-01-02") == files(base.entries, "2024-03-01-02"))
      // per changed hour (padding's aside), the rows its entries record
      val changed = after.entries.map(_.hour).distinct
        .filter(h => h != "2024-03-01-09" && files(after.entries, h) != files(base.entries, h))
      val rows = Snapshots.read(spark, t).filter(!col("name").startsWith("pad"))
        .select("id", "name", "ts", Lake.PartitionCol).collect().map(_.toSeq).toSeq
      (changed.map(h => h -> after.entries.filter(_.hour == h).flatMap(_.stats).map(_.rows).sum).toMap,
        rows.sortBy(_.mkString("|")))
    }
    val (fastHours, fastRows) = merged("snap_merge_fast", updates)
    val (genericHours, genericRows) = merged("snap_merge_generic", updates.union(padding))
    assert(fastHours == Map("2024-03-01-00" -> 10L, "2024-03-01-01" -> 10L, "2024-03-01-03" -> 2L))
    assert(genericHours == fastHours)
    assert(genericRows == fastRows)
    assert(fastRows.size == 32)
    val byName = fastRows.map(r => r(1) -> r).toMap
    assert(byName("UPD5")(3) == "2024-03-01-00")
    // UPD15 stays in its original hour; its ts is updated
    assert(byName("UPD15")(3) == "2024-03-01-01" && byName("UPD15")(2) == ts("2024-03-01 02:30:00"))
    assert(byName("NULLPK")(0) == null && byName("NEW100")(3) == "2024-03-01-03")
    assert((21 to 30).forall(i => byName(s"v$i")(3) == "2024-03-01-02"))
  }

  test("the lake reads no environment variable; src/main defines mergeUpsert once") {
    import scala.jdk.CollectionConverters._
    def sources(dir: String) = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector finally s.close()
    }
    def lines(f: java.nio.file.Path) =
      new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.zipWithIndex.map { case (l, i) => (l, s"${f.getFileName}:${i + 1}") }
    val lake = sources("src/main/scala/graft/lake")
    assert(lake.nonEmpty, "lake sources not found")
    val envReads = for {
      f <- lake; (line, at) <- lines(f)
      word <- Seq("sys.env", "getenv") if line.contains(word)
    } yield s"$at: $word"
    assert(envReads.isEmpty, "the lake takes no knobs from the environment: " +
      envReads.mkString(", "))
    val defs = for {
      f <- sources("src/main"); (line, at) <- lines(f)
      if raw"\bdef mergeUpsert\b".r.findFirstIn(line).nonEmpty
    } yield at
    assert(defs.size == 1, s"one MERGE implementation expected: ${defs.mkString(", ")}")
  }

  test("compactHour preserves rows and commits atomically") {
    val t = tempDir("snap_compact").toString
    (0 until 5).foreach(i => Snapshots.append(
      mkRows(i * 10 + 1 to i * 10 + 10, "2024-03-01 05"), t))
    val filesBefore = Snapshots.current(t).get.entries.size
    Snapshots.compactHour(spark, t, "2024-03-01-05")
    val snap = Snapshots.current(t).get
    assert(snap.entries.size < filesBefore)
    val out = Snapshots.read(spark, t)
    assert(out.count() == 50)
    assert(out.select(sum("id")).head.getLong(0) == (1 to 50).map(_.toLong).sum)
  }

  test("expireSnapshots drops old manifests + their exclusive files, keeps staged orphans") {
    val t = tempDir("snap_expire").toString
    Snapshots.append(mkRows(1 to 10, "2024-03-01 05"), t)
    Snapshots.overwritePartitions(mkRows(1 to 3, "2024-03-01 05"), t) // v2 replaces v1 files
    Snapshots.append(mkRows(11 to 12, "2024-03-01 06"), t)            // v3
    // simulate an in-flight commit: data staged, manifest not yet claimed
    val staged = Paths.get(t, "data", "cinflight", "ts_hour=2024-03-01-09")
    Files.createDirectories(staged)
    val inflight = staged.resolve("part-inflight.parquet")
    Files.write(inflight, Array[Byte](1, 2, 3))
    val v1Files = Snapshots.snapshot(t, 1).entries.map(_.file)
    Snapshots.expireSnapshots(t, keepLast = 2)
    // v1's manifest and its replaced files are gone
    assert(Snapshots.currentVersion(t).contains(3))
    assert(!Files.exists(Paths.get(t, "_graft_lake", "v000001.manifest")))
    assert(v1Files.forall(f => !Files.exists(Paths.get(t).resolve(f))))
    // the in-flight stage was NOT swept (expire is not an orphan GC)
    assert(Files.exists(inflight))
    // retained snapshots still read
    assert(Snapshots.read(spark, t).count() == 5)
    // age-gated orphan sweep with a zero window reclaims it
    Snapshots.removeOrphans(t, olderThanMillis = -1)
    assert(!Files.exists(inflight))
  }

  test("RefreshingTable over a snapshot table survives destructive rewrite") {
    import graft.operators.Enrichment
    val t = tempDir("snap_refresh").toString
    Snapshots.append(mkRows(1 to 50, "2024-03-01 05"), t)
    // staleness=1h: the handle pins the current snapshot for the test's life
    val handle = new Enrichment.RefreshingTable(t, stalenessMs = 3600000L)
    val pinned = handle.get(spark)
    assert(pinned.count() == 50)
    // destructive rewrite: compact + overwrite the hour the pin reads
    Snapshots.compactHour(spark, t, "2024-03-01-05")
    Snapshots.overwritePartitions(mkRows(1 to 2, "2024-03-01 05"), t)
    Snapshots.expireSnapshots(t, keepLast = 3) // keeps the pinned version's files
    // the pinned frame still answers from its snapshot
    assert(handle.get(spark).count() == 50)
    // a new handle (fresh pin) sees the rewritten table
    val fresh = new Enrichment.RefreshingTable(t, stalenessMs = 3600000L)
    assert(fresh.get(spark).count() == 2)
  }

  test("compactSmallFiles bin-packs fragmented hours in one commit; pinned readers unaffected") {
    val t = tempDir("snap_compact").toString
    // six micro-batch appends, each touching the same two hours — the
    // streaming small-file debt shape (≥1 file per hour per commit)
    for (b <- 0 until 6)
      Snapshots.append(
        mkRows(b * 10 + 1 to b * 10 + 5, "2024-03-01 05")
          .union(mkRows(b * 10 + 6 to b * 10 + 10, "2024-03-01 06")), t)
    val before = Snapshots.current(t).get
    val perHourBefore = before.entries.groupBy(_.hour).map { case (h, es) => h -> es.size }
    assert(perHourBefore.values.forall(_ >= 6), s"fixture not fragmented: $perHourBefore")
    val expected = Snapshots.read(spark, t)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val pinned = Snapshots.read(spark, t, version = Some(before.version))

    val v = Snapshots.compactSmallFiles(spark, t, maxFilesPerHour = 4)
    assert(v == before.version + 1)
    val after = Snapshots.current(t).get
    val perHourAfter = after.entries.groupBy(_.hour).map { case (h, es) => h -> es.size }
    // bin-packed: every hour collapses to a handful of files
    assert(perHourAfter.values.forall(_ <= 4), s"still fragmented: $perHourAfter")
    assert(after.entries.size < before.entries.size)
    // rewrite moved no rows: identical data before/after
    assert(Snapshots.read(spark, t).orderBy("id").collect().map(_.toSeq).toSeq == expected)
    // the pinned reader keeps its (uncompacted) file set — rewrites never
    // delete data files, expireSnapshots reclaims them later
    assert(pinned.count() == 60)
    // nothing fragmented any more → no-op, same version back
    assert(Snapshots.compactSmallFiles(spark, t, maxFilesPerHour = 4) == v)
  }

  test("sizeGatedBroadcast passes large frames through without the hint") {
    val small = Seq((1L, "a")).toDF("id", "v")
    val gatedSmall = Lake.sizeGatedBroadcast(small)
    // small side carries the hint → planner picks broadcast join
    val joined = small.join(gatedSmall, "id")
    val planned = joined.queryExecution.sparkPlan.toString
    assert(planned.contains("Broadcast"))
    // a frame whose estimated size exceeds the gate comes back unhinted
    val big = spark.range(0, 1000000).withColumn("pad", lit("x" * 64))
    val gatedBig = Lake.sizeGatedBroadcast(big.toDF(), maxBytes = 1024)
    assert(gatedBig.queryExecution.logical == big.toDF().queryExecution.logical)
  }

  test("z-order layout prunes 2-D box queries where a linear sort cannot (q133)") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    // 64x64 uniform grid, 64 files per layout
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"),
      lit(ts("2024-03-01 05:10:00")).as("ts"))
    val zt = tempDir("snap_zorder").toString
    val lt = tempDir("snap_linear").toString
    Snapshots.append(grid.withColumn("__zk", Lake.zorderKey(col("x"), col("y"), 6)),
      zt, clusterBy = Seq("__zk"), clusterPartitions = Some(64))
    Snapshots.append(grid, lt, clusterBy = Seq("x"), clusterPartitions = Some(64))
    val box = Seq(GreaterThanOrEqual("x", 0L), LessThan("x", 8L),
      GreaterThanOrEqual("y", 0L), LessThan("y", 8L))
    val (zKept, zTotal) = Snapshots.pruneStats(zt, box)
    val (lKept, lTotal) = Snapshots.pruneStats(lt, box)
    assert(zTotal == 64 && lTotal == 64)
    // z-order: the 8x8 corner touches a handful of Morton-contiguous files
    assert(zKept <= 8, s"z-order kept $zKept of $zTotal")
    // the linear (x-sorted) layout prunes on x but every kept file spans
    // all of y — a y-ONLY predicate prunes nothing there, while the
    // z-order layout still skips most files
    val yOnly = Seq(GreaterThanOrEqual("y", 0L), LessThan("y", 8L))
    val (zyKept, _) = Snapshots.pruneStats(zt, yOnly)
    val (lyKept, _) = Snapshots.pruneStats(lt, yOnly)
    assert(lyKept == 64, s"x-sorted layout should keep all files on a y filter, kept $lyKept")
    assert(zyKept <= 16, s"z-order should prune the y-only filter too, kept $zyKept")
    // and the pruned read returns exactly the box
    val n = Snapshots.readWhere(spark, zt, box)
      .where(col("x") < 8 && col("y") < 8).count()
    assert(n == 64)
  }

  private def keyRows(ids: Range) =
    ids.map(i => (i.toLong, s"v$i", ts("2024-01-01 00:10:00")))
      .toDF("k", "name", "ts")

  test("readKeyProbe: a point-key probe against a key-clustered table " +
      "reads ≤2 files per probed key, returns every matching row, and an " +
      "empty probe reads nothing but keeps the schema") {
    val t = tempDir("snap_keyprobe").toString
    // 8 range-disjoint sorted files over keys 0..7999
    Snapshots.append(keyRows(0 until 8000), t,
      clusterBy = Seq("k"), clusterPartitions = Some(8))
    val probe = Seq(100L, 4100L).toDF("k")
    val (df, kept, total) = Snapshots.readKeyProbe(spark, t, "k", probe)
    assert(total == 8, s"layout should be 8 files, was $total")
    assert(kept <= 2, s"two point keys must keep ≤2 clustered files, kept $kept")
    // completeness: every probed key's rows present (file skipping is
    // coarse — callers still apply the real filter)
    val hit = df.where(col("k").isin(100L, 4100L)).collect()
    assert(hit.length == 2)
    // soundness: the pruned frame is a subset of the table
    assert(df.count() <= 8000 && df.count() >= 2)
    // empty probe: nothing read, schema intact
    val (empty, keptE, totalE) =
      Snapshots.readKeyProbe(spark, t, "k", Seq.empty[Long].toDF("k"))
    assert(keptE == 0 && totalE == 8 && empty.isEmpty)
    assert(empty.columns.contains("name"))
  }

  test("readKeyProbe: files without usable key stats are always kept — " +
      "pruning never drops a blind file") {
    val t = tempDir("snap_keyprobe_blind").toString
    // a string-keyed column under the probe's long-typed contract: stats
    // exist but with typ 's', so every file is probe-blind
    val rows = (0 until 100).map(i => (s"s$i", ts("2024-01-01 00:10:00")))
      .toDF("k", "ts")
    Snapshots.append(rows, t)
    val (df, kept, total) = Snapshots.readKeyProbe(spark, t, "k",
      Seq(1L).toDF("k"))
    assert(kept == total, "blind files must all be kept")
    assert(df.count() == 100)
  }

  test("recluster: per-commit runs overlap in key range (probe keeps all " +
      "files) until one atomic recluster restores disjoint ranges — rows " +
      "identical before and after") {
    val t = tempDir("snap_recluster").toString
    // three commits, each clustered internally into 4 files — but every
    // commit spans the full key range, so a point key touches one file
    // PER COMMIT
    Snapshots.append(keyRows(0 until 4000 by 3), t,
      clusterBy = Seq("k"), clusterPartitions = Some(4))
    Snapshots.append(keyRows(1 until 4000 by 3), t,
      clusterBy = Seq("k"), clusterPartitions = Some(4))
    Snapshots.append(keyRows(2 until 4000 by 3), t,
      clusterBy = Seq("k"), clusterPartitions = Some(4))
    val before = Snapshots.read(spark, t)
      .select("k", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val (_, keptRuns, totalRuns) =
      Snapshots.readKeyProbe(spark, t, "k", Seq(2000L).toDF("k"))
    assert(totalRuns == 12)
    // at most one file per commit-run contains the key (a run whose file
    // boundary gap straddles the key legitimately prunes to zero)
    assert(keptRuns <= 3 && keptRuns >= 1,
      s"≤1 file per commit-run expected, kept $keptRuns of $totalRuns")
    Snapshots.recluster(spark, t, Seq("k"), nFiles = 8)
    val (_, keptAfter, totalAfter) =
      Snapshots.readKeyProbe(spark, t, "k", Seq(2000L).toDF("k"))
    assert(totalAfter == 8)
    assert(keptAfter <= 2, s"reclustered point probe must keep ≤2 files, kept $keptAfter")
    val after = Snapshots.read(spark, t)
      .select("k", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "recluster must not change table content")
    // pinned reader on the pre-recluster version still sees the old files
    assert(Snapshots.read(spark, t, version = Some(3)).count() == 4000)
  }

  test("mergeUpsert clusterBy: insert-only merge commits stage key-" +
      "clustered files, so the registry stays probe-prunable as it grows") {
    val t = tempDir("snap_merge_cluster").toString
    Snapshots.append(keyRows(0 until 4000), t,
      clusterBy = Seq("k"), clusterPartitions = Some(4))
    // big-path merge (above the small-merge threshold) of fresh keys only
    Snapshots.mergeUpsert(spark, t, keyRows(4000 until 9000), "k",
      clusterBy = Seq("k"))
    val snap = Snapshots.current(t).get
    // the merge's staged files must carry k stats and be range-disjoint
    val mergeFiles = snap.entries.filterNot(e =>
      Snapshots.snapshot(t, 1).entries.map(_.file).contains(e.file))
    assert(mergeFiles.nonEmpty)
    val ranges = mergeFiles.flatMap(_.stats.flatMap(_.cols.get("k")))
      .map(c => (c.min.get.asInstanceOf[Long].longValue,
        c.max.get.asInstanceOf[Long].longValue)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"merge-staged files must be range-disjoint: $ranges")
      case _ =>
    }
    // and a point probe into the merged range keeps ≤2 files total
    val (_, kept, _) = Snapshots.readKeyProbe(spark, t, "k", Seq(6000L).toDF("k"))
    assert(kept <= 2, s"probe into merged keys kept $kept files")
    assert(Snapshots.read(spark, t).count() == 9000)
  }

  test("reclusterIfFragmented: no-op on a freshly clustered table, fires " +
      "after interleaved per-commit runs accrue, restores probe pruning, " +
      "and the next scheduled call no-ops again") {
    val t = tempDir("snap_autoreclus").toString
    Snapshots.append(keyRows(0 until 4000), t,
      clusterBy = Seq("k"), clusterPartitions = Some(4))
    // one clustered commit: ranges disjoint, overlap 0 → scheduled run
    // is a metadata-only no-op
    assert(Snapshots.keyOverlapFraction(t, "k") == 0.0)
    assert(Snapshots.reclusterIfFragmented(spark, t, Seq("k")).isEmpty)
    val v1 = Snapshots.current(t).get.version
    // three more commits, each internally clustered but spanning the
    // full key range — per-commit runs interleave, fragmentation rises
    for (r <- 1 to 3)
      Snapshots.append(keyRows(r until 4000 by 7), t,
        clusterBy = Seq("k"), clusterPartitions = Some(4))
    assert(Snapshots.current(t).get.version == v1 + 3)
    assert(Snapshots.keyOverlapFraction(t, "k") > 0.3,
      "interleaved runs must read as fragmented")
    val before = Snapshots.read(spark, t).select("k", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // 7 consecutive probe keys (one per by-7 residue class) so every
    // interleaved run is guaranteed a containing file — a single point
    // key can legitimately fall in one run's file-boundary gap
    val probe = (1999L to 2005L).toDF("k")
    val (_, keptFrag, _) = Snapshots.readKeyProbe(spark, t, "k", probe)
    assert(keptFrag >= 3, s"fragmented probe should touch one file per " +
      s"overlapping run, kept $keptFrag")
    // the scheduled run fires exactly one atomic sort-rewrite
    val v = Snapshots.reclusterIfFragmented(spark, t, Seq("k"), nFiles = 8)
    assert(v.nonEmpty)
    assert(Snapshots.keyOverlapFraction(t, "k") == 0.0)
    val (_, keptAfter, totalAfter) =
      Snapshots.readKeyProbe(spark, t, "k", probe)
    assert(totalAfter == 8 && keptAfter <= 2,
      s"pruning restored: kept $keptAfter of $totalAfter")
    assert(Snapshots.read(spark, t).select("k", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == before,
      "maintenance must not change table content")
    // steady state: the next scheduled call is a no-op again
    assert(Snapshots.reclusterIfFragmented(spark, t, Seq("k")).isEmpty)
  }
}
