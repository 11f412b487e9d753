package graft.lake

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** The manifest rule every [[Snapshots]] rewrite commits by
  * ([[Snapshots.commitRewrite]]): `prev − files read + staged`, aborting
  * when a file the rewrite read is no longer live. A commit that lands
  * between the rewrite's read and its commit is simulated by committing
  * between planning and [[Snapshots.commitRewrite]].
  */
class CommitRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val Hour = "2024-03-01-05"

  private def rows(ids: Range, hour: String) =
    ids.map(i => (i.toLong, s"v$i", java.sql.Timestamp.valueOf(s"$hour:10:00")))
      .toDF("id", "name", "ts")

  /** A table with two files in [[Hour]] and one in the next hour. */
  private def table(name: String): String = {
    val t = tempDir(name).toString
    Snapshots.append(rows(1 to 5, "2024-03-01 05"), t)
    Snapshots.append(rows(6 to 10, "2024-03-01 05"), t)
    Snapshots.append(rows(11 to 15, "2024-03-01 06"), t)
    t
  }

  /** Plan a one-file rewrite of [[Hour]] against the current snapshot, as
    * `compactHour` does: the entries it read and the files it staged.
    */
  private def planRewrite(t: String) = {
    val snap = Snapshots.current(t).get
    val read = snap.entries.filter(_.hour == Hour)
    val df = Snapshots.readEntries(spark, t, read, snap.schema)
      .coalesce(1).drop(Lake.PartitionCol)
    (read, Snapshots.stage(df, t), df.schema)
  }

  test("a file appended to a read hour after the read is carried forward") {
    val t = table("rewrite_carry")
    val (read, staged, schema) = planRewrite(t)
    assert(read.nonEmpty)
    // a concurrent append into the hour the rewrite read; a rule that drops
    // every entry of the read hours would lose it
    val before = Snapshots.current(t).get.entries.toSet
    Snapshots.append(rows(16 to 18, "2024-03-01 05"), t)
    val racing = Snapshots.current(t).get.entries.filterNot(before)
    assert(racing.nonEmpty && racing.forall(_.hour == Hour))
    val v = Snapshots.commitRewrite(t, "rewrite", read, staged, schema)
    val after = Snapshots.snapshot(t, v).entries
    assert(after.filter(_.hour == Hour).toSet == (staged ++ racing).toSet)
    assert(read.forall(e => !after.exists(_.file == e.file)))
    val out = Snapshots.read(spark, t).select("id").as[Long].collect().sorted.toSeq
    assert(out == (1L to 18L))
  }

  test("a read file that is no longer live aborts the commit, writing no manifest") {
    val t = table("rewrite_conflict")
    val (read, staged, schema) = planRewrite(t)
    // a concurrent rewrite replaces the files this one read
    Snapshots.compactHour(spark, t, Hour)
    val v = Snapshots.currentVersion(t).get
    val e = intercept[RuntimeException] {
      Snapshots.commitRewrite(t, "rewrite", read, staged, schema)
    }
    assert(e.getMessage.contains("rewrite conflict"))
    assert(Snapshots.currentVersion(t).contains(v))
    assert(!Files.exists(Paths.get(t, "_graft_lake", f"v${v + 1}%06d.manifest")))
    assert(Snapshots.read(spark, t).count() == 15)
  }
}
