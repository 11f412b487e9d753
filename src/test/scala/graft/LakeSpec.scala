package graft

import graft.lake.Lake
import graft.sources.Framing
import graft.transform.TransformDsl
import org.apache.spark.sql.functions._

/** Lake maintenance + leftover transform/source surface. */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  test("compactHour bin-packs one partition's files and preserves rows") {
    val tmp = tempDir("graft_compact").toString
    val rows = (1 to 500).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-02-01 03:10:00")))
      .toDF("id", "ts")
    // many small files: append in 10 slices
    (0 until 10).foreach { s =>
      Lake.append(rows.filter(col("id") % 10 === s).repartition(2), tmp)
    }
    val dir = new java.io.File(s"$tmp/ts_hour=2024-02-01-03")
    val before = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 10)
    Lake.compactHour(spark, tmp, "2024-02-01-03")
    val after = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before)
    val back = Lake.read(spark, tmp)
    assert(back.count() == 500)
    assert(back.select(sum("id")).head.getLong(0) == (1 to 500).map(_.toLong).sum)
  }

  /** Lake.read's schema against Spark's own inference, and the jobs it
    * starts (none).
    */
  private def assertReadParity(path: String): Unit = {
    val (df, stats) = graft.obs.JobStats.during(spark)(Lake.read(spark, path))
    assert(stats.jobs.isEmpty, s"Lake.read started jobs ${stats.jobs}")
    assert(df.schema == spark.read.option("basePath", path).parquet(path).schema)
  }

  private def hourRows(hours: Seq[Int], extra: Boolean = false) = {
    val base = hours.flatMap(h => (0 until 20).map(i =>
      (h * 100L + i, java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:${i % 60}%02d:00"),
        s"u$i", Seq(i, i + 1), Map(s"k$i" -> i.toDouble))))
      .toDF("id", "ts", "user", "tags", "attrs")
      .withColumn("src", struct(col("user").as("name"), (col("id") % 7).cast("decimal(10,2)").as("bytes")))
    if (extra) base.withColumn("added", concat(col("user"), lit("!"))) else base
  }

  test("Lake.read: schema of a multi-hour lake equals Spark's inference, no job") {
    val tmp = tempDir("graft_read_hours").toString
    Lake.append(hourRows(Seq(1, 2, 3)).repartition(3), tmp)
    Lake.append(hourRows(Seq(2, 4)), tmp)
    assertReadParity(tmp)
    assert(Lake.read(spark, tmp).filter(col(Lake.PartitionCol) === "2024-03-01-02").count() == 40)
  }

  test("Lake.read: _SUCCESS, .crc and _graft_lake/ entries are not read for the schema") {
    val tmp = tempDir("graft_read_hidden").toString
    Lake.append(hourRows(Seq(5)), tmp)
    // entries Spark's index skips, each sorting before the hour directory
    // and holding parquet of another schema
    Seq("_graft_lake/v1", ".staging").foreach(d =>
      Seq(("x", 1)).toDF("other", "n").write.parquet(s"$tmp/$d"))
    assert(new java.io.File(tmp, "_SUCCESS").exists)
    assert(new java.io.File(s"$tmp/ts_hour=2024-03-01-05").list().exists(_.endsWith(".crc")))
    assertReadParity(tmp)
    assert(!Lake.read(spark, tmp).columns.contains("other"))
  }

  test("Lake.read: an evolveAppend-widened table reads the footer Spark's inference reads") {
    // the widened file sorts last (a later hour), first (an earlier hour),
    // and beside the narrow one in the same hour; the wide append carries
    // every column the table has, so a plain append widens the table
    for ((name, wideHours) <- Seq("later" -> Seq(9), "earlier" -> Seq(6), "same" -> Seq(7))) {
      val tmp = tempDir(s"graft_read_evolve_$name").toString
      Lake.append(hourRows(Seq(7, 8)), tmp)
      Lake.append(hourRows(wideHours, extra = true), tmp)
      assertReadParity(tmp)
    }
  }

  test("Lake.read: a missing or empty path throws what Spark's read throws") {
    def thrown(read: => Any): Class[_] = intercept[Exception](read).getClass
    val missing = tempDir("graft_read_missing").resolve("absent").toString
    val empty = tempDir("graft_read_empty").toString
    for (p <- Seq(missing, empty))
      assert(thrown(Lake.read(spark, p)) ==
        thrown(spark.read.option("basePath", p).parquet(p)))
  }

  test("relatedPrelude seeds empty related arrays") {
    val df = Seq(("x", 1)).toDF("a", "b")
    val out = TransformDsl.relatedPrelude(df)
    val r = out.select("related.ip", "related.user", "related.hash").head
    assert(r.getSeq[String](0).isEmpty && r.getSeq[String](1).isEmpty && r.getSeq[String](2).isEmpty)
  }

  test("expandRecords explodes a payload array into rows (S5)") {
    val df = Seq(("file1", Seq("r1", "r2", "r3"))).toDF("path", "records")
    val out = Framing.expandRecords(df, col("records"))
    assert(out.count() == 3)
    assert(out.select("record").as[String].collect().sorted.toSeq == Seq("r1", "r2", "r3"))
    assert(out.columns.contains("path"))
  }

  test("fast minhash (xxhash64) is deterministic and seed-sensitive") {
    import graft.functions.TextFunctions
    val sh = TextFunctions.shingleSet(lit("a b c d e f"), 2)
    val row = Seq(1).toDF("x").select(
      TextFunctions.minhashFast(sh, 0).as("m0"),
      TextFunctions.minhashFast(sh, 0).as("m0b"),
      TextFunctions.minhashFast(sh, 1).as("m1")).head
    assert(row.getLong(0) == row.getLong(1))
    assert(row.getLong(0) != row.getLong(2))
  }

  test("zorderKey: hand-computed Morton interleave, locality ordering") {
    import graft.lake.Lake
    // a=3 (011), b=5 (101), 3 bits: even positions take a's bits, odd b's
    // → 1·1 + 1·2 + 1·4 + 0·8 + 0·16 + 1·32 = 39
    val k = Seq((3L, 5L)).toDF("a", "b")
      .select(Lake.zorderKey(col("a"), col("b"), 3)).head.getLong(0)
    assert(k == 39L)
    // interleave is a bijection on the 2-D grid (no key collisions)
    val grid = spark.range(0, 256).select(
      (col("id") % 16).as("a"), (col("id") / 16).cast("long").as("b"))
    assert(grid.select(Lake.zorderKey(col("a"), col("b"), 4)).distinct()
      .count() == 256)
    // locality: sorting by z-key keeps each quadrant contiguous — every
    // key of the low quadrant (a,b < 8) precedes every key of the high
    // quadrant (a,b >= 8), which is what makes per-file 2-D ranges tight
    val keys = grid.select(col("a"), col("b"),
        Lake.zorderKey(col("a"), col("b"), 4).as("z")).collect()
    val lowMax = keys.filter(r => r.getLong(0) < 8 && r.getLong(1) < 8)
      .map(_.getLong(2)).max
    val highMin = keys.filter(r => r.getLong(0) >= 8 && r.getLong(1) >= 8)
      .map(_.getLong(2)).min
    assert(lowMax < highMin)
  }
}
