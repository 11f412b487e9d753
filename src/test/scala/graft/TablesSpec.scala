package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regression guard for the round-10 breakage: the driver's testdata has
  * shipped `events.ts` as parquet TIMESTAMP(NANOS) (read as LongType
  * under nanosAsLong) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * (read as TIMESTAMP_NTZ). Tables.normalizeTs must map BOTH generations
  * — and an already-normalized TimestampType — to the same session-TZ
  * TimestampType values.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val instants = Seq(
    "2024-01-01T05:30:00.123456Z", "2024-02-29T23:59:59.999999Z")

  test("normalizeTs: NTZ, legacy nanos-long, and TimestampType all land on the same values") {
    val micros = instants.map(i =>
      java.time.Instant.parse(i).toEpochMilli * 1000 +
        java.time.Instant.parse(i).getNano / 1000 % 1000)

    // generation A: legacy long nanos (nanosAsLong read path)
    val asLong = micros.map(_ * 1000L).toDF("ts")
    val a = Tables.normalizeTs(asLong)
    assert(a.schema("ts").dataType == TimestampType)

    // generation B: TIMESTAMP_NTZ (the regenerated testdata shape) — write
    // and read through parquet to exercise the real scan type
    val tmp = tempDir("graft_tables").resolve("ntz.parquet")
    micros.map(m => java.time.LocalDateTime.ofEpochSecond(
        m / 1000000, (m % 1000000).toInt * 1000, java.time.ZoneOffset.UTC))
      .toDF("ts").write.parquet(tmp.toString)
    val ntzRead = spark.read.parquet(tmp.toString)
    assert(ntzRead.schema("ts").dataType == TimestampNTZType)
    val b = Tables.normalizeTs(ntzRead)
    assert(b.schema("ts").dataType == TimestampType)

    // generation C: already TimestampType — untouched
    val c = Tables.normalizeTs(a)
    assert(c.schema("ts").dataType == TimestampType)

    def micro(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq
    assert(micro(a) == micros.sorted)
    assert(micro(b) == micros.sorted)
    assert(micro(c) == micros.sorted)
  }

  test("normalizeTs leaves frames without ts alone") {
    val df = Seq((1, "x")).toDF("id", "v")
    assert(Tables.normalizeTs(df) eq df)
  }
}
