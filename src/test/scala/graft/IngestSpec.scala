package graft

import java.nio.file.Files

import graft.sources.{Compression, Framing}
import graft.streaming.Ingest
import graft.transform.managed.CloudTrail
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end ingest: raw line → transform → resolve → hour-partitioned
  * lake, plus compression inference and the CloudTrail managed mapping
  * (FIXTURES.md F1).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val ctLine =
    """{"eventVersion":"1.08","eventTime":"2023-01-10T21:31:12Z","eventSource":"iam.amazonaws.com","eventName":"AddUserToGroup","awsRegion":"us-east-1","sourceIPAddress":"1.2.3.4","userAgent":"aws-cli/2.9","userIdentity":{"type":"Root","principalId":"AIDA1","arn":"arn:aws:iam::123456789012:root","accountId":"123456789012","accessKeyId":"AKIA1","userName":"root"},"requestParameters":{"userName":"bob"},"responseElements":null,"requestID":"r-1","eventID":"e-1","eventType":"AwsApiCall","managementEvent":true,"readOnly":false,"recipientAccountId":"123456789012"}"""

  test("cloudtrail managed transform maps the F1 fixture to ECS") {
    val framed = Framing.preTransformJsonParse(
      Seq(ctLine, "not json at all").toDF("message"))
    val out = CloudTrail(framed)
    val rows = out.collect()
    assert(rows.length == 1) // non-JSON line has no ts → aborted
    val r = rows.head
    assert(out.select("event.action").head.getString(0) == "AddUserToGroup")
    assert(out.select("cloud.account.id").head.getString(0) == "123456789012")
    assert(out.select("related.ip").head.getSeq[String](0) == Seq("1.2.3.4"))
    assert(out.select("related.user").head.getSeq[String](0) == Seq("root"))
    assert(out.select("aws.cloudtrail.request_parameters").head.getString(0)
      == """{"userName":"bob"}""")
    assert(out.select("ecs.version").head.getString(0) == "8.5.0")
    assert(out.select("ts").head.getTimestamp(0).toInstant.toString
      == "2023-01-10T21:31:12Z")
  }

  test("cloudtrail request_parameters and response_elements equal get_json_object of the subtree") {
    // (eventID, requestParameters, responseElements); None leaves the key out
    val cases = Seq(
      ("obj", Some("""{"userName":"bob","tags":[1,2.5,{"k":null}],"ok":true}"""), Some("null")),
      ("spaced", Some("""{ "userName" : "bob", "n": [1, 2.50, 1e3] }"""), Some("""{"a": {}}""")),
      ("array", Some("""["a", 1, null]"""), None),
      ("string", Some("\"x\\\"y\\u00e9\""), Some("\"\"")),
      ("number", Some("42"), Some("-3.25")),
      ("bool", Some("false"), Some("true")),
      ("null", Some("null"), Some("null")),
      ("absent", None, None))
    val lines = cases.map { case (id, req, resp) =>
      val fields = Seq(""""eventTime":"2023-01-10T21:31:12Z"""", s""""eventID":"$id"""") ++
        req.map(v => s""""requestParameters":$v""") ++ resp.map(v => s""""responseElements":$v""")
      fields.mkString("{", ",", "}")
    }
    val framed = Framing.preTransformJsonParse(lines.toDF("message"))
    val expected = framed.select(
      get_json_object(col("json"), "$.eventID").as("id"),
      get_json_object(col("json"), "$.requestParameters").as("req"),
      get_json_object(col("json"), "$.responseElements").as("resp"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    val got = CloudTrail(framed).select(col("event.id"),
      col("aws.cloudtrail.request_parameters"), col("aws.cloudtrail.response_elements"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got.keySet == cases.map(_._1).toSet)
    assert(got == expected)
    assert(got("obj")._1 == """{"userName":"bob","tags":[1,2.5,{"k":null}],"ok":true}""")
    assert(got("null") == ((null, null)) && got("absent") == ((null, null)))
  }

  test("streaming ingest: landing json → transform → lake with sidelining") {
    val tmp = tempDir("graft_ingest")
    val landing = tmp.resolve("landing").toString
    val lake = tmp.resolve("lake").toString
    val side = tmp.resolve("side").toString
    val ckpt = tmp.resolve("ckpt").toString
    Seq(
      """{"ts":"2024-01-01T05:30:00Z","event_type":"click","user_id":"7"}""",
      """{"ts":"2024-01-01T06:10:00Z","event_type":"error","user_id":"8"}""",
      """{"ts":"2024-01-01T06:20:00Z","event_type":"error","user_id":"not-a-number"}"""
    ).toDF("value").coalesce(1).write.text(landing)

    val landingSchema = StructType(Seq(
      StructField("ts", StringType), StructField("event_type", StringType),
      StructField("user_id", StringType)))
    val target = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("user_id", LongType)))
    val p = Ingest.Pipeline(
      transform = df => df.withColumn("ts", to_timestamp(col("ts"))),
      target = target, lakePath = lake, sidelinePath = side)
    Ingest.runOnce(spark, landing, landingSchema, p, ckpt)

    val lakeDf = graft.lake.Lake.read(spark, lake)
    assert(lakeDf.count() == 2)
    assert(lakeDf.select("ts_hour").as[String].collect().toSet
      == Set("2024-01-01-05", "2024-01-01-06"))
    val sidelined = spark.read.option("recursiveFileLookup", "true").json(side)
    assert(sidelined.count() == 1)
    // exactly-once: re-running with the same checkpoint ingests nothing new
    Ingest.runOnce(spark, landing, landingSchema, p, ckpt)
    assert(graft.lake.Lake.read(spark, lake).count() == 2)
  }

  test("batch backfill ledger: re-runs are no-ops, new files process incrementally") {
    val tmp = tempDir("graft_backfill")
    val landing = tmp.resolve("landing")
    Files.createDirectories(landing)
    val lake = tmp.resolve("lake").toString
    val side = tmp.resolve("side").toString
    val ledger = tmp.resolve("ledger").toString
    def drop(name: String, lines: String*): Unit =
      Files.write(landing.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    drop("a.json", """{"ts":"2024-01-01T05:30:00Z","event_type":"click","user_id":"7"}""")
    drop("b.json", """{"ts":"2024-01-01T06:10:00Z","event_type":"error","user_id":"8"}""")
    val landingSchema = StructType(Seq(
      StructField("ts", StringType), StructField("event_type", StringType),
      StructField("user_id", StringType)))
    val target = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("user_id", LongType)))
    val p = Ingest.Pipeline(
      transform = df => df.withColumn("ts", to_timestamp(col("ts"))),
      target = target, lakePath = lake, sidelinePath = side)
    assert(Ingest.backfillOnce(spark, landing.toString, landingSchema, p, ledger) == 2)
    assert(graft.lake.Lake.read(spark, lake).count() == 2)
    // idempotent: the ledger makes a re-run a no-op
    assert(Ingest.backfillOnce(spark, landing.toString, landingSchema, p, ledger) == 0)
    assert(graft.lake.Lake.read(spark, lake).count() == 2)
    // incremental: only the NEW file processes on the next run
    drop("c.json", """{"ts":"2024-01-01T07:00:00Z","event_type":"view","user_id":"9"}""")
    assert(Ingest.backfillOnce(spark, landing.toString, landingSchema, p, ledger) == 1)
    val lakeDf = graft.lake.Lake.read(spark, lake)
    assert(lakeDf.count() == 3)
    assert(lakeDf.select("ts_hour").as[String].collect().toSet
      == Set("2024-01-01-05", "2024-01-01-06", "2024-01-01-07"))
    assert(spark.read.parquet(ledger).count() == 3)
  }

  test("queue-source ingest: identical pipeline from a non-file stream (S9 parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val tmp = tempDir("graft_qingest")
    val lake = tmp.resolve("lake").toString
    val side = tmp.resolve("side").toString
    val ckpt = tmp.resolve("ckpt").toString
    val landingSchema = StructType(Seq(
      StructField("ts", StringType), StructField("event_type", StringType),
      StructField("user_id", StringType)))
    val target = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("user_id", LongType)))
    // same Pipeline contract as the file test; only the framing differs
    // (queue messages arrive as a `value` payload, Kafka-style)
    val p = Ingest.Pipeline(
      transform = df => df
        .select(from_json(col("value"), landingSchema).as("j")).select("j.*")
        .withColumn("ts", to_timestamp(col("ts"))),
      target = target, lakePath = lake, sidelinePath = side)

    val input = MemoryStream[String](spark)
    input.addData(
      """{"ts":"2024-01-01T05:30:00Z","event_type":"click","user_id":"7"}""",
      """{"ts":"2024-01-01T06:20:00Z","event_type":"error","user_id":"not-a-number"}""")
    Ingest.startFromStream(input.toDF(), p, ckpt, Trigger.AvailableNow())
      .awaitTermination()
    assert(graft.lake.Lake.read(spark, lake).count() == 1)
    assert(spark.read.option("recursiveFileLookup", "true").json(side).count() == 1)

    // restart from the same checkpoint: old messages are not reprocessed,
    // new ones are — queue offsets live in the checkpoint (exactly-once)
    input.addData(
      """{"ts":"2024-01-01T07:00:00Z","event_type":"click","user_id":"9"}""")
    Ingest.startFromStream(input.toDF(), p, ckpt, Trigger.AvailableNow())
      .awaitTermination()
    val lakeDf = graft.lake.Lake.read(spark, lake)
    assert(lakeDf.count() == 2)
    import spark.implicits._
    assert(lakeDf.select("ts_hour").as[String].collect().toSet
      == Set("2024-01-01-05", "2024-01-01-07"))
  }

  test("magic-byte inference decodes misnamed gzip next to plain text") {
    val tmp = tempDir("graft_gz")
    val gzPath = tmp.resolve("mislabeled.log") // gzip content, no .gz ext
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write("line-a\nline-b\n".getBytes("UTF-8")); gz.close()
    Files.write(gzPath, bos.toByteArray)
    Files.write(tmp.resolve("plain.log"), "line-c\n".getBytes("UTF-8"))
    val out = Compression.readLinesInferred(spark, tmp.toString)
    assert(out.select("line").as[String].collect().sorted.toSeq
      == Seq("line-a", "line-b", "line-c"))
  }

  test("magic-byte inference decodes misnamed zstd via zstd-jni") {
    val tmp = tempDir("graft_zst")
    val bos = new java.io.ByteArrayOutputStream()
    val zs = new com.github.luben.zstd.ZstdOutputStream(bos)
    zs.write("zline-1\nzline-2\n".getBytes("UTF-8")); zs.close()
    Files.write(tmp.resolve("mislabeled.json"), bos.toByteArray)
    val out = Compression.readLinesInferred(spark, tmp.toString)
    assert(out.select("line").as[String].collect().sorted.toSeq
      == Seq("zline-1", "zline-2"))
  }

  test("openLines is lazy: first lines of a large gzip stream come without full decode") {
    val tmp = tempDir("graft_lazy")
    val f = tmp.resolve("big.log")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(f))
    val w = new java.io.PrintWriter(gz)
    (1 to 200000).foreach(i => w.println(s"line-$i"))
    w.close()
    val hp = new org.apache.hadoop.fs.Path(f.toString)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = Compression.openLines(fs, hp)
    // pull only the head of the iterator — a buffering implementation would
    // have to decode all 200k lines before yielding the first
    assert(it.take(3).map(_._2).toList == List("line-1", "line-2", "line-3"))
    assert(it.hasNext) // stream still open, rest not materialized
  }

  test("metadata routing: key patterns route, skip, and default per object") {
    val tmp = tempDir("graft_route")
    Files.write(tmp.resolve("acct_CloudTrail-Digest_x.json"), "d1\nd2\n".getBytes("UTF-8"))
    Files.write(tmp.resolve("acct_CloudTrail-Insights_y.json"), "i1\n".getBytes("UTF-8"))
    Files.write(tmp.resolve("acct_CloudTrail_z.json"), "r1\nr2\nr3\n".getBytes("UTF-8"))
    Files.write(tmp.resolve("junk_manifest.checksum"), "x\n".getBytes("UTF-8"))
    val routed = Framing.routeByFileMetadata(
      spark.read.text(tmp.toString),
      Seq(
        Framing.MetadataRoute("checksum", None), // skip
        Framing.MetadataRoute("Digest", Some("digest")),
        Framing.MetadataRoute("Insights", Some("insights"))))
    val counts = routed.groupBy("__table").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("digest" -> 2L, "insights" -> 1L, "default" -> 3L))
    val tables = Framing.routedTables(routed, Seq("digest", "insights", "default"))
    assert(tables("digest").count() == 2)
    assert(tables("default").columns.toSeq == Seq("value"))
  }

  test("streaming dedup within watermark drops re-delivered file ids") {
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, java.sql.Timestamp)](spark)
    val deduped = input.toDF().toDF("file_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("file_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    input.addData(("f1", t), ("f1", t), ("f2", t))
    q.processAllAvailable()
    input.addData(("f1", t)) // re-delivery in a later batch
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_sink").count() == 2)
  }

  /** Counts the stages that run a file scan whose location contains
    * `pathPart`. A scan node's task metrics ("number of output rows", …)
    * are updated only by the tasks that execute it, so a read served from a
    * cached copy of the scan's output does not count.
    */
  private final class ScanStages(pathPart: String) extends SparkListener {
    private val scanMetrics = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val stages = new java.util.concurrent.atomic.AtomicInteger
    private def collect(p: SparkPlanInfo): Unit = {
      if (p.nodeName.startsWith("Scan") &&
          p.metadata.get("Location").exists(_.contains(pathPart)))
        p.metrics.foreach(m => scanMetrics.add(m.accumulatorId))
      p.children.foreach(collect)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => collect(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => collect(u.sparkPlanInfo)
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.accumulables.keys.exists(id => scanMetrics.contains(id)))
        stages.incrementAndGet()
  }

  /** A landing file of 60 JSON lines; every 7th carries a `user_id` that is
    * not a number, so the batch sidelines rows.
    */
  private def singlePassFixture(name: String) = {
    val tmp = tempDir(name)
    val landing = tmp.resolve("landing_batch")
    Files.createDirectories(landing)
    Files.write(landing.resolve("part.json"), (0 until 60).map { i =>
      val user = if (i % 7 == 3) "\"u-" + i + "\"" else "\"" + i + "\""
      f"""{"ts":"2024-01-01T${i % 3 + 5}%02d:${i}%02d:00Z","event_type":"e${i % 4}","user_id":$user}"""
    }.mkString("\n").getBytes("UTF-8"))
    val landingSchema = StructType(Seq(
      StructField("ts", StringType), StructField("event_type", StringType),
      StructField("user_id", StringType)))
    val target = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("user_id", LongType)))
    def pipeline(dir: String) = Ingest.Pipeline(
      transform = df => df.withColumn("ts", to_timestamp(col("ts"))),
      target = target, lakePath = tmp.resolve(dir).resolve("lake").toString,
      sidelinePath = tmp.resolve(dir).resolve("side").toString)
    (tmp, spark.read.schema(landingSchema).json(landing.toString), pipeline _)
  }

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("processBatch scans the landing file once, cache released after the batch") {
    val (_, batch, pipeline) = singlePassFixture("graft_single_pass")
    val p = pipeline("out")
    val scans = new ScanStages("landing_batch")
    val before = persistentRdds
    spark.sparkContext.addSparkListener(scans)
    try {
      Ingest.processBatch(p)(batch, 0L)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      assert(scans.stages.get == 1,
        "the lake append, the mismatch check and the sideline write must share one scan")
    } finally spark.sparkContext.removeSparkListener(scans)
    assert(persistentRdds == before, "the batch's cache must not outlive the batch")
    assert(graft.lake.Lake.read(spark, p.lakePath).count() == 51)
    assert(spark.read.json(p.sidelinePath).count() == 9)
  }

  test("processBatch writes the same lake and sideline rows as the two-read form") {
    import graft.lake.Lake
    import graft.schema.SchemaResolver
    val (_, batch, pipeline) = singlePassFixture("graft_single_pass_eq")
    val p = pipeline("out")
    Ingest.processBatch(p)(batch, 0L)
    // reference: the per-output form, each write re-reading the batch
    val ref = pipeline("ref")
    val r = SchemaResolver.resolve(ref.transform(batch), ref.target)
    Lake.append(r.resolved, ref.lakePath)
    if (!r.sidelined.isEmpty)
      r.sidelined.withColumn("ts", coalesce(col("ts").cast("timestamp"), current_timestamp()))
        .write.mode("append").partitionBy("error_kind").json(ref.sidelinePath)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(rows(Lake.read(spark, p.lakePath)) == rows(Lake.read(spark, ref.lakePath)))
    val side = spark.read.json(p.sidelinePath)
    assert(side.columns.toSet == spark.read.json(ref.sidelinePath).columns.toSet)
    assert(rows(side) == rows(spark.read.json(ref.sidelinePath)))
    assert(rows(side).nonEmpty)
  }

  test("processBatch releases its cache when the sideline write fails") {
    val (tmp, batch, pipeline) = singlePassFixture("graft_single_pass_fail")
    val blocker = tmp.resolve("not_a_dir")
    Files.write(blocker, "x".getBytes("UTF-8"))
    val p = pipeline("out").copy(sidelinePath = blocker.toString)
    val before = persistentRdds
    intercept[Exception](Ingest.processBatch(p)(batch, 0L))
    assert(persistentRdds == before, "a failed batch must not leave its cache behind")
    assert(graft.lake.Lake.read(spark, p.lakePath).count() == 51)
  }

  test("processBatch on an empty batch returns and sidelines nothing") {
    val (_, batch, pipeline) = singlePassFixture("graft_single_pass_empty")
    val p = pipeline("out")
    Ingest.processBatch(p)(batch.limit(0), 0L)
    assert(!Files.exists(java.nio.file.Paths.get(p.sidelinePath)))
  }

  test("a third sideline batch of the same shape compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (_, batch, pipeline) = singlePassFixture("graft_sideline_codegen")
    val p = pipeline("out")
    Ingest.processBatch(p)(batch, 0L)
    Ingest.processBatch(p)(batch, 1L)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Ingest.processBatch(p)(batch, 2L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0,
      "the batch time must not be inlined into the sideline write's generated code")
    val side = spark.read.json(p.sidelinePath)
    assert(side.count() == 27 && side.filter(col("ts").isNull).isEmpty)
  }

  test("dispatch floor: every job of an ingest round belongs to one of its three writes") {
    import graft.lake.Lake
    import graft.operators.{Alerts, Detection}
    import graft.operators.Detection.SimpleRule
    val (tmp, batch, pipeline) = singlePassFixture("graft_dispatch_floor")
    val p = pipeline("out")
    val rules = Seq(
      SimpleRule("e1", col("event_type") === "e1", dedupe = col("user_id").cast("string")),
      SimpleRule("e2", col("event_type") === "e2", severity = "high", threshold = 2,
        windowSeconds = 1800))
    val alertsLake = tmp.resolve("alerts").toString
    val (_, stats) = graft.obs.JobStats.during(spark) {
      Ingest.processBatch(p)(batch, 0L)
      val hour = Lake.read(spark, p.lakePath).filter(col(Lake.PartitionCol) === "2024-01-01-05")
      val matches = Detection.ruleMatches(hour, rules, xxhash64(col("user_id")))
      val alerts = Alerts.aggregate(spark, matches, Alerts.AlertConfig(1, 3600)).toDF
      Lake.append(Detection.matanoAlertRows(alerts, rules, "events"), alertsLake)
    }
    val jobs = stats.jobs
    assert(jobs.nonEmpty)
    val outside = jobs.filterNot(
      _.execution.exists(e => stats.plan(e).contains("InsertIntoHadoopFsRelationCommand")))
    assert(outside.isEmpty, s"jobs outside a write: $outside")
    assert(jobs.flatMap(_.execution).distinct.size == 3, "the lake, sideline and alerts writes")
    val broadcasts = jobs.filter(_.tags.contains("broadcast exchange"))
    assert(broadcasts.isEmpty, s"broadcast jobs: $broadcasts")
    assert(Lake.read(spark, alertsLake).count() > 0)
  }
}
