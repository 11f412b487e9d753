package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.obs.JobStats
import org.apache.spark.sql.SparkSession

/** The one dev-tool entry point (plan review + steady-state timing):
  *
  * {{{
  *   runMain graft.tools.Dev bench q32_lsh_jaccard [q55_...] [--sf DIR] [--runs N]
  *   runMain graft.tools.Dev stages q07_topk[,q32_...] [DIR]  # per-stage task profile
  *   runMain graft.tools.Dev explain q05_snowflake_join,q28_token_explode [DIR]
  *   runMain graft.tools.Dev plan q58_decontaminate [DIR]     # exchanges/scans only
  * }}}
  *
  * `bench` times single queries warm (steady state, noop sink — full
  * column computation, no projection pruning) without paying the full
  * `graft.Bench` sweep; `stages` lists a steady pass's stages by summed
  * task time; `explain` prints formatted physical plans;
  * `plan` compresses a plan to its exchanges/scans/broadcasts — the lines
  * a scale review reads first. One shared session/config path
  * (GraftSession) so tool numbers match Bench/Verify behavior.
  */
object Dev {

  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // scale-probe dirs carry only documents/embeddings/events
    val probe = Seq("region", "documents").map(t => s"$sfDir/$t.parquet")
      .find(p => new java.io.File(p).exists())
    probe.foreach(p => spark.read.parquet(p).count())
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "bench" :: rest =>
      // flags accept both `--k=v` and `--k v`; anything else is a query name
      val flagMap = scala.collection.mutable.Map.empty[String, String]
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < rest.length) {
        val a = rest(i)
        if (a.startsWith("--") && a.contains('=')) {
          val Array(k, v) = a.stripPrefix("--").split("=", 2)
          flagMap(k) = v
        } else if (a.startsWith("--") && i + 1 < rest.length) {
          flagMap(a.stripPrefix("--")) = rest(i + 1); i += 1
        } else names += a
        i += 1
      }
      val sfDir = flagMap.get("sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
        .getOrElse("/root/testdata/sf0.1")
      val runs = flagMap.get("runs").map(_.toInt).getOrElse(3)
      val (known, unknown) = names.partition(SparkEntry.queries.contains)
      unknown.foreach(n => System.err.println(s"[bench] unknown query: $n (skipped)"))
      // --settle=false: SKIP the between-run block drain — the probe for
      // engine-side scoped checkpoint release (a long-lived session has
      // no harness settling for it; steady times must not inflate)
      val settle = flagMap.get("settle").forall(_.toBoolean)
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
      val spark = GraftSession.local(cpus)
      warmup(spark, sfDir)
      for (name <- known; i <- 1 to runs) {
        spark.catalog.clearCache()
        System.gc() // settled heap, as the Bench sweep measures
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val blocks = spark.sparkContext.getPersistentRDDs.size
        println(f"[bench] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s" +
          (if (settle) "" else s" (resident persistent RDDs: $blocks)"))
        if (settle) {
          spark.catalog.clearCache()
          // localCheckpoint blocks bypass catalog cache — free them too
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        }
      }
      spark.stop()

    case "stages" :: rest =>
      // per-stage task profile: where does the wall time (and the max
      // task) actually sit? The straggler-hunting view Scale's single
      // max-task number points at but can't localize. Accepts a
      // comma-separated query list (one session, profiled in turn).
      val stageNames = rest.head.split(',').toSeq
      val dir = rest.lift(1).getOrElse("/root/testdata/sf0.01")
      val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      warmup(spark, dir)
      stageNames.filterNot(SparkEntry.queries.contains)
        .foreach(n => System.err.println(s"[stages] unknown query: $n (skipped)"))
      for (name <- stageNames if SparkEntry.queries.contains(name)) {
        // one untimed cold pass first (JIT/codegen), then profile the
        // STEADY pass — cold-task JIT otherwise swamps the per-stage sums
        SparkEntry.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        val (secs, stats) = JobStats.during(spark) {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[stages] $name total $secs%.2f s")
        println(f"${"stage"}%6s ${"tasks"}%6s ${"sum_s"}%8s ${"max_s"}%8s  site")
        stats.stages.sortBy(-_.sumMs).take(12).foreach { st =>
          println(f"${st.id}%6d ${st.tasks}%6d ${st.sumMs / 1e3}%8.2f ${st.maxMs / 1e3}%8.2f  " +
            st.name.takeWhile(_ != '\n').take(90))
        }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      }
      spark.stop()

    case "explain" :: rest =>
      val spark = GraftSession.local(8)
      val dir = rest.lift(1).getOrElse("/root/testdata/sf0.01")
      for (n <- rest.headOption.toSeq.flatMap(_.split(',').toSeq)) {
        println(s"===== $n =====")
        SparkEntry.queries(n)(spark, dir).explain("formatted")
      }
      spark.stop()

    case "plan" :: rest =>
      val spark = GraftSession.local(4)
      val dir = rest.lift(1).getOrElse("/root/testdata/sf0.001")
      for (n <- rest.headOption.toSeq.flatMap(_.split(',').toSeq)) {
        println(s"##### $n")
        val plan = SparkEntry.queries(n)(spark, dir)
          .queryExecution.executedPlan.toString
        println(plan.linesIterator
          .filter(l => l.contains("Exchange") || l.contains("Scan ") ||
            l.contains("Broadcast"))
          .map(_.trim.take(120)).mkString("\n"))
      }
      spark.stop()

    case other =>
      System.err.println(
        s"usage: Dev bench|stages|explain|plan ... (got: $other)")
      sys.exit(2)
  }
}
