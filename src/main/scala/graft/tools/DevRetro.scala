package graft.tools

import graft.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase profiler for the q81 retro pipeline (the SCALING.md merge
  * investigation): times fold / append / re-fold / merge / read
  * separately with per-phase max-task tracking. The merge is one phase;
  * its internal actions show as separate jobs in the Spark UI.
  *
  * {{{ runMain graft.tools.DevRetro [sfDir] }}}
  */
object DevRetro {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val maxTask = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null)
          maxTask.getAndUpdate(m => math.max(m, e.taskInfo.duration))
    })
    def phase[A](name: String)(f: => A): A = {
      maxTask.set(0)
      val t0 = System.nanoTime()
      val r = f
      var last = -1L; var tries = 0
      while (maxTask.get != last && tries < 25) {
        last = maxTask.get; Thread.sleep(200); tries += 1
      }
      println(f"[retro-phase] $name%-18s ${(System.nanoTime() - t0) / 1e9}%7.2f s  maxTask ${maxTask.get}%6d ms")
      r
    }
    import graft.lake.Snapshots
    import graft.operators.{Alerts, Detection}
    val ev = graft.Tables.load(spark, dir, "events")
    val cfg = Alerts.AlertConfig(threshold = 2, windowSeconds = 1800)
    val cut = lit("2024-01-06 14:10:00").cast("timestamp")
    val t = java.nio.file.Files.createTempDirectory("graft_dev_retro").toString
    val m = Detection.ruleMatches(ev,
      graft.queries.Alerting.rules.filter(_.name == "error_burst"),
      matchId = col("event_id"))
    val phase1 = graft.plans.AnchoredSession.aggregate(spark,
      m.filter(col("ts") < cut), cfg)
    phase("fold_phase1")(phase1.write.mode("overwrite").format("noop").save())
    phase("append")(Snapshots.append(
      phase1.withColumn("ts", col("first_matched_at")), t))
    val lateKeys = m.filter(col("ts") >= cut)
      .select("rule_name", "dedupe").distinct()
    val retro = graft.plans.AnchoredSession.aggregate(spark, m, cfg)
      .join(lateKeys, Seq("rule_name", "dedupe"), "left_semi")
    phase("fold_retro")(retro.write.mode("overwrite").format("noop").save())
    phase("merge")(Snapshots.mergeUpsert(spark, t,
      retro.withColumn("ts", col("first_matched_at")), "alert_id"))
    phase("read_back")(Snapshots.read(spark, t).select(col("alert_id"))
      .write.mode("overwrite").format("noop").save())
    spark.stop()
  }
}
