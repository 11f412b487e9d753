package lakebench

import scala.collection.mutable

import graft.queries._

/** `registry`: each op is one query of a fixed subset of the engine's query
  * registry, run to the `noop` sink over the generated sf0.1 tables. The
  * first warm-up round writes each query's result as parquet for the
  * DuckDB oracle check; the timed rounds run warm, as `graft.Bench`'s
  * steady column does.
  */
final class RegistryWorkload(ctx: Ctx) extends Workload {
  import ctx._

  /** One query per module; README.md gives the rule that picked them. */
  val round: Seq[String] = Seq("q07_topk", "q27_grok_parse", "q158_sigma_near_proximity",
    "q112_content_gates", "q50_embedding_neardup", "q179_dictionary_tags")
  val warmupRounds = 2

  private val defs = RegistryWorkload.modules.flatMap { case (m, ds) =>
    ds.map(d => d.name -> (m, d)) }.toMap
  private val results = work.resolve("results")
  private val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def setup(): Unit =
    round.foreach(q => require(defs.get(q).exists(_._2.oracle.nonEmpty), s"$q has no oracle"))

  def op(kind: String, i: Int): Unit = {
    val (module, d) = defs(kind)
    val df = tracer.span(s"queries.$module")(d.fn(spark, tablesDir))
    if (i < round.size) df.write.mode("overwrite").parquet(results.resolve(kind).toString)
    else df.write.mode("overwrite").format("noop").save()
  }

  /** Between queries, drop cached and checkpointed blocks, as `graft.Bench`
    * does, so one query's blocks do not squeeze the next one's memory.
    */
  override def settle(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  override def traceOp(kind: String, i: Int, seconds: Double, c: Counters): Unit =
    layers(s"queries.${defs(kind)._1}_s") += seconds

  /** Warm seconds per module per pass over the subset. */
  override def layerMetrics(timedOps: Int): Map[String, Double] = {
    val passes = timedOps.toDouble / round.size
    layers.toMap.map { case (k, v) => k -> v / passes }
  }

  def checkPayload(): Map[String, Any] = Map(
    "results" -> results.toString,
    "queries" -> round.map(q => Map("name" -> q, "module" -> defs(q)._1,
      "oracle" -> defs(q)._2.oracle.get.trim)))
}

object RegistryWorkload {
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> Relational.defs, "log_analytics" -> LogAnalytics.defs,
    "alerting" -> Alerting.defs, "search" -> Search.defs,
    "vectors" -> Vectors.defs, "text_pipeline" -> TextPipeline.defs)
}
