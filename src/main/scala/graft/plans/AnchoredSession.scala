package graft.plans

import graft.operators.Alerts.AlertConfig
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The anchored-session alert aggregation as a first-class operator:
  * custom LogicalPlan + Strategy + SparkPlan (tier (c) of the build
  * rules), replacing the `Dataset.groupByKey.flatMapGroups` form:
  * `operators.Alerts.aggregate` and the queries that fold alerts all plan
  * this exec.
  *
  * Why a physical operator: the typed-API form round-trips every row
  * through encoders (InternalRow → case class → InternalRow) and buffers
  * each key group to sort it. This operator declares
  * requiredChildDistribution = cluster by (rule, dedupe) and
  * requiredChildOrdering = (rule, dedupe, ts), so Spark plans exactly one
  * hash shuffle + one sort, and the fold itself is a single streaming
  * pass over InternalRows — no per-row object materialization, no
  * per-group buffering, constant memory per partition. Keys compare
  * null-safely: a null rule or dedupe is a key of its own.
  *
  * Semantics are identical to operators.Alerts.foldKey (asserted in
  * AnchoredSessionSpec against the typed fold kept as the specs'
  * reference, and against the property fold).
  */
object AnchoredSession {

  private def outputAttrs(): Seq[AttributeReference] = Seq(
    AttributeReference("rule_name", StringType)(),
    AttributeReference("dedupe", StringType)(),
    AttributeReference("alert_id", StringType)(),
    AttributeReference("first_matched_at", TimestampType)(),
    AttributeReference("last_matched_at", TimestampType)(),
    AttributeReference("match_count", LongType, nullable = false)(),
    AttributeReference("activated", BooleanType, nullable = false)(),
    AttributeReference("created_at", TimestampType)())

  final case class AnchoredSessionAgg(
      child: LogicalPlan,
      rule: Expression, dedupe: Expression, ts: Expression,
      threshold: Int, windowSeconds: Long,
      output: Seq[Attribute] = outputAttrs()) extends UnaryNode {
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
    override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
      copy(child = newChild)
  }

  object AnchoredStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AnchoredSessionAgg(child, rule, dedupe, ts, th, w, out) =>
        AnchoredSessionExec(rule, dedupe, ts, th, w, out, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  final case class AnchoredSessionExec(
      rule: Expression, dedupe: Expression, ts: Expression,
      threshold: Int, windowSeconds: Long,
      output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(Seq(rule, dedupe)) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(Seq(SortOrder(rule, Ascending), SortOrder(dedupe, Ascending),
        SortOrder(ts, Ascending)))

    override protected def doExecute(): RDD[InternalRow] = {
      val ruleBound = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(rule, child.output)
      val dedupeBound = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(dedupe, child.output)
      val tsBound = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(ts, child.output)
      val th = threshold
      val windowUs = windowSeconds * 1000000L
      val schema = output.map(_.dataType)
      child.execute().mapPartitions({ iter =>
        new Iterator[InternalRow] {
          private val proj = UnsafeProjection.create(schema.toArray)
          private val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(8)
          private var open = false
          private var curRule: UTF8String = _
          private var curDedupe: UTF8String = _
          private var firstUs = Long.MinValue
          private var lastUs = 0L
          private var n = 0L
          private var createdUs = Long.MinValue
          private var pending: InternalRow = _

          private def md5Hex(s: String): UTF8String = {
            val d = java.security.MessageDigest.getInstance("MD5")
              .digest(s.getBytes("UTF-8"))
            UTF8String.fromString(d.map("%02x".format(_)).mkString)
          }

          private def same(a: UTF8String, b: UTF8String): Boolean =
            if (a == null) b == null else a.equals(b)

          private def copyOf(s: UTF8String): UTF8String = if (s == null) null else s.clone()

          // a null key renders as "null" in the id, as in Alerts.alertId
          private def closeAlert(): InternalRow = {
            out.update(0, curRule)
            out.update(1, curDedupe)
            out.update(2, md5Hex(s"$curRule|$curDedupe|${firstUs / 1000L}"))
            out.update(3, firstUs)
            out.update(4, lastUs)
            out.update(5, n)
            out.update(6, n >= th)
            if (createdUs == Long.MinValue) out.setNullAt(7) else out.update(7, createdUs)
            proj(out).copy()
          }

          private def advance(): Unit = {
            while (pending == null && iter.hasNext) {
              val row = iter.next()
              val r = ruleBound.eval(row).asInstanceOf[UTF8String]
              val d = dedupeBound.eval(row).asInstanceOf[UTF8String]
              val us = tsBound.eval(row).asInstanceOf[Long]
              if (!open || !same(r, curRule) || !same(d, curDedupe) || us >= firstUs + windowUs) {
                if (open) pending = closeAlert()
                open = true
                curRule = copyOf(r); curDedupe = copyOf(d)
                firstUs = us; lastUs = us; n = 1
                createdUs = if (th <= 1) us else Long.MinValue
              } else {
                n += 1
                if (us > lastUs) lastUs = us
                if (createdUs == Long.MinValue && n >= th) createdUs = us
              }
            }
            if (pending == null && open) {
              pending = closeAlert()
              open = false
            }
          }

          override def hasNext: Boolean = { if (pending == null) advance(); pending != null }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            val r = pending; pending = null; r
          }
        }
      }, preservesPartitioning = true)
    }

    override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
      copy(child = newChild)
  }

  @volatile private var registered = Set.empty[SparkSession]

  /** Aggregate matches (rule_name, dedupe, ts columns) into alert rows via
    * the native operator. Null keys normalize to "" and null event times
    * are dropped (the reference sidelines records without a parseable ts,
    * P8), the contract of the queries that fold alerts.
    */
  def aggregate(spark: SparkSession, matches: DataFrame, cfg: AlertConfig): DataFrame =
    fold(spark, matches,
      coalesce(col("rule_name").cast(StringType), lit("")),
      coalesce(col("dedupe").cast(StringType), lit("")), cfg)

  /** The native fold over `matches` keyed by `rule` and `dedupe` (string
    * columns, compared null-safely) in `ts` order; rows with a null `ts`
    * are dropped. Registers the planner strategy on first use (public
    * `spark.experimental.extraStrategies` hook).
    */
  def fold(spark: SparkSession, matches: DataFrame, rule: Column, dedupe: Column,
      cfg: AlertConfig): DataFrame = {
    if (!registered.contains(spark)) synchronized {
      if (!registered.contains(spark)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ AnchoredStrategy
        registered += spark
      }
    }
    val child = matches
      .filter(col("ts").isNotNull)
      .select(rule.as("rule_name"), dedupe.as("dedupe"), col("ts"))
    val plan = GraftBridge.logicalPlan(child)
    val Seq(r, d, t) = plan.output.toSeq
    GraftBridge.ofRows(spark, AnchoredSessionAgg(plan, r, d, t,
      cfg.threshold, cfg.windowSeconds))
  }
}
