package graft.plans

import graft.operators.Alerts.AlertConfig
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, AttributeMap, AttributeReference, EqualTo, Expression, In, InSet, Literal, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Union}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UNION
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
  * Per-rule settings. A fold carries a default [[AlertConfig]] and a map
  * from rule value to that rule's config, read when a new (rule, dedupe)
  * key starts; a rule the map does not name (a null rule included) folds
  * under the default. So one fold serves a whole rule pack whose rules
  * differ in threshold and window, as the reference folds all of a
  * batch's matches in one aggregation, each match under its own rule's
  * `threshold` and `deduplication_window` (A1).
  *
  * Merging. [[MergeAnchoredFolds]] rewrites a union of per-setting folds
  * over one match frame — each over that frame filtered to its own rules —
  * into one fold with per-rule settings, so Catalyst, not the caller,
  * picks the plan with one scan, one shuffle and one fold.
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
      cfg: AlertConfig, perRule: Map[String, AlertConfig],
      output: Seq[Attribute] = outputAttrs()) extends UnaryNode {
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
    override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
      copy(child = newChild)
  }

  object AnchoredStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AnchoredSessionAgg(child, rule, dedupe, ts, cfg, perRule, out) =>
        AnchoredSessionExec(rule, dedupe, ts, cfg, perRule, out, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  final case class AnchoredSessionExec(
      rule: Expression, dedupe: Expression, ts: Expression,
      cfg: AlertConfig, perRule: Map[String, AlertConfig],
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
      val default = cfg
      val settings = perRule
      val schema = output.map(_.dataType)
      child.execute().mapPartitions({ iter =>
        new Iterator[InternalRow] {
          private val proj = UnsafeProjection.create(schema.toArray)
          private val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(8)
          private var open = false
          private var curRule: UTF8String = _
          private var curDedupe: UTF8String = _
          // the settings of curRule's keys, looked up when the rule changes
          private var th = default.threshold
          private var windowUs = default.windowSeconds * 1000000L
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

          private def settle(r: UTF8String): Unit = {
            val c = if (r == null) default else settings.getOrElse(r.toString, default)
            th = c.threshold
            windowUs = c.windowSeconds * 1000000L
          }

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
              val sameRule = open && same(r, curRule)
              if (!sameRule || !same(d, curDedupe) || us >= firstUs + windowUs) {
                // the closing alert keeps its own rule's threshold
                if (open) pending = closeAlert()
                if (!sameRule) settle(r)
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

  /** Merges the per-setting folds of one match frame into one fold.
    *
    * It rewrites the children of a `Union` that have the shape
    * `[Project] → AnchoredSessionAgg → [Project] → Filter → P`, all
    * deterministic, where exactly one conjunct of the filter keeps the
    * fold's rule to a set of string literals (`rule IN (…)`, its `InSet`
    * form, or `rule = lit`), into one fold over P filtered by the union
    * of the sets, each rule value folding under the settings its own
    * branch gave it. Children merge only when:
    *   - they are equal but for that conjunct's literals and the fold's
    *     settings, compared under `canonicalized` (the analyzer gives each
    *     branch fresh expression ids), so P, the other conjuncts, the
    *     projections and the dedupe and ts expressions all match;
    *   - the rule is a plain-collation string and every literal is a
    *     non-null string;
    *   - the literal sets are pairwise disjoint.
    * The merged fold keeps the first merged child's output attributes and
    * takes its place in the union; any other plan is left alone.
    */
  object MergeAnchoredFolds extends Rule[LogicalPlan] with PredicateHelper {

    /** A union child in the mergeable shape: conjunct `pick` of `filter`
      * keeps the fold's rule, `key` below the projection, to `values`.
      */
    private final case class Branch(top: Option[Project], fold: AnchoredSessionAgg,
        mid: Option[Project], filter: Filter, conjuncts: Seq[Expression], pick: Int,
        key: Expression, values: Seq[String]) {

      def rebuild(newPick: Expression, cfg: AlertConfig,
          perRule: Map[String, AlertConfig]): LogicalPlan = {
        val f = filter.copy(condition = conjuncts.updated(pick, newPick).reduce(And))
        val agg = fold.copy(child = mid.fold[LogicalPlan](f)(_.copy(child = f)),
          cfg = cfg, perRule = perRule)
        top.fold[LogicalPlan](agg)(_.copy(child = agg))
      }

      /** The plan with its literals and settings blanked: equal templates
        * differ only in those. An empty IN list never survives the
        * optimizer, so it marks the conjunct's place unambiguously.
        */
      lazy val template: LogicalPlan =
        rebuild(In(key, Nil), AlertConfig(), Map.empty).canonicalized
    }

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformUpWithPruning(_.containsPattern(UNION)) { case u: Union => merge(u) }

    private def merge(u: Union): LogicalPlan = {
      val groups = u.children.zipWithIndex
        .flatMap { case (c, i) => branch(c).map(_ -> i) }
        .groupBy(_._1.template).values.toSeq
        .filter(g => g.size > 1 && disjoint(g.map(_._1.values)))
        .map(_.sortBy(_._2))
      if (groups.isEmpty) u
      else {
        val merged = groups.map(g => g.head._2 -> fuse(g.map(_._1))).toMap
        val dropped = groups.flatMap(_.tail.map(_._2)).toSet
        u.children.zipWithIndex.filterNot(c => dropped(c._2))
          .map { case (c, i) => merged.getOrElse(i, c) } match {
          case Seq(only) if only.output == u.output => only
          case cs => u.copy(children = cs)
        }
      }
    }

    private def disjoint(sets: Seq[Seq[String]]): Boolean = {
      val distinct = sets.map(_.distinct)
      distinct.flatten.distinct.size == distinct.map(_.size).sum
    }

    private def fuse(bs: Seq[Branch]): LogicalPlan = {
      val first = bs.head
      val values = bs.flatMap(_.values).distinct
      first.rebuild(In(first.key, values.map(Literal(_))), first.fold.cfg,
        bs.flatMap(b => b.values.map(v => v -> b.fold.perRule.getOrElse(v, b.fold.cfg))).toMap)
    }

    private def branch(plan: LogicalPlan): Option[Branch] = {
      val (top, below) = plan match {
        case p @ Project(_, a: AnchoredSessionAgg) => (Some(p), a)
        case other => (None, other)
      }
      below match {
        case fold: AnchoredSessionAgg if plan.deterministic =>
          val (mid, under) = fold.child match {
            case p: Project => (Some(p), p.child)
            case other => (None, other)
          }
          // the fold's rule in terms of the filter's output
          val rule = mid.fold(fold.rule) { p =>
            val aliases = AttributeMap(p.projectList.collect { case a: Alias => a.toAttribute -> a.child })
            fold.rule.transform { case a: Attribute => aliases.getOrElse(a, a) }
          }
          under match {
            case f: Filter if rule.dataType == StringType =>
              val conjuncts = splitConjunctivePredicates(f.condition)
              conjuncts.zipWithIndex.flatMap { case (c, i) => ruleValues(c, rule).map(i -> _) } match {
                case Seq((i, (key, values))) =>
                  Some(Branch(top, fold, mid, f, conjuncts, i, key, values))
                case _ => None
              }
            case _ => None
          }
        case _ => None
      }
    }

    /** The key and values of a conjunct that keeps `rule` to a set of
      * non-null string literals (the analyzer gives them the key's type).
      */
    private def ruleValues(c: Expression, rule: Expression): Option[(Expression, Seq[String])] = {
      val literalSet: PartialFunction[Expression, (Expression, Seq[Any])] = {
        case In(k, list) if list.forall(_.isInstanceOf[Literal]) =>
          k -> list.map(_.asInstanceOf[Literal].value)
        case InSet(k, set) => k -> set.toSeq
        case EqualTo(k, Literal(v, _)) => k -> Seq(v)
        case EqualTo(Literal(v, _), k) => k -> Seq(v)
      }
      literalSet.lift(c).collect {
        case (k, vs) if k.semanticEquals(rule) && vs.forall(_.isInstanceOf[UTF8String]) =>
          k -> vs.map(_.toString)
      }
    }
  }

  /** Registers the planner strategy and [[MergeAnchoredFolds]] with
    * `spark` (public `spark.experimental` hooks) unless its own lists
    * already hold them, so no process-wide state keeps a session alive.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val x = spark.experimental
    if (!x.extraStrategies.contains(AnchoredStrategy) ||
        !x.extraOptimizations.contains(MergeAnchoredFolds)) x.synchronized {
      if (!x.extraStrategies.contains(AnchoredStrategy))
        x.extraStrategies = x.extraStrategies :+ AnchoredStrategy
      if (!x.extraOptimizations.contains(MergeAnchoredFolds))
        x.extraOptimizations = x.extraOptimizations :+ MergeAnchoredFolds
    }
  }

  /** Aggregate matches (rule_name, dedupe, ts columns) into alert rows via
    * the native operator, each rule under its `perRule` config or else
    * `cfg`. Null keys normalize to "" and null event times are dropped
    * (the reference sidelines records without a parseable ts, P8), the
    * contract of the queries that fold alerts; a null rule therefore
    * looks its config up as "".
    */
  def aggregate(spark: SparkSession, matches: DataFrame, cfg: AlertConfig,
      perRule: Map[String, AlertConfig] = Map.empty): DataFrame =
    fold(spark, matches,
      coalesce(col("rule_name").cast(StringType), lit("")),
      coalesce(col("dedupe").cast(StringType), lit("")), cfg, perRule)

  /** The native fold over `matches` keyed by `rule` and `dedupe` (string
    * columns, compared null-safely) in `ts` order, each rule value under
    * its `perRule` config or else `cfg`; rows with a null `ts` are
    * dropped. Registers the strategy and the merge rule on first use.
    */
  def fold(spark: SparkSession, matches: DataFrame, rule: Column, dedupe: Column,
      cfg: AlertConfig, perRule: Map[String, AlertConfig] = Map.empty): DataFrame = {
    ensureRegistered(spark)
    val child = matches
      .filter(col("ts").isNotNull)
      .select(rule.as("rule_name"), dedupe.as("dedupe"), col("ts"))
    val plan = GraftBridge.logicalPlan(child)
    val Seq(r, d, t) = plan.output.toSeq
    GraftBridge.ofRows(spark, AnchoredSessionAgg(plan, r, d, t, cfg, perRule))
  }
}
