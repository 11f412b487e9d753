package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Detections-as-code over event tables.
  *
  * The reference runs Python `detect(record) -> bool` per record with
  * metadata hooks (lib/python/matano_detection/detection/common.py:225-259).
  * Here a rule is declarative: `detect` is a Catalyst predicate Column, so
  * rules participate in pushdown/pruning and run inside codegen instead of
  * a per-record interpreter. Evaluating N rules over a table is N filtered
  * scans, unioned (see [[ruleMatches]]), not N×rows function calls;
  * merging them into one scan per pack is ROADMAP direction 1. For the
  * rare rule the Column algebra can't express (imperative loops with
  * early exit, cross-field recursion), [[ImperativeRule]] wraps a
  * `Row => Boolean` in a typed filter — the reference's whole execution
  * model, available as the escape hatch, with [[deepget]] standing in for
  * the Python `DeepDict.deepget` record accessor (detection/util.py:109-132).
  */
object Detection {

  /** Mirrors the reference rule hooks: detect + title/dedupe/severity/
    * threshold/deduplication window (common.py:262-345 defaults:
    * threshold 1, window 3600 s).
    */
  trait Rule {
    def name: String
    def detect: Column
    def dedupe: Column = lit("")
    def severity: String = "notice"
    def threshold: Int = 1
    def windowSeconds: Long = 3600
    /** How this rule selects matching events. Declarative rules filter by
      * the `detect` Column (pushdown + codegen); the imperative escape
      * hatch overrides with a typed filter.
      */
    def filterEvents(events: DataFrame): DataFrame = events.filter(detect)
  }

  final case class SimpleRule(
      name: String, detect: Column,
      override val dedupe: Column = lit(""),
      override val severity: String = "notice",
      override val threshold: Int = 1,
      override val windowSeconds: Long = 3600) extends Rule

  /** The imperative escape hatch: `detect` is the reference's
    * `detect(record) -> bool`, evaluated per row via a typed filter. The
    * cost is explicit and confined to the rules that need it: a
    * deserialization boundary per row and no predicate pushdown — the
    * scan itself still prunes columns, and every other (declarative) rule
    * in the same `ruleMatches` call keeps its codegen'd path.
    */
  final case class ImperativeRule(
      name: String, detectRow: Row => Boolean,
      override val dedupe: Column = lit(""),
      override val severity: String = "notice",
      override val threshold: Int = 1,
      override val windowSeconds: Long = 3600) extends Rule {
    def detect: Column = lit(true) // selection happens in filterEvents
    override def filterEvents(events: DataFrame): DataFrame = {
      // bind the function to a local so the filter closure serializes just
      // it — referencing the field would capture the whole rule instance,
      // whose Column members are not serializable
      val f = detectRow
      events.filter(f(_))
    }
  }

  /** Dotted-path accessor over nested Row/Map/Seq data — the Python
    * `DeepDict.deepget(path, default)` (detection/util.py:109-132): any
    * missing step OR an explicit null returns `default` (the reference
    * deliberately collapses the two). Integer path segments index into
    * arrays, as `deepget(r, "entries.0.name")`.
    */
  @annotation.tailrec
  def deepget(o: Any, path: Seq[String], default: Any): Any =
    if (o == null) default
    else path match {
      case Seq() => o
      case key +: rest => o match {
        case r: Row =>
          val i = try r.fieldIndex(key) catch { case _: IllegalArgumentException => -1 }
          if (i < 0) default else deepget(r.get(i), rest, default)
        // match the collection ROOT types: Spark rows hand back
        // scala.collection.Map and mutable.ArraySeq, which the 2.13
        // immutable aliases `Map`/`Seq` would silently NOT match
        case m: scala.collection.Map[_, _] =>
          deepget(m.asInstanceOf[scala.collection.Map[Any, Any]].getOrElse(key, null),
            rest, default)
        case s: scala.collection.Seq[_] =>
          val i = key.toIntOption.getOrElse(-1)
          if (i < 0 || i >= s.size) default else deepget(s(i), rest, default)
        case _ => default // scalar hit before the path ended
      }
    }

  def deepget(row: Row, path: String): Any = deepget(row, path.split('.').toSeq, null)
  def deepget(row: Row, path: String, default: Any): Any =
    deepget(row, path.split('.').toSeq, default)

  /** Evaluate rules against an event frame: one filtered scan per rule
    * (each pushes its own predicate), unioned. Catalyst does not merge the
    * scans, so a pack of N rules reads its input N times; one scan per
    * pack is ROADMAP direction 1. Output is the rule-match shape Alerts.aggregate consumes, plus the
    * `matano.alert`-style metadata columns the reference's create_alert
    * emits.
    */
  def ruleMatches(events: DataFrame, rules: Seq[Rule], matchId: Column,
      ts: Column = col("ts")): DataFrame =
    if (rules.isEmpty)
      // zero rules → zero matches with the match schema, not a crash
      events.limit(0).select(
        lit("").as("rule_name"), lit("").as("dedupe"),
        lit(0L).as("match_id"), ts.as("ts"), lit("").as("severity"),
        lit(0).as("threshold"), lit(0L).as("deduplication_window"))
    else rules.map { r =>
      r.filterEvents(events).select(
        lit(r.name).as("rule_name"),
        r.dedupe.cast("string").as("dedupe"),
        matchId.cast("long").as("match_id"),
        ts.as("ts"),
        lit(r.severity).as("severity"),
        lit(r.threshold).as("threshold"),
        lit(r.windowSeconds).as("deduplication_window"))
    }.reduce(_.unionAll(_))

  /** Project aggregated alerts into the reference's matano_alerts row shape
    * (FIXTURES.md F8 / managed matano_alerts log_source): `ts` +
    * `matano.alert.{id,dedupe,severity,created,first_matched_at,activated,
    * rule.{name,severity,threshold,deduplication_window}}`. These rows
    * re-enter the lake pipeline as their own log source, exactly as the
    * reference recurses alerts through E1.
    */
  def matanoAlertRows(alerts: DataFrame, rules: Seq[Rule], table: String): DataFrame = {
    val meta = rules.map(r => (r.name, r.severity, r.threshold, r.windowSeconds))
    val metaDf = alerts.sparkSession.createDataFrame(meta)
      .toDF("rule_name", "severity", "threshold", "deduplication_window")
    alerts.join(broadcast(metaDf), Seq("rule_name"))
      .select(
        col("last_matched_at").as("ts"),
        struct(
          lit(table).as("table"),
          struct(
            col("alert_id").as("id"),
            col("dedupe"),
            col("severity"),
            col("created_at").as("created"),
            col("first_matched_at"),
            col("activated"),
            struct(
              col("rule_name").as("name"),
              col("severity"),
              col("threshold"),
              col("deduplication_window")).as("rule")).as("alert")).as("matano"))
  }
}
