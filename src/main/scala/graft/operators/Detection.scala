package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Detections-as-code over event tables.
  *
  * The reference runs Python `detect(record) -> bool` per record with
  * metadata hooks (lib/python/matano_detection/detection/common.py:225-259).
  * Here a rule is declarative: `detect` is a Catalyst predicate Column, so
  * rules participate in pushdown/pruning and run inside codegen instead of
  * a per-record interpreter. Evaluating N rules over a table is one scan
  * per pack (see [[ruleMatches]]), not N scans or N×rows function calls.
  * For the rare rule the Column algebra can't express (imperative loops with
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
    * deserialization boundary per row and no predicate pushdown — its
    * branch still prunes columns, and the declarative rules of the same
    * `ruleMatches` call keep their single codegen'd scan.
    */
  final case class ImperativeRule(
      name: String, detectRow: Row => Boolean,
      override val dedupe: Column = lit(""),
      override val severity: String = "notice",
      override val threshold: Int = 1,
      override val windowSeconds: Long = 3600) extends Rule {
    def detect: Column = lit(true) // selection happens in filterEvents
    def filterEvents(events: DataFrame): DataFrame = {
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

  /** Evaluate rules against an event frame. The declarative rules of a pack
    * share one scan: the input is filtered once by the OR of their
    * predicates (a WHERE treats null as false, so this keeps exactly the
    * rows some rule matches, and stays a pushable data filter), then one
    * generator emits a row per (event, matching rule) — an event that
    * matches k rules gives k rows. `matchId` and `ts` are evaluated once
    * per event. A single declarative rule is a plain filter. Each
    * [[ImperativeRule]] keeps its typed-filter branch, unioned on. Output
    * is the rule-match shape Alerts.aggregate consumes, plus the
    * `matano.alert`-style metadata columns the reference's create_alert
    * emits.
    */
  def ruleMatches(events: DataFrame, rules: Seq[Rule], matchId: Column,
      ts: Column = col("ts")): DataFrame = {
    def meta(r: Rule): Seq[Column] = Seq(
      lit(r.name).as("rule_name"), r.dedupe.cast("string").as("dedupe"),
      lit(r.severity).as("severity"), lit(r.threshold).as("threshold"),
      lit(r.windowSeconds).as("deduplication_window"))
    def project(matched: DataFrame, perRule: Seq[Column]): DataFrame =
      matched.select(perRule :+ matchId.cast("long").as("match_id") :+ ts.as("ts"): _*)
        .select(MatchColumns.map(col): _*)
    val imperative = rules.collect { case r: ImperativeRule => r }
    val packScan = rules.filterNot(_.isInstanceOf[ImperativeRule]) match {
      case Seq() => None
      case Seq(r) => Some(project(events.filter(r.detect), meta(r)))
      case rs =>
        val hits = array(rs.map(r =>
          struct(meta(r) :+ coalesce(r.detect, lit(false)).as("hit"): _*)): _*)
        Some(project(events.filter(rs.map(_.detect).reduce(_ || _)),
          Seq(inline(filter(hits, _.getField("hit"))))))
    }
    (packScan.toSeq ++ imperative.map(r => project(r.filterEvents(events), meta(r))))
      .reduceOption(_.unionAll(_))
      .getOrElse(
        // zero rules → zero matches with the match schema, not a crash
        events.limit(0).select(
          lit("").as("rule_name"), lit("").as("dedupe"),
          lit(0L).as("match_id"), ts.as("ts"), lit("").as("severity"),
          lit(0).as("threshold"), lit(0L).as("deduplication_window")))
  }

  /** Column order of [[ruleMatches]] output. */
  private val MatchColumns = Seq("rule_name", "dedupe", "match_id", "ts", "severity",
    "threshold", "deduplication_window")

  /** Project aggregated alerts into the reference's matano_alerts row shape
    * (FIXTURES.md F8 / managed matano_alerts log_source): `ts` +
    * `matano.alert.{id,dedupe,severity,created,first_matched_at,activated,
    * rule.{name,severity,threshold,deduplication_window}}`. These rows
    * re-enter the lake pipeline as their own log source, exactly as the
    * reference recurses alerts through E1.
    *
    * Rule metadata attaches without a join: each alert row filters the
    * literal array of the rules' (name, severity, threshold, window) by its
    * `rule_name`, and one `inline` emits a row per entry left, so the rows
    * are those of an inner join on the name — an alert of an unknown (or
    * null) rule name is dropped, and a name given twice keeps both rows.
    * No broadcast job runs and no shuffle is planned.
    */
  def matanoAlertRows(alerts: DataFrame, rules: Seq[Rule], table: String): DataFrame = {
    def entry(name: Column, severity: Column, threshold: Column, window: Column): Column =
      struct(name.as("__rule"), severity.as("severity"), threshold.as("threshold"),
        window.as("deduplication_window"))
    val meta = array((if (rules.nonEmpty)
        rules.map(r => entry(lit(r.name), lit(r.severity), lit(r.threshold), lit(r.windowSeconds)))
      // zero rules: one entry named null, which no rule_name equals
      else Seq(entry(lit(null).cast("string"), lit(null).cast("string"),
        lit(null).cast("int"), lit(null).cast("long")))): _*)
    alerts.select(col("*"), inline(filter(meta, _.getField("__rule") === col("rule_name"))))
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
