package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types.{ArrayType, MapType}

/** Plan-shape guard for the generator-filter-pushdown trap (round-5 q58
  * defect): Spark's `InferFiltersFromGenerate` adds `size(arr) > 0` under a
  * non-outer explode, and predicate pushdown can clone the ENTIRE derived
  * expression for `arr` (tokenize + shingle, band signatures, frame
  * sequences, ...) into the parquet scan's `DataFilters`, where staged
  * projections do not exist, so the derivation re-evaluates per element
  * reference — measured at 54× the compute floor on decontamination.
  *
  * The guard: across every declared query's physical plan, no FileScan
  * data filter may contain a non-column expression that PRODUCES an array
  * or map. Cheap scalar predicates (`isnotnull(c)`, comparisons,
  * `size(stored_array) > 0` on a real column) pass; any re-derivation of a
  * generator input inside a scan fails. Applied to the whole query surface
  * so a future generator query inherits the guard for free.
  */
class PlanShapeSpec extends SparkSpec {

  /** Queries whose construction has external side effects (streaming
    * checkpoints, lake temp-dir round-trips) — their scans are exercised by
    * their own specs and the driver gate.
    */
  private val sideEffecting = Set("q41_alerts_stream", "q45_lake_roundtrip",
    "q54_lake_pruned", "q77_merge_upsert", "q78_compression_inference",
    "q131_bucketed_join", // catalog writes; its plan shape has its own test
    "q133_zorder_pruned") // lake temp-dir write; layout has its own test

  private def scanDataFilters(df: DataFrame): Seq[Expression] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.dataFilters
    }.flatten

  /** An expression a scan filter must not contain: any node that builds an
    * array/map value (split, sequence, transform/filter lambdas, shingle
    * CASE chains, ...) rather than reading one from a column.
    */
  private def derivesCollection(e: Expression): Boolean = e.exists {
    case _: Attribute | _: Literal => false
    case n => n.dataType.isInstanceOf[ArrayType] || n.dataType.isInstanceOf[MapType]
  }

  /** All FilterExec conditions — the inferred `size(arr) > 0` from a
    * non-outer Generate lands here even when pushdown can't reach the scan
    * (e.g. with a staged projection chain in between). An inlined
    * derivation in a Filter CONDITION is the same quadratic trap as in a
    * scan filter: the q106 winnowing pipeline measured 842 s (vs ~1 s)
    * over sf0.1 from exactly this shape before the explode_outer fix.
    */
  private def filterConditions(df: DataFrame): Seq[Expression] =
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition
    }

  for ((name, fn) <- SparkEntry.queries if !sideEffecting(name))
    test(s"$name: no derived-collection expression in any FileScan data filter") {
      // queries that persist() intermediates (q104/q110's shared token
      // frame) register cache entries at CONSTRUCTION time; a later
      // query whose plan canonically matches a cached frame would get an
      // InMemoryRelation substituted for its scan — hiding the very scan
      // filters this guard inspects. Each test starts cache-clean.
      spark.catalog.clearCache()
      val df = fn(spark, sf)
      val offenders = scanDataFilters(df).filter(derivesCollection)
      assert(offenders.isEmpty,
        s"scan filters re-derive a collection (generator-pushdown trap):\n" +
          offenders.map(_.toString).mkString("\n"))
      val filterOffenders = filterConditions(df).filter(derivesCollection)
      assert(filterOffenders.isEmpty,
        s"a Filter condition re-derives a collection (generator-pushdown " +
          s"trap outside the scan):\n" +
          filterOffenders.map(_.toString.take(500)).mkString("\n"))
      // second scale guard: a non-broadcast cross product pairs every
      // partition with every other — |A|x|B| rows through one stage. The
      // intentional cross joins (brute-force scoring, centroid argmin)
      // all broadcast their small side and plan as BroadcastNestedLoop;
      // a CartesianProduct node is always a planning accident.
      val cartesian = df.queryExecution.sparkPlan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cartesian.isEmpty,
        s"plan contains a non-broadcast cartesian product:\n${cartesian.mkString("\n")}")
    }

  test("bucketed co-located join plans with ZERO exchanges (q131 shape)") {
    import org.apache.spark.sql.functions._
    val base = tempDir("graft_bucketed_spec").toString
    val ev = spark.range(0, 10000).select(
      col("id").as("event_id"), pmod(col("id"), lit(97)).as("user_id"))
    val prof = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
    lake.Lake.writeBucketed(ev, "graft_spec_b_ev", s"$base/ev", "user_id", 8)
    lake.Lake.writeBucketed(prof, "graft_spec_b_u", s"$base/u", "user_id", 8)
    val joined = spark.table("graft_spec_b_ev").hint("merge")
      .join(spark.table("graft_spec_b_u"), "user_id")
    val exchanges = joined.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"bucketed join should not shuffle:\n${joined.queryExecution.sparkPlan}")
    val smj = joined.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, "expected a sort-merge join over the bucketed scans")
    // one file per bucket (repartition-aligned write) → the scan recovers
    // the per-bucket sort too: no SortExec under the join either
    val sorts = joined.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.isEmpty,
      s"single-file buckets should satisfy the join's sort requirement:\n${joined.queryExecution.sparkPlan}")
    // and the result is the plain join, co-location notwithstanding
    assert(joined.count() == 10000)
    spark.sql("DROP TABLE graft_spec_b_ev")
    spark.sql("DROP TABLE graft_spec_b_u")
  }

  test("a declarative rule pack plans one parquet scan, its OR pushed down") {
    import graft.operators.Detection
    import graft.operators.Detection.SimpleRule
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_rule_pack").resolve("events").toString
    spark.range(0, 1000).select(col("id").as("event_id"),
        (col("id") % 7).as("kind"), (col("id") % 13).as("n"),
        timestamp_seconds(col("id")).as("ts"))
      .write.parquet(dir)
    val events = spark.read.parquet(dir)
    val rules = Seq(
      SimpleRule("kind3", col("kind") === 3),
      SimpleRule("n_big", col("n") > 10),
      SimpleRule("id_low", col("event_id") < 20, dedupe = col("kind")))
    def scans(df: DataFrame): Seq[FileSourceScanExec] =
      df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    val pack = scans(Detection.ruleMatches(events, rules, col("event_id")))
    assert(pack.size == 1, s"expected one scan for ${rules.size} rules, got ${pack.size}")
    assert(pack.head.metadata("PushedFilters").contains("Or("),
      s"the rules' OR should reach the parquet reader: ${pack.head.metadata("PushedFilters")}")
    // the per-rule union this replaced plans a scan per rule
    assert(scans(UnionRuleMatches(events, rules, col("event_id"))).size == rules.size)
  }

  test("guard has teeth: the round-5 defect shape (plain explode over a " +
    "derived shingle array) IS flagged") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache() // see above — a cached token frame would
    // replace this plan's scan and vacuously un-flag the defect shape
    // Reconstruct the pre-fix decontaminate gram side: a non-outer explode
    // over shingleFrame reading straight from parquet. InferFiltersFromGenerate
    // + pushdown clone the tokenize+shingle expression into the scan filter.
    val bad = operators.Dedup
      .shingleFrame(spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 3)
      .select(explode(col("sh")).as("gram"))
    val flagged = scanDataFilters(bad).filter(derivesCollection)
    assert(flagged.nonEmpty,
      "expected the plain-explode shape to push a derived-collection filter " +
        "into the scan; if Spark stopped doing this, the guard (and the " +
        "explode_outer workaround in Curation.decontaminate) can be revisited")
  }
}
