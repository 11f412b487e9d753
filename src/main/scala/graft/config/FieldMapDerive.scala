package graft.config

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, CreateNamedStruct, Expression, GetStructField,
  If, IsNull, JsonToStructs, KnownNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** DATA-DRIVEN Sigma field maps: correspondences extracted from a managed
  * transform's OWN expression tree, not a hand-kept list (the pySigma
  * processing-pipeline role — the reference generates its per-source
  * pipelines from the same log_source.yml the transform derives from,
  * `scripts/sigma_generate.py:1-35`; here the transform IS the config, so
  * the map derives from it directly and can never drift from what the
  * transform actually emits).
  *
  * How: the transform runs over an empty `json`-column frame, the
  * optimizer collapses its withColumn chain into plain Projects, and every
  * output leaf whose expression is a DIRECT column move — a
  * GetStructField chain over the parsed raw record, possibly nested in
  * struct literals — yields one (rawPath → outputPath) correspondence.
  * Computed outputs (when/coalesce/concat/...) are deliberately skipped: a
  * rule value matches the RAW spelling only where the transform moved the
  * value verbatim. A direct move of a whole STRUCT fans out to one
  * correspondence per nested leaf.
  *
  * Resolution of a Sigma field name `f` (rules spell raw vendor names in
  * assorted conventions — Elastic-integration snake_case, portal
  * camelCase, all-lowercase):
  *   1. `f` names an output column path as-is → passthrough (vendor
  *      fields the transform keeps under their own namespace);
  *   2. otherwise, the LONGEST dotted suffix of `f` that — segment-wise,
  *      case-insensitively, snake_case folded onto camelCase — matches a
  *      suffix of some raw leaf path resolves to that leaf's output
  *      column (unique match required; ambiguity falls through);
  *   3. otherwise `f` passes through unchanged (the compiled predicate
  *      then references a non-column and fails loudly at bind time —
  *      never a silently-dead rule).
  * When one raw leaf lands in several output columns, targets OUTSIDE the
  * vendor namespaces (the ECS hoists, e.g. event.action) win over vendor
  * struct copies.
  */
object FieldMapDerive {

  /** One direct-move correspondence: raw input leaf path → output column
    * path (both dotted).
    */
  final case class Correspondence(raw: String, target: String)

  /** Extract every direct-move correspondence from a transform. The
    * transform must consume a single `json` string column (the managed
    * transform contract).
    */
  def correspondences(transform: DataFrame => DataFrame,
      spark: SparkSession): Seq[Correspondence] = {
    // the probe input must be NEITHER empty NOR a local relation NOR a
    // foldable literal: PropagateEmptyRelation would collapse an empty
    // plan to nothing, ConvertToLocalRelation would eagerly evaluate a
    // LocalRelation projection, and from_json(lit(...)) would constant-
    // fold — all three erase the expression tree the walk reads. A
    // 1-row Range with a derived string column survives optimization
    // with the Projects intact (nothing is ever executed).
    val probe = spark.range(1)
      .select(org.apache.spark.sql.functions.col("id")
        .cast("string").as("json"))
    val out = transform(probe)
    val plan = out.queryExecution.optimizedPlan
    val acc = Seq.newBuilder[Correspondence]

    def strip(e: Expression): Expression = e match {
      case Alias(c, _) => strip(c)
      case KnownNotNull(c) => strip(c)
      case _ => e
    }

    // STRUCTURAL resolution of the parsed-record attribute(s): an
    // attribute is a parsed root iff its defining Alias binds (possibly
    // through a chain of attribute renames across Projects — a Filter
    // between Projects stops CollapseProject, so multi-level shapes
    // occur) to the JsonToStructs expression itself. Tracked by exprId,
    // bottom-up, so ANY binding name works — a transform binding
    // from_json to `rec` derives identically to the repo's `r`
    // convention (name-keyed resolution silently derived an EMPTY map
    // for any other name, surfacing later as a confusing bind error).
    // Intermediate ECS attributes (struct REBUILDS, ecsFooter
    // passthroughs) are not roots: their defining expression is a
    // CreateNamedStruct or computation, never JsonToStructs — a bogus
    // `event.action → event.action` row would collide with the real raw
    // leaf under the last-segment index and poison resolution.
    val parsedIds = scala.collection.mutable.Set
      .empty[org.apache.spark.sql.catalyst.expressions.ExprId]
    plan.collect { case p: Project => p }.reverse.foreach { p =>
      p.projectList.foreach {
        case a: Alias => strip(a.child) match {
          case _: JsonToStructs => parsedIds += a.exprId
          case ar: AttributeReference if parsedIds(ar.exprId) =>
            parsedIds += a.exprId
          case _ => ()
        }
        case _ => ()
      }
    }

    // raw path of a pure extraction chain, bottoming out at the parsed
    // record (from_json directly, or an attribute structurally bound to
    // it)
    def rawPath(e: Expression): Option[List[String]] = e match {
      case g: GetStructField =>
        rawPath(g.child).map(_ :+ g.extractFieldName)
      case _: JsonToStructs => Some(Nil)
      case a: AttributeReference if parsedIds(a.exprId) => Some(Nil)
      case Alias(c, _) => rawPath(c)
      case KnownNotNull(c) => rawPath(c)
      case _ => None
    }

    def leaves(dt: DataType, prefix: List[String]): Seq[List[String]] =
      dt match {
        case st: StructType =>
          st.fields.toSeq.flatMap(f => leaves(f.dataType, prefix :+ f.name))
        case _ => Seq(prefix)
      }

    def record(raw: List[String], target: List[String], dt: DataType): Unit = {
      // a struct-typed direct move fans out to its nested leaves
      val pairs = dt match {
        case st: StructType =>
          leaves(st, Nil).map(suffix => (raw ++ suffix, target ++ suffix))
        case _ => Seq((raw, target))
      }
      pairs.foreach { case (r, t) =>
        if (r.nonEmpty)
          acc += Correspondence(r.mkString("."), t.mkString("."))
      }
    }

    def walk(e: Expression, target: List[String]): Unit = e match {
      case Alias(c, _) => walk(c, target)
      case KnownNotNull(c) => walk(c, target)
      // withField on a nullable struct optimizes to a null-guarded If
      // around the rebuilt struct — pierce the guard, it carries no
      // value semantics for a correspondence
      case If(IsNull(_), Literal(null, _), body) => walk(body, target)
      case s: CreateNamedStruct =>
        // CreateNamedStruct.names is the EVALUATED Seq[Any] (UTF8String
        // values), not the name Literal expressions
        s.names.map(String.valueOf(_)).zip(s.valExprs).foreach {
          case (n, v) => walk(v, target :+ n)
        }
      case other =>
        rawPath(other).foreach(r => record(r, target, other.dataType))
    }

    // walk EVERY Project level: CollapseProject keeps the plan split
    // wherever the (expensive, many-consumer) from_json would otherwise
    // duplicate, so raw extractions first appear at different levels —
    // each under the final column name, since passthroughs preserve
    // names; later levels that merely re-reference an already-built
    // struct bottom out at a non-`r` attribute and record nothing.
    plan.collect { case pr: Project => pr }.foreach { pr =>
      pr.projectList.foreach { ne: NamedExpression =>
        // skip the from_json binding itself (`x := from_json(json)`) and
        // bare PASSTHROUGHS of a parsed root (the same attribute riding
        // an intermediate Project to feed upper levels — walking one
        // would fan the whole record out under the binding's own name,
        // poisoning resolution with `x.*` pseudo-targets). A RENAME of
        // the parsed record (`raw := x`) IS walked: if the transform
        // genuinely emits the whole record under that name, the leaf
        // fanout derives real correspondences.
        val isBinding = ne match {
          case a: Alias => strip(a.child).isInstanceOf[JsonToStructs]
          case ar: AttributeReference => parsedIds(ar.exprId)
          case _ => false
        }
        if (!isBinding) walk(ne, List(ne.name))
      }
    }
    val result = acc.result().distinct
    require(result.nonEmpty,
      "FieldMapDerive: ZERO correspondences extracted — the transform " +
        "either never applies from_json to its json column or moves no " +
        "field verbatim; a silently-empty map would turn every Sigma " +
        "field into a passthrough that fails later as a confusing " +
        "unresolved-column bind error")
    result
  }

  private def segs(path: String): List[String] =
    path.split('.').toList

  /** Fold snake_case onto camelCase, case-insensitively: `method_name`,
    * `methodName`, `methodname` all normalize to `methodname`.
    */
  private def norm(seg: String): String =
    seg.replace("_", "").toLowerCase

  /** Build the Sigma field map from one or more transforms of a source
    * family (e.g. AadSignin + AadAudit → one azuread map).
    *
    * `vendorNs` lists the vendor namespaces of this source (e.g.
    * `Seq("azure.")`): when a raw leaf lands both in a vendor struct copy
    * and an ECS hoist, the hoist wins.
    */
  def fieldMap(transforms: Seq[DataFrame => DataFrame],
      vendorNs: Seq[String] = Nil): String => String = {
    lazy val derived: (Set[String], Map[String, Seq[Correspondence]]) = {
      val spark = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).getOrElse(sys.error(
          "FieldMapDerive.fieldMap needs a SparkSession to analyze " +
            "the transform (derivation happens once, at first field lookup)"))
      val all = transforms.flatMap(correspondences(_, spark))
      val outputLeaves: Set[String] = {
        val empty = spark.createDataFrame(
          new java.util.ArrayList[Row](),
          StructType(Seq(StructField("json", StringType))))
        transforms.flatMap { t =>
          def leaves(dt: DataType, prefix: List[String]): Seq[String] =
            dt match {
              case st: StructType => st.fields.toSeq
                .flatMap(f => leaves(f.dataType, prefix :+ f.name))
              case _ => Seq(prefix.mkString("."))
            }
          t(empty).schema.fields.toSeq
            .flatMap(f => leaves(f.dataType, List(f.name)))
        }.toSet
      }
      // index correspondences by normalized LAST raw segment for the
      // suffix search
      val byLast = all.groupBy(c => norm(segs(c.raw).last))
      (outputLeaves, byLast)
    }
    (f: String) => {
      val (outputLeaves, byLast) = derived
      if (outputLeaves.contains(f)) f // passthrough: already a column
      else {
        val fs = segs(f)
        // longest dotted suffix of f with a UNIQUE raw-suffix match
        val resolved = (fs.length to 1 by -1).iterator.flatMap { k =>
          val suffix = fs.takeRight(k).map(norm)
          val cands = byLast.getOrElse(suffix.last, Nil).filter { c =>
            val rsegs = segs(c.raw)
            rsegs.length >= k &&
              rsegs.takeRight(k).map(norm) == suffix
          }
          val targets = cands.map(_.target).distinct
          if (targets.isEmpty) None
          else {
            // ECS hoists (outside the vendor namespaces) win over vendor
            // struct copies of the same raw leaf; among several hoists of
            // the SAME leaf (all carry the verbatim value, so any is
            // semantically right) pick the one the source family lands
            // the leaf in most often across its transforms — e.g. zeek's
            // id.orig_h goes to source.ip in all three logs but
            // source.address only where the transform also keeps the
            // ECS address alias — then alphabetically, so the choice is
            // deterministic across derivation runs
            val hoisted = targets.filterNot(t =>
              vendorNs.exists(ns => t.startsWith(ns)))
            val pick = (if (hoisted.nonEmpty) hoisted else targets)
              .sortBy(t => (-cands.count(_.target == t), t))
            // ambiguity across DIFFERENT raw leaves → not this suffix
            if (cands.map(_.raw).distinct.size > 1) None
            else pick.headOption
          }
        }.nextOption()
        resolved.getOrElse(f)
      }
    }
  }
}
