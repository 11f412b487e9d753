package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dynamic→fixed schema resolution with error sidelining.
  *
  * The reference resolves each in-flight record against the table's Avro
  * schema; mismatched rows become SchemaMismatchError and are written to a
  * sideline bucket grouped by error kind instead of failing the batch
  * (lib/rust/transformer/src/main.rs:955-998, 1433-1494). Spark form:
  * project the input onto the target StructType with try_cast semantics —
  * extra columns drop, missing columns null-fill, incompatible values null
  * out and raise a per-row error flag; `resolve` returns the clean frame,
  * `sidelined` the rejected originals with an error-kind column — no job
  * failure on bad rows. Both outputs are lazy filters of one flagged frame,
  * so each action over them re-reads the input; a caller that writes both
  * ([[graft.streaming.Ingest.processBatch]]) persists the [[flag]]ged frame
  * and [[split]]s that, to read its input once.
  */
object SchemaResolver {

  /** Build the projection of `df` onto `target`, plus a mismatch flag. */
  private def castTo(src: DataType, target: DataType, c: Column): (Column, Column) =
    (src, target) match {
      case (s, t) if s == t => (c, lit(false))
      case (s: StructType, t: StructType) =>
        val parts = t.fields.map { tf =>
          s.fields.find(_.name == tf.name) match {
            case Some(sf) => castTo(sf.dataType, tf.dataType, c.getField(tf.name))
            case None => (lit(null).cast(tf.dataType), lit(false))
          }
        }
        val err = parts.map(_._2).reduceOption(_ || _).getOrElse(lit(false))
        val built = struct(t.fields.zip(parts).map { case (tf, (v, _)) => v.as(tf.name) }.toIndexedSeq: _*)
        (when(c.isNull, lit(null).cast(t)).otherwise(built), coalesce(err, lit(false)))
      case (ArrayType(se, _), ArrayType(te, n)) =>
        // flag the row if ANY element's (possibly nested) cast failed —
        // the element-level error expression recurses like the value one
        val casted = transform(c, x => castTo(se, te, x)._1)
        val anyErr = exists(c, x => coalesce(castTo(se, te, x)._2, lit(false)))
        (casted.cast(ArrayType(te, n)), coalesce(anyErr, lit(false)))
      case (_, t) =>
        val casted = c.try_cast(t)
        (casted, c.isNotNull && casted.isNull)
    }

  final case class Resolved(resolved: DataFrame, sidelined: DataFrame)

  /** The per-row mismatch flag column [[flag]] adds and [[split]] drops. */
  val ErrorFlag = "__graft_err"

  /** Per target field: the projected value and its mismatch flag. */
  private def projection(src: StructType, target: StructType): Seq[(Column, Column)] =
    target.fields.toSeq.map { tf =>
      src.fields.find(_.name == tf.name) match {
        case Some(sf) => castTo(sf.dataType, tf.dataType, col(tf.name))
        case None => (lit(null).cast(tf.dataType), lit(false))
      }
    }

  /** `df` plus the boolean [[ErrorFlag]] column: true where any value fails
    * to convert to `target`.
    */
  def flag(df: DataFrame, target: StructType): DataFrame = {
    val errFlag = projection(df.schema, target).map(_._2).reduceOption(_ || _)
      .getOrElse(lit(false))
    df.withColumn(ErrorFlag, coalesce(errFlag, lit(false)))
  }

  /** Split a [[flag]]ged frame into the clean rows projected onto `target`
    * and the flagged originals (plus `error_kind`).
    */
  def split(flagged: DataFrame, target: StructType): Resolved = {
    val cols = projection(
      StructType(flagged.schema.filterNot(_.name == ErrorFlag)), target)
    val clean = flagged.filter(!col(ErrorFlag))
      .select(target.fields.toSeq.zip(cols).map { case (tf, (v, _)) => v.as(tf.name) }: _*)
    val bad = flagged.filter(col(ErrorFlag)).drop(ErrorFlag)
      .withColumn("error_kind", lit("schema_mismatch"))
    Resolved(clean, bad)
  }

  /** Resolve `df` to `target`; rows where any value fails to convert go to
    * `sidelined` (original columns + `error_kind`), the rest are projected
    * clean. Extra input columns are dropped, missing target columns null.
    */
  def resolve(df: DataFrame, target: StructType): Resolved =
    split(flag(df, target), target)
}
