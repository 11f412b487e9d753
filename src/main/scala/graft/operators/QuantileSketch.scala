package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable quantile sketch — the 100 TB percentile path.
  *
  * Exact percentiles need a global sort (or a full per-group value
  * materialization, q68/q91's interpolation); at scale the production
  * shape is a bounded-state mergeable summary: each partition folds its
  * rows into a few KB of sketch, partials merge associatively on the
  * reduce side, and the final quantile read is O(retained). This is the
  * KLL compactor scheme (Karnin/Lang/Liberty, FOCS'16 — public
  * algorithm): a ladder of levels where level i holds items of weight
  * 2^i; when a level overflows its capacity the level is sorted and
  * every other item promotes to level i+1 (the rest drop), keeping
  * O(k·log(n/k)) items total with rank error ~1/k of n.
  *
  * Engineering choices for the engine:
  *  - deterministic compaction (the odd/even coin alternates per level
  *    compaction instead of a random draw): a re-run over the same
  *    partitioning reproduces the same sketch — randomness would only
  *    tighten constants, and the driver gate needs reproducibility. The
  *    error analysis carries through with the alternating coin's ±1
  *    per-compaction bias bounded by the same telescoping argument.
  *  - the whole sketch state serializes with the JVM serializer via the
  *    Aggregator buffer encoder — partials are tiny, so shuffle payload
  *    is the sketch, never the values.
  *  - exposed as a typed [[Aggregator]] (the §2.8 custom-agg surface) and
  *    via [[quantilesAgg]] as an untyped column for DataFrame groupBy.
  */
object QuantileSketch {

  /** KLL state: `levels(i)` holds unsorted items of weight `2^i`. */
  final class Kll(val k: Int) extends Serializable {
    var levels: Array[Array[Double]] = Array(Array.empty)
    var count: Long = 0L
    // per-level alternating compaction coin (deterministic)
    var coins: Array[Boolean] = Array(false)

    private def capacity(level: Int): Int = {
      // top level gets k, lower levels shrink by 2/3 per step down (KLL's
      // geometric capacity schedule), floored at 2 so compaction is sound
      val depth = levels.length - 1 - level
      math.max(2, math.ceil(k * math.pow(2.0 / 3.0, depth)).toInt)
    }

    private def totalCap: Int = levels.indices.map(capacity).sum

    def update(v: Double): Unit = {
      levels(0) = levels(0) :+ v
      count += 1
      compress()
    }

    /** Compact the lowest over-capacity level while the sketch is over
      * budget — amortized O(1) per update (each item is touched once per
      * promotion, and weights double per level).
      */
    private def compress(): Unit = {
      var total = levels.map(_.length).sum
      while (total > totalCap) {
        val i = levels.indices
          .find(l => levels(l).length > capacity(l))
          .getOrElse(return)
        val sorted = levels(i).sorted
        val offset = if (coins(i)) 1 else 0
        coins(i) = !coins(i)
        val promoted = sorted.indices.collect {
          case j if j % 2 == offset => sorted(j)
        }.toArray
        if (i + 1 == levels.length) {
          levels = levels :+ Array.empty[Double]
          coins = coins :+ false
        }
        total -= levels(i).length - promoted.length
        levels(i) = Array.empty
        levels(i + 1) = levels(i + 1) ++ promoted
      }
    }

    def merge(other: Kll): Kll = {
      if (other.levels.length > levels.length) return other.merge(this)
      other.levels.indices.foreach { i =>
        levels(i) = levels(i) ++ other.levels(i)
      }
      count += other.count
      compress()
      this
    }

    /** Weighted-rank quantile read: q in [0,1] → the smallest retained
      * item whose cumulative weight reaches q·count.
      */
    def quantile(q: Double): Double = {
      require(q >= 0 && q <= 1, s"quantile out of range: $q")
      val weighted = levels.zipWithIndex.flatMap { case (items, i) =>
        items.map(v => (v, 1L << i))
      }.sortBy(_._1)
      if (weighted.isEmpty) return Double.NaN
      val target = q * weighted.map(_._2).sum
      var cum = 0L
      weighted.foreach { case (v, w) =>
        cum += w
        if (cum >= target) return v
      }
      weighted.last._1
    }

    def retained: Int = levels.map(_.length).sum
  }

  /** Typed aggregator: fold doubles into a KLL, finish with the requested
    * quantiles (one sketch pass serves all of them).
    */
  final case class KllQuantiles(qs: Seq[Double], k: Int = 200)
      extends Aggregator[Double, Kll, Seq[Double]] {
    def zero: Kll = new Kll(k)
    def reduce(b: Kll, a: Double): Kll = { b.update(a); b }
    def merge(b1: Kll, b2: Kll): Kll = b1.merge(b2)
    def finish(r: Kll): Seq[Double] = qs.map(r.quantile)
    def bufferEncoder: Encoder[Kll] = Encoders.javaSerialization[Kll]
    def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.AgnosticEncoders
        .IterableEncoder(scala.reflect.classTag[Seq[Double]],
          org.apache.spark.sql.catalyst.encoders.AgnosticEncoders
            .PrimitiveDoubleEncoder, containsNull = false,
          lenientSerialization = false)
  }

  /** Untyped column form for `groupBy(...).agg(...)`: an array of the
    * requested quantile estimates over `value`. Routes through the NATIVE
    * [[graft.plans.KllQuantilesNative]] aggregate (no per-row encoder
    * shim); [[KllQuantiles]] remains the typed-Dataset surface.
    */
  def quantilesAgg(value: Column, qs: Seq[Double], k: Int = 200): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.KllQuantilesNative(
        org.apache.spark.sql.GraftBridge.expression(value.cast("double")),
        qs, k).toAggregateExpression())

  /** Sketch BYTES as an aggregation column — the persistable partial a
    * lake table stores and folds incrementally (q124), like q121's HLL
    * registers.
    */
  def sketchAgg(value: Column, k: Int = 200): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.KllSketchBytes(
        org.apache.spark.sql.GraftBridge.expression(value.cast("double")),
        k).toAggregateExpression())

  /** Merge two serialized-sketch columns (associative). */
  def mergeSketches(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.plans.KllMergeBytes(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** Quantile estimates read off a serialized-sketch column. */
  def quantilesOf(bytes: Column, qs: Seq[Double]): Column =
    org.apache.spark.sql.GraftBridge.column(graft.plans.KllQuantilesOf(
      org.apache.spark.sql.GraftBridge.expression(bytes), qs))
}
