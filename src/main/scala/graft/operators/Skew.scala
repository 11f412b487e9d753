package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for joins and aggregations.
  *
  * AQE's skew-join handling (enabled in GraftSession) covers sort-merge
  * joins at runtime; explicit salting remains the tool when one hot key
  * dominates a shuffle hash join or a groupBy (e.g. a single tenant
  * producing most security events). Salting fans the hot side across
  * `salts` sub-keys and replicates the small side once per salt — the
  * shuffle spreads to `salts` tasks instead of one straggler.
  */
object Skew {

  /** Equi-join `big` (skewed) with `small` on `key`, salting the big side.
    * Result columns = big ++ small (minus the duplicate key column).
    */
  /** Seeded-random salt: spreads IDENTICAL rows (the canonical hot-key
    * case — hashing row content would give duplicates the same salt and
    * re-concentrate the key), and `rand(seed)` recomputes the same values
    * on task retry for a given partition layout, unlike
    * monotonically_increasing_id + spark_partition_id arithmetic.
    */
  private def saltCol(salts: Int): org.apache.spark.sql.Column =
    floor(rand(42) * salts).cast("int")

  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt", saltCol(salts))
    val saltedSmall = small.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Skew-safe count per key: two-phase aggregation — partial count per
    * (key, salt), then final sum per key. The hot key's rows split across
    * `salts` partial groups before the final (tiny) shuffle.
    */
  def saltedCount(df: DataFrame, key: String, salts: Int): DataFrame =
    df.withColumn("__salt", saltCol(salts))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as("n"))
}
