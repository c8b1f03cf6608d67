package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-layout operators for the joins that dominate at 100 TB:
  * bucketing (pre-shuffle once, join forever shuffle-free) and salting
  * (manual skew spreading where AQE's runtime split isn't available, e.g.
  * streaming joins or pinned plans).
  */
object Layout {

  /** Persist `df` bucketed+sorted by `key` into the session catalog. Both
    * sides of a future equi-join on `key` bucketed with the same count
    * join with NO Exchange — the one-time layout cost replaces a per-query
    * shuffle of the big table, the canonical trade for repeatedly-joined
    * 100 TB facts.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Salted equi-join for skewed keys: the big side scatters each row into
    * one of `salts` sub-keys by hashing a discriminator column; the small
    * side replicates `salts` ways. A hot key's rows land on `salts`
    * different reducers instead of one. Result is identical to
    * `big.join(small, key)` — salting only changes the partitioning.
    *
    * Deterministic (hash of a data column, no rand()), so replays and
    * retries partition identically.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      discriminator: String, salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(hash(col(discriminator)), lit(salts)))
    val saltedSmall = small
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }
}
