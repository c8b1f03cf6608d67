package graft

import org.apache.spark.sql.Dataset

/** Typed Dataset[T] surface: case-class encoders over the fixtures, typed
  * transforms agreeing with the untyped Column API, and typed
  * groupByKey/mapGroups aggregation (the API tier SURVEY §1.4 reserves for
  * contracts like the silver table).
  */
class TypedDatasetSpec extends SparkSpec {

  import TypedDatasetSpec._

  private lazy val orders: Dataset[Order] = {
    import spark.implicits._
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .as[Order]
  }

  test("typed filter/map agree with the Column API") {
    import spark.implicits._
    val typed = orders.filter(_.o_totalprice > 200000.0)
      .map(_.o_orderkey).collect().sorted
    val untyped = orders.toDF()
      .filter(org.apache.spark.sql.functions.col("o_totalprice") > 200000.0)
      .select("o_orderkey").as[Long].collect().sorted
    assert(typed.nonEmpty)
    assert(typed.toSeq == untyped.toSeq)
  }

  test("groupByKey/mapGroups == groupBy agg") {
    import spark.implicits._
    val typed = orders.groupByKey(_.o_orderstatus)
      .mapGroups((k, os) => (k, os.length))
      .collect().toMap
    val untyped = orders.toDF().groupBy("o_orderstatus").count()
      .as[(String, Long)].collect().map { case (k, v) => k -> v.toInt }.toMap
    assert(typed == untyped)
  }

  test("encoder round-trips the case class through parquet") {
    import spark.implicits._
    val dir = TempDirs.create("typed-rt")
    orders.write.mode("overwrite").parquet(s"$dir/o")
    val back = spark.read.parquet(s"$dir/o").as[Order]
    assert(back.collect().toSet == orders.collect().toSet)
  }
}

object TypedDatasetSpec {
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double)
}
