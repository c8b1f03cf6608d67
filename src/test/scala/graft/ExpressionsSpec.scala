package graft

import graft.functions.Portable
import org.apache.spark.sql.functions._

/** Native expression semantics: qcosine must be bit-identical to the
  * higher-order-function formulation it replaces (the DuckDB oracle
  * mirrors the latter), null-safe, and callable from both the DataFrame
  * API and spark.sql.
  */
class ExpressionsSpec extends SparkSpec {

  test("qcosine == interpreted qdot/sqrt formulation on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), expr(Portable.qvecSpark("embedding")).as("qv"))
      .withColumn("nsq", expr(Portable.qnsqSpark("qv")))
    val pairs = e.select(col("vec_id").as("va"), col("qv").as("qa"),
        col("nsq").as("na"))
      .join(e.select(col("vec_id").as("vb"), col("qv").as("qb"),
        col("nsq").as("nb")), col("va") < col("vb") && col("vb") <= 20)
    val diff = pairs
      .withColumn("fused", expr("qcosine(qa, qb, na, nb)"))
      .withColumn("interp",
        expr(s"cast(${Portable.qdotSpark("qa", "qb")} as double)")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("fused") =!= col("interp"))
    assert(diff.count() == 0, "fused and interpreted cosine must agree bitwise")
  }

  test("qcosine is null-safe and available in spark.sql") {
    val r = spark.sql(
      """SELECT qcosine(array(1L, 0L), array(1L, 0L), 1L, 1L) AS same,
         qcosine(array(1L, 0L), array(0L, 1L), 1L, 1L) AS orth,
         qcosine(CAST(NULL AS ARRAY<BIGINT>), array(1L), 1L, 1L) AS nl
      """).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
    assert(r.isNullAt(2))
  }

  test("sorted_intersect_count == size(array_intersect) on sorted sets") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(300)((
      rng.shuffle((1L to 60L).toList).take(rng.nextInt(40) + 1).sorted,
      rng.shuffle((1L to 60L).toList).take(rng.nextInt(40) + 1).sorted))
    val df = rows.toDF("a", "b")
    val diff = df
      .withColumn("fused", expr("sorted_intersect_count(a, b)"))
      .withColumn("builtin", size(array_intersect(col("a"), col("b"))))
      .filter(col("fused") =!= col("builtin"))
    assert(diff.count() == 0)
    // null-safety + empties
    val r = spark.sql(
      """SELECT sorted_intersect_count(array(1L,2L,3L), array(2L,3L,9L)) AS x,
         sorted_intersect_count(array(1L), CAST(array() AS ARRAY<BIGINT>)) AS e,
         sorted_intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n
      """).head()
    assert(r.getInt(0) == 2 && r.getInt(1) == 0 && r.isNullAt(2))
  }

  test("morton2 == naive bit interleave, and orders 2-D rectangles") {
    // Reference: place bit i of x at 2i and bit i of y at 2i+1, one bit
    // at a time — the semantics the shift-mask spread must reproduce.
    def naive(x: Long, y: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
      }
    val rng = new scala.util.Random(23)
    val xs = Seq.tabulate(500)(_ =>
      (rng.nextLong().abs & 0xFFFFFFFFL, rng.nextLong().abs & 0xFFFFFFFFL))
    assert(xs.forall { case (x, y) =>
      graft.expressions.Morton2.interleave(x, y) == naive(x, y) })
    // Known value: x=5 (101b) on even bits, y=3 (011b) on odd → 011011b.
    assert(graft.expressions.Morton2.interleave(5L, 3L) == 27L)
    // Codegen path agrees with the Scala reference.
    import spark.implicits._
    val df = xs.toDF("x", "y")
      .withColumn("m", expr("morton2(x, y)"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall { case (x, y, m) => m == naive(x, y) })
    // Null-safety.
    val r = spark.sql(
      "SELECT morton2(CAST(NULL AS BIGINT), 1L) AS n, morton2(3L, 0L) AS v")
      .head()
    assert(r.isNullAt(0) && r.getLong(1) == 5L)
  }

  test("sessions built by GraftSession have qcosine via extensions") {
    // GraftSession.local() used by this spec already carries the extension.
    assert(spark.sql("SELECT qcosine(array(2L), array(3L), 4L, 9L) AS c")
      .head().getDouble(0) == 1.0)
  }

  test("jaro_winkler matches the oracle-pinned battery bit-for-bit") {
    // Values measured from the DuckDB oracle's jaro_winkler_similarity
    // (see JaroWinkler's scaladoc): they pin the match window, the
    // INTEGER transposition halving, the >0.7 boost gate, the prefix cap
    // at 4, and the empty-string convention.
    val battery: Seq[(String, String, Double)] = Seq(
      ("", "", 0.0), ("a", "", 0.0), ("ab", "ba", 0.0),
      ("a", "a", 1.0), ("abcd", "abcd", 1.0),
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("abcdef", "bcadef", 0.9444444444444445), // odd mismatch count -> t=1
      ("crate", "trace", 0.7333333333333334),
      ("dwayne", "duane", 0.8400000000000001),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("cold widget", "small widget", 0.7146464646464646),
      ("large bolt", "large widget", 0.8566666666666667),
      ("abcdxxxxxx", "abcdyyyyyy", 0.6), // prefix 4 but jaro <= 0.7: no boost
      ("abcdefghij", "abcdxxxxxg", 0.6666666666666666),
      ("arnab", "raanb", 0.8666666666666667),
      ("aabbcc", "bbaacc", 0.8888888888888888))
    battery.foreach { case (a, b, want) =>
      val got = graft.expressions.JaroWinkler.jw(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(got == want, s"jw($a, $b) = $got, oracle pins $want")
    }
    // Codegen path agrees with the static helper, and is null-safe.
    val r = spark.sql(
      """SELECT jaro_winkler('martha', 'marhta') AS m,
           jaro_winkler(CAST(NULL AS STRING), 'x') AS nl""").head()
    assert(r.getDouble(0) == 0.9611111111111111 && r.isNullAt(1))
  }

  test("chunk fingerprint: fp and ln per chunk match grouped(k) + MD5 at " +
      "exact-multiple and one-over token counts") {
    import spark.implicits._
    val lens = Seq(1, 9, 10, 11, 20, 21)
    def toks(n: Int) = (0 until n).map(i => s"w$i")
    val docs = lens.map(n => (n, toks(n))).toDF("n", "t")
    def md5Hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    for (k <- Seq(10, 20)) {
      val want = lens.flatMap(n => toks(n).grouped(k).zipWithIndex.map {
        case (g, i) => (n, i, md5Hex(g.mkString(" ")), g.size.toLong)
      }).toSet
      // literal width, with and without ln
      val withLn = docs.select(col("n"), posexplode(expr(
          Portable.chunkFpSpark("t", k.toString, ln = true)))
          .as(Seq("pos", "c")))
        .select(col("n"), col("pos"), col("c.fp"), col("c.ln"))
        .as[(Int, Int, String, Long)].collect().toSet
      assert(withLn == want, s"k = $k")
      val plain = docs.select(col("n"), posexplode(expr(
          Portable.chunkFpSpark("t", k.toString))).as(Seq("pos", "fp")))
        .as[(Int, Int, String)].collect().toSet
      assert(plain == want.map { case (n, i, fp, _) => (n, i, fp) },
        s"k = $k")
      // width as a lambda variable (q379's form)
      val lambda = docs.select(col("n"), explode(expr(
          s"transform(array($k), k -> " +
            Portable.chunkFpSpark("t", "k", ln = true, lead = Seq("k AS k")) +
            ")[0]")).as("c"))
        .select(col("n"), col("c.k"), col("c.fp"), col("c.ln"))
        .as[(Int, Int, String, Long)].collect().toSet
      assert(lambda.map(_._2) == Set(k))
      assert(lambda.map { case (n, _, fp, ln) => (n, fp, ln) } ==
        want.map { case (n, _, fp, ln) => (n, fp, ln) }, s"k = $k")
    }
  }

  test("word n-grams match sliding(n) in order, plain and h64-wrapped; " +
      "tokens keep empty strings") {
    import spark.implicits._
    def toks(c: Int) = (0 until c).map(i => s"w$i")
    def md5Hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    for (n <- Seq(2, 3, 5)) {
      val counts = Seq(n, n + 1, 2 * n + 1)
      val docs = counts.map(c => (c, toks(c))).toDF("c", "t")
      val got = docs.select(col("c"),
          expr(Portable.ngramsSpark("t", n)).as("g"),
          expr(Portable.ngramsSpark("t", n, Portable.h64Spark)).as("h"))
        .as[(Int, Seq[String], Seq[Long])].collect()
        .map { case (c, g, h) => c -> (g, h) }.toMap
      for (c <- counts) {
        val want = toks(c).sliding(n).map(_.mkString(" ")).toSeq
        assert(got(c)._1 == want, s"n = $n, c = $c")
        assert(got(c)._2 == want.map(g =>
          java.lang.Long.parseLong(md5Hex(g).take(15), 16)),
          s"n = $n, c = $c")
      }
    }
    val text = "  The QUICK  brown Fox  "
    val split = Seq(text).toDF("text")
      .select(expr(Portable.toksSpark("text"))).as[Seq[String]].head()
    assert(split == text.toLowerCase.split(" ", -1).toSeq)
  }
}
