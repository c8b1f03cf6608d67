package graft

import graft.functions.Exact
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck algebraic laws (SURVEY §5): dedup idempotence, multi-file
  * union commutativity, partition-layout invariance of exact sums, and
  * parquet round-trip fidelity — each over arbitrary generated inputs,
  * not fixtures.
  */
object LawsCheck extends Properties("graft.laws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each case spins Spark jobs; keep it tight

  private lazy val spark = GraftSession.local()
  import spark.implicits._

  private val rows: Gen[List[(Int, Int)]] =
    Gen.listOfN(40, Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 3)))

  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  property("dropDuplicates is idempotent") = Prop.forAll(rows) { xs =>
    val df = xs.toDF("k", "v")
    val once = df.dropDuplicates("k", "v")
    multiset(once.dropDuplicates("k", "v")) == multiset(once)
  }

  property("multi-file scan is union-commutative") = Prop.forAll(rows) { xs =>
    val (l, r) = xs.splitAt(xs.length / 2)
    val dir = TempDirs.create("laws-union")
    l.toDF("k", "v").write.mode("overwrite").parquet(s"$dir/a")
    r.toDF("k", "v").write.mode("overwrite").parquet(s"$dir/b")
    val ab = spark.read.parquet(s"$dir/a", s"$dir/b")
    val ba = spark.read.parquet(s"$dir/b", s"$dir/a")
    multiset(ab) == multiset(ba)
  }

  property("dsum is partition-layout invariant") =
    Prop.forAll(Gen.listOfN(60, Gen.chooseNum(-1e6, 1e6)),
        Gen.chooseNum(1, 24)) { (xs, parts) =>
      val df = xs.toDF("x")
      def total(p: Int) = df.repartition(p)
        .agg(Exact.dsum(col("x"))).head().getDouble(0)
      total(1) == total(parts)
    }

  property("intersectAll + exceptAll partition the left multiset") =
    Prop.forAll(rows, rows) { (xs, ys) =>
      val x = xs.toDF("k", "v")
      val y = ys.toDF("k", "v")
      val inter = multiset(x.intersectAll(y))
      val diff = multiset(x.exceptAll(y))
      val merged = (inter.keySet ++ diff.keySet).map { k =>
        k -> (inter.getOrElse(k, 0) + diff.getOrElse(k, 0))
      }.toMap
      merged == multiset(x)
    }

  // q42's recall guarantee: with 4 bands of 15 bits over a 60-bit simhash,
  // any pair within hamming distance 3 shares at least one full band
  // (pigeonhole: 3 flipped bits can touch at most 3 of the 4 bands). Pure
  // bit math — no Spark job — so it runs at full ScalaCheck volume.
  property("simhash 15-bit banding recalls every hamming<=3 pair") =
    Prop.forAll(
        Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_ & ((1L << 60) - 1)),
        Gen.listOfN(3, Gen.chooseNum(0, 59))) { (a, flips) =>
      val b = flips.distinct.foldLeft(a)((s, i) => s ^ (1L << i))
      (0 until 4).exists(j => ((a >> (15 * j)) & 32767L) ==
        ((b >> (15 * j)) & 32767L))
    }

  // q317's wide-band variant: 3 bands of 20 bits guarantee recall of
  // every hamming<=2 pair (2 flipped bits touch at most 2 of 3 bands).
  property("simhash 20-bit banding recalls every hamming<=2 pair") =
    Prop.forAll(
        Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_ & ((1L << 60) - 1)),
        Gen.listOfN(2, Gen.chooseNum(0, 59))) { (a, flips) =>
      val b = flips.distinct.foldLeft(a)((s, i) => s ^ (1L << i))
      (0 until 3).exists(j => ((a >> (20 * j)) & 1048575L) ==
        ((b >> (20 * j)) & 1048575L))
    }

  // q48's engine: distributed min-label propagation must agree with a
  // driver-side union-find on arbitrary small graphs (chains, cycles,
  // self-loops, parallel edges — whatever the generator produces).
  property("connectedComponents agrees with union-find") =
    Prop.forAll(
        Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L)))
          .suchThat(_.nonEmpty)) { es =>
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(v => v -> find(v)).toMap
      val got = graft.queries.Dedup.connectedComponents(
          es.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expected
    }

  // q104's layout guarantee: the Morton code is monotone in each
  // coordinate when the other is fixed — so sorting by it co-locates
  // axis-aligned ranges, which is exactly what makes file min/max stats
  // prune 2-D predicates after a Z-ordered write. Pure bit math, full
  // ScalaCheck volume. Domain per the Morton2 scaladoc: x < 2³², y < 2³¹
  // (y's bit 31 would hit the sign bit — the generator found exactly
  // that edge when it ranged over the full 32 bits).
  property("morton2 is monotone per axis (the Z-order pruning property)") =
    Prop.forAll(
        Gen.chooseNum(0L, 0xFFFFFFFFL), Gen.chooseNum(0L, 0xFFFFFFFFL),
        Gen.chooseNum(0L, 0x7FFFFFFFL), Gen.chooseNum(0L, 0x7FFFFFFFL)) {
      (x1, x2, y1, y2) =>
      import graft.expressions.Morton2.interleave
      val (xa, xb) = (math.min(x1, x2), math.max(x1, x2))
      val (ya, yb) = (math.min(y1, y2), math.max(y1, y2))
      interleave(xa, ya) <= interleave(xb, ya) &&
        interleave(xa, ya) <= interleave(xa, yb) &&
        interleave(xa, ya) <= interleave(xb, yb)
    }

  // q396's scale core: the block-decomposed run-length stitcher
  // (per-cell local runs + bridged-boundary chains through single-run
  // interior blocks) must equal a plain driver-side fold over the
  // global (h, doc_id) order — for ARBITRARY shard/block/hash layouts
  // and NULL-bearing source sequences, not just the fixture's. The
  // block key derives from h (g = h div 8) so blocks are contiguous
  // h-ranges, the contract the stitcher requires.
  property("shardRunStats equals a driver-side global run fold") =
    Prop.forAll(Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 2L),
        Gen.chooseNum(0L, 31L),
        Gen.option(Gen.oneOf("a", "b", "c"))))) { xs =>
      val rows = xs.zipWithIndex.map { case ((sh, h, src), i) =>
        (sh, h / 8L, h, i.toLong, src.orNull)
      }
      val got = queries.Selection.shardRunStats(
          rows.toDF("shard", "g", "h", "doc_id", "source"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val expected = rows.groupBy(_._1).map { case (sh, rs) =>
        val ordered = rs.sortBy(r => (r._3, r._4)).map(_._5)
        val runs = ordered.foldLeft(List.empty[(String, Long)]) {
          case ((s, n) :: tl, src) if s == src => (s, n + 1) :: tl
          case (acc, src) => (src, 1L) :: acc
        }.map(_._2)
        sh -> ((runs.length.toLong, runs.max))
      }
      got == expected
    }

  // operators.BlockScan: the two-level running sum must equal a plain
  // driver-side running sum over the same total order, for negative and
  // duplicate values, one block holding every row, one block per row,
  // a few rows per block, and with or without a `by` key. The block key
  // is monotone in id, so the total order is (by, id).
  property("BlockScan.runningSums equals a driver-side running sum") =
    Prop.forAll(Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 2L),
        Gen.chooseNum(-5L, 5L))),
        Gen.oneOf("0L", "id", "id div 4"), Gen.oneOf(true, false)) {
      (xs, block, grouped) =>
        val rows = xs.zipWithIndex.map { case ((k, v), i) =>
          (if (grouped) k else 0L, 3L * i, v)
        }
        val got = graft.operators.BlockScan.runningSums(
            rows.toDF("k", "id", "v"), expr(block), Seq(col("id")),
            Seq("s" -> col("v"), "n" -> lit(1L)),
            by = if (grouped) Seq(col("k")) else Nil)
          .select(col("id"), col("s"), col("n")).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val expected = rows.groupBy(_._1).values.flatMap { rs =>
          val ordered = rs.sortBy(_._2)
          ordered.map(_._2).zip(ordered.map(_._3).scanLeft(0L)(_ + _).tail
            .zip(1L to ordered.length.toLong))
        }.toMap
        got == expected
    }

  property("parquet round-trip preserves the row multiset") =
    Prop.forAll(rows) { xs =>
      val dir = TempDirs.create("laws-rt")
      val df = xs.toDF("k", "v")
      df.write.mode("overwrite").parquet(s"$dir/t")
      multiset(spark.read.parquet(s"$dir/t")) == multiset(df)
    }

  // q359's Kendall-tau pair formula, as pure Scala over arbitrary
  // score lists: tau(milli) of a ranking against itself is exactly
  // 1000, against its reverse exactly -1000, and any scoring stays
  // inside [-1000, 1000] — the bounds the sign-pinned truncating
  // division must preserve on both engines.
  private def tauMilli(rank1: Seq[Int], rank2: Seq[Int]): Long = {
    val pairs = for {
      i <- rank1.indices; j <- rank1.indices
      if rank1(i) < rank1(j)
    } yield if (rank2(i) < rank2(j)) 1L else 0L
    val n = pairs.length
    val c = pairs.sum
    if (n == 0) 0L
    else if (2 * c >= n) ((2 * c - n) * 1000L) / n
    else -(((n - 2 * c) * 1000L) / n)
  }

  property("kendall tau-milli: identity=1000, reverse=-1000, bounded") =
    Prop.forAll(Gen.chooseNum(2, 12).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-50, 50)))) { scores =>
      val n = scores.length
      val id = scores.indices
      // rank by (score desc, index) — q359's total order
      val byScore = scores.zipWithIndex.sortBy { case (s, i) => (-s, i) }
        .map(_._2)
      val rankOf = byScore.zipWithIndex.toMap
      val r2 = id.map(rankOf)
      tauMilli(id, id) == 1000L &&
        tauMilli(id, id.reverse) == -1000L &&
        math.abs(tauMilli(id, r2)) <= 1000L
    }

  // q326/q360's Bloom bit-packing round trip: for ANY key set and any
  // word-packed geometry, every member's probe positions land on set
  // bits — the no-false-negative guarantee survives the bit_or word
  // encoding and the shift-probe decoding (what this law actually
  // exercises; set semantics make it true by construction, the packing
  // arithmetic is what can break).
  property("bloom word packing never loses a member bit") =
    Prop.forAll(Gen.listOfN(20, Gen.chooseNum(0L, 100000L)),
        Gen.oneOf(256, 1024)) { (keys, m) =>
      val df = keys.toDF("key")
      val pos = (0 until 3).map(i => graft.functions.Portable
        .h64Spark(s"concat('bf$i:', cast(key as string))") + s" % $m")
        .mkString("array(", ", ", ")")
      val bits = df.select(explode(expr(pos)).as("p"))
        .groupBy(expr("p div 32").as("word"))
        .agg(expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").as("bm"))
      val missed = df.select(col("key"), explode(expr(pos)).as("p"))
        .join(bits, expr("p div 32") === col("word"), "left")
        .filter(!expr("(bm >> cast(p % 32 as int)) & 1 = 1"))
      missed.isEmpty
    }
}
