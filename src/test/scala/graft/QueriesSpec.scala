package graft

import graft.queries.Registry

/** Smoke coverage for the whole declared operator inventory: every
  * registry query must plan and execute at sf0.001. Value correctness is
  * the DuckDB differential gate's job (tools/check.py at sf0.01); this
  * spec catches runtime regressions (analysis errors, bad casts, empty
  * registries) in seconds.
  */
class QueriesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("registry is non-empty, uniquely named, and oracle columns align") {
    val names = Registry.all.map(_.name)
    assert(names.nonEmpty)
    assert(names.distinct.size == names.size, "duplicate query names")
    // every oracle-bearing query's name appears in both driver maps
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  Registry.all.foreach { q =>
    test(s"${q.name} executes at sf0.001") {
      val df = q.run(spark, sfDir)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("connectedComponents: chains collapse, components stay separate") {
    import spark.implicits._
    // Two components: the chain 1-2-3-4 (near-dup transitivity — no single
    // pair connects 1 and 4) and the pair 10-11; 4 rounds of propagation
    // needed for the chain, exercising the convergence loop.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = graft.queries.Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  // ---- driver-side reference recomputation of the round-5 operators ------
  // The DuckDB gate (tools/check.py) is the primary oracle; these
  // re-derive the same answers with plain Scala collections, so a defect
  // that somehow slipped into BOTH SQL dialects identically would still
  // be caught by a third, non-SQL implementation.

  private def docsSorted: Array[(Long, Array[String])] =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split(" ", -1)) // -1: keep trailing empties, like Spark's split
      .sortBy(_._1)

  test("q49_chunk_dedup matches a driver-side keep-first reference") {
    val seen = scala.collection.mutable.Set[String]()
    val expect = docsSorted.map { case (id, t) =>
      val chunks = t.grouped(10).map(_.mkString(" ")).toSeq
      id -> ((chunks.size.toLong, chunks.count(seen.add).toLong))
    }.toMap
    val got = Registry.all.find(_.name == "q49_chunk_dedup").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }

  test("q57_repetition matches a driver-side metrics reference") {
    val expect = docsSorted.map { case (id, t) =>
      val counts = t.groupBy(identity).view.mapValues(_.size)
      val n = t.length.toLong
      val topC = counts.values.max.toLong
      val bgs = t.sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
      id -> ((n, counts.size.toLong, topC,
        topC.toDouble / n,
        1.0 - counts.size.toDouble / n,
        if (bgs.isEmpty) null
        else 1.0 - bgs.distinct.size.toDouble / bgs.size))
    }.toMap
    val rows = Registry.all.find(_.name == "q57_repetition").get
      .run(spark, sfDir).collect()
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (n, nd, topC, topF, dupT, dupB) = expect(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == nd && r.getLong(3) == topC)
      assert(r.getDouble(4) == topF && r.getDouble(5) == dupT)
      if (dupB == null) assert(r.isNullAt(6))
      else assert(r.getDouble(6) == dupB.asInstanceOf[Double])
      // gate consistency: keep recomputed from this row's own fractions
      val keepRef = r.getDouble(4) <= 0.12 &&
        (r.isNullAt(6) || r.getDouble(6) <= 0.05)
      assert(r.getBoolean(7) == keepRef)
    }
    // thresholds split the fixture non-trivially
    assert(rows.exists(_.getBoolean(7)) && rows.exists(!_.getBoolean(7)))
  }

  test("q58_incremental_dedup matches a driver-side ledger reference") {
    def fp(t: Array[String]): String = {
      val norm = t.distinct.sorted.mkString(" ")
      java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    }
    val all = docsSorted.map { case (id, t) => (id, fp(t)) }
    val ledger = all.collect { case (id, f) if id < 250 => f }.toSet
    val seen = scala.collection.mutable.Set[String]()
    val expect = all.collect {
      case (id, f) if id >= 250 && !ledger(f) && seen.add(f) => id
    }.toSet
    val got = Registry.all.find(_.name == "q58_incremental_dedup").get
      .run(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("q59_label_centroids matches a driver-side quantized reference") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    // round-half-away-from-zero, like Spark/DuckDB round(x, 0)
    def q(x: Float): Long = BigDecimal(x.toDouble * 1000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expect = vecs.flatMap { case (label, e) =>
      e.zipWithIndex.map { case (x, dim) => (label, dim) -> q(x) }
    }.groupBy(_._1).map { case (k, vs) =>
      k -> ((vs.length.toLong, vs.map(_._2).sum))
    }
    val got = Registry.all.find(_.name == "q59_label_centroids").get
      .run(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, (n, centroid)) =>
      val (en, esum) = expect(k)
      assert(n == en)
      assert(centroid == esum.toDouble / (en * 1000), s"centroid at $k")
    }
  }

  // ---- round-5 operators: independent Scala recomputation ------------------

  /** The Portable.h64 hash (15-hex-digit md5 prefix) in plain Scala. */
  private def h64(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15), 16)

  private def cents(price: Double): Long = BigDecimal(price * 100)
    .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private case class Ev(id: Long, ts: java.time.LocalDateTime, user: Long,
      typ: String, value: Double)

  private def eventsLocal: Array[Ev] =
    // Tables.load, not a raw read: events.ts is INT64 TIMESTAMP(NANOS)
    // which the session reads as a long (nanosAsLong) and Tables converts
    // to TIMESTAMP_NTZ — the type every query sees.
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value").collect()
      .map(r => Ev(r.getLong(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getString(3), r.getDouble(4)))

  test("q99_merge_upsert matches a driver-side MERGE reference") {
    val cut = java.time.LocalDateTime.parse("2024-01-20T00:00:00")
    def latest(evs: Array[Ev]): Map[Long, Ev] =
      evs.groupBy(_.user).view
        .mapValues(_.maxBy(e => (e.ts.toInstant(java.time.ZoneOffset.UTC)
          .toEpochMilli, e.id))).toMap
    val tgt = latest(eventsLocal.filter(_.ts.isBefore(cut)))
    val src = latest(eventsLocal.filterNot(_.ts.isBefore(cut)))
    val expect = (tgt.keySet ++ src.keySet).map { u =>
      val pick = src.getOrElse(u, tgt(u))
      val action =
        if (!src.contains(u)) "keep"
        else if (!tgt.contains(u)) "insert" else "update"
      u -> ((pick.typ, pick.value, pick.ts, action))
    }.toMap
    val got = Registry.all.find(_.name == "q99_merge_upsert").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
        r.getAs[java.time.LocalDateTime](3), r.getString(4)))).toMap
    assert(got == expect)
  }

  test("q100/q103: mix targets and reservoir picks match hash references") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // q100: integer temperature weights, then hash-ranked picks per lang.
    val byLang = docs.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val wsq = byLang.view.mapValues(ids =>
      math.floor(math.sqrt(ids.size.toDouble)).toLong).toMap
    val denom = wsq.values.sum
    val expect100 = byLang.map { case (lang, ids) =>
      val target = math.min(1000L * wsq(lang) / denom, ids.size.toLong)
      val picked = ids.sortBy(id => (h64(id.toString), id))
        .take(target.toInt)
      lang -> ((ids.size.toLong, target, picked.size.toLong, picked.sum))
    }
    val got100 = Registry.all.find(_.name == "q100_domain_mix").get
      .run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got100 == expect100)
    // q103: exact-k hash reservoir per source.
    val expect103 = docs.groupBy(_._3).toSeq.flatMap { case (src, ds) =>
      ds.map(_._1).sortBy(id => (h64(id.toString), id)).take(5)
        .zipWithIndex.map { case (id, i) => (src, id) -> (i + 1) }
    }.toMap
    val got103 = Registry.all.find(_.name == "q103_group_reservoir").get
      .run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got103 == expect103)
  }

  test("q101/q102: histogram and equi-depth bins match local references") {
    val cs = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_extendedprice").collect().map(r => cents(r.getDouble(0)))
    val (mn, mx) = (cs.min, cs.max)
    val expect101 = cs.groupBy(c => (c - mn) * 20 / (mx - mn + 1))
      .map { case (b, v) =>
        b -> ((v.length.toLong, v.min.toDouble / 100, v.max.toDouble / 100)) }
    val got101 = Registry.all.find(_.name == "q101_histogram").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(got101 == expect101)
    // SQL-standard percentile_cont: rank h = (n-1)p, two-product linear
    // interpolation — the exact IEEE form both engines evaluate (see
    // operators.Quantiles scaladoc).
    val sorted = cs.sorted
    val cuts = (1 to 9).map { i =>
      val h = (sorted.length - 1) * (i / 10.0)
      val frac = h - h.toInt
      (1.0 - frac) * sorted(h.toInt).toDouble +
        frac * sorted(math.ceil(h).toInt).toDouble
    }
    val expect102 = cs.groupBy(c => cuts.count(c > _).toLong)
      .map { case (b, v) =>
        b -> ((v.length.toLong, v.min.toDouble / 100, v.max.toDouble / 100)) }
    val got102 = Registry.all.find(_.name == "q102_equidepth_bins").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(got102 == expect102)
  }

  test("q104_zorder matches a Morton reference on lineitem") {
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_extendedprice", "l_quantity").collect()
      .map(r => (math.floor(r.getDouble(0)).toLong,
        math.floor(r.getDouble(1)).toLong))
    val expect = rows.groupBy { case (px, qy) =>
        graft.expressions.Morton2.interleave(px, qy) >> 16 }
      .map { case (zb, v) =>
        zb -> ((v.length.toLong, v.map(_._1).min, v.map(_._1).max,
          v.map(_._2).min, v.map(_._2).max)) }
    val got = Registry.all.find(_.name == "q104_zorder").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == expect)
  }

  test("q108_kmeans_step matches an exact-integer Lloyd reference") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    def q(x: Float): Long = BigDecimal(x.toDouble * 1000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val qvecs = vecs.map { case (id, e) => id -> e.map(q) }
    val seeds = qvecs.filter(_._1 < 10)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val expect = qvecs.map { case (id, v) =>
      val best = seeds.map { case (cid, c) => (d2(v, c), cid) }.min
      (best._2, v(0))
    }.groupBy(_._1).map { case (cid, as) =>
      cid -> ((as.length.toLong, as.map(_._2).sum)) }
    val got = Registry.all.find(_.name == "q108_kmeans_step").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }

  test("q109_cohort_retention matches a first-seen-date reference") {
    val evs = eventsLocal
    val firstDay = evs.groupBy(_.user).view
      .mapValues(_.map(_.ts.toLocalDate).min(
        Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))).toMap
    val expect = evs.map(e => (e.user, firstDay(e.user),
        java.time.temporal.ChronoUnit.DAYS.between(
          firstDay(e.user), e.ts.toLocalDate).toInt))
      .distinct
      .groupBy(t => (t._2, t._3)).view.mapValues(_.size.toLong).toMap
    val got = Registry.all.find(_.name == "q109_cohort_retention").get
      .run(spark, sfDir).collect()
      .map(r => (r.getAs[java.sql.Date](0).toLocalDate, r.getInt(1)) ->
        r.getLong(2)).toMap
    assert(got == expect)
  }

  test("q110_fuzzy_join matches a blocked-Levenshtein reference") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_name").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val pairs = names.groupBy(_._2.take(16)).values.toSeq.flatMap { blk =>
      val bs = blk.toSeq
      for {
        a <- bs; b <- bs
        if a._1 < b._1 && lev(a._2, b._2) <= 1
      } yield (a._1, b._1)
    }
    val expect = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view
      .mapValues(ns => (ns.size.toLong, ns.map(_._2).min)).toMap
    val got = Registry.all.find(_.name == "q110_fuzzy_join").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }

  test("q111_gap_fill: dense spine, zero-filled gaps, carried values") {
    val got = Registry.all.find(_.name == "q111_gap_fill").get
      .run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date](1).toLocalDate,
        r.getLong(2), r.getDouble(3)))
    val byUser = got.groupBy(_._1)
    val evs = eventsLocal.groupBy(_.user)
    assert(byUser.keySet == evs.keySet)
    byUser.foreach { case (u, rows) =>
      val days = rows.map(_._2).sorted
      // spine is DENSE: every day between first and last, exactly once
      assert(days.distinct.length == days.length)
      assert(java.time.temporal.ChronoUnit.DAYS.between(
        days.head, days.last) + 1 == days.length, s"user $u spine has gaps")
      assert(days.head == evs(u).map(_.ts.toLocalDate).min(
        Ordering.fromLessThan[java.time.LocalDate](_ isBefore _)))
      // gap days have zero events but a carried (non-NaN) value
      val real = evs(u).map(_.ts.toLocalDate).toSet
      rows.foreach { case (_, day, n, carried) =>
        if (!real(day)) assert(n == 0L)
        else assert(n == evs(u).count(_.ts.toLocalDate == day).toLong)
        assert(!carried.isNaN)
      }
    }
  }

  test("q112_cooccurrence matches a per-order pair reference") {
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val expect = rows.groupBy(_._1).values.toSeq.flatMap { items =>
      val ps = items.map(_._2).sorted.toSeq
      for { a <- ps; b <- ps if a < b } yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2).toMap
    val got = Registry.all.find(_.name == "q112_cooccurrence").get
      .run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expect)
  }

  test("q113_weighted_sample matches an integer-gate reference") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mc = docs.map(_._3).max
    val expect = docs.groupBy(_._2).view.mapValues { ds =>
      val kept = ds.filter(d => h64(d._1.toString) % 10000 <
        d._3 * 10000 / mc)
      (ds.length.toLong, kept.length.toLong, kept.map(_._1).sum)
    }.toMap
    val got = Registry.all.find(_.name == "q113_weighted_sample").get
      .run(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect)
    // the gate is genuinely weighted: longer docs keep more often overall
    val (n, k) = (expect.values.map(_._1).sum, expect.values.map(_._2).sum)
    assert(k > 0 && k < n)
  }

  /** Exact.dsum's tail conversion in plain Scala: BigDecimal grid sum →
    * round-4 → int/fraction split → one IEEE add.
    */
  private def gridToDouble(vals: Seq[Double]): Double = {
    val sum = vals.map(BigDecimal(_)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
      .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val ip = sum.setScale(0, BigDecimal.RoundingMode.FLOOR)
    ip.toLong.toDouble + (sum - ip).toDouble
  }

  test("q114_incr_agg: merged partials equal a full-recompute reference") {
    val expect = eventsLocal.groupBy(_.user).map { case (u, es) =>
      u -> ((es.length.toLong, gridToDouble(es.map(_.value).toSeq)))
    }
    val got = Registry.all.find(_.name == "q114_incr_agg").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expect)
  }

  test("q115_pagerank matches a grid-rounded power-iteration reference") {
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = rows.groupBy(_._1).values.toSeq.flatMap { items =>
      val ps = items.map(_._2).sorted.toSeq
      for { a <- ps; b <- ps if a < b } yield (a, b)
    }.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val edges = pairs ++ pairs.map(p => (p._2, p._1)) // both directions
    val nbrsOf = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var pr = deg.keys.map(_ -> 1.0).toMap
    for (_ <- 1 to 3)
      pr = nbrsOf.map { case (v, us) =>
        v -> (0.15 + 0.85 * gridToDouble(us.map(u => pr(u) / deg(u))))
      }
    val got = Registry.all.find(_.name == "q115_pagerank").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == pr.keySet)
    got.foreach { case (part, (dg, p)) =>
      assert(dg == deg(part))
      assert(p == pr(part), s"rank at $part")
    }
  }

  test("q116_event_paths matches an ordered-transition reference") {
    val expect = eventsLocal.groupBy(_.user).values.toSeq.flatMap { es =>
      es.sortBy(e => (e.ts.toInstant(java.time.ZoneOffset.UTC)
        .toEpochMilli, e.id))
        .sliding(2).filter(_.length == 2)
        .map(p => (p(0).typ, p(1).typ)).toSeq
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Registry.all.find(_.name == "q116_event_paths").get
      .run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expect)
  }

  test("q117_anomaly_flags matches a grid-moment z-score reference") {
    val flagged = eventsLocal.groupBy(_.user).values.toSeq.flatMap { es =>
      val n = es.length
      val sx = gridToDouble(es.map(_.value).toSeq)
      val sxx = gridToDouble(es.map(e => e.value * e.value).toSeq)
      if (n <= 1) Seq.empty
      else es.toSeq.flatMap { e =>
        val z = (e.value - sx / n) /
          math.sqrt((sxx - sx * sx / n) / (n - 1))
        if (math.abs(z) > 3) Seq(e.id -> z) else Seq.empty
      }
    }.toMap
    val got = Registry.all.find(_.name == "q117_anomaly_flags").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got == flagged)
  }

  test("q118_topk_agg matches the top-5 value multiset per group") {
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> cents(r.getDouble(1)))
    val expect = rows.groupBy(_._1).toSeq.flatMap { case (flag, vs) =>
      vs.map(_._2).sorted(Ordering[Long].reverse).take(5).toSeq
        .zipWithIndex.map { case (v, i) => (flag, i + 1) -> v }
    }.toMap
    val got = Registry.all.find(_.name == "q118_topk_agg").get
      .run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == expect)
  }

  test("q119_gap_islands matches a consecutive-run reference") {
    val expect = eventsLocal.groupBy(_.user).toSeq.flatMap { case (u, es) =>
      val days = es.map(_.ts.toLocalDate).distinct
        .sorted(Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
      // split into maximal runs of consecutive days
      days.foldLeft(List.empty[List[java.time.LocalDate]]) {
        case (acc @ (run @ (last :: _)) :: rest, d)
            if last.plusDays(1) == d => (d :: run) :: rest
        case (acc, d) => List(d) :: acc
      }.map(run => (u, run.last, run.head, run.length.toLong))
    }.toSet
    val got = Registry.all.find(_.name == "q119_gap_islands").get
      .run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date](1).toLocalDate,
        r.getAs[java.sql.Date](2).toLocalDate, r.getLong(3))).toSet
    assert(got == expect)
  }

  test("q120_mode matches a deterministic-tiebreak reference") {
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => r.getString(0) -> math.floor(r.getDouble(1)).toLong)
    val expect = rows.groupBy(_._1).view.mapValues { vs =>
      val counts = vs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      // max count; ties broken by SMALLEST value
      val best = counts.toSeq.minBy { case (q, n) => (-n, q) }
      (best._2, best._1)
    }.toMap
    val got = Registry.all.find(_.name == "q120_mode").get
      .run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }

  test("q105_decay_agg matches a decimal-grid decay reference") {
    val evs = eventsLocal
    val tmax = evs.map(_.ts.toInstant(java.time.ZoneOffset.UTC)
      .toEpochMilli).max
    val expect = evs.groupBy(_.user).map { case (u, es) =>
      val sum = es.map { e =>
        val k = math.min((tmax - e.ts.toInstant(java.time.ZoneOffset.UTC)
          .toEpochMilli) / 86400000L, 40L)
        // per-row IEEE product, then the Exact decimal grid
        BigDecimal(e.value * math.pow(0.5, k.toDouble))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum.setScale(4, BigDecimal.RoundingMode.HALF_UP)
      val ip = sum.setScale(0, BigDecimal.RoundingMode.FLOOR)
      u -> ((es.length.toLong,
        ip.toLong.toDouble + (sum - ip).toDouble))
    }
    val got = Registry.all.find(_.name == "q105_decay_agg").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expect)
  }

  // ---- Warehouse operators: independent Scala recomputation ----------------

  test("q121_skyline matches a brute-force dominance reference") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.split(" ", -1).distinct.length.toLong,
        r.getLong(2)))
    val pairs = docs.groupBy(d => (d._3, d._2)).map { case ((m1, m2), v) =>
      (m1, m2, v.length.toLong, v.map(_._1).min)
    }.toSeq
    val expect = pairs.filter { case (m1, m2, _, _) =>
      !pairs.exists { case (o1, o2, _, _) =>
        o1 >= m1 && o2 >= m2 && (o1 > m1 || o2 > m2) }
    }.map(p => (p._1, p._2) -> ((p._3, p._4))).toMap
    val got = Registry.all.find(_.name == "q121_skyline").get
      .run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("q122_scd2 matches a run-compression reference") {
    val expect = eventsLocal.groupBy(_.user).toSeq.flatMap { case (u, es) =>
      val ordered = es.sortBy(e =>
        (e.ts.toInstant(java.time.ZoneOffset.UTC).toEpochMilli, e.id))
      val kept = ordered.foldLeft(Vector.empty[Ev]) { (acc, e) =>
        if (acc.isEmpty || acc.last.typ != e.typ) acc :+ e else acc
      }
      kept.zipWithIndex.map { case (e, i) =>
        (u, i + 1L) -> ((e.typ, e.ts,
          if (i + 1 < kept.size) Some(kept(i + 1).ts) else None))
      }
    }.toMap
    val got = Registry.all.find(_.name == "q122_scd2").get
      .run(spark, sfDir).collect().map { r =>
        (r.getLong(0), r.getLong(4)) -> ((r.getString(1),
          r.getAs[java.time.LocalDateTime](2),
          Option(r.getAs[java.time.LocalDateTime](3))))
      }.toMap
    assert(got.map { case (k, (ty, from, to)) => k -> ((ty, from, to)) }
      == expect)
    // is_current holds exactly for interval-less versions
    val cur = Registry.all.find(_.name == "q122_scd2").get
      .run(spark, sfDir).collect()
    cur.foreach(r => assert(r.getBoolean(5) == r.isNullAt(3)))
  }

  test("q124_robust_stats matches an interpolated-quantile reference") {
    // SQL-standard percentile_cont on doubles: two-product interpolation
    // (see operators.Quantiles scaladoc for why this exact form).
    def qc(sorted: Array[Double], p: Double): Double = {
      val h = (sorted.length - 1) * p
      val frac = h - h.toInt
      (1.0 - frac) * sorted(h.toInt) + frac * sorted(math.ceil(h).toInt)
    }
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> cents(r.getDouble(1)))
    val expect = rows.groupBy(_._1).map { case (rf, v) =>
      val cs = v.map(_._2.toDouble).sorted
      val (p05, med, p95) = (qc(cs, 0.05), qc(cs, 0.5), qc(cs, 0.95))
      val mad = qc(v.map(c => math.abs(c._2.toDouble - med)).sorted, 0.5)
      val wsum = v.map { c =>
        BigDecimal(math.min(math.max(c._2.toDouble, p05), p95) / 100)
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum.setScale(4, BigDecimal.RoundingMode.HALF_UP)
      val ip = wsum.setScale(0, BigDecimal.RoundingMode.FLOOR)
      val winsor = (ip.toLong.toDouble + (wsum - ip).toDouble) / v.length
      rf -> ((med / 100, p05 / 100, p95 / 100, mad / 100, winsor))
    }
    val got = Registry.all.find(_.name == "q124_robust_stats").get
      .run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got == expect)
  }

  test("q125_transitions matches a pair-count reference") {
    val pairs = eventsLocal.groupBy(_.user).toSeq.flatMap { case (_, es) =>
      es.sortBy(e =>
          (e.ts.toInstant(java.time.ZoneOffset.UTC).toEpochMilli, e.id))
        .sliding(2).filter(_.length == 2)
        .map(w => (w(0).typ, w(1).typ)).toSeq
    }
    val ab = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val a = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expect = ab.map { case ((f, t2), n) =>
      (f, t2) -> ((n, n.toDouble / a(f))) }
    val got = Registry.all.find(_.name == "q125_transitions").get
      .run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expect)
  }

  test("q126_novelty matches a first-occurrence reference") {
    val tris = docsSorted.map { case (id, t) =>
      id -> t.sliding(3).filter(_.length == 3).map(_.mkString(" "))
        .toArray.distinct
    }.filter(_._2.nonEmpty)
    val firstDoc = tris.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expect = tris.map { case (id, gs) =>
      val novel = gs.count(firstDoc(_) == id).toLong
      id -> ((gs.length.toLong, novel, novel.toDouble / gs.length))
    }.toMap
    val got = Registry.all.find(_.name == "q126_novelty").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got == expect)
  }

  test("q127_attribution matches a last-touch reference") {
    val lookback = 7L * 86400000L
    def ms(t: java.time.LocalDateTime): Long =
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val expect = eventsLocal.groupBy(_.user).collect {
      case (u, es) if es.exists(_.typ == "purchase") =>
        val ordered = es.sortBy(e => (ms(e.ts), e.id))
        var lastClick = Option.empty[Long]
        val hits = ordered.flatMap { e =>
          val r = if (e.typ == "purchase")
            Some((e.value,
              lastClick.exists(c => ms(e.ts) - c <= lookback)))
          else None
          if (e.typ == "click") lastClick = Some(ms(e.ts))
          r
        }
        val attrSum = hits.collect { case (v, true) => BigDecimal(v)
            .setScale(10, BigDecimal.RoundingMode.HALF_UP) }
          .sum.setScale(4, BigDecimal.RoundingMode.HALF_UP)
        val ip = attrSum.setScale(0, BigDecimal.RoundingMode.FLOOR)
        u -> ((hits.length.toLong, hits.count(_._2).toLong,
          ip.toLong.toDouble + (attrSum - ip).toDouble))
    }
    val got = Registry.all.find(_.name == "q127_attribution").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got == expect)
  }

  test("q129_twa matches an interval-weighted reference") {
    def ms(t: java.time.LocalDateTime): Long =
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val expect = eventsLocal.groupBy(_.user).collect {
      case (u, es) if es.length >= 2 =>
        val ordered = es.sortBy(e => (ms(e.ts), e.id))
        val ivs = ordered.sliding(2).filter(_.length == 2)
          .map(w => (w(0).value, ms(w(1).ts) - ms(w(0).ts))).toSeq
        val total = ivs.map(_._2).sum
        val vsum = ivs.map { case (v, dur) => BigDecimal(v * dur)
            .setScale(10, BigDecimal.RoundingMode.HALF_UP) }
          .sum.setScale(4, BigDecimal.RoundingMode.HALF_UP)
        val ip = vsum.setScale(0, BigDecimal.RoundingMode.FLOOR)
        val vd = ip.toLong.toDouble + (vsum - ip).toDouble
        u -> ((ivs.length.toLong, total,
          if (total == 0) None else Some(vd / total)))
    }
    val got = Registry.all.find(_.name == "q129_twa").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got == expect)
  }

  test("q130_embedding_qa flags exactly the above-p99 norms") {
    def q(x: Float): Long = BigDecimal(x.toDouble * 1000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("label", "embedding").collect()
      .map(r => r.getInt(0) ->
        r.getSeq[Float](1).map(x => { val v = q(x); v * v }).sum)
    val sorted = vecs.map(_._2.toDouble).sorted
    val h = (sorted.length - 1) * 0.99
    val frac = h - h.toInt
    val p99 = (1.0 - frac) * sorted(h.toInt) +
      frac * sorted(math.ceil(h).toInt)
    val expect = vecs.groupBy(_._1).map { case (l, v) =>
      l -> ((v.length.toLong, v.count(_._2.toDouble > p99).toLong,
        v.map(_._2).min, v.map(_._2).max))
    }
    val got = Registry.all.find(_.name == "q130_embedding_qa").get
      .run(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect)
  }

  test("q131_cms: relational count-min sketch matches a Scala rebuild") {
    val keys = eventsLocal.map(_.typ)
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val grid = scala.collection.mutable.Map[(Int, Long), Long]()
      .withDefaultValue(0L)
    keys.foreach { k =>
      (0 until 3).foreach { i =>
        grid((i, h64(s"$k#$i") % 1024)) += 1L
      }
    }
    val expect = exact.map { case (k, n) =>
      val est = (0 until 3).map(i => grid((i, h64(s"$k#$i") % 1024))).min
      k -> ((n, est, est >= n))
    }
    val got = Registry.all.find(_.name == "q131_cms").get
      .run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    assert(got == expect)
    assert(got.values.forall(_._3), "CMS must never underestimate")
  }

  test("q132_concurrency matches a driver-side sweep line") {
    def ms(t: java.time.LocalDateTime): Long =
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val pts = eventsLocal.flatMap { e =>
      Seq((ms(e.ts), 1, e.id, e.ts),
        (ms(e.ts.plusMinutes(15)), -1, e.id, e.ts.plusMinutes(15)))
    }.sortBy { case (t, d, id, _) => (t, d, id) }
    var running = 0L
    val runs = pts.map { case (_, d, _, t) =>
      running += d; (t.toLocalDate, running)
    }
    val expect = runs.groupBy(_._1).map { case (day, v) =>
      day -> ((v.length.toLong, v.map(_._2).max))
    }
    val got = Registry.all.find(_.name == "q132_concurrency").get
      .run(spark, sfDir).collect()
      // DateType rows carry java.sql.Date (java8 datetime API off)
      .map(r => r.getDate(0).toLocalDate ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
    // sanity: concurrency returns to zero at the end of the sweep
    assert(running == 0L)
  }

  test("q133_dq_checks matches driver-side rule recomputation") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        Option(r.getAs[java.time.LocalDateTime](3))))
    val orderKeys = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val cutoff = java.time.LocalDateTime.parse("1998-12-31T00:00:00")
    val expect = Map(
      "null_shipdate" -> li.count(_._4.isEmpty).toLong,
      "quantity_range" -> li.count(r => r._3 < 1 || r._3 > 50).toLong,
      "future_shipdate" -> li.count(_._4.exists(_.isAfter(cutoff))).toLong,
      "duplicate_line_key" ->
        (li.length - li.map(r => (r._1, r._2)).distinct.length).toLong,
      "orphan_orderkey" -> li.count(r => !orderKeys(r._1)).toLong)
    val got = Registry.all.find(_.name == "q133_dq_checks").get
      .run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got.view.mapValues(_._1).toMap == expect)
    got.foreach { case (rule, (v, pass)) =>
      assert(pass == (v == 0L), s"$rule pass flag inconsistent")
    }
  }

  test("q134_hll registers and estimate bound match a Scala rebuild") {
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_returnflag", "l_partkey").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val field = 1L << 54
    val estNum = 0.7213 / (1 + 1.079 / 64) * 64 * 64 * math.pow(2, 56)
    val expect = rows.groupBy(_._1).map { case (g, v) =>
      val regs = scala.collection.mutable.Map[Long, Int]()
      v.foreach { case (_, pk) =>
        val h = h64(pk.toString)
        val (bucket, rest) = (h / field, h % field)
        val rho =
          if (rest == 0) 55
          else 55 - java.lang.Long.toBinaryString(rest).length
        regs(bucket) = math.max(regs.getOrElse(bucket, 0), rho)
      }
      val zp = regs.values.map(m => 1L << (56 - m)).sum
      val zScaled = zp + (64L - regs.size) * (1L << 56)
      val exact = v.map(_._2).distinct.length.toLong
      g -> ((exact, zScaled, 64L - regs.size,
        math.abs(estNum / zScaled - exact) <= 0.25 * exact))
    }
    val got = Registry.all.find(_.name == "q134_hll").get
      .run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == expect)
    assert(got.values.forall(_._4), "HLL estimate outside the 25% bound")
  }

  test("q135_triangles matches a driver-side brute-force count") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).distinct
    val pairCounts = li.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size)
    val edges = pairCounts.filter(_._2 >= 2).keys.toArray
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val nodes = adj.keys.toArray
    val wedges = nodes.map(v => { val d = adj(v).size.toLong
      d * (d - 1) / 2 }).sum
    // each triangle counted once: third vertex strictly above the edge
    val triangles = edges.map { case (a, b) =>
      (adj(a) & adj(b)).count(_ > b).toLong
    }.sum
    val row = Registry.all.find(_.name == "q135_triangles").get
      .run(spark, sfDir).collect().head
    assert(row.getLong(0) == nodes.length.toLong, "n_nodes")
    assert(row.getLong(1) == edges.length.toLong, "n_edges")
    assert(row.getLong(2) == wedges, "wedges")
    assert(row.getLong(3) == triangles, "n_triangles")
  }

  test("q137_auc matches a driver-side all-pairs count") {
    val os = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getString(0) == "F", r.getDouble(1)))
    val pos = os.filter(_._1).map(_._2)
    val neg = os.filterNot(_._1).map(_._2)
    var gt = 0L; var eq = 0L
    for (p <- pos; n <- neg) {
      if (p > n) gt += 1 else if (p == n) eq += 1
    }
    val row = Registry.all.find(_.name == "q137_auc").get
      .run(spark, sfDir).collect().head
    assert(row.getLong(0) == pos.length.toLong, "n_pos")
    assert(row.getLong(1) == neg.length.toLong, "n_neg")
    assert(row.getLong(2) == gt, "pairs_gt")
    assert(row.getLong(3) == eq, "pairs_eq")
    val auc = (2.0 * gt + eq) / (2.0 * pos.length * neg.length)
    assert(math.abs(row.getDouble(4) - auc) < 1e-12, "auc")
  }

  test("q139_bloom invariants: zero false negatives, exact positive split") {
    val row = Registry.all.find(_.name == "q139_bloom").get
      .run(spark, sfDir).collect().head
    val (members, bloomPos, fp, fn) =
      (row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5))
    assert(fn == 0L, "a Bloom filter can never false-negative")
    assert(bloomPos == members + fp,
      "positives must decompose into members + false positives")
    assert(row.getLong(1) <= 3L * row.getLong(0),
      "bits_set cannot exceed k * n_keys")
  }

  test("q141_interval_union matches a driver-side merge") {
    val ev = graft.Tables.load(spark, sfDir, "events")
      .selectExpr("user_id", "unix_millis(cast(ts as timestamp)) as s")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val hold = 15L * 60000L
    val expect = ev.groupBy(_._1).map { case (u, xs) =>
      val iv = xs.map(_._2).sorted.map(s => (s, s + hold))
      val merged = iv.foldLeft(List.empty[(Long, Long)]) {
        case (Nil, i) => List(i)
        case ((cs, ce) :: t, (s, e)) =>
          if (s > ce) (s, e) :: (cs, ce) :: t
          else (cs, math.max(ce, e)) :: t
      }
      val covered = merged.map { case (s, e) => e - s }.sum
      val span = iv.map(_._2).max - iv.head._1
      u -> ((xs.length.toLong, merged.length.toLong, covered, span))
    }
    val got = Registry.all.find(_.name == "q141_interval_union").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect)
  }

  test("q128_cluster_rep picks the longest member of each q48 component") {
    val comps = Registry.all.find(_.name == "q48_dedup_components").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val chars = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = comps.groupBy(_._2).map { case (c, ms) =>
      val members = ms.map(_._1)
      val rep = members.minBy(id => (-chars(id), id))
      c -> ((rep, chars(rep), members.length.toLong))
    }
    val got = Registry.all.find(_.name == "q128_cluster_rep").get
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got == expect)
  }

  // ---- driver-side reference recomputation of the round-8 operators ------
  // Same rationale as above: the DuckDB differential gate is the primary
  // oracle, but a plain-Scala third implementation catches a defect that
  // somehow landed identically in both SQL dialects.

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def round4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q226_mann_whitney matches a driver-side rank-sum reference") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_type", "value").collect()
      .filter(r => Seq("click", "view").contains(r.getString(0)))
      .map(r => (r.getString(0) == "click",
        math.round(r.getDouble(1) * 100)))
    val byV = ev.groupBy(_._2).toSeq.sortBy(_._1)
    var cb = 0L; var u2 = 0L; var tc = 0L
    var naT = 0L; var nbT = 0L
    byV.foreach { case (_, xs) =>
      val na = xs.count(_._1).toLong
      val nb = xs.length - na
      u2 += na * (2 * cb + nb)
      val t = na + nb
      tc += t * t * t - t
      naT += na; nbT += nb; cb += nb
    }
    val n = naT + nbT
    val z = (u2 - naT * nbT).toDouble /
      (2.0 * math.sqrt(naT.toDouble * nbT.toDouble *
        ((n + 1).toDouble - tc.toDouble / (n * (n - 1)).toDouble) / 12.0))
    val r = Registry.byName("q226_mann_whitney").run(spark, sfDir)
      .collect().head
    assert(r.getLong(0) == naT && r.getLong(1) == nbT)
    assert(r.getDouble(2) == u2.toDouble / 2.0)
    assert(r.getDouble(3) == round4(z))
  }

  test("q249_bom_closure depths match the closed-form binary-tree count") {
    // ancestor at distance d exists iff k >= 2^d (k div 2^d >= 1), so
    // n_pairs(d) = #{partkeys k >= max(2, 2^d)}
    val keys = spark.read.parquet(s"$sfDir/part.parquet")
      .select("p_partkey").collect().map(_.getLong(0)).filter(_ >= 2)
    val expect = (1 to 31).map { d =>
      d -> keys.count(k => (k >> d) >= 1).toLong
    }.filter(_._2 > 0).toMap
    val got = Registry.byName("q249_bom_closure").run(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("q293_capture_recapture matches a driver-side Chapman reference") {
    val split = 1705363200000L
    val byUser = spark.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("user_id", "unix_millis(cast(ts as timestamp)) as ms")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2))
    val n1 = byUser.count(_._2.exists(_ < split)).toLong
    val n2 = byUser.count(_._2.exists(_ >= split)).toLong
    val m = byUser.count(u => u._2.exists(_ < split)
      && u._2.exists(_ >= split)).toLong
    val est = ((n1 + 1) * (n2 + 1)) / (m + 1) - 1
    val r = Registry.byName("q293_capture_recapture").run(spark, sfDir)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((n1, n2, m, byUser.size.toLong, est)))
  }

  test("q294_kendall_tau matches a driver-side pair-counting reference") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1)),
        math.round(r.getDouble(2) * 100)))
    val g = li.groupBy(_._1).view.mapValues(xs =>
      (xs.map(_._2).sum, xs.map(_._3).sum)).toSeq
    val top = g.sortBy { case (k, (_, c)) => (-c, k) }.take(20)
    val rq = top.sortBy { case (k, (q, _)) => (-q, k) }
      .zipWithIndex.map { case ((k, _), i) => k -> (i + 1) }.toMap
    val rc = top.sortBy { case (k, (_, c)) => (-c, k) }
      .zipWithIndex.map { case ((k, _), i) => k -> (i + 1) }.toMap
    val ks = top.map(_._1)
    val pairs = for {
      a <- ks; b <- ks if a < b
    } yield if ((rq(a) - rq(b)).toLong * (rc(a) - rc(b)) > 0) 1L else 0L
    val np = pairs.length.toLong
    val c = pairs.sum
    val tau = (c - (np - c)).toDouble / np.toDouble
    val r = Registry.byName("q294_kendall_tau").run(spark, sfDir)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2))
      == ((np, c, np - c)))
    assert(r.getDouble(3) == round6(tau))
  }

  test("q295_content_fingerprint matches a driver-side hash-sum " +
      "reference for every profiled column") {
    val P = BigInt("2305843009213693951")
    def h64(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"fp:$s".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val rows = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("cast(o_orderkey as string)",
        "cast(o_custkey as string)", "o_orderstatus", "o_orderpriority")
      .collect()
    val got = Registry.byName("q295_content_fingerprint").run(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    for ((nm, idx) <- Seq("o_orderkey" -> 0, "o_custkey" -> 1,
        "o_orderstatus" -> 2, "o_orderpriority" -> 3)) {
      val vals = rows.map(_.getString(idx))
      val fp = (vals.map(v => BigInt(h64(v))).sum mod P).toLong
      val (n, ndv, gfp) = got(nm)
      assert(n == vals.length.toLong && ndv == vals.distinct.length.toLong
        && gfp == fp, nm)
    }
  }

  test("q287_clustering_coeff matches a driver-side brute-force " +
      "triangle/wedge count on the support graph") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).distinct
    val byOrder = scala.collection.mutable.Map[Long,
      scala.collection.mutable.Set[Long]]()
    li.foreach { case (o, p) =>
      byOrder.getOrElseUpdate(o,
        scala.collection.mutable.Set[Long]()) += p
    }
    val cnt = scala.collection.mutable.Map[(Long, Long), Int]()
    byOrder.values.foreach { ps0 =>
      val ps = ps0.toSeq.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) {
        val e = (ps(i), ps(j))
        cnt(e) = cnt.getOrElse(e, 0) + 1
      }
    }
    // NB: Map#collect with a tuple-valued function rebuilds a MAP and
    // silently collapses edges by their first endpoint — iterate instead
    val edges = cnt.iterator.filter(_._2 >= 2).map(_._1).toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong)
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val es = edges.toSeq
    val adj = es.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val triangles = es.map { case (a, b) =>
      (adj.getOrElse(a, Set.empty[Long])
        & adj.getOrElse(b, Set.empty[Long])).size.toLong
    }.sum
    val r = Registry.byName("q287_clustering_coeff").run(spark, sfDir)
      .collect().head
    assert(r.getLong(0) == triangles && r.getLong(1) == wedges,
      s"ref li=${li.length} orders=${byOrder.size} pairs=${cnt.size} " +
        s"inst=${cnt.values.sum} edges=${edges.size} tri=$triangles " +
        s"wedges=$wedges")
    assert(r.getDouble(2) ==
      round6(3.0 * triangles.toDouble / wedges.toDouble))
  }

  test("q308_dist_distance total variation matches an exact integer " +
      "reference") {
    val rows = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("cast(round(o_totalprice * 100, 0) as bigint) as cents",
        "o_orderdate < timestamp'1998-07-01' as pre").collect()
      .map(r => (r.getLong(0) / 5000000L, r.getBoolean(1)))
    val g = rows.groupBy(_._1).view.mapValues(xs =>
      (xs.count(_._2).toLong, xs.count(!_._2).toLong))
    val t0 = g.values.map(_._1).sum
    val t1 = g.values.map(_._2).sum
    val s = g.values.map { case (n0, n1) => (n0 * t1 - n1 * t0).abs }.sum
    val tv = s.toDouble / (2.0 * t0.toDouble * t1.toDouble)
    val r = Registry.byName("q308_dist_distance").run(spark, sfDir)
      .collect().head
    assert(r.getLong(0) == g.size.toLong)
    assert(r.getDouble(1) == round6(tv))
  }

  test("q382_dedup_ladder: stage counts reconcile with the standalone " +
      "operators' verdicts on the same fixture") {
    import org.apache.spark.sql.functions._
    val ladder = Registry.byName("q382_dedup_ladder").run(spark, sfDir)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(ladder.keySet === Set(1, 2, 3, 4))
    // ladder arithmetic: stage k's input is stage k-1's survivors
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(ladder(1)._1 == nDocs)
    (2 to 4).foreach { k =>
      assert(ladder(k)._1 == ladder(k - 1)._3,
        s"stage $k n_in must equal stage ${k - 1} n_out") }
    ladder.values.foreach { case (nIn, nRm, nOut) =>
      assert(nRm >= 0 && nIn - nRm == nOut) }
    // stage 1 survivors = q40's fingerprint-group representatives
    val q40Groups = Registry.byName("q40_dedup_exact").run(spark, sfDir)
      .count()
    assert(ladder(1)._3 == q40Groups,
      "exact-stage survivors must equal q40's group count")
    // stage 3's removals are a subset of q41's full-corpus verified
    // higher-id sides (restricting the corpus can only shrink pairs);
    // likewise stage 4's vs q98's dropped set. Reconstruct the removed
    // ids per stage from the ladder's survivor manifests: the ladder
    // pins sums, the standalone frames pin membership.
    val q41Removed = Registry.byName("q41_minhash_lsh").run(spark, sfDir)
      .select(col("doc_b")).collect().map(_.getLong(0)).toSet
    val q98Removed = Registry.byName("q98_semantic_dedup").run(spark, sfDir)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ladder(3)._2 <= q41Removed.size,
      "minhash stage cannot remove more docs than the standalone q41 " +
        "has verified higher-id pair sides")
    assert(ladder(4)._2 <= q98Removed.size,
      "semantic stage cannot remove more docs than q98's dropped set")
    // and the fixture must actually exercise every stage
    assert(ladder.values.map(_._2).sum > 0, "ladder removed nothing")
  }

  test("q383_ladder_triage: per-gate flags reconcile with the standalone " +
      "incremental operators (q324 corpus matches, q354 decisions)") {
    import org.apache.spark.sql.functions._
    val triage = Registry.byName("q383_ladder_triage").run(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getInt(5), r.getBoolean(6))).toMap
    assert(triage.nonEmpty)
    // first_reject/admitted arithmetic
    triage.values.foreach { case (e, c, n, s, fr, adm) =>
      val expFr = if (e) 1 else if (c) 2 else if (n) 3 else if (s) 4 else 0
      assert(fr == expFr && adm == (expFr == 0))
    }
    // gate 3 == q324's corpus-sourced matches exactly
    val q324Corpus = Registry.byName("q324_incremental_neardup")
      .run(spark, sfDir).filter(col("match_src") === "corpus")
      .select(col("new_doc")).collect().map(_.getLong(0)).toSet
    assert(triage.filter(_._2._3).keySet === q324Corpus,
      "near_dup flags must equal q324's corpus-matched docs")
    // gate 4 == q354's rejections exactly (embedded docs only)
    val q354Rejected = Registry.byName("q354_incremental_semdedup")
      .run(spark, sfDir).filter(!col("admitted"))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(triage.filter(_._2._4).keySet === q354Rejected,
      "sem_dup flags must equal q354's rejected vectors")
    // the fixture must exercise at least two distinct gates
    assert(triage.values.map(_._5).filter(_ > 0).toSet.size >= 2,
      "fixture should trip more than one gate")
  }

  test("q384_longest_dup_span matches a driver-side keep-first + " +
      "gaps-and-islands reference") {
    import org.apache.spark.sql.functions._
    // reference: chunk every doc, mark keep-first dups in (doc, pos)
    // order globally, then scan each doc's dup positions for the
    // longest consecutive run
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val seen = scala.collection.mutable.Set.empty[String]
    val ref = docs.map { case (id, text) =>
      val toks = text.toLowerCase.split(" ", -1)
      val chunks = toks.grouped(10).map(_.mkString(" ")).toArray
      val dup = chunks.map { c => val h = seen.contains(c); seen += c; h }
      var longest = 0L; var run = 0L
      dup.foreach { d => if (d) { run += 1; longest = math.max(longest, run) }
        else run = 0 }
      id -> (chunks.length.toLong, dup.count(identity).toLong, longest)
    }.toMap
    val got = Registry.byName("q384_longest_dup_span").run(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet === ref.keySet)
    got.foreach { case (id, v) =>
      assert(v === ref(id), s"doc $id: got $v want ${ref(id)}") }
    assert(ref.values.exists(_._3 >= 2),
      "fixture must contain a multi-chunk duplicated span")
  }

  /** Driver-side winnowing selection (q219/q387's reference): distinct
    * (doc_id, hash) per selected (hash, pos) — min-of-window w=4,
    * rightmost tie.
    */
  private def winnowRef(): Array[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    def h64(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split(" ", -1)
      if (toks.length < 3) Seq.empty
      else {
        val hs = (0 to toks.length - 3)
          .map(i => h64(toks.slice(i, i + 3).mkString(" ")))
        (0 to math.max(hs.length - 4, 0)).map { j =>
          val win = j to math.min(j + 3, hs.length - 1)
          val best = win.minBy(i => (hs(i), -i))
          (id, hs(best), best)
        }.distinct.map { case (d, h, _) => (d, h) }
      }
    }
  }

  test("Dedup.winnowedPrints (q387's candidate space) selects the " +
      "IDENTICAL set as q219's closed-form window-min predicate") {
    import org.apache.spark.sql.functions._
    // q219's per-doc (n_fp, fp_modsum) pins its selected multiset;
    // the row-local array formulation must aggregate to the same
    val q219 = Registry.byName("q219_winnowing").run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4)))
      .toMap
    val mine = queries.Dedup.winnowedPrints(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(col("h") % 1000000007L).as("fp_modsum"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(mine.keySet === q219.keySet)
    mine.foreach { case (id, v) =>
      assert(v === q219(id), s"doc $id: array formulation $v " +
        s"!= q219 closed form ${q219(id)}") }
  }

  test("q387_winnowing_pairs matches a driver-side df-capped pair " +
      "reference") {
    val sp = winnowRef().distinct // distinct (doc, h) print sets
    val dfh = sp.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size)
    val keep = sp.filter(p => dfh(p._2) >= 2 && dfh(p._2) <= 20)
    val np = sp.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val byH = keep.groupBy(_._2)
    val allPairs: Seq[(Long, Long)] = byH.values.toSeq.flatMap { rows =>
      val ids = rows.map(_._1).distinct.sorted.toSeq
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }
    val ref = allPairs.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2)
      .map { case ((a, b), n) =>
        ((a, b), (n, n * 1000000L / math.min(np(a), np(b)))) }
      .toMap
    val got = Registry.byName("q387_winnowing_pairs").run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got === ref,
      s"only-got=${got.keySet -- ref.keySet} " +
        s"only-ref=${ref.keySet -- got.keySet}")
    assert(ref.nonEmpty, "fixture must contain winnowing copy pairs")
  }

  test("q386_mmr_select matches a driver-side greedy MMR reference " +
      "and is non-trivially diverse vs plain top-k") {
    import org.apache.spark.sql.functions._
    val en = queries.Similarity.quantSig(
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("qv"), col("nsq")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val byId = en.map(v => v._1 -> v).toMap
    def cos(a: (Long, Array[Long], Long), b: (Long, Array[Long], Long)) = {
      var dot = 0L; var i = 0
      while (i < a._2.length) { dot += a._2(i) * b._2(i); i += 1 }
      dot.toDouble / (math.sqrt(a._3.toDouble) * math.sqrt(b._3.toDouble))
    }
    val ref = (0L until 10L).flatMap { q =>
      val qv = byId(q)
      val cands = en.filter(_._1 != q)
      val cq = cands.map(c => c._1 -> cos(qv, c)).toMap
      var picked = Vector.empty[(Long, Double)] // (id, score)
      (1 to 5).foreach { t =>
        val avail = cands.filter(c => !picked.exists(_._1 == c._1))
        val scored = avail.map { c =>
          val sc =
            if (t == 1) cq(c._1)
            else 0.7 * cq(c._1) -
              0.3 * picked.map(p => cos(byId(p._1), c)).max
          (c._1, sc)
        }
        val best = scored.minBy { case (id, sc) => (-sc, id) }
        picked = picked :+ best
      }
      picked.zipWithIndex.map { case ((id, sc), i) =>
        (q, i + 1) -> (id, cq(id), sc) }
    }.toMap
    val got = Registry.byName("q386_mmr_select").run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet === ref.keySet)
    got.foreach { case (k, v) =>
      assert(v._1 == ref(k)._1, s"$k: pick ${v._1} want ${ref(k)._1}")
      assert(v._2 == ref(k)._2 && v._3 == ref(k)._3,
        s"$k: scores must be bit-equal") }
    // diversity must bite: for at least one query the MMR list differs
    // from the pure-relevance top-5
    val topk = (0L until 10L).exists { q =>
      val mmr = (1 to 5).map(t => got((q, t))._1).toSet
      val plain = ref.collect { case ((`q`, _), _) => () } // keep scoped
      val byRel = en.filter(_._1 != q)
        .map(c => c._1 -> cos(byId(q), c))
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
      mmr != byRel
    }
    assert(topk, "fixture should make MMR diverge from plain top-5 " +
      "for at least one query")
  }

  test("q389_component_split: sides are component-consistent, the leak " +
      "flag is self-consistent, and the fixture exercises a real leak") {
    val rows = Registry.byName("q389_component_split").run(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4), r.getBoolean(5)))
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (c, ms) =>
      assert(ms.map(_._4).distinct.length == 1,
        s"component $c must sit on ONE side of the component split")
      assert(ms.forall(_._3 == ms.length.toLong),
        s"component $c n_members must equal the member count")
      val leak = ms.map(_._5).distinct.length > 1
      assert(ms.forall(_._6 == leak),
        s"component $c naive_leak flag must match the recomputation")
    }
    // the POINT of the operator: the naive split actually leaks here
    assert(rows.exists(_._6), "fixture must exercise a naive-split leak")
    assert(rows.exists(r => !r._6 && r._3 > 1),
      "fixture should also have an unleaked multi-doc component")
  }

  test("Dedup.minhashCandidates(sh, from) equals the full candidate set " +
      "restricted to doc_b >= from (sf0.01)") {
    import org.apache.spark.sql.functions._
    val d = sfDir.replace("sf0.001", "sf0.01") // the 250 split needs sf0.01
    val sh = queries.Dedup.shingleSets(spark, d)
    def pairs(from: Long) = queries.Dedup.minhashCandidates(sh, from)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = queries.Dedup.minhashCandidates(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 250 boundary splits the probe side on this fixture
    assert(all.exists(_._2 >= 250) && all.exists(_._2 < 250), all)
    val maxId = sh.agg(max(col("doc_id"))).head().getLong(0)
    for (from <- Seq(0L, 250L, maxId + 1))
      assert(pairs(from) === all.filter(_._2 >= from), s"from = $from")
    spark.catalog.clearCache()
  }

  test("q390_incremental_components: contraction + merge equals the " +
      "full batch recomputation, and a bridge boundary proves the " +
      "merge path") {
    import org.apache.spark.sql.functions._
    val got = Registry.byName("q390_incremental_components")
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // full recompute with the BATCH operator over ALL edges — the
    // incremental path must land on identical labels
    val full = queries.Dedup.fullComponents(spark, sfDir,
        queries.Dedup.shingleSets(spark, sfDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === full.keySet)
    got.foreach { case (doc, (comp, _, _, _, _)) =>
      assert(comp == full(doc),
        s"doc $doc: incremental label $comp != full recompute ${full(doc)}")
    }
    // the pinned 250 boundary exercises ATTACH events (new docs joining
    // an old component) on this fixture
    assert(got.values.exists(v => v._4 >= 1 && v._5 >= 1),
      "the 250 boundary must exercise attach events")
    assert(got.values.forall(v => v._5 >= 1L || v._4 == v._3),
      "components with no old members must be all-new")
    // MERGE path, hermetic: the sf fixtures' near-dup components are
    // cliques (no cut vertices), so build the canonical bridge shape —
    // old docs A(1), B(2) pairwise BELOW the 0.8 threshold, new doc
    // C(10) >= 0.8-similar to both — and check the incremental operator
    // merges A's and B's singleton components, landing on the full
    // recomputation's labels
    import spark.implicits._
    val toks = (1 to 100).map(i => s"w$i")
    val mkText = (ts: Seq[String]) => ts.mkString(" ")
    // C = t1..t100; A = t1..t90 (J(A,C) = 88/98 ~ 0.898);
    // B = t11..t100 (J(B,C) ~ 0.898); J(A,B) = 78/98 ~ 0.796 < 0.8
    val bridgeDir = TempDirs.create("graft_bridge")
    Seq(
      (1L, mkText(toks.take(90)), "en", "synth", 0L),
      (2L, mkText(toks.drop(10)), "en", "synth", 0L),
      (10L, mkText(toks), "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("n_chars", org.apache.spark.sql.functions
        .length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$bridgeDir/documents.parquet")
    val fullB = queries.Dedup.fullComponents(spark, bridgeDir,
        queries.Dedup.shingleSets(spark, bridgeDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fullB == Map(1L -> 1L, 2L -> 1L, 10L -> 1L),
      s"bridge fixture must form ONE full component, got $fullB")
    val incB = queries.Dedup.incrementalComponents(spark, bridgeDir, 10L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(5))).toMap
    incB.foreach { case (doc, (comp, _)) =>
      assert(comp == fullB(doc),
        s"bridge: doc $doc incremental $comp != full ${fullB(doc)}")
    }
    assert(incB(10L)._2 == 2L,
      s"doc 10 must merge TWO old components, got ${incB(10L)._2}")
  }

  test("q393_split_materialize: splits are component-closed by " +
      "construction, reps are unique per component, and the moved flag " +
      "and split sides reconcile row-for-row with q389's audit") {
    val mat = Registry.byName("q393_split_materialize")
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2),
        r.getBoolean(3), r.getBoolean(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    val audit = Registry.byName("q389_component_split")
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(3),
        r.getString(4))).toMap // component, comp_side, naive_side
    assert(mat.keySet == audit.keySet, "same doc universe as q389")
    // reconciliation: split == q389's comp_side; moved == (naive_side
    // differs); component labels identical
    mat.foreach { case (doc, (comp, split, _, moved, _, _, _)) =>
      val (aComp, aSide, aNaive) = audit(doc)
      assert(comp == aComp, s"doc $doc component $comp != q389 $aComp")
      assert(split == aSide, s"doc $doc split $split != q389 $aSide")
      assert(moved == (aNaive != aSide), s"doc $doc moved flag")
    }
    // component-closed: every member of a component shares its split
    mat.values.groupBy(_._1).foreach { case (comp, vs) =>
      assert(vs.map(_._2).toSet.size == 1,
        s"component $comp straddles splits")
      assert(vs.count(_._3) == 1,
        s"component $comp must retain exactly one representative")
    }
    // budget readout: both splits present, dup mass = docs - components,
    // and rep token ppm sums below the corpus total (reps <= all docs)
    val bySplit = mat.values.groupBy(_._2)
    assert(bySplit.keySet == Set("train", "eval"))
    bySplit.foreach { case (split, vs) =>
      val (docs, dup, ppm) = (vs.head._5, vs.head._6, vs.head._7)
      assert(docs == vs.size, s"$split doc count")
      assert(dup == vs.size - vs.map(_._1).toSet.size, s"$split dup mass")
      assert(ppm > 0 && ppm <= 1000000L, s"$split rep token ppm $ppm")
    }
    val totPpm = bySplit.values.map(_.head._7).sum
    assert(totPpm <= 1000000L,
      s"rep token ppm across splits must stay under the corpus total, " +
        s"got $totPpm")
  }

  test("q394_trie_ann_probe_sweep: candidate mass grows and recall is " +
      "monotone non-decreasing in the probe budget (probe sets nest), " +
      "and the deployed budget clears its recall floor") {
    val rows = Registry.byName("q394_trie_ann_probe_sweep")
      .run(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == queries.Similarity.AnnSweepBudgets,
      s"sweep must cover the planning axis, got ${rows.map(_._1).toSeq}")
    // budget b's probe set CONTAINS budget a < b's, so candidates and
    // hits are non-decreasing by construction — a violated assert here
    // means the ranked-flip rule broke, not noisy data
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2 >= a._2,
          s"candidates must not shrink with budget: $a -> $b")
        assert(b._3 >= a._3,
          s"hits must not shrink with budget: $a -> $b")
      case _ => ()
    }
    assert(rows.last._2 > rows.head._2,
      "the sweep must actually widen the candidate set across budgets")
    val deployed = rows
      .find(_._1 == queries.Similarity.AnnProbeBudget).get
    assert(deployed._4 >= 100000L,
      s"deployed budget ${deployed._1} recall ${deployed._4} ppm fell " +
        "below the documented 10% floor on the fixture corpus")
  }

  test("q395_trie_ann_elastic: the stop rule is exact — each query's " +
      "candidate set equals the fixed sweep at budget = probes_used, " +
      "probes_used is the minimal budget meeting the quota (or the " +
      "ceiling when the quota is unreachable), and early stops imply " +
      "the quota was met") {
    val quota = queries.Similarity.AnnQuota
    val ceiling = queries.Similarity.AnnElasticCeiling
    val el = Registry.byName("q395_trie_ann_elastic")
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // the rk-grained ground truth: the same probe rule at every fixed
    // budget 1..ceiling
    val sweep = queries.Similarity
      .trieAnnRecall(spark, sfDir, 1 to ceiling)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2),
        r.getLong(3))).toMap
    assert(el.nonEmpty)
    el.foreach { case (q, (used, nc, nh)) =>
      assert(used >= 1 && used <= ceiling, s"q $q probes_used $used")
      // candidate set = the fixed sweep's at budget = probes_used
      // (when the quota is never met, every found candidate is kept,
      // which equals the ceiling budget's set)
      val (ncAt, nhAt) = sweep((used.toInt, q))
      assert(nc == ncAt,
        s"q $q elastic n_cand $nc != sweep@$used $ncAt")
      assert(nh == nhAt,
        s"q $q elastic n_hit $nh != sweep@$used $nhAt")
      // early stop only on a met quota
      if (used < ceiling)
        assert(nc >= quota,
          s"q $q stopped at $used probes with only $nc < $quota cands")
      // minimality: one probe fewer was under quota
      if (used > 1)
        assert(sweep((used.toInt - 1, q))._1 < quota,
          s"q $q: budget ${used - 1} already met the quota")
    }
    // a quota no query can meet: every query probes to the ceiling and
    // keeps exactly the fixed sweep's candidates at budget = ceiling —
    // the identity that lets both rules share one audit tail
    val unmet = queries.Similarity
      .trieAnnElastic(spark, sfDir, Int.MaxValue, ceiling).collect()
    assert(unmet.length == el.size)
    unmet.foreach { r =>
      val q = r.getLong(0)
      assert(r.getLong(1) == ceiling,
        s"q $q probes_used ${r.getLong(1)} != ceiling $ceiling")
      assert((r.getLong(2), r.getLong(3)) == sweep((ceiling, q)),
        s"q $q unmet-quota (n_cand, n_hit) " +
          s"${(r.getLong(2), r.getLong(3))} != sweep@$ceiling " +
          s"${sweep((ceiling, q))}")
    }
    // recall FLOOR at the deployed quota (round-14 verdict #4): the
    // fixture measures 240,000 ppm (12/50 exact-top-5 hits) — the
    // assert pins a regression floor under it, so a change that
    // silently starves the elastic rule (probe-rank drift, quota
    // misread, candidate leak) fails here instead of only in SCALE.md
    val totHits = el.values.map(_._3).sum
    val recallPpm = totHits * 1000000L / (el.size * 5L)
    assert(recallPpm >= 200000L,
      s"corpus recall at deployed quota fell to $recallPpm ppm " +
        s"($totHits hits) — below the pinned sf0.001 floor")
  }

  test("q399_split_churn: classes partition the corpus, the arrived " +
      "class is exactly the batch, flipped is derived correctly, and " +
      "per-new-side doc counts reconcile with q393's materialized " +
      "split") {
    val rows = Registry.byName("q399_split_churn").run(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getLong(5)))
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    assert(rows.map(_._3).sum === docs.length.toLong,
      "transition classes must partition the corpus")
    assert(rows.filter(_._1 == "arrived").map(_._3).sum
        === docs.count(_ >= 250L).toLong,
      "the arrived class must be exactly the batch")
    rows.foreach { case (o, n, _, _, f, _) =>
      assert(f === (o != "arrived" && o != n),
        s"flipped flag wrong for class ($o, $n)")
    }
    val ppm = rows.map(_._6).sum
    assert(ppm > 1000000L - rows.length && ppm <= 1000000L,
      s"class shares must tile the corpus, got $ppm ppm")
    // the new-side marginal must equal q393's materialized split —
    // churn is measured AGAINST the split artifact, so the two ops
    // must agree on where every doc lands today
    val bySide = Registry.byName("q393_split_materialize")
      .run(spark, sfDir).collect()
      .map(_.getString(2)).groupBy(identity)
      .map { case (k, v) => k -> v.length.toLong }
    val gotBySide = rows.groupBy(_._2)
      .map { case (k, v) => k -> v.map(_._3).sum }
    assert(gotBySide === bySide,
      "per-new-side totals must reconcile with q393's split")
  }

  test("q398_ivf_nprobe_elastic: probes_used and n_cand equal an " +
      "independent driver replay of the ranked probe list + quota stop " +
      "rule over collected cells, and hits are bounded by K and n_cand") {
    val quota = queries.Similarity.IvfQuota
    val ceiling = queries.Similarity.IvfElasticCeiling
    val got = Registry.byName("q398_ivf_nprobe_elastic")
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val cells = queries.Similarity.celled(spark, sfDir)
      .select("vec_id", "cell", "p0", "p1", "p2", "p3").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    val byId = cells.map { case (id, cell, ps) => id -> ((cell, ps)) }
      .toMap
    val occ = cells.groupBy(_._2)
      .map { case (c, v) => c -> v.map(_._1).toSet }
    val queryIds = cells.map(_._1).filter(_ < 10).sorted
    assert(got.keySet === queryIds.toSet, "one row per query")
    queryIds.foreach { q =>
      val (cell, ps) = byId(q)
      val plist = cell +: ps.zipWithIndex
        .map { case (p, j) => (math.abs(p), j) }.sorted.map(_._2)
        .map(j => cell ^ (1 << j))
      val frk = scala.collection.mutable.Map.empty[Long, Int]
      plist.take(ceiling).zipWithIndex.foreach { case (c, rk) =>
        occ.getOrElse(c, Set.empty)
          .foreach(v => if (v != q && !frk.contains(v)) frk(v) = rk)
      }
      val rmet = (0 until ceiling)
        .find(r => frk.values.count(_ <= r) >= quota)
      val expUsed = rmet.map(_ + 1).getOrElse(ceiling).toLong
      val expCand = rmet.map(r => frk.values.count(_ <= r).toLong)
        .getOrElse(frk.size.toLong)
      val (used, nc, nh) = got(q)
      assert(used === expUsed, s"q $q probes_used $used != $expUsed")
      assert(nc === expCand, s"q $q n_cand $nc != $expCand")
      assert(nh <= 5L && nh <= nc, s"q $q n_hit $nh out of bounds")
    }
  }

  test("q401_ivf_centroid_serve: every column equals an independent " +
      "driver replay of the deterministic trainer (strided seeds, one " +
      "exact-integer Lloyd step, truncating-div means) plus the " +
      "quota-elastic stop rule") {
    val quota = queries.Similarity.IvfQuota
    val ceiling = queries.Similarity.IvfCentroidCeiling
    val got = Registry.byName("q401_ivf_centroid_serve")
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val vecs = queries.Similarity.celled(spark, sfDir)
      .select("vec_id", "qv", "nsq").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)
    val n = vecs.length.toLong
    val bl = 64 - java.lang.Long.numberOfLeadingZeros(n)
    val k = math.max(16L, 1L << ((bl + 1) / 2))
    val stride = math.max(1L, n / k)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.lazyZip(b).map(_ * _).sum
    val byId = vecs.map(v => v._1 -> v).toMap
    val seeds = vecs.toSeq
      .filter(v => v._1 % stride == 0 && v._1 / stride < k)
      .map(v => (v._1 / stride, v._2, v._3))
    def argmin(qv: Array[Long], nsq: Long,
        cents: Seq[(Long, Array[Long], Long)]): Long =
      cents.map { case (cid, cqv, cnsq) =>
        (nsq - 2 * dot(qv, cqv) + cnsq, cid) }.min._2
    val a1 = vecs.map(v => v._1 -> argmin(v._2, v._3, seeds)).toMap
    // one Lloyd step: truncating-div component means on the int grid
    // (Scala Long `/` truncates toward zero, same as Spark `div` and
    // DuckDB `//` — the three-way agreement the query depends on)
    val cent = a1.toSeq.groupBy(_._2).toSeq.map { case (cid, members) =>
      val qvs = members.map(m => byId(m._1)._2)
      val m = qvs.length.toLong
      val cqv = Array.tabulate(64)(j => qvs.map(_(j)).sum / m)
      (cid, cqv, cqv.map(x => x * x).sum)
    }.sortBy(_._1)
    val assign = vecs.map(v => v._1 -> argmin(v._2, v._3, cent)).toMap
    val occ = assign.toSeq.groupBy(_._2)
      .map { case (c, v) => c -> v.map(_._1).toSet }
    val queryIds = vecs.map(_._1).filter(_ < 10).sorted
    assert(got.keySet === queryIds.toSet, "one row per query")
    queryIds.foreach { q =>
      val (qv, nsq) = (byId(q)._2, byId(q)._3)
      val plist = cent.map { case (cid, cqv, cnsq) =>
        (nsq - 2 * dot(qv, cqv) + cnsq, cid) }.sorted
        .take(ceiling).map(_._2)
      val frk = scala.collection.mutable.Map.empty[Long, Int]
      plist.zipWithIndex.foreach { case (c, rk) =>
        occ.getOrElse(c, Set.empty)
          .foreach(v => if (v != q && !frk.contains(v)) frk(v) = rk)
      }
      val rmet = (0 until ceiling)
        .find(r => frk.values.count(_ <= r) >= quota)
      val expUsed = rmet.map(_ + 1).getOrElse(ceiling).toLong
      val expCand = rmet.map(r => frk.values.count(_ <= r).toLong)
        .getOrElse(frk.size.toLong)
      val (cells, used, nc, nh) = got(q)
      assert(cells === k, s"q $q n_cells $cells != $k")
      assert(used === expUsed, s"q $q probes_used $used != $expUsed")
      assert(nc === expCand, s"q $q n_cand $nc != $expCand")
      assert(nh <= 5L && nh <= nc, s"q $q n_hit $nh out of bounds")
    }
  }

  test("shardRunStats (q396 scale core): block-decomposed run stats " +
      "equal a global per-shard scan — spanning chains through " +
      "single-run interior blocks, bridged multi-run boundaries, and " +
      "NULL-source runs (null-safe both within and across blocks)") {
    import spark.implicits._
    // (shard, g, h, doc_id, source); g monotone in h within a shard
    val rows = Seq[(Long, Long, Long, Long, String)](
      // shard 0 global order: x a | a a | a b | b  -> runs x1 a4 b2
      //   chain 1: b0 tail 'a' -> single-run b1 -> b2 head 'a' (len 4)
      //   chain 2: b2 tail 'b' -> b3 head 'b' (len 2, multi-run left end)
      (0L, 0L, 1L, 1L, "x"), (0L, 0L, 2L, 2L, "a"),
      (0L, 1L, 10L, 3L, "a"), (0L, 1L, 11L, 4L, "a"),
      (0L, 2L, 20L, 5L, "a"), (0L, 2L, 21L, 6L, "b"),
      (0L, 3L, 30L, 7L, "b"),
      // shard 1: null null | null c | d -> runs null3 c1 d1 (a NULL
      // tail must bridge a NULL head; c vs d must NOT bridge)
      (1L, 0L, 1L, 10L, null), (1L, 0L, 2L, 11L, null),
      (1L, 1L, 10L, 12L, null), (1L, 1L, 11L, 13L, "c"),
      (1L, 2L, 20L, 14L, "d"),
      // shard 2: one block, no boundaries: z z q -> runs z2 q1
      (2L, 0L, 1L, 20L, "z"), (2L, 0L, 2L, 21L, "z"),
      (2L, 0L, 3L, 22L, "q")
    ).toDF("shard", "g", "h", "doc_id", "source")
    val got = queries.Selection.shardRunStats(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(0L -> ((3L, 4L)), 1L -> ((3L, 3L)),
      2L -> ((2L, 2L))),
      s"block-decomposed run stats diverged from the global scan: $got")
  }

  test("q396_shuffle_order_audit: shard stats reconcile with a driver " +
      "reference — doc/token totals, run structure under the hash " +
      "order, and token shares that sum to ~1e6 ppm") {
    import graft.functions.Portable
    val rows = Registry.byName("q396_shuffle_order_audit")
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // driver reference: same hash, same order, run-length scan
    val h = Portable.h64Spark("concat('sh:', cast(doc_id as string))")
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id", "source",
        "cast(size(split(text, ' ')) as long) as n_tokens",
        s"$h as h").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val byShard = docs.groupBy { case (_, _, _, hv) => hv % 8 }
    assert(rows.keySet == byShard.keySet.map(_.toLong),
      "every non-empty shard must be reported")
    byShard.foreach { case (shard, ds) =>
      val (nd, nt, nsrc, nruns, maxRun, ppm) = rows(shard)
      assert(nd == ds.length, s"shard $shard docs")
      assert(nt == ds.map(_._3).sum, s"shard $shard tokens")
      assert(nsrc == ds.map(_._2).distinct.length, s"shard $shard srcs")
      // run structure under (h, doc_id) order
      val ordered = ds.sortBy { case (id, _, _, hv) => (hv, id) }
        .map(_._2)
      val runLens = ordered.foldLeft(List.empty[(String, Long)]) {
        case ((s, n) :: tl, src) if s == src => (s, n + 1) :: tl
        case (acc, src) => (src, 1L) :: acc
      }.map(_._2)
      assert(nruns == runLens.length, s"shard $shard runs")
      assert(maxRun == runLens.max, s"shard $shard max run")
      assert(ppm == nt * 1000000L / docs.map(_._3).sum,
        s"shard $shard token share")
    }
    // shares sum to 1e6 up to per-shard floor loss
    val totPpm = rows.values.map(_._6).sum
    assert(totPpm > 1000000L - 8 && totPpm <= 1000000L,
      s"token shares must tile the corpus, got $totPpm ppm")
  }

  test("q397_semantic_split_leak: sides equal q393's split verbatim, " +
      "every leaked pair straddles two DIFFERENT near-dup components " +
      "(a same-component pair cannot leak under a component-keyed " +
      "hash), and the rollup columns reconcile with the pair rows") {
    val rows = Registry.byName("q397_semantic_split_leak")
      .run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getBoolean(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8)))
    val mat = Registry.byName("q393_split_materialize")
      .run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows.nonEmpty, "fixture must yield semantic pairs")
    rows.foreach { case (a, b, sa, sb, leak, nPairs, nLeak, ppm, nEv) =>
      assert(sa == mat(a)._2 && sb == mat(b)._2,
        s"pair ($a,$b) sides must equal q393's split")
      assert(leak == (sa != sb), s"pair ($a,$b) leak flag")
      // a leak under the component-keyed hash requires the endpoints to
      // sit in different components — the audit's whole point: these
      // pairs are the SEMANTIC relation the textual component split
      // cannot close over
      if (leak) assert(mat(a)._1 != mat(b)._1,
        s"leaked pair ($a,$b) inside one component ${mat(a)._1}")
      assert(nPairs == rows.length && nLeak == rows.count(_._5)
        && ppm == nLeak * 1000000L / nPairs,
        s"rollup columns must reconcile: ($nPairs, $nLeak, $ppm)")
      assert(nEv == rows.filter(_._5)
        .map(p => if (p._3 == "eval") p._1 else p._2).distinct.length,
        s"contaminated eval doc count $nEv")
    }
  }
}
