package graft.queries

import graft.Tables
import graft.functions.{Exact, Portable}
import graft.functions.Portable.{toksSpark, toksDuck, ngramsSpark, ngramsDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a training-data pipeline runs between raw
  * crawl and tokenizer: term weighting, split assignment, n-gram mining,
  * PII scrubbing, URL canonicalization. All oracle-checked; float outputs
  * are single-rounded IEEE ops over exact integers (the q142 discipline —
  * no transcendentals anywhere near the hash compare).
  */
object Corpus {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Train/test hash-gate: stable 80/20 on the portable hash of doc_id —
    * membership is a pure function of the row, never of sampling order.
    */
  private val TrainPct = 80

  /** Vocabulary size for the OOV audit — K-bounded so membership always
    * broadcasts.
    */
  private val VocabK = 500

  // ---- BM25 primitive (q209; reused by q314's RRF fusion) -----------------

  /** The fixed retrieval query for BM25 (and the sparse leg of RRF). */
  private[graft] val Bm25Terms = Seq("spark", "merge", "window")

  /** Okapi BM25 scores for [[Bm25Terms]]: (doc_id, dl, score), rational
    * idf (log-free), k1=1.2 / b=0.75, decimal-grid per-doc sum. Shape: tf
    * only for the query terms (filter BEFORE the tf shuffle), doc lengths
    * from one token-count pass, df/N/T broadcast scalars.
    */
  private[graft] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val tok = t(s, d, "documents")
      .select(col("doc_id"), explode(expr(toksSpark("text"))).as("term"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val g = dl.agg(count(lit(1)).as("n"),
      sum(col("dl")).cast("long").as("t"))
    val tf = tok.filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = ((col("n") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val sat = col("tf").cast("double") * lit(2.2) /
      (col("tf").cast("double")
        + lit(1.2) * (lit(0.25) + lit(0.75)
          * ((col("dl") * col("n")).cast("double")
            / col("t").cast("double"))))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(g))
      .withColumn("s", idf * sat)
      .groupBy(col("doc_id"))
      .agg(Exact.dsum(col("s")).as("score"))
      .join(dl, "doc_id")
      .select(col("doc_id"), col("dl"), col("score"))
  }

  /** DuckDB CTE chain mirroring [[bm25Scores]]; emits
    * `bm(doc_id, dl, score)`.
    */
  private[graft] val bm25DuckCte: String = {
    val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""tok AS (SELECT doc_id, unnest(${toksDuck("text")}) AS term
        FROM documents),
      dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
        FROM tok GROUP BY 1),
      g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(dl) AS BIGINT) AS t FROM dl),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok WHERE term IN ($inList) GROUP BY 1, 2),
      df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf GROUP BY 1),
      sc AS (SELECT tf.doc_id,
          ((CAST(g.n - df.df AS DOUBLE) + 0.5)
            / (CAST(df.df AS DOUBLE) + 0.5))
          * (CAST(tf.tf AS DOUBLE) * 2.2
            / (CAST(tf.tf AS DOUBLE)
               + 1.2 * (0.25 + 0.75 * (CAST(dl.dl * g.n AS DOUBLE)
                 / CAST(g.t AS DOUBLE))))) AS s
        FROM tf JOIN df USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id, g),
      agg AS (SELECT doc_id, ${Exact.sqlDsum("s")} AS score
        FROM sc GROUP BY 1),
      bm AS (SELECT agg.doc_id, dl.dl, agg.score
        FROM agg JOIN dl ON dl.doc_id = agg.doc_id)"""
  }

  // Email / phone patterns shared by both engines. Kept to the regex
  // subset where Java's engine and RE2 agree exactly (char classes,
  // bounded reps — no lookaround, no backrefs).
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{4}"

  val all: Seq[QuerySpec] = Seq(

    // ---- TF-IDF distinctive terms (log-free rarity weighting) --------------
    // Top-3 most distinctive terms per document. The classic idf's ln()
    // is engine-divergent in the last ulp (the q142 lesson), so the
    // rarity weight here is the exact rational tf·N/df — the SAME
    // ordering as tf·(N/df) and monotone-compatible with tf·idf for
    // fixed tf — published as one int64→double divide (correctly rounded
    // in both engines, so the rank and the score hash-match exactly).
    // Shape: tokenize → (doc,term) partial-agg shuffle → |vocab|-row df
    // rollup → term-keyed join (AQE broadcasts the df side when small;
    // sort-merge on term otherwise) → per-doc rank window. At 100 TB
    // every stage keys on (doc,term), term, or doc — no global anything;
    // tf·N caps int64 through ~9e12 docs × 1e6 tf.
    QuerySpec(
      "q145_tfidf",
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${toksDuck("text")}) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok GROUP BY 1, 2),
        df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
          FROM tf GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
            CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
          FROM tf JOIN df USING (term), n),
        rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, term) AS rk FROM scored)
        SELECT doc_id, term, tf, df, score, CAST(rk AS INT) AS rk
        FROM rk WHERE rk <= 3"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val tf = docs
          .select(col("doc_id"), explode(expr(toksSpark("text"))).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))
        tf.join(df, "term").crossJoin(broadcast(n))
          .withColumn("score",
            (col("tf") * col("n")).cast("double") / col("df").cast("double"))
          .withColumn("rk", row_number().over(w).cast("int"))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("score"), col("rk"))
      }),

    // ---- stratified train/test split (hash gate, zero shuffles) ------------
    // Split assignment as a PURE FUNCTION of the row: portable-hash the
    // doc key, compare a residue to the rate. Uniform within every
    // stratum (hash uniformity ⇒ ~80/20 per lang without per-stratum
    // bookkeeping), reproducible across runs/engines/partitionings, and
    // the plan is scan → project — the assignment itself costs ZERO
    // shuffles at any scale (contrast q103's ranked reservoir, which
    // guarantees exact k at one window shuffle).
    QuerySpec(
      "q146_stratified_split",
      Some(s"""SELECT doc_id, lang,
          CASE WHEN ${Portable.h64Duck("'split:' || CAST(doc_id AS VARCHAR)")}
            % 100 < $TrainPct THEN 'train' ELSE 'test' END AS split
        FROM documents"""),
      (s, d) =>
        t(s, d, "documents").select(col("doc_id"), col("lang"),
          when(expr(Portable.h64Spark("concat('split:', cast(doc_id as string))"))
            % 100 < TrainPct, lit("train")).otherwise(lit("test"))
            .as("split"))),

    // ---- top-k n-gram mining (bigrams) -------------------------------------
    // The corpus-level bigram table tokenizer training starts from. Rows
    // are (bigram, n_occurrences, n_docs); top-20 under a TOTAL order
    // (count desc, bigram asc) so the cut is deterministic. Shape:
    // row-local bigram assembly (transform over the token array — no
    // join), one (bigram) partial-agg shuffle; the top-k is
    // TakeOrderedAndProject (per-partition heaps + driver merge of k),
    // never a global sort. n_docs is exact distinct-per-key — at 100 TB
    // swap to HLL or keep the two-level (bigram, doc) pre-aggregate
    // this plan already does.
    QuerySpec(
      "q149_bigrams",
      Some(s"""WITH tok AS (SELECT doc_id, ${toksDuck("text")}
            AS toks FROM documents),
        bg AS (SELECT doc_id, unnest(${ngramsDuck("toks", 2)}) AS bigram
          FROM tok WHERE len(toks) >= 2),
        pre AS (SELECT bigram, doc_id, CAST(COUNT(*) AS BIGINT) AS c
          FROM bg GROUP BY 1, 2)
        SELECT bigram, CAST(SUM(c) AS BIGINT) AS n_occurrences,
          CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pre GROUP BY 1
        ORDER BY n_occurrences DESC, bigram LIMIT 20"""),
      (s, d) =>
        t(s, d, "documents")
          .withColumn("toks", expr(toksSpark("text")))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"),
            explode(expr(ngramsSpark("toks", 2))).as("bigram"))
          // two-level aggregate: (bigram, doc) partials collapse map-side
          // before the distinct count — the same pre-aggregate a 100 TB
          // run needs so no executor ever holds a doc-id set
          .groupBy(col("bigram"), col("doc_id"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("bigram"))
          .agg(sum(col("c")).as("n_occurrences"),
            count(lit(1)).as("n_docs"))
          .orderBy(col("n_occurrences").desc, col("bigram"))
          .limit(20)),

    // ---- PII scrubbing (regex redaction + audit counts) --------------------
    // The pre-training privacy pass: redact emails/phones, report a
    // per-source audit. PII is SYNTHESIZED deterministically onto the
    // fixture text (doc_id-keyed, so both engines see identical inputs)
    // because the corpus fixture itself is PII-free. Patterns stay in
    // the Java-regex ∩ RE2 common subset (char classes + bounded reps)
    // so both engines match identical spans. Shape: row-local
    // synthesize/redact/measure inside the scan projection, one
    // |source|-group rollup — the scrub itself never shuffles.
    QuerySpec(
      "q150_pii_scrub",
      Some(s"""WITH aug AS (SELECT doc_id, source,
            text || CASE WHEN doc_id % 7 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com'
              ELSE '' END
            || CASE WHEN doc_id % 5 = 0
              THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
              ELSE '' END AS text2
          FROM documents),
        red AS (SELECT doc_id, source, text2,
            regexp_replace(regexp_replace(text2, '$EmailRe', '<EMAIL>', 'g'),
              '$PhoneRe', '<PHONE>', 'g') AS clean,
            len(regexp_extract_all(text2, '$EmailRe')) AS n_emails,
            len(regexp_extract_all(text2, '$PhoneRe')) AS n_phones
          FROM aug)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
          CAST(SUM(n_emails) AS BIGINT) AS n_emails,
          CAST(SUM(n_phones) AS BIGINT) AS n_phones,
          CAST(SUM(length(text2) - length(clean)) AS BIGINT)
            AS chars_redacted
        FROM red GROUP BY 1"""),
      (s, d) => {
        val aug = t(s, d, "documents").withColumn("text2",
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" call 555-"),
                (lit(1000) + col("doc_id") % 9000).cast("string")))
              .otherwise(lit(""))))
        aug
          .withColumn("clean", regexp_replace(
            regexp_replace(col("text2"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"))
          .withColumn("n_emails",
            size(expr(s"regexp_extract_all(text2, '$EmailRe', 0)")))
          .withColumn("n_phones",
            size(expr(s"regexp_extract_all(text2, '$PhoneRe', 0)")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_emails") + col("n_phones") > 0, 1L)
              .otherwise(0L)).as("docs_with_pii"),
            sum(col("n_emails").cast("long")).as("n_emails"),
            sum(col("n_phones").cast("long")).as("n_phones"),
            sum((length(col("text2")) - length(col("clean"))).cast("long"))
              .as("chars_redacted"))
      }),

    // ---- URL canonicalization + dedup rollup -------------------------------
    // Crawl-frontier hygiene: lowercase the host, drop the fragment and
    // tracking query params, strip the trailing slash, then count how
    // many raw variants each canonical URL collapses. URLs are
    // synthesized doc_id-keyed (host-case / utm / fragment variants of a
    // bounded link set) since the fixture has no URL column. Shape:
    // row-local regex parsing in the projection, one canonical-key
    // partial-agg shuffle — the dedup is exactly q40's hash-groupBy
    // discipline on a derived key.
    QuerySpec(
      "q151_url_normalize",
      Some("""WITH raw AS (SELECT doc_id,
            'https://' || CASE doc_id % 3 WHEN 0 THEN 'Example.COM'
                WHEN 1 THEN 'example.com' ELSE 'cdn.example.com' END
              || '/page/' || CAST(doc_id % 50 AS VARCHAR)
              || CASE WHEN doc_id % 2 = 0
                THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
                ELSE '' END
              || CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END AS url
          FROM documents),
        norm AS (SELECT doc_id, url,
            lower(regexp_extract(url, '^https?://([^/#?]+)', 1)) AS host,
            regexp_replace(
              regexp_extract(url, '^https?://[^/#?]+([^#?]*)', 1),
              '/$', '') AS path
          FROM raw)
        SELECT 'https://' || host || path AS canonical_url, host,
          CAST(COUNT(*) AS BIGINT) AS n_raw,
          CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,
          CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM norm GROUP BY 1, 2"""),
      (s, d) =>
        t(s, d, "documents")
          .withColumn("url", concat(lit("https://"),
            expr("""CASE doc_id % 3 WHEN 0 THEN 'Example.COM'
                WHEN 1 THEN 'example.com' ELSE 'cdn.example.com' END"""),
            lit("/page/"), (col("doc_id") % 50).cast("string"),
            when(col("doc_id") % 2 === 0,
              concat(lit("?utm_source=feed&ref="),
                col("doc_id").cast("string"))).otherwise(lit("")),
            when(col("doc_id") % 11 === 0, lit("#frag")).otherwise(lit(""))))
          .withColumn("host",
            lower(regexp_extract(col("url"), "^https?://([^/#?]+)", 1)))
          .withColumn("path", regexp_replace(
            regexp_extract(col("url"), "^https?://[^/#?]+([^#?]*)", 1),
            "/$", ""))
          .groupBy(concat(lit("https://"), col("host"), col("path"))
            .as("canonical_url"), col("host"))
          .agg(count(lit(1)).as("n_raw"),
            countDistinct(col("url")).as("n_variants"),
            min(col("doc_id")).as("first_doc"))),

    // ---- vocabulary OOV-rate audit ------------------------------------------
    // Tokenizer-coverage check before a training run: build the top-K
    // vocabulary by corpus frequency (total order: count desc, token asc
    // — the deterministic cut), then measure the out-of-vocabulary token
    // rate per source. The vocab is K-BOUNDED by construction, so
    // membership is a broadcast anti-join against 500 rows no matter the
    // corpus size; token occurrences pre-aggregate to (source, token)
    // partials before the join (map-side combine carries the weight).
    // oov_rate is one int64->double divide.
    QuerySpec(
      "q158_oov_rate",
      Some(s"""WITH tok AS (SELECT source, unnest(${toksDuck("text")}) AS term
          FROM documents),
        tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n
          FROM tok GROUP BY 1),
        vocab AS (SELECT term FROM tc
          ORDER BY n DESC, term LIMIT $VocabK),
        st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n
          FROM tok GROUP BY 1, 2),
        oov AS (SELECT st.source, st.n FROM st
          LEFT JOIN vocab v ON v.term = st.term WHERE v.term IS NULL)
        SELECT s.source, s.n_tokens, COALESCE(o.n_oov, 0) AS n_oov,
          CAST(COALESCE(o.n_oov, 0) AS DOUBLE)
            / CAST(s.n_tokens AS DOUBLE) AS oov_rate
        FROM (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens
              FROM st GROUP BY 1) s
        LEFT JOIN (SELECT source, CAST(SUM(n) AS BIGINT) AS n_oov
              FROM oov GROUP BY 1) o ON o.source = s.source"""),
      (s, d) => {
        val tok = t(s, d, "documents")
          .select(col("source"), explode(expr(toksSpark("text"))).as("term"))
        val st = tok.groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("n"))
          .cache() // vocab ranking, totals, and the oov branch all reuse it
        val vocab = st.groupBy(col("term"))
          .agg(sum(col("n")).as("tn"))
          .orderBy(col("tn").desc, col("term")).limit(VocabK)
          .select(col("term"))
        val totals = st.groupBy(col("source"))
          .agg(sum(col("n")).cast("long").as("n_tokens"))
        val oov = st.join(broadcast(vocab), Seq("term"), "left_anti")
          .groupBy(col("source")).agg(sum(col("n")).cast("long").as("n_oov"))
        totals.join(oov, Seq("source"), "left")
          .select(col("source"), col("n_tokens"),
            coalesce(col("n_oov"), lit(0L)).as("n_oov"),
            (coalesce(col("n_oov"), lit(0L)).cast("double")
              / col("n_tokens").cast("double")).as("oov_rate"))
      }),

    // ---- token-budget report (mixture accounting) ---------------------------
    // The sheet every pretraining run is planned from: tokens per
    // (lang, source) cell, its share of the corpus, and the cumulative
    // share under a deterministic largest-first order — "the top N cells
    // cover X% of the budget". Token counting is row-local (the q32
    // BPE-ish regex); the rollup is one partial-agg shuffle to a
    // |lang x source|-row table, and ONLY that tiny table crosses the
    // global cumulative window (the q159 discipline: statistics over
    // groups, never data).
    QuerySpec(
      "q167_token_budget",
      Some("""WITH dt AS (SELECT lang, source,
            CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
              AS BIGINT) AS tok
          FROM documents),
        g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(tok) AS BIGINT) AS n_tokens
          FROM dt GROUP BY 1, 2),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM g)
        SELECT lang, source, n_docs, n_tokens,
          CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE) AS share,
          CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, lang, source)
            AS BIGINT) AS cum_tokens,
          CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, lang, source)
              AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share
        FROM g, tot"""),
      (s, d) => {
        val g = t(s, d, "documents")
          .select(col("lang"), col("source"),
            regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
              .cast("long").as("tok"))
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
          .cache() // tiny; feeds the total AND the windowed report
        val tot = g.agg(sum(col("n_tokens")).as("t"))
        val wCum = Window.orderBy(col("n_tokens").desc, col("lang"),
          col("source")).rowsBetween(Window.unboundedPreceding, 0)
        g.crossJoin(broadcast(tot)) // 1-row scalar total
          .withColumn("cum_tokens", sum(col("n_tokens")).over(wCum))
          .select(col("lang"), col("source"), col("n_docs"),
            col("n_tokens").cast("long").as("n_tokens"),
            (col("n_tokens").cast("double") / col("t").cast("double"))
              .as("share"),
            col("cum_tokens").cast("long").as("cum_tokens"),
            (col("cum_tokens").cast("double") / col("t").cast("double"))
              .as("cum_share"))
      }),

    // ---- dedup yield audit (per-source duplication report) ------------------
    // The before/after sheet a dedup pass is judged by: per source, how
    // many docs, how many distinct exact fingerprints, and the implied
    // duplicate rate. Exact-distinct via the two-level aggregate
    // ((source, fp) partials first, so no executor ever holds a
    // fingerprint set — the q149 n_docs discipline at corpus scale).
    QuerySpec(
      "q168_dedup_yield",
      Some("""WITH f AS (SELECT source, md5(text) AS fp FROM documents),
        p AS (SELECT source, fp, CAST(COUNT(*) AS BIGINT) AS c
          FROM f GROUP BY 1, 2)
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
          CAST(COUNT(*) AS BIGINT) AS n_unique,
          CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dupes,
          CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
            AS dup_rate
        FROM p GROUP BY 1"""),
      (s, d) =>
        t(s, d, "documents")
          .select(col("source"), md5(col("text")).as("fp"))
          .groupBy(col("source"), col("fp"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(sum(col("c")).cast("long").as("n_docs"),
            count(lit(1)).as("n_unique"),
            (sum(col("c")) - count(lit(1))).cast("long").as("n_dupes"),
            ((sum(col("c")) - count(lit(1))).cast("double")
              / sum(col("c")).cast("double")).as("dup_rate"))),

    // ---- cross-source overlap matrix (contamination planning) ---------------
    // Which sources repeat each other's content — the sheet that decides
    // dedup ORDER (dedup the copying source against the copied-from one
    // first). Content grain is distinct 5-token chunks per source
    // (md5-fingerprinted); the pairwise intersection is a self-join ON
    // THE FINGERPRINT, whose fan-out is bounded by #sources per chunk
    // (<= 4 here, never data-sized) — candidate pairs scale linearly in
    // corpus size, the q41/q49 bucketing discipline. share = one
    // int64->double divide against the left source's chunk count.
    QuerySpec(
      "q171_source_overlap",
      Some(s"""WITH tok AS (SELECT source, ${toksDuck("text")}
            AS toks FROM documents),
        ch AS (SELECT DISTINCT source,
            unnest(${ngramsDuck("toks", 5, e => s"md5($e)")}) AS fp
          FROM tok WHERE len(toks) >= 5),
        sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks
          FROM ch GROUP BY 1),
        ov AS (SELECT a.source AS src_a, b.source AS src_b,
            CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM ch a JOIN ch b ON a.fp = b.fp AND a.source <> b.source
          GROUP BY 1, 2)
        SELECT ov.src_a, ov.src_b, ov.n_shared, sz.n_chunks AS n_chunks_a,
          CAST(ov.n_shared AS DOUBLE) / CAST(sz.n_chunks AS DOUBLE)
            AS overlap_share
        FROM ov JOIN sz ON sz.source = ov.src_a"""),
      (s, d) => {
        val ch = t(s, d, "documents")
          .withColumn("toks", expr(toksSpark("text")))
          .filter(size(col("toks")) >= 5)
          .select(col("source"),
            explode(expr(ngramsSpark("toks", 5, e => s"md5($e)"))).as("fp"))
          .distinct()
          .cache() // feeds sizes AND both sides of the fingerprint join
        val sz = ch.groupBy(col("source")).agg(count(lit(1)).as("n_chunks"))
        val ov = ch.select(col("source").as("src_a"), col("fp"))
          .join(ch.select(col("source").as("src_b"), col("fp")), Seq("fp"))
          .filter(col("src_a") =!= col("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_shared"))
        ov.join(broadcast(sz.withColumnRenamed("source", "src_a")), "src_a")
          .select(col("src_a"), col("src_b"), col("n_shared"),
            col("n_chunks").as("n_chunks_a"),
            (col("n_shared").cast("double") / col("n_chunks").cast("double"))
              .as("overlap_share"))
      }),

    // ---- top-k with "other" rollup (coverage table) --------------------------
    // The reporting shape every mixture dashboard uses: each source's
    // top-3 languages by doc count plus a single 'other' bucket so the
    // rows still sum to the total. Rank and re-aggregate both run on the
    // |source x lang| group table (one partial-agg shuffle from data);
    // the cut is the deterministic (count desc, lang) total order.
    QuerySpec(
      "q178_topk_other",
      Some("""WITH g AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT)
            AS n FROM documents GROUP BY 1, 2),
        r AS (SELECT source, lang, n, row_number() OVER (
            PARTITION BY source ORDER BY n DESC, lang) AS rk FROM g),
        k AS (SELECT source,
            CASE WHEN rk <= 3 THEN lang ELSE 'other' END AS lang_class,
            CASE WHEN rk <= 3 THEN rk ELSE 4 END AS rk, n FROM r)
        SELECT source, lang_class, CAST(MIN(rk) AS INT) AS rk,
          CAST(SUM(n) AS BIGINT) AS n_docs,
          CAST(COUNT(*) AS BIGINT) AS n_langs_in_class
        FROM k GROUP BY 1, 2"""),
      (s, d) => {
        val g = t(s, d, "documents")
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("lang"))
        g.withColumn("rk", row_number().over(w))
          .select(col("source"),
            when(col("rk") <= 3, col("lang")).otherwise("other")
              .as("lang_class"),
            when(col("rk") <= 3, col("rk")).otherwise(4).as("rk"),
            col("n"))
          .groupBy(col("source"), col("lang_class"))
          .agg(min(col("rk")).cast("int").as("rk"),
            sum(col("n")).cast("long").as("n_docs"),
            count(lit(1)).as("n_langs_in_class"))
      }),

    // ---- feature hashing (the hashing trick) --------------------------------
    // Vowpal-Wabbit-style dimensionality reduction: every token maps to
    // one of a FIXED number of buckets via a hash, so the feature space
    // is bounded no matter how large the vocabulary grows — the standard
    // way to featurize an unbounded token stream for linear models at
    // scale. One explode + one partial-agg shuffle on the bucket id; the
    // output grain is the bucket table (256 rows, corpus-independent).
    // The bucket hash is the portable 60-bit md5 prefix (h64), salted so
    // this feature space is independent of the other h64 users; count
    // distincts expand to (bucket, term)/(bucket, doc) pairs — still
    // shuffle-bounded by the explode size, the same shape q145's
    // document-frequency pass runs.
    QuerySpec(
      "q196_feature_hash",
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${toksDuck("text")}) AS term
          FROM documents)
        SELECT ${Portable.h64Duck("'feat:' || term")} % 256 AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
          MIN(term) AS first_term
        FROM tok GROUP BY 1"""),
      (s, d) => {
        t(s, d, "documents")
          .select(col("doc_id"), explode(expr(toksSpark("text"))).as("term"))
          .groupBy((expr(Portable.h64Spark("concat('feat:', term)")) % 256)
            .as("bucket"))
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct(col("doc_id")).as("n_docs"),
            countDistinct(col("term")).as("n_terms"),
            min(col("term")).as("first_term"))
      }),

    // ---- BM25 retrieval (rational-idf variant, top-10) ----------------------
    // Okapi BM25 scoring for a fixed query term set, with the q145
    // log-free discipline: the idf factor is the exact RATIONAL
    // (N−df+0.5)/(df+0.5) instead of its logarithm (log is the one op
    // whose last ulp differs between libms; the rational preserves the
    // engine-portable guarantee and is monotone in the same direction).
    // Saturation and length normalization are standard k1=1.2, b=0.75:
    // tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) where avgdl folds in as
    // dl·N/T on exact longs — the whole score is a fixed tree of
    // single-rounded IEEE ops over exact integer inputs, and the per-doc
    // sum over query terms runs on the Exact grid. Shape: tf for the
    // query terms only (filter BEFORE the tf shuffle), doc lengths from
    // one token-count pass, df/N/T broadcast scalars, top-10 by
    // TakeOrdered.
    QuerySpec(
      "q209_bm25_topk",
      Some(s"""WITH $bm25DuckCte
          SELECT doc_id, dl, score,
            CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
              AS INT) AS rk
          FROM bm
          QUALIFY rk <= 10"""),
      (s, d) => {
        // top-10 via TakeOrdered (orderBy+limit), never a doc-grain
        // global rank window; the rk labels attach on the 10-row result
        bm25Scores(s, d)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id"))).cast("int"))
          .select(col("doc_id"), col("dl"), col("score"), col("rk"))
      }),

    // ---- typo-pair candidates (deletion-neighborhood blocking) --------------
    // SymSpell spelling normalization for a crawl vocabulary at
    // max-distance 2: every term pair within edit distance 2 shares at
    // least one key among the term's 0-, 1- and 2-character-deletion
    // variants, so blocking on those keys finds all ED<=2 pairs with
    // per-term fan-out <= 1 + L + L(L-1)/2 — bounded by the max token
    // length (a domain constant), NEVER an all-pairs vocabulary join
    // (naive is |V|² and |V| grows with the corpus). Shared keys can
    // over-generate (alignments beyond ED 2), so candidates verify with
    // the engines' native levenshtein (classic integer DP, identical
    // both sides). Output pairs carry document frequencies — the "rare
    // variant of a common term" signal a normalizer acts on.
    QuerySpec(
      "q211_spell_candidates",
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${toksDuck("text")}) AS term
          FROM documents),
        vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
          FROM tok WHERE length(term) BETWEEN 2 AND 24 GROUP BY 1),
        pos AS (SELECT a.p, b.q
          FROM (SELECT unnest(range(0, 25)) AS p) a,
               (SELECT unnest(range(0, 25)) AS q) b
          WHERE (a.p = 0 AND b.q = 0) OR (a.p = 0 AND b.q >= 1)
             OR (a.p >= 1 AND b.q > a.p)),
        keys AS (SELECT term, df,
            CASE WHEN p = 0 AND q = 0 THEN term
              WHEN p = 0 THEN
                substring(term, 1, q - 1) || substring(term, q + 1)
              ELSE substring(term, 1, p - 1)
                || substring(term, p + 1, q - p - 1)
                || substring(term, q + 1)
            END AS k
          FROM vocab, pos WHERE q <= length(term)),
        cand AS (SELECT DISTINCT a.term AS term_a, b.term AS term_b,
            a.df AS df_a, b.df AS df_b
          FROM keys a JOIN keys b ON b.k = a.k AND a.term < b.term)
        SELECT term_a, term_b, df_a, df_b,
          CAST(levenshtein(term_a, term_b) AS BIGINT) AS dist
        FROM cand WHERE levenshtein(term_a, term_b) <= 2"""),
      (s, d) => {
        val vocab = t(s, d, "documents")
          .select(explode(expr(toksSpark("text"))).as("term"))
          .filter(length(col("term")).between(2, 24))
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
        // (p, q) deletion-position pairs: (0,0) identity, (0,q) single
        // deletion at q, (p<q) double deletion — capped by the 24-char
        // token bound on BOTH engines
        val pos = (for {
          p <- 0 to 24; q <- 0 to 24
          if (p == 0 && q == 0) || (p == 0 && q >= 1) || (p >= 1 && q > p)
        } yield (p, q)).toArray
        val posDf = pos.map { case (p, q) => s"struct(${p}, ${q})" }
          .mkString("array(", ", ", ")")
        val keys = vocab
          .withColumn("pq", explode(expr(posDf)))
          .select(col("term"), col("df"),
            col("pq.col1").as("p"), col("pq.col2").as("q"))
          .filter(col("q") <= length(col("term")))
          .withColumn("k", expr("""CASE
            WHEN p = 0 AND q = 0 THEN term
            WHEN p = 0 THEN
              concat(substring(term, 1, q - 1), substring(term, q + 1))
            ELSE concat(substring(term, 1, p - 1),
              substring(term, p + 1, q - p - 1), substring(term, q + 1))
            END"""))
          .select(col("term"), col("df"), col("k"))
        val a = keys.select(col("k"), col("term").as("term_a"),
          col("df").as("df_a"))
        val b = keys.select(col("k"), col("term").as("term_b"),
          col("df").as("df_b"))
        a.join(b, Seq("k"))
          .filter(col("term_a") < col("term_b"))
          .select(col("term_a"), col("term_b"), col("df_a"), col("df_b"))
          .distinct()
          .filter(levenshtein(col("term_a"), col("term_b")) <= 2)
          .withColumn("dist",
            levenshtein(col("term_a"), col("term_b")).cast("long"))
      }),

    // ---- PMI collocation mining --------------------------------------------
    // Pointwise-mutual-information scoring of adjacent word pairs — the
    // collocation detector (Church & Hanks): ranks pairs by association
    // strength p(xy)/(p(x)p(y)) rather than q149's raw frequency, so
    // "of the"-style high-frequency noise drops and genuinely bound
    // pairs surface. All counts are exact integers; the PMI RATIO is
    // emitted instead of its log — (c_xy/M)/((c_x/N)(c_y/N)) as three
    // IEEE divisions and one multiply in a pinned order, bit-identical
    // in both engines, where a libm log would not be. Support floor
    // c_xy >= 5 (the sparse-pair variance gate), top 50 by ratio with
    // a total tie-break order.
    // 100 TB plan: bigram and unigram counts are partial-agg shuffles on
    // the pair/term keys; the two unigram joins hit the VOCABULARY-grain
    // table; final top-k is a global sort of the support-filtered pair
    // list (already sparsified by the floor).
    QuerySpec(
      "q221_pmi_collocations",
      Some(s"""WITH tok AS (SELECT u.t AS term, u.i AS i, doc_id FROM (
            SELECT doc_id, unnest([{'t': t[i], 'i': i}
                for i in range(1, len(t) + 1)]) AS u
            FROM (SELECT doc_id, ${toksDuck("text")} AS t FROM documents) z) y),
        uni AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok GROUP BY 1),
        nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
        bi AS (SELECT a.term AS term_a, b.term AS term_b,
            CAST(COUNT(*) AS BIGINT) AS c_xy
          FROM tok a JOIN tok b
            ON b.doc_id = a.doc_id AND b.i = a.i + 1
          GROUP BY 1, 2),
        mm AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS m FROM bi),
        sc AS (SELECT term_a, term_b, c_xy, ua.c AS c_x, ub.c AS c_y,
            (c_xy / CAST(m AS DOUBLE)) /
              ((ua.c / CAST(n AS DOUBLE)) * (ub.c / CAST(n AS DOUBLE)))
              AS ratio
          FROM bi CROSS JOIN mm CROSS JOIN nn
          JOIN uni ua ON ua.term = bi.term_a
          JOIN uni ub ON ub.term = bi.term_b
          WHERE c_xy >= 5)
        SELECT term_a, term_b, c_xy, c_x, c_y,
          round(ratio, 4) AS pmi_ratio
        FROM sc ORDER BY ratio DESC, term_a, term_b LIMIT 50"""),
      (s, d) => {
        val tok = t(s, d, "documents")
          .withColumn("t", expr(toksSpark("text")))
          .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "term")))
        val uni = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
        val nn = uni.agg(sum(col("c")).cast("long").as("n"))
        val bi = tok.select(col("doc_id"), col("i"), col("term").as("term_a"))
          .join(tok.select(col("doc_id"), (col("i") - 1).as("i"),
            col("term").as("term_b")), Seq("doc_id", "i"))
          .groupBy(col("term_a"), col("term_b"))
          .agg(count(lit(1)).as("c_xy"))
        val mm = bi.agg(sum(col("c_xy")).cast("long").as("m"))
        bi.filter(col("c_xy") >= 5)
          .crossJoin(broadcast(mm)).crossJoin(broadcast(nn))
          // Unigram joins stay SHUFFLE joins: `uni` is vocabulary-grain,
          // which on a web-scale corpus is far past broadcast size.
          .join(uni.select(col("term").as("term_a"), col("c").as("c_x")),
            Seq("term_a"))
          .join(uni.select(col("term").as("term_b"), col("c").as("c_y")),
            Seq("term_b"))
          .withColumn("ratio",
            (col("c_xy") / col("m").cast("double")) /
              ((col("c_x") / col("n").cast("double")) *
                (col("c_y") / col("n").cast("double"))))
          .orderBy(col("ratio").desc, col("term_a"), col("term_b"))
          .limit(50)
          .select(col("term_a"), col("term_b"), col("c_xy"),
            col("c_x"), col("c_y"), round(col("ratio"), 4).as("pmi_ratio"))
      }),

    // ---- vocabulary growth curve (Heaps'-law audit, two grains) ------------
    // How fast does the type vocabulary grow as the corpus is ingested in
    // doc-id order? Per 50-doc block, at BOTH grains a tokenizer budget
    // cares about: unigram types and word-3-gram types whose global
    // first occurrence (min doc_id — the q126 first-occurrence
    // discipline) lands in the block, plus running cumulative counts.
    // The two grains answer different questions: unigrams size the vocab
    // (this fixture saturates at 31 types in block 0 — the curve reports
    // that honestly), 3-grams track CONTENT novelty (they keep growing,
    // Heaps-shaped; a flat block signals duplicated ingest, a spike a
    // source shift). 100 TB plan: one (term) and one (3-gram) shuffle
    // find first occurrences; every rollup lands on the bounded block
    // grain (corpus/50 groups), and the only window runs over that
    // block-grain aggregate (GuardSpec's group-grain rule).
    QuerySpec(
      "q340_vocab_growth",
      Some(s"""WITH dt AS (SELECT doc_id,
            list_filter(${toksDuck("text")}, x -> x <> '')
              AS t
          FROM documents),
        tk AS (SELECT doc_id, unnest(t) AS term FROM dt),
        g3 AS (SELECT doc_id, unnest(${ngramsDuck("t", 3)}) AS gram
          FROM dt WHERE len(t) >= 3),
        nb AS (SELECT fd // 50 AS g, CAST(COUNT(*) AS BIGINT) AS n_new
          FROM (SELECT term, MIN(doc_id) AS fd FROM tk GROUP BY term) z
          GROUP BY 1),
        n3 AS (SELECT fd // 50 AS g, CAST(COUNT(*) AS BIGINT) AS n_new3
          FROM (SELECT gram, MIN(doc_id) AS fd FROM g3 GROUP BY gram) z
          GROUP BY 1),
        tb AS (SELECT doc_id // 50 AS g, CAST(COUNT(*) AS BIGINT)
            AS n_tokens
          FROM tk GROUP BY 1)
        SELECT tb.g AS block, tb.n_tokens,
          COALESCE(nb.n_new, 0) AS n_new_types,
          CAST(SUM(COALESCE(nb.n_new, 0)) OVER (ORDER BY tb.g) AS BIGINT)
            AS cum_types,
          COALESCE(n3.n_new3, 0) AS n_new_3grams,
          CAST(SUM(COALESCE(n3.n_new3, 0)) OVER (ORDER BY tb.g)
            AS BIGINT) AS cum_3grams
        FROM tb LEFT JOIN nb ON nb.g = tb.g
                LEFT JOIN n3 ON n3.g = tb.g"""),
      (s, d) => {
        val dt = t(s, d, "documents")
          .select(col("doc_id"),
            filter(expr(toksSpark("text")), x => x =!= "").as("t"))
        val tk = dt.select(col("doc_id"), explode(col("t")).as("term"))
        val g3 = dt.filter(size(col("t")) >= 3)
          .select(col("doc_id"), explode(expr(ngramsSpark("t", 3))).as("gram"))
        val nb = tk.groupBy(col("term")).agg(min(col("doc_id")).as("fd"))
          .groupBy(expr("fd div 50").as("g"))
          .agg(count(lit(1)).as("n_new"))
        val n3 = g3.groupBy(col("gram")).agg(min(col("doc_id")).as("fd"))
          .groupBy(expr("fd div 50").as("g"))
          .agg(count(lit(1)).as("n_new3"))
        val tb = tk.groupBy(expr("doc_id div 50").as("g"))
          .agg(count(lit(1)).as("n_tokens"))
        // block-grain windows: the input is the 50-doc-block aggregate
        val w = Window.orderBy(col("block"))
          .rowsBetween(Window.unboundedPreceding, 0)
        tb.join(nb, Seq("g"), "left").join(n3, Seq("g"), "left")
          .select(col("g").as("block"), col("n_tokens"),
            coalesce(col("n_new"), lit(0L)).as("n_new_types"),
            coalesce(col("n_new3"), lit(0L)).as("n_new_3grams"))
          .withColumn("cum_types", sum(col("n_new_types")).over(w))
          .withColumn("cum_3grams", sum(col("n_new_3grams")).over(w))
      })
  )
}
