package graft.queries

import graft.Tables
import graft.functions.{Exact, Portable}
import graft.operators.BlockScan
import graft.functions.Portable.{h64Duck, setFpDuck, setFpSpark, toksSpark,
  toksDuck, ngramsSpark, ngramsDuck}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over the `documents` corpus (the
  * driver-mandated LLM-pipeline extensions, BASELINE.json `north_star`):
  * deterministic train/val/test splitting, a composed quality+dedup corpus
  * filter, bigram statistics (the counting pass a BPE/ngram-LM trainer
  * needs), integer-exact TF-IDF, positional explode variants, sensitive-
  * span scrubbing, benchmark-contamination detection, stratified
  * deterministic sampling, and token-budget shard packing.
  *
  * Scale posture (100 TB corpus):
  *  - the split is a pure per-row hash — embarrassingly parallel, no
  *    shuffle, stable under repartitioning and reruns (same doc_id → same
  *    split, the property a training pipeline needs for reproducibility);
  *  - corpus filtering shuffles once on the content fingerprint (the dedup
  *    key) after all row-local gates have pruned the data;
  *  - bigram/TF-IDF counts are partial-aggregated token streams — the
  *    shuffle carries (token, count) pairs, never documents;
  *  - TF-IDF's document-frequency side is tiny relative to the corpus and
  *    broadcast-joined back onto term counts.
  *
  * Determinism: the split hash is the portable md5-prefix ([[Portable]]);
  * TF-IDF avoids log() (libm last-ULP skew across engines) by scoring with
  * the rational tf·N/df — same ordering as tf·log-smoothed idf for fixed
  * tf, and exactly computable in both engines.
  */
object TrainingPipeline {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** q334 keep floor on the mean per-transition KN probability — pinned
    * to split the fixture corpus non-trivially (see q334's header).
    */
  private val KnKeepThreshold = 0.0345

  val all: Seq[QuerySpec] = Seq(

    // ---- posexplode_outer: positions + empty-array row preservation -------
    QuerySpec(
      "q80_explode_pos",
      Some(s"""WITH d AS (
          SELECT doc_id,
            list_filter(${toksDuck("text")}, x -> length(x) > 8)
              AS lt
          FROM documents)
        SELECT doc_id,
          CASE WHEN lt IS NULL OR len(lt) = 0 THEN NULL
            ELSE CAST(u.i - 1 AS INT) END AS pos,
          u.x AS tok
        FROM (SELECT doc_id, lt,
            -- NULL arrays must keep their row (posexplode_outer semantics):
            -- unnest(NULL) would emit zero rows, so map NULL → one-NULL-row
            -- just like the empty-list case.
            unnest(CASE WHEN lt IS NULL OR len(lt) = 0
              THEN [{'i': CAST(NULL AS INT), 'x': CAST(NULL AS VARCHAR)}]
              ELSE list_transform(lt, (x, i) -> {'i': i, 'x': x}) END) AS u
          FROM d) z"""),
      (s, d) =>
        t(s, d, "documents")
          .withColumn("lt",
            expr(s"filter(${toksSpark("text")}, x -> length(x) > 8)"))
          .select(col("doc_id"), posexplode_outer(col("lt")))
          .withColumnRenamed("col", "tok")),

    // ---- deterministic hash-based train/val/test split ---------------------
    QuerySpec(
      "q81_train_split", {
        val h = Portable.h64Duck("CAST(doc_id AS VARCHAR)")
        Some(s"""SELECT split, lang, COUNT(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS chars_total
          FROM (
            SELECT lang, n_chars,
              CASE WHEN $h % 10 <= 7 THEN 'train'
                   WHEN $h % 10 = 8 THEN 'val'
                   ELSE 'test' END AS split
            FROM documents) z
          GROUP BY split, lang""")
      },
      (s, d) => {
        val h = expr(Portable.h64Spark("cast(doc_id as string)"))
        t(s, d, "documents")
          .withColumn("split",
            when(h % 10 <= 7, "train")
              .when(h % 10 === 8, "val")
              .otherwise("test"))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars_total"))
      }),

    // ---- composed corpus filter: language + length gates, then dedup ------
    QuerySpec(
      "q82_corpus_filter",
      Some(s"""WITH scored AS (
          SELECT doc_id, lang, n_chars,
            len(${toksDuck("text")}) AS n_toks,
            ${setFpDuck(toksDuck("text"))} AS fp
          FROM documents),
        keep AS (
          SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
          FROM scored
          WHERE lang = 'en' AND n_toks >= 20 AND n_chars <= 5000)
        SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks, n_chars
        FROM keep WHERE rk = 1"""),
      (s, d) =>
        t(s, d, "documents")
          .withColumn("toks", expr(toksSpark("text")))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            size(col("toks")).cast("bigint").as("n_toks"),
            expr(setFpSpark("toks")).as("fp"))
          .filter(col("lang") === "en" && col("n_toks") >= 20
            && col("n_chars") <= 5000)
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
          .filter(col("rk") === 1)
          .select(col("doc_id"), col("lang"), col("n_toks"), col("n_chars"))),

    // ---- bigram counting (BPE/ngram-LM statistics pass) ---------------------
    QuerySpec(
      "q83_bigrams",
      Some(s"""WITH toks AS (
          SELECT ${toksDuck("text")} AS t FROM documents),
        bg AS (
          SELECT unnest(${ngramsDuck("t", 2)}) AS bigram
          FROM toks)
        SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
        ORDER BY n DESC, bigram LIMIT 20"""),
      (s, d) =>
        t(s, d, "documents")
          .withColumn("t", expr(toksSpark("text")))
          .filter(size(col("t")) >= 2) // a 1-token doc has no bigram
          .select(explode(expr(ngramsSpark("t", 2))).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(20)),

    // ---- integer-exact TF-IDF, top-3 terms per document ---------------------
    QuerySpec(
      "q84_tfidf",
      Some(s"""WITH tf AS (
          SELECT doc_id, unnest(${toksDuck("text")}) AS tok
          FROM documents),
        tfc AS (SELECT doc_id, tok, COUNT(*) AS tf
          FROM tf GROUP BY doc_id, tok),
        df AS (SELECT tok, COUNT(*) AS df FROM (
            SELECT DISTINCT doc_id, tok FROM tf) z GROUP BY tok),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT t.doc_id, t.tok, t.tf, df.df,
            CAST(t.tf * n.n_docs AS DOUBLE) / df.df AS score
          FROM tfc t, df, n WHERE t.tok = df.tok)
        SELECT doc_id, tok, tf, df, score, CAST(rk AS INT) AS rk FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, tok) AS rk FROM scored) z
        WHERE rk <= 3"""),
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"), explode(expr(toksSpark("text"))).as("tok"))
        val tfc = toks.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val df = toks.distinct()
          .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
        tfc.join(df, "tok").crossJoin(broadcast(nDocs))
          .withColumn("score",
            (col("tf") * col("n_docs")).cast("double") / col("df"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("score").desc, col("tok"))))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("tok"), col("tf"), col("df"),
            col("score"), col("rk"))
      }),

    // ---- sensitive-span scrubbing (regexp redaction pass) -------------------
    // The PII-scrub stage of a corpus pipeline: replace matches of
    // sensitive patterns and count what was removed, per document. The
    // fixture text has no real PII, so the entity pattern uses stand-in
    // tokens that do occur; the digit-run pattern exercises the
    // no-match path. Patterns stick to the regex subset with identical
    // semantics in Java regex and RE2 (char classes, alternation, \b,
    // bounded quantifiers). Row-local (no shuffle): scales with the scan.
    QuerySpec(
      "q85_redact",
      // NB: this is a Scala triple-quoted string — backslashes pass through
      // verbatim, so '\b' below reaches RE2 as the word-boundary escape.
      Some("""SELECT doc_id,
          regexp_replace(
            regexp_replace(text, '\b(customer|vector)\b', '<ENT>', 'g'),
            '[0-9]{6,}', '<NUM>', 'g') AS clean_text,
          CAST(len(regexp_extract_all(text, '\b(customer|vector)\b'))
            AS INT) AS n_ents,
          CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS INT) AS n_nums
        FROM documents"""),
      (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), "\\b(customer|vector)\\b", "<ENT>"),
            "[0-9]{6,}", "<NUM>").as("clean_text"),
          expr("CAST(regexp_count(text, '\\\\b(customer|vector)\\\\b') AS INT)")
            .as("n_ents"),
          expr("CAST(regexp_count(text, '[0-9]{6,}') AS INT)").as("n_nums"))),

    // ---- benchmark-contamination check (shingle containment) ----------------
    // Flag corpus docs sharing word-3-gram shingles with a benchmark set
    // (here: docs 0-2 stand in for the eval set). The benchmark side is
    // tiny by nature → broadcast its exploded shingle set; the corpus side
    // explodes and inner-joins on the 60-bit portable shingle hash — no
    // corpus self-join, candidates bounded by benchmark size. This is the
    // decontamination pass every training pipeline runs before a split.
    QuerySpec(
      "q86_contamination", {
        Some(s"""WITH docs AS (
            SELECT doc_id, ${toksDuck("text")} AS toks FROM documents),
          sh AS (SELECT doc_id,
              list_distinct(${ngramsDuck("toks", 3, h64Duck)}) AS shingles
            FROM docs WHERE len(toks) >= 3),
          bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh
            WHERE doc_id < 3),
          hits AS (SELECT c.doc_id, COUNT(*) AS n_shared
            FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
                  WHERE doc_id >= 3) c
            JOIN bench ON bench.s = c.s
            GROUP BY c.doc_id)
          SELECT doc_id, n_shared FROM hits WHERE n_shared >= 3""")
      },
      (s, d) => {
        val sh = Dedup.shingleSets(s, d)
        val bench = sh.filter(col("doc_id") < 3)
          .select(explode(col("shingles")).as("s")).distinct()
        sh.filter(col("doc_id") >= 3)
          .select(col("doc_id"), explode(col("shingles")).as("s"))
          .join(broadcast(bench), "s")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
      }),

    // ---- stratified deterministic sampling (data-mix curation) --------------
    // Per-language sampling rates via the portable hash (en is abundant →
    // keep 10%; other languages → keep 50%): the mix-rebalancing step of
    // corpus curation. Purely row-local, rerun-stable, and the SAME rows
    // are selected in both engines because the hash is.
    QuerySpec(
      "q87_stratified_sample", {
        val h = Portable.h64Duck("CAST(doc_id AS VARCHAR)")
        Some(s"""SELECT lang, COUNT(*) AS n_sampled,
            CAST(SUM(n_chars) AS BIGINT) AS chars_sampled,
            MIN(doc_id) AS first_doc
          FROM documents
          WHERE ($h % 10) < (CASE WHEN lang = 'en' THEN 1 ELSE 5 END)
          GROUP BY lang""")
      },
      (s, d) => {
        val h = expr(Portable.h64Spark("cast(doc_id as string)"))
        t(s, d, "documents")
          .filter((h % 10) < when(col("lang") === "en", 1).otherwise(5))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sampled"),
            sum(col("n_chars")).as("chars_sampled"),
            min(col("doc_id")).as("first_doc"))
      }),

    // ---- bigram-LM fluency scoring (perplexity-proxy quality filter) --------
    // Score each document by its mean bigram transition probability under
    // the corpus's own bigram model — the deterministic stand-in for the
    // LM-perplexity filter every training pipeline runs (low scores =
    // disfluent/boilerplate text). log() is avoided (libm last-ULP skew):
    // the mean of p(next|prev) ranks fluency the same way for comparison
    // purposes and is exactly portable — each p is one IEEE divide of two
    // BIGINT counts, summed on the decimal grid.
    // Scale: two count aggs (partial-agg token-pair streams) + two shuffle
    // joins on token keys; nothing quadratic, no driver state.
    QuerySpec(
      "q89_bigram_fluency", {
        Some(s"""WITH toks AS (
            SELECT doc_id, ${toksDuck("text")} AS t FROM documents),
          bg AS (SELECT doc_id, u.pa AS pa, u.nb AS nb FROM (
              SELECT doc_id,
                unnest([{'pa': t[i], 'nb': t[i+1]}
                  for i in range(1, len(t))]) AS u
              FROM toks WHERE len(t) >= 2) z),
          cab AS (SELECT pa, nb, COUNT(*) AS cab FROM bg GROUP BY pa, nb),
          ca AS (SELECT pa, COUNT(*) AS ca FROM bg GROUP BY pa),
          scored AS (SELECT doc_id,
              CAST(cab.cab AS DOUBLE) / ca.ca AS p
            FROM bg JOIN cab USING (pa, nb) JOIN ca USING (pa))
          SELECT doc_id, COUNT(*) AS n_bigrams,
            ${graft.functions.Exact.sqlDavg("p")} AS fluency
          FROM scored GROUP BY doc_id""")
      },
      (s, d) => {
        val bg = t(s, d, "documents")
          .withColumn("t", expr(toksSpark("text")))
          .select(col("doc_id"), explode(expr(
            """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
               (a, b) -> struct(a AS pa, b AS nb))""")).as("u"))
          .select(col("doc_id"), col("u.pa").as("pa"), col("u.nb").as("nb"))
        val cab = bg.groupBy(col("pa"), col("nb"))
          .agg(count(lit(1)).as("cab"))
        val ca = bg.groupBy(col("pa")).agg(count(lit(1)).as("ca"))
        bg.join(cab, Seq("pa", "nb")).join(ca, Seq("pa"))
          .withColumn("p", col("cab").cast("double") / col("ca"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            graft.functions.Exact.davg(col("p")).as("fluency"))
      }),

    // ---- repetition metrics (Gopher-style quality filter) -------------------
    // The "repetition signals" block of Gopher/MassiveText-style quality
    // filtering: per document, the fraction of mass in the single most
    // frequent token, the duplicate-token fraction, and the duplicate-
    // bigram fraction, plus the resulting keep/drop gate (thresholds
    // picked to split this corpus non-trivially: top_frac p90≈0.14,
    // dup_bg_frac p90≈0.065). Complements q30's length/punct/stopword
    // quality scores with the repetition dimension. Scale: two partial-
    // agg-friendly (doc_id, token)-keyed counting passes, then per-doc
    // joins — no self-join, shuffles carry (doc, token, count) streams.
    // Determinism: every fraction is one IEEE divide (or 1-minus-divide)
    // of two exact BIGINTs — portable without the decimal grid (cf. q89).
    QuerySpec(
      "q57_repetition",
      Some(s"""WITH toks AS (
          SELECT doc_id, unnest(${toksDuck("text")}) AS tok
          FROM documents),
        tc AS (SELECT doc_id, tok, COUNT(*) AS c
          FROM toks GROUP BY doc_id, tok),
        ta AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
            COUNT(*) AS n_distinct, MAX(c) AS top_c
          FROM tc GROUP BY doc_id),
        d2 AS (SELECT doc_id, ${toksDuck("text")} AS t FROM documents),
        bg AS (SELECT doc_id, unnest(${ngramsDuck("t", 2)}) AS b
          FROM d2 WHERE len(t) >= 2),
        ba AS (SELECT doc_id, COUNT(*) AS n_bg, COUNT(DISTINCT b) AS d_bg
          FROM bg GROUP BY doc_id)
        SELECT ta.doc_id, n_toks, n_distinct, top_c,
          CAST(top_c AS DOUBLE) / n_toks AS top_frac,
          1 - CAST(n_distinct AS DOUBLE) / n_toks AS dup_tok_frac,
          1 - CAST(d_bg AS DOUBLE) / n_bg AS dup_bg_frac,
          (CAST(top_c AS DOUBLE) / n_toks <= 0.12
            AND COALESCE(1 - CAST(d_bg AS DOUBLE) / n_bg <= 0.05, TRUE))
            AS keep
        FROM ta LEFT JOIN ba ON ta.doc_id = ba.doc_id"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val tc = docs
          .select(col("doc_id"), explode(expr(toksSpark("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("c"))
        val ta = tc.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_toks"),
            count(lit(1)).as("n_distinct"),
            max(col("c")).as("top_c"))
        val ba = docs
          .withColumn("t", expr(toksSpark("text")))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(ngramsSpark("t", 2))).as("b"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bg"), countDistinct(col("b")).as("d_bg"))
        ta.join(ba, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_toks"), col("n_distinct"),
            col("top_c"),
            (col("top_c").cast("double") / col("n_toks")).as("top_frac"),
            (lit(1) - col("n_distinct").cast("double") / col("n_toks"))
              .as("dup_tok_frac"),
            (lit(1) - col("d_bg").cast("double") / col("n_bg"))
              .as("dup_bg_frac"))
          .withColumn("keep",
            col("top_frac") <= 0.12
              && coalesce(col("dup_bg_frac") <= 0.05, lit(true)))
      }),

    // ---- token-budget shard packing (recursive distributed prefix sum) ------
    // Pack the corpus, in doc_id order, into shards of ~2000 tokens — the
    // "write training shards of fixed token budget" step. A naive global
    // running sum is the q76 single-partition trap; a single level of
    // blocking only moves it (at 2e10 docs, a corpus/1024-row offsets
    // table is still ~2e7 rows through one global window + a forced
    // broadcast). So the block prefix-sum RECURSES one level:
    //   (1) per-block window cumsum, partitioned by g = doc_id div B;
    //   (2) per-block totals get a cumsum partitioned by the SUPERBLOCK
    //       g2 = g div B — still distributed;
    //   (3) only the per-superblock totals (corpus/B² rows: ~2e4 at 2e10
    //       docs, genuinely driver-scale) cross a global window;
    //   (4) offsets rejoin the data on g WITHOUT a broadcast hint — the
    //       data side is already hash-partitioned (and sorted) by g from
    //       step (1)'s window, so the join reuses that layout and only
    //       the offsets side moves; AQE may still choose broadcast when
    //       the table is actually small.
    // Bit-identical to the global cumsum at any scale (integer sums are
    // associative), one data shuffle total.
    // Not operators.BlockScan: its one level would leave (2) global.
    QuerySpec(
      "q88_shard_pack",
      Some(s"""WITH d AS (
          SELECT doc_id, len(${toksDuck("text")}) AS n_toks
          FROM documents),
        c AS (SELECT doc_id, n_toks,
            SUM(n_toks) OVER (ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS cum
          FROM d)
        SELECT CAST((cum - n_toks) // 2000 AS BIGINT) AS shard_id,
          COUNT(*) AS n_docs,
          CAST(SUM(n_toks) AS BIGINT) AS shard_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY 1"""),
      (s, d) => {
        val block = 1024L
        val docs = t(s, d, "documents")
          .select(col("doc_id"),
            size(expr(toksSpark("text"))).cast("bigint").as("n_toks"))
          .withColumn("g", expr(s"doc_id div $block"))
        val wIn = Window.partitionBy(col("g")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val inBlock = docs.withColumn("bcum", sum(col("n_toks")).over(wIn))
        // One row per block (corpus/B); prefix-summed by SUPERBLOCK, so no
        // global window touches this table.
        val bTotals = docs.groupBy(col("g"))
          .agg(sum(col("n_toks")).as("btotal"))
          .withColumn("g2", expr(s"g div $block"))
        val wSuper = Window.partitionBy(col("g2")).orderBy(col("g"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val withinSuper = bTotals.withColumn("soff",
          coalesce(sum(col("btotal")).over(wSuper), lit(0L)))
        // One row per superblock (corpus/B²): the ONLY global window, over
        // a doubly pre-aggregated table that is tiny at any realistic
        // corpus (2e10 docs → ~2e4 rows), and broadcastable by the same
        // argument.
        val wTop = Window.orderBy(col("g2"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val superOffsets = bTotals.groupBy(col("g2"))
          .agg(sum(col("btotal")).as("stotal"))
          .withColumn("soffset", coalesce(sum(col("stotal")).over(wTop), lit(0L)))
          .select(col("g2"), col("soffset"))
        val offsets = withinSuper.join(broadcast(superOffsets), "g2")
          .select(col("g"), (col("soffset") + col("soff")).as("offset"))
        inBlock.join(offsets, "g")
          .withColumn("cum", col("offset") + col("bcum"))
          .withColumn("shard_id", expr("(cum - n_toks) div 2000"))
          .groupBy(col("shard_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("shard_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
      }),

    // ---- quantile normalization ---------------------------------------------
    // The ML-preprocessing transform that maps each group's values onto a
    // COMMON distribution (here: the global one), so per-group scale and
    // shape differences vanish while ranks are preserved — the
    // bioinformatics/feature-pipeline standard. Distributed shape: the
    // data collapses to the (group, value) HISTOGRAM grain (one
    // partial-agg shuffle; grain bounded by |groups|×|distinct cents|,
    // corpus-size independent for fixed-range integer domains); the
    // within-group mid-rank comes from operators.BlockScan by group on
    // the cents block — NEVER a per-group single-task window (3
    // fact-sized partitions is the q176 cliff with a different hat); the
    // 101-point global quantile grid comes from operators.Quantiles and
    // broadcasts. The mapped value is two element_at lookups + one
    // two-product interpolation — the same IEEE tree both engines
    // (QuantilesSpec pins the grid itself bitwise).
    QuerySpec(
      "q189_quantile_norm",
      Some {
        val ps = (0 to 100).map(i => f"${i / 100.0}%.2f").mkString(", ")
        s"""WITH c AS (SELECT l_returnflag AS flag,
              CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
            FROM lineitem),
          hc AS (SELECT flag, cents, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM c GROUP BY 1, 2),
          nn AS (SELECT flag, CAST(SUM(cnt) AS BIGINT) AS n FROM hc
            GROUP BY 1),
          r AS (SELECT flag, cents, cnt,
              CAST(COALESCE(SUM(cnt) OVER (PARTITION BY flag
                ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS BIGINT) AS cb
            FROM hc),
          g AS (SELECT quantile_cont(cents, [$ps]) AS cuts FROM c),
          p AS (SELECT r.flag, r.cnt,
              (CAST(r.cb AS DOUBLE) + 0.5 * CAST(r.cnt - 1 AS DOUBLE))
                / CAST(nn.n - 1 AS DOUBLE) AS pr, nn.n
            FROM r JOIN nn ON nn.flag = r.flag),
          q AS (SELECT flag, cnt, n,
              CASE WHEN CAST(FLOOR(pr * 100.0) AS INT) >= 100
                THEN cuts[101]
                ELSE (1.0 - (pr * 100.0 - FLOOR(pr * 100.0)))
                    * cuts[CAST(FLOOR(pr * 100.0) AS INT) + 1]
                  + (pr * 100.0 - FLOOR(pr * 100.0))
                    * cuts[CAST(FLOOR(pr * 100.0) AS INT) + 2] END AS norm
            FROM p, g)
          SELECT flag, MAX(n) AS n,
            ${Exact.sqlDsum("norm * CAST(cnt AS DOUBLE)")} AS norm_sum,
            MIN(norm) AS norm_min, MAX(norm) AS norm_max
          FROM q GROUP BY flag"""
      },
      (s, d) => {
        val blockBits = 20
        val c = t(s, d, "lineitem").select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        val cuts = graft.operators.Quantiles
          .exactQuantiles(c, col("cents"), (0 to 100).map(_ / 100.0))
        val hc = c.groupBy(col("flag"), col("cents"))
          .agg(count(lit(1)).as("cnt"))
          .cache() // (flag, value) histogram feeds counts AND the cum
        val nn = hc.groupBy(col("flag")).agg(sum(col("cnt")).cast("long")
          .as("n"))
        val pr = ((col("cb").cast("double")
          + lit(0.5) * (col("cnt") - 1).cast("double"))
          / (col("n") - 1).cast("double"))
        val h = col("pr") * lit(100.0)
        val k = floor(h)
        val frac = h - k
        val norm = when(k.cast("int") >= 100, element_at(col("cuts"), 101))
          .otherwise((lit(1.0) - frac)
              * element_at(col("cuts"), k.cast("int") + 1)
            + frac * element_at(col("cuts"), k.cast("int") + 2))
        BlockScan.runningSums(hc, expr(s"cents div ${1L << blockBits}"),
            Seq(col("cents")), Seq("cb" -> col("cnt")), by = Seq(col("flag")))
          .withColumn("cb", col("cb") - col("cnt"))
          .join(broadcast(nn), "flag")
          .withColumn("pr", pr)
          .crossJoin(broadcast(cuts)) // 1-row 101-cut grid
          .withColumn("norm", norm)
          .groupBy(col("flag"))
          .agg(max(col("n")).as("n"),
            Exact.dsum(col("norm") * col("cnt").cast("double"))
              .as("norm_sum"),
            min(col("norm")).as("norm_min"),
            max(col("norm")).as("norm_max"))
      }),

    // ---- per-group min-max feature scaling ----------------------------------
    // The other preprocessing staple: x → (x − min)/(max − min) within
    // each group. Group extrema are one partial-agg shuffle; they
    // broadcast back (group-grain — the GuardSpec rule) and the scaling
    // is row-local integer subtraction + one IEEE divide, checksummed on
    // the decimal grid. Zero-range groups map to 0 symmetrically.
    QuerySpec(
      "q190_feature_scale",
      Some(s"""WITH c AS (SELECT event_type,
            CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        m AS (SELECT event_type, CAST(MIN(cents) AS BIGINT) AS mn,
            CAST(MAX(cents) AS BIGINT) AS mx FROM c GROUP BY 1)
        SELECT c.event_type, CAST(COUNT(*) AS BIGINT) AS n,
          MAX(m.mn) AS min_cents, MAX(m.mx) AS max_cents,
          ${Exact.sqlDsum("CASE WHEN m.mx > m.mn THEN CAST(c.cents - m.mn "
            + "AS DOUBLE) / CAST(m.mx - m.mn AS DOUBLE) ELSE 0.0 END")}
            AS scaled_sum
        FROM c JOIN m ON m.event_type = c.event_type
        GROUP BY c.event_type"""),
      (s, d) => {
        val c = t(s, d, "events").select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        val m = c.groupBy(col("event_type"))
          .agg(min(col("cents")).cast("long").as("mn"),
            max(col("cents")).cast("long").as("mx"))
        c.join(broadcast(m), "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            max(col("mn")).as("min_cents"),
            max(col("mx")).as("max_cents"),
            Exact.dsum(when(col("mx") > col("mn"),
              (col("cents") - col("mn")).cast("double")
                / (col("mx") - col("mn")).cast("double"))
              .otherwise(0.0)).as("scaled_sum"))
      }),

    // ---- leave-one-out target encoding --------------------------------------
    // The categorical-feature staple for gradient-boosted / linear models:
    // replace a category with the mean of the target over the OTHER rows
    // of the same category — leave-one-out, so a row never sees its own
    // label (the leakage the naive mean encoding has). Distributed shape:
    // one partial-agg shuffle to the category grain (n, sum), category
    // stats broadcast back (group-grain — the GuardSpec rule), and the
    // LOO value (sum − y)/(n − 1) is row-local integer subtraction plus
    // ONE IEEE divide of exact longs — bit-identical in both engines.
    // Singleton categories have no "other rows": enc is NULL (NULLIF) on
    // both sides rather than a silent divide-by-zero. Output collapses to
    // the category grain with an Exact-grid checksum over the row-level
    // encodings.
    QuerySpec(
      "q193_target_encode",
      Some(s"""WITH b AS (SELECT o_orderpriority AS g,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y FROM orders),
        m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(y) AS BIGINT) AS sy FROM b GROUP BY 1),
        e AS (SELECT b.g, m.n,
            CAST(m.sy - b.y AS DOUBLE)
              / CAST(NULLIF(m.n - 1, 0) AS DOUBLE) AS enc
          FROM b JOIN m ON m.g = b.g)
        SELECT g, MAX(n) AS n, ${Exact.sqlDsum("enc")} AS enc_sum,
          MIN(enc) AS enc_min, MAX(enc) AS enc_max
        FROM e GROUP BY g"""),
      (s, d) => {
        val b = t(s, d, "orders").select(col("o_orderpriority").as("g"),
          round(col("o_totalprice") * 100, 0).cast("long").as("y"))
        val m = b.groupBy(col("g")).agg(count(lit(1)).as("n"),
          sum(col("y")).cast("long").as("sy"))
        b.join(broadcast(m), "g")
          .withColumn("enc", (col("sy") - col("y")).cast("double")
            / nullif(col("n") - 1, lit(0L)).cast("double"))
          .groupBy(col("g"))
          .agg(max(col("n")).as("n"),
            Exact.dsum(col("enc")).as("enc_sum"),
            min(col("enc")).as("enc_min"),
            max(col("enc")).as("enc_max"))
      }),

    // ---- per-group median imputation ----------------------------------------
    // Fill missing values with the group's median — the robust imputation
    // default. "Missing" is a deterministic pseudo-mask (cents % 97 = 0,
    // ~1% of rows) since the fixture has no physical NULLs; the mask is
    // identical on both engines. The median comes from the (group, cents)
    // HISTOGRAM grain — one partial-agg shuffle; the grain is bounded by
    // |groups| × |distinct cents| (the value DOMAIN, fixed by the price
    // range, corpus-size independent), so the per-group cumulative window
    // over it never sees fact-sized data. Lower/upper median positions
    // are exact integer ranks; to keep the whole query on the integer
    // grid the output carries DOUBLED totals (2×cents, median_lo +
    // median_hi) instead of halved doubles — hash-exact, no float at all.
    QuerySpec(
      "q197_group_impute",
      Some("""WITH c AS (SELECT event_type AS g,
            CAST(round(value * 100, 0) AS BIGINT) AS cents,
            (CAST(round(value * 100, 0) AS BIGINT) % 97 = 0) AS miss
          FROM events),
        h AS (SELECT g, cents, CAST(COUNT(*) AS BIGINT) AS cnt FROM c
          WHERE NOT miss GROUP BY 1, 2),
        p AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n,
            CAST((SUM(cnt) - 1) // 2 AS BIGINT) AS lo,
            CAST(SUM(cnt) // 2 AS BIGINT) AS hi FROM h GROUP BY 1),
        r AS (SELECT h.g, h.cents, h.cnt, p.lo, p.hi,
            CAST(COALESCE(SUM(h.cnt) OVER (PARTITION BY h.g
              ORDER BY h.cents ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING), 0) AS BIGINT) AS cb
          FROM h JOIN p ON p.g = h.g),
        vl AS (SELECT g, MIN(cents) AS med_lo FROM r
          WHERE cb <= lo AND lo < cb + cnt GROUP BY 1),
        vh AS (SELECT g, MIN(cents) AS med_hi FROM r
          WHERE cb <= hi AND hi < cb + cnt GROUP BY 1),
        st AS (SELECT g, CAST(COUNT(*) FILTER (WHERE NOT miss) AS BIGINT)
              AS n_obs,
            CAST(COUNT(*) FILTER (WHERE miss) AS BIGINT) AS n_miss,
            CAST(SUM(CASE WHEN miss THEN 0 ELSE cents END) AS BIGINT)
              AS obs_sum
          FROM c GROUP BY 1)
        SELECT st.g, st.n_obs, st.n_miss, vl.med_lo, vh.med_hi,
          2 * st.obs_sum + st.n_miss * (vl.med_lo + vh.med_hi)
            AS imputed_total2
        FROM st JOIN vl ON vl.g = st.g JOIN vh ON vh.g = st.g"""),
      (s, d) => {
        val c = t(s, d, "events").select(col("event_type").as("g"),
          round(col("value") * 100, 0).cast("long").as("cents"))
          .withColumn("miss", col("cents") % 97 === 0)
        val h = c.filter(!col("miss")).groupBy(col("g"), col("cents"))
          .agg(count(lit(1)).as("cnt"))
        val p = h.groupBy(col("g")).agg(sum(col("cnt")).cast("long").as("n"))
          .withColumn("lo", floor((col("n") - 1) / 2).cast("long"))
          .withColumn("hi", floor(col("n") / 2).cast("long"))
        val wc = Window.partitionBy(col("g")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val r = h.withColumn("cb", coalesce(sum(col("cnt")).over(wc), lit(0L)))
          .join(broadcast(p), "g")
        val vl = r.filter(col("cb") <= col("lo")
            && col("lo") < col("cb") + col("cnt"))
          .groupBy(col("g")).agg(min(col("cents")).as("med_lo"))
        val vh = r.filter(col("cb") <= col("hi")
            && col("hi") < col("cb") + col("cnt"))
          .groupBy(col("g")).agg(min(col("cents")).as("med_hi"))
        val st = c.groupBy(col("g")).agg(
          count(when(!col("miss"), 1)).as("n_obs"),
          count(when(col("miss"), 1)).as("n_miss"),
          sum(when(col("miss"), 0L).otherwise(col("cents"))).cast("long")
            .as("obs_sum"))
        st.join(broadcast(vl), "g").join(broadcast(vh), "g")
          .select(col("g"), col("n_obs"), col("n_miss"),
            col("med_lo"), col("med_hi"),
            (lit(2L) * col("obs_sum")
              + col("n_miss") * (col("med_lo") + col("med_hi")))
              .as("imputed_total2"))
      }),

    // ---- deterministic negative sampling ------------------------------------
    // The contrastive/recommender training-data op: for every customer,
    // draw K candidate parts from a HASH stream (membership a pure
    // function of (customer, slot) — reproducible across runs, engines,
    // and cluster layouts, the q146 gate discipline; no RNG state to
    // coordinate at 100 TB) and keep those the customer never actually
    // bought (anti-join against the interaction set). Candidate part ids
    // map through `h64 % |parts|` onto the contiguous 0..|parts|−1
    // TPC-H key space, with |parts| read from the data (a 1-row
    // broadcast), never hardcoded. Shapes: one distinct-interaction
    // shuffle (orders⋈lineitem pre-aggregated to the pair grain), a K-way
    // explode of the customer table, one anti-join on the (customer,
    // part) key. Output collapses to the customer grain with a checksum
    // over the sampled negative ids.
    QuerySpec(
      "q217_negative_sampling",
      Some(s"""WITH np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts
            FROM part),
        pos AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        cand AS (SELECT c_custkey AS c, i,
            ${Portable.h64Duck(
              "'neg:' || CAST(c_custkey AS VARCHAR) || ':' "
                + "|| CAST(i AS VARCHAR)")} % np.n_parts AS p
          FROM customer, (SELECT unnest(range(1, 6)) AS i) z, np),
        neg AS (SELECT cand.c, cand.i, cand.p FROM cand
          WHERE NOT EXISTS (SELECT 1 FROM pos
            WHERE pos.c = cand.c AND pos.p = cand.p))
        SELECT c AS custkey, CAST(COUNT(*) AS BIGINT) AS n_neg,
          CAST(SUM(p) AS BIGINT) AS neg_pk_sum,
          CAST(MIN(i) AS BIGINT) AS first_slot
        FROM neg GROUP BY 1"""),
      (s, d) => {
        val np = t(s, d, "part").agg(count(lit(1)).as("n_parts"))
        val pos = t(s, d, "orders").select(col("o_orderkey"),
            col("o_custkey"))
          .join(t(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_partkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
        val cand = t(s, d, "customer").select(col("c_custkey").as("c"))
          .withColumn("i", explode(lit((1 to 5).toArray)))
          .crossJoin(broadcast(np))
          .withColumn("p", expr(Portable.h64Spark(
            "concat('neg:', cast(c as string), ':', cast(i as string))"))
            % col("n_parts"))
        cand.join(pos, Seq("c", "p"), "left_anti")
          .groupBy(col("c").as("custkey"))
          .agg(count(lit(1)).as("n_neg"),
            sum(col("p")).cast("long").as("neg_pk_sum"),
            min(col("i")).cast("long").as("first_slot"))
      }),

    // ---- Kneser-Ney-smoothed fluency gate (q89 upgraded) -------------------
    // q89's raw-MLE mean bigram probability, re-scored under interpolated
    // Kneser-Ney smoothing (Kneser & Ney 1995; Chen & Goodman 1999) —
    // the LM-quality gate a real pipeline runs, where rare continuations
    // are discounted toward the CONTINUATION probability (q265's "how
    // many distinct left contexts does this word have" statistic) rather
    // than their inflated raw frequency:
    //   p_kn(w|v) = (c(v,w) - D)/c(v) + (D·N1+(v,·)/c(v)) · N1+(·,w)/N1+(·,·)
    // with D = 0.75. log() stays out (libm skew): the per-transition
    // p_kn is a pinned IEEE tree over exact BIGINT counts (c(v,w) >= 1,
    // so the max(·,0) clamp is vacuous and omitted), identical in both
    // engines; the per-doc mean rides the decimal grid. The keep gate
    // (mean p_kn >= threshold, threshold pinned to split the fixture
    // non-trivially) is the q57/q313-style admission decision.
    // 100 TB plan: the model tables (bigram counts, context fan-outs,
    // continuation counts) scale with VOCABULARY — they stay keyed
    // shuffle joins on pa/nb, never broadcast (GuardSpec's fact-scaled-
    // broadcast rule); only the 1-row bigram-type total broadcasts. One
    // corpus token pass builds bg; everything after is partial-agg.
    QuerySpec(
      "q334_kn_fluency_gate", {
        Some(s"""WITH toks AS (
            SELECT doc_id, ${toksDuck("text")} AS t FROM documents),
          bg AS (SELECT doc_id, u.pa AS pa, u.nb AS nb FROM (
              SELECT doc_id,
                unnest([{'pa': t[i], 'nb': t[i+1]}
                  for i in range(1, len(t))]) AS u
              FROM toks WHERE len(t) >= 2) z),
          cab AS (SELECT pa, nb, CAST(COUNT(*) AS BIGINT) AS cab
            FROM bg GROUP BY pa, nb),
          ca AS (SELECT pa, CAST(COUNT(*) AS BIGINT) AS ca,
              CAST(COUNT(DISTINCT nb) AS BIGINT) AS n1p
            FROM bg GROUP BY pa),
          cont AS (SELECT nb, CAST(COUNT(DISTINCT pa) AS BIGINT) AS cw
            FROM bg GROUP BY nb),
          nbt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbt FROM cab),
          scored AS (SELECT doc_id,
              ((CAST(cab.cab AS DOUBLE) - 0.75) / CAST(ca.ca AS DOUBLE))
              + (((0.75 * CAST(ca.n1p AS DOUBLE)) / CAST(ca.ca AS DOUBLE))
                * (CAST(cont.cw AS DOUBLE) / CAST(nbt.nbt AS DOUBLE)))
                AS p
            FROM bg JOIN cab USING (pa, nb) JOIN ca USING (pa)
                    JOIN cont USING (nb), nbt)
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
            ${Exact.sqlDavg("p")} AS kn_fluency,
            ${Exact.sqlDavg("p")} >= $KnKeepThreshold AS keep
          FROM scored GROUP BY doc_id""")
      },
      (s, d) => {
        val bg = t(s, d, "documents")
          .withColumn("t", expr(toksSpark("text")))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
               (a, b) -> struct(a AS pa, b AS nb))""")).as("u"))
          .select(col("doc_id"), col("u.pa").as("pa"), col("u.nb").as("nb"))
          .cache() // feeds the three model aggs AND the scoring join
        val cab = bg.groupBy(col("pa"), col("nb"))
          .agg(count(lit(1)).as("cab"))
        val ca = bg.groupBy(col("pa"))
          .agg(count(lit(1)).as("ca"), countDistinct(col("nb")).as("n1p"))
        val cont = bg.groupBy(col("nb"))
          .agg(countDistinct(col("pa")).as("cw"))
        val nbt = cab.agg(count(lit(1)).as("nbt"))
        val p =
          ((col("cab").cast("double") - lit(0.75)) / col("ca").cast("double")) +
            (((lit(0.75) * col("n1p").cast("double")) / col("ca").cast("double"))
              * (col("cw").cast("double") / col("nbt").cast("double")))
        bg.join(cab, Seq("pa", "nb")).join(ca, Seq("pa"))
          .join(cont, Seq("nb"))
          .crossJoin(broadcast(nbt)) // 1-row bigram-type total
          .withColumn("p", p)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            Exact.davg(col("p")).as("kn_fluency"),
            (Exact.davg(col("p")) >= KnKeepThreshold).as("keep"))
      })
  )
}

