package graft.queries

import graft.Tables
import graft.functions.Portable.{setFpDuck, setFpSpark, toksSpark, toksDuck}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis surface over the `documents` fixture (mandated extension;
  * SURVEY §2.B "Text analysis"): token/char stats + quality scoring,
  * language-ID heuristic, BPE-ish regex token counting, and document
  * fingerprinting (content hash, normalized bag-of-words hash, and a
  * rolling chained hash).
  *
  * Everything is built from codegen'd built-ins and higher-order array
  * functions — no UDFs — so the whole pipeline stays inside whole-stage
  * codegen and scales embarrassingly parallel (per-row only, no shuffle
  * except the final term-stats aggregation).
  *
  * Determinism: token arithmetic is integer-exact; ratio/score columns are
  * double expressions written identically in the DuckDB oracle (IEEE ops in
  * the same order ⇒ bit-identical).
  */
object TextAnalysis {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Stopword list shared by the stats + language-ID queries. */
  private val Stop = Seq("the", "a", "of", "and", "to", "in")

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")
  private def sparkList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("array(", ", ", ")")

  /** Per-language marker tokens for the n-gram/heuristic language ID. */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "de", "los"),
    "fr" -> Seq("le", "les", "des", "une"))

  val all: Seq[QuerySpec] = Seq(

    // ---- token/char stats + quality score ---------------------------------
    QuerySpec(
      "q30_text_stats",
      Some(s"""SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars_m,
        CAST(len(${toksDuck("text")}) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(${toksDuck("text")})) AS BIGINT)
          AS n_uniq,
        CAST(list_sum([length(x) for x in ${toksDuck("text")}])
          AS DOUBLE) / len(${toksDuck("text")}) AS avg_token_len,
        CAST(len(list_filter(${toksDuck("text")},
                  x -> list_contains(${sqlList(Stop)}, x))) AS DOUBLE)
          / len(${toksDuck("text")}) AS stop_ratio,
        least(CAST(1 AS DOUBLE),
            len(${toksDuck("text")}) / CAST(50 AS DOUBLE))
          * (CAST(len(list_distinct(${toksDuck("text")})) AS DOUBLE)
             / len(${toksDuck("text")})) AS quality
        FROM documents"""),
      (s, d) =>
        t(s, d, "documents")
          .withColumn("toks", expr(toksSpark("text")))
          .select(
            col("doc_id"),
            length(col("text")).cast("bigint").as("n_chars_m"),
            size(col("toks")).cast("bigint").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("bigint").as("n_uniq"),
            (expr("aggregate(toks, 0L, (a, x) -> a + length(x))")
              .cast("double") / size(col("toks"))).as("avg_token_len"),
            (expr(s"size(filter(toks, x -> array_contains(${sparkList(Stop)}, x)))")
              .cast("double") / size(col("toks"))).as("stop_ratio"),
            (least(lit(1.0), size(col("toks")) / lit(50.0))
              * (size(array_distinct(col("toks"))).cast("double")
                / size(col("toks")))).as("quality"))),

    // ---- language-ID heuristic (marker-token voting) -----------------------
    QuerySpec(
      "q31_lang_id", {
        val scores = Markers.map { case (l, ms) =>
          s"len(list_filter(${toksDuck("text")}, x -> list_contains(${sqlList(ms)}, x))) AS s_$l"
        }.mkString(", ")
        Some(s"""WITH scored AS (SELECT doc_id, lang, $scores FROM documents)
          SELECT doc_id, lang,
            CASE
              WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
              WHEN s_fr > 0 THEN 'fr'
              ELSE 'und' END AS lang_guess,
            CAST(s_en AS BIGINT) AS s_en, CAST(s_de AS BIGINT) AS s_de,
            CAST(s_es AS BIGINT) AS s_es, CAST(s_fr AS BIGINT) AS s_fr
          FROM scored""")
      },
      (s, d) => {
        val withScores = Markers.foldLeft(
          t(s, d, "documents")
            .withColumn("toks", expr(toksSpark("text")))) {
          case (df, (l, ms)) =>
            df.withColumn(s"s_$l",
              expr(s"size(filter(toks, x -> array_contains(${sparkList(ms)}, x)))")
                .cast("bigint"))
        }
        withScores.select(
          col("doc_id"), col("lang"),
          when(col("s_en") > 0 && col("s_en") >= col("s_de")
            && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
            .when(col("s_de") > 0 && col("s_de") >= col("s_es")
              && col("s_de") >= col("s_fr"), "de")
            .when(col("s_es") > 0 && col("s_es") >= col("s_fr"), "es")
            .when(col("s_fr") > 0, "fr")
            .otherwise("und").as("lang_guess"),
          col("s_en"), col("s_de"), col("s_es"), col("s_fr"))
      }),

    // ---- token counting: whitespace + BPE-ish regex segmentation ----------
    QuerySpec(
      "q32_token_count",
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
          AS BIGINT) AS bpe_tokens,
        CAST(length(text) AS DOUBLE)
          / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
          AS chars_per_token
        FROM documents"""),
      (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          size(split(col("text"), " ", -1)).cast("bigint").as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
            .cast("bigint").as("bpe_tokens"),
          (length(col("text")).cast("double")
            / regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")))
            .as("chars_per_token"))),

    // ---- document fingerprinting: content / normalized / rolling hash ------
    QuerySpec(
      "q33_fingerprint",
      Some(s"""SELECT doc_id,
        md5(text) AS fp_content,
        ${setFpDuck(toksDuck("text"))} AS fp_normalized,
        list_reduce(list_concat([''], ${toksDuck("text")}),
          (acc, x) -> md5(concat(acc, x))) AS fp_rolling
        FROM documents"""),
      (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          md5(col("text")).as("fp_content"),
          expr(setFpSpark(toksSpark("text"))).as("fp_normalized"),
          expr(s"aggregate(${toksSpark("text")}, '', " +
            "(acc, x) -> md5(concat(acc, x)))").as("fp_rolling"))),

    // ---- array scalar functions over token arrays --------------------------
    QuerySpec(
      "q35_array_fns",
      Some(s"""SELECT doc_id,
        CAST(len(${toksDuck("text")}) AS INT) AS n_toks,
        list_contains(${toksDuck("text")}, 'data') AS has_data,
        CAST(list_position(${toksDuck("text")}, 'data') AS INT)
          AS data_pos,
        array_to_string(${toksDuck("text")}[2:4], '|') AS toks_2_4,
        list_sort(list_distinct(${toksDuck("text")}))[1]
          AS first_sorted,
        array_to_string(${toksDuck("text")}[1:3], '|') AS head3
        FROM documents"""),
      (s, d) =>
        t(s, d, "documents")
          .withColumn("toks", expr(toksSpark("text")))
          .select(
            col("doc_id"),
            size(col("toks")).as("n_toks"),
            array_contains(col("toks"), "data").as("has_data"),
            array_position(col("toks"), "data").cast("int").as("data_pos"),
            array_join(slice(col("toks"), 2, 3), "|").as("toks_2_4"),
            element_at(array_sort(array_distinct(col("toks"))), 1)
              .as("first_sorted"),
            array_join(slice(col("toks"), 1, 3), "|").as("head3"))),

    // ---- map type: token-count maps. The map itself never leaves the
    //      query (DuckDB MAP vs Spark map parquet representations don't
    //      hash-compare); every output column is a scalar projection of it,
    //      so the oracle recomputes the same scalars from the token list. --
    QuerySpec(
      "q36_map_fns",
      Some(s"""WITH d AS (
          SELECT doc_id, ${toksDuck("text")} AS toks FROM documents)
        SELECT doc_id,
          CAST(len(list_distinct(toks)) AS INT) AS n_keys,
          CASE WHEN list_contains(toks, 'data')
            THEN CAST(len(list_filter(toks, x -> x = 'data')) AS INT)
            END AS data_count,
          CAST(len(list_filter(list_distinct(toks),
            t -> len(list_filter(toks, x -> x = t)) >= 3)) AS INT)
            AS n_frequent,
          CAST(list_max(
            [len(list_filter(toks, x -> x = t)) for t in list_distinct(toks)])
            AS INT) AS max_count
        FROM d"""),
      (s, d) =>
        t(s, d, "documents")
          .withColumn("toks", expr(toksSpark("text")))
          .select(col("doc_id"),
            expr("""map_from_entries(transform(
                array_distinct(toks),
                t -> struct(t AS key, size(filter(toks, x -> x = t)) AS value)))
              """).as("tok_counts"))
          .select(
            col("doc_id"),
            size(col("tok_counts")).as("n_keys"),
            element_at(col("tok_counts"), "data").as("data_count"),
            expr("cardinality(map_filter(tok_counts, (k, v) -> v >= 3))")
              .as("n_frequent"),
            expr("array_max(map_values(tok_counts))").as("max_count"))),

    // ---- term stats: explode + aggregate + top-k terms per language --------
    QuerySpec(
      "q34_term_stats",
      Some(s"""WITH toks AS (
          SELECT lang, unnest(${toksDuck("text")}) AS token
          FROM documents),
        counts AS (
          SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY lang, token)
        SELECT lang, token, n, CAST(rk AS INT) AS rk FROM (
          SELECT lang, token, n, row_number() OVER (PARTITION BY lang
            ORDER BY n DESC, token) AS rk FROM counts) z
        WHERE rk <= 5"""),
      (s, d) =>
        t(s, d, "documents")
          .select(col("lang"), explode(expr(toksSpark("text"))).as("token"))
          .groupBy(col("lang"), col("token"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("lang"))
              .orderBy(col("n").desc, col("token"))))
          .filter(col("rk") <= 5)
          .select(col("lang"), col("token"), col("n"), col("rk"))),

    // ---- char-bigram diversity gate (Simpson concentration) ---------------
    // The repetitive-text filter that needs no tokenizer and no log():
    // per doc, the Simpson/Herfindahl concentration of its character
    // BIGRAM distribution — sum(c_i^2)/n^2 — in ppm. Templated or
    // looping junk ("aaaa…", repeated boilerplate lines) concentrates
    // probability mass on few bigrams and scores high; natural prose
    // sits near the corpus floor (fixture: median ~14.6k ppm, p99 ~31k).
    // This is the exact-rational cousin of the character-entropy gate
    // every crawl pipeline runs — entropy needs log (libm last-ulp drift
    // across engines); Simpson is a pure int64 rational with the SAME
    // ordering on the concentrated tail, so the gate hash-matches. Docs
    // at >= 25000 ppm (~p95) are dropped. Complements q57 (word/line
    // repetition) at the sub-token grain those Gopher gates can't see.
    // 100 TB plan: bigram explode is row-local (flatMap, no shuffle);
    // the ONE shuffle is the (doc, bigram) partial agg whose reduced
    // size is docs x distinct-bigrams-per-doc (alphabet-bounded, ~1e3),
    // then a doc-grain and a source-grain re-agg — all partial-agg
    // friendly, nothing broadcast or windowed.
    QuerySpec(
      "q374_char_diversity_gate",
      Some("""WITH d AS (SELECT doc_id, source,
            replace(lower(text), ' ', '') AS txt FROM documents),
        bg AS (SELECT doc_id, source,
            unnest([substr(txt, i, 2) for i in range(1, length(txt))])
              AS b
          FROM d WHERE length(txt) >= 2),
        c AS (SELECT doc_id, source, b, CAST(COUNT(*) AS BIGINT) AS n
          FROM bg GROUP BY 1, 2, 3),
        p AS (SELECT doc_id, source,
            CAST(SUM(n * n) * 1000000 // (SUM(n) * SUM(n)) AS BIGINT)
              AS ppm
          FROM c GROUP BY 1, 2)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN ppm >= 25000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_drop,
          CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_ppm
        FROM p GROUP BY 1"""),
      (s, d) => {
        val p = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            expr("replace(lower(text), ' ', '')").as("txt"))
          .filter(length(col("txt")) >= 2)
          .select(col("doc_id"), col("source"),
            explode(expr("transform(sequence(1, length(txt) - 1)," +
              " i -> substring(txt, i, 2))")).as("b"))
          .groupBy(col("doc_id"), col("source"), col("b"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("doc_id"), col("source"))
          .agg(expr("sum(n * n) * 1000000 div (sum(n) * sum(n))")
            .as("ppm"))
        p.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("ppm") >= 25000L, 1L).otherwise(0L))
              .as("n_drop"),
            expr("sum(ppm) div count(1)").as("mean_ppm"))
      })
  )
}
