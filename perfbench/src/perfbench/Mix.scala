package perfbench

import graft.queries.{QuerySpec, Registry}
import org.apache.spark.sql.SparkSession

/** One query execution: build (the QuerySpec function up to its
  * DataFrame, including any eager jobs it runs) and action (writing the
  * result as parquet, which the oracle check later reads).
  */
final case class Exec(name: String, family: String, buildMs: Double,
    actionMs: Double) {
  def ms: Double = buildMs + actionMs
}

/** `query_mix`: a family-stratified sample of `Registry.all`, each family
  * weighted by its share of the suite's time (the sample is listed in the
  * launcher's spec).
  */
object Mix {

  def run(spark: SparkSession, data: String, out: String, qs: Seq[QuerySpec],
      spans: Spans): Seq[Exec] = {
    val family = Registry.familyOf
    qs.map { q =>
      val e = spans.span(s"query:${q.name}") {
        val t0 = Clock.ms
        val df = spans.span("queries.build")(q.run(spark, data))
        val t1 = Clock.ms
        spans.span("queries.action")(
          df.write.mode("overwrite").parquet(s"$out/${q.name}"))
        Exec(q.name, family(q.name), t1 - t0, Clock.ms - t1)
      }
      spark.catalog.clearCache()
      e
    }
  }

  /** Per-layer numbers of the traced pass. */
  def layers(spans: Spans, a: Attribution, execs: Seq[Exec]): Seq[(String, Double)] = {
    val perFamily = execs.map(_.family).distinct.map { f =>
      s"queries.$f.s" -> execs.filter(_.family == f).map(_.ms).sum / 1000
    }
    val plan = spans.all.filter(_.name.startsWith("query:"))
      .map(s => a.executionsIn(s).map(_.planMs).sum)
    perFamily ++ Seq(
      "queries.build_ms" -> Stats.median(execs.map(_.buildMs)),
      "queries.plan_ms" -> Stats.mean(plan.toSeq),
      "queries.action_ms" -> Stats.median(execs.map(_.actionMs)))
  }
}
