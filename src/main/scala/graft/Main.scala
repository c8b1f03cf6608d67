package graft

import graft.pipeline._

/** Single-driver CLI — the reference's three entry points (EventBridge
  * cron → orchestrator Lambda, S3-event → Glue job, ad-hoc file-ops RPC;
  * SURVEY §3) collapse into one program with subcommands:
  *
  * {{{
  *   graft.Main ingest  <root> <sourceFile> <yyyy-MM>   # op #4/#5 analog
  *   graft.Main promote <root>                          # batch bronze→silver
  *   graft.Main stream  <root>                          # streaming promote
  *   graft.Main gold    <root>                          # gold summaries
  * }}}
  *
  * The Lambda RPC envelopes disappear (plain method calls); the
  * EventBridge trigger becomes invoking this main (or Trigger.AvailableNow
  * inside `stream`).
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Main <ingest|promote|stream|gold> <root> [...]")
      sys.exit(2)
    }
    val cmd = args(0)
    val catalog = ZoneCatalog(args(1))
    val spark = GraftSession.local()
    try cmd match {
      case "ingest" if args.length != 4 =>
        System.err.println("usage: graft.Main ingest <root> <sourceFile> <yyyy-MM>")
        sys.exit(2)
      case "ingest" =>
        val Array(_, _, source, ym) = args
        val ledger = new MonthLedger(spark,
          s"${catalog.state}/month_ledger", SystemClock)
        val orch = new Orchestrator(new Ingest(catalog, SystemClock), ledger)
        // Local-file source: the month is "available" iff the file exists.
        orch.runOnce(_ == ym, _ => source) match {
          case Some(key) => println(s"ingested -> $key")
          case None => println("skipped (ledger gate or not available)")
        }
      case "promote" =>
        val log = new ProcessedLog(spark, catalog.processedLog, SystemClock)
        val done = new Promote(spark, catalog, log).run()
        println(s"promoted ${done.size} file(s)")
      case "stream" =>
        new streaming.StreamingPromote(spark, catalog,
          s"${catalog.state}/stream_checkpoint").runAvailableNow()
        println("stream drained")
      case "gold" =>
        val gold = new Gold(spark, catalog)
        val rev = gold.buildRevenueSummary().count()
        val zones = gold.buildZoneSummary().count()
        println(s"gold: $rev revenue rows, $zones zone rows")
      case other =>
        System.err.println(s"unknown command: $other")
        sys.exit(2)
    } finally spark.stop()
  }
}
