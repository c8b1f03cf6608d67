package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench sampling policy, replayed against synthetic stalls (no Spark
  * needed — `Bench.measure` takes the sampler as a function).
  *
  * The round-10 failure mode this pins: a SUSTAINED host-contention
  * window covers BOTH min-of-2 samples of a slow query, the two stalled
  * times corroborate each other (within 1.5x), and a 17x-inflated min is
  * recorded with no flag. The committed-prior anchor must force a
  * resample out of the window — the policy may report a stalled number
  * ONLY with the suspect flag attached, never silently.
  */
class BenchSpec extends AnyFunSuite {

  /** Sampler that replays a scripted sequence (last value repeats). */
  private def scripted(xs: Double*): () => Double = {
    val it = xs.iterator
    var last = xs.last
    () => { if (it.hasNext) last = it.next(); last }
  }

  private val iters = 3
  private val cutoff = 2.0
  private val noGc: () => Unit = () => ()

  test("sustained stall: corroborating stalled min-of-2 is broken by the " +
      "prior-anchored forced resample and the true time is reported") {
    // q350's round-10 record, replayed: both samples sit in the window
    // (13.04 / 13.10 corroborate within 1.5x — the round-6 disagreement
    // check can't fire), prior says 0.75; one forced resample still
    // stalled, the next lands clean.
    val (v, retries, suspect) = Bench.measure(
      scripted(13.04, 13.10, 13.2, 0.74),
      iters, cutoff, prior = Some(0.75), noGc)
    assert(v === 0.74)
    assert(retries >= 2)
    assert(!suspect)
  }

  test("stall that never clears (or a real 17x regression) reports the " +
      "min WITH the suspect flag — never a silent inflated record") {
    val (v, _, suspect) = Bench.measure(
      scripted(13.04, 13.10, 13.2, 13.5, 13.1, 13.3),
      iters, cutoff, prior = Some(0.75), noGc)
    assert(v === 13.04)
    assert(suspect, "a >3x-of-prior result that never re-corroborates " +
      "must carry the suspect flag")
  }

  test("without a prior the corroborating stalled pair records silently " +
      "— the documented gap the anchor exists to close") {
    val (v, _, suspect) = Bench.measure(
      scripted(13.04, 13.10),
      iters, cutoff, prior = None, noGc)
    assert(v === 13.04 && !suspect)
  }

  test("fast agreeing query: median of iters, no retries, prior untouched") {
    val (v, retries, suspect) = Bench.measure(
      scripted(0.50, 0.52, 0.51),
      iters, cutoff, prior = Some(0.50), noGc)
    assert(v === 0.51 && retries === 0 && !suspect)
  }

  test("legitimate slowdown inside 3x of prior is accepted without " +
      "resampling (environment drift must not burn the retry budget)") {
    val (v, retries, suspect) = Bench.measure(
      scripted(2.9, 2.95),
      iters, cutoff, prior = Some(1.2), noGc)
    assert(v === 2.9 && retries === 0 && !suspect)
  }

  test("failed sample still reports negative (failure stays visible)") {
    val (v, _, _) = Bench.measure(
      scripted(-1.5), iters, cutoff, prior = Some(0.5), noGc)
    assert(v === -1.5)
  }

  test("loadPriors parses the full-record line and rejects a record " +
      "measured at a different scale factor") {
    val dir = java.nio.file.Paths.get(TempDirs.create("benchspec"))
    val f = dir.resolve("prior.json")
    val line = """{"metric":"total","value":2.0,"unit":"sec","failed":0,""" +
      """"iters":3,"stall_retries":0,"suspect":[],""" +
      """"queries":{"q01_pricing_summary":0.613,"q350_hard_negatives":0.75},""" +
      """"sf":"/root/testdata/sf0.1"}"""
    java.nio.file.Files.write(f, line.getBytes("UTF-8"))
    val p = Bench.loadPriors(f.toString, "sf0.1")
    assert(p === Map("q01_pricing_summary" -> 0.613,
      "q350_hard_negatives" -> 0.75))
    assert(Bench.loadPriors(f.toString, "sf0.01") === Map.empty,
      "a prior from another sf must not anchor this run")
    assert(Bench.loadPriors(dir.resolve("absent.json").toString, "sf0.1")
      === Map.empty)
  }

  test("loadPriors drops sub-resolution (0.000) priors — a 3-decimal " +
      "record floors sub-0.5ms queries to 0.0, which would make the " +
      ">3x-of-prior guard fire unconditionally forever") {
    val dir = java.nio.file.Paths.get(TempDirs.create("benchspec"))
    val f = dir.resolve("prior.json")
    val line = """{"metric":"total","value":2.0,"suspect":[],""" +
      """"queries":{"q_fast":0.000,"q_ok":0.613},"sf":"sf0.1"}"""
    java.nio.file.Files.write(f, line.getBytes("UTF-8"))
    assert(Bench.loadPriors(f.toString, "sf0.1") === Map("q_ok" -> 0.613))
  }

  test("loadPriors excludes queries the prior run itself flagged suspect " +
      "— a stall-inflated anchor would silently disable the guard") {
    val dir = java.nio.file.Paths.get(TempDirs.create("benchspec"))
    val f = dir.resolve("prior.json")
    val line = """{"metric":"total","value":2.0,""" +
      """"suspect":["q350_hard_negatives"],""" +
      """"queries":{"q350_hard_negatives":13.04,"q_ok":0.613},""" +
      """"sf":"sf0.1"}"""
    java.nio.file.Files.write(f, line.getBytes("UTF-8"))
    assert(Bench.loadPriors(f.toString, "sf0.1") === Map("q_ok" -> 0.613))
  }

  test("loadPriors degrades to empty (guard off) when the queries object " +
      "is not the writer's flat grammar, instead of truncating silently") {
    val dir = java.nio.file.Paths.get(TempDirs.create("benchspec"))
    val f = dir.resolve("prior.json")
    val line = """{"metric":"total","suspect":[],""" +
      """"queries":{"q_a":{"nested":1.0},"q_b":0.5},"sf":"sf0.1"}"""
    java.nio.file.Files.write(f, line.getBytes("UTF-8"))
    assert(Bench.loadPriors(f.toString, "sf0.1") === Map.empty)
  }

  test("readjudicate clears a suspect whose quiet-JVM samples " +
      "corroborate inside the prior anchor, adopting the minimum") {
    // the r13 shape: a contention window inflated both mid-suite
    // samples to ~13 s on a 0.75 s query; after the suite the host is
    // quiet and fresh samples land at the true value
    val (v, runs, still) = Bench.readjudicate(13.04, Some(0.75),
      scripted(0.78, 0.81), noGc)
    assert(v === 0.78 && runs === 2 && !still)
  }

  test("readjudicate keeps the flag when the disagreement reproduces " +
      "on a quiet JVM across all three samples (a real regression " +
      "candidate)") {
    val (v, runs, still) = Bench.readjudicate(13.04, Some(0.75),
      scripted(12.9, 13.1), noGc)
    assert(v === 12.9 && runs === 3 && still,
      "a reproducing 17x must stay flagged, never silently adopted")
  }

  test("readjudicate's third sample rescues a suspect whose contention " +
      "window outlasted the first fresh sample (the r14 q286 shape)") {
    // mid-suite report 13 s, first fresh sample still inside the window
    // (12.8 s), then the host quiets: the two FASTEST fresh samples
    // corroborate at the true ~1 s value and the flag clears (values sit
    // above the round-16 absolute floor so the third-sample machinery —
    // not the floor — is what clears it)
    val (v, runs, still) = Bench.readjudicate(13.0, Some(1.1),
      scripted(12.8, 1.01, 1.05), noGc)
    assert(v === 1.01 && runs === 3 && !still,
      "fastest-pair corroboration must see through one stalled sample")
  }

  test("absolute suspicion floor (round-16): a sub-0.75 s adopted value " +
      "never carries the suspect flag — at that scale the 3x relative " +
      "bar is one GC pause (the r15 q183/q234 shape)") {
    // measure(): samples disagree >3x and never corroborate, but the
    // min is 0.17 s — flag suppressed, value still the stall-proof min
    val (v, _, suspect) = Bench.measure(
      scripted(0.17, 0.62, 0.6, 0.61, 0.63, 0.59),
      iters, cutoff, prior = Some(0.17), noGc)
    assert(v === 0.17 && !suspect,
      "sub-floor disagreement must not flag")
    // readjudicate(): fresh samples never corroborate but the adopted
    // minimum sits under the floor — flag cleared
    val (v2, _, still2) = Bench.readjudicate(0.62, Some(0.17),
      scripted(0.2, 0.65, 0.66), noGc)
    assert(v2 === 0.2 && !still2,
      "sub-floor adopted value must clear the flag in readjudication")
    // the floor is about SCALE, not leniency: the same shape at 10x the
    // values keeps the flag
    val (v3, _, still3) = Bench.readjudicate(6.2, Some(1.7),
      scripted(2.0, 6.5, 6.6), noGc)
    assert(v3 === 2.0 && still3,
      "above the floor the uncorroborated shape must stay flagged")
  }

  test("readjudicate keeps the flag when fresh samples disagree with " +
      "each other, and ignores failed (negative) samples") {
    val (v, _, still) = Bench.readjudicate(9.0, None,
      scripted(1.0, 8.0, 7.9), noGc)
    assert(v === 1.0 && still, "uncorroborated fresh samples stay flagged")
    // one failed sample, then the third corroborates the survivor: the
    // round-15 extra sample turns a previously-doomed flag into evidence
    val (v2, _, still2) = Bench.readjudicate(5.0, None,
      scripted(-1.0, 4.0, 4.1), noGc)
    assert(v2 === 4.0 && !still2,
      "the third sample must corroborate past one failed sample")
    // all fresh samples failed: nothing to corroborate, flag stays
    val (v3, _, still3) = Bench.readjudicate(5.0, None,
      scripted(-1.0, -1.0, -1.0), noGc)
    assert(v3 === 5.0 && still3,
      "no valid fresh sample leaves nothing to corroborate with")
  }
}
