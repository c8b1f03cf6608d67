package graft.streaming

import graft.queries.Similarity
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, explode, expr}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming SEMANTIC dedup admission — the third leg of the
  * streaming-parity matrix (exact [[DedupStream]], MinHash
  * [[NearDupStream]], and embedding-space): vector batches arrive in
  * micro-batches and are verified against keyed state holding every
  * earlier vector that shares their state key — the pre-built CORPUS
  * INDEX as initial state, plus earlier stream arrivals. A key collision
  * is verified in-state with the same exact-integer cosine as the batch
  * operator (int64 dot over the 1000x-quantized grid, IEEE sqrt-divide —
  * the qcosine expression's formula verbatim), and matches at or above
  * the q98 threshold are emitted as evidence rows; a vector is ADMITTED
  * iff it emits no match (the downstream anti-join).
  *
  * State-key space (the round-11 scale fix, widened in round 13,
  * adaptive since round 14): the key is the OCCUPANCY-CAPPED
  * SIGN-PREFIX TRIE cell ([[Similarity.trieLeaf]] — q380's rule):
  * corpus members sit in state at their trie LEAF key (first depth in
  * [4, maxDepth] whose prefix-cell holds <= cap vectors), so key
  * cardinality tracks corpus/cap and per-key corpus state is <= cap
  * (except over-cap depth-maxDepth cells, q380's audited remainder).
  * The signature is 48 planes wide ([[Similarity.Planes]]) and the
  * DEPLOYED maxDepth now tracks the corpus by default
  * ([[AdaptiveDepth]] resolves to
  * [[Similarity.adaptiveTrieDepth]](corpus count, cap) — q388's
  * planning rule, floored at the q380 grain of 12), so past
  * ~2^12 * cap corpus vectors the key space deepens instead of piling
  * every deep cluster into over-cap depth-12 remainder. An arriving
  * vector is routed to ALL maxDepth-3 prefix keys on its own signature
  * path — it meets the unique corpus leaf containing it (leaf cells
  * partition the corpus, and at most one leaf cell is a prefix of any
  * signature).
  *
  * Stream-side storage (round-12 verdict #2 — the stream side previously
  * stored every arrival at its depth-maxDepth key unboundedly): an
  * arrival is stored at a key iff the key is a STORAGE cell — its corpus
  * leaf (when one exists on its path) or its depth-maxDepth cell — AND
  * that key currently holds fewer than `streamCap` stream-stored
  * members. A storage cell holding `streamCap` stream members is
  * SATURATED: later arrivals still VERIFY against everything in it but
  * are not added (the [[MediaDedupStream]] online discipline — an
  * append-mode stream cannot retract, so saturation is the online form
  * of the batch occupancy cap). `streamCap` defaults to `cap` but is an
  * independent knob (round-13 ADVICE: the trie occupancy cap shapes the
  * corpus index, the saturation threshold bounds stream state — a
  * parity test can now uncap the stream side without reshaping corpus
  * leaves). Consequences, both spec-pinned:
  *  - per-key state is <= (corpus members) + streamCap stream entries,
  *    and a state.update rewrites one O(streamCap) member list;
  *  - per-arrival work is O(cap + streamCap) however hot the stream
  *    prefix: the path meets <= 1 corpus leaf (<= cap corpus +
  *    streamCap stream entries) and 1 depth-maxDepth cell
  *    (<= streamCap stream entries + q380's audited over-cap corpus
  *    remainder), never "all prior same-prefix arrivals".
  *
  * Admission contract — TWO asymmetries vs a batch re-run over
  * corpus+stream, both bounded and both quantified in StreamingSpec:
  *  1. SATURATION: once a storage cell holds streamCap stream members,
  *     later same-cell arrival pairs are no longer verified against
  *     each other (each later arrival IS still verified against the
  *     streamCap stored exemplars plus the corpus members, so a hot
  *     near-dup cluster is still rejected by its exemplars). A batch
  *     re-run has no such cutoff. Under cap the match sets are
  *     spec-proven EQUAL to the batch recomputation; past cap the
  *     missed-pair rate and the admission divergence are measured in
  *     their own spec (the media leg's round-13 discipline).
  *  2. CORPUS-FREE-REGION GRAIN: where no corpus leaf sits on an
  *     arrival's path, the only storage cell is its depth-maxDepth
  *     prefix, so stream-stream recall there is the full-prefix grain
  *     alone — a batch re-run over corpus+stream would form leaves at
  *     coarser depths in such regions and compare pairs the stream
  *     never meets. Storing arrivals at their corpus leaf (round 13)
  *     closed this gap only where a corpus leaf EXISTS on the path.
  *
  * Candidate semantics per evidence source:
  *  - stream-vs-corpus: candidates = members of the arrival's corpus
  *    trie leaf (a refinement of the 4-plane cell — `sig & 15` IS the
  *    q354 cell, see [[Similarity.quantSig]]);
  *  - stream-vs-stream: candidates = earlier arrivals stored in a
  *    shared storage cell (corpus leaf or depth-maxDepth prefix),
  *    subject to the saturation cutoff above.
  * With `maxDepth = 4` both collapse to the fixed 4-plane cell and the
  * operator reproduces q354's admission decisions EXACTLY while cells
  * stay under cap (StreamingSpec proves that leg bit-for-bit with an
  * uncapped run), plus the default trie mode against batch
  * recomputations of the same rule.
  *
  * Emission contract: one [[SemDedupStream.Match]] per verified
  * (arriving vector, in-state member, state key) triple — a pair whose
  * shared corpus leaf is NOT its full maxDepth prefix can emit at both
  * keys (identical cosine; downstream admission anti-joins on new_vec,
  * so multiplicity is harmless and the key tag tells which grain
  * matched). Within a micro-batch, lower vec_id is "earlier" (the batch
  * operator's ordering discipline); across micro-batches, arrival order
  * decides — feed in id order for parity with q354.
  *
  * State discipline at 100 TB: state is the semantic index itself — the
  * (leaf) → leaf-members table the batch pipeline keeps at rest,
  * partitioned by the state store on ~corpus/cap keys; per trigger only
  * the arriving vectors' maxDepth-3 routed rows shuffle, per-arrival
  * verify cost is O(cap), and each arrival adds <= 2 state entries
  * (its corpus-leaf cell and its depth-maxDepth cell) — never a
  * per-arrival growth the trigger after it pays for. Quantized vectors
  * ride along per member (needed for in-state verify) — 8 x dims bytes
  * each, the same payload the batch verify join carries per candidate.
  */
object SemDedupStream {

  /** Occupancy cap per trie cell — q380's CellOccupancy knob. Also the
    * default per-key STREAM storage cap (saturation threshold) when
    * `streamCap` is left at [[SameAsCap]].
    */
  val DefaultCap = 32

  /** `streamCap` sentinel: saturate at the trie occupancy cap (the
    * round-13 behavior). Pass an explicit value to tune the stream
    * saturation threshold independently of corpus leaf shaping.
    */
  val SameAsCap: Int = -1

  /** `maxDepth` sentinel (and the deployed default): resolve the depth
    * ceiling from the CORPUS count at stream build —
    * [[Similarity.adaptiveTrieDepth]](n, cap), q388's planning rule,
    * floored at the q380 grain of 12 (every fixture corpus resolves to
    * exactly 12, so pre-round-14 behavior is unchanged there). The one
    * count(*) over the batch corpus frame is control-plane work at
    * stream build, like the initial-state load itself.
    */
  val AdaptiveDepth: Int = -1

  /** One cell member held in state. */
  final case class Entry(vec_id: Long, qv: Array[Long], nsq: Long)

  /** Per-key state: the member list plus how many of them are
    * STREAM-stored (`streamN`). Stream entries PREPEND, so the corpus
    * members loaded as initial state form the immutable TAIL of the
    * list (the first `streamN` elements are stream-stored, newest
    * first). `corpus` marks a corpus-leaf cell — the stream storage
    * rule needs it, and it is immutable after the initial state load.
    */
  final case class CellState(members: List[Entry], corpus: Boolean,
      streamN: Int)

  /** One routed row of an arriving vector
    * (key = depth * 2^48 + cell — [[Similarity.CellEncShift]]).
    */
  final case class KeyRow(key: Long, vec_id: Long, qv: Array[Long],
      nsq: Long)

  /** Verified match evidence: `new_vec` (the later arrival) matched
    * `matched_vec` at state key (`depth`, `cell`) with exact-grid cosine
    * `cosine`.
    */
  final case class Match(new_vec: Long, matched_vec: Long, depth: Int,
      cell: Long, cosine: Double)

  /** Raw arriving vector — the embeddings-table shape, typed for
    * MemoryStream feeding in tests and ingest adapters.
    */
  final case class RawVec(vec_id: Long, embedding: Array[Float])

  /** The qcosine expression's formula verbatim (exact int64 dot on the
    * quantized grid; one IEEE sqrt-divide) — bit-parity with the batch
    * verify by construction.
    */
  private def cosine(a: Array[Long], na: Long, b: Array[Long],
      nb: Long): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0L
    var i = 0
    while (i < n) { dot += a(i) * b(i); i += 1 }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Resolve the [[AdaptiveDepth]] sentinel against the corpus count
    * (one control-plane count at build time); explicit depths pass
    * through.
    */
  private def resolveDepth(corpus: DataFrame, cap: Int,
      maxDepth: Int): Int =
    if (maxDepth == AdaptiveDepth)
      Similarity.adaptiveTrieDepth(corpus.count(), cap)
    else maxDepth

  /** The corpus index's (vec_id, depth, cell) leaf assignment — exposed
    * so specs (and ops triage) can audit the state-key space the stream
    * will run with: distinct (depth, cell) count IS the key cardinality,
    * and every depth < maxDepth leaf holds <= cap members.
    */
  def corpusLeaves(corpus: DataFrame, cap: Int = DefaultCap,
      maxDepth: Int = AdaptiveDepth): DataFrame =
    Similarity.trieLeaf(
      Similarity.quantSig(corpus).select(col("vec_id"), col("sig")),
      cap, resolveDepth(corpus, cap, maxDepth))

  /** The streaming admission evidence: `vecs` is a streaming frame with
    * (vec_id, embedding); `corpus` a batch frame of the same shape (the
    * pre-existing corpus whose trie-leaf index becomes the initial
    * state). `streamCap` ([[SameAsCap]] = follow `cap`) is the
    * stream-side saturation threshold, independent of the trie
    * occupancy cap.
    */
  def matches(spark: SparkSession, vecs: DataFrame, corpus: DataFrame,
      threshold: Double = Similarity.SemThreshold,
      cap: Int = DefaultCap,
      maxDepth: Int = AdaptiveDepth,
      streamCap: Int = SameAsCap): Dataset[Match] = {
    import spark.implicits._
    val shift = Similarity.CellEncShift
    val satCap = if (streamCap == SameAsCap) cap else streamCap
    val depthCeil = resolveDepth(corpus, cap, maxDepth)
    val sg = Similarity.quantSig(corpus)
    val leaves = Similarity.trieLeaf(
      sg.select(col("vec_id"), col("sig")), cap, depthCeil)
    val corpusIdx = sg.join(leaves, "vec_id")
      .select((col("depth").cast("long") * shift + col("cell")).as("key"),
        col("vec_id"), col("qv"), col("nsq")).as[KeyRow]
    val initial = corpusIdx
      .groupByKey(_.key)
      .mapGroups((k, rows) =>
        (k, rows.map(r => Entry(r.vec_id, r.qv, r.nsq)).toList))
      .groupByKey(_._1)
      .mapValues(t => CellState(t._2, corpus = true, streamN = 0))
    // route each arrival to every prefix key on its own signature path
    val routed = Similarity.quantSig(vecs)
      .select(col("vec_id"), col("qv"), col("nsq"),
        explode(expr(
          s"""transform(sequence(4, $depthCeil), dd ->
             cast(dd AS bigint) * ${shift}L
               + (sig & (shiftleft(1L, dd) - 1)))"""))
          .as("key"))
      .select(col("key"), col("vec_id"), col("qv"), col("nsq")).as[KeyRow]
    routed
      .groupByKey(_.key)
      .flatMapGroupsWithState[CellState, Match](
        OutputMode.Append, GroupStateTimeout.NoTimeout, initial) {
        (key: Long, rows: Iterator[KeyRow],
            state: GroupState[CellState]) =>
          val depth = (key / shift).toInt
          val cell = key % shift
          // rows can be empty on the first trigger for index-only cells
          val arrived = rows.toSeq.sortBy(_.vec_id)
          var st = state.getOption
            .getOrElse(CellState(Nil, corpus = false, streamN = 0))
          // STORAGE cells are the corpus leaves and the finest prefixes;
          // intermediate prefix keys are probe-only (they would hold no
          // corpus members and a batch pass has no grain there)
          val storageCell = st.corpus || depth == depthCeil
          val out = Seq.newBuilder[Match]
          var dirty = false
          arrived.foreach { r =>
            st.members.foreach { e =>
              if (e.vec_id != r.vec_id) {
                val c = cosine(r.qv, r.nsq, e.qv, e.nsq)
                if (c >= threshold)
                  out += Match(r.vec_id, e.vec_id, depth, cell, c)
              }
            }
            // saturation: a storage cell holding streamCap stream
            // members stops growing (later arrivals verify only)
            if (storageCell && st.streamN < satCap) {
              st = CellState(Entry(r.vec_id, r.qv, r.nsq) :: st.members,
                st.corpus, st.streamN + 1)
              dirty = true
            }
          }
          if (dirty) state.update(st)
          out.result().iterator
      }
  }
}
