package graft.operators

import graft.streaming.{EventStreams, FoldingIndex, IngestLoop}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Cross-document repeated-substring detection — the exact-substring
  * dedup modality (Lee et al., "Deduplicating Training Data Makes
  * Language Models Better", ACL 2022: repeated long character runs are
  * the duplication token-shingle and edit-distance methods both miss —
  * a 60-char boilerplate footer inside otherwise-distinct documents
  * never lifts whole-set Jaccard above threshold and never brings whole
  * heads within edit distance k).
  *
  * Two faces, the d24/d45 anchor-vs-scale discipline:
  *
  *  - [[repeatedGramDocs]] enumerates EVERY fixed-length gram — the
  *    honest corpus-pass anchor whose cost is O(corpus·L) shuffled
  *    bytes, oracle-checkable gram-for-gram;
  *  - [[longRepeatPairs]] is the scale path: winnowed fingerprints
  *    ([[graft.functions.Winnow]]) shuffle only ~2/(w+1) of positions
  *    as 16-byte rows, pairs form ONLY where a selected fingerprint
  *    hash matches (never all-pairs, never all-positions), and full
  *    texts are fetched once per candidate id for verification — yet
  *    the result is EXACT for the ≥ k+w−1 contract by the winnowing
  *    guarantee, so it shares a DuckDB all-grams oracle with the
  *    anchor. The reference
  *    (`/root/reference/datagouv_tools`) has no similarity machinery
  *    at all; both faces derive from the cited papers.
  */
object SubstrDedup {

  /** The (minLen, w) stamp [[fingerprints]] puts on `_h`: an index
    * winnowed with different parameters intersects the probe's
    * fingerprints on an arbitrary subset (different gram length k, or a
    * sparser window), so both verbatim-run streams gate on it.
    */
  private val WinnowStamp = IndexStamp("fingerprint index", "_h",
    "(minLen, w)",
    "SubstrDedup.fingerprints or SubstrDedup.foldingRepeatIndex",
    "minLen" -> "graft.winnow.minlen", "w" -> "graft.winnow.w")

  /** Winnowed fingerprint relation: one (id, pos, h) row per SELECTED
    * k-gram position, k = minLen − w + 1. `pos` is the 1-based
    * codepoint position (feedable to `substr`), `h` the FULL 64-bit
    * mixed gram hash (32 bits saturate at corpus scale — see
    * [[graft.functions.WinnowFingerprints]]), stamped with (minLen, w)
    * in its column metadata ([[WinnowStamp]]).
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   minLen: Int, w: Int): DataFrame = {
    val k = minLen - w + 1
    require(k >= 1, s"minLen=$minLen must be >= w=$w")
    docs
      .select(col(idCol),
        explode(graft.functions.Winnow
          .winnowFingerprints(col(textCol), k, w)).as("_f"))
      .select(col(idCol),
        col("_f.p").as("_pos"),
        WinnowStamp.stamp(col("_f.h"), minLen, w))
  }

  /** The anchor-verification predicate shared by the batch join and the
    * streaming probe (rows carry `anchors: array<struct<pa,pb>>`, `ta`,
    * `tb`): an anchor at (pa, pb) proves a shared ≥ minLen run iff some
    * alignment d ∈ [0, w) yields equal minLen-codepoint slices — for a
    * true run the selected gram sits at most w−1 positions past the
    * run's start at the SAME offset on both sides; bounds guards keep
    * truncated `substr` results from comparing equal, which also kills
    * 64-bit hash collisions at the cost of one check.
    */
  private[graft] def anchorsVerified(minLen: Int, w: Int)
      : org.apache.spark.sql.Column =
    exists(col("anchors"), an => {
      val pa = an.getField("pa")
      val pb = an.getField("pb")
      exists(sequence(lit(0), lit(w - 1)), dd =>
        (pa > dd) && (pb > dd) &&
          (pa - dd + (minLen - 1) <= length(col("ta"))) &&
          (pb - dd + (minLen - 1) <= length(col("tb"))) &&
          (col("ta").substr(pa - dd, lit(minLen)) ===
            col("tb").substr(pb - dd, lit(minLen))))
    })

  /** All-positions gram relation (id, p, gram, 64-bit gram hash) —
    * shared by the exact anchor and the cut. ONE compiled pass per row
    * ([[graft.functions.GramHash.gramRows]]): the per-position
    * `substr` formulation re-counted code points from byte 0 on every
    * position (O(n²) byte-steps/doc — the d44/d47 bench-tail cost).
    */
  private def gramRows(docs: DataFrame, idCol: String, textCol: String,
                       L: Int): DataFrame =
    docs.filter(length(col(textCol)) >= L)
      .select(col(idCol).as("_id"),
        posexplode(graft.functions.GramHash.gramRows(col(textCol), L))
          .as(Seq("_p0", "_pg")))
      .select(col("_id"), (col("_p0") + 1).as("p"),
        col("_pg.g").as("g"), col("_pg.h").as("_gh"))

  /** String-free position relation (id, p, 64-bit gram hash) — the
    * probe side of the repeated-subset pass. Kernel hashes are
    * xxhash64(substr)-compatible ([[graft.functions.GramHash]]), so
    * they join stored `_gh` indexes unchanged. */
  private def hashRows(docs: DataFrame, idCol: String, textCol: String,
                       L: Int): DataFrame =
    docs.filter(length(col(textCol)) >= L)
      .select(col(idCol).as("_id"),
        posexplode(graft.functions.GramHash.gramHashes(col(textCol), L))
          .as(Seq("_p0", "_gh")))
      .select(col("_id"), (col("_p0") + 1).as("p"), col("_gh"))

  /** Positions whose gram's 64-bit hash occurs more than once in the
    * corpus — a SUPERSET of every position of every repeated gram (a
    * gram in ≥ 2 docs, or twice in one, occurs ≥ 2 times, so its hash
    * count is ≥ 2; collisions only ADD positions, and downstream
    * regrouping by the REAL gram string removes them exactly).
    *
    * This is the load-bearing scale move for the exhaustive family,
    * and the THIRD-decade sweep corrected its first form: pass 1
    * shuffles 16-byte hash counts for every position; pass 2 semi-joins
    * STRING-FREE (id, p, hash) rows against the surviving hashes; only
    * then are gram strings re-derived — one `substr` per SURVIVING
    * position, off a single text join (texts build the hash side,
    * corpus-linear and ~L× smaller than the gram mass). The previous
    * form ran the semi join over rows already CARRYING their gram
    * strings, so every position's string rode the `_gh` exchange:
    * invisible through sf3, but at sf10 d44's shuffle read 10.5× for
    * 3.33× data (5997 MB) and d46's 27.6× — against a ground-truthed
    * LINEAR duplicated mass (FamDiag `mass`: dup positions 3.55M→11.84M
    * = 3.33×). After: strings shuffle only for the duplicated subset,
    * bytes track dupMass, and the naive-one-pass history (3.9 GB spill
    * at sf3, STATUS r11 §7) stays fixed.
    */
  private def repeatedHashPositions(docs: DataFrame, idCol: String,
                                    textCol: String, L: Int): DataFrame = {
    val gh = hashRows(docs, idCol, textCol, L)
    val dup = gh.groupBy(col("_gh")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1)
      .select(col("_gh"))
    // dup scales with corpus DUPLICATION — a frame Catalyst's
    // aggregate size estimate can wrongly auto-broadcast (the d46
    // starts-frame failure mode); pin a distributed build
    val surv = gh.join(dup.hint("shuffle_hash"), Seq("_gh"), "left_semi")
    surv
      .join(docs.select(col(idCol).as("_id"), col(textCol).as("_t"))
        .hint("shuffle_hash"), Seq("_id"))
      .select(col("_id"), col("p"),
        col("_t").substr(col("p"), lit(L)).as("g"), col("_gh"))
  }

  /** EXACT: all distinct `L`-codepoint substrings occurring in ≥ 2
    * distinct documents, with the distinct-document count — the
    * all-positions anchor, at repeated-subset cost: the exact
    * distinct-doc count runs only over [[repeatedHashPositions]], so
    * the string shuffle tracks the corpus's DUPLICATED volume, not its
    * size (unique grams travel as 16-byte hashes once and are gone).
    */
  def repeatedGramDocs(docs: DataFrame, idCol: String, textCol: String,
                       L: Int): DataFrame = {
    require(L >= 1, s"gram length must be >= 1, got $L")
    repeatedHashPositions(docs, idCol, textCol, L)
      .select(col("_id"), col("g").as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
  }

  /** Covered start positions under the KEEP-FIRST policy: (id, p) rows
    * where the L-gram starting at codepoint p of document id also
    * occurs in some document with a SMALLER id. Computed linearly — per
    * gram only its MINIMUM document id is aggregated and joined back,
    * so a boilerplate gram shared by d documents costs d rows, never
    * d² (the naive gram self-join would square on exactly the hot
    * grams this operator exists to find).
    */
  def coveredStarts(docs: DataFrame, idCol: String, textCol: String,
                    L: Int): DataFrame = {
    // only repeated-hash positions can be covered (a gram that occurs
    // once has no second occurrence to cover it), so the exact min-id
    // group runs over the duplicated subset, never the whole corpus
    val rep = repeatedHashPositions(docs, idCol, textCol, L)
    val minDoc = rep.groupBy(col("g")).agg(min(col("_id")).as("_min"))
    rep.join(minDoc.hint("shuffle_hash"), Seq("g"))
      .filter(col("_min") < col("_id"))
      .select(col("_id"), col("p"))
  }

  /** The exact-substring CUT (the operation Lee et al.'s ExactSubstr
    * dedup performs on a training corpus): every codepoint covered by
    * some L-gram shared with a smaller-id document is removed, and the
    * remaining segments are re-concatenated in order. Keep-first is the
    * deterministic survivorship policy — the smallest id holding a run
    * keeps it intact (same-document self-repeats also survive there),
    * every later document sheds it — so the output is a pure function
    * of the corpus, independent of partitioning, and oracle-checkable
    * character for character.
    *
    * Shape: [[coveredStarts]] is linear in corpus grams (min-id per
    * gram, joined back); start positions then collapse to ONE sorted
    * array per affected document, and the cut itself is a single
    * `aggregate` fold over that array — interval-merging cursor
    * arithmetic plus `substr` slices, no per-character explosion, no
    * UDF. Documents with nothing to cut pass through the left join
    * untouched.
    */
  def cleanText(docs: DataFrame, idCol: String, textCol: String,
                L: Int): DataFrame =
    applyCut(docs, idCol, textCol,
      coveredStarts(docs, idCol, textCol, L), L)

  /** The cut tail shared by [[cleanText]] and the corpus-scrub faces:
    * `covered` is an (_id, p) relation of cut-START positions; each
    * doc's starts collapse to ONE sorted array and a single
    * `aggregate()` fold emits the surviving segments via
    * interval-merged `substr` slices (cursor = first uncut codepoint;
    * overlapping and adjacent [p, p+L) intervals merge through
    * `greatest`). Documents with nothing to cut pass through the left
    * join untouched.
    */
  private def applyCut(docs: DataFrame, idCol: String, textCol: String,
                       covered: DataFrame, L: Int): DataFrame = {
    val starts = covered
      .groupBy(col("_id"))
      .agg(sort_array(collect_set(col("p"))).as("_ss"))
    val txt = col(textCol)
    // the starts frame scales WITH the corpus (one row per affected
    // doc, arrays of covered positions): an auto-broadcast here means
    // collecting it to the driver, which is exactly what blew
    // spark.driver.maxResultSize at sf3 (Catalyst's size estimate for
    // a two-level aggregate guessed below the 10 MB threshold).
    // shuffle_hash pins a distributed build instead.
    docs.join(starts.hint("shuffle_hash"), col(idCol) === col("_id"), "left")
      .withColumn("clean_text",
        when(col("_ss").isNull, txt).otherwise(aggregate(
          col("_ss"),
          struct(lit("").as("out"), lit(1).as("cur")),
          (acc, s) => {
            val out = acc.getField("out")
            val cur = acc.getField("cur")
            struct(
              when(s > cur,
                concat(out, txt.substr(cur, s - cur)))
                .otherwise(out).as("out"),
              greatest(cur, s + lit(L)).as("cur"))
          },
          acc => concat(acc.getField("out"),
            txt.substr(acc.getField("cur"),
              greatest(length(txt) - acc.getField("cur") + 1, lit(0)))))))
      .select(col(idCol), col("clean_text"))
  }

  /** The gram length L stamped onto a [[scrubIndex]]'s `_gh`: an
    * index built at a different L intersects probe grams arbitrarily,
    * silently under- or over-cutting, so both scrub streams gate on it.
    */
  private val ScrubStamp = IndexStamp("scrub index", "_gh", "L",
    "SubstrDedup.scrubIndex or SubstrDedup.foldingScrubIndex",
    "L" -> "graft.substr.scrubL")

  /** Reference-corpus gram index for the scrub faces: ONE
    * (hash, ref_id, ref_pos) representative per DISTINCT L-gram of the
    * reference (min occurrence per distinct gram), so a probe joining
    * on the hash meets ≤ 1 row per distinct gram — a boilerplate gram
    * occurring millions of times in the reference costs the probe ONE
    * candidate, never a per-occurrence fan-out — while 64-bit
    * collisions keep their own representatives and exactness survives
    * verification against the reference TEXT at (ref_id, ref_pos).
    * Building the index groups gram strings once — the one-time batch
    * index build, not the probe hot path (the d43/t19 "index is the
    * stored table" discipline).
    */
  /** Packed (id, pos) representative: ids up to 2⁴³, positions up to
    * 2²⁰ (a position is a codepoint offset in one document; 1M-char
    * documents are far beyond this corpus and the require makes the
    * bound explicit). Packing keeps the min-representative aggregate a
    * PRIMITIVE codegen HashAggregate — `min(struct(...))` forces
    * ObjectHashAggregate, whose per-group JVM buffers made the sf10
    * index build GC-bound (gc_s up to 195 on identical plan metrics).
    */
  private val PosBits = 20

  def scrubIndex(reference: DataFrame, idCol: String, textCol: String,
                 L: Int): DataFrame = {
    // overflow past PosBits would unpack to a wrong representative
    // and silently UNDER-cut (verification can kill extra candidates,
    // not resurrect missed ones) — fail loudly instead
    def packed = {
      val p = when(col("p") < lit(1 << PosBits), col("p"))
        .otherwise(raise_error(lit(
          s"document exceeds 2^$PosBits codepoints; widen PosBits"))
          .cast("int"))
      // Same loud guard on the id side: id ≥ 2^(63−PosBits) overflows
      // the packed long (and an int id would wrap far earlier under a
      // 32-bit shiftleft) — either silently mis-elects the
      // representative. Cast to long so the shift is always 64-bit.
      val id = when(col("_id").cast("long") < lit(1L << (63 - PosBits)),
          col("_id").cast("long"))
        .otherwise(raise_error(lit(
          s"id exceeds 2^${63 - PosBits}; widen the packed key"))
          .cast("long"))
      shiftleft(id, PosBits) + p
    }
    def unpack(df: DataFrame): DataFrame = df.select(
      ScrubStamp.stamp(col("_gh"), L),
      shiftright(col("_rep"), PosBits).as("_rid"),
      (col("_rep").bitwiseAND(lit((1L << PosBits) - 1)))
        .cast("int").as("_rpos"))
    // One pass, string-keyed groups, PRIMITIVE packed agg value.
    // min(struct(...)) would force ObjectHashAggregate (per-group JVM
    // buffers — GC-fragile over 39M groups); the packed long keeps the
    // aggregate in codegen'd UnsafeRow form. A d44-style two-pass
    // (hash-only singles + string re-derivation for repeated hashes)
    // was built and MEASURED at sf10: 7758 MB shuffle vs this shape's
    // 6539 — the extra hash pass costs more than the gram strings it
    // saves at this corpus's ~9% duplication rate, so the two-pass was
    // reverted (negative result; it would win on corpora where
    // duplicated mass ≪ total and strings ≫ 16 bytes).
    unpack(gramRows(reference, idCol, textCol, L)
      .groupBy(col("_gh"), col("g"))
      .agg(min(packed).as("_rep")))
  }

  /** (_id, p) start positions in `arrivals` covered by an L-gram that
    * occurs ANYWHERE in the reference behind `refIdx`: the probe's
    * grams join the index on the 64-bit hash (bounded fan-out — see
    * [[scrubIndex]]) and every candidate verifies against the real
    * reference text, so a hash collision costs one failed comparison,
    * never a wrong cut. `refTexts` must hold the reference (id, text)
    * relation the index was built from. [[coveredByTiers]] over one
    * tier of each.
    */
  def coveredByCorpus(arrivals: DataFrame, idCol: String, textCol: String,
                      refIdx: DataFrame, refTexts: DataFrame,
                      L: Int): DataFrame =
    coveredByTiers(arrivals, idCol, textCol, Seq(refIdx), Seq(refTexts), L)

  /** The one covered-span probe of the scrub modality, against a
    * reference given as its tiers: `idxTiers` of [[scrubIndex]] rows
    * and `textTiers` of the (id, text) rows they point into. The batch
    * face ([[coveredByCorpus]]) and the pinned stream pass one tier of
    * each; [[scrubIngestStream]] passes the folding index's current
    * tiers. Candidate grams join each index tier separately (a pinned
    * `_gh`-partitioned base keeps its partitioning — joining the union
    * relation would re-exchange the corpus-scale gram index every
    * micro-batch), and verification joins each TEXT tier separately (a
    * representative's document lives in exactly one tier). Tier lists
    * need no positional alignment — candidates carry their
    * representative's id, and the per-text-tier inner joins find each
    * one exactly once wherever its text tier sits. Covered-span
    * semantics over base ∪ deltas ≡ union of per-tier covered spans;
    * duplicate (id, p) spans across tiers collapse in [[applyCut]]'s
    * collect_set.
    */
  private def coveredByTiers(arrivals: DataFrame, idCol: String,
      textCol: String, idxTiers: Seq[DataFrame],
      textTiers: Seq[DataFrame], L: Int): DataFrame = {
    // the index is a corpus-scaled aggregate: Catalyst's size estimate
    // can auto-broadcast it (the d46 starts-frame driver kill, found
    // HERE at plan-audit time — the sf0.01 dump showed the index as a
    // BroadcastExchange build side). Build on the arrival grams
    // instead: distributed, per-partition bounded, and a pinned
    // _gh-partitioned stream index keeps its partitioning reused with
    // only the batch side exchanging (the editProbeStream contract).
    // STRING-FREE probe (the d44 family invariant — no gram string
    // ever shuffles): candidates are (id, p, hash) triples; both gram
    // texts are re-derived by substr at verification, off the two
    // pinned/batch TEXT relations (each ~L× smaller than its gram
    // mass). For the streaming face this is the per-batch payload.
    // With several tiers the gram explosion (the dominant per-batch
    // cost) sits in every idx-tier branch and the candidates in every
    // text-tier branch, so each is pinned then.
    val grams = IngestLoop.pinForTiers(
      hashRows(arrivals, idCol, textCol, L), idxTiers)
    val cand = IngestLoop.pinForTiers(idxTiers.map(t =>
        grams.hint("shuffle_hash").join(t, Seq("_gh")))
      .reduce(_ unionByName _), textTiers)
    textTiers.map { t =>
      t.select(col(idCol).as("_rid"), col(textCol).as("_rtxt"))
        .join(cand.hint("shuffle_hash"), Seq("_rid"))
    }.reduce(_ unionByName _)
      .join(arrivals.select(col(idCol).as("_id"),
        col(textCol).as("_atxt")).hint("shuffle_hash"), Seq("_id"))
      .filter(col("_rtxt").substr(col("_rpos"), lit(L)) ===
        col("_atxt").substr(col("p"), lit(L)))
      .select(col("_id"), col("p"))
  }

  /** Scrub arrivals against an IMMUTABLE reference corpus — the
    * bipartite face of [[cleanText]] and the batch twin of
    * [[scrubProbeStream]]: every codepoint of an arrival covered by an
    * L-gram present anywhere in the reference is removed (the
    * reference keeps everything; arrival-to-arrival sharing is NOT
    * cut — that is [[cleanText]]'s keep-first job on the arrival set
    * itself). Output: (id, clean_text) for every arrival.
    */
  def scrubAgainstCorpus(arrivals: DataFrame, reference: DataFrame,
                         idCol: String, textCol: String,
                         L: Int): DataFrame =
    applyCut(arrivals, idCol, textCol,
      coveredByCorpus(arrivals, idCol, textCol,
        scrubIndex(reference, idCol, textCol, L), reference, L), L)

  /** Scrub ON INGEST: each micro-batch's documents are emitted with
    * every span shared with the pinned reference corpus removed — the
    * transformation face of the streaming family (the other three
    * probes REPORT; this one emits the cleaned corpus). Stateless per
    * batch; the batch side is the shuffled-hash build against the
    * pinned `_gh`-partitioned [[scrubIndex]]; reference texts move
    * only for candidate grams; the L stamp is enforced. Emits
    * (id, clean_text) rows per batch via the shared [[applyCut]] fold,
    * so stream output and [[scrubAgainstCorpus]] batch output cannot
    * diverge.
    */
  def scrubProbeStream(stream: DataFrame, idCol: String, textCol: String,
                       refIdx: DataFrame, refTexts: DataFrame, L: Int,
                       checkpoint: String)(
      sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    ScrubStamp.require(refIdx, L)
    EventStreams.toForeachBatchSink(stream, checkpoint) {
      (batch, batchId) =>
        val arrivals = batch.select(col(idCol), col(textCol))
        val cleaned = applyCut(arrivals, idCol, textCol,
          coveredByCorpus(arrivals, idCol, textCol, refIdx, refTexts, L),
          L)
        sink(cleaned, batchId)
    }
  }

  /** EXACT distinct (id_a < id_b) pairs of documents sharing at least
    * one substring of ≥ `minLen` code points, computed at winnowed
    * cost. Three stages:
    *
    *  1. fingerprint join on the 64-bit gram hash (the
    *     `array<struct<p,h>>` contract in [[graft.functions.Winnow]]) —
    *     by the winnowing
    *     guarantee every qualifying pair surfaces here (both sides
    *     select the shared window's rightmost-min gram), and density
    *     2/(w+1) bounds the shuffled volume;
    *  2. anchors grouped per pair (`collect_list` of position pairs),
    *     so each candidate pair carries its evidence in ONE row and
    *     the text join below runs once per pair, not once per anchor;
    *  3. verification against real text: an anchor at (pa, pb) proves
    *     the pair iff some alignment d ∈ [0, w) yields
    *     `substr(ta, pa−d, minLen) = substr(tb, pb−d, minLen)` — for a
    *     true shared run the fingerprint sits at most w−1 grams past
    *     the run's start at the SAME offset on both sides, so that d
    *     exists; conversely any passing d exhibits the run. Bounds
    *     guards keep truncated substr results from comparing equal.
    *     Hash collisions (2⁻⁶⁴) die here at the cost of one check.
    *
    * Texts are fetched ONLY for candidate ids (semi-join prune) and the
    * two text joins are hinted shuffled-hash for the same reason as
    * [[PpJoin]]'s band verification: the build side holds each
    * candidate's text once and pair rows never drag text payloads
    * through a sort buffer.
    */
  def longRepeatPairs(docs: DataFrame, idCol: String, textCol: String,
                      minLen: Int = 59, w: Int = 20): DataFrame = {
    // a doc below minLen codepoints cannot host a qualifying run; prune
    // before its k-grams fan out (its fingerprints could only ever be
    // rejected by the verification bounds)
    val eligible = docs.filter(length(col(textCol)) >= minLen)
    val d = eligible.select(col(idCol).as("_did"), col(textCol).as("_txt"))
    val fp = fingerprints(eligible, idCol, textCol, minLen, w)
    val a = fp.select(col("_h"), col(idCol).as("id_a"),
      col("_pos").as("pa"))
    val b = fp.select(col("_h"), col(idCol).as("id_b"),
      col("_pos").as("pb"))
    val cand = a.join(b, Seq("_h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(collect_list(struct(col("pa"), col("pb"))).as("anchors"))
      .localCheckpoint(true) // feeds the id union AND the verify join
    val candIds = cand.select(col("id_a").as("_cid"))
      .unionByName(cand.select(col("id_b").as("_cid")))
      .distinct()
    val texts = d.join(candIds, col("_did") === col("_cid"), "left_semi")
    cand
      .join(texts.select(col("_did").as("id_a"), col("_txt").as("ta"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(texts.select(col("_did").as("id_b"), col("_txt").as("tb"))
        .hint("shuffle_hash"), Seq("id_b"))
      .filter(anchorsVerified(minLen, w))
      .select(col("id_a"), col("id_b"))
  }

  /** Long-verbatim-run probe ON INGEST: each micro-batch's documents
    * are checked against a PINNED corpus fingerprint index for shared
    * runs of ≥ minLen codepoints — the streaming face of
    * [[longRepeatPairs]], completing the curation-at-the-door family's
    * third modality (token near-dup, char-edit proximity, and now
    * verbatim-run overlap: the arriving doc that embeds a known
    * boilerplate block or a licence paragraph the other two probes
    * can't see).
    *
    * Scale shape, the [[EdJoin.editProbeStream]] contract exactly:
    * stateless per batch; fingerprints for the BATCH side only (~2/(w+1)
    * of its positions); ONE equi-join against the static index with the
    * batch side as the shuffled-hash BUILD side, so a caller who pins
    * `staticFps` repartitioned by `_h` pays no corpus exchange per
    * batch; candidates group per (new, corpus) pair; corpus TEXTS move
    * only for candidate pairs (`corpusDocs` pinned repartitioned by its
    * id, cand side hash-built); verification is the shared
    * [[anchorsVerified]] predicate, so batch and stream verdicts cannot
    * diverge. The (minLen, w) stamp on the index is mandatory — an
    * index winnowed with other parameters would silently miss true
    * pairs, never error.
    *
    * `staticFps` is [[fingerprints]] output for the corpus (same
    * minLen/w), `corpusDocs` the corpus (id, text) relation for
    * verification. Emits (new_id, corpus_id) pairs.
    */
  def repeatProbeStream(stream: DataFrame, idCol: String, textCol: String,
                        staticFps: DataFrame, corpusDocs: DataFrame,
                        minLen: Int, w: Int, checkpoint: String)(
      sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    WinnowStamp.require(staticFps, minLen, w)
    EventStreams.toForeachBatchSink(stream, checkpoint) {
      (batch, batchId) =>
        val eligible = batch.select(col(idCol), col(textCol))
          .filter(length(col(textCol)) >= minLen)
        sink(repeatHits(Seq(staticFps), Seq(corpusDocs), eligible,
          fingerprints(eligible, idCol, textCol, minLen, w), idCol,
          textCol, minLen, w), batchId)
    }
  }

  /** The (new_id, corpus_id) verbatim-run hits of the (idCol, textCol)
    * arrivals of at least `minLen` codepoints, `eligible`, whose
    * [[fingerprints]] are `batchFps`, against a
    * fingerprint index given as its tiers: `fpsTiers` of
    * [[fingerprints]] rows and `textTiers` of the (idCol, textCol)
    * rows candidates verify against. The one verbatim-run probe:
    * [[repeatProbeStream]] runs it over one pinned tier of each,
    * [[repeatIngestStream]] over the folding index's current tiers.
    *
    * PER-TIER probing: a corpus doc's fingerprints all live in the
    * tier it folded at, so anchor groups never span tiers and grouping
    * after the union is exact; a representative's text is found in
    * whichever text tier holds it.
    */
  private def repeatHits(fpsTiers: Seq[DataFrame],
      textTiers: Seq[DataFrame], eligible: DataFrame, batchFps: DataFrame,
      idCol: String, textCol: String, minLen: Int, w: Int): DataFrame = {
    val probes = batchFps.select(col("_h"),
      col(idCol).as("new_id"), col("_pos").as("pb"))
    val candPlan = fpsTiers.map { t =>
      t.select(col("_h"), col(idCol).as("corpus_id"),
          col("_pos").as("pa"))
        .join(probes.hint("shuffle_hash"), Seq("_h"))
        .filter(col("new_id") =!= col("corpus_id"))
    }.reduce(_ unionByName _)
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(collect_list(struct(col("pa"), col("pb"))).as("anchors"))
    val cand = IngestLoop.pinForTiers(candPlan, textTiers)
    textTiers.map { t =>
      t.select(col(idCol).as("corpus_id"), col(textCol).as("ta"))
        .join(cand.hint("shuffle_hash"), Seq("corpus_id"))
    }.reduce(_ unionByName _)
      .join(eligible.select(col(idCol).as("new_id"),
        col(textCol).as("tb")).hint("shuffle_hash"), Seq("new_id"))
      .filter(anchorsVerified(minLen, w))
      .select(col("new_id"), col("corpus_id"))
      // pair-dedup: a re-delivered accepted id's text can sit in
      // two tiers (self-matches are id-filtered, so the copy
      // re-folds), and the per-tier text joins would emit the
      // verified pair once per tier
      .distinct()
  }

  /** Paired folding indexes for the verbatim-run modality: winnowed
    * fingerprints plus the (id, text) relation candidates verify
    * against — folded in lockstep per batch.
    */
  final case class FoldingRepeatIndex(fps: FoldingIndex,
      texts: FoldingIndex)

  /** The [[FoldingRepeatIndex]] tiers, declared once: fingerprints
    * `_h`-bucketed, texts bucketed on their id. */
  private def repeatTiers(idCol: String, textCol: String, minLen: Int,
      w: Int, open: FoldingIndex.Open): FoldingRepeatIndex = {
    val Seq(fps, texts) = open(Seq(
      "fps" -> FoldingIndex.Tier(
        s"winnow-fps-m${minLen}w$w", Seq("_h"),
        df => fingerprints(df, idCol, textCol, minLen, w)),
      "texts" -> FoldingIndex.Tier("winnow-texts",
        Seq(idCol), df => df.select(col(idCol), col(textCol)))))
    FoldingRepeatIndex(fps, texts)
  }

  def foldingRepeatIndex(corpus: DataFrame, idCol: String,
      textCol: String, minLen: Int, w: Int, numPartitions: Int,
      compactEvery: Int = 16,
      durablePath: Option[String] = None): FoldingRepeatIndex =
    repeatTiers(idCol, textCol, minLen, w,
      FoldingIndex.creating(corpus, numPartitions,
        compactEvery, durablePath))

  /** Resume a durable [[FoldingRepeatIndex]] in a fresh session (both
    * tiers; the (minLen, w) stamp rides the parquet footer, so
    * [[repeatIngestStream]]'s gate passes on the recovered index —
    * `FoldingRestartSpec` pins it).
    */
  def recoverRepeatIndex(spark: org.apache.spark.sql.SparkSession,
      durablePath: String, idCol: String, textCol: String,
      minLen: Int, w: Int, numPartitions: Int, compactEvery: Int = 16,
      resetWatermark: Boolean = false): FoldingRepeatIndex =
    repeatTiers(idCol, textCol, minLen, w,
      FoldingIndex.recovering(spark, durablePath,
        numPartitions, compactEvery, resetWatermark))

  /** [[repeatProbeStream]] with INCREMENTAL INDEX MAINTENANCE (VERDICT
    * r14 Next #1, verbatim-run modality): each micro-batch is
    * fingerprinted ONCE (probe + fold share the rows), probed against
    * the CURRENT folding index, hits emitted, and the accepted
    * (no-hit) arrivals' fingerprints and texts folded in. The probe is
    * [[repeatHits]], the one [[repeatProbeStream]] runs over a pinned
    * corpus — same [[anchorsVerified]] predicate, same string-free
    * candidate join — so probe-after-fold ≡
    * probe-against-rebuilt-index (`FoldingIngestSpec`).
    *
    * The source is read more than once per batch (fingerprint pass +
    * accepted-texts fold): [[IngestLoop]]'s source contract.
    */
  def repeatIngestStream(stream: DataFrame, idCol: String,
      textCol: String, index: FoldingRepeatIndex, minLen: Int, w: Int,
      checkpoint: String)(
      sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    WinnowStamp.require(index.fps.current, minLen, w)
    IngestLoop.report(stream, checkpoint, sink) { batch =>
      // the ONLY full-text materialization per batch is the accepted
      // texts DELTA itself (fold tail below): checkpointing arrivals
      // up front would copy the dominant payload twice per batch
      val arrivals = batch.select(col(idCol), col(textCol))
      val eligible = arrivals.filter(length(col(textCol)) >= minLen)
      val batchFps = fingerprints(eligible, idCol, textCol, minLen, w)
        .localCheckpoint(true) // probe + fold share it: sign ONCE
      val hits = repeatHits(index.fps.currentTiers,
        index.texts.currentTiers, eligible, batchFps, idCol, textCol,
        minLen, w)
      // fold tail (r16 Next #2): each tier's accepted delta
      // materializes exactly ONCE — the fps accept rides the pinned
      // batchFps, the texts accept reads the source lazily so its
      // delta checkpoint is the batch's only full-text copy (lazy
      // accept deltas: see the minhash fold tail)
      IngestLoop.Probed(hits, {
        case (batchId, None) =>
          // nothing rejected: the pinned fps frame IS its delta
          index.fps.foldInPinned(batchId, batchFps)
          index.texts.foldInRows(batchId, arrivals)
        case (batchId, Some(hitIds)) =>
          index.fps.foldInRows(batchId,
            IngestLoop.unhit(batchFps, idCol, hitIds))
          index.texts.foldInRows(batchId,
            IngestLoop.unhit(arrivals, idCol, hitIds))
      })
    }
  }

  /** Paired folding indexes for the gram-scrub modality: the
    * representative gram index plus the reference (id, text) relation
    * candidates verify against.
    *
    * Tier note: the SAME gram appearing in two tiers carries one
    * representative per tier (the rebuilt index would keep one global
    * minimum). That is deliberate slack, not drift: every
    * representative verifies the same gram text, covered positions
    * land in [[applyCut]]'s `collect_set`, and the CLEANED OUTPUT —
    * the operator's contract — is identical to the rebuilt index's
    * (`FoldingIngestSpec` pins it). Compaction does not re-elect
    * representatives; a restart-and-rebuild does.
    */
  final case class FoldingScrubIndex(idx: FoldingIndex,
      texts: FoldingIndex)

  /** The [[FoldingScrubIndex]] tiers, declared once: the gram index
    * `_gh`-bucketed, texts bucketed on their id. */
  private def scrubTiers(idCol: String, textCol: String, L: Int,
      open: FoldingIndex.Open): FoldingScrubIndex = {
    val Seq(idx, texts) = open(Seq(
      "idx" -> FoldingIndex.Tier(s"scrub-idx-L$L",
        Seq("_gh"), df => scrubIndex(df, idCol, textCol, L)),
      "texts" -> FoldingIndex.Tier("scrub-texts",
        Seq(idCol), df => df.select(col(idCol), col(textCol)))))
    FoldingScrubIndex(idx, texts)
  }

  def foldingScrubIndex(reference: DataFrame, idCol: String,
      textCol: String, L: Int, numPartitions: Int,
      compactEvery: Int = 16,
      durablePath: Option[String] = None): FoldingScrubIndex =
    scrubTiers(idCol, textCol, L,
      FoldingIndex.creating(reference, numPartitions,
        compactEvery, durablePath))

  /** Resume a durable [[FoldingScrubIndex]] in a fresh session (both
    * tiers; the L stamp rides the parquet footer, so
    * [[scrubIngestStream]]'s gate passes on the recovered index —
    * `FoldingRestartSpec` pins it).
    */
  def recoverScrubIndex(spark: org.apache.spark.sql.SparkSession,
      durablePath: String, idCol: String, textCol: String, L: Int,
      numPartitions: Int, compactEvery: Int = 16,
      resetWatermark: Boolean = false): FoldingScrubIndex =
    scrubTiers(idCol, textCol, L,
      FoldingIndex.recovering(spark, durablePath,
        numPartitions, compactEvery, resetWatermark))

  /** [[scrubProbeStream]] with INCREMENTAL INDEX MAINTENANCE (VERDICT
    * r14 Next #1, gram-scrub modality): each micro-batch is scrubbed
    * against the CURRENT folding index, the cleaned docs emitted, and
    * the non-empty CLEANED texts folded in as new reference content —
    * the spans removed were already indexed, so the reference grows
    * with exactly what survived the door. Representatives of folded
    * docs point into their CLEANED text, which is what the folded text
    * tier holds — the verification contract stays exact. The probe is
    * [[coveredByTiers]], so its gram and candidate checkpoints follow
    * [[IngestLoop.pinForTiers]]: a one-tier snapshot (a fresh or
    * just-compacted index) pins neither.
    *
    * The source is read more than once per batch (covered-span probe
    * + cut): [[IngestLoop]]'s source contract.
    */
  def scrubIngestStream(stream: DataFrame, idCol: String,
      textCol: String, index: FoldingScrubIndex, L: Int,
      checkpoint: String)(
      sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    ScrubStamp.require(index.idx.current, L)
    IngestLoop.transform(stream, idCol, textCol,
      checkpoint, sink, Seq(index.idx, index.texts)) { arrivals =>
      applyCut(arrivals, idCol, textCol,
        coveredByTiers(arrivals, idCol, textCol,
          index.idx.currentTiers, index.texts.currentTiers, L), L)
    } { (batchId, accepted) =>
      // pinned: two folds read it, and the text tier folds the pinned
      // frame directly (its builder is an identity projection — no
      // second materialization)
      val pinned = accepted.localCheckpoint(true)
      index.idx.foldIn(batchId, pinned)
      index.texts.foldInPinned(batchId, pinned)
      ()
    }
  }
}
