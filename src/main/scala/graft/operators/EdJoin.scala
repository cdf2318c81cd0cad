package graft.operators

import graft.streaming.{EventStreams, FoldingIndex, IngestLoop}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.functions._

/** Exact bounded edit-distance self-join (fuzzy entity matching),
  * candidate-bounded by a content-based q-gram prefix filter in the
  * style of Ed-Join (Xiao, Wang & Lin, "Ed-Join: an efficient algorithm
  * for similarity joins with edit distance constraints", VLDB 2008) —
  * the edit-distance sibling of [[PpJoin]], sharing its DF-ordering
  * architecture.
  *
  * Naive fuzzy joins are quadratic; segment-based blocking (PassJoin)
  * degenerates when a fixed segment position lands on a shared prefix
  * ("Customer#0000…" — every string collides on segment 1). The q-gram
  * prefix filter dodges exactly that: a single edit operation damages at
  * most q of a string's positional q-grams, so at most q DISTINCT grams
  * leave its gram SET (a distinct gram survives while any occurrence
  * does). Hence ed(A,B) ≤ k ⟹ |set(A) ∩ set(B)| ≥ max(mA, mB) − k·q,
  * and by the same prefix-filter lemma PpJoin proves, the first
  * k·q + 1 grams of each string under ONE global order — ascending
  * corpus document frequency, ties by 64-bit gram hash (grams live as
  * `xxhash64` keys through every exchange; see [[editPairs]]) — must
  * intersect. A
  * shared-prefix gram has maximal DF, lands at the END of the order,
  * and never enters any prefix: the hot-block failure mode is pruned
  * exactly, not heuristically.
  *
  * Scale shape: two linear shuffles (gram DF count; per-string rarity
  * window), a self-join over ≤ k·q + 1 grams per string whose key fanout
  * is bounded by rare-gram DF, then threshold-bounded Levenshtein
  * (early-exit `levenshtein(l, r, k)`, O(k·min(len)) per pair) on
  * candidates only. The length gate |lenA − lenB| ≤ k prunes before the
  * distance runs. Verification is ordered so the candidate stream never
  * touches a shuffle: strings ride along the prefix index, the bounded
  * distance runs inside the streamed join output, and only SURVIVING
  * pairs are deduplicated — on adversarial corpora candidates outnumber
  * matches by orders of magnitude, so a pre-verification distinct would
  * shuffle the candidate set (the dominant cost) instead of the result.
  * The indexed side is explicitly re-spread across cores first: the
  * verification cost is CPU per pair, not bytes, so byte-based AQE
  * coalescing would otherwise serialize it onto a handful of tasks.
  *
  * The gram-set bound is vacuous for SHORT strings: with at most k·q
  * distinct grams on both sides, k edits can destroy every shared gram
  * ("abcdef" vs "aXcdYf" is ed=2 with zero common 3-grams), so the
  * gram join alone would miss true pairs. The side path's membership
  * invariant is LENGTH-based — strings of length ≤ k·q + q − 1, a
  * constant-bounded corpus slice — not gram-count-based: periodic
  * strings of ANY length ("ababab…", "-----" boilerplate heads) hold
  * ≤ k·q distinct grams, and admitting them would make the band blocks
  * O(corpus) on repetitive corpora. They don't need the side path:
  * a string of length ≥ k·q + q has ≥ k·q + 1 POSITIONAL grams, so k
  * edits (each destroying ≤ q positional grams… but ≤ q DISTINCT-set
  * members in total per edit) leave ≥ 1 distinct gram of the longer
  * side shared, and a partner with ≤ k·q distinct grams keeps its
  * ENTIRE gram set inside the k·q + 1 prefix — the gram join finds the
  * pair. So the exhaustive band path takes strings satisfying BOTH
  * m ≤ k·q and len ≤ k·q + q − 1 (band width k+1, both sides emit
  * {base, base+1}, pair kept on the max base so the double hit
  * dedupes); short×long needs no special casing because the asymmetric
  * bound |A∩B| ≥ max(mA,mB) − k·q ≥ 1 already holds when the longer
  * side clears k·q grams.
  *
  * CONTRACT: strings shorter than q carry no q-gram and are EXCLUDED
  * from the join (documented fuzzy-matching floor; pad upstream if
  * sub-q strings are meaningful). Verification is exact, so the filter
  * chain is correctness-neutral — [[EdJoinSpec]] proves equality with
  * the naive quadratic join on randomized and adversarial corpora,
  * including zero-shared-gram short pairs.
  */
object EdJoin {

  /** Cap for a MEASURED-bound broadcast: a corpus-derived join side may
    * broadcast only when an upper bound on its TRUE in-memory bytes —
    * computed from exact corpus length statistics, never from
    * Catalyst's compressed-scan estimate — fits under this cap. This
    * replaces the r12 blanket sort-merge pins on the explode-derived
    * sides: the pins closed the d41 kill window (Catalyst
    * auto-broadcast a ~1.3 GB variant frame whose explode estimate sat
    * under the 10 MB line) but priced every small corpus with
    * exchange+sort it didn't need. The measured bound restores the
    * broadcast plan exactly where it is PROVEN safe and keeps the
    * merge pin everywhere else — the broadcast decision becomes ours,
    * made from true statistics, the same discipline as PpJoin's
    * injectivity audit. 64 MB is far under any sane driver/executor
    * memory at cluster scale while covering the whole small-SF regime.
    */
  private[graft] val MeasuredBroadcastCap: Long = 64L << 20

  /** Per-row overhead (bytes) charged on top of string payload when
    * bounding a broadcast hash relation: UnsafeRow header + fields +
    * BytesToBytesMap slot. Deliberately generous — the bound must err
    * toward sort-merge, never toward an unsafe broadcast. */
  private val RowOverhead = 64.0

  /** Length moments (n, ΣL, ΣL², ΣL³) of `strCol` over `strs`, the
    * inputs every generated-frame size bound is a polynomial of. One
    * aggregate job, memoized per (session, analyzed projection plan) —
    * d41/d42-style query families re-derive frames from the same
    * relation, and the moments are a fact about that relation
    * (the PpJoin auditMemo discipline). Doubles, not longs: the
    * moments feed an upper BOUND, where 1-ulp relative error is
    * irrelevant and ΣL³ can overflow a long on a large corpus.
    */
  private val momentsMemo = scala.collection.mutable.Map.empty[
    org.apache.spark.sql.SparkSession,
    List[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      Array[Double])]]

  private def lenMoments(strs: DataFrame, strCol: String): Array[Double] = {
    val proj = strs.select(length(col(strCol)).cast("double").as("_l"))
    val s = proj.sparkSession
    val plan = proj.queryExecution.analyzed
    val hit = momentsMemo.synchronized {
      momentsMemo.filterInPlace((sess, _) => !sess.sparkContext.isStopped)
      momentsMemo.getOrElse(s, Nil).find(_._1.sameResult(plan)).map(_._2)
    }
    hit.getOrElse {
      // the job runs OUTSIDE the monitor; a racing duplicate is
      // deterministic-idempotent
      val r = proj.agg(
        count(lit(1)).cast("double"),
        coalesce(sum(col("_l")), lit(0.0)),
        coalesce(sum(col("_l") * col("_l")), lit(0.0)),
        coalesce(sum(col("_l") * col("_l") * col("_l")), lit(0.0))).head()
      val m = Array(r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))
      momentsMemo.synchronized {
        momentsMemo(s) = ((plan, m) ::
          momentsMemo.getOrElse(s, Nil).filterNot(_._1.sameResult(plan)))
          .take(16)
      }
      m
    }
  }

  /** EXACT {(id_a, id_b, dist) | id_a < id_b, ed ≤ k} over
    * (id, string) rows, strings of length ≥ q. dist is the true edit
    * distance (IntegerType).
    *
    * `blockCols` restricts the join to pairs AGREEING on every listed
    * column (fuzzy matching within (lang, source) etc.). Blocking is
    * applied at candidate GENERATION, not post-hoc: the gram join key
    * becomes (blockCols…, gram) and the short-class band key
    * (blockCols…, bkt), so cross-block pairs are never formed, never
    * length-gated, and never pay bounded-Levenshtein verification — at
    * scale a popular boilerplate head shared across blocks would
    * otherwise generate (and verify, then discard) every cross-block
    * candidate within the gram filter's reach. DF rarity stays GLOBAL:
    * the prefix lemma needs one total order shared by both sides of a
    * pair, any consistent order is exact, and the global order is
    * strictly more selective than a per-block one would make hot grams
    * look inside sparse blocks.
    */
  def editPairs(strs: DataFrame, idCol: String, strCol: String,
                k: Int, q: Int = 3,
                blockCols: Seq[String] = Nil,
                broadcastCap: Long = MeasuredBroadcastCap): DataFrame = {
    require(k >= 1, s"edit-distance threshold k must be >= 1, got $k")
    require(q >= 1, s"gram width q must be >= 1, got $q")
    val reserved = Set("_id", "_str", "_len", "_m", "_base", "_bkt",
      "gram", "gram_df", "pos")
    require(!blockCols.exists(reserved),
      s"blockCols may not use reserved names ${reserved.mkString(",")}")
    val s = strs.select(
        (Seq(col(idCol).as("_id"), col(strCol).as("_str")) ++
          blockCols.map(col)): _*)
      .filter(length(col("_str")) >= q)
    // distinct positional q-grams, projected to gram SETS (the lemma
    // counts distinct grams; occurrences would inflate m and weaken
    // the k·q bound) — then immediately to 64-bit HASHES: every
    // downstream exchange (DF count, rarity window, candidate join)
    // keys on the hash, so gram STRINGS never ride a shuffle. Honest
    // accounting (r12, measured): at the default q = 3..6 a gram
    // string weighs about what a 64-bit hash does, so the BYTE saving
    // is small (d40 sf10: 3044 → 2836 MB read) — the win is fixed-
    // width key comparison in the rarity sort and join probes, and the
    // keying future-proofs larger q, where strings would dominate. The
    // sf10 cost that remains is a sort-width artifact, attributed at
    // the candidate join below. The prefix
    // lemma holds verbatim in hash space: an edit changes ≤ q
    // positional grams, so it removes ≤ q members from the hash SET
    // (a hash leaves only if every gram mapping to it leaves), the
    // order (gram_df, hash) is one strict total order on the hash
    // element space shared by both sides, and a 2⁻⁶⁴ collision can
    // only MERGE elements — shrinking m, enlarging intersections —
    // which admits extra candidates but never loses a true pair;
    // exact bounded-Levenshtein verification kills the extras.
    val grams = s.select(col("_id"), explode(array_distinct(
        expr(s"transform(sequence(1, length(_str) - ${q - 1})," +
          s" i -> xxhash64(substring(_str, i, $q)))"))).as("gram"))
    val dfreq = grams.groupBy(col("gram")).agg(count(lit(1)).as("gram_df"))
    val byRarity = Window.partitionBy(col("_id"))
      .orderBy(col("gram_df"), col("gram"))
    // strings ride along the prefix index ONLY from here — one join on
    // _id after the prefix filter has cut to ≤ k·q + 1 rows per string
    // — so candidates verify inline without a separate text fetch.
    //
    // MEASURED-bound strategy on both index joins (the d41 lesson,
    // r13 form): the gram frame and the prefix frame are CORPUS-SCALED
    // explode-derived sides whose Catalyst estimate comes from the
    // COMPRESSED parquet scan — low by the decompression × explode
    // multiplicity product (100–1000×), so there is a mid-scale window
    // where the estimate sits under the 10 MB auto-broadcast line
    // while the true frame is gigabytes through the driver (the
    // deletion path's identical defect measurably materialized at
    // 100×: 1.3 GB driver broadcast). The r12 fix was a blanket SMJ
    // pin; this version instead bounds the TRUE bytes of the SMALL
    // side of each join from exact length moments and broadcasts that
    // side only under the proven cap — the right build side (dfreq /
    // the strings, never the exploded frame Catalyst would pick) at
    // small scale, spillable 8-byte-key SMJ everywhere else.
    val Array(nStr, sumLen, _, _) = lenMoments(s, "_str")
    // dfreq rows ≤ total gram occurrences = Σ(L − q + 1); 16-byte rows
    val dfreqBytes = (sumLen - (q - 1) * nStr) * (16 + RowOverhead)
    // strings side: payload ΣL plus id/len fields per row (blockCols
    // ride along — charge a generous fixed width each)
    val strsBytes = sumLen +
      nStr * (16 + RowOverhead + 32.0 * blockCols.size)
    val indexed = if (dfreqBytes <= broadcastCap)
        grams.join(broadcast(dfreq), Seq("gram"))
      else grams.hint("merge").join(dfreq, Seq("gram"))
    val sLen = s.withColumn("_len", length(col("_str")))
    val prefixBare = indexed
      .withColumn("pos", row_number().over(byRarity))
      .filter(col("pos") <= k * q + 1)
      .select(col("_id"), col("gram"))
    val prefix = if (strsBytes <= broadcastCap)
        prefixBare.join(broadcast(sLen), Seq("_id"))
      else prefixBare.hint("merge").join(sLen, Seq("_id"))
    val n = strs.sparkSession.sparkContext.defaultParallelism
    val blk = blockCols.map(col)
    val a = prefix
      .select((Seq(col("gram"), col("_id").as("id_a"),
        col("_str").as("sa"), col("_len").as("la")) ++ blk): _*)
      // explicit width: AQE must not byte-coalesce the CPU-dense side
      .repartition(n, col("id_a"))
    val b = prefix
      .select((Seq(col("gram"), col("_id").as("id_b"),
        col("_str").as("sb"), col("_len").as("lb")) ++ blk): _*)
    // candidates form on (blockCols…, gram): cross-block pairs never
    // exist. This join stays SORT-MERGE unconditionally — both r12 and
    // r13 measured negatives: a shuffle_hash build on either prefix
    // side OOMs at sf10/local[32] (a build map of the WHOLE prefix
    // index — unlike PpJoin's id-distinct sets frame — cannot spill),
    // and broadcasting the bounded b side at small SF measurably LOSES
    // (d40 sf0.1: 2.6 → 9.9 s wall, cpu-parallelism 8 → 2.7): the
    // broadcast chain removes the exchanges that spread the CPU-dense
    // k·q-gram verification across cores, leaving it on the scan's few
    // input splits. Pinned merge keeps Catalyst out of the estimate
    // window AND keeps verification wide. The ~1.8 GB sf10 sort spill
    // from doc strings riding both sort buffers is a WIDTH artifact,
    // not a plan defect: at 128 shuffle partitions it is exactly 0 (at
    // +40% shuffle bytes and +17% wall from the extra AQE exchanges —
    // 32-wide with spill is the faster configuration on this box, and
    // cluster-grade per-task memory holds the 32-wide sort resident).
    val gramPairs = a.join(b.hint("merge"), Seq("gram") ++ blockCols)
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("la") - col("lb")) <= k)
      .select(col("id_a"), col("id_b"), col("sa"), col("sb"))
    // short-class side path: both strings holding ≤ k·q distinct grams
    // can be within k edits with ZERO shared grams (scaladoc example),
    // so they pair exhaustively inside length bands. Membership is
    // BOTH m ≤ k·q AND len ≤ k·q + q − 1: the length bound is what
    // keeps the band blocks a constant-size corpus slice (periodic
    // strings hold few distinct grams at any length and would blow the
    // bands up quadratically on repetitive corpora), and it is safe to
    // exclude them — a longer string's ≥ k·q + 1 positional grams
    // survive k edits with ≥ 1 distinct gram shared, and a low-m
    // partner's whole gram set sits inside its k·q + 1 prefix, so the
    // gram join already finds those pairs (scaladoc proof).
    // _m counts distinct gram HASHES — ≤ the distinct-gram count, so
    // every string the set-count test would admit is still admitted
    // (a collision can only pull a borderline string INTO the
    // exhaustive band path, adding candidates, never dropping one)
    val m = grams.groupBy(col("_id")).agg(count(lit(1)).as("_m"))
    val w = k + 1 // band width > k: lengths within k differ ≤ 1 in base
    val shorts = s.join(m, Seq("_id")).filter(col("_m") <= k * q)
      .withColumn("_len", length(col("_str")))
      .filter(col("_len") <= k * q + q - 1)
      .withColumn("_base", expr(s"CAST(_len div $w AS INT)"))
      .withColumn("_bkt", explode(array(col("_base"), col("_base") + 1)))
    val sa = shorts.select((Seq(col("_bkt"), col("_id").as("id_a"),
      col("_str").as("sa"), col("_len").as("la"),
      col("_base").as("ba")) ++ blk): _*)
    val sb = shorts.select((Seq(col("_bkt"), col("_id").as("id_b"),
      col("_str").as("sb"), col("_len").as("lb"),
      col("_base").as("bb")) ++ blk): _*)
    // band key is (blockCols…, bkt) — blocked the same way as the gram
    // path, so neither candidate structure ever crosses a block.
    // Merge-pinned like the candidate join: the band frames are an
    // explode-derived corpus slice (length-bounded, but a slice of the
    // corpus nonetheless) with the same under-the-line estimate
    // window, and band verification is the same CPU-dense work the
    // broadcast chain serializes (the d40 r13 negative above)
    val shortPairs = sa.join(sb.hint("merge"), Seq("_bkt") ++ blockCols)
      .filter(col("id_a") < col("id_b")
          && abs(col("la") - col("lb")) <= k
          // keep only the match on the larger base: the {base, base+1}
          // double emission otherwise finds same-base pairs twice
          && col("_bkt") === greatest(col("ba"), col("bb")))
      .select(col("id_a"), col("id_b"), col("sa"), col("sb"))
    gramPairs.union(shortPairs)
      // 3-arg levenshtein early-exits past k and returns -1 beyond it;
      // it runs inside the streamed join output — a pair sharing several
      // prefix grams is verified once per share, which is cheaper than
      // shuffling the candidate set to dedup it first
      .withColumn("dist", levenshtein(col("sa"), col("sb"), k))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
      .distinct()
  }

  /** EXACT small-threshold variant of [[editPairs]] via k-deletion
    * neighborhoods (FastSS — Bocek, Hunt & Stiller, "Fast Similarity
    * Search in Large Dictionaries", U. Zurich TR 2007): every string
    * emits each variant reachable by deleting ≤ k characters, hashed to
    * a 64-bit key; an optimal alignment of any pair within ed ≤ k
    * matches on the characters untouched by its ≤ k edit positions, so
    * deleting those positions from each side yields EQUAL variants —
    * the neighborhoods of a true pair always intersect (candidates ⊇
    * truth; bounded levenshtein then keeps exactly the true pairs, so a
    * 64-bit hash collision can only add a candidate, never an answer).
    *
    * This is the complement of the q-gram path, not a replacement: the
    * gram filter's selectivity collapses when a corpus DENSIFIES inside
    * a fixed gram space (measured on 10× key-shifted customer names:
    * posting lists grow with n, candidates with n² — 28× wall at 10×
    * data), while deletion variants lengthen with the string, so their
    * postings track true-neighbor density and candidates scale with the
    * OUTPUT. The price is key fan-out — 1 + n + C(n,2) variants per
    * string at k=2 — so this path fits short strings (ids, names,
    * titles) at k ≤ 2, and [[editPairs]] fits long strings where k·q+1
    * prefixes stay small relative to the gram count.
    */
  def editPairsByDeletion(strs: DataFrame, idCol: String, strCol: String,
                          k: Int,
                          broadcastCap: Long = MeasuredBroadcastCap)
      : DataFrame = {
    val keyed = deletionKeys(strs, idCol, strCol, k)
    val n = strs.sparkSession.sparkContext.defaultParallelism
    val a = keyed.select(col("_key"), col("_id").as("id_a"),
        col("_str").as("sa"))
      // explicit width: AQE must not byte-coalesce the CPU-dense side
      .repartition(n, col("id_a"))
    val b = keyed.select(col("_key"), col("_id").as("id_b"),
      col("_str").as("sb"))
    // MEASURED-bound strategy (r13; the r12 form was a blanket SMJ
    // pin): the variant frame is CORPUS-SCALED (every ≤k-deletion
    // variant of every string, strings aboard) but explode-based size
    // estimates run low, so Catalyst auto-broadcast it well past the
    // real 10 MB line — ~1.3 GB through the driver at 100×, the
    // driver-kill mode, latent in local mode until the sf30 sweep
    // watched the estimate finally cross (stages 3→5) and asked why.
    // The exact variant count per string is Σ_{j≤k} C(L, j) and
    // array_distinct only shrinks it, so Σ V(L)·(L + overhead) — a
    // polynomial of the corpus length moments — is a TRUE upper bound
    // on the frame's bytes: under the cap the broadcast plan is proven
    // safe and taken (it is ~2× faster on small corpora), above it
    // SMJ exchanges the near-unique 8-byte _key and sorts spillable —
    // never driver-resident. shuffle_hash is NOT safe in either case
    // (a build map of the whole variant side, unlike the probe
    // stream's batch-sized build, OOMs — the gramPairs negative).
    val Array(nRows, m1, m2, m3) = lenMoments(strs, strCol)
    val c = 16 + RowOverhead // _key + id fields beyond the string
    val variantBytes =
      if (k == 1) m2 + (c + 1) * m1 + c * nRows // Σ (L+1)(L+c)
      else 0.5 * m3 + (0.5 * c + 0.5) * m2 +
        (0.5 * c + 1) * m1 + c * nRows // Σ (1+L+C(L,2))(L+c), k = 2
    val bSide = if (variantBytes <= broadcastCap) broadcast(b)
      else b.hint("merge")
    a.join(bSide, Seq("_key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("sa"), col("sb"), k))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
      .distinct()
  }

  /** The k that [[deletionKeys]] stamps on `_key`: an index at k=1
    * probed at k=2 intersects on a strict subset of the k=2 variants
    * (candidates ⊉ truth, no error raised), so both edit streams gate
    * on it.
    */
  private val KStamp = IndexStamp("key index", "_key", "k",
    "EdJoin.deletionKeys or EdJoin.foldingEdIndex", "k" -> "graft.edjoin.k")

  /** (_id, _str, _key, _vlen) deletion-neighborhood rows: one 64-bit
    * hashed ≤k-deletion variant per row, `_vlen` its pre-hash length
    * (two equal variants have equal length, so `_vlen` partitions the
    * key space — the probe's length semi-filter prunes on it without
    * unhashing anything). Shared by the batch self-join and the
    * streaming probe so batch and stream candidate verdicts cannot
    * silently diverge (the [[graft.operators.Dedup]] `bandedIndex`
    * discipline). k is stamped into `_key`'s column metadata
    * ([[KStamp]]) — [[editProbeStream]] refuses an index whose stamp
    * doesn't match its probe k.
    */
  def deletionKeys(strs: DataFrame, idCol: String, strCol: String,
                   k: Int): DataFrame = {
    require(k >= 1 && k <= 2,
      s"deletion-neighborhood join is for k in [1, 2], got $k " +
        "(variants per string grow as C(len, k) — use editPairs beyond)")
    val s = strs.select(col(idCol).as("_id"), col(strCol).as("_str"))
    // ≤1-deletion variants: the string itself (i = 0) plus each single
    // deletion; ≤2 composes a second deletion pass over the first
    def del1(x: String, v: String) =
      s"transform(sequence(0, length($x)), $v -> if($v = 0, $x," +
        s" concat(substring($x, 1, $v - 1)," +
        s" substring($x, $v + 1, length($x)))))"
    val variants =
      if (k == 1) expr(del1("_str", "i"))
      else expr(s"flatten(transform(${del1("_str", "i")}," +
        s" v -> ${del1("v", "j")}))")
    s.select(col("_id"), col("_str"),
        explode(array_distinct(variants)).as("_v"))
      .select(col("_id"), col("_str"),
        KStamp.stamp(xxhash64(col("_v")), k),
        length(col("_v")).as("_vlen"))
  }

  /** Character-level near-dup probe ON INGEST: each micro-batch's
    * strings are checked against a PINNED corpus deletion-neighborhood
    * index — the streaming face of [[editPairsByDeletion]], completing
    * the curation-at-the-door family (MinHash near-dup, exact-substring
    * decontam, LM quality) with the modality that catches
    * single-character edits token methods miss.
    *
    * Scale shape: stateless per batch — variant keys for the BATCH side
    * only (tiny), one equi-join against the static index, bounded
    * levenshtein on candidates, min-dist dedup per (new, corpus) pair.
    * The batch side is the hash-join BUILD side (`shuffle_hash` hint):
    * the corpus index is orders of magnitude larger than any
    * micro-batch, and a default sort-merge join would re-exchange and
    * re-sort those millions of pinned variant rows on EVERY batch —
    * the dominant per-batch cost, paid for a batch of a few thousand
    * probes. Callers should pin the index REPARTITIONED by `_key`
    * (see [[graft.StreamBench]]): the join then reuses the cached
    * partitioning, exchanges only the batch-side variants, and builds
    * per-partition hash tables from them in parallel — a driver-side
    * broadcast of the variant strings was measured no faster than the
    * shuffled join it replaced, because serializing tens of MB of
    * variants through one driver thread per batch costs what the
    * corpus exchange did. Two length filters cut
    * the probe side before it fans out: a doc whose length is not
    * within k of any corpus string length can match nothing and skips
    * variant generation entirely, and a variant whose length no corpus
    * variant shares (equal variants have equal length) is dropped
    * before the join — both driver-side bounded sets (≤ max-length
    * distinct values, computed once at stream construction, never per
    * batch). On a self-replay every length is its own corpus's, so the
    * filters prune nothing there; on a production ingest with drifting
    * document shapes they bound the fan-out to the index's profile.
    * No watermark or state store; the at-least-once +
    * batchId-idempotent-sink contract is the same one
    * `DedupStreamSpec`/`DecontamStreamSpec` prove for the family.
    *
    * `staticKeys` is [[deletionKeys]] output for the corpus, built with
    * the SAME k; pin it (FrameCache) so micro-batches never re-derive
    * the corpus side. Emits (new_id, corpus_id, dist).
    *
    * Kept apart from [[editIngestStream]]'s per-tier probe: this body
    * has the measured length-profile prefilters and a distinct,
    * broadcastable text relation, which a growing index cannot keep.
    */
  def editProbeStream(stream: DataFrame, idCol: String, strCol: String,
                      staticKeys: DataFrame, k: Int, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    // only deletionKeys output (or a schema-preserving transform of it)
    // is a valid staticKeys
    KStamp.require(staticKeys, k)
    // STRING-FREE probe join (the d44-family invariant, applied r12):
    // the variant join needs only (_key, corpus_id) — 16-byte rows —
    // while corpus_str is needed for the FEW candidate hits. Carrying
    // _str through the join deserialized 6M cached 120-char strings
    // per batch (columnar cache prunes unrequested columns at SCAN
    // time, but a requested column rides every join row). Candidates
    // fetch their text afterwards from the ~corpus-doc-count distinct
    // (id, str) relation, pinned once at stream construction — small
    // enough to auto-broadcast per batch.
    val corpus = staticKeys.select(col("_key"), col("_id").as("corpus_id"))
    val corpusTexts = staticKeys
      .select(col("_id").as("corpus_id"), col("_str").as("corpus_str"))
      .distinct()
      .localCheckpoint(true)
    // once, at stream construction: the index's string-length profile
    // (driver-side bounded — distinct lengths, not rows). A probe doc
    // can only match corpus strings within ±k of its length, and a
    // probe VARIANT can only equal a corpus variant of its own length.
    val corpusLens = staticKeys
      .select(length(col("_str")).as("l")).distinct()
      .collect().map(_.getInt(0)).toSet
    val docLenOk = corpusLens.flatMap(l => (l - k) to (l + k))
    val variantLens = corpusLens.flatMap(l => (l - k) to l).toSeq.map(Int.box)
    EventStreams.toForeachBatchSink(stream, checkpoint) {
      (batch, batchId) =>
        val inRange = batch.select(col(idCol), col(strCol))
          .filter(length(col(strCol))
            .isin(docLenOk.toSeq.map(Int.box): _*))
        // STRING-FREE variant join (r18, mirroring the fold path's
        // measured fix): the probe side shuffles 16-byte (_key,
        // new_id) rows — the r17 shape carried new_str onto every
        // variant row, so the exchange and every pre-dedup candidate
        // row paid the text width ~(len+1)× per doc. Pairs dedup
        // FIRST; the few survivors fetch new_str from a second
        // column-pruned read of the micro-batch source (the family's
        // documented replayable-source contract).
        val probes = deletionKeys(inRange, idCol, strCol, k)
          .filter(col("_vlen").isin(variantLens: _*))
          .select(col("_key"), col("_id").as("new_id"))
        val hits = corpus.join(probes.hint("shuffle_hash"), Seq("_key"))
          .filter(col("new_id") =!= col("corpus_id"))
          // candidate pairs first (a pair can meet on many variants —
          // dedup BEFORE fetching text and running the distance once)
          .select(col("new_id"), col("corpus_id"))
          .distinct()
          .join(inRange.select(col(idCol).as("new_id"),
            col(strCol).as("new_str")).hint("shuffle_hash"),
            Seq("new_id"))
          .join(corpusTexts, Seq("corpus_id"))
          .withColumn("dist",
            levenshtein(col("new_str"), col("corpus_str"), k))
          .filter(col("dist") >= 0)
          .select(col("new_id"), col("corpus_id"), col("dist"))
        sink(hits, batchId)
    }
  }

  /** Paired folding indexes for the edit modality: the deletion-key
    * relation plus the (id, str) text relation candidates verify
    * against — both fold in lockstep per batch (one batchId governs
    * both, so redelivery skips both or neither).
    */
  final case class FoldingEdIndex(keys: FoldingIndex,
                                  texts: FoldingIndex)

  /** STRING-FREE folding key rows: [[deletionKeys]] projected to
    * (_key, _id) — the winnow fps/texts split applied to the edit
    * modality (VERDICT r17 Next #1). The r17 keys tier folded FULL
    * deletionKeys output, so every ≤k-deletion variant row carried the
    * document head VERBATIM: a ~(len+1)× replicated copy of every text
    * materialized into the batch checkpoint at probe time, written
    * again as the delta parquet, and — the per-batch term — re-read
    * from block-store tiers on EVERY later batch's candidate join
    * (checkpointed rows are stored whole; only a COLUMNAR cache could
    * prune `_str` at scan, which is why the pinned probe never paid
    * this). The candidate join itself only ever needed (_key, _id);
    * texts for the few verified candidates live in the `texts` tier.
    * The k stamp rides `_key`'s metadata through the projection, so
    * [[editIngestStream]]'s gate still holds.
    */
  private def foldingKeyRows(strs: DataFrame, idCol: String,
      strCol: String, k: Int): DataFrame =
    deletionKeys(strs, idCol, strCol, k).select(col("_key"), col("_id"))

  /** The [[FoldingEdIndex]] tiers, declared once: keys = string-free
    * [[foldingKeyRows]] `_key`-bucketed (the probe join's
    * partitioning), texts = the (id, str) relation `_id`-bucketed.
    */
  private def edTiers(idCol: String, strCol: String, k: Int,
      open: FoldingIndex.Open): FoldingEdIndex = {
    val Seq(keys, texts) = open(Seq(
      "keys" -> FoldingIndex.Tier(s"edjoin-keys-k$k",
        Seq("_key"), df => foldingKeyRows(df, idCol, strCol, k)),
      "texts" -> FoldingIndex.Tier("edjoin-texts",
        Seq("_id"),
        df => df.select(col(idCol).as("_id"), col(strCol).as("_str")))))
    FoldingEdIndex(keys, texts)
  }

  def foldingEdIndex(corpus: DataFrame, idCol: String, strCol: String,
      k: Int, numPartitions: Int, compactEvery: Int = 16,
      durablePath: Option[String] = None): FoldingEdIndex =
    edTiers(idCol, strCol, k, FoldingIndex.creating(
      corpus, numPartitions, compactEvery, durablePath))

  /** Resume a durable [[FoldingEdIndex]] in a fresh session (both
    * tiers; the k stamp rides the parquet footer, so
    * [[editIngestStream]]'s gate passes on the recovered index —
    * `FoldingRestartSpec` pins it).
    */
  def recoverEdIndex(spark: org.apache.spark.sql.SparkSession,
      durablePath: String, idCol: String, strCol: String, k: Int,
      numPartitions: Int, compactEvery: Int = 16,
      resetWatermark: Boolean = false): FoldingEdIndex =
    edTiers(idCol, strCol, k, FoldingIndex.recovering(
      spark, durablePath, numPartitions, compactEvery, resetWatermark))

  /** [[editProbeStream]] with INCREMENTAL INDEX MAINTENANCE (VERDICT
    * r14 Next #1, character-edit modality): each micro-batch's
    * deletion-variant KEYS are built once (string-free — they feed
    * the probe AND the key fold), probed against the CURRENT folding
    * key index, hits emitted, and the accepted (no-hit) arrivals'
    * keys and texts folded in for the next batches.
    *
    * Differences from the pinned-index probe, all deliberate: the
    * corpus TEXT relation is the folding text index (corpus-scaled, so
    * the candidate join hash-builds on the CANDIDATE side rather than
    * broadcasting), and the driver-side length-profile prefilters are
    * dropped — they are a pinned-corpus optimization whose profile
    * would go stale under fold-in; correctness never depended on them
    * (they only pruned probes that could match nothing).
    *
    * r18 plan shape (the winnow string-free discipline): the variant
    * join carries NO text on either side — candidate (new_id,
    * corpus_id) pairs dedup BEFORE any text is fetched (a pair meets
    * on up to k+1 shared variants; r17 deduped rows still carrying
    * new_str), the batch texts join back from a lazy column-pruned
    * source re-read, and corpus texts stream from the text tiers
    * against a candidate-side hash build. The r17 shape instead
    * checkpointed FULL deletionKeys output per batch — the (len+1)×
    * variant fan-out with the head string aboard on every row — and
    * folded that as the keys delta, so the text payload was
    * materialized ~(len+1)× per batch and re-deserialized from every
    * key tier on all later batches. The source is read twice per batch
    * (variant keys + text fetch/fold): [[IngestLoop]]'s source contract.
    */
  def editIngestStream(stream: DataFrame, idCol: String, strCol: String,
      index: FoldingEdIndex, k: Int, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    KStamp.require(index.keys.current, k)
    IngestLoop.report(stream, checkpoint, sink) { batch =>
      // STRING-FREE batch keys (r18, the dominant r17 term): the
      // (len+1)-variant fan-out materializes as 16-byte (_key, _id)
      // rows — never carrying the head text it used to replicate
      // onto every variant row. Probe and key fold share the pin.
      val batchKeys = foldingKeyRows(
        batch.select(col(idCol), col(strCol)), idCol, strCol, k)
        .localCheckpoint(true)
      val probes = batchKeys.select(col("_key"),
        col("_id").as("new_id"))
      // PER-TIER probing (FoldingIndex.currentTiers): a string's
      // variants live in exactly one tier, so the unioned candidate
      // set is the union relation's. Pair-dedup runs HERE, before any
      // text is fetched — a true pair meets on up to k+1 variants.
      val candPlan = index.keys.currentTiers.map { t =>
        t.select(col("_key"), col("_id").as("corpus_id"))
          .join(probes.hint("shuffle_hash"), Seq("_key"))
          .filter(col("new_id") =!= col("corpus_id"))
          .select(col("new_id"), col("corpus_id"))
      }.reduce(_ unionByName _)
        .distinct()
      // batch texts join back from the lazy source re-read
      // (column-pruned, page-cached — the r17 source-lazy
      // discipline); both sides are micro-batch-scale
      val withNewPlan = candPlan.join(
        batch.select(col(idCol).as("new_id"),
          col(strCol).as("new_str")).hint("shuffle_hash"),
        Seq("new_id"))
      val textTiers = index.texts.currentTiers
      val withNew = IngestLoop.pinForTiers(withNewPlan, textTiers)
      // candidates hash-build; each folded text tier streams through
      // its own partitioning (a corpus id's text lives in one tier,
      // so the per-tier inner joins partition the hit set)
      val hits = textTiers.map { t =>
        t.select(col("_id").as("corpus_id"), col("_str").as("corpus_str"))
          .join(withNew.hint("shuffle_hash"), Seq("corpus_id"))
      }.reduce(_ unionByName _)
        .withColumn("dist",
          levenshtein(col("new_str"), col("corpus_str"), k))
        .filter(col("dist") >= 0)
        .select(col("new_id"), col("corpus_id"), col("dist"))
        // pair-dedup AGAIN, post-verification: a re-delivered
        // accepted id (self-matches are id-filtered, so the copy
        // re-folds) puts its text in two tiers, and the per-tier
        // text joins would emit the pair once per tier; dist is
        // deterministic, so distinct collapses the copies
        .distinct()
      val batchTexts =
        batch.select(col(idCol).as("_id"), col(strCol).as("_str"))
      // fold tail (r16 Next #2): with no hit the pinned batchKeys IS
      // the accepted key set (no second materialization of the
      // variant fan-out); otherwise each accepted delta materializes
      // once (lazy accept deltas: see the minhash fold tail)
      IngestLoop.Probed(hits, {
        case (batchId, None) =>
          index.keys.foldInPinned(batchId, batchKeys)
          index.texts.foldInRows(batchId, batchTexts)
        case (batchId, Some(hitIds)) =>
          index.keys.foldInRows(batchId,
            IngestLoop.unhit(batchKeys, "_id", hitIds))
          index.texts.foldInRows(batchId,
            IngestLoop.unhit(batchTexts, "_id", hitIds))
      })
    }
  }
}
