package graft.queries

import graft.QueryPack
import graft.functions.{SamplingFunctions, TextFunctions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators round 2: deterministic sampling / dataset
  * splitting, sequence packing, and repetition-based quality signals —
  * the steps between "deduped corpus" and "training batches".
  *
  * All five are oracle-checked: sampling is content-hash-bucketed (the
  * cross-engine mod-prime fold, see d12), packing is a prefix-sum over
  * a per-shard window, and the repetition signal is an exact bigram
  * mode. No RNG anywhere — a re-run on a different cluster layout
  * produces byte-identical splits, which is the property a training
  * pipeline actually needs from its sampler.
  */
object TrainingOps2 extends QueryPack {

  /** DuckDB replica of [[TextFunctions.rollingHashMod]] (see d12). */
  private val foldSql =
    """list_reduce([0::BIGINT] ||
         list_transform(range(length(text)),
           i -> unicode(substring(text, CAST(i+1 AS INT), 1))),
         (a, b) -> (a * 31 + b) % 1000000007)"""

  override def queries: Map[String, QueryFn] = Map(

    "m01_media_features" -> { (s, dir) =>
      // multimodal plumbing on the query surface, BOTH decode branches:
      // every 50th doc carries a REAL PNG/BMP/WAV blob (ImageIO /
      // javax.sound encoded on the executor, dims/durations derived
      // from the doc id — Multimodal.syntheticMedia), the rest are
      // text bytes under an image extension that exercise the
      // documented undecodable→stub fallback. The real branch is
      // eagerly localCheckpoint-ed: meta AND features both read the
      // union, and the fixture ENCODE (absent in production, where
      // blobs are read, not made) would otherwise run once per branch.
      // The checkpointed frame is FrameCache-pinned per (session, dir)
      // like the ANN index artifacts, so repeated invocations in one
      // JVM reuse one encoded fixture instead of re-encoding + writing
      // checkpoint blocks every run (the r8 bench-determinism outlier).
      // Pipeline shape per partition: batch decode → typed metadata,
      // batch featurize → fingerprint, wide content dropped before the
      // join/output so only small rows shuffle. Rows-only:
      // fingerprints are wrapping 64-bit PolyHash; MultimodalCodecSpec
      // asserts the real branch's decoded dimensions on this output.
      val docs = t(s, dir, "documents")
      val real = graft.FrameCache.cached(s, s"media:$dir",
        persist = false)(
        graft.multimodal.Multimodal.syntheticMedia(
          docs.filter(col("doc_id") % 50 === 0), "doc_id")
          .localCheckpoint(true))
      val fallback = docs.filter(col("doc_id") % 50 =!= 0).select(
        concat(col("doc_id").cast("string"), lit(".jpg")).as("path"),
        col("text").cast("binary").as("content"))
      val binary = real.unionByName(fallback)
      val meta = graft.multimodal.Multimodal.extractMeta(binary).toDF()
        .select(col("path"), col("kind"), col("numBytes").as("num_bytes"),
          col("width"), col("height"), col("channels"),
          col("durationMs").as("duration_ms"))
      val feats = graft.multimodal.Multimodal.extractFeatures(binary, 16)
        .toDF()
        .select(col("path"), col("fingerprint"),
          round(element_at(col("histogram"), 1), 6).as("hist_bin1"))
      meta.join(feats, Seq("path"))
    },

    "d14_hash_sample" -> { (s, dir) =>
      // deterministic 10% Bernoulli sample: membership is a pure
      // function of content — stable across runs, partitionings, and
      // engines (no rand()); a map-side filter, so at 100 TB it
      // prunes at the scan with zero shuffle
      val bucket = SamplingFunctions.hashBucket(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), bucket.cast("int").as("bucket"))
        .filter(col("bucket") < 10)
    },

    "d15_split_assign" -> { (s, dir) =>
      // reproducible 80/10/10 train/val/test assignment by content
      // bucket — the leak-free split: near-identical runs agree, and
      // a document can never migrate between splits
      val bucket = SamplingFunctions.hashBucket(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        bucket.cast("int").as("bucket"),
        SamplingFunctions.splitLabel(bucket).as("split"))
    },

    "d16_stratified_sample" -> { (s, dir) =>
      // stratified (re-balancing) sample: down-sample the dominant
      // language to 20%, keep the rest at 60% — per-stratum rate as a
      // CASE over the same content bucket, still one map-side pass
      val bucket = SamplingFunctions.hashBucket(col("text"))
      val rate = when(col("lang") === "en", lit(20)).otherwise(lit(60))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          bucket.cast("int").as("bucket"), rate.as("rate"))
        .filter(col("bucket") < col("rate"))
        .select(col("doc_id"), col("lang"), col("bucket"))
    },

    "d19_mixture_weights" -> { (s, dir) =>
      // data-derived mixture re-balancing: target a UNIFORM mix across
      // languages by computing each stratum's sampling rate FROM the
      // observed counts (rate = total/n_strata/count, capped at 100%),
      // then hash-sampling at that rate — the curriculum/mixing step
      // after quality filtering. Rates are a 5-row aggregate (broadcast
      // back); the keep-decision stays a map-side bucket compare.
      val docs = t(s, dir, "documents")
      val withB = docs.select(col("doc_id"), col("lang"),
        SamplingFunctions.hashBucket(col("text")).cast("int").as("bucket"))
      // grand totals as a broadcast 1-row aggregate cross-joined back —
      // same 5-row math as a whole-frame window, but no `WindowExec: No
      // Partition Defined` path at all (keeps the bench tail clean)
      val perLang = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"))
      val grand = perLang.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_strata"))
      val rates = perLang.crossJoin(broadcast(grand))
        .select(col("lang"),
          least(lit(100L), expr("(total * 100) div (n_strata * cnt)"))
            .cast("int").as("rate_pct"))
      withB.join(broadcast(rates), Seq("lang"))
        .filter(col("bucket") < col("rate_pct"))
        .select(col("doc_id"), col("lang"), col("bucket"),
          col("rate_pct"))
    },

    "d28_bpe_token_count" -> { (s, dir) =>
      // subword-budget estimation with a GPT-2-style pretokenizer
      // regex (contraction suffixes, space-prefixed letter/digit runs,
      // punctuation runs — no lookarounds, so Java regex and RE2 agree
      // leftmost-first): n_bpe ≈ what a BPE tokenizer would see before
      // merges, and fertility (= bpe/whitespace tokens) is the
      // standard signal for over-segmented (code, non-Latin, noisy)
      // text. Map-side only — two regexp passes per row, zero shuffle
      val pat = """'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"""
      val bpe = size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      val ws = TextFunctions.tokenCount(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        bpe.as("n_bpe"),
        ws.as("n_ws"),
        when(ws > 0, bpe.cast("double") / ws.cast("double"))
          .otherwise(lit(0.0)).as("fertility"))
    },

    "d25_dup_ngram_frac" -> { (s, dir) =>
      // Gopher-style repetition filter signal: the fraction of a doc's
      // word 5-grams that are duplicates of an earlier one (high →
      // looping/template spam). PURE MAP-SIDE — size/array_distinct
      // per row, zero shuffle, so at 100 TB this is a free rider on
      // whatever scan computes it; the division is two exact ints in
      // IEEE double, bit-identical on any engine
      // tokens AND shingles staged into attributes (shinglesOf note):
      // the raw form evaluated the 5-gram fold 3× per row, each with
      // ~9 embedded re-tokenizations — interpreted HOF trees get no
      // subexpression elimination
      val staged = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          TextFunctions.shinglesOf(col("ts"), 5).as("sh"))
      val total = size(col("sh"))
      val dups = total - size(array_distinct(col("sh")))
      staged.select(
        col("doc_id"),
        total.as("n_shingles"),
        dups.as("n_dup"),
        when(total > 0, dups.cast("double") / total.cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
    },

    "d26_rarest_token" -> { (s, dir) =>
      // per-doc keyword extraction by corpus rarity: each doc's token
      // with the smallest document frequency (ties → lexicographically
      // smallest). Integers + strings only — no idf logarithm whose
      // rounding could diverge between engines. Two partial-aggregated
      // shuffles (distinct doc-token pairs, then token DF) and a
      // token-keyed 1:1 join (each pair matches exactly one DF row, so
      // a hot token inflates no output); the final argmin is a window
      // partitioned by doc — never a global sort
      val docs = t(s, dir, "documents")
      val tk = docs.select(col("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col("text"))))
          .as("tok"))
      val dfreq = tk.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("tok"))
      tk.join(dfreq, Seq("tok"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("tok").as("rare_token"),
          col("df").cast("int").as("rare_df"))
    },

    "d27_source_cap_sample" -> { (s, dir) =>
      // crawl balancing: keep at most 40 docs per source, chosen by
      // content-hash order (deterministic across runs/engines — see
      // d12's fold). TWO-PASS cap (the w02 discipline): pass 1 ranks
      // within (source, hash-bucket) and keeps ≤cap per bucket, so
      // pass 2's per-source window ranks at most 32·cap candidate rows
      // per source instead of sorting a whole hot source's documents
      // in one partition
      val cap = 40
      val fp = TextFunctions.rollingHashMod(col("text"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), fp.as("fp"))
      val w1 = Window.partitionBy(col("source"), pmod(col("fp"), lit(32)))
        .orderBy(col("fp"), col("doc_id"))
      val w2 = Window.partitionBy(col("source"))
        .orderBy(col("fp"), col("doc_id"))
      docs.withColumn("rn1", row_number().over(w1))
        .filter(col("rn1") <= cap)
        .withColumn("rn", row_number().over(w2))
        .filter(col("rn") <= cap)
        .select(col("doc_id"), col("source"), col("rn").cast("int")
          .as("keep_rank"))
    },

    "d17_seq_packing" -> { (s, dir) =>
      // sequence packing (concat-and-chunk): documents are concatenated
      // in deterministic order WITHIN EACH SOURCE SHARD and cut into
      // 512-token context windows; each doc reports the window its
      // first token lands in. Partitioning by shard keeps the prefix
      // sum parallel (packing is sequential only inside a shard — the
      // layout a 100 TB corpus already has), avoiding the global
      // single-partition ORDER BY a naive formulation would need.
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .withColumn("end_off", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (col("end_off") - col("n_tokens")).cast("long").as("start_off"),
          floor((col("end_off") - col("n_tokens")) / lit(512))
            .cast("int").as("pack_id"))
    },

    "d23_substring_leak" -> { (s, dir) =>
      // EXACT-containment decontamination (complements d20's near-dup
      // pass): an eval/test document appearing verbatim INSIDE a train
      // document. Seed-and-extend: word-aligned containment implies the
      // eval doc's FIRST 8-gram occurs among the train doc's 8-grams,
      // so candidates come from an index join (shuffles (8-gram, id)
      // pairs — never all-pairs), then verify with one contains() on
      // space-padded text. The index prune is exact on single-space-
      // normalized text (this corpus; normalize first otherwise) —
      // contains() keeps verification exact regardless. Exact-EQUAL
      // docs can't cross a content-hash split (SamplingSpec), so every
      // hit here is a PROPER substring leak.
      val labeled = t(s, dir, "documents").select(col("doc_id"),
        col("text"),
        SamplingFunctions.splitLabel(
          SamplingFunctions.hashBucket(col("text"))).as("split"))
      // the index join shuffles (8-gram, id) PAIRS ONLY — document
      // bodies never ride the shingle explosion; index keys are
      // xxhash64(8-gram) — 8 bytes shuffle instead of a ~60-byte
      // string, and a collision can only ADD a candidate the
      // contains() verification removes. The HOT-KEY BOUND (VERDICT r5
      // #2) lives in Decontam.probe: each eval doc probes its
      // minimum-document-frequency gram (equally exact — containment
      // implies every eval gram occurs in the train doc), so fan-out
      // is bounded by the rarest posting list and df=0 grams drop the
      // doc before the join. The index is FrameCache-pinned per
      // (session, dir): the DF pass and the candidate join both read
      // it, and the streaming probe (DecontamStreamSpec) reuses it
      // across micro-batches.
      val index = graft.operators.Decontam.buildIndex(
        labeled.filter(col("split") === "train"), "doc_id", "text",
        cacheKey = Some(s"d23idx:$dir"))
      graft.operators.Decontam.probe(index,
        labeled.filter(col("split") =!= "train"), "doc_id", "text")
    },

    "d22_boilerplate_ngrams" -> { (s, dir) =>
      // boilerplate mining (the CCNet/RefinedWeb-style repeated-segment
      // signal): word 5-grams ranked by DOCUMENT frequency — segments
      // shared verbatim across many documents are navigation chrome /
      // license text / template junk, and this list is what a removal
      // pass blacklists. Shuffles (doc_id, shingle) pairs only
      // (distinct per doc map-side); deterministic top-20 tie-broken
      // lexicographically.
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          explode(array_distinct(
            TextFunctions.shinglesOf(col("ts"), 5))).as("shingle"))
      sh.groupBy(col("shingle"))
        .agg(count(lit(1)).as("doc_freq"))
        .filter(col("doc_freq") >= 3)
        .orderBy(col("doc_freq").desc, col("shingle"))
        .limit(20)
        .select(col("shingle"), col("doc_freq"))
    },

    "d18_top_bigram" -> { (s, dir) =>
      // Gopher-style repetition signal: the fraction of bigrams claimed
      // by the single most frequent bigram (high → boilerplate/spam).
      // Shuffles only (doc_id, bigram) pairs — never document bodies —
      // with map-side partial counts; ties broken to the
      // lexicographically smallest bigram so the answer is unique.
      val docs = t(s, dir, "documents")
      val bg = docs
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          explode(TextFunctions.shinglesOf(col("ts"), 2)).as("bg"))
      val counts = bg.groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("n"))
      // argmax with min-bigram tie-break as ONE aggregation:
      // min(struct(-n, bg)) orders by n desc then bg asc — no second
      // pass over counts, no counts⋈max self-join (two shuffles total,
      // both with map-side partial aggregation)
      counts.groupBy(col("doc_id"))
        .agg(min(struct((-col("n")).as("neg_n"), col("bg"))).as("top"),
          sum(col("n")).as("n_bigrams"))
        .select(col("doc_id"), col("top.bg").as("top_bigram"),
          (-col("top.neg_n")).cast("int").as("top_n"),
          col("n_bigrams").cast("int").as("n_bigrams"),
          ((-col("top.neg_n")).cast("double") /
            col("n_bigrams").cast("double")).as("top_frac"))
    },

    "d29_source_vocab_overlap" -> { (s, dir) =>
      // Cross-source contamination map: pairwise Jaccard overlap of
      // the sources' word-bigram vocabularies — the "is src_a just a
      // re-crawl of src_b" signal a mixture designer reads before
      // weighting. The per-source vocabulary is distinct
      // (source, shingle): bounded by #sources × vocab, never corpus
      // size, and pinned once (three readers — sizes + both join
      // sides — would otherwise re-run the corpus scan each). The
      // self-join key is the shingle, so fan-out per shingle is at
      // most #sources per side (#sources² pairs worst case, not d²);
      // the #sources-row size frame broadcasts.
      val docs = t(s, dir, "documents")
      val vocab = docs
        .select(col("source"), TextFunctions.tokens(col("text")).as("ts"))
        .select(col("source"),
          explode(TextFunctions.shinglesOf(col("ts"), 2)).as("sh"))
        .distinct()
        .localCheckpoint(true)
      val sizes = vocab.groupBy(col("source"))
        .agg(count(lit(1)).as("nv"))
      val ix = vocab.select(col("source").as("src_a"), col("sh"))
        .join(vocab.select(col("source").as("src_b"), col("sh")),
          Seq("sh"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_common"))
      ix.join(broadcast(sizes.select(col("source").as("src_a"),
          col("nv").as("nv_a"))), Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("nv").as("nv_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"),
          col("n_common").cast("int").as("n_common"),
          (col("n_common").cast("double") /
            (col("nv_a") + col("nv_b") - col("n_common"))
              .cast("double")).as("jaccard"))
    },

    "d30_token_freq_spectrum" -> { (s, dir) =>
      // Good-Turing input: the corpus frequency spectrum — how many
      // distinct tokens occur exactly f times (the N_f counts LM
      // smoothing and vocab-size planning read). Two aggregation
      // passes, both with map-side partials; the shuffles carry
      // (token) then (freq) — never document bodies — and the output
      // is at most |distinct frequencies| rows.
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .groupBy(col("freq"))
        .agg(count(lit(1)).cast("int").as("n_tokens"))
        .select(col("freq").cast("long").as("freq"), col("n_tokens"))
    },

    "s13_label_centroid_stats" -> { (s, dir) =>
      // Per-class embedding diagnostics — the drift/collapse readout
      // an embedding pipeline monitors per ingest batch: class size,
      // centroid L2 norm (≈0 for a well-spread class, ≈mean_norm for
      // a collapsed one), and mean vector norm. Per-vector norms use
      // the deterministic left-to-right HOF fold (the s01 technique);
      // the only cross-row float sums are the per-(label,dim) means
      // and the 64-term norm folds, rounded to 6 on both sides. Shape:
      // one posexplode → (label, dim) partial+final aggregate — dims
      // shuffle as scalars, never whole vectors.
      val emb = t(s, dir, "embeddings")
      val sq = aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
      val norms = emb.groupBy(col("label"))
        .agg(count(lit(1)).cast("int").as("n"),
          round(avg(sqrt(sq)), 6).as("mean_norm"))
      val cent = emb.select(col("label"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(avg(col("v").cast("double")).as("m"))
        .groupBy(col("label"))
        .agg(round(sqrt(sum(col("m") * col("m"))), 6)
          .as("centroid_norm"))
      norms.join(cent, Seq("label"))
        .select(col("label"), col("n"), col("centroid_norm"),
          col("mean_norm"))
    },

    "d35_bigram_lm_score" -> { (s, dir) =>
      // Interpolated bigram LM scoring (Jelinek–Mercer, λ=0.5): the
      // production shape of the d34 perplexity filter — conditional
      // bigram ML estimate interpolated with the add-one unigram.
      // Both count tables fit on the d15 TRAIN split; validation
      // bigrams take three left equi-joins (bigram, w1, w2 — all
      // vocabulary-sized, shuffled not broadcast) plus the one-row
      // totals broadcast. λ=0.5 is a power of two, so the interpolated
      // probability is bit-identical cross-engine before the rounded
      // avg(ln).
      val docs = t(s, dir, "documents")
      val bucket = TextFunctions.rollingHashMod(col("text")) % 100
      val base = docs.select(col("doc_id"), bucket.as("bkt"),
        col("text"))
      val uni = base.filter(col("bkt") < 80)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
        .localCheckpoint(true)
      val bi = base.filter(col("bkt") < 80)
        .select(TextFunctions.tokens(col("text")).as("ts"))
        .select(explode(TextFunctions.shinglesOf(col("ts"), 2))
          .as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      val totals = broadcast(uni.agg(
        sum(col("c1")).as("n"), count(lit(1)).as("v")))
      val valBg = base
        .filter(col("bkt") >= 80 && col("bkt") < 90)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          explode(TextFunctions.shinglesOf(col("ts"), 2)).as("bg"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
      val pml = coalesce(
        col("c2").cast("double") / col("w1c").cast("double"), lit(0.0))
      val puni = (coalesce(col("w2c"), lit(0L)).cast("double") + 1.0) /
        (col("n") + col("v")).cast("double")
      valBg
        .join(bi, Seq("bg"), "left")
        .join(uni.select(col("tok").as("w1"), col("c1").as("w1c")),
          Seq("w1"), "left")
        .join(uni.select(col("tok").as("w2"), col("c1").as("w2c")),
          Seq("w2"), "left")
        .crossJoin(totals)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_bigrams"),
          round(-avg(log(lit(0.5) * pml + lit(0.5) * puni)), 6)
            .as("nll"))
    },

    "d34_lm_score" -> { (s, dir) =>
      // CCNet-style LM quality scoring through operators/LmScore (one
      // implementation, shared with the streaming quality gate): a
      // unigram LM fit on the TRAIN side of the d15 content-hash
      // split (no leakage by construction) scores VALIDATION docs by
      // add-one-smoothed mean negative log-likelihood — the standard
      // perplexity-filter signal. See LmScore for the scale shape.
      val docs = t(s, dir, "documents")
      val bucket = TextFunctions.rollingHashMod(col("text")) % 100
      val keyed = docs.select(col("doc_id"), bucket.as("bkt"),
        col("text"))
      val model = graft.operators.LmScore.fitUnigram(
        keyed.filter(col("bkt") < 80), "text")
      graft.operators.LmScore.score(model,
        keyed.filter(col("bkt") >= 80 && col("bkt") < 90),
        "doc_id", "text")
    },

    "d33_weighted_sample" -> { (s, dir) =>
      // Deterministic weighted sampling WITHOUT replacement
      // (Efraimidis–Spirakis A-ES): key = u^(1/w), u derived from the
      // cross-engine content-hash fold — no RNG, so a re-run on any
      // cluster layout draws the SAME length-weighted sample (the d14
      // discipline, weighted). Global top-k by key is a distributed
      // TakeOrdered (map-side heaps), never a full sort. The float key
      // never appears in the output, but the top-100 CUT is ordered by
      // pow(u, 1/w): JVM Math.pow and another engine's libm may differ
      // by an ulp, so cross-engine membership at the boundary is only
      // safe when near-equal keys come from identical (u, w) pairs —
      // then both engines compute the same double and the doc_id
      // tiebreak decides identically. Distinct (u, w) pairs land keys
      // far apart relative to an ulp in practice, which is what the
      // oracle hash-match actually rests on.
      val u = (TextFunctions.rollingHashMod(col("text")) % 1000003L
        + 1L).cast("double") / 1000004.0
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          pow(u, lit(1.0) / col("n_chars").cast("double")).as("k"))
        .orderBy(desc("k"), col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
    },

    "d32_token_entropy" -> { (s, dir) =>
      // Within-doc token entropy (nats): the repetitive-spam signal —
      // low entropy means a few tokens dominate the doc. Computed as
      // ln(N) − (Σ n·ln n)/N so the counts pass needs no per-row
      // division and ONE aggregation pair suffices: (doc, token)
      // counts, then a per-doc fold. Shuffles carry token pairs,
      // never bodies; ln is libm-backed so both sides round to 6
      // (a07 discipline).
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("nt"),
          count(lit(1)).as("nd"),
          sum(col("n").cast("double") * log(col("n").cast("double")))
            .as("nlogn"))
        .select(col("doc_id"), col("nd").cast("int").as("n_distinct"),
          round(log(col("nt").cast("double")) -
            col("nlogn") / col("nt").cast("double"), 6).as("entropy"))
    },

    "d31_mixture_entropy" -> { (s, dir) =>
      // Mixture diversity per language: Shannon entropy (nats) of the
      // source distribution — the "is this lang's data all one crawl"
      // gate. One corpus aggregation down to #lang × #source rows,
      // pinned once (totals + entropy both read it; unpinned, the
      // corpus scan would run twice); the per-lang totals frame
      // broadcasts back. Ratios are exact long counts cast to double,
      // ln is libm-backed so both sides round to 6 (a07 discipline).
      val counts = t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val totals = broadcast(
        counts.groupBy(col("lang")).agg(sum(col("n")).as("tot")))
      val p = col("n").cast("double") / col("tot").cast("double")
      counts.join(totals, Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("int").as("n_sources"),
          round(-sum(p * log(p)), 6).as("entropy"))
    },

    "d36_decontam_exact_pairs" -> { (s, dir) =>
      // EXACT ANCHOR for the decontamination path (the d24 treatment
      // applied to train/eval): every (eval, train) doc pair with exact
      // word-3-gram Jaccard ≥ ½ across the d15 content-hash split.
      // d20's shared-minhash miner stays the at-scale LSH read path;
      // this row proves the bipartite PPJoin machinery
      // ([[graft.operators.PpJoin.jaccardEdgesBipartite]]) against a
      // DuckDB oracle — candidates are prefix-bounded under a shared
      // union-corpus token order, so a hot boilerplate shingle never
      // fans out across the eval×train product, and the threshold is
      // the integer form 3·|A∩B| ≥ |A|+|B| (⟺ J ≥ ½, no float division
      // to diverge between engines). Shingles reuse d24's pinned
      // (session, dir) frame — the explosion runs once for both
      // anchors.
      val docs = t(s, dir, "documents")
      val sh = graft.FrameCache.cached(s, s"d24sh:$dir")(
        docs.select(col("doc_id"),
            explode(array_distinct(graft.functions.WordShingles
              .wordShingles(col("text"), 3))).as("g")))
      val split = docs.select(col("doc_id"),
        (SamplingFunctions.hashBucket(col("text")) < 80).as("is_train"))
      val tagged = sh.join(split, Seq("doc_id"))
      // single-frame bipartite face (r20): the two sides are a split of
      // ONE tagged frame, and the two-frame face's internal Union made
      // every full-frame pass (DF-order count, injectivity audit,
      // candidate text fetch) execute the shingle-cache scan + split
      // join TWICE — one union child per side. The tagged face pays
      // each once; pairs and hashes are identical (PpJoinSpec pins
      // tagged ≡ two-frame on real corpora).
      graft.operators.PpJoin.jaccardEdgesBipartiteTagged(
          tagged, "doc_id", "g", "is_train")
        .select(col("id_a").as("id_eval"), col("id_b").as("id_train"))
    },

    "d37_cross_doc_dup_frac" -> { (s, dir) =>
      // Cross-DOCUMENT duplication signal (the corpus-level complement
      // of d25's within-doc repetition, in the spirit of Lee et al.
      // 2022's dedup-the-training-data study): per doc, the fraction
      // of its DISTINCT word 8-grams that also occur in at least one
      // OTHER document — high means mirrored/boilerplate text a dedup
      // or removal pass should target. Per-doc totals are computed
      // MAP-SIDE on the scan (size of the distinct-shingle array, no
      // shuffle); only the (doc_id, shingle) pairs shuffle, the
      // document-frequency counts partial-aggregate map-side, and the
      // dup count is a shingle-keyed semi-join against the df≥2 keys —
      // the same cost class as d22's boilerplate miner, never
      // all-pairs. distinct-per-doc makes df≥2 ⟺ "in ≥1 other doc".
      // The division is two exact ints in IEEE double (d25 argument).
      val withSh = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          array_distinct(
            TextFunctions.shinglesOf(col("ts"), 8)).as("sh"))
      val tot = withSh.select(col("doc_id"), size(col("sh")).as("n_grams"))
      // df computed INLINE with a window over the shingle partition:
      // pairs are distinct per doc, so the partition row count IS the
      // document frequency — ONE wide shuffle of the (doc, shingle)
      // pairs, where the agg + semi-join form shuffled them twice and
      // re-executed the explosion per subtree occurrence (the
      // count()-era bench hid this: 7.8 s at sf0.1 under the noop
      // harness; ~4.8 s either checkpointed or this form). Equal
      // locally, the window form wins at scale: no full pair-set
      // materialization pinned in executor storage (the d24 storage-
      // thrash hazard), just a sort within the one shuffle.
      val byShingle = Window.partitionBy(col("shingle"))
      val dup = withSh.select(col("doc_id"),
          explode(col("sh")).as("shingle"))
        .withColumn("df", count(lit(1)).over(byShingle))
        .filter(col("df") >= 2)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
      tot.join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_dup"), lit(0L)).cast("int").as("n_dup"),
          when(col("n_grams") > 0,
            coalesce(col("n_dup"), lit(0L)).cast("double") /
              col("n_grams").cast("double"))
            .otherwise(lit(0.0)).as("dup_frac"))
    },

    "d38_exact_span_residual" -> { (s, dir) =>
      // The TRANSFORM behind d37's diagnostic — ExactSubstr-style span
      // removal (Lee et al. 2022, "Deduplicating Training Data Makes
      // Language Models Better"): a token position is removed when it
      // is covered by any word-8-gram occurrence whose gram appears in
      // ≥2 DISTINCT documents; per doc, emit tokens before / covered /
      // remaining. Overlapping spans are unioned positionally, not
      // summed: occurrences at positions p cover [p, p+7], and since
      // all intervals share length 8 the union is gaps-and-islands on
      // sorted starts (new island ⟺ pos > prev pos + 7) — a per-doc
      // window, never a per-doc UDF or collect. Scale shape: per-doc
      // totals ride the scan; (doc, gram, pos) occurrences shuffle
      // once for the df semi-join (hot boilerplate grams are AQE skew
      // splits, fan-out stays linear in corpus positions); the island
      // windows partition by doc_id. All-int output (+1 exact-int
      // division), so the oracle hash cannot drift.
      val spanW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val docs = t(s, dir, "documents")
      val tot = docs.select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).as("n_tokens"))
      // cross-doc document frequency computed INLINE on the positional
      // occurrences: dense_rank over (gram, doc_id) then its partition
      // max = distinct docs per gram, both windows sharing ONE sort —
      // so the explosion runs once and nothing corpus-sized is pinned
      // or semi-joined (the count()-era bench hid the recompute:
      // 3.5 s → 2.3 s at sf0.1 under the noop harness; same d37
      // at-scale argument, one sorted shuffle instead of agg + join)
      val occ = docs
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          posexplode(TextFunctions.shinglesOf(col("ts"), 8)))
        .select(col("doc_id"), col("pos"), col("col").as("g"))
      val byGram = Window.partitionBy(col("g")).orderBy(col("doc_id"))
      val byGramAll = Window.partitionBy(col("g"))
      val islands = occ
        .withColumn("dr", dense_rank().over(byGram))
        .withColumn("ndocs", max(col("dr")).over(byGramAll))
        .filter(col("ndocs") >= 2)
        .select(col("doc_id"), col("pos"))
        .withColumn("new_island",
          when(col("pos") >
            coalesce(lag(col("pos"), 1).over(spanW), lit(-100L)) + 7, 1)
            .otherwise(0))
        .withColumn("island", sum(col("new_island")).over(spanW))
        .groupBy(col("doc_id"), col("island"))
        .agg((max(col("pos")) - min(col("pos")) + 8).as("len"))
        .groupBy(col("doc_id")).agg(sum(col("len")).as("covered"))
      tot.join(islands, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("covered"), lit(0L)).cast("int").as("covered"),
          (col("n_tokens") -
            coalesce(col("covered"), lit(0L)).cast("int")).as("residual"))
    },

    "s15_bm25_scores" -> { (s, dir) =>
      // BM25 lexical relevance (Okapi, k1=1.2, b=0.75) for a fixed
      // deterministic query — the retrieval scorer curation pipelines
      // use for decontam-by-retrieval and targeted quality mining; the
      // lexical sibling of the embedding search family (s01-s12).
      // Scale shape: the exploded token stream feeds a codegen'd isin
      // filter, so only (doc, query-term) matches reach the tf
      // shuffle; document frequencies and the corpus length stats are
      // two tiny broadcast aggregates; scoring is then map-side
      // arithmetic. Constants appear as the same literals on both
      // engines (2.2, 1.2, 0.25, 0.75 — not re-derived from k1/b, so
      // both sides fold to identical doubles); ln/division are
      // libm-backed, so the final sum rounds to 6 (a07 discipline).
      val terms = Seq("spark", "sort", "window")
      val docs = t(s, dir, "documents")
      val dl = docs.select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).as("dl"))
      val stats = broadcast(dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("tot_dl")))
      val tf = docs.select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val df = broadcast(tf.groupBy(col("tok"))
        .agg(count(lit(1)).as("df")))
      val avgdl =
        col("tot_dl").cast("double") / col("n_docs").cast("double")
      val idf = log(
        (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0)
      val tfD = col("tf").cast("double")
      val score = idf * tfD * lit(2.2) /
        (tfD + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
      tf.join(df, Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(stats)
        .groupBy(col("doc_id"))
        .agg(round(sum(score), 6).as("bm25"))
    })

  override def oracleSql: Map[String, String] = Map(
    "d36_decontam_exact_pairs" ->
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text),
               '\\s+'), x -> x <> '') AS ts
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
                  ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)] ||
                  ' ' || ts[CAST(i+2 AS INT)] AS g
           FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i)),
         fp AS (SELECT doc_id, $foldSql % 100 AS bucket FROM documents),
         sizes AS (SELECT doc_id, count(1) AS n FROM sh GROUP BY doc_id),
         ev AS (SELECT s.doc_id, s.g FROM sh s
                JOIN fp ON fp.doc_id = s.doc_id WHERE fp.bucket >= 80),
         tr AS (SELECT s.doc_id, s.g FROM sh s
                JOIN fp ON fp.doc_id = s.doc_id WHERE fp.bucket < 80),
         inter AS (
           SELECT a.doc_id AS id_eval, b.doc_id AS id_train,
                  count(1) AS c
           FROM ev a JOIN tr b ON a.g = b.g
           GROUP BY 1, 2)
         SELECT id_eval, id_train
         FROM inter
         JOIN sizes sa ON sa.doc_id = id_eval
         JOIN sizes sb ON sb.doc_id = id_train
         WHERE 3 * c >= sa.n + sb.n""",
    "d37_cross_doc_dup_frac" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x <> '') AS ts
           FROM documents),
         sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(ts) >= 8 THEN
                    list_transform(range(1, len(ts) - 6),
                      i -> ts[CAST(i AS INT)] || ' ' ||
                           ts[CAST(i+1 AS INT)] || ' ' ||
                           ts[CAST(i+2 AS INT)] || ' ' ||
                           ts[CAST(i+3 AS INT)] || ' ' ||
                           ts[CAST(i+4 AS INT)] || ' ' ||
                           ts[CAST(i+5 AS INT)] || ' ' ||
                           ts[CAST(i+6 AS INT)] || ' ' ||
                           ts[CAST(i+7 AS INT)])
                  ELSE [] END) AS gs
           FROM toks),
         pairs AS (SELECT doc_id, u.g FROM sh, UNNEST(gs) AS u(g)),
         df AS (SELECT g, count(1) AS df FROM pairs GROUP BY g),
         dup AS (SELECT p.doc_id, count(1) AS n_dup
                 FROM pairs p JOIN df ON p.g = df.g AND df.df >= 2
                 GROUP BY p.doc_id)
         SELECT s.doc_id, CAST(len(s.gs) AS INT) AS n_grams,
                CAST(coalesce(d.n_dup, 0) AS INT) AS n_dup,
                CASE WHEN len(s.gs) > 0 THEN
                  CAST(coalesce(d.n_dup, 0) AS DOUBLE) /
                  CAST(len(s.gs) AS DOUBLE)
                ELSE 0.0 END AS dup_frac
         FROM sh s LEFT JOIN dup d ON s.doc_id = d.doc_id""",
    "d38_exact_span_residual" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x <> '') AS ts
           FROM documents),
         occ AS (
           SELECT doc_id, CAST(i AS INT) - 1 AS pos,
                  ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)] ||
                  ' ' || ts[CAST(i+2 AS INT)] || ' ' ||
                  ts[CAST(i+3 AS INT)] || ' ' || ts[CAST(i+4 AS INT)] ||
                  ' ' || ts[CAST(i+5 AS INT)] || ' ' ||
                  ts[CAST(i+6 AS INT)] || ' ' || ts[CAST(i+7 AS INT)]
                    AS g
           FROM toks, UNNEST(range(1, len(ts) - 6)) AS u(i)),
         dup AS (
           SELECT g FROM (SELECT DISTINCT doc_id, g FROM occ)
           GROUP BY g HAVING count(1) >= 2),
         hit AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (g)),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(lag(pos) OVER
                      (PARTITION BY doc_id ORDER BY pos), -100) + 7
                    THEN 1 ELSE 0 END AS new_island
           FROM hit),
         isl2 AS (
           SELECT doc_id, pos, sum(new_island) OVER
               (PARTITION BY doc_id ORDER BY pos) AS island
           FROM isl),
         cov AS (
           SELECT doc_id, sum(len) AS covered FROM (
             SELECT doc_id, island, max(pos) - min(pos) + 8 AS len
             FROM isl2 GROUP BY doc_id, island)
           GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.ts) AS INT) AS n_tokens,
                CAST(coalesce(c.covered, 0) AS INT) AS covered,
                CAST(len(t.ts) - coalesce(c.covered, 0) AS INT)
                  AS residual
         FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id""",
    "s15_bm25_scores" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x <> '') AS ts
           FROM documents),
         dl AS (SELECT doc_id, len(ts) AS dl FROM toks),
         stats AS (
           SELECT count(1) AS n_docs, sum(dl) AS tot_dl FROM dl),
         tf AS (
           SELECT doc_id, u.tok, count(1) AS tf
           FROM toks, UNNEST(ts) AS u(tok)
           WHERE u.tok IN ('spark', 'sort', 'window')
           GROUP BY doc_id, u.tok),
         df AS (SELECT tok, count(1) AS df FROM tf GROUP BY tok)
         SELECT tf.doc_id,
                round(sum(
                  ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
                        + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                  * CAST(tf AS DOUBLE) * 2.2 /
                  (CAST(tf AS DOUBLE) + 1.2 *
                    (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) /
                      (CAST(tot_dl AS DOUBLE) /
                       CAST(n_docs AS DOUBLE))))), 6) AS bm25
         FROM tf
         JOIN df USING (tok)
         JOIN dl ON tf.doc_id = dl.doc_id, stats
         GROUP BY tf.doc_id""",
    "d14_hash_sample" ->
      s"""WITH fp AS (
           SELECT doc_id, $foldSql % 100 AS bucket FROM documents)
         SELECT doc_id, CAST(bucket AS INT) AS bucket
         FROM fp WHERE bucket < 10""",
    "d15_split_assign" ->
      s"""WITH fp AS (
           SELECT doc_id, lang, $foldSql % 100 AS bucket FROM documents)
         SELECT doc_id, lang, CAST(bucket AS INT) AS bucket,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM fp""",
    "d16_stratified_sample" ->
      s"""WITH fp AS (
           SELECT doc_id, lang, $foldSql % 100 AS bucket FROM documents)
         SELECT doc_id, lang, CAST(bucket AS INT) AS bucket
         FROM fp
         WHERE bucket < CASE WHEN lang = 'en' THEN 20 ELSE 60 END""",
    "d19_mixture_weights" ->
      s"""WITH fp AS (
           SELECT doc_id, lang, $foldSql % 100 AS bucket FROM documents),
         st AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
         rates AS (
           SELECT lang,
                  LEAST(100, (sum(cnt) OVER () * 100) //
                             (count(*) OVER () * cnt)) AS rate_pct
           FROM st)
         SELECT f.doc_id, f.lang, CAST(f.bucket AS INT) AS bucket,
                CAST(r.rate_pct AS INT) AS rate_pct
         FROM fp f JOIN rates r ON f.lang = r.lang
         WHERE f.bucket < r.rate_pct""",
    "d17_seq_packing" ->
      """WITH toks AS (
           SELECT doc_id, source,
                  len(list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x <> '')) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS end_off
           FROM toks)
         SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
                CAST(end_off - n_tokens AS BIGINT) AS start_off,
                CAST((end_off - n_tokens) // 512 AS INT) AS pack_id
         FROM c""",
    "d23_substring_leak" ->
      s"""WITH d AS (
           SELECT doc_id, text, $foldSql % 100 AS bucket FROM documents),
         ev AS (
           SELECT doc_id, text FROM d
           WHERE bucket >= 80
             AND len(list_filter(string_split_regex(trim(text), '\\s+'),
                   x -> x <> '')) >= 8),
         tr AS (SELECT doc_id, text FROM d WHERE bucket < 80)
         SELECT DISTINCT ev.doc_id AS eval_id, tr.doc_id AS train_id
         FROM ev JOIN tr
           ON contains(' ' || tr.text || ' ', ' ' || ev.text || ' ')""",
    "d28_bpe_token_count" ->
      """WITH c AS (
           SELECT doc_id,
                  len(regexp_extract_all(text,
                    '''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+'))
                    AS n_bpe,
                  len(list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x <> '')) AS n_ws
           FROM documents)
         SELECT doc_id, CAST(n_bpe AS INT) AS n_bpe,
                CAST(n_ws AS INT) AS n_ws,
                CASE WHEN n_ws > 0 THEN
                  CAST(n_bpe AS DOUBLE) / CAST(n_ws AS DOUBLE)
                ELSE 0.0 END AS fertility
         FROM c""",
    "d25_dup_ngram_frac" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x <> '') AS ts
           FROM documents),
         sh AS (
           SELECT doc_id,
                  CASE WHEN len(ts) >= 5 THEN
                    list_transform(range(1, len(ts) - 3),
                      i -> ts[CAST(i AS INT)] || ' ' ||
                           ts[CAST(i+1 AS INT)] || ' ' ||
                           ts[CAST(i+2 AS INT)] || ' ' ||
                           ts[CAST(i+3 AS INT)] || ' ' ||
                           ts[CAST(i+4 AS INT)])
                  ELSE [] END AS gs
           FROM toks)
         SELECT doc_id, CAST(len(gs) AS INT) AS n_shingles,
                CAST(len(gs) - len(list_distinct(gs)) AS INT) AS n_dup,
                CASE WHEN len(gs) > 0 THEN
                  CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) /
                  CAST(len(gs) AS DOUBLE)
                ELSE 0.0 END AS dup_frac
         FROM sh""",
    "d26_rarest_token" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x <> '') AS ts
           FROM documents),
         tk AS (SELECT DISTINCT doc_id, u.tok
                FROM toks, UNNEST(ts) AS u(tok)),
         df AS (SELECT tok, count(1) AS df FROM tk GROUP BY tok)
         SELECT doc_id, tok AS rare_token, CAST(df AS INT) AS rare_df
         FROM tk JOIN df USING (tok)
         QUALIFY row_number() OVER (PARTITION BY doc_id
           ORDER BY df, tok) = 1""",
    "d27_source_cap_sample" ->
      s"""WITH fp AS (
           SELECT doc_id, source, $foldSql AS fp FROM documents)
         SELECT doc_id, source, CAST(rn AS INT) AS keep_rank FROM (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY fp, doc_id) AS rn
           FROM fp)
         WHERE rn <= 40""",
    "d22_boilerplate_ngrams" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x <> '') AS ts
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
                  ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)] ||
                  ' ' || ts[CAST(i+2 AS INT)] || ' ' ||
                  ts[CAST(i+3 AS INT)] || ' ' || ts[CAST(i+4 AS INT)]
                    AS shingle
           FROM toks, UNNEST(range(1, len(ts) - 3)) AS u(i))
         SELECT shingle, count(1) AS doc_freq
         FROM sh GROUP BY shingle HAVING count(1) >= 3
         ORDER BY doc_freq DESC, shingle LIMIT 20""",
    "d18_top_bigram" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x <> '') AS ts
           FROM documents),
         bg AS (
           SELECT doc_id,
                  ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)] AS bg
           FROM toks, UNNEST(range(1, len(ts))) AS u(i)),
         counts AS (SELECT doc_id, bg, count(1) AS n FROM bg GROUP BY 1, 2),
         mx AS (SELECT doc_id, max(n) AS top_n, sum(n) AS n_bigrams
                FROM counts GROUP BY 1)
         SELECT c.doc_id, min(c.bg) AS top_bigram,
                CAST(m.top_n AS INT) AS top_n,
                CAST(m.n_bigrams AS INT) AS n_bigrams,
                CAST(m.top_n AS DOUBLE) / CAST(m.n_bigrams AS DOUBLE)
                  AS top_frac
         FROM counts c JOIN mx m ON c.doc_id = m.doc_id AND c.n = m.top_n
         GROUP BY c.doc_id, m.top_n, m.n_bigrams""",
    "d29_source_vocab_overlap" ->
      """WITH toks AS (
           SELECT source,
                  list_filter(string_split_regex(trim(text), '\s+'),
                      x -> x <> '') AS ts
           FROM documents),
         sh AS (
           SELECT source,
                  ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)] AS sh
           FROM toks, UNNEST(range(1, len(ts))) AS u(i)),
         vocab AS (SELECT DISTINCT source, sh FROM sh),
         vs AS (SELECT source, count(1) AS nv FROM vocab GROUP BY 1),
         ix AS (SELECT a.source AS src_a, b.source AS src_b,
                       count(1) AS n_common
                FROM vocab a JOIN vocab b
                  ON a.sh = b.sh AND a.source < b.source
                GROUP BY 1, 2)
         SELECT src_a, src_b, CAST(n_common AS INT) AS n_common,
                CAST(n_common AS DOUBLE) /
                  CAST(va.nv + vb.nv - n_common AS DOUBLE) AS jaccard
         FROM ix
         JOIN vs va ON va.source = src_a
         JOIN vs vb ON vb.source = src_b""",
    "d30_token_freq_spectrum" ->
      """WITH toks AS (
           SELECT unnest(list_filter(
               string_split_regex(trim(text), '\s+'),
               x -> x <> '')) AS tok
           FROM documents),
         tf AS (SELECT tok, count(1) AS freq FROM toks GROUP BY 1)
         SELECT CAST(freq AS BIGINT) AS freq,
                CAST(count(1) AS INT) AS n_tokens
         FROM tf GROUP BY 1""",
    "s13_label_centroid_stats" ->
      """WITH norms AS (
           SELECT label, count(1) AS n,
             round(avg(sqrt(list_reduce(
               list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x),
               (a, b) -> a + b))), 6) AS mean_norm
           FROM embeddings GROUP BY label),
         dims AS (
           SELECT label, i AS dim,
             avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS m
           FROM embeddings,
                UNNEST(range(1, len(embedding) + 1)) AS u(i)
           GROUP BY 1, 2),
         cent AS (
           SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm
           FROM dims GROUP BY label)
         SELECT label, CAST(n AS INT) AS n, centroid_norm, mean_norm
         FROM norms JOIN cent USING (label)""",
    "d35_bigram_lm_score" ->
      s"""WITH fp AS (
           SELECT doc_id, text, $foldSql % 100 AS bkt FROM documents),
         toks AS (
           SELECT doc_id, bkt,
                  list_filter(string_split_regex(trim(text), '\\s+'),
                      x -> x <> '') AS ts
           FROM fp),
         uni AS (
           SELECT unnest(ts) AS tok FROM toks WHERE bkt < 80),
         c1 AS (SELECT tok, count(1) AS c1 FROM uni GROUP BY 1),
         tot AS (SELECT sum(c1) AS n, count(1) AS v FROM c1),
         bg AS (
           SELECT doc_id, bkt,
                  ts[CAST(i AS INT)] AS w1, ts[CAST(i+1 AS INT)] AS w2,
                  ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)]
                    AS bg
           FROM toks, UNNEST(range(1, len(ts))) AS u(i)),
         c2 AS (SELECT bg, count(1) AS c2 FROM bg WHERE bkt < 80
                GROUP BY 1),
         val AS (SELECT * FROM bg WHERE bkt >= 80 AND bkt < 90)
         SELECT doc_id, CAST(count(1) AS INT) AS n_bigrams,
           round(-avg(ln(
             0.5 * coalesce(CAST(c2.c2 AS DOUBLE)
                            / CAST(u1.c1 AS DOUBLE), 0.0)
             + 0.5 * (CAST(coalesce(u2.c1, 0) AS DOUBLE) + 1.0)
                     / CAST(n + v AS DOUBLE))), 6) AS nll
         FROM val
         LEFT JOIN c2 USING (bg)
         LEFT JOIN c1 u1 ON val.w1 = u1.tok
         LEFT JOIN c1 u2 ON val.w2 = u2.tok
         CROSS JOIN tot
         GROUP BY doc_id""",
    "d34_lm_score" ->
      s"""WITH fp AS (
           SELECT doc_id, text, $foldSql % 100 AS bkt FROM documents),
         toks AS (
           SELECT doc_id, bkt,
                  unnest(list_filter(
                    string_split_regex(trim(text), '\\s+'),
                    x -> x <> '')) AS tok
           FROM fp),
         counts AS (
           SELECT tok, count(1) AS c FROM toks WHERE bkt < 80
           GROUP BY 1),
         tot AS (SELECT sum(c) AS n, count(1) AS v FROM counts)
         SELECT doc_id, CAST(count(1) AS INT) AS n_tokens,
           round(-avg(ln((CAST(coalesce(c, 0) AS DOUBLE) + 1.0)
             / CAST(n + v AS DOUBLE))), 6) AS nll
         FROM toks LEFT JOIN counts USING (tok) CROSS JOIN tot
         WHERE bkt >= 80 AND bkt < 90
         GROUP BY doc_id""",
    "d33_weighted_sample" ->
      s"""WITH keyed AS (
           SELECT doc_id, source, n_chars,
             pow((($foldSql % 1000003) + 1) / 1000004.0,
                 1.0 / n_chars) AS k
           FROM documents)
         SELECT doc_id, source, CAST(n_chars AS INT) AS n_chars
         FROM keyed ORDER BY k DESC, doc_id LIMIT 100""",
    "d32_token_entropy" ->
      """WITH tc AS (
           SELECT doc_id,
                  unnest(list_filter(
                    string_split_regex(trim(text), '\s+'),
                    x -> x <> '')) AS tok
           FROM documents),
         c AS (SELECT doc_id, tok, count(1) AS n FROM tc GROUP BY 1, 2)
         SELECT doc_id, CAST(count(1) AS INT) AS n_distinct,
                round(ln(CAST(sum(n) AS DOUBLE)) -
                  sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) /
                    CAST(sum(n) AS DOUBLE), 6) AS entropy
         FROM c GROUP BY doc_id""",
    "d31_mixture_entropy" ->
      """WITH c AS (
           SELECT lang, source, count(1) AS n
           FROM documents GROUP BY 1, 2),
         t AS (SELECT lang, sum(n) AS tot FROM c GROUP BY 1)
         SELECT c.lang, CAST(count(1) AS INT) AS n_sources,
                round(-sum((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) *
                  ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))), 6)
                  AS entropy
         FROM c JOIN t USING (lang) GROUP BY c.lang""")
}
