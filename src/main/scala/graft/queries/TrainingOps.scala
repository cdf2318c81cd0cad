package graft.queries

import graft.QueryPack
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents` / `embeddings`
  * (SURVEY.md §2.b extensions): dedup family, text analysis, similarity
  * search. Oracle-checkable where DuckDB can express the same math;
  * approximate/sketch operators (MinHash, SimHash, SRP-LSH, poly_hash)
  * are rows-only here and exactness-tested in ScalaTest instead.
  */
object TrainingOps extends QueryPack {

  /** Per-(session, key) persisted-frame cache for the reusable index
    * artifacts (rotated embeddings, minhash signatures) — the shared
    * [[graft.FrameCache]] (entries die with their session; build never
    * runs under the monitor; a racing loser unpersists its copy).
    */
  private def cachedFrame(s: SparkSession, key: String,
                          persist: Boolean = true)
                         (build: => DataFrame): DataFrame =
    graft.FrameCache.cached(s, key, persist)(build)

  /** Corpus count memo for the auto-knobs (kFor/planesFor): one
    * parquet-metadata count job per (session, dir) instead of one per
    * query invocation — the bench loop re-invokes each query builder
    * several times. Same prune-on-access discipline as FrameCache; the
    * count job runs outside the monitor.
    */
  private val embCounts =
    scala.collection.mutable.Map.empty[(SparkSession, String), Long]
  private def embCount(s: SparkSession, dir: String): Long = {
    val hit = embCounts.synchronized {
      embCounts.filterInPlace {
        case ((sess, _), _) => !sess.sparkContext.isStopped
      }
      embCounts.get((s, dir))
    }
    hit.getOrElse {
      val n = t(s, dir, "embeddings").count()
      embCounts.synchronized { embCounts((s, dir)) = n }
      n
    }
  }

  /** Shared ANN index artifacts: coarse centroids and PQ codebooks are
    * built ONCE per (session, dir) and reused by every query that
    * serves from them (s05/s07/s08) — exactly how a production vector
    * index amortizes build cost across queries. They're kilobyte local
    * relations (driver-side fit output), so no persist is needed.
    */
  private def ivfCentroids(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, s"ivfcent:$dir", persist = false) {
      // k rides the corpus count (IvfIndex.kFor: cell size stays ≈250
      // as the corpus grows; floor 8 keeps small-SF results identical).
      val emb = t(s, dir, "embeddings")
      graft.operators.IvfIndex.fit(emb, "vec_id", "embedding",
        k = graft.operators.IvfIndex.kFor(embCount(s, dir)), iters = 3)
    }

  /** Learned-OPQ model cache: (rotation rows, codebook) per (session,
    * dir) — same build-outside-the-monitor discipline as cachedFrame
    * (the model is plain driver data, nothing to unpersist on a lost
    * race).
    */
  private val opqCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), (Seq[Seq[Double]], DataFrame)]

  private def opqModel(s: SparkSession, dir: String)
      : (Seq[Seq[Double]], DataFrame) =
    opqCache.synchronized {
      opqCache.filterInPlace { case ((sess, _), _) =>
        !sess.sparkContext.isStopped
      }
      opqCache.get((s, dir))
    } match {
      case Some(m) => m
      case None =>
        val built = graft.operators.OpqIndex.fit(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          m = 8, k = 256, lloydIters = 3, opqIters = 3)
        opqCache.synchronized {
          opqCache.getOrElseUpdate((s, dir), built)
        }
    }

  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, s"pqcb:$dir", persist = false)(
      graft.operators.PqIndex.fit(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 8, k = 256, iters = 3))

  /** Shared minhash signatures (threshold-independent): d06 mines
    * candidates at 0.3 and d11 makes dedup decisions at 0.5 over ONE
    * signature pass.
    */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, s"minhash64:$dir")(
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 64))

  def queries: Map[String, QueryFn] = Map(
    "d01_dedup_exact" -> { (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
    },
    "d02_token_stats" -> { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("text_len"),
        size(array_distinct(TextFunctions.tokens(col("text"))))
          .as("n_unique_tokens"))
    },
    "d03_quality_ratios" -> { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.digitRatio(col("text")).as("digit_ratio"),
        TextFunctions.whitespaceRatio(col("text")).as("ws_ratio"),
        TextFunctions.meanTokenLength(col("text")).as("mean_token_len"))
    },
    "d04_langid" -> { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("predicted_lang"))
    },
    "d21_pii_redact" -> { (s, dir) =>
      // compliance pass: typed-placeholder redaction of emails/phones/
      // IPv4 + per-document audit counts — three codegen'd
      // regexp_replace passes, map-side only (RE2-compatible patterns,
      // so the oracle runs the SAME regexes)
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.redactPii(col("text")).as("redacted"),
        TextFunctions.piiCount(col("text"), TextFunctions.emailRe)
          .as("n_emails"),
        TextFunctions.piiCount(col("text"), TextFunctions.phoneRe)
          .as("n_phones"),
        TextFunctions.piiCount(col("text"), TextFunctions.ipRe)
          .as("n_ips"))
    },
    "d13_quality_score" -> { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
    },
    "d08_char_jaccard_pairs" -> { (s, dir) =>
      // exact character-set Jaccard over a deterministic sample of pairs.
      // The modulus alone grows linearly with the corpus (quadratic
      // pairs at 100× — VERDICT r3 "What's wrong #3"); the ordered LIMIT
      // caps the sample at 32 docs / ≤496 pairs at ANY scale, and is a
      // TakeOrdered (no global sort). No-op at sf≤0.01 (≤10 docs pass
      // the modulus), so oracle rows are unchanged.
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).limit(32)
      val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      val sa = array_distinct(filter(split(col("text_a"), ""), c => c =!= ""))
      val sb = array_distinct(filter(split(col("text_b"), ""), c => c =!= ""))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(sa, sb)).cast("double") /
            size(array_union(sa, sb)).cast("double")).as("jaccard"))
    },

    "d09_ngram_jaccard_pairs" -> { (s, dir) =>
      // TRUE character-3-gram Jaccard (not char-set) on sampled pairs —
      // the exact verifier behind MinHash, oracle-checked. Capped at 32
      // docs by ordered LIMIT (same rationale as d08): the pair count is
      // bounded at any corpus size instead of growing quadratically.
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 100 === 0)
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).limit(32)
      val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.operators.Dedup.ngramJaccard(col("text_a"), col("text_b"), 3)
            .as("jaccard3"))
    },

    // ---- rows-only (sketch/approximate; spec-tested in ScalaTest) ----
    "d10_approx_distinct" -> { (s, dir) =>
      // HLL++ sketch counts (approximate — implementations differ across
      // engines, so rows-only; the exact counterpart is q13)
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(approx_count_distinct(col("text"), 0.02).as("approx_texts"),
          approx_count_distinct(col("source")).as("approx_sources"))
    },
    "d05_fingerprint" -> { (s, dir) =>
      // token-sequence fingerprint (whitespace-normalizing, vs d12's
      // whitespace-sensitive char fold) — oracle-checked via the same
      // mod-prime discipline. The 64-bit wrapping PolyHash remains the
      // internal fingerprint (m01, exact-dup digests) and is
      // exactness-tested in PolyHashSpec; this query surface carries
      // the cross-engine-replicable variant.
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenHashMod(col("text")).as("fingerprint"))
    },
    "d06_minhash_lsh_pairs" -> { (s, dir) =>
      Dedup.minhashLshPairsFromSigs(minhashSigs(s, dir),
        bands = 16, rowsPerBand = 4, threshold = 0.3)
    },
    "d20_decontam_near_dup" -> { (s, dir) =>
      // train/eval DECONTAMINATION: near-dup pairs (shared minhash
      // signatures, threshold 0.5) that CROSS the d15 content-hash
      // split boundary — i.e. eval documents whose near-copy sits in
      // train. Exact duplicates can never appear here: identical
      // content ⇒ identical hash bucket ⇒ same split (asserted in
      // SamplingSpec); only jittered copies can leak, which is exactly
      // what the near-dup miner catches. Rows-only (LSH candidate set).
      val pairs = Dedup.minhashLshPairsFromSigs(minhashSigs(s, dir),
        bands = 16, rowsPerBand = 4, threshold = 0.5)
      val split = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.SamplingFunctions.splitLabel(
          graft.functions.SamplingFunctions.hashBucket(col("text")))
          .as("split"))
      pairs
        .join(split.withColumnRenamed("doc_id", "id_a")
          .withColumnRenamed("split", "split_a"), Seq("id_a"))
        .join(split.withColumnRenamed("doc_id", "id_b")
          .withColumnRenamed("split", "split_b"), Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("split_a"), col("id_b"), col("split_b"),
          col("est_jaccard"))
    },
    "d07_simhash_pairs" -> { (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 8, prefixBits = 8)
    },
    "s01_cosine_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
    },
    "s02_lsh_topk" -> { (s, dir) =>
      // planes ride the corpus count (floor 4 = the historical fixed
      // setting, unchanged at the oracle SFs): fixed 2^4 buckets make
      // the per-query candidate set grow linearly with the corpus;
      // auto-planes keep expected bucket population ≈32.
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5,
        planes = Similarity.planesFor(embCount(s, dir), floor = 4))
    },
    "s17_lsh_directed_topk" -> { (s, dir) =>
      // query-directed multi-probe (r16): probes spent in |margin|
      // order over radius <= 2 sign flips at the budget that held
      // recall@5 >= 0.3 on the sf10 read (probeBudgetFor). Same
      // rows-only check class as s02 — LSH hit sets are definitional,
      // floor-tested in RecallSpec against s01's exact top-k.
      val emb = t(s, dir, "embeddings")
      val planes = Similarity.planesFor(embCount(s, dir), floor = 4)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, planes = planes,
        probeBuckets = Similarity.probeBudgetFor(planes))
    },
    "s18_lsh_directed_r3_topk" -> { (s, dir) =>
      // s17 plus the ONE radius-3 perturbation (the query's three
      // narrowest margins) at the SAME bucket budget — the tier's
      // measured ceiling (sf10: 0.334 vs s17's 0.322, r17 recall
      // artifact). Same rows-only check class as s17; RecallSpec pins
      // full-budget dominance and the fixed-budget reading.
      val emb = t(s, dir, "embeddings")
      val planes = Similarity.planesFor(embCount(s, dir), floor = 4)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, planes = planes,
        probeBuckets = Similarity.probeBudgetFor(planes),
        maxRadius = 3)
    },
    "d11_dedup_survivors" -> { (s, dir) =>
      // full dedup decision: minhash pairs → connected components →
      // one survivor per near-dup cluster (signatures shared with d06)
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairsFromSigs(minhashSigs(s, dir),
        bands = 16, rowsPerBand = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.nearDupSurvivors(docs, "doc_id", pairs)
    },
    "d24_exact_dedup_survivors" -> { (s, dir) =>
      // ORACLE ANCHOR for the dedup-cluster machinery (the role s01
      // plays for ANN): the same connected-components → min-id-survivor
      // path as d11, but over an EXACT word-3-gram Jaccard edge list a
      // DuckDB recursive CTE can replicate, so cluster labels and
      // survivor flags get a hash-checked row instead of rows-only
      // trust. The candidate prune is the shingle-index join (J ≥ 0.5
      // implies a shared shingle — never all-pairs); the threshold is
      // the integer form 3·|A∩B| ≥ |A|+|B| (⟺ J ≥ 0.5), so no float
      // division can diverge between engines. Shingle strings enter
      // [[PpJoin]] as-is; internally it re-keys them to 64-bit hashes
      // only after PROVING the hash injective on this corpus's
      // vocabulary (r12 — the audit that makes hash-space execution
      // exact rather than probabilistic, where a raw xxhash64 key
      // could in principle merge two distinct shingles and perturb
      // the exact counts). The
      // candidate prune is PPJoin prefix filtering ([[PpJoin]]): only
      // each doc's ⌊n/2⌋+1 rarest shingles are indexed, so a hot
      // boilerplate shingle never fans out quadratically — exactness
      // preserved by the prefix-filter lemma, verified in PpJoinSpec.
      val docs = t(s, dir, "documents")
      // pinned per (session, dir): the DF count, the prefix window,
      // and candidate verification all read this frame, so the
      // shingle explosion runs once
      val sh = cachedFrame(s, s"d24sh:$dir")(
        docs.select(col("doc_id"),
            explode(array_distinct(graft.functions.WordShingles
              .wordShingles(col("text"), 3))).as("g")))
      val edges = graft.operators.PpJoin.jaccardEdges(sh, "doc_id", "g")
      Dedup.nearDupSurvivors(docs, "doc_id", edges)
        .select(col("id"), col("component"), col("is_survivor"))
    },
    "d39_dup_cluster_sizes" -> { (s, dir) =>
      // The dedup REPORT read before choosing thresholds: the
      // distribution of exact duplicate-cluster sizes (how many
      // singletons, pairs, k-clusters), over the same exact word-3-gram
      // Jaccard ≥ ½ components d24 anchors — singletons included, so
      // the histogram sums to the corpus. Shares d24's pinned shingle
      // frame; the edge + component machinery recomputes honestly (the
      // bench number stays a real corpus pass, not a cache read). Two
      // count aggregations on top — component sizes, then size
      // frequencies — both partial-agg, output is O(max cluster size).
      val docs = t(s, dir, "documents")
      val sh = cachedFrame(s, s"d24sh:$dir")(
        docs.select(col("doc_id"),
            explode(array_distinct(graft.functions.WordShingles
              .wordShingles(col("text"), 3))).as("g")))
      val edges = graft.operators.PpJoin.jaccardEdges(sh, "doc_id", "g")
      Dedup.nearDupSurvivors(docs, "doc_id", edges)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).cast("int").as("n_clusters"))
        .select(col("sz").cast("int").as("cluster_size"),
          col("n_clusters"))
    },
    "s05_ivf_topk" -> { (s, dir) =>
      // IVF: 8 coarse centroids (deterministic seed, session-cached),
      // probe 2
      val emb = t(s, dir, "embeddings")
      graft.operators.IvfIndex.search(emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        ivfCentroids(s, dir), k = 5, nProbe = 2)
    },
    "s03_embedding_near_dup" -> { (s, dir) =>
      // planes ride the corpus count (Similarity.planesFor: bucket
      // population stays ≈32 as the corpus grows; floor 6 keeps
      // small-SF results identical).
      val emb = t(s, dir, "embeddings")
      Similarity.nearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4, planes = Similarity.planesFor(embCount(s, dir)))
    },
    "s16_semantic_decontam_pairs" -> { (s, dir) =>
      // the batch face of the sixth ingest modality (semantic
      // decontam): src0's vectors probed against the OTHER sources'
      // pinned IVF index — every (new, corpus) pair with cosine ≥ 0.4
      // among the probe's 2 nearest lists, deterministic under ties by
      // construction (hits are a set, no ranking). EXACT for the
      // probed-lists contract (SemanticStreamSpec pins equality with a
      // brute-force bipartite join restricted to probed cells);
      // rows-only at the gate like every trained-centroid query (cell
      // assignment depends on float k-means output — no DuckDB
      // replica). The centroid family is fingerprint-stamped into the
      // index and enforced at probe time. The docs→embeddings bridge
      // is vec_id ≡ doc_id here (TESTDATA: embeddings are per-doc).
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents").select(
        col("doc_id").as("vec_id"), col("source"))
      val tagged = emb.join(docs, Seq("vec_id"))
      val centroids = ivfCentroids(s, dir)
      val index = graft.operators.IvfIndex.buildSemanticIndex(
        tagged.filter(col("source") =!= "src0"),
        "vec_id", "embedding", centroids)
      graft.operators.IvfIndex.semanticHits(index,
        tagged.filter(col("source") === "src0"),
        "vec_id", "embedding", centroids, tau = 0.4, nProbe = 2)
    },
    "s14_semdedup_survivors" -> { (s, dir) =>
      // SemDeDup (Abbas et al. 2023): semantic dedup in embedding
      // space — coarse k-means cells (the session-cached IVF
      // centroids), within-cell cosine ≥ 0.4 pairs, connected
      // components, min-id survivor. The embedding-space sibling of
      // d11's MinHash path: both are bucketed so the pair join is
      // Σ_c O(n_c²), never all-pairs; the scale knob is k (cluster
      // count grows with the corpus, per-cell work stays bounded).
      // Rows-only: cell assignment depends on trained float centroids
      // (no DuckDB replica); SemDeDupSpec proves within-cell pairs ≡
      // the exact O(n²) join and measures global recall.
      graft.operators.SemDeDup.survivors(t(s, dir, "embeddings"),
        "vec_id", "embedding", ivfCentroids(s, dir), tau = 0.4)
    },
    "s09_opq_topk" -> { (s, dir) =>
      // rotated PQ (OPQ-lite): Walsh-Hadamard energy balancing before
      // subspace quantization; rotation is orthonormal so distances are
      // preserved and fit/encode/search run unchanged.
      // Persisted VIA THE (session, dir) CACHE: fit, encode, and the
      // query side each re-derive from this frame (the 64-dot rotation
      // is the dominant projection), and caching means repeated
      // invocations in one JVM reuse one pinned frame instead of
      // leaking a new one each time.
      val rotated = cachedFrame(s, s"rotated:$dir")(
        graft.operators.PqIndex.rotate(
          t(s, dir, "embeddings"), "embedding", 64))
      val codebook = cachedFrame(s, s"opqcb:$dir", persist = false)(
        graft.operators.PqIndex.fit(
          rotated, "vec_id", "embedding", m = 8, k = 256, iters = 3))
      val encoded = graft.operators.PqIndex.encode(
        rotated, "vec_id", "embedding", codebook)
      graft.operators.PqIndex.search(encoded,
        rotated.filter(col("vec_id") < 5), "vec_id", "embedding",
        codebook, k = 5)
    },
    "s11_opq_learned_topk" -> { (s, dir) =>
      // LEARNED OPQ (Ge et al. 2013): alternating Lloyd/Procrustes
      // rotation (Hadamard-initialized) fit driver-side on the sample,
      // served as one fused MatVec projection + the standard
      // zero-shuffle PQ encode and ADC search. Compare s09 (structured
      // rotation) — same serving path, trained vs blind rotation.
      val emb = t(s, dir, "embeddings")
      val (rot, codebook) = opqModel(s, dir)
      val rotated = graft.operators.OpqIndex.rotate(emb, "embedding", rot)
      val encoded = graft.operators.PqIndex.encode(
        rotated, "vec_id", "embedding", codebook)
      graft.operators.PqIndex.search(encoded,
        rotated.filter(col("vec_id") < 5), "vec_id", "embedding",
        codebook, k = 5)
    },
    "s10_ivfpq_residual_topk" -> { (s, dir) =>
      // residual IVF-PQ (IVFADC): codes quantize (v − coarse centroid),
      // so the same m·k budget describes only within-cell spread —
      // tighter distances than s08 at identical storage cost
      val emb = t(s, dir, "embeddings")
      val centroids = ivfCentroids(s, dir)
      val codebook = cachedFrame(s, s"rescb:$dir", persist = false)(
        graft.operators.IvfPq.fitResidual(
          emb, "vec_id", "embedding", centroids, m = 8, kCodes = 256))
      val indexed = graft.operators.IvfPq.indexResidual(
        emb, "vec_id", "embedding", centroids, codebook)
      graft.operators.IvfPq.searchResidual(indexed,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        centroids, codebook, k = 5, nProbe = 2)
    },
    "s08_ivfpq_topk" -> { (s, dir) =>
      // IVF-PQ: coarse-pruned + code-compressed ANN (the
      // billion-vector-scale serving shape); both index parts come
      // from the session cache, shared with s05/s07 — and the indexed
      // corpus (codes, not raw vectors) is pinned too: a production
      // index encodes the corpus ONCE and serves every query from the
      // stored codes, so repeated invocations must not re-run the
      // encode pass
      val emb = t(s, dir, "embeddings")
      val centroids = ivfCentroids(s, dir)
      val codebook = pqCodebook(s, dir)
      val indexed = cachedFrame(s, s"ivfpqidx:$dir")(
        graft.operators.IvfPq.index(
          emb, "vec_id", "embedding", centroids, codebook))
      graft.operators.IvfPq.search(indexed,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        centroids, codebook, k = 5, nProbe = 2)
    },
    "s12_pq_refine_topk" -> { (s, dir) =>
      // ADC shortlist + exact re-rank (FAISS IndexRefine shape): the
      // compressed scan nominates shortlistFor(n) candidates/query
      // (floor 100 — oracle-SF results unchanged; the r15 sf10 recall
      // read measured a FIXED 100 decaying 1.00 → 0.61 as the corpus
      // grew, so the shortlist rides corpus count), whose raw vectors
      // alone are fetched back and re-ranked exactly — recall recovers
      // from code-budget-bound to shortlist-bound (RecallSpec, and
      // bench/recall_r15_sf10.json at scale). Rows-only: the shortlist
      // is quantizer-dependent.
      val emb = t(s, dir, "embeddings")
      val codebook = pqCodebook(s, dir)
      val encoded = graft.operators.PqIndex.encode(
        emb, "vec_id", "embedding", codebook)
      graft.operators.PqIndex.searchRefined(encoded, emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        codebook, k = 5,
        shortlist = graft.operators.PqIndex.shortlistFor(
          embCount(s, dir)))
    },
    "i01_ivf_list_stats" -> { (s, dir) =>
      // index health telemetry: inverted-list population/share/imbalance
      // (the dial that decides when to re-train or re-seed the coarse
      // quantizer). Rows-only: populations depend on trained centroids.
      graft.operators.IvfIndex.listStats(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        ivfCentroids(s, dir))
    },
    "s07_pq_topk" -> { (s, dir) =>
      // product quantization + ADC: codebook trained on the corpus
      // (m=8 subspaces × 16 codewords, session-cached), corpus stored
      // as 8 codes/vector — the encoded corpus pinned like s08's
      // (encode once, serve from codes)
      val emb = t(s, dir, "embeddings")
      val codebook = pqCodebook(s, dir)
      val encoded = cachedFrame(s, s"pqenc:$dir")(
        graft.operators.PqIndex.encode(
          emb, "vec_id", "embedding", codebook))
      graft.operators.PqIndex.search(encoded,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        codebook, k = 5)
    },
  )

  def oracleSql: Map[String, String] = Map(
    // nested list_reduce replica of TextFunctions.tokenHashMod: char
    // fold per token (×31), token fold across the sequence (×131),
    // both mod 1e9+7 — same unicode()-codepoint equivalence as d12
    "d05_fingerprint" ->
      """SELECT doc_id,
           list_reduce([0::BIGINT] ||
             list_transform(
               list_filter(string_split_regex(trim(text), '\s+'),
                 t -> t <> ''),
               t -> list_reduce([0::BIGINT] ||
                      list_transform(range(length(t)),
                        i -> unicode(substring(t, CAST(i+1 AS INT), 1))),
                    (a, b) -> (a * 31 + b) % 1000000007)),
             (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
         FROM documents""",
    // Exact-match oracle works even for cosine: both engines fold the
    // dot product left-to-right in double → bit-identical similarity.
    "s01_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                         CAST(q.qv AS DOUBLE[])) AS cosine
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, cosine,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         FROM scored QUALIFY rank <= 5""",
    "d01_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS digest,
                count(1) AS group_size
         FROM documents GROUP BY md5(text)""",
    // transitive closure over the exact word-3-gram Jaccard edge list
    // (integer threshold 3·|∩| ≥ |A|+|B| ⟺ J ≥ 0.5), then min-label
    // components — replicates the CC + survivor semantics exactly
    "d24_exact_dedup_survivors" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text),
               '\s+'), x -> x <> '') AS ts
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
                  ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)] ||
                  ' ' || ts[CAST(i+2 AS INT)] AS g
           FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i)),
         sizes AS (SELECT doc_id, count(1) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(1) AS c
           FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         edges AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE 3 * c >= sa.n + sb.n),
         sym AS (SELECT id_a AS a, id_b AS b FROM edges
                 UNION SELECT id_b, id_a FROM edges),
         reach(a, b) AS (
           SELECT a, a FROM sym
           UNION
           SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
         comp AS (SELECT a AS id, min(b) AS component
                  FROM reach GROUP BY a)
         SELECT d.doc_id AS id,
                coalesce(c.component, d.doc_id) AS component,
                d.doc_id = coalesce(c.component, d.doc_id) AS is_survivor
         FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""",
    "d39_dup_cluster_sizes" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text),
               '\s+'), x -> x <> '') AS ts
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
                  ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)] ||
                  ' ' || ts[CAST(i+2 AS INT)] AS g
           FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i)),
         sizes AS (SELECT doc_id, count(1) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(1) AS c
           FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         edges AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE 3 * c >= sa.n + sb.n),
         sym AS (SELECT id_a AS a, id_b AS b FROM edges
                 UNION SELECT id_b, id_a FROM edges),
         reach(a, b) AS (
           SELECT a, a FROM sym
           UNION
           SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
         comp AS (SELECT a AS id, min(b) AS component
                  FROM reach GROUP BY a),
         csize AS (
           SELECT coalesce(c.component, d.doc_id) AS component,
                  count(1) AS sz
           FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
           GROUP BY 1)
         SELECT CAST(sz AS INT) AS cluster_size,
                CAST(count(1) AS INT) AS n_clusters
         FROM csize GROUP BY sz""",
    "d02_token_stats" ->
      """SELECT doc_id,
                CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '')) AS INT) AS n_tokens,
                CAST(length(text) AS INT) AS text_len,
                CAST(len(list_distinct(list_filter(
                  string_split_regex(trim(text), '\s+'), x -> x <> '')))
                  AS INT) AS n_unique_tokens
         FROM documents""",
    "d03_quality_ratios" ->
      """WITH toks AS (
           SELECT doc_id, text,
                  list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '') AS ts
           FROM documents)
         SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0.0 ELSE
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS digit_ratio,
           CASE WHEN length(text) = 0 THEN 0.0 ELSE
             CAST(length(text) - length(regexp_replace(text, '\s', '', 'g'))
               AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS ws_ratio,
           CASE WHEN len(ts) = 0 THEN 0.0 ELSE
             CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE)
               / CAST(len(ts) AS DOUBLE) END AS mean_token_len
         FROM toks""",
    "d04_langid" ->
      """WITH toks AS (
           SELECT doc_id, lang,
                  list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '') AS ts
           FROM documents),
         hits AS (
           SELECT doc_id, lang,
             len(list_filter(ts, x -> list_contains(
               ['der','die','das','und','ist','nicht','ein','zu'], x))) AS de,
             len(list_filter(ts, x -> list_contains(
               ['the','a','of','and','to','in','is','that'], x))) AS en,
             len(list_filter(ts, x -> list_contains(
               ['el','los','las','y','es','un','una','en'], x))) AS es,
             len(list_filter(ts, x -> list_contains(
               ['le','la','les','et','est','un','une','dans'], x))) AS fr
           FROM toks)
         SELECT doc_id, lang,
           CASE WHEN greatest(de, en, es, fr) = 0 THEN 'unknown'
                WHEN (CASE WHEN de = greatest(de,en,es,fr) THEN 1 ELSE 0 END +
                      CASE WHEN en = greatest(de,en,es,fr) THEN 1 ELSE 0 END +
                      CASE WHEN es = greatest(de,en,es,fr) THEN 1 ELSE 0 END +
                      CASE WHEN fr = greatest(de,en,es,fr) THEN 1 ELSE 0 END)
                     > 1 THEN 'unknown'
                WHEN fr = greatest(de,en,es,fr) THEN 'fr'
                WHEN es = greatest(de,en,es,fr) THEN 'es'
                WHEN en = greatest(de,en,es,fr) THEN 'en'
                ELSE 'de' END AS predicted_lang
         FROM hits""",
    // same term order as TextFunctions.qualityScore — double arithmetic
    // folds left-to-right identically in both engines
    "d13_quality_score" ->
      """WITH r AS (
           SELECT doc_id, text,
             CASE WHEN length(text) = 0 THEN 0.0 ELSE
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '',
                 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END
               AS digit_r,
             CASE WHEN length(text) = 0 THEN 0.0 ELSE
               CAST(length(text) - length(regexp_replace(text,
                 '[[:punct:]]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE) END AS punct_r,
             CASE WHEN length(text) = 0 THEN 0.0 ELSE
               CAST(length(text) - length(regexp_replace(text, '[A-Z]', '',
                 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END
               AS upper_r,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> x <> '') AS ts
           FROM documents),
         m AS (
           SELECT doc_id, digit_r, punct_r, upper_r,
             CASE WHEN length(text) BETWEEN 20 AND 10000
                  THEN 1.0 ELSE 0.5 END AS len_ok,
             CASE WHEN len(ts) = 0 THEN 0.0 ELSE
               CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE)
                 / CAST(len(ts) AS DOUBLE) END AS mean_tok
           FROM r)
         SELECT doc_id,
           greatest(least(len_ok * 0.25 + (1.0 - digit_r - punct_r) * 0.35
             + (1.0 - upper_r) * 0.2
             + (CASE WHEN mean_tok BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5
                END) * 0.2, 1.0), 0.0) AS quality
         FROM m""",
    "d21_pii_redact" ->
      """SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
             '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g'),
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS INT)
             AS n_phones,
           CAST(len(regexp_extract_all(text,
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INT) AS n_ips
         FROM documents""",
    "d09_ngram_jaccard_pairs" ->
      """WITH docs AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0
           ORDER BY doc_id LIMIT 32),
         grams AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, length(text) - 1),
                    i -> substring(text, CAST(i AS INT), 3))) AS g
           FROM docs)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0 THEN 1.0
                ELSE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.g, b.g))) END
             AS jaccard3
         FROM grams a JOIN grams b ON a.doc_id < b.doc_id""",
    "d08_char_jaccard_pairs" ->
      """WITH docs AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
           ORDER BY doc_id LIMIT 32)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(list_distinct(string_split(a.text, '')),
                                   list_distinct(string_split(b.text, ''))))
             AS DOUBLE) /
           CAST(len(list_distinct(list_concat(
                  list_distinct(string_split(a.text, '')),
                  list_distinct(string_split(b.text, ''))))) AS DOUBLE)
             AS jaccard
         FROM docs a JOIN docs b ON a.doc_id < b.doc_id""",
  )
}
