package graft.queries

import graft.QueryPack
import graft.operators.{CdcDedup, SubstrDedup}
import org.apache.spark.sql.functions.col

/** Cross-document repeated-substring detection over the `documents`
  * table — the character-RUN duplication modality
  * ([[graft.operators.SubstrDedup]]): d24/d11 catch whole-set token
  * overlap, d40–d43 catch whole-head edit proximity, and these two
  * catch long verbatim runs (boilerplate footers, licence blocks,
  * repeated paragraphs) embedded in otherwise-distinct documents —
  * the duplication class Lee et al. (ACL 2022) showed matters most for
  * LM training corpora. All three are oracle-checked against DuckDB's
  * all-positions enumeration; the anchor/scale split mirrors
  * d24-vs-d11: d44 pays the honest all-grams pass to pin semantics,
  * d45 is the winnowed shape that holds at 100 TB and still matches
  * the SAME exhaustive oracle exactly (the winnowing guarantee makes
  * it exact, not approximate, for the ≥ k+w−1 contract), and d46
  * executes the cut — the corpus TRANSFORMATION, not just the report.
  */
object SubstrOps extends QueryPack {

  def queries: Map[String, QueryFn] = Map(
    // EXACT ANCHOR: every 40-codepoint gram of every document,
    // grouped; grams living in >= 2 distinct documents, with the
    // distinct-doc count. O(corpus * 40) shuffled bytes by contract —
    // the all-positions corpus pass that pins what "repeated run"
    // means, same role d24 plays for the LSH family.
    "d44_repeated_grams" -> { (s, dir) =>
      SubstrDedup.repeatedGramDocs(t(s, dir, "documents"),
        "doc_id", "text", L = 40)
    },
    // THE SCALE PATH, still exact: distinct doc pairs sharing a run of
    // >= 59 codepoints, found via winnowed fingerprints (k=40, w=20,
    // density ~2/21) + per-pair verification against real text. The
    // fingerprint join shuffles 16-byte rows for ~10% of positions
    // instead of 59-byte grams for all positions; candidates form only
    // on fingerprint-hash agreement; texts move once per candidate id.
    // Same exhaustive oracle shape as d44 — the winnowing guarantee
    // (see [[graft.functions.Winnow]]) is what lets a sampled index
    // answer an exact predicate.
    "d45_long_repeat_pairs" -> { (s, dir) =>
      SubstrDedup.longRepeatPairs(t(s, dir, "documents"),
        "doc_id", "text", minLen = 59, w = 20)
    },
    // THE CUT ITSELF: documents re-emitted with every codepoint covered
    // by a 59-gram shared with a smaller-id document removed and the
    // surviving segments re-joined — Lee et al.'s ExactSubstr dedup as
    // a corpus transformation, keep-first survivorship. Linear shape:
    // min-id per gram joined back (a d-doc boilerplate gram costs d
    // rows, never d²), one sorted start array per affected doc, one
    // aggregate() fold doing interval-merged substr slices. Verified
    // character-for-character against DuckDB's ordered string_agg
    // reconstruction.
    "d46_exact_substr_clean" -> { (s, dir) =>
      SubstrDedup.cleanText(t(s, dir, "documents"),
        "doc_id", "text", L = 59)
    },
    // THE BIPARTITE CUT: src0's documents scrubbed against the
    // immutable reference of every OTHER source — the production shape
    // of ExactSubstr dedup (a frozen training corpus, a stream of
    // candidate additions; the reference keeps everything, arrivals
    // shed every span the reference already holds, arrival-to-arrival
    // sharing is untouched). The probe joins the one-representative-
    // per-distinct-gram index on the 64-bit hash (bounded fan-out on
    // hot boilerplate grams) and verifies against reference TEXT, so
    // collisions cannot mis-cut. Same operator the streaming scrub
    // runs per micro-batch.
    "d47_scrub_against_corpus" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      SubstrDedup.scrubAgainstCorpus(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"),
        "doc_id", "text", L = 59)
    },
    // SEGMENT-LEVEL keep-first dedup over content-defined boundaries
    // (rsync/LBFS residue rule, expected segment 16 tokens) — the
    // "paragraph dedup" modality for a layout-free corpus, and the
    // shift-invariant one: an inserted word moves offsets but not
    // boundary tokens, so shared runs still dedup. Character-exact
    // reconstruction oracle, same contract shape as d46.
    "d48_cdc_segment_dedup" -> { (s, dir) =>
      CdcDedup.segmentDedup(t(s, dir, "documents"),
        "doc_id", "text", divisor = 16)
    },
    // Overlapping fixed-width chunking with provenance (width 32,
    // stride 24) — the context-window shaping pass. Fully narrow plan
    // (explode + slice, zero shuffles): the plan a 100 TB chunking run
    // needs, and the query surface proves it stays that way.
    "d49_chunk_overlap" -> { (s, dir) =>
      CdcDedup.chunks(t(s, dir, "documents"),
        "doc_id", "text", width = 32, stride = 24)
    },
    // THE BIPARTITE SEGMENT CUT — d47's shape at segment granularity:
    // src0's documents shed every content-defined segment whose text
    // exists anywhere in the other sources (the immutable reference);
    // arrival-to-arrival sharing untouched. One 16-byte digest per
    // DISTINCT reference segment, shuffle-hash on the index side (a
    // corpus-scaled aggregate must never broadcast), divisor stamped
    // and enforced. Same operator the streaming segment scrub runs
    // per micro-batch.
    "d50_segment_scrub" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      CdcDedup.scrubSegments(
        docs.filter(col("source") === "src0"),
        "doc_id", "text",
        CdcDedup.segmentIndex(
          docs.filter(col("source") =!= "src0"),
          "doc_id", "text", divisor = 16),
        divisor = 16)
    },
  )

  def oracleSql: Map[String, String] = Map(
    "d44_repeated_grams" ->
      """WITH pos AS (
           SELECT doc_id, text,
                  unnest(generate_series(1, length(text) - 39)) AS p
           FROM documents WHERE length(text) >= 40
         )
         SELECT substr(text, p, 40) AS gram,
                count(DISTINCT doc_id) AS n_docs
         FROM pos GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""",
    "d45_long_repeat_pairs" ->
      """WITH pos AS (
           SELECT doc_id, text,
                  unnest(generate_series(1, length(text) - 58)) AS p
           FROM documents WHERE length(text) >= 59
         ), g AS (
           SELECT substr(text, p, 59) AS g, doc_id FROM pos
         )
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id""",
    "d46_exact_substr_clean" ->
      """WITH pos AS (
           SELECT doc_id, text,
                  unnest(generate_series(1, length(text) - 58)) AS p
           FROM documents WHERE length(text) >= 59
         ), g AS (
           SELECT doc_id, p, substr(text, p, 59) AS g FROM pos
         ), mn AS (
           SELECT g, min(doc_id) AS mnid FROM g GROUP BY g
         ), cov AS (
           SELECT a.doc_id, a.p FROM g a JOIN mn ON a.g = mn.g
           WHERE mn.mnid < a.doc_id
         ), mask AS (
           SELECT DISTINCT doc_id, q FROM (
             SELECT doc_id, unnest(generate_series(p, p + 58)) AS q
             FROM cov)
         ), chars AS (
           SELECT doc_id, text,
                  unnest(generate_series(1, length(text))) AS i
           FROM documents
         ), agg AS (
           SELECT c.doc_id,
                  string_agg(CASE WHEN m.q IS NULL
                    THEN substr(c.text, c.i, 1) END, ''
                    ORDER BY c.i) AS ct
           FROM chars c LEFT JOIN mask m
             ON m.doc_id = c.doc_id AND m.q = c.i
           GROUP BY c.doc_id
         )
         SELECT d.doc_id, coalesce(a.ct, '') AS clean_text
         FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""",
    "d47_scrub_against_corpus" ->
      """WITH rg AS (
           SELECT DISTINCT substr(text, p, 59) AS g FROM (
             SELECT text,
                    unnest(generate_series(1, length(text) - 58)) AS p
             FROM documents
             WHERE source <> 'src0' AND length(text) >= 59)
         ), arr AS (
           SELECT doc_id, text FROM documents WHERE source = 'src0'
         ), apos AS (
           SELECT doc_id, text,
                  unnest(generate_series(1, length(text) - 58)) AS p
           FROM arr WHERE length(text) >= 59
         ), cov AS (
           SELECT a.doc_id, a.p
           FROM apos a JOIN rg ON substr(a.text, a.p, 59) = rg.g
         ), mask AS (
           SELECT DISTINCT doc_id, q FROM (
             SELECT doc_id, unnest(generate_series(p, p + 58)) AS q
             FROM cov)
         ), chars AS (
           SELECT doc_id, text,
                  unnest(generate_series(1, length(text))) AS i
           FROM arr
         ), agg AS (
           SELECT c.doc_id,
                  string_agg(CASE WHEN m.q IS NULL
                    THEN substr(c.text, c.i, 1) END, ''
                    ORDER BY c.i) AS ct
           FROM chars c LEFT JOIN mask m
             ON m.doc_id = c.doc_id AND m.q = c.i
           GROUP BY c.doc_id
         )
         SELECT d.doc_id, coalesce(a.ct, '') AS clean_text
         FROM arr d LEFT JOIN agg a ON a.doc_id = d.doc_id""",
    // boundary rule replicated via the d05 char fold; keep-first
    // survivorship via a (text → min occurrence) window; reconstruction
    // via ordered string_agg — character-exact on both engines
    "d48_cdc_segment_dedup" ->
      """WITH toks AS (
           SELECT doc_id, ts[CAST(i AS INT)] AS tok, CAST(i AS INT) AS ord
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS ts
                 FROM documents),
                UNNEST(range(1, len(ts) + 1)) AS u(i)
         ), b AS (
           SELECT doc_id, tok, ord,
                  CASE WHEN list_reduce([0::BIGINT] ||
                         list_transform(range(length(tok)),
                           i -> unicode(substring(tok, CAST(i+1 AS INT), 1))),
                         (a, b) -> (a * 31 + b) % 1000000007) % 16 = 0
                    THEN 1 ELSE 0 END AS bd
           FROM toks
         ), seg AS (
           SELECT doc_id, tok, ord,
                  sum(bd) OVER (PARTITION BY doc_id ORDER BY ord) AS sid
           FROM b
         ), segs AS (
           SELECT doc_id, sid, min(ord) AS seg_start,
                  string_agg(tok, ' ' ORDER BY ord) AS seg_text
           FROM seg GROUP BY doc_id, sid
         ), k AS (
           SELECT *, row_number() OVER (PARTITION BY seg_text
                       ORDER BY doc_id, seg_start) AS rn
           FROM segs
         ), agg AS (
           SELECT doc_id,
                  CAST(count(1) AS BIGINT) AS n_segs,
                  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_kept,
                  coalesce(string_agg(CASE WHEN rn = 1 THEN seg_text END,
                    ' ' ORDER BY seg_start), '') AS ct
           FROM k GROUP BY doc_id
         )
         SELECT d.doc_id, coalesce(a.ct, '') AS clean_text,
                coalesce(a.n_segs, 0) AS n_segs,
                coalesce(a.n_kept, 0) AS n_kept
         FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""",
    "d50_segment_scrub" ->
      """WITH toks AS (
           SELECT doc_id, source, ts[CAST(i AS INT)] AS tok,
                  CAST(i AS INT) AS ord
           FROM (SELECT doc_id, source,
                   list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS ts
                 FROM documents),
                UNNEST(range(1, len(ts) + 1)) AS u(i)
         ), b AS (
           SELECT doc_id, source, tok, ord,
                  CASE WHEN list_reduce([0::BIGINT] ||
                         list_transform(range(length(tok)),
                           i -> unicode(substring(tok, CAST(i+1 AS INT), 1))),
                         (a, b) -> (a * 31 + b) % 1000000007) % 16 = 0
                    THEN 1 ELSE 0 END AS bd
           FROM toks
         ), seg AS (
           SELECT doc_id, source, tok, ord,
                  sum(bd) OVER (PARTITION BY doc_id ORDER BY ord) AS sid
           FROM b
         ), segs AS (
           SELECT doc_id, source, sid, min(ord) AS seg_start,
                  string_agg(tok, ' ' ORDER BY ord) AS seg_text
           FROM seg GROUP BY doc_id, source, sid
         ), ref AS (
           SELECT DISTINCT seg_text FROM segs WHERE source <> 'src0'
         ), arr AS (
           SELECT * FROM segs WHERE source = 'src0'
         ), agg AS (
           SELECT a.doc_id,
                  CAST(count(1) AS BIGINT) AS n_segs,
                  CAST(sum(CASE WHEN r.seg_text IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
                  coalesce(string_agg(
                    CASE WHEN r.seg_text IS NULL THEN a.seg_text END,
                    ' ' ORDER BY a.seg_start), '') AS ct
           FROM arr a LEFT JOIN ref r ON a.seg_text = r.seg_text
           GROUP BY a.doc_id
         )
         SELECT d.doc_id, coalesce(a.ct, '') AS clean_text,
                coalesce(a.n_segs, 0) AS n_segs,
                coalesce(a.n_kept, 0) AS n_kept
         FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
         LEFT JOIN agg a ON a.doc_id = d.doc_id""",
    "d49_chunk_overlap" ->
      """SELECT doc_id,
                CAST(s / 24 AS BIGINT) AS chunk_idx,
                CAST(s AS BIGINT) AS start_word,
                CAST(len(ts[s + 1 : s + 32]) AS BIGINT) AS n_words,
                array_to_string(ts[s + 1 : s + 32], ' ') AS chunk_text
         FROM (SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                   x -> x <> '') AS ts
               FROM documents),
              LATERAL (SELECT unnest(generate_series(0,
                greatest(len(ts) - 1, 0), 24)) AS s)""",
  )
}
