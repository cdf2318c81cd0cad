package graft.queries

import graft.QueryPack
import graft.functions.{SamplingFunctions, TextFunctions}
import graft.operators.Decontam
import org.apache.spark.sql.functions._

/** The capstone composition: a full training-data curation funnel as
  * ONE declarative plan — quality gate → exact dedup → leak-free split
  * → decontamination → mixture re-balancing — each stage individually
  * oracle-proven elsewhere (d13/d02, d01, d15, d23, d19), here chained
  * so Catalyst sees the WHOLE funnel and optimizes across stage
  * boundaries (the quality gate's filter reaches the parquet scan that
  * feeds every later stage; the dedup winner join and the decontam
  * probe share one exchange of the gated frame).
  *
  * Why this is a distinct thing to verify and not five queries in a
  * trench coat: curation stages INTERACT. The dedup pass must run
  * before the split (identical texts land in one split by content
  * hashing, but only the dedup winner should survive); decontamination
  * must see the SPLIT survivors (a train doc is only "leaky" if the
  * contained doc actually ended up in val/test); the mixture rates
  * must be computed over the CLEAN corpus (a language whose documents
  * were mostly dropped as leaks must be re-weighted from what is
  * left, not from the raw counts). The oracle replays the same order
  * as CTEs, so a stage wired in the wrong order hash-mismatches.
  *
  * Scale shape, stage by stage (the 100 TB contract):
  *  - quality + length gate: pure map-side projection/filter at the
  *    scan — prunes before anything shuffles;
  *  - exact dedup: digest-keyed groupBy (16-byte md5 rows shuffle,
  *    never text), min-id winners semi-joined back (d01's shape);
  *  - split: content-hash bucket, stateless map-side (d15's shape) —
  *    no RNG, reproducible across cluster layouts and retries;
  *  - decontam: min-DF-seeded containment probe, fan-out bounded by
  *    the rarest posting list per eval doc (d23's shape); the stage-1
  *    token gate guarantees every eval doc is seedable (>= 16 tokens
  *    >= the 8-gram bound), so no short-doc side path is needed;
  *  - mixture: per-language rates from a 5-row aggregate broadcast
  *    back (d19's shape); the keep-decision is a map-side bucket
  *    compare against an INDEPENDENT content hash (the reversed-text
  *    fold — reusing the split bucket would correlate sampling with
  *    split membership and gut val/test at rates < 100).
  */
object Curation extends QueryPack {

  /** DuckDB replica of [[TextFunctions.rollingHashMod]] over an
    * arbitrary string SQL expression (see d12 for the cross-engine
    * contract; TrainingOps2.foldSql is the `text`-fixed instance). */
  private def foldSqlOf(expr: String): String =
    s"""list_reduce([0::BIGINT] ||
         list_transform(range(length($expr)),
           i -> unicode(substring($expr, CAST(i+1 AS INT), 1))),
         (a, b) -> (a * 31 + b) % 1000000007)"""

  override def queries: Map[String, QueryFn] = Map(

    "d51_curation_pipeline" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // stage 1 — quality gate: composite score >= 0.7 AND token count
      // in [16, 90]. Both map-side; the length band is the
      // discriminative gate on this corpus (score saturates at 1.0 on
      // clean synthetic text — kept anyway because the SEMANTICS of
      // the funnel include it, and real corpora spread the score).
      // One compiled pass (QualityStats — bit-identical to the
      // qualityScore/tokenCount column forms): the funnel re-executes
      // this gate subtree once per plan branch below, so its per-row
      // cost multiplies; n_tokens is CARRIED from the gate (the
      // oracle's gated CTE does the same) instead of re-tokenizing
      // the survivors at the end.
      val qs = graft.functions.QualityStats.qualityStats(col("text"))
      val gated = docs
        .withColumn("_qs", qs)
        .filter(col("_qs.score") >= 0.7 &&
          col("_qs.n_tokens").between(16, 90))
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          col("_qs.n_tokens").as("n_tokens"))
      // stage 2 — exact dedup, keep-first: one winner (min doc_id) per
      // distinct text; digests shuffle, text stays put (d01 shape).
      val winners = gated
        .groupBy(md5(col("text")).as("_d"))
        .agg(min(col("doc_id")).as("doc_id"))
      val deduped = gated.join(
        winners.select(col("doc_id")).hint("shuffle_hash"),
        Seq("doc_id"), "left_semi")
      // stage 3 — leak-free 80/10/10 split by content bucket (d15).
      val labeled = deduped.withColumn("split",
        SamplingFunctions.splitLabel(
          SamplingFunctions.hashBucket(col("text"))))
      // stage 4 — decontamination: drop every TRAIN doc that contains
      // a val/test survivor verbatim (word-aligned). The stage-1 gate
      // guarantees every eval doc has >= 16 tokens, so the seeded
      // 8-gram probe screens ALL of them — [[Decontam.probeShort]]'s
      // broadcast branch would be one dead extra corpus scan here
      // (its eval set is provably empty under the gate).
      val idx = Decontam.buildIndex(
        labeled.filter(col("split") === "train"), "doc_id", "text")
      val leaky = Decontam.probe(idx,
          labeled.filter(col("split") =!= "train"), "doc_id", "text")
        .select(col("train_id").as("doc_id")).distinct()
      val clean = labeled.join(leaky, Seq("doc_id"), "left_anti")
      // stage 5 — uniform-language mixture over the CLEAN corpus:
      // rate = min(100%, total / n_langs / cnt), counts observed after
      // every upstream drop (d19 shape: 5-row aggregate, broadcast
      // grand totals, integer arithmetic identical to the oracle).
      val perLang = clean.groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"))
      val grand = perLang.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_strata"))
      val rates = perLang.crossJoin(broadcast(grand))
        .select(col("lang"),
          least(lit(100L), expr("(total * 100) div (n_strata * cnt)"))
            .as("rate_pct"))
      // the mixture bucket hashes the REVERSED text: content-derived
      // (deterministic, leak-free) but independent of the split bucket.
      clean
        .withColumn("mix_bucket",
          SamplingFunctions.hashBucket(reverse(col("text"))))
        .join(broadcast(rates), Seq("lang"))
        .filter(col("mix_bucket") < col("rate_pct"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_tokens"), col("split"))
    },
  )

  override def oracleSql: Map[String, String] = Map(
    "d51_curation_pipeline" ->
      s"""WITH r AS (
           SELECT doc_id, lang, source, text,
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
             list_filter(string_split_regex(trim(text), '\\s+'),
               x -> x <> '') AS ts
           FROM documents),
         m AS (
           SELECT *,
             CASE WHEN length(text) BETWEEN 20 AND 10000
                  THEN 1.0 ELSE 0.5 END AS len_ok,
             CASE WHEN len(ts) = 0 THEN 0.0 ELSE
               CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE)
                 / CAST(len(ts) AS DOUBLE) END AS mean_tok
           FROM r),
         gated AS (
           SELECT doc_id, lang, source, text, len(ts) AS n_tokens
           FROM m
           WHERE greatest(least(len_ok * 0.25
                   + (1.0 - digit_r - punct_r) * 0.35
                   + (1.0 - upper_r) * 0.2
                   + (CASE WHEN mean_tok BETWEEN 2.0 AND 12.0
                      THEN 1.0 ELSE 0.5 END) * 0.2, 1.0), 0.0) >= 0.7
             AND len(ts) BETWEEN 16 AND 90),
         w AS (
           SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
         lab AS (
           SELECT g.*, ${foldSqlOf("g.text")} % 100 AS bucket
           FROM gated g JOIN w ON g.doc_id = w.doc_id),
         sp AS (
           SELECT doc_id, lang, source, text, n_tokens,
                  CASE WHEN bucket < 80 THEN 'train'
                       WHEN bucket < 90 THEN 'val'
                       ELSE 'test' END AS split
           FROM lab),
         tr AS (SELECT * FROM sp WHERE split = 'train'),
         ev AS (
           SELECT * FROM sp WHERE split <> 'train' AND n_tokens >= 1),
         bad AS (
           SELECT DISTINCT tr.doc_id FROM tr JOIN ev
             ON contains(' ' || tr.text || ' ', ' ' || ev.text || ' ')),
         clean AS (
           SELECT sp.* FROM sp LEFT JOIN bad ON sp.doc_id = bad.doc_id
           WHERE bad.doc_id IS NULL),
         per AS (SELECT lang, count(1) AS cnt FROM clean GROUP BY lang),
         grand AS (
           SELECT sum(cnt) AS total, count(1) AS n_strata FROM per),
         rates AS (
           SELECT lang,
                  least(100, (grand.total * 100) //
                             (grand.n_strata * per.cnt)) AS rate_pct
           FROM per, grand)
         SELECT c.doc_id, c.lang, c.source,
                CAST(c.n_tokens AS INT) AS n_tokens, c.split
         FROM clean c JOIN rates rt ON c.lang = rt.lang
         WHERE ${foldSqlOf("reverse(c.text)")} % 100 < rt.rate_pct""",
  )
}
