package graft

import graft.operators.{IvfIndex, PqIndex, Similarity}
import org.apache.spark.sql.DataFrame

/** The contract every cosine top-k search shares, table-driven over
  * the four of them (brute force, SRP-LSH at one and at several probe
  * buckets, IVF, PQ shortlist + exact re-rank): a query never lists
  * itself, ranks run 1..k per query, cosine ties go to the smaller
  * neighbor id, and the columns are (query_id, neighbor_id, cosine,
  * rank).
  *
  * The corpus is tiny and every approximate tier is run at full reach
  * (every LSH bucket, every IVF list, a shortlist past the corpus), so
  * each answer is the exact one. The one-bucket LSH probe reaches it
  * too: every listed neighbor's SRP projections share their query's
  * signs (the planes are ±1 per dimension). Positive multiples of one
  * axis have cosine exactly 1.0 with each other, which makes the ties
  * exact.
  */
class CosineTopKContractSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    0L -> Array(1f, 0f, 0f, 0f), // query: ties 1, 2, 3 (and itself)
    1L -> Array(2f, 0f, 0f, 0f),
    2L -> Array(3f, 0f, 0f, 0f),
    3L -> Array(0.5f, 0f, 0f, 0f),
    4L -> Array(0f, 1f, 0f, 0f), // query: 7 at 1.0, then 5 just below
    5L -> Array(0f, 1f, 0f, 0.01f),
    6L -> Array(0f, 0f, 1f, 0f),
    7L -> Array(0f, 2f, 0f, 0f),
    8L -> Array(0f, 0f, 0f, 1f)).toDF("vec_id", "embedding")
  private def queries = corpus.filter($"vec_id" === 0L || $"vec_id" === 4L)
  private val k = 2
  private val expected = Map(0L -> Seq(1L, 2L), 4L -> Seq(7L, 5L))

  private val searches: Seq[(String, () => DataFrame)] = Seq(
    "bruteForceTopK" -> (() => Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", k)),
    "lshTopK, probeBuckets = 1" -> (() => Similarity.lshTopK(corpus,
      queries, "vec_id", "embedding", k, planes = 2)),
    // planes = 2 has exactly 4 buckets within two flips: all of them
    "lshTopK, probeBuckets = 4" -> (() => Similarity.lshTopK(corpus,
      queries, "vec_id", "embedding", k, planes = 2, probeBuckets = 4)),
    "IvfIndex.search" -> { () =>
      val centroids = Seq(0 -> Seq(1.0, 0.0, 0.0, 0.0),
        1 -> Seq(0.0, 1.0, 0.0, 0.0)).toDF("centroid_id", "centroid")
      IvfIndex.search(corpus, queries, "vec_id", "embedding", centroids,
        k, nProbe = 2)
    },
    "PqIndex.searchRefined" -> { () =>
      val codebook = PqIndex.fit(corpus, "vec_id", "embedding", m = 2,
        k = 2, iters = 2)
      val encoded = PqIndex.encode(corpus, "vec_id", "embedding",
        codebook)
      PqIndex.searchRefined(encoded, corpus, queries, "vec_id",
        "embedding", codebook, k, shortlist = 100)
    })

  for ((name, search) <- searches)
    test(s"$name: no self, ranks 1..k, ties to the smaller id") {
      val df = search()
      assert(df.columns.toSeq ==
        Seq("query_id", "neighbor_id", "cosine", "rank"))
      val rows = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(rows.forall(r => r._1 != r._2), "a query listed itself")
      val byQuery = rows.groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._4).toSeq }
      assert(byQuery.keySet == expected.keySet)
      for ((q, rs) <- byQuery) {
        assert(rs.map(_._4) == (1 to k), s"query $q ranks")
        assert(rs.map(_._2) == expected(q), s"query $q neighbors")
      }
      // the tie the smaller ids win: query 0's rank 1 and 2 score the
      // same cosine as the excluded neighbor 3
      assert(byQuery(0L).map(_._3).forall(_ == 1.0))
    }
}
