package graft

import graft.functions.{PolyHashFunctions, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens / charNGrams / wordShingles") {
    val df = Seq("the quick  brown fox", "", "  one  ").toDF("t")
    val rows = df.select(
      TextFunctions.tokens(col("t")).as("tok"),
      TextFunctions.charNGrams(col("t"), 3).as("ng"),
      TextFunctions.wordShingles(col("t"), 2).as("sh")).collect()
    assert(rows(0).getSeq[String](0) == Seq("the", "quick", "brown", "fox"))
    assert(rows(0).getSeq[String](1).take(3) == Seq("the", "he ", "e q"))
    assert(rows(0).getSeq[String](2) ==
      Seq("the quick", "quick brown", "brown fox"))
    assert(rows(1).getSeq[String](0).isEmpty)
    assert(rows(1).getSeq[String](1).isEmpty)
    assert(rows(2).getSeq[String](0) == Seq("one"))
  }

  test("quality ratios are exact") {
    val rows = Seq("ab12", "    ", "HELLO there").toDF("t").select(
      TextFunctions.digitRatio(col("t")),
      TextFunctions.upperRatio(col("t")),
      TextFunctions.meanTokenLength(col("t"))).collect()
    assert(rows(0).getDouble(0) == 0.5)
    assert(rows(0).getDouble(1) == 0.0)
    assert(rows(0).getDouble(2) == 4.0)
    assert(rows(1).getDouble(2) == 0.0) // whitespace-only → no tokens
    assert(rows(2).getDouble(1) == 5.0 / 11.0)
  }

  test("langId picks the dominant stopword profile") {
    val rows = Seq(
      "the cat and the dog in a house",
      "der hund und die katze ist nicht da",
      "le chat et la maison dans les arbres",
      "xyzzy qwerty").toDF("t")
      .select(TextFunctions.langId(col("t"))).as[String].collect()
    assert(rows.toSeq == Seq("en", "de", "fr", "unknown"))
  }

  test("poly_hash: stable, order-sensitive, codegen == reference impl") {
    val texts = Seq("", "a", "ab", "ba", "hello world",
      "Ünïcödé ﬆring with ✓", "x" * 5000)
    def hashed(codegen: Boolean): Seq[Long] = collectOn(codegen)(
      texts.toDF("t").select(PolyHashFunctions.poly_hash(col("t"))))
      .map(_.getLong(0)).toSeq
    // reference evaluation in plain Scala (same byte math)
    val expected = texts.map(t =>
      graft.functions.PolyHash.hashBytes(t.getBytes("UTF-8")))
    val hashes = hashed(codegen = true)
    assert(hashes == expected)
    assert(hashed(codegen = false) == expected)
    assert(hashes(2) != hashes(3)) // "ab" vs "ba": position matters
    assert(hashes.forall(h => h >= 0 && h < (1L << 61) - 1))
  }

  test("exact dedup keeps min id per digest") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"))
      .toDF("id", "text")
    val out = Dedup.exact(df, "id", "text")
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 3L), (2L, 1L)))
  }

  test("minhash estimate tracks exact jaccard") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy cat again and again"
    val c = "completely different words nothing shared at all here today"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val sig = Dedup.minhashSignature(
      TextFunctions.wordShingles(col("text"), 3), 128)
    val sigs = df.select(col("id"), sig.as("sig"))
    val x = sigs.filter(col("id") === 1).select(col("sig").as("s1"))
    val y = sigs.filter(col("id") === 2).select(col("sig").as("s2"))
    val z = sigs.filter(col("id") === 3).select(col("sig").as("s3"))
    val est = x.crossJoin(y).crossJoin(z).select(
      Dedup.estimatedJaccard(col("s1"), col("s2")).as("ab"),
      Dedup.estimatedJaccard(col("s1"), col("s3")).as("ac")).collect()(0)
    // exact 3-shingle jaccard(a,b): shingle sets differ in 3 of 10 → ~0.54
    assert(est.getDouble(0) > 0.3 && est.getDouble(0) < 0.8)
    assert(est.getDouble(1) < 0.1)
  }

  test("minhashLshPairs finds the near-dup, skips the unrelated") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy cat again and again"
    val c = "completely different words nothing shared at all here today"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val pairs = Dedup.minhashLshPairs(df, "id", "text",
      shingleSize = 2, bands = 32, rowsPerBand = 2, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical → 0 hamming; near texts < far texts") {
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "the quick brown fox jumps over the lazy cat"
    val c = "totally unrelated sentence about spark engines running fast"
    val df = Seq(a, b, c).toDF("text")
      .select(Dedup.simhash(col("text")).as("h")).as[Long].collect()
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(df(0), df(0)) == 0)
    assert(ham(df(0), df(1)) < ham(df(0), df(2)))
  }

  test("ngramJaccard: identical=1, disjoint=0") {
    val df = Seq(("abcdef", "abcdef", "xyzuvw")).toDF("a", "b", "c")
    val r = df.select(
      Dedup.ngramJaccard(col("a"), col("b")),
      Dedup.ngramJaccard(col("a"), col("c"))).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
  }

  test("aggregate-path signatures equal expression-path signatures") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "")).toDF("id", "text")
    val viaExpr = docs.select(col("id"), Dedup.minhashSignature(
      TextFunctions.wordShingles(col("text"), 2), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = Dedup.minhashSignatures(docs, "id", "text", 2, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr == viaAgg)

    val shExpr = docs.select(col("id"),
      Dedup.simhash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shAgg = Dedup.simhashSketches(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shExpr == shAgg)
  }

  test("cosine similarity and brute-force topk") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs,
      vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(math.abs(top(0).getDouble(2) -
      0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1)) < 1e-6)
  }

  test("lsh topk returns a subset of brute-force candidates with rank") {
    val vecs = (0L until 50L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val lsh = Similarity.lshTopK(vecs, queries, "vec_id", "embedding",
      k = 3, planes = 2)
    val rows = lsh.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(3) <= 3))
  }

  test("GraftFunctions SQL registration") {
    graft.functions.GraftFunctions.register(spark)
    Seq(("Code Départ’ement", "camelCaseName")).toDF("a", "b")
      .createOrReplaceTempView("gf_test")
    val r = spark.sql(
      """SELECT poly_hash(a) AS h, graft_sanitize(a) AS s,
                graft_to_snake(b) AS sn, graft_to_standard(a) AS st
         FROM gf_test""").collect()(0)
    assert(r.getLong(0) ==
      graft.functions.PolyHash.hashBytes("Code Départ’ement".getBytes("UTF-8")))
    assert(r.getString(1) == "Code Departement")
    assert(r.getString(2) == "camel_case_name")
    assert(r.getString(3) == "code_departement")

    // r16 kernels on the SQL surface ≡ their Column APIs
    Seq("hello brave new world of spark").toDF("text")
      .createOrReplaceTempView("gf_kernels")
    val k = spark.sql(
      """SELECT gram_hashes(text, 5) AS gh,
                word_shingle_hashes(text, 2) AS wh,
                quality_stats(text).n_tokens AS nt,
                gram_rows(text, 5)[0].g AS g0
         FROM gf_kernels""").collect()(0)
    val viaCols = Seq("hello brave new world of spark").toDF("text")
      .select(
        graft.functions.GramHash.gramHashes(col("text"), 5).as("gh"),
        graft.functions.WordShingles.shingleHashes(col("text"), 2)
          .as("wh"),
        graft.functions.QualityStats.qualityStats(col("text"))
          .getField("n_tokens").as("nt")).collect()(0)
    assert(k.getSeq[Long](0) == viaCols.getSeq[Long](0))
    assert(k.getSeq[Long](1) == viaCols.getSeq[Long](1))
    assert(k.getInt(2) == viaCols.getInt(2) && k.getInt(2) == 6)
    assert(k.getString(3) == "hello")
    // the int argument must be a literal on the SQL surface
    intercept[Exception] {
      spark.sql("SELECT gram_hashes(text, CAST(length(text) AS INT)) " +
        "FROM gf_kernels").collect()
    }
  }

  test("bandsFor hits the LSH S-curve crossover") {
    assert(Dedup.bandsFor(0.5, 64) == (16, 4))
    val (b, r) = Dedup.bandsFor(0.9, 64)
    assert(math.abs(math.pow(1.0 / b, 1.0 / r) - 0.9) < 0.1)
    assert(b * r == 64)
  }

  test("multi-probe simhash finds at least the single-prefix pairs") {
    val docs = (1L to 20L).map { i =>
      (i, if (i <= 10) s"shared common words here plus token$i"
          else s"completely other vocabulary over there item$i wild")
    }.toDF("id", "text")
    val single = Dedup.simhashPairs(docs, "id", "text", 20, 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val multi = Dedup.simhashPairsMultiProbe(docs, "id", "text", 20, 16, 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi))
  }

  test("connected components merge transitive near-dup chains") {
    // chain 1-2-3-4, pair 10-11, isolated 20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val out = Dedup.nearDupSurvivors(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert((1L to 4L).forall(i => out(i)._1 == 1L))
    assert(out(10L)._1 == 10L && out(11L)._1 == 10L)
    assert(out(20L) == (20L, true)) // isolated survives as its own cluster
    assert(out.count(_._2._2) == 3) // survivors: 1, 10, 20
  }

  test("connected components resolve a 300-hop chain inside the default " +
       "round budget (star contraction)") {
    // a duplicate CHAIN — each hop similar, ends far apart — is the
    // adversarial diameter case: neighbor-min propagation needs ~300
    // rounds here and would silently stop wrong at any sane budget;
    // star contraction collapses chains geometrically, so the default
    // budget must suffice and every node must collapse to label 0.
    val pairs = (0L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var rounds = 0
    val comps = Dedup.connectedComponents(pairs,
        onRound = (i, _) => rounds = i)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length == 301)
    assert(comps.forall(_._2 == 0L))
    assert(rounds <= 10, s"took $rounds rounds")
  }

  test("connected components resolve chains whose ids are uncorrelated " +
       "with graph position (the case pointer jumping could not)") {
    // ids shuffled along the chain: under min-label propagation every
    // intermediate label is a LOCAL min (its own label is itself), so
    // the jump step was a no-op and rounds ≈ diameter — measured 17
    // rounds on the ~sf1 SemDeDup graph. Star contraction rewrites
    // edges toward neighborhood minima, so id placement is irrelevant.
    // Deterministic shuffle: position i holds id (i*211) mod 499
    // (211 coprime to 499 ⇒ a permutation of 0..498).
    val ids = (0 until 499).map(i => (i * 211 % 499).toLong)
    val pairs = ids.zip(ids.tail).toDF("id_a", "id_b")
    var rounds = 0
    val comps = Dedup.connectedComponents(pairs,
        onRound = (i, _) => rounds = i)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length == 499)
    assert(comps.forall(_._2 == 0L))
    assert(rounds <= 8, s"took $rounds rounds")
    // two shuffled chains + an isolated pair stay separate components
    val multi = (ids.take(100).zip(ids.tail.take(100)) ++
      Seq((1000L, 1001L), (1001L, 1002L), (2000L, 2001L)))
      .toDF("id_a", "id_b")
    val m = Dedup.connectedComponents(multi)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chainMin = ids.take(101).min
    assert(ids.take(101).forall(i => m(i) == chainMin))
    assert(m(1000L) == 1000L && m(1002L) == 1000L && m(2001L) == 2000L)
  }

  test("closed-star freeze retires pair mass at round 0 and shrinks the " +
       "frontier each round") {
    // 200 isolated duplicate pairs (the dominant shape of a real dedup
    // graph) + one 40-hop chain. The pairs are closed stars already, so
    // the round-0 freeze must retire all 200 of them BEFORE the first
    // contraction ever shuffles an edge — that is the at-scale point:
    // rounds re-shuffle only the unresolved frontier, not the full
    // edge table. Labels must still be exact for both families.
    val pairs = ((0 until 200).map(i => (5000L + 2 * i, 5001L + 2 * i)) ++
      (0L until 40L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val freezes = scala.collection.mutable.Buffer.empty[(Int, Long, Long)]
    // localFinishEdges = 0: this spec pins the DISTRIBUTED freeze
    // semantics (the at-scale path a sub-cap fixture would otherwise
    // shadow by going straight to the driver union-find); the local
    // path is pinned by the straddle spec below
    val comps = Dedup.connectedComponents(pairs,
        onFreeze = Some((r, frozen, active) =>
          freezes += ((r, frozen, active))),
        localFinishEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 0: exactly the 200 pairs freeze (400 label rows), leaving
    // only the 40 chain edges active
    assert(freezes.head._1 == 0)
    assert(freezes.head._2 == 400L,
      s"round-0 frozen label rows: ${freezes.head._2}")
    assert(freezes.head._3 == 40L,
      s"round-0 active frontier: ${freezes.head._3}")
    // the frontier never grows round-over-round once freezing starts
    // from the chain-only remainder, and the last freeze empties it
    assert(freezes.last._3 == 0L)
    // labels exact: each pair maps to its even endpoint, chain to 0
    assert((0 until 200).forall { i =>
      comps(5000L + 2 * i) == 5000L + 2 * i &&
        comps(5001L + 2 * i) == 5000L + 2 * i
    })
    assert((0L to 40L).forall(comps(_) == 0L))
    assert(comps.size == 441)
  }

  test("connected components equal a reference union-find on randomized " +
       "graph families") {
    // deterministic LCG so the families are reproducible; shapes chosen
    // to stress star contraction's phases differently: sparse (forest-
    // like, deep), dense-ish (many merging rounds collapse fast), and
    // preferential (hub-heavy — the large-star fan-out case).
    var seed = 0x9E3779B97F4A7C15L
    def nextLong(): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 17) & 0x7FFFFFFFL
    }
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(i => i)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // component label = min node id = the root after min-directed unions
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    for ((n, m) <- Seq((200, 120), (200, 400), (300, 250))) {
      val edges = (1 to m).map { _ =>
        val a = nextLong() % n
        // preferential flavor on the third family: bias one endpoint low
        val b = if (n == 300) nextLong() % 20 else nextLong() % n
        (a, b)
      }.filter(e => e._1 != e._2)
      // both execution paths against the reference: the default (these
      // graphs are under the cap, so the round-0 freeze hands the
      // remainder to the driver union-find) and the pure distributed
      // loop (localFinishEdges = 0) the cap would otherwise shadow
      for (cap <- Seq(1 << 16, 0)) {
        val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
            localFinishEdges = cap)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = unionFind(n, edges)
        val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
        assert(got.keySet == touched,
          s"label rows must cover exactly the paired nodes " +
            s"(n=$n m=$m cap=$cap)")
        touched.foreach { v =>
          assert(got(v) == want(v),
            s"node $v: got ${got(v)}, want ${want(v)} (n=$n m=$m cap=$cap)")
        }
      }
    }
  }

  test("local finish fires only under the cap, and labels are " +
      "path-invariant on a frontier that straddles it") {
    // one 120-hop chain survives the round-0 freeze as a 120-edge
    // frontier: cap 200 finishes it driver-side (observer sees a
    // final freeze with active=0 and NO contraction round), cap 50
    // keeps the distributed loop (contraction rounds observed);
    // labels must be byte-identical either way
    val pairs = ((0 until 30).map(i => (9000L + 2 * i, 9001L + 2 * i)) ++
      (0L until 120L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    def run(cap: Int): (Set[(Long, Long)], Int, Long) = {
      var rounds = 0
      var lastActive = -1L
      val labels = Dedup.connectedComponents(pairs,
          onRound = (i, _) => rounds = i,
          onFreeze = Some((_, _, act) => lastActive = act),
          localFinishEdges = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (labels, rounds, lastActive)
    }
    val (labLocal, roundsLocal, activeLocal) = run(200)
    val (labDist, roundsDist, activeDist) = run(50)
    assert(labLocal == labDist, "local finish changed the labels")
    assert(roundsLocal == 0,
      s"cap=200 must finish before any contraction, ran $roundsLocal")
    assert(roundsDist > 0, "cap=50 must keep the distributed loop")
    assert(activeLocal == 0L && activeDist == 0L)
    assert(labLocal.filter(_._1 < 200L).forall(_._2 == 0L),
      "chain must collapse to node 0 on both paths")
  }

  test("shinglesOf over a staged token array equals wordShingles over " +
      "the raw text at every width — Column API and SQL registration") {
    // wordShingles is the COMPILED kernel since r15; shinglesOf is the
    // HOF fold over a staged token array — same shingles, all widths,
    // including k > len(ts) (empty), k = 1 (the tokens themselves),
    // mixed \s whitespace, astral code points, and NBSP (token
    // content, not a separator, on both paths)
    val docs = Seq("a bb ccc a bb", "one", "", "  x   y  ",
      "a a a a a a", "x\ty  x\ny \r x", "😀 a 😀 a", "a b c d")
      .toDF("text")
    graft.functions.GraftFunctions.register(spark)
    docs.createOrReplaceTempView("textops_shingle_docs")
    for (k <- 1 to 7) {
      val both = docs.select(
        TextFunctions.wordShingles(col("text"), k).as("w"),
        TextFunctions.shinglesOf(
          TextFunctions.tokens(col("text")), k).as("s"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"k=$k")
      }
      // the SQL surface is the same expression
      val sql = spark.sql(
        s"SELECT word_shingles(text, $k) FROM textops_shingle_docs")
        .collect().map(_.getSeq[String](0))
      val cols = docs.select(
        TextFunctions.wordShingles(col("text"), k)).collect()
        .map(_.getSeq[String](0))
      assert(sql.toSeq == cols.toSeq, s"SQL k=$k")
    }
    // k must be a literal on the SQL surface
    intercept[Exception] {
      spark.sql("SELECT word_shingles(text, CAST(length(text) AS INT))" +
        " FROM textops_shingle_docs").collect()
    }
  }

  test("shingleHashes ≡ xxhash64 over wordShingles at every width — " +
      "the string-free kernel is hash-compatible with stored indexes") {
    val docs = Seq("a bb ccc a bb", "one", "", "  x   y  ",
      "a a a a a a", "x\ty  x\ny \r x", "😀 a 😀 a", "a b c d",
      "été noël déjà vu encore une fois de plus ici",
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")
      .toDF("text")
    for (k <- Seq(1, 2, 3, 8)) {
      val both = docs.select(
        graft.functions.WordShingles.shingleHashes(col("text"), k)
          .as("h"),
        transform(TextFunctions.wordShingles(col("text"), k),
          g => xxhash64(g)).as("ref"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k")
      }
    }
  }

  test("qualityStats ≡ (qualityScore, tokenCount) bit-for-bit — the " +
      "fused gate kernel cannot drift from the oracle-checked columns") {
    val docs = Seq("", "   ", "ALL CAPS SHOUTING TEXT HERE OK",
      "a normal sentence with several reasonable words inside it",
      "123 456 789 000 111 222 333 444 555 666",
      "!!! ??? ... ;;; :::", "short",
      "x " * 60 + "tail", "é ü ñ ç words with açcénts everywhere",
      "mix 42 UPPER low !punct? and much longer tokens abcdefghijklm")
      .toDF("text")
    val rows = docs.select(
      graft.functions.QualityStats.qualityStats(col("text")).as("qs"),
      TextFunctions.qualityScore(col("text")).as("score"),
      TextFunctions.tokenCount(col("text")).as("n"))
      .select(col("qs.score"), col("qs.n_tokens"), col("score"), col("n"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"score drift: ${r.getDouble(0)} vs ${r.getDouble(2)}")
      assert(r.getInt(1) == r.getInt(3))
    }
  }

  test("rollingHashMod folds left with mod-prime arithmetic") {
    val rows = Seq("ab", "", "a").toDF("t")
      .select(TextFunctions.rollingHashMod(col("t"))).collect()
    // 'a'=97, 'b'=98: ((0*31+97)*31+98) % p = 3105
    assert(rows(0).getLong(0) == (97L * 31 + 98) % 1000000007L)
    assert(rows(1).getLong(0) == 0L) // empty text → 0
    assert(rows(2).getLong(0) == 97L)
  }

  test("exactCosinePairs matches a hand-computed pair set") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.01f)), // ~cos 1.0 with id 1
      (3L, Array(0.0f, 1.0f)),  // orthogonal to id 1
      (4L, Array(-1.0f, 0.0f))  // opposite of id 1
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.exactCosinePairs(vecs, "vec_id", "embedding",
      threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("PII redaction replaces emails/phones/IPs with typed tokens " +
    "and counts match") {
    val docs = Seq(
      (1L, "mail bob.smith+x@corp.example.org or call 555-123-4567."),
      (2L, "from 192.168.0.1 and 10.0.0.255; no pii here: 1234."),
      (3L, "two mails a@b.io c@d.co and phone 800 555 1212"),
      (4L, "clean text")).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      TextFunctions.redactPii(col("text")).as("r"),
      TextFunctions.piiCount(col("text"), TextFunctions.emailRe).as("e"),
      TextFunctions.piiCount(col("text"), TextFunctions.phoneRe).as("p"),
      TextFunctions.piiCount(col("text"), TextFunctions.ipRe).as("i"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(got(1L) == ("mail <EMAIL> or call <PHONE>.", 1, 1, 0))
    assert(got(2L) ==
      ("from <IP> and <IP>; no pii here: 1234.", 0, 0, 2))
    assert(got(3L) == ("two mails <EMAIL> <EMAIL> and phone <PHONE>",
      2, 1, 0))
    assert(got(4L) == ("clean text", 0, 0, 0))
  }

  test("rollingHashMod is codepoint-exact on non-ASCII text") {
    import spark.implicits._
    // golden values computed with the DuckDB oracle fold
    // (list_reduce over unicode(substring(s,i,1))) AND a pure
    // codepoint fold — both agree; Spark must too, proving the
    // content-hash splits are cross-engine-stable beyond ASCII
    val fixtures = Seq(
      "hello" -> 99162322L,              // ASCII control
      "héllo wörld" -> 309710581L,       // latin-1 accents (2-byte UTF-8)
      "€uro päy" -> 708045705L,          // 3-byte UTF-8 (U+20AC)
      "日本語テキスト" -> 842898328L,      // CJK, all 3-byte
      "mixed 😀 emoji" -> 373056797L,    // astral plane (4-byte, U+1F600)
      "Füße & cœur — déjà" -> 607367883L) // ligature + em-dash mix
    val got = fixtures.map(_._1).toDF("t")
      .select(col("t"), TextFunctions.rollingHashMod(col("t")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    fixtures.foreach { case (s, want) =>
      assert(got(s) == want, s"fold diverged for '$s'")
      // cross-check against the JVM codepoint fold (same contract)
      val ref = s.codePoints().toArray
        .foldLeft(0L)((a, cp) => (a * 31 + cp) % 1000000007L)
      assert(ref == want, s"JVM reference fold diverged for '$s'")
    }
  }
}
