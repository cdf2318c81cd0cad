package graft.functions

import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._

/** SQL-surface registration for graft's function library, so every
  * operator is reachable from `spark.sql(...)` as well as the Column
  * API (the reference's capabilities are library functions; a Spark
  * engine should expose them to SQL users too).
  */
object GraftFunctions {

  /** graft's native SQL functions as (name, expression class, builder):
    * every string kernel, then the vector kernels whose arguments a SQL
    * call site can supply (PqEncode/MatVec embed a fitted model as plan
    * literals, which none can). [[register]] and
    * [[graft.plans.GraftExtensions]] both install exactly this list. */
  val native: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    TextKernel.sql.map(k => (k.name, classOf[TextKernel], k.build(_))) ++
      Seq[(String, Class[_], (Expression, Expression) => Expression)](
        ("vector_dot", classOf[VectorDot], VectorDot),
        ("vector_l2sq", classOf[VectorL2Sq], VectorL2Sq)).map {
        case (name, cls, pair) => (name, cls, (e: Seq[Expression]) => {
          if (e.length != 2) throw new IllegalArgumentException(
            s"$name(a, b) takes exactly 2 arguments, got ${e.length}")
          pair(e(0), e(1))
        })
      }

  /** Register all graft functions on a session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    native.foreach { case (name, _, build) =>
      registry.createOrReplaceTempFunction(name, build, "scala_udf")
    }

    // column-composition functions registered as SQL macros via udfs
    // would lose codegen; instead expose them as temp functions built
    // from their expression trees
    spark.udf.register("graft_sanitize",
      (s: String) => if (s == null) null else NameUtil.sanitize(s))
    spark.udf.register("graft_to_snake",
      (s: String) => if (s == null) null else NameUtil.toSnake(s))
    spark.udf.register("graft_to_standard",
      (s: String) => if (s == null) null else NameUtil.toStandard(s))
    // typed Aggregator exposed to the DataFrame/SQL surface:
    // graft_top3(id, score) → array<struct<id,score>> (k=3 variant;
    // instantiate TopKAggregator directly for other k)
    spark.udf.register("graft_top3",
      F.udaf(new TopKAggregator(3), Encoders.product[Scored]))
  }

  // Column-API re-exports (one import site for users)
  def poly_hash(c: Column): Column = PolyHashFunctions.poly_hash(c)
  def cosine_similarity(a: Column, b: Column): Column =
    VectorFunctions.cosineSimilarity(a, b)
  def lang_id(c: Column): Column = TextFunctions.langId(c)
  def quality_score(c: Column): Column = TextFunctions.qualityScore(c)
  def token_count(c: Column): Column = TextFunctions.tokenCount(c)
  def char_ngrams(c: Column, n: Int): Column = TextFunctions.charNGrams(c, n)
  def word_shingles(c: Column, k: Int): Column =
    TextFunctions.wordShingles(c, k)
  def word_shingle_hashes(c: Column, k: Int): Column =
    WordShingles.shingleHashes(c, k)
  def gram_hashes(c: Column, length: Int): Column =
    GramHash.gramHashes(c, length)
  def gram_rows(c: Column, length: Int): Column =
    GramHash.gramRows(c, length)
  def quality_stats(c: Column): Column = QualityStats.qualityStats(c)
  def nature_voie_label(c: Column): Column =
    graft.sources.Fantoir.natureVoieLabel(c)
  def rolling_hash_mod(c: Column): Column =
    TextFunctions.rollingHashMod(c)
  def simhash(c: Column): Column = graft.operators.Dedup.simhash(c)
  def minhash_signature(shingles: Column, numHashes: Int): Column =
    graft.operators.Dedup.minhashSignature(shingles, numHashes)
  def vector_dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)
  def l2_distance(a: Column, b: Column): Column =
    VectorFunctions.l2Distance(a, b)
  def srp_bucket(v: Column, planes: Int): Column =
    VectorFunctions.srpBucket(v, planes)
}
