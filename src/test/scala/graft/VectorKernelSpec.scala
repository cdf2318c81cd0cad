package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Pins all five vector expressions (`vector_dot`, `vector_l2sq`,
  * `pq_encode`, `mat_vec`, `nearest_centroids`) three ways at once:
  * whole-stage codegen output equals interpreted output bit for bit,
  * and both equal a plain-Scala reference computed on the driver.
  *
  * Inputs cover float and double arrays, null elements, NaN, short,
  * ragged, empty and all-null arrays and null vectors, read both from
  * a local relation and from parquet written and read back (the
  * vectorized reader hands the expressions a different array class).
  */
class VectorKernelSpec extends SparkSpec {

  private def pseudo(seed: Int): Double =
    math.sin(seed * 127.1 + 311.7) % 1.0

  private val dim = 6
  private val m = 3
  private val subDim = 2
  private val k = 4
  // codeword 1 of each subspace repeats as codeword 3: distance ties
  private val codebook: Seq[Seq[Double]] =
    (0 until m).flatMap { s =>
      val cw = (0 until k).map(c =>
        (0 until subDim).map(i => pseudo(500 + s * 50 + c * 7 + i)))
      cw.updated(2, cw(0))
    }
  private val matrix: Seq[Seq[Double]] =
    (0 until 4).map(r => (0 until dim).map(c => pseudo(700 + r * 10 + c)))
  // a duplicated centroid (ties on id) and a short one (min-length rule)
  private val centroids: Seq[Seq[Double]] = {
    val base = (0 until 5).map(c => (0 until dim).map(d => pseudo(c * 100 + d)))
    base ++ Seq(base(2), (0 until 4).map(d => pseudo(900 + d)))
  }

  /** One input vector: `null` for a null vector, `None` elements for
    * null elements. */
  private def vec(kind: Int, seed: Int): Seq[Option[Double]] = {
    def full(n: Int) = (0 until n).map(i => Some(pseudo(seed * 31 + i)))
    kind match {
      case 0 => full(dim)
      case 1 => full(dim).updated(2, None)
      case 2 => full(dim).updated(1, Some(Double.NaN))
      case 3 => full(3)
      case 4 => full(dim + 2)
      case 5 => Seq.empty
      case 6 => null
      case 7 => Seq.fill(dim)(None)
      case 8 => centroids(2).map(Some(_)) // on a duplicated centroid
      case _ => full(dim).updated(0, None).updated(5, Some(-0.0))
    }
  }

  private val kinds = 10
  private val inputs: Seq[(Long, Seq[Option[Double]], Seq[Option[Double]])] =
    (0 until 40).map { r =>
      val kf = if (r < kinds) r else 0
      val kd = if (r < kinds) (r + 3) % kinds else 0
      // the float column carries float-rounded values, widened on read
      val f = Option(vec(kf, r)).map(_.map(_.map(_.toFloat.toDouble))).orNull
      (r.toLong, f, vec(kd, r + 1000))
    }

  private def local: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("f", ArrayType(FloatType, containsNull = true)),
      StructField("d", ArrayType(DoubleType, containsNull = true))))
    def arr(v: Seq[Option[Double]], float: Boolean): Seq[Any] =
      Option(v).map(_.map {
        // typed as Any: `if` would widen the Float back to Double
        case Some(x) => if (float) x.toFloat: Any else x: Any
        case None => null
      }).orNull
    val rows = inputs.map { case (id, f, d) =>
      Row(id, arr(f, float = true), arr(d, float = false))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  // ---- driver-side reference: the same arithmetic in the same order ----

  private def l2Window(x: Seq[Option[Double]], off: Int, w: Seq[Double])
      : Double = {
    var acc = 0.0
    for (i <- 0 until math.min(w.size, x.size - off); v <- x(off + i)) {
      val d = v - w(i)
      acc += d * d
    }
    acc
  }

  private def pair(x: Seq[Option[Double]], y: Seq[Option[Double]])(
      term: (Double, Double) => Double): Any =
    if (x == null || y == null) null
    else {
      var acc = 0.0
      for (i <- 0 until math.min(x.size, y.size);
           a <- x(i); b <- y(i)) acc += term(a, b)
      acc
    }

  private def refPq(x: Seq[Option[Double]]): Any =
    if (x == null) null
    else (0 until m).map { s =>
      // strict < over ascending codes from +inf: ties keep the smaller
      // code, NaN distances never win
      (0 until k).foldLeft((0, Double.PositiveInfinity)) { (best, c) =>
        val d = l2Window(x, s * subDim, codebook(s * k + c))
        if (d < best._2) (c, d) else best
      }._1 + 1
    }

  private def refMatVec(x: Seq[Option[Double]]): Any =
    if (x == null) null
    else matrix.map { row =>
      var acc = 0.0
      for (i <- 0 until math.min(row.size, x.size); v <- x(i))
        acc += row(i) * v
      acc
    }

  private def refNearest(x: Seq[Option[Double]], n: Int): Any =
    if (x == null) null
    else centroids.indices
      .map { c =>
        val d = l2Window(x, 0, centroids(c))
        (if (d.isNaN) Double.MaxValue else d, c + 1)
      }
      .sortBy(identity)(Ordering.Tuple2(
        Ordering.Double.TotalOrdering, Ordering.Int))
      .take(math.min(n, centroids.size)).map(_._2)

  private case class Case(name: String, column: Column,
      ref: (Seq[Option[Double]], Seq[Option[Double]]) => Any)

  private val cases = Seq(
    Case("vector_dot(f, d)", VectorFunctions.dot(col("f"), col("d")),
      (f, d) => pair(f, d)(_ * _)),
    Case("vector_dot(d, d)", VectorFunctions.dot(col("d"), col("d")),
      (_, d) => pair(d, d)(_ * _)),
    Case("vector_l2sq(d, f)", VectorFunctions.l2Sq(col("d"), col("f")),
      (f, d) => pair(d, f) { (a, b) => val t = a - b; t * t }),
    Case("pq_encode(f)",
      VectorFunctions.pqEncode(col("f"), m, subDim, codebook),
      (f, _) => refPq(f)),
    Case("pq_encode(d)",
      VectorFunctions.pqEncode(col("d"), m, subDim, codebook),
      (_, d) => refPq(d)),
    Case("mat_vec(f)", VectorFunctions.matVec(col("f"), matrix),
      (f, _) => refMatVec(f)),
    Case("mat_vec(d)", VectorFunctions.matVec(col("d"), matrix),
      (_, d) => refMatVec(d)),
    Case("nearest_centroids(f, 3)",
      VectorFunctions.nearestCentroids(col("f"), centroids, 3),
      (f, _) => refNearest(f, 3)),
    Case("nearest_centroids(d, 1)",
      VectorFunctions.nearestCentroids(col("d"), centroids, 1),
      (_, d) => refNearest(d, 1)),
    Case("nearest_centroids(f, 9)",
      VectorFunctions.nearestCentroids(col("f"), centroids, 9),
      (f, _) => refNearest(f, 9)),
    Case("nearest_centroids(d, 0)",
      VectorFunctions.nearestCentroids(col("d"), centroids, 0),
      (_, d) => refNearest(d, 0)))

  /** Doubles as raw bits, so NaN, -0.0 and the last ulp all count. */
  private def bits(v: Any): Any = v match {
    case null => null
    case x: Double => java.lang.Double.doubleToRawLongBits(x)
    case xs: scala.collection.Seq[_] => xs.map(bits).toList
    case x => x
  }

  /** Every case's output per id, on one evaluation path. */
  private def run(src: => DataFrame, codegen: Boolean)
      : Map[Long, Seq[Any]] =
    collectOn(codegen)(src.select(col("id") +: cases.map(_.column): _*))
      .map(r => r.getLong(0) -> cases.indices.map(i => bits(r.get(i + 1))))
      .toMap

  private def check(src: => DataFrame): Unit = {
    val gen = run(src, codegen = true)
    val interp = run(src, codegen = false)
    assert(gen.size == inputs.size && interp.size == inputs.size)
    for ((id, f, d) <- inputs; (c, i) <- cases.zipWithIndex) {
      val ref = bits(c.ref(f, d))
      assert(gen(id)(i) == interp(id)(i),
        s"${c.name} row $id: codegen ${gen(id)(i)} != interpreted " +
          s"${interp(id)(i)}")
      assert(gen(id)(i) == ref,
        s"${c.name} row $id: codegen ${gen(id)(i)} != reference $ref")
    }
  }

  test("codegen, interpreted and the driver reference agree bit for " +
    "bit on a local relation") {
    check(local)
  }

  test("codegen, interpreted and the driver reference agree bit for " +
    "bit on parquet read back from disk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vector_kernel")
    val path = dir.resolve("v.parquet").toString
    local.write.parquet(path)
    check(spark.read.parquet(path))
  }

  test("a non-array input fails analysis naming the function and type") {
    val err = intercept[org.apache.spark.sql.AnalysisException](
      local.select(VectorFunctions.pqEncode(col("id"), m, subDim, codebook))
        .collect())
    assert(err.getMessage.contains("pq_encode") &&
      err.getMessage.contains("BIGINT"), err.getMessage)
    val err2 = intercept[org.apache.spark.sql.AnalysisException](
      local.select(VectorFunctions.dot(col("f"), col("id"))).collect())
    assert(err2.getMessage.contains("vector_dot") &&
      err2.getMessage.contains("ARRAY<FLOAT>") &&
      err2.getMessage.contains("BIGINT"), err2.getMessage)
  }
}
