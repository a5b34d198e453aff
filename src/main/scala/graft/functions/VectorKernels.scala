package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, backed by the
  * native Catalyst expressions in graft.plans (fused codegen loops —
  * see VectorExpressions.scala; callers must have run
  * GraftExtensions.install on the session, which SparkEntry does before
  * every query).
  *
  * Float-vs-double note: elements are cast to double BEFORE the fold and
  * accumulated strictly left-to-right — the same order and precision an
  * oracle computing `CAST(e[1] AS DOUBLE)*q1 + ...` uses, so results are
  * bit-reproducible against SQL twins.
  */
object VectorKernels {

  /** Dot product of two array columns (native codegen expression). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Dot product against a constant query vector (broadcast as a
    * literal array — no join, no shuffle).
    */
  def dotConst(a: Column, q: Seq[Double]): Column =
    call_function("graft_dot", a, array(q.map(lit): _*))

  /** L2 norm (native codegen expression, one pass). */
  def norm(a: Column): Column = call_function("graft_norm", a)

  /** Cosine similarity of two array columns (0 when either norm is 0). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** Cosine similarity against a constant query vector. */
  def cosineConst(a: Column, q: Seq[Double]): Column = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    val n = norm(a) * lit(qn)
    when(n === 0.0, 0.0).otherwise(dotConst(a, q) / n)
  }

  /** Pure-Scala cosine for kernels/tests. */
  def cosineScala(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Component i of deterministic pseudo-random hyperplane p, in
    * [-1,1]. mix64 is essential: the raw polynomial string hash of
    * "plane:p:i" barely changes with the trailing index chars, which
    * would make every plane approximately the same all-ones direction.
    */
  def planeValue(p: Int, i: Int): Double =
    (TextKernels.mix64(TextKernels.hash64(s"plane:$p:$i")) % 1000003L)
      .toDouble / 1000003.0

  def plane(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i => planeValue(p, i))

  /** Pure-Scala sign-bit bucket against the first `nPlanes` hyperplanes:
    * bit p set iff plane_p · v ≥ 0 (left-to-right accumulation, same
    * order as the Column twin). Shared by the executor-side UDF and the
    * driver-side query-bucket computation so both agree bit-for-bit.
    */
  def bucketOf(v: Array[Double], nPlanes: Int): Long = {
    val dim = v.length
    checkDim(dim)
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val pl = planeCache(p)
      var d = 0.0
      var i = 0
      while (i < dim) { d += v(i) * pl(i); i += 1 }
      if (d >= 0.0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  /** Float overload for codegen call sites
    * ([[graft.plans.LshBucket]]): float→double widening is exact, and
    * the accumulation order matches the double form, so both agree
    * bit-for-bit with the driver-side query-bucket computation.
    */
  def bucketOf(v: Array[Float], nPlanes: Int): Long = {
    val dim = v.length
    checkDim(dim)
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val pl = planeCache(p)
      var d = 0.0
      var i = 0
      while (i < dim) { d += v(i).toDouble * pl(i); i += 1 }
      if (d >= 0.0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  private val MAX_PLANES = 64
  private val PLANE_DIM = 64
  private lazy val planeCache: Array[Array[Double]] =
    Array.tabulate(MAX_PLANES)(p => plane(p, PLANE_DIM).toArray)

  /** The plane matrix is PLANE_DIM wide; a longer vector would index
    * past the cached plane rows (AIOOBE deep in an executor task) —
    * and silently truncating to the first PLANE_DIM dims would be a
    * different (wrong) hash function. Validate with a clear message:
    * the SQL-registered graft_lsh_bucket bypasses the Column builder's
    * require(dim == PLANE_DIM), so this is the only guard on that path.
    * Vectors SHORTER than PLANE_DIM are fine (the plane restricted to
    * the leading dims is still a fixed hyperplane family).
    */
  private def checkDim(dim: Int): Unit =
    if (dim > PLANE_DIM)
      throw new IllegalArgumentException(
        s"graft_lsh_bucket: embedding has $dim dims but the plane family" +
          s" is $PLANE_DIM-dimensional; vectors longer than $PLANE_DIM" +
          " are not supported")

  /** Random-hyperplane LSH bucket id for an embedding: sign bits against
    * `nPlanes` deterministic pseudo-random hyperplanes (seeded by plane
    * index — no RNG state, reproducible on any executor). Vectors in the
    * same bucket are likely cosine-close; used to prune ANN candidate
    * pairs from O(n^2) to per-bucket.
    *
    * Runs as the native graft_lsh_bucket codegen expression
    * (plans/VectorExpressions.LshBucket) calling [[bucketOf]] on a
    * primitive float[]: one fused loop with no Seq[Float] boxing and
    * no codegen-stage split. (History: the Column-expression
    * alternative — nPlanes separate aggregate(zip_with(...)) folds —
    * measured 6× slower at 64 planes than even the boxed tight-loop
    * UDF this replaced; the static-call expression keeps the loop AND
    * removes the UDF boundary.)
    */
  def lshBucket(a: Column, dim: Int, nPlanes: Int): Column = {
    require(dim == PLANE_DIM && nPlanes <= MAX_PLANES)
    org.apache.spark.sql.functions.call_function("graft_lsh_bucket",
      a, org.apache.spark.sql.functions.lit(nPlanes))
  }
}
