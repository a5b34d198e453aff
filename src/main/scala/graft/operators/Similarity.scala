package graft.operators

import graft.functions.VectorKernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>` 64-dim).
  *
  * Scale design (100 TB): brute-force kNN is ONE pass over the corpus
  * per query batch — queries are broadcast, the corpus is never
  * shuffled, and the per-row cosine is the native graft_dot/graft_norm
  * codegen expression (plans/VectorExpressions.scala). Three ANN
  * shapes: LSH hamming-radius pruning (q53), banded-SimHash candidate
  * join (q54), and IVF cell probing (q55). Centroids are a single
  * posexplode + hash agg (64 rows per input row, partial-aggregated
  * map-side).
  *
  * FP parity with the DuckDB oracles: element values are cast to double
  * BEFORE multiplication and summed strictly left-to-right in both
  * engines (the native expression's loop ≡ explicit left-assoc `+`
  * chain in SQL), so cosines are bit-identical — ordering/limits are
  * safe on the unrounded value.
  */
object Similarity {

  private val DIM = 64

  /** Deterministic query vector (tenths, reproducible as SQL literals). */
  val queryVec: Seq[Double] = (0 until DIM).map(i => ((i * 37 % 19) - 9) / 10.0)
  private val qNorm2: Double = queryVec.map(x => x * x).sum

  private def f(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.17g", Double.box(d))

  /** SQL: left-assoc dot product of `e`'s elements against queryVec. */
  private def dotConstSql(e: String): String =
    (0 until DIM).map(i =>
      s"CAST($e[${i + 1}] AS DOUBLE) * ${f(queryVec(i))}").mkString(" + ")

  /** SQL: left-assoc dot product of two embedding columns. */
  private def dotSql(a: String, b: String): String =
    (0 until DIM).map(i =>
      s"CAST($a[${i + 1}] AS DOUBLE) * CAST($b[${i + 1}] AS DOUBLE)")
      .mkString(" + ")

  /** Cosine of `embedding` against the fixed query vector. Zero-norm
    * vectors score −2 — below the cosine range, so they rank
    * deterministically LAST (after every real score, ties by id) and
    * never cross a similarity threshold: a zero embedding has no
    * direction, and an ANSI division by its zero norm must not kill a
    * 100 TB scoring pass (EdgeCaseEmbeddingsSpec's fixture). Inactive
    * on any corpus without zero vectors — bit-identical to the plain
    * division the DuckDB oracles replay.
    */
  private def cosQueryCol: Column = {
    val n = VectorKernels.norm(col("embedding"))
    when(n === 0d, lit(-2.0))
      .otherwise(VectorKernels.dotConst(col("embedding"), queryVec) /
        (n * lit(math.sqrt(qNorm2))))
  }

  /** q120's truncation sweep points — nested prefixes of the vector. */
  private val TRUNC_DIMS: Seq[Int] = Seq(8, 16, 32, 64)

  /** SQL: left-assoc dot of `e`'s first `d` elements against queryVec. */
  private def dotConstSqlN(e: String, d: Int): String =
    (0 until d).map(i =>
      s"CAST($e[${i + 1}] AS DOUBLE) * ${f(queryVec(i))}").mkString(" + ")

  /** SQL: left-assoc squared norm of `e`'s first `d` elements. */
  private def norm2SqlN(e: String, d: Int): String =
    (0 until d).map(i =>
      s"CAST($e[${i + 1}] AS DOUBLE) * CAST($e[${i + 1}] AS DOUBLE)")
      .mkString(" + ")

  /** DuckDB CTE chain deriving the 64×64 LSH plane matrix from first
    * principles — the same mix64(hash64("plane:p:i")) % 1000003 /
    * 1000003.0 the Scala kernel computes (VectorKernels.planeValue) —
    * in HUGEINT mod-2⁶⁴ arithmetic. splitmix64's two 64×64-bit
    * multiplies would exceed HUGEINT's 2¹²⁷ range, so each constant is
    * split hi·2³²+lo: (x·c) mod 2⁶⁴ = ((x·hi mod 2³²)·2³² + x·lo)
    * mod 2⁶⁴, every intermediate ≤ 2⁹⁷. The final ±2⁶³ shift converts
    * the unsigned residue to Java's signed long before the
    * sign-preserving % 1000003 (DuckDB and Java both truncate toward
    * zero).
    */
  private val planesCte: String =
    s"""pi AS (
       |  SELECT CAST(p.range AS INT) AS p, CAST(i.range AS INT) AS i,
       |         'plane:' || p.range || ':' || i.range AS s
       |  FROM range(0,64) p, range(0,64) i),
       |h0 AS (
       |  SELECT p, i, ${OracleSql.hash64("s")} AS z
       |  FROM pi),
       |${OracleSql.mix64Ctes("p, i", "h0")},
       |planes AS (SELECT p, i,
       |    CAST(${OracleSql.toSigned("m")} % 1000003 AS DOUBLE)
       |      / 1000003.0 AS w
       |  FROM mixed)""".stripMargin

  /** Scalar-quantization code for value `x` against [mn, mx]:
    * floor((x − mn)·255 / (mx − mn)) clamped to [0, 255]; degenerate
    * dimension (mx = mn) → 0. Shared by q67 (train/encode) and q69
    * (compressed-domain search); the SQL twins spell the identical
    * expression tree so the IEEE doubles — and the integer codes —
    * agree bit-for-bit.
    */
  private def sqCode(x: Column, mn: Column, mx: Column): Column =
    when(mx === mn, 0L).otherwise(
      least(lit(255L), greatest(lit(0L),
        floor(((x - mn) * 255) / (mx - mn)))))

  /** One-row codebook (mns, mxs as pos-ordered arrays) from the
    * per-dimension min/max of the corpus — the posexplode partial-
    * aggregates map-side, so the exchange carries 64 rows per
    * partition, never the vector stream.
    */
  private def sqCodebook(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    e.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"),
        col("mx")))).as("d"))
      .select(transform(col("d"), p => p.getField("mn")).as("mns"),
        transform(col("d"), p => p.getField("mx")).as("mxs"))

  /** SQL twin of [[sqCodebook]]: CTE `dims(pos, mn, mx)`, pos 0-based. */
  private val dimsCteSql: String =
    s"""dims AS (
       |  SELECT i.range AS pos,
       |    min(CAST(embedding[CAST(i.range AS INT) + 1] AS DOUBLE)) AS mn,
       |    max(CAST(embedding[CAST(i.range AS INT) + 1] AS DOUBLE)) AS mx
       |  FROM embeddings, range(0, $DIM) i GROUP BY i.range)""".stripMargin

  /** SQL twin of [[sqCode]] over expression `x` and dims alias `d`. */
  private def sqCodeSql(x: String): String =
    s"""CASE WHEN d.mx = d.mn THEN 0
       |         ELSE least(255, greatest(0, CAST(floor(
       |           (($x - d.mn) * 255) / (d.mx - d.mn)) AS BIGINT)))
       |    END""".stripMargin

  /** q54's banded-LSH embedding near-dup miner over any (vec_id,
    * embedding[64]) frame, shared with q132's 4-signal dedup union:
    * 8×8-bit sign-bucket bands, candidates from the (band_idx,
    * band_val) equi-join (a pair sharing k bands is emitted once, by
    * its FIRST matching band — no distinct, no re-join to refetch
    * embeddings), exact cosine verify keeps pairs ≥ 0.45. Returns
    * UNORDERED (vec_a, vec_b, cosine) — callers sort.
    */
  private[graft] def embedNearDupPairsFrom(emb: DataFrame): DataFrame = {
    val nBands = 8
    val bandBits = 8
    def bandOf(bucket: Column, j: Int): Column =
      shiftrightunsigned(bucket, bandBits * j).bitwiseAND(lit(255L))
    val bucket = VectorKernels.lshBucket(col("embedding"), DIM,
      nBands * bandBits)
    val e = emb
      .select(col("vec_id"), col("embedding"), bucket.as("bucket"),
        VectorKernels.norm(col("embedding")).as("nrm"))
      // zero-norm vectors have no direction: they can never pass a
      // positive cosine threshold, and dividing by their norm under
      // ANSI kills the pass — exclude them from the miner up front
      .filter(col("nrm") > 0d)
      .localCheckpoint() // both self-join sides; one bucket-UDF pass

    val sliced = e.select(col("vec_id"), col("embedding"), col("bucket"),
      col("nrm"),
      posexplode(array((0 until nBands).map(i =>
        bandOf(col("bucket"), i)): _*)).as(Seq("band_idx", "band_val")))
    val a = sliced.select(col("band_idx"), col("band_val"),
      col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("bucket").as("bucket_a"), col("nrm").as("na"))
    val b = sliced.select(col("band_idx").as("bi"),
      col("band_val").as("bv"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("bucket").as("bucket_b"),
      col("nrm").as("nb"))
    val earlierMatch = (0 until nBands - 1).map(j =>
      lit(j) < col("band_idx") &&
        bandOf(col("bucket_a"), j) === bandOf(col("bucket_b"), j))
      .reduce(_ || _)
    val cos = VectorKernels.dot(col("ea"), col("eb")) /
      (col("na") * col("nb"))
    a.join(b, col("band_idx") === col("bi") &&
        col("band_val") === col("bv") && col("vec_a") < col("vec_b"))
      .filter(!earlierMatch)
      .select(col("vec_a"), col("vec_b"), cos.as("cosine"))
      .filter(col("cosine") >= 0.45)
  }

  /** DuckDB chain replaying [[embedNearDupPairsFrom]], terminating in
    * CTE `empairs(vec_a, vec_b, cosine)`. Internal CTEs are suffixed
    * `_em` (planesCte's own `pi/h0/mixed` names stay unsuffixed —
    * unique among the q132 composition's `_mh/_sh/_pp` miner chains).
    */
  private[graft] lazy val embedNearDupCtes: String =
    s"""$planesCte,
       |dots_em AS (
       |  SELECT e.vec_id, pl.p,
       |    sum(CAST(e.embedding[pl.i + 1] AS DOUBLE) * pl.w) AS d
       |  FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p),
       |bands_em AS (
       |  SELECT vec_id, CAST(p // 8 AS INT) AS band_idx,
       |    sum(CASE WHEN d >= 0 THEN 1 << (p % 8) ELSE 0 END) AS band_val
       |  FROM dots_em GROUP BY vec_id, p // 8),
       |cand_em AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bands_em a JOIN bands_em b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.vec_id < b.vec_id),
       |empairs AS (
       |  SELECT * FROM (
       |    SELECT c.vec_a, c.vec_b,
       |      (${dotSql("ea.embedding", "eb.embedding")})
       |        / (sqrt(${dotSql("ea.embedding", "ea.embedding")})
       |           * sqrt(${dotSql("eb.embedding", "eb.embedding")})) AS cosine
       |    FROM cand_em c
       |    JOIN embeddings ea ON ea.vec_id = c.vec_a
       |    JOIN embeddings eb ON eb.vec_id = c.vec_b)
       |  WHERE cosine >= 0.45)""".stripMargin

  /** q133's library op — SemDeDup-style per-cell near-dup stats over
    * any (vec_id, embedding) frame: assign every vector to its nearest
    * vec_id<8 seed cell (shared KMeans kernels, integer-exact 1e-4
    * distances, ties to the lower cid), then mine exact near-dup pairs
    * (quantized dist² ≤ `thresh`) ONLY within a cell. Returns
    * (cid, members, nd_pairs, dup_vecs) — dup_vecs counts the vectors
    * SemDeDup would drop (near-dominated by a lower-id cell-mate).
    *
    * The within-cell pair stage is a SALTED cell equi-join (the q25
    * skew treatment): k cells = k join keys, so an unsalted join caps
    * parallelism at k tasks however many cores the stage has; salting
    * by id % 8 fans each cell's pair space over 8 tasks with the pair
    * predicate unchanged — byte-identical output.
    */
  private[graft] def semanticDedup(emb: org.apache.spark.sql.DataFrame,
      thresh: Long): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftExtensions.install(emb.sparkSession)
    val q = KMeans.quantized(emb, "vec_id", "embedding")
      .localCheckpoint()
    val seeds = q.filter(col("id") < 8)
      .select(col("id").as("cid"), col("qa").as("cq"))
    // Pair distances below use q121's exact expansion d² = |a|² +
    // |b|² − 2·a·b with the fused graft_dot codegen loop, NOT the
    // interpreted zip_with/aggregate fold (q121 measured 4.0 → 0.6 s
    // on a comparable pair fan-out): quantized components are ≤ 10⁶,
    // so every product (≤ 10¹²) and 64-dim partial sum (≤ 6.4·10¹³)
    // is an integer below 2⁵³ — the double accumulator is exact and
    // the long cast returns the same integer the per-dim fold yields.
    val asg = KMeans.assignAgainst(q, KMeans.fold(seeds))
      .select(col("id"), col("qa").cast("array<double>").as("qd"),
        col("cid"))
      .withColumn("n2", VectorKernels.dot(col("qd"), col("qd"))
        .cast("long"))
      .localCheckpoint()
    val nSalt = 8
    val a = asg.select(col("cid"), col("id").as("va"),
      col("qd").as("qd_a"), col("n2").as("n2_a"),
      pmod(col("id"), lit(nSalt)).as("salt"))
    val b = asg.select(col("cid").as("cid_b"), col("id").as("vb"),
      col("qd").as("qd_b"), col("n2").as("n2_b"),
      explode(array((0 until nSalt).map(i => lit(i.toLong)): _*))
        .as("salt_b"))
    val d2 = col("n2_a") + col("n2_b") -
      (VectorKernels.dot(col("qd_a"), col("qd_b")) * 2).cast("long")
    val nd = a.join(b, col("cid") === col("cid_b") &&
        col("salt") === col("salt_b") && col("va") < col("vb"))
      .filter(d2 <= lit(thresh))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("nd_pairs"),
        countDistinct(col("vb")).as("dup_vecs"))
    asg.groupBy(col("cid")).agg(count(lit(1)).as("members"))
      .join(nd, Seq("cid"), "left")
      .select(col("cid"), col("members"),
        coalesce(col("nd_pairs"), lit(0L)).as("nd_pairs"),
        coalesce(col("dup_vecs"), lit(0L)).as("dup_vecs"))
  }

  /** Subspace slice i of a quantized (id, qa) frame — the PQ split
    * shared by q104 and q138 (2 subspaces × half dims).
    */
  private def pqSub(q: org.apache.spark.sql.DataFrame, i: Int,
      half: Int): org.apache.spark.sql.DataFrame =
    q.select(col("id"), slice(col("qa"), i * half + 1, half).as("qa"))

  /** One Lloyd step from the vec_id<8 seeds over one subspace:
    * (cid, cq) refined codebook with q98's half-up integer means —
    * the shared PQ codebook trainer (q104's original body, factored
    * for q138's IVF+PQ composition; identical plan).
    */
  private def pqRefined(subQ: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    KMeans.assignAgainst(subQ, KMeans.fold(
        subQ.filter(col("id") < 8)
          .select(col("id").as("cid"), col("qa").as("cq"))))
      .select(col("cid"), posexplode(col("qa")).as(Seq("dim", "qv")))
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("sq"))
      .select(col("cid"), col("dim"),
        expr("((sq + 1000000 * n) * 2 + n) div (2 * n) - 1000000")
          .as("cq1"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cq1"))))
        .as("pairs"))
      .select(col("cid"),
        transform(col("pairs"), p => p.getField("cq1")).as("cq"))

  val defs: Seq[QueryDef] = Seq(

    // ── Q50: brute-force cosine top-10 against a constant query vector.
    QueryDef("q50_knn_query",
      (s, dir) => {
        val cos = cosQueryCol
        Tables.embeddings(s, dir)
          .select(col("vec_id"), cos.as("cos_raw"))
          .orderBy(col("cos_raw").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"), col("cos_raw").as("cosine"))
      },
      Some(s"""WITH scored AS (
              |  SELECT vec_id,
              |    (${dotConstSql("embedding")})
              |      / (sqrt(${dotSql("embedding", "embedding")})
              |         * sqrt(${f(qNorm2)})) AS cos_raw
              |  FROM embeddings)
              |SELECT vec_id, cos_raw AS cosine
              |FROM scored ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin)),

    // ── Q51: batch kNN — top-3 cosine neighbors for the first 20
    // vectors; queries broadcast, corpus scanned once. Norms are
    // computed ONCE per vector before the pair join (same fold, same
    // bits as inline — the oracle's sqrt(dot(x,x)) matches), so each
    // candidate pair costs one dot product, not one dot + two norms.
    QueryDef("q51_knn_pairs",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            VectorKernels.norm(col("embedding")).as("qn"))
        val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
          VectorKernels.norm(col("embedding")).as("cn"))
        val cos = when(col("qn") * col("cn") === 0d, lit(-2.0))
          .otherwise(VectorKernels.dot(col("qe"), col("ce")) /
            (col("qn") * col("cn"))) // zero-norm: rank last (cosQueryCol doc)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos_raw").desc, col("cand_id"))
        broadcast(q).join(c, col("query_id") =!= col("cand_id"))
          .select(col("query_id"), col("cand_id"), cos.as("cos_raw"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("query_id"), col("rn"), col("cand_id"),
            col("cos_raw").as("cosine"))
          .orderBy(col("query_id"), col("rn"))
      },
      Some(s"""WITH scored AS (
              |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
              |    (${dotSql("a.embedding", "b.embedding")})
              |      / (sqrt(${dotSql("a.embedding", "a.embedding")})
              |         * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos_raw
              |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
              |  WHERE a.vec_id < 20),
              |ranked AS (
              |  SELECT *, row_number() OVER (PARTITION BY query_id
              |    ORDER BY cos_raw DESC, cand_id) AS rn
              |  FROM scored)
              |SELECT query_id, CAST(rn AS INT) AS rn, cand_id,
              |  cos_raw AS cosine
              |FROM ranked WHERE rn <= 3
              |ORDER BY query_id, rn""".stripMargin)),

    // ── Q52: per-label centroids — posexplode + hash agg (the IVF
    // coarse-quantizer training step). Values are quantized to 1e-4
    // BEFORE aggregation so the sum is an exact integer: floating
    // sums are order-dependent (Spark partial-aggregates per
    // partition, DuckDB sums in scan order), and a last-ulp
    // difference next to a round() boundary flips the 4th decimal —
    // observed at sf0.001/sf0.1 with the naive round(avg(v), 4).
    // The mean itself is rounded to 1e-4 with pure int64 arithmetic —
    // ((2(sq + S·n) + n) div 2n − S, S shifting everything positive so
    // truncating division equals floor in both engines — because a
    // double round() hits exact .00005 ties (sum_q/n rationals) that
    // Spark (half-up) and DuckDB (half-even) break differently.
    QueryDef("q52_label_centroids",
      (s, dir) => Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("dim"),
          KMeans.qcol(col("v")).as("q"))
        .groupBy(col("label"), col("dim"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .select(col("label"), col("dim"),
          expr("CAST(((sq + 1000000 * n) * 2 + n) div (2 * n) - 1000000 AS DOUBLE)" +
            " / 10000.0").as("centroid_v"),
          col("n"))
        .orderBy(col("label"), col("dim")),
      Some("""SELECT label, CAST(dim AS INT) AS dim,
             |  CAST(((sq + 1000000 * n) * 2 + n) // (2 * n) - 1000000 AS DOUBLE)
             |    / 10000.0 AS centroid_v,
             |  n
             |FROM (
             |  SELECT label, dim, sum(q) AS sq, count(*) AS n
             |  FROM (
             |    SELECT label,
             |      generate_subscripts(embedding, 1) - 1 AS dim,
             |      CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
             |    FROM embeddings)
             |  GROUP BY label, dim)
             |ORDER BY label, dim""".stripMargin)),

    // ── Q53: LSH-pruned ANN — random-hyperplane sign bucket, keep
    // candidates within hamming ≤ 28 of the query's 64-bit bucket,
    // exact re-rank. Full DuckDB oracle: the plane matrix is derived
    // IN SQL from the same mix64∘hash64 primitives (HUGEINT mod-2⁶⁴
    // arithmetic per the q44 precedent; the 64×64-bit multiply is
    // split hi/lo around 2³² to stay under HUGEINT's 2¹²⁷ ceiling),
    // sign bits and hamming distance recomputed per row, exact cosine
    // re-rank via the q50 left-assoc chains. Sign-of-sum is safe to
    // cross-engine FP reordering: measured min |plane·v| over every
    // (row, plane) at sf0.1 is 5.8e-7, ~7 orders above double noise.
    // (Calibrated for this near-orthogonal corpus: neighbors at cosine
    // ≈ 0.4 ⇒ expected sign disagreement 64·θ/π ≈ 23.6 bits (σ≈3.9) vs
    // 32 (σ=4) for the isotropic bulk ⇒ radius 28 keeps ~90% of true
    // top-10 while pruning ~84% of the corpus; more planes concentrate
    // both distributions, and clustered real corpora separate far
    // better. At scale the bucket is an ingest-time stored column —
    // computed once per row, not per query — so query cost is the
    // bit_count filter plus exact re-rank of survivors.)
    QueryDef("q53_ann_lsh",
      (s, dir) => {
        val nPlanes = 64
        val bucket = VectorKernels.lshBucket(col("embedding"), DIM, nPlanes)
        // query bucket, same pure-Scala kernel the executor UDF runs
        val qBucket = VectorKernels.bucketOf(queryVec.toArray, nPlanes)
        val cos = cosQueryCol
        Tables.embeddings(s, dir)
          .withColumn("bucket", bucket)
          .filter(bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= 28)
          .select(col("vec_id"), cos.as("cos_raw"))
          .orderBy(col("cos_raw").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"), col("cos_raw").as("cosine"))
      },
      Some(s"""WITH $planesCte,
              |qvals AS (
              |  SELECT CAST(generate_subscripts(q, 1) - 1 AS INT) AS i,
              |         unnest(q) AS v
              |  FROM (SELECT [${queryVec.map(f).mkString(",")}] AS q)),
              |qdots AS (
              |  SELECT pl.p, sum(pl.w * qv.v) AS dq
              |  FROM planes pl JOIN qvals qv ON pl.i = qv.i GROUP BY pl.p),
              |dots AS (
              |  SELECT e.vec_id, pl.p,
              |    sum(CAST(e.embedding[pl.i + 1] AS DOUBLE) * pl.w) AS d
              |  FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p),
              |ham AS (
              |  SELECT d.vec_id,
              |    sum(CASE WHEN (d.d >= 0) <> (q.dq >= 0) THEN 1 ELSE 0 END) AS hd
              |  FROM dots d JOIN qdots q USING (p) GROUP BY d.vec_id),
              |scored AS (
              |  SELECT vec_id,
              |    (${dotConstSql("embedding")})
              |      / (sqrt(${dotSql("embedding", "embedding")})
              |         * sqrt(${f(qNorm2)})) AS cos_raw
              |  FROM embeddings
              |  WHERE vec_id IN (SELECT vec_id FROM ham WHERE hd <= 28))
              |SELECT vec_id, cos_raw AS cosine
              |FROM scored ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin)),

    // ── Q54: embedding near-duplicate pairs — banded SimHash LSH:
    // slice the 64-plane sign bucket into 8×8-bit bands and equi-join
    // on (band_idx, band_val); pairs agreeing on any full band become
    // candidates, then an exact cosine verify keeps pairs ≥ 0.45.
    // Band sizing measured on this corpus: 8×8 admits 3.6% of all
    // pairs as candidates vs 64% for 4×4 bands — an 18× cut — while
    // real near-dups (cosine ≥ 0.95, sign-disagreement ≈ 0.10/bit)
    // collide on ≥1 band with P ≈ 1−(1−0.9^8)^8 ≈ 0.99. On this
    // deliberately near-orthogonal corpus recall at the 0.45 level is
    // partial by design — that is the LSH contract (candidates trade
    // recall for never materializing O(n²)).
    // Scale: candidate generation is an equi-join on the band key; a
    // pair sharing k bands is emitted once, by its FIRST matching band
    // (both buckets ride along; a predicate drops non-first matches) —
    // no distinct, no re-join to refetch embeddings.
    // Full DuckDB oracle: plane matrix from planesCte (q53), per-row
    // sign bits → 8-bit band values, candidate pairs via the band
    // equi-join (DISTINCT in the oracle — same output set as the
    // engine's first-band dedup), exact cosine re-verify via the q51
    // left-assoc chains. Sign-of-sum FP safety argued at q53.
    QueryDef("q54_embed_neardup",
      (s, dir) =>
        embedNearDupPairsFrom(Tables.embeddings(s, dir))
          .orderBy(col("vec_a"), col("vec_b")),
      Some(s"""WITH $embedNearDupCtes
              |SELECT vec_a, vec_b, cosine FROM empairs
              |ORDER BY vec_a, vec_b""".stripMargin)),

    // ── Q55: IVF-style ANN — coarse quantizer = per-label centroids
    // (q52's computation), probe the nProbe cells whose centroid is
    // closest to the query, exact re-rank ONLY within those cells.
    // At 100 TB the corpus is stored partitioned/bucketed by cell id,
    // so probing k of K cells prunes the scan to k/K of the data via
    // partition pruning — here the cell filter plays that role (an
    // isin on the partition column). Centroid training is one
    // posexplode + hash agg; the probe set is decided driver-side from
    // K×dim doubles (collect of K rows — constant, not data-scaled).
    // Full DuckDB oracle: centroids are exact 1e-4 decimals (the q52
    // integer formula), so probe scores are bit-identical chains in
    // both engines; probe selection and the exact re-rank are replayed
    // in SQL (same d/sqrt(na·qn2) shape, same VARCHAR tie-break).
    QueryDef("q55_ann_ivf",
      (s, dir) => ivfTopK(Tables.embeddings(s, dir), queryVec, 2, 10),
      Some {
        val centDot = (0 until DIM).map(i =>
          s"centroid[${i + 1}] * ${f(queryVec(i))}").mkString(" + ")
        val centNorm2 = (0 until DIM).map(i =>
          s"centroid[${i + 1}] * centroid[${i + 1}]").mkString(" + ")
        s"""WITH cent AS (
           |  SELECT label,
           |    list(CAST(((sq + 1000000 * n) * 2 + n) // (2 * n) - 1000000
           |           AS DOUBLE) / 10000.0 ORDER BY dim) AS centroid
           |  FROM (
           |    SELECT label, dim, sum(q) AS sq, count(*) AS n
           |    FROM (
           |      SELECT label,
           |        generate_subscripts(embedding, 1) - 1 AS dim,
           |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
           |          AS BIGINT) AS q
           |      FROM embeddings)
           |    GROUP BY label, dim)
           |  GROUP BY label),
           |probes AS (
           |  SELECT label FROM (
           |    SELECT label,
           |      CASE WHEN ($centNorm2) = 0 THEN 0.0
           |           ELSE ($centDot) / sqrt(($centNorm2) * ${f(qNorm2)})
           |      END AS sc
           |    FROM cent)
           |  ORDER BY sc DESC, CAST(label AS VARCHAR) LIMIT 2),
           |scored AS (
           |  SELECT vec_id, label,
           |    (${dotConstSql("embedding")})
           |      / (sqrt(${dotSql("embedding", "embedding")})
           |         * sqrt(${f(qNorm2)})) AS cos_raw
           |  FROM embeddings
           |  WHERE label IN (SELECT label FROM probes))
           |SELECT vec_id, label, cos_raw AS cosine
           |FROM scored ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin
      }),

    // ── Q67: scalar quantization (int8) of the embedding corpus — the
    // compression step of a 100 TB ANN pipeline (4× smaller vectors,
    // SIMD-friendly integer distance kernels downstream). Per-dimension
    // min/max train pass: posexplode → hash agg; min/max partial-
    // aggregate map-side, so the exchange carries 64 rows per
    // partition, never the vector stream. The 64-row codebook rides a
    // broadcast cross join back onto the scan, and each vector
    // quantizes in one higher-order transform: code_i = floor((x_i −
    // mn_i)·255 / (mx_i − mn_i)) clamped to [0, 255]. Every float is
    // widened to double before arithmetic and the expression trees are
    // identical on both engines, so the IEEE results — and the integer
    // codes — match exactly; outputs are pure integers (code sum,
    // min/max code, saturated-endpoint count). Degenerate dimension
    // (mx = mn) → code 0 by definition on both sides.
    QueryDef("q67_scalar_quantize",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val codes = transform(col("embedding"), (x, i) =>
          sqCode(x.cast("double"), element_at(col("mns"), i + 1),
            element_at(col("mxs"), i + 1)))
        e.crossJoin(broadcast(sqCodebook(e)))
          .select(col("vec_id"), codes.as("q"))
          .select(col("vec_id"),
            aggregate(col("q"), lit(0L), (a, c) => a + c).as("code_sum"),
            array_min(col("q")).as("code_lo"),
            array_max(col("q")).as("code_hi"),
            size(filter(col("q"), c => c === 0L || c === 255L))
              .cast("long").as("n_saturated"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $dimsCteSql,
              |codes AS (
              |  SELECT e.vec_id,
              |    ${sqCodeSql("CAST(e.embedding[CAST(d.pos AS INT) + 1] AS DOUBLE)")} AS c
              |  FROM embeddings e CROSS JOIN dims d)
              |SELECT vec_id, CAST(sum(c) AS BIGINT) AS code_sum,
              |  CAST(min(c) AS BIGINT) AS code_lo,
              |  CAST(max(c) AS BIGINT) AS code_hi,
              |  CAST(sum(CASE WHEN c = 0 OR c = 255 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_saturated
              |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // ── Q69: compressed-domain ANN — top-10 by EXACT integer dot
    // product over the int8 codes of q67's codebook, the search step
    // that makes scalar quantization pay off at 100 TB (4× less I/O,
    // integer SIMD kernels, no float loads). The query vector
    // quantizes against the same codebook inside the plan (64 scalar
    // ops per row — no driver-side collect of the codebook), corpus
    // codes come from the same shared quantizer, and the score is a
    // zip_with·aggregate integer fold, so ranking is integer-exact on
    // both engines (vec_id breaks ties). The float cosine rides along
    // per hit — the exact re-rank a production pipeline would apply
    // to the compressed candidates. Honest recall note: on this
    // corpus's near-orthogonal embeddings the dot margins between
    // neighbors are smaller than the accumulated quantization error,
    // so compressed ranking is a coarse pre-filter here (as with the
    // other ANN shapes — low recall is a property of the synthetic
    // data; QueriesSpec asserts the per-element reconstruction-error
    // bound, which is what the operator actually guarantees).
    QueryDef("q69_quantized_ann",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        def codeOf(x: Column, i: Column): Column =
          sqCode(x, element_at(col("mns"), i + 1),
            element_at(col("mxs"), i + 1))
        val qlit = array(queryVec.map(lit): _*)
        val qcodes = transform(qlit, (x, i) => codeOf(x, i))
        val ccodes = transform(col("embedding"),
          (x, i) => codeOf(x.cast("double"), i))
        val qscore = aggregate(
          zip_with(ccodes, qcodes, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v)
        val cos = cosQueryCol
        e.crossJoin(broadcast(sqCodebook(e)))
          .select(col("vec_id"), qscore.as("qscore"), cos.as("cosine"))
          .orderBy(col("qscore").desc, col("vec_id"))
          .limit(10)
      },
      Some {
        val qlist = (0 until DIM).map(i => f(queryVec(i))).mkString(", ")
        s"""WITH $dimsCteSql,
           |qv AS (
           |  SELECT CAST(i.range AS INT) AS pos, ql[CAST(i.range AS INT) + 1] AS qx
           |  FROM (SELECT [$qlist] AS ql), range(0, $DIM) i),
           |qcodes AS (
           |  SELECT d.pos, ${sqCodeSql("q.qx")} AS qc
           |  FROM dims d JOIN qv q ON q.pos = d.pos),
           |ccodes AS (
           |  SELECT e.vec_id, d.pos,
           |    ${sqCodeSql("CAST(e.embedding[CAST(d.pos AS INT) + 1] AS DOUBLE)")} AS cc
           |  FROM embeddings e CROSS JOIN dims d),
           |scored AS (
           |  SELECT c.vec_id, CAST(sum(c.cc * q.qc) AS BIGINT) AS qscore
           |  FROM ccodes c JOIN qcodes q ON q.pos = c.pos
           |  GROUP BY c.vec_id),
           |cosd AS (
           |  SELECT vec_id,
           |    (${dotConstSql("embedding")})
           |      / (sqrt(${dotSql("embedding", "embedding")})
           |         * sqrt(${f(qNorm2)})) AS cosine
           |  FROM embeddings)
           |SELECT s.vec_id, s.qscore, c.cosine
           |FROM scored s JOIN cosd c USING (vec_id)
           |ORDER BY s.qscore DESC, s.vec_id LIMIT 10""".stripMargin
      }),

    // ── Q80: label OUTLIER detection — per label, the 3 vectors
    // farthest (squared euclidean) from their own label's centroid:
    // the embedding-space noisy-label / mislabel sweep a training-data
    // pipeline runs before trusting its classification labels. The
    // whole pipeline is INTEGER-exact: vectors quantize to q =
    // round(v·10⁴) (the q52 precedent — both engines agree on the
    // quantization), centroids are exact half-up integer averages of
    // the quantized values, and the distance ranked on is
    // Σ(q−cq)² — int64-exact (≤ 64·(2·10⁴)² ≈ 2.6e10), so the
    // cross-engine ranking cannot drift the way float distances can.
    //
    // 100 TB shape: two passes over the quantized expansion (centroid
    // build + distance), both map-side partial-aggregated; the
    // centroid table is labels×dims rows and BROADCASTS back (the
    // corpus is never shuffled for the join); per-label top-3 goes
    // through the row_number()=1..k rewrite into TopKPerKey — bounded
    // heaps on both sides of a (label)-keyed exchange, no per-label
    // sort of the corpus.
    QueryDef("q80_label_outliers",
      (s, dir) => {
        def qv = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("label"), col("dim"),
            KMeans.qcol(col("v")).as("q"))
        val cent = qv.groupBy(col("label"), col("dim"))
          .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
          .select(col("label"), col("dim"),
            expr("((sq + 1000000 * n) * 2 + n) div (2 * n) - 1000000")
              .as("cq"))
        val d2 = qv.join(broadcast(cent), Seq("label", "dim"))
          .select(col("vec_id"), col("label"),
            ((col("q") - col("cq")) * (col("q") - col("cq"))).as("sqd"))
          .groupBy(col("vec_id"), col("label"))
          .agg(sum(col("sqd")).as("d2"))
        val w = Window.partitionBy(col("label"))
          .orderBy(col("d2").desc, col("vec_id"))
        d2.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("label"), col("vec_id"), col("d2"))
          .orderBy(col("label"), col("vec_id"))
      },
      Some("""WITH qv AS (
             |  SELECT vec_id, label,
             |    generate_subscripts(embedding, 1) - 1 AS dim,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
             |      AS BIGINT) AS q
             |  FROM embeddings),
             |cent AS (
             |  SELECT label, dim,
             |    ((sum(q) + 1000000 * count(*)) * 2 + count(*))
             |      // (2 * count(*)) - 1000000 AS cq
             |  FROM qv GROUP BY label, dim),
             |d AS (
             |  SELECT v.vec_id, v.label,
             |    sum((v.q - c.cq) * (v.q - c.cq)) AS d2
             |  FROM qv v JOIN cent c ON c.label = v.label AND c.dim = v.dim
             |  GROUP BY v.vec_id, v.label),
             |r AS (
             |  SELECT label, vec_id, d2, row_number() OVER (
             |    PARTITION BY label ORDER BY d2 DESC, vec_id) AS rn
             |  FROM d)
             |SELECT label, vec_id, CAST(d2 AS BIGINT) AS d2
             |FROM r WHERE rn <= 3 ORDER BY label, vec_id""".stripMargin)),

    // ── Q82: LSH-cell label PURITY — partition embedding space into
    // coarse LSH cells (8 sign planes → 256 cells) and measure each
    // multi-member cell's label homogeneity: the label-noise
    // LOCALIZATION sweep (a cell where labels disagree marks a
    // boundary/noisy region of embedding space; q80 finds outlier
    // points, this finds whole suspect regions). 8 planes, not q53's
    // 64: cells must be coarse enough to hold several vectors, and
    // the sign-of-sum FP-safety argument (q53) covers any plane
    // subset. purity = majority-label share, exact integer ppm.
    //
    // 100 TB shape: the native graft_lsh_bucket codegen expression
    // computes the cell in the scan projection; two map-side-
    // combinable groupBys — (cell,label) counts, then the ≤ 2⁸·L-row
    // rollup — and nothing else; no window, no join, the vectors
    // never shuffle (only (8-byte cell, label, count) triples do).
    QueryDef("q82_bucket_label_purity",
      (s, dir) => {
        val cells = Tables.embeddings(s, dir)
          .select(col("label"),
            VectorKernels.lshBucket(col("embedding"), DIM, 8).as("bucket"))
          .groupBy(col("bucket"), col("label"))
          .agg(count(lit(1)).as("nl"))
        cells.groupBy(col("bucket"))
          .agg(sum(col("nl")).as("n_vecs"), max(col("nl")).as("n_majority"))
          .filter(col("n_vecs") >= 2)
          .select(col("bucket"), col("n_vecs"), col("n_majority"),
            expr("CAST((2 * n_majority * 1000000 + n_vecs)" +
              " div (2 * n_vecs) AS BIGINT)").as("purity_ppm"))
          .orderBy(col("bucket"))
      },
      Some(s"""WITH $planesCte,
              |dots AS (
              |  SELECT e.vec_id, e.label, pl.p,
              |    sum(CAST(e.embedding[pl.i + 1] AS DOUBLE) * pl.w) AS d
              |  FROM embeddings e, planes pl WHERE pl.p < 8
              |  GROUP BY e.vec_id, e.label, pl.p),
              |buck AS (
              |  SELECT vec_id, label,
              |    CAST(sum(CASE WHEN d >= 0 THEN 1 << p ELSE 0 END)
              |      AS BIGINT) AS bucket
              |  FROM dots GROUP BY vec_id, label),
              |cells AS (
              |  SELECT bucket, label, count(*) AS nl
              |  FROM buck GROUP BY bucket, label),
              |agg AS (
              |  SELECT bucket, CAST(sum(nl) AS BIGINT) AS n_vecs,
              |    CAST(max(nl) AS BIGINT) AS n_majority
              |  FROM cells GROUP BY bucket)
              |SELECT bucket, n_vecs, n_majority,
              |  CAST((2 * n_majority * 1000000 + n_vecs)
              |    // (2 * n_vecs) AS BIGINT) AS purity_ppm
              |FROM agg WHERE n_vecs >= 2 ORDER BY bucket""".stripMargin)),

    // ── Q88: label CONFUSION audit — for each label, the nearest
    // OTHER label by centroid distance (exact integer Σ(cqa−cqb)²
    // over the q80 quantized centroids): the class-confusability map
    // that tells a labeling pipeline which label pairs need review —
    // q80 finds outlier POINTS, q82 suspect REGIONS, this suspect
    // LABEL PAIRS. Same integer-exactness argument as q80: both
    // engines agree on round(v·10⁴) and on the half-up integer
    // centroid, so the nearest-label choice cannot drift on a float
    // tie.
    //
    // 100 TB shape: the ONLY corpus-sized stage is the centroid
    // build (map-side partial-aggregated, labels×dims output rows);
    // the centroid self-join and the distance aggregation are
    // labels²-bounded and broadcast-local; nearest-per-label runs
    // through the row_number()=1 TopKRewrite into TopKPerKey —
    // no per-label sort, bounded heaps on both exchange sides.
    QueryDef("q88_label_confusion",
      (s, dir) => {
        val cent = Tables.embeddings(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("label"), col("dim"),
            KMeans.qcol(col("v")).as("q"))
          .groupBy(col("label"), col("dim"))
          .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
          .select(col("label"), col("dim"),
            expr("((sq + 1000000 * n) * 2 + n) div (2 * n) - 1000000")
              .as("cq"))
          // both self-join sides read this labels×dims table; its
          // (label, dim) aggregation exchange is canonically the same
          // on both sides, so AQE exchange reuse runs the corpus-sized
          // centroid build once
        val pairs = cent.as("a")
          .join(broadcast(cent.as("b")),
            col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
          .select(col("a.label").as("la"), col("b.label").as("lb"),
            ((col("a.cq") - col("b.cq")) * (col("a.cq") - col("b.cq")))
              .as("sqd"))
          .groupBy(col("la"), col("lb")).agg(sum(col("sqd")).as("d2"))
        val sym = pairs
          .select(col("la").as("label"), col("lb").as("other"), col("d2"))
          .union(pairs
            .select(col("lb").as("label"), col("la").as("other"), col("d2")))
        val w = Window.partitionBy(col("label"))
          .orderBy(col("d2").asc, col("other"))
        sym.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("label"), col("other").as("nearest_label"), col("d2"))
          .orderBy(col("label"))
      },
      Some("""WITH qv AS (
             |  SELECT vec_id, label,
             |    generate_subscripts(embedding, 1) - 1 AS dim,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
             |      AS BIGINT) AS q
             |  FROM embeddings),
             |cent AS (
             |  SELECT label, dim,
             |    ((sum(q) + 1000000 * count(*)) * 2 + count(*))
             |      // (2 * count(*)) - 1000000 AS cq
             |  FROM qv GROUP BY label, dim),
             |prs AS (
             |  SELECT a.label AS la, b.label AS lb,
             |    sum((a.cq - b.cq) * (a.cq - b.cq)) AS d2
             |  FROM cent a JOIN cent b
             |    ON a.dim = b.dim AND a.label < b.label
             |  GROUP BY a.label, b.label),
             |sym AS (
             |  SELECT la AS label, lb AS other, d2 FROM prs
             |  UNION ALL SELECT lb, la, d2 FROM prs),
             |r AS (
             |  SELECT label, other, d2, row_number() OVER (
             |    PARTITION BY label ORDER BY d2, other) AS rn
             |  FROM sym)
             |SELECT label, other AS nearest_label, CAST(d2 AS BIGINT) AS d2
             |FROM r WHERE rn = 1 ORDER BY label""".stripMargin)),

    // ── Q95: IVF-ANN RECALL AUDIT — q55's 2-probe IVF top-10 scored
    // against q50's exact brute-force top-10: recall@10 in integer
    // ppm. The embedding-side twin of q89 (the engine measuring its
    // own approximation): the nProbe-sizing feedback loop a vector
    // pipeline runs before trusting its index, in-plan. Both the
    // exact branch and the ANN re-rank read ONE checkpointed scored
    // projection (vec_id, label, cos_raw — 20 bytes/row, far smaller
    // than the vectors); the corpus is touched once more only for the
    // centroid train pass (inevitable — that IS the index build).
    // Rankings are deterministic on both sides (cos_raw is
    // bit-identical by the left-assoc FP convention; vec_id breaks
    // ties), and the ppm division is nullif-guarded on both engines
    // (q89's degenerate-corpus rule).
    QueryDef("q95_ann_recall",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val cosQ = cosQueryCol
        val scored = e.select(col("vec_id"), col("label"), cosQ.as("cos_raw"))
          .localCheckpoint()
        val exact = scored
          .orderBy(col("cos_raw").desc, col("vec_id")).limit(10)
          .select(col("vec_id"))
        val ann = scored
          .join(broadcast(ivfProbes(e, queryVec, 2)), Seq("label"),
            "left_semi")
          .orderBy(col("cos_raw").desc, col("vec_id")).limit(10)
          .select(col("vec_id"))
        exact.withColumn("x", lit(1L))
          .join(ann.withColumn("a", lit(1L)), Seq("vec_id"), "full_outer")
          .agg(
            sum(coalesce(col("x"), lit(0L))).as("n_exact"),
            sum(coalesce(col("a"), lit(0L))).as("n_ann"),
            sum(when(col("x").isNotNull && col("a").isNotNull, 1L)
              .otherwise(0L)).as("n_hit"))
          .select(col("n_exact"), col("n_ann"), col("n_hit"),
            expr("(2 * n_hit * 1000000 + n_exact)"
              + " div (2 * nullif(n_exact, 0))").as("recall_ppm"))
      },
      Some {
        val centDot = (0 until DIM).map(i =>
          s"centroid[${i + 1}] * ${f(queryVec(i))}").mkString(" + ")
        val centNorm2 = (0 until DIM).map(i =>
          s"centroid[${i + 1}] * centroid[${i + 1}]").mkString(" + ")
        s"""WITH cent AS (
           |  SELECT label,
           |    list(CAST(((sq + 1000000 * n) * 2 + n) // (2 * n) - 1000000
           |           AS DOUBLE) / 10000.0 ORDER BY dim) AS centroid
           |  FROM (
           |    SELECT label, dim, sum(q) AS sq, count(*) AS n
           |    FROM (
           |      SELECT label,
           |        generate_subscripts(embedding, 1) - 1 AS dim,
           |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
           |          AS BIGINT) AS q
           |      FROM embeddings)
           |    GROUP BY label, dim)
           |  GROUP BY label),
           |probes AS (
           |  SELECT label FROM (
           |    SELECT label,
           |      CASE WHEN ($centNorm2) = 0 THEN 0.0
           |           ELSE ($centDot) / sqrt(($centNorm2) * ${f(qNorm2)})
           |      END AS sc
           |    FROM cent)
           |  ORDER BY sc DESC, CAST(label AS VARCHAR) LIMIT 2),
           |scored AS (
           |  SELECT vec_id, label,
           |    (${dotConstSql("embedding")})
           |      / (sqrt(${dotSql("embedding", "embedding")})
           |         * sqrt(${f(qNorm2)})) AS cos_raw
           |  FROM embeddings),
           |ex AS (
           |  SELECT vec_id FROM scored
           |  ORDER BY cos_raw DESC, vec_id LIMIT 10),
           |ann AS (
           |  SELECT vec_id FROM scored
           |  WHERE label IN (SELECT label FROM probes)
           |  ORDER BY cos_raw DESC, vec_id LIMIT 10),
           |hit AS (
           |  SELECT count(*) AS n_hit FROM ex JOIN ann USING (vec_id)),
           |ne AS (SELECT count(*) AS n_exact FROM ex),
           |na AS (SELECT count(*) AS n_ann FROM ann)
           |SELECT CAST(ne.n_exact AS BIGINT) AS n_exact,
           |  CAST(na.n_ann AS BIGINT) AS n_ann,
           |  CAST(hit.n_hit AS BIGINT) AS n_hit,
           |  CAST((2 * hit.n_hit * 1000000 + ne.n_exact)
           |    // (2 * nullif(ne.n_exact, 0)) AS BIGINT) AS recall_ppm
           |FROM ne, na, hit""".stripMargin
      }),

    // ── Q98: one k-means LLOYD ITERATION — the training step of the
    // IVF index q55/q95 probe (their cells come from a clustering;
    // this query IS that clustering's inner loop): assign every
    // vector to its nearest seed centroid (seeds = vec_id < 8,
    // deterministic), then recompute per-cluster means and report the
    // per-cluster inertia (within-cluster sum of squared distances) —
    // the convergence number an iterative driver would loop on.
    // All distances in the exact 1e-4-quantized integer domain (q52's
    // rationale) so the argmin — and therefore every downstream count
    // — cannot flicker on FP ties; ties break toward the lower cid
    // via lexicographic struct ordering.
    //
    // 100 TB shape: ONE corpus scan, no corpus-side join — the 8-seed
    // codebook folds to a single array row (seed scan prunes on
    // vec_id < 8 at the parquet reader) and cross-broadcasts onto the
    // scan; assignment is a per-row array fold (min over 8 integer
    // distances); the only exchange carries (cid, dim, partial n/sq/
    // wcss) triples — 512 rows per map task after partial agg, never
    // a vector. This is the canonical distributed-Lloyd round: at
    // k=65536 the codebook broadcast is 65536 × 64 dims × 8 B ≈ 34 MB
    // and the shape holds. Quantization / distance / codebook fold /
    // argmin are the SHARED KMeans helpers — the iterated trainer
    // (operators/KMeans.fit) and this audited single step can never
    // drift apart on tie-breaks or rounding.
    QueryDef("q98_lloyd_step",
      (s, dir) => {
        val q = KMeans.quantized(Tables.embeddings(s, dir),
          "vec_id", "embedding")
        val seeds = q.filter(col("id") < 8)
          .select(col("id").as("cid"), col("qa").as("cq"))
        KMeans.assignAgainst(q, KMeans.fold(seeds))
          .select(col("cid"), col("d2"),
            posexplode(col("qa")).as(Seq("dim", "q")))
          .groupBy(col("cid"), col("dim"))
          .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
            sum(col("d2")).as("wcss"))
          .select(col("cid"), col("dim"), col("n"),
            expr("CAST(((sq + 1000000 * n) * 2 + n) div (2 * n) - 1000000"
              + " AS DOUBLE) / 10000.0").as("centroid_v"),
            col("wcss"))
          .orderBy(col("cid"), col("dim"))
      },
      Some("""WITH qv AS (
             |  SELECT vec_id,
             |    generate_subscripts(embedding, 1) - 1 AS dim,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
             |      AS BIGINT) AS q
             |  FROM embeddings),
             |cent AS (
             |  SELECT vec_id AS cid, dim, q AS cq FROM qv WHERE vec_id < 8),
             |d AS (
             |  SELECT v.vec_id, c.cid, sum((v.q - c.cq) * (v.q - c.cq)) AS d2
             |  FROM qv v JOIN cent c USING (dim)
             |  GROUP BY v.vec_id, c.cid),
             |a AS (
             |  SELECT vec_id, cid, d2, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY d2, cid) AS rn
             |  FROM d),
             |asg AS (SELECT vec_id, cid, d2 FROM a WHERE rn = 1)
             |SELECT s.cid, CAST(v.dim AS INT) AS dim,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(((sum(v.q) + 1000000 * count(*)) * 2 + count(*))
             |    // (2 * count(*)) - 1000000 AS DOUBLE) / 10000.0
             |    AS centroid_v,
             |  CAST(sum(s.d2) AS BIGINT) AS wcss
             |FROM asg s JOIN qv v USING (vec_id)
             |GROUP BY s.cid, v.dim ORDER BY s.cid, v.dim""".stripMargin)),

    // ── Q104: PRODUCT QUANTIZATION + asymmetric-distance recall audit
    // (Jégou et al. 2011) — the billion-scale ANN compression the IVF
    // family (q55/q95/q98) pairs with in production: split each vector
    // into 2 subspaces of 32 dims, train an 8-codeword codebook per
    // subspace (one audited Lloyd step from the vec_id<8 seeds — the
    // SAME shared KMeans kernels as q98, integer-mean refined
    // codewords so the codebooks are replayable), code every vector as
    // (c0, c1) — 6 bits standing in for 512 B — then rank by ADC:
    // approx distance = table[c0] + table[c1] from per-query distance
    // tables over the codewords. Scored per query against the exact
    // integer top-10, recall@10 in half-up ppm — the q89/q95 audit
    // mechanism applied to the compression (low recall at this toy
    // code size is the honest, deterministic answer; the number IS the
    // code-budget feedback).
    //
    // 100 TB shape: both codebooks fold to ONE broadcast row each, so
    // coding is a per-row array argmin in a single corpus pass (no
    // join, no shuffle — the corpus never moves to be coded); the ADC
    // candidate ranking touches only (id, c0, c1) — 3 integers/row,
    // never the vector — cross-broadcast against the 5-query × 8-entry
    // distance tables; both top-10s run through row_number ≤ 10 →
    // the bounded TopKPerKey heap (no global sort). The exact branch
    // alongside is the audit's ground truth, deliberately paid.
    QueryDef("q104_pq_adc",
      (s, dir) => {
        val half = DIM / 2
        val q = KMeans.quantized(Tables.embeddings(s, dir),
            "vec_id", "embedding")
          .localCheckpoint()
        val cb0 = KMeans.fold(pqRefined(pqSub(q, 0, half)))
          .select(col("cents").as("cents0"))
        val cb1 = KMeans.fold(pqRefined(pqSub(q, 1, half)))
          .select(col("cents").as("cents1"))
        def amin(sv: Column, cents: Column) =
          array_min(transform(cents, c => struct(
            KMeans.dist2(sv, c.getField("cq")).as("d2"),
            c.getField("cid").as("cid"))))
        val codes = q
          .select(col("id"), slice(col("qa"), 1, half).as("s0"),
            slice(col("qa"), half + 1, half).as("s1"))
          .crossJoin(broadcast(cb0)).crossJoin(broadcast(cb1))
          .select(col("id"),
            amin(col("s0"), col("cents0")).getField("cid").as("c0"),
            amin(col("s1"), col("cents1")).getField("cid").as("c1"))
        // per-query ADC tables keyed BY cid (cid → distance maps), not
        // by array position: if a seed cluster empties during the Lloyd
        // refinement the folded cents array shrinks and positional
        // element_at(td, cid+1) would silently score every cid above
        // the gap against the wrong codeword while the cid-joining
        // oracle stayed correct. map_from_entries keeps the lookup a
        // codegen'd broadcast-side expression either way.
        val qrows = q.filter(col("id") < 5)
          .select(col("id").as("qid"), col("qa").as("qq"))
          .crossJoin(broadcast(cb0)).crossJoin(broadcast(cb1))
          .select(col("qid"), col("qq"),
            map_from_entries(transform(col("cents0"), c => struct(
              c.getField("cid").as("key"),
              KMeans.dist2(slice(col("qq"), 1, half), c.getField("cq"))
                .as("value")))).as("td0"),
            map_from_entries(transform(col("cents1"), c => struct(
              c.getField("cid").as("key"),
              KMeans.dist2(slice(col("qq"), half + 1, half),
                c.getField("cq")).as("value")))).as("td1"))
        val approx = codes
          .crossJoin(broadcast(
            qrows.select(col("qid"), col("td0"), col("td1"))))
          .filter(col("id") =!= col("qid"))
          .select(col("qid"), col("id"),
            (element_at(col("td0"), col("c0"))
              + element_at(col("td1"), col("c1")))
              .as("ad2"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("ad2"), col("id"))))
          .filter(col("rn") <= 10)
          .select(col("qid"), col("id"), lit(1).as("ishit"))
        val exact = q
          .crossJoin(broadcast(qrows.select(col("qid"), col("qq"))))
          .filter(col("id") =!= col("qid"))
          .select(col("qid"), col("id"),
            KMeans.dist2(col("qa"), col("qq")).as("d2"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("d2"), col("id"))))
          .filter(col("rn") <= 10)
          .select(col("qid"), col("id"))
        exact.join(broadcast(approx), Seq("qid", "id"), "left")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_exact"),
            sum(when(col("ishit").isNotNull, 1L).otherwise(0L))
              .as("n_hit"))
          .select(col("qid").as("query_id"), col("n_exact"), col("n_hit"),
            expr("(2 * n_hit * 1000000 + n_exact) div (2 * n_exact)")
              .as("recall_ppm"))
          .orderBy(col("query_id"))
      },
      Some("""WITH qv AS (
             |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
             |      AS BIGINT) AS q
             |  FROM embeddings),
             |sv AS (SELECT vec_id, dim // 32 AS s, dim % 32 AS sd, q
             |  FROM qv),
             |cent AS (SELECT vec_id AS cid, s, sd, q AS cq FROM sv
             |  WHERE vec_id < 8),
             |d AS (
             |  SELECT v.vec_id, v.s, c.cid,
             |    sum((v.q - c.cq) * (v.q - c.cq)) AS d2
             |  FROM sv v JOIN cent c ON v.s = c.s AND v.sd = c.sd
             |  GROUP BY v.vec_id, v.s, c.cid),
             |a AS (
             |  SELECT vec_id, s, cid, row_number() OVER (
             |    PARTITION BY vec_id, s ORDER BY d2, cid) AS rn FROM d),
             |asg AS (SELECT vec_id, s, cid FROM a WHERE rn = 1),
             |ref AS (
             |  SELECT g.s, g.cid, v.sd,
             |    ((sum(v.q) + 1000000 * count(*)) * 2 + count(*))
             |      // (2 * count(*)) - 1000000 AS cq
             |  FROM asg g JOIN sv v ON v.vec_id = g.vec_id AND v.s = g.s
             |  GROUP BY g.s, g.cid, v.sd),
             |d2r AS (
             |  SELECT v.vec_id, v.s, r.cid,
             |    sum((v.q - r.cq) * (v.q - r.cq)) AS d2
             |  FROM sv v JOIN ref r ON v.s = r.s AND v.sd = r.sd
             |  GROUP BY v.vec_id, v.s, r.cid),
             |a2 AS (
             |  SELECT vec_id, s, cid, row_number() OVER (
             |    PARTITION BY vec_id, s ORDER BY d2, cid) AS rn FROM d2r),
             |codes AS (SELECT vec_id, s, cid FROM a2 WHERE rn = 1),
             |td AS (
             |  SELECT qy.vec_id AS qid, r.s, r.cid,
             |    sum((qy.q - r.cq) * (qy.q - r.cq)) AS d2
             |  FROM sv qy JOIN ref r ON qy.s = r.s AND qy.sd = r.sd
             |  WHERE qy.vec_id < 5
             |  GROUP BY qy.vec_id, r.s, r.cid),
             |ad AS (
             |  SELECT t.qid, c.vec_id, sum(t.d2) AS ad2
             |  FROM codes c JOIN td t ON t.s = c.s AND t.cid = c.cid
             |  WHERE c.vec_id <> t.qid
             |  GROUP BY t.qid, c.vec_id),
             |ar AS (
             |  SELECT qid, vec_id, row_number() OVER (
             |    PARTITION BY qid ORDER BY ad2, vec_id) AS rn FROM ad),
             |a10 AS (SELECT qid, vec_id FROM ar WHERE rn <= 10),
             |ed AS (
             |  SELECT qy.vec_id AS qid, v.vec_id,
             |    sum((v.q - qy.q) * (v.q - qy.q)) AS d2
             |  FROM sv v JOIN sv qy ON v.s = qy.s AND v.sd = qy.sd
             |  WHERE qy.vec_id < 5 AND v.vec_id <> qy.vec_id
             |  GROUP BY qy.vec_id, v.vec_id),
             |er AS (
             |  SELECT qid, vec_id, row_number() OVER (
             |    PARTITION BY qid ORDER BY d2, vec_id) AS rn FROM ed),
             |e10 AS (SELECT qid, vec_id FROM er WHERE rn <= 10)
             |SELECT e.qid AS query_id, CAST(count(*) AS BIGINT) AS n_exact,
             |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_hit,
             |  CAST((2 * sum(CASE WHEN a.vec_id IS NOT NULL
             |          THEN 1 ELSE 0 END) * 1000000 + count(*))
             |    // (2 * count(*)) AS BIGINT) AS recall_ppm
             |FROM e10 e
             |LEFT JOIN a10 a ON a.qid = e.qid AND a.vec_id = e.vec_id
             |GROUP BY e.qid ORDER BY query_id""".stripMargin)),

    // ── Q107: IVF PROBE-SWEEP CURVE — recall@10 as a function of the
    // probe count, nProbe = 1..4, in ONE query: the tuning curve
    // behind q55/q95's fixed nProbe = 2 (a production index chooses
    // nProbe by exactly this recall-vs-cells-touched trade; the q89/
    // q97 philosophy — the engine measures its own knobs in-plan).
    // All cells rank once (a window over the K-cell score table — K
    // is the bounded cell count, so the single-partition sort is over
    // K rows, the q55 TakeOrderedAndProject argument), the (n_probe,
    // label) probe sets fan out from that one ranking, and each
    // sweep point's top-10 runs through row_number ≤ 10 → the bounded
    // TopKPerKey heap, partitioned BY sweep point. One checkpointed
    // scored corpus projection (20 B/row) feeds the exact top-10 and
    // all four ANN rankings — the corpus is scanned once, re-ranked
    // four ways, never re-scored.
    QueryDef("q107_ivf_probe_curve",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val cosQ = cosQueryCol
        val scored = e.select(col("vec_id"), col("label"),
            cosQ.as("cos_raw"))
          .localCheckpoint()
        // the cell-ranking frame is the K-cell score table — bounded
        // by the constant cell count, so one partition is the right
        // plan; onePart pins it explicitly (a bare unpartitioned spec
        // logs the WindowExec warning that flags corpus-scaled frames)
        val ranks = ivfCellScores(e, queryVec)
          .withColumn("prank", row_number().over(Window
            .partitionBy(graft.plans.SinglePartition.onePart(col("sc")))
            .orderBy(col("sc").desc, col("label").cast("string"))))
        val probes = ranks
          .select(col("label"), col("prank"),
            explode(sequence(lit(1), lit(4))).as("n_probe"))
          .filter(col("prank") <= col("n_probe"))
          .select(col("n_probe").cast("long").as("n_probe"), col("label"))
        val ann = scored.join(broadcast(probes), Seq("label"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("n_probe"))
              .orderBy(col("cos_raw").desc, col("vec_id"))))
          .filter(col("rn") <= 10)
          .select(col("n_probe"), col("vec_id"))
        val exact = scored
          .orderBy(col("cos_raw").desc, col("vec_id")).limit(10)
          .select(col("vec_id"), lit(1L).as("x"))
        ann.join(broadcast(exact), Seq("vec_id"), "left")
          .groupBy(col("n_probe"))
          .agg(count(lit(1)).as("n_ann"),
            sum(when(col("x").isNotNull, 1L).otherwise(0L)).as("n_hit"))
          .select(col("n_probe"), col("n_ann"), col("n_hit"),
            expr("(2 * n_hit * 1000000 + 10) div 20").as("recall_ppm"))
          .orderBy(col("n_probe"))
      },
      Some {
        val centDot = (0 until DIM).map(i =>
          s"centroid[${i + 1}] * ${f(queryVec(i))}").mkString(" + ")
        val centNorm2 = (0 until DIM).map(i =>
          s"centroid[${i + 1}] * centroid[${i + 1}]").mkString(" + ")
        s"""WITH cent AS (
           |  SELECT label,
           |    list(CAST(((sq + 1000000 * n) * 2 + n) // (2 * n) - 1000000
           |           AS DOUBLE) / 10000.0 ORDER BY dim) AS centroid
           |  FROM (
           |    SELECT label, dim, sum(q) AS sq, count(*) AS n
           |    FROM (
           |      SELECT label,
           |        generate_subscripts(embedding, 1) - 1 AS dim,
           |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
           |          AS BIGINT) AS q
           |      FROM embeddings)
           |    GROUP BY label, dim)
           |  GROUP BY label),
           |cscore AS (
           |  SELECT label,
           |    CASE WHEN ($centNorm2) = 0 THEN 0.0
           |         ELSE ($centDot) / sqrt(($centNorm2) * ${f(qNorm2)})
           |    END AS sc
           |  FROM cent),
           |ranked AS (
           |  SELECT label, row_number() OVER (
           |    ORDER BY sc DESC, CAST(label AS VARCHAR)) AS prank
           |  FROM cscore),
           |ps AS (SELECT CAST(p.range AS BIGINT) AS n_probe
           |  FROM range(1, 5) p),
           |probes AS (
           |  SELECT ps.n_probe, r.label
           |  FROM ps JOIN ranked r ON r.prank <= ps.n_probe),
           |scored AS (
           |  SELECT vec_id, label,
           |    (${dotConstSql("embedding")})
           |      / (sqrt(${dotSql("embedding", "embedding")})
           |         * sqrt(${f(qNorm2)})) AS cos_raw
           |  FROM embeddings),
           |annr AS (
           |  SELECT p.n_probe, s.vec_id, row_number() OVER (
           |    PARTITION BY p.n_probe
           |    ORDER BY s.cos_raw DESC, s.vec_id) AS rn
           |  FROM scored s JOIN probes p USING (label)),
           |ann AS (SELECT n_probe, vec_id FROM annr WHERE rn <= 10),
           |ex AS (
           |  SELECT vec_id FROM scored
           |  ORDER BY cos_raw DESC, vec_id LIMIT 10)
           |SELECT a.n_probe, CAST(count(*) AS BIGINT) AS n_ann,
           |  CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_hit,
           |  CAST((2 * sum(CASE WHEN e.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) * 1000000 + 10) // 20 AS BIGINT)
           |    AS recall_ppm
           |FROM ann a LEFT JOIN ex e USING (vec_id)
           |GROUP BY a.n_probe ORDER BY a.n_probe""".stripMargin
      }),

    // ── Q120: TRUNCATED-DIMENSION RECALL CURVE — recall@10 of
    // prefix-dimension cosine ranking vs the full 64-dim exact top-10,
    // at dims = 8/16/32/64, in ONE query (Kusupati et al. 2022,
    // "Matryoshka Representation Learning": serve a cheap low-dim
    // prefix of the embedding, keep the full vector for re-rank; this
    // is the dimension-budget tuning curve a vector store runs before
    // picking the serving width — q107's probe sweep with dims as the
    // knob). The sweep dims NEST (each prefix extends the previous),
    // and the dims = 64 point IS the exact ranking, so recall there is
    // 1e6 by construction — the self-calibration row QueriesSpec pins.
    //
    // 100 TB shape: ONE corpus scan computes all four prefix scores
    // (the native graft_dot fold over the length-d literal/slice —
    // never a shuffled vector), the 4-way fan-out multiplies a
    // 12-byte (vec_id, sc) projection, each sweep point's top-10 runs
    // through the bounded TopKPerKey heap partitioned by sweep point,
    // and the 10-row exact set broadcasts back. FP parity: each score
    // keeps one association — dot_d / sqrt(norm2_d · qn2_d), every
    // element cast to double before multiplying, summed strictly
    // left-to-right — so both engines rank identical doubles.
    QueryDef("q120_trunc_recall",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        def scoreAt(d: Int): Column = {
          val q = queryVec.take(d)
          val qn2d = q.map(x => x * x).sum
          val pre = slice(col("embedding"), 1, d)
          val n2 = VectorKernels.dot(pre, pre)
          when(n2 === 0.0, lit(0.0))
            .otherwise(VectorKernels.dotConst(col("embedding"), q) /
              sqrt(n2 * lit(qn2d)))
        }
        val scored = e.select(col("vec_id") +:
            TRUNC_DIMS.map(d => scoreAt(d).as(s"sc$d")): _*)
          .localCheckpoint()
        val fan = scored.select(col("vec_id"),
            explode(array(TRUNC_DIMS.map(d => struct(
              lit(d.toLong).as("dims"), col(s"sc$d").as("sc"))): _*)).as("p"))
          .select(col("vec_id"), col("p.dims").as("dims"), col("p.sc").as("sc"))
        val ann = fan.withColumn("rn", row_number().over(
            Window.partitionBy(col("dims"))
              .orderBy(col("sc").desc, col("vec_id"))))
          .filter(col("rn") <= 10)
          .select(col("dims"), col("vec_id"))
        val exact = scored
          .orderBy(col(s"sc${TRUNC_DIMS.last}").desc, col("vec_id")).limit(10)
          .select(col("vec_id"), lit(1L).as("x"))
        ann.join(broadcast(exact), Seq("vec_id"), "left")
          .groupBy(col("dims"))
          .agg(count(lit(1)).as("n_ann"),
            sum(when(col("x").isNotNull, 1L).otherwise(0L)).as("n_hit"))
          .select(col("dims"), col("n_ann"), col("n_hit"),
            expr("(2 * n_hit * 1000000 + n_ann)"
              + " div (2 * nullif(n_ann, 0))").as("recall_ppm"))
          .orderBy(col("dims"))
      },
      Some {
        val scs = TRUNC_DIMS.map { d =>
          val qn2d = queryVec.take(d).map(x => x * x).sum
          s"""CASE WHEN (${norm2SqlN("embedding", d)}) = 0 THEN 0.0
             |      ELSE (${dotConstSqlN("embedding", d)})
             |        / sqrt((${norm2SqlN("embedding", d)}) * ${f(qn2d)})
             |    END AS sc$d""".stripMargin
        }.mkString(",\n    ")
        val caseSc = TRUNC_DIMS.init.map(d =>
          s"WHEN ${d} THEN sc$d").mkString(" ")
        s"""WITH scored AS (
           |  SELECT vec_id,
           |    $scs
           |  FROM embeddings),
           |fan AS (
           |  SELECT vec_id, d.dims,
           |    CASE d.dims $caseSc ELSE sc${TRUNC_DIMS.last} END AS sc
           |  FROM scored, (SELECT CAST(unnest([${TRUNC_DIMS.mkString(", ")}])
           |    AS BIGINT) AS dims) d),
           |annr AS (
           |  SELECT dims, vec_id, row_number() OVER (
           |    PARTITION BY dims ORDER BY sc DESC, vec_id) AS rn
           |  FROM fan),
           |ann AS (SELECT dims, vec_id FROM annr WHERE rn <= 10),
           |ex AS (
           |  SELECT vec_id FROM scored
           |  ORDER BY sc${TRUNC_DIMS.last} DESC, vec_id LIMIT 10)
           |SELECT a.dims, CAST(count(*) AS BIGINT) AS n_ann,
           |  CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_hit,
           |  CAST((2 * sum(CASE WHEN e.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) * 1000000 + count(*))
           |    // (2 * nullif(count(*), 0)) AS BIGINT) AS recall_ppm
           |FROM ann a LEFT JOIN ex e USING (vec_id)
           |GROUP BY a.dims ORDER BY a.dims""".stripMargin
      }),

    // ── Q121: kNN-GRAPH HUBNESS AUDIT — the in-degree (k-occurrence)
    // distribution of the 3-NN graph over a fixed 200-query panel:
    // high-dimensional embedding spaces concentrate nearest-neighbor
    // lists onto a few "hub" points while many points appear in no
    // list at all (Radovanović et al. 2010, JMLR 11, "Hubs in space");
    // a heavy right tail here predicts degraded retrieval quality and
    // is the standard intrinsic-dimensionality red flag a vector
    // pipeline checks before trusting its index. Output: one row per
    // observed in-degree with the number of vectors at that degree
    // (degree 0 — the anti-hubs — included via the corpus left join).
    //
    // 100 TB shape: the panel is FIXED-SIZE (vec_id < 200), so the
    // audit is one corpus scan with the 200 quantized panel vectors
    // broadcast onto it — the corpus never shuffles a vector; per-
    // panel-query top-3 runs through the bounded TopKPerKey heap, and
    // everything downstream aggregates (cand, count) pairs. Distances
    // are exact int64 over the 1e-4-quantized domain (q52/q98's
    // KMeans helpers), so the argmin set — and every degree count —
    // is identical at any partitioning in both engines.
    QueryDef("q121_knn_hubness",
      (s, dir) => {
        // Pair distances via the expansion d² = |a|² + |b|² − 2·a·b
        // with the fused graft_dot codegen loop — NOT the interpreted
        // zip_with/aggregate fold (measured 4.0 → 0.6 s at sf0.1 over
        // the 200·N pair fan-out). Still EXACT: quantized components
        // are ≤ ~2·10⁵, so every product (≤ 4·10¹⁰) and partial sum
        // (≤ 2.6·10¹²) is an integer below 2⁵³ — the double
        // accumulator represents each exactly and the final cast to
        // long is the same integer the per-dim difference sum yields.
        val pv = KMeans.quantized(Tables.embeddings(s, dir),
          "vec_id", "embedding")
          .select(col("id"), col("qa").cast("array<double>").as("qa"))
          .withColumn("n2",
            VectorKernels.dot(col("qa"), col("qa")).cast("long"))
        val panel = pv.filter(col("id") < 200)
          .select(col("id").as("qid"), col("qa").as("pq"),
            col("n2").as("pn2"))
        val top3 = pv.join(broadcast(panel), col("id") =!= col("qid"))
          .select(col("qid"), col("id").as("cand"),
            (col("n2") + col("pn2")
              - (VectorKernels.dot(col("qa"), col("pq")) * 2)
                .cast("long")).as("d2"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("d2"), col("cand"))))
          .filter(col("rn") <= 3)
        val deg = top3.groupBy(col("cand")).agg(count(lit(1)).as("deg"))
        pv.select(col("id").as("cand"))
          .join(deg, Seq("cand"), "left")
          .select(coalesce(col("deg"), lit(0L)).as("in_degree"))
          .groupBy(col("in_degree"))
          .agg(count(lit(1)).as("n_vectors"))
          .orderBy(col("in_degree"))
      },
      Some("""WITH qv AS (
             |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
             |      AS BIGINT) AS q
             |  FROM embeddings),
             |pd AS (
             |  SELECT p.vec_id AS qid, c.vec_id AS cand,
             |    sum((c.q - p.q) * (c.q - p.q)) AS d2
             |  FROM qv c JOIN qv p
             |    ON c.dim = p.dim AND c.vec_id <> p.vec_id
             |  WHERE p.vec_id < 200
             |  GROUP BY 1, 2),
             |r AS (
             |  SELECT qid, cand, row_number() OVER (
             |    PARTITION BY qid ORDER BY d2, cand) AS rn
             |  FROM pd),
             |deg AS (
             |  SELECT cand, count(*) AS deg FROM r WHERE rn <= 3
             |  GROUP BY cand),
             |alld AS (
             |  SELECT coalesce(d.deg, 0) AS in_degree
             |  FROM embeddings v LEFT JOIN deg d ON d.cand = v.vec_id)
             |SELECT CAST(in_degree AS BIGINT) AS in_degree,
             |  CAST(count(*) AS BIGINT) AS n_vectors
             |FROM alld GROUP BY in_degree ORDER BY in_degree""".stripMargin)),

    // ── Q130: LSH HAMMING-RADIUS SWEEP — q53's fixed radius-28 filter
    // as a measured knob: candidates admitted and recall@10 at radius
    // 16/24/32/64 in ONE query (the q107/q126/q128 philosophy pointed
    // at the third ANN family). The radius sets NEST, and recall is
    // PROVABLY non-decreasing in the radius — any vector outranking a
    // true top-10 member has higher cosine and is therefore itself in
    // the exact top-10, so widening the candidate set can never evict
    // a hit — and radius 64 admits everything, making its row the
    // exact ranking (recall 1e6) by construction. Both lattice facts
    // pinned corpus-independently in QueriesSpec.
    //
    // 100 TB shape: ONE corpus scan computes (bucket XOR, hamming,
    // cosine) — at scale the bucket is an ingest-time stored column —
    // and caches a 24-byte projection; the 4-way fan-out multiplies
    // that projection, per-radius top-10 runs through the bounded
    // TopKPerKey heap, and the 10-row exact set broadcasts back.
    // Zero-filled radius rows via a literal frame (an empty radius is
    // a report row, not a missing one).
    QueryDef("q130_lsh_radius_sweep",
      (s, dir) => {
        val nPlanes = 64
        val bucket = VectorKernels.lshBucket(col("embedding"), DIM, nPlanes)
        val qBucket = VectorKernels.bucketOf(queryVec.toArray, nPlanes)
        val cos = cosQueryCol
        val scored = Tables.embeddings(s, dir)
          .select(col("vec_id"),
            bit_count(bucket.bitwiseXOR(lit(qBucket))).cast("long")
              .as("hd"),
            cos.as("cos_raw"))
          .localCheckpoint()
        val radii = array(lit(16L), lit(24L), lit(32L), lit(64L))
        val fan = scored
          .select(col("vec_id"), col("cos_raw"), col("hd"),
            explode(radii).as("radius"))
          .filter(col("hd") <= col("radius"))
        val nc = fan.groupBy(col("radius"))
          .agg(count(lit(1)).as("n_candidates"))
        val ann = fan.withColumn("rn", row_number().over(
            Window.partitionBy(col("radius"))
              .orderBy(col("cos_raw").desc, col("vec_id"))))
          .filter(col("rn") <= 10)
          .select(col("radius"), col("vec_id"))
        val exact = scored
          .orderBy(col("cos_raw").desc, col("vec_id")).limit(10)
          .select(col("vec_id"), lit(1L).as("x"))
        val hits = ann.join(broadcast(exact), Seq("vec_id"), "left")
          .groupBy(col("radius"))
          .agg(count(lit(1)).as("n_ann"),
            sum(when(col("x").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        s.range(1).select(explode(radii).as("radius"))
          .join(nc, Seq("radius"), "left")
          .join(hits, Seq("radius"), "left")
          .crossJoin(broadcast(nExact))
          .select(col("radius"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
            coalesce(col("n_ann"), lit(0L)).as("n_ann"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            expr("(2 * coalesce(n_hit, 0) * 1000000 + n_exact)"
              + " div (2 * nullif(n_exact, 0))").as("recall_ppm"))
          .orderBy(col("radius"))
      },
      Some(s"""WITH $planesCte,
              |qvals AS (
              |  SELECT CAST(generate_subscripts(q, 1) - 1 AS INT) AS i,
              |         unnest(q) AS v
              |  FROM (SELECT [${queryVec.map(f).mkString(",")}] AS q)),
              |qdots AS (
              |  SELECT pl.p, sum(pl.w * qv.v) AS dq
              |  FROM planes pl JOIN qvals qv ON pl.i = qv.i GROUP BY pl.p),
              |dots AS (
              |  SELECT e.vec_id, pl.p,
              |    sum(CAST(e.embedding[pl.i + 1] AS DOUBLE) * pl.w) AS d
              |  FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p),
              |ham AS (
              |  SELECT d.vec_id,
              |    sum(CASE WHEN (d.d >= 0) <> (q.dq >= 0) THEN 1 ELSE 0 END)
              |      AS hd
              |  FROM dots d JOIN qdots q USING (p) GROUP BY d.vec_id),
              |scored AS (
              |  SELECT e.vec_id, h.hd,
              |    (${dotConstSql("e.embedding")})
              |      / (sqrt(${dotSql("e.embedding", "e.embedding")})
              |         * sqrt(${f(qNorm2)})) AS cos_raw
              |  FROM embeddings e JOIN ham h USING (vec_id)),
              |rs AS (SELECT CAST(unnest([16, 24, 32, 64]) AS BIGINT)
              |  AS radius),
              |fan AS (
              |  SELECT r.radius, s.vec_id, s.cos_raw
              |  FROM scored s CROSS JOIN rs r WHERE s.hd <= r.radius),
              |nc AS (
              |  SELECT radius, count(*) AS n_candidates
              |  FROM fan GROUP BY radius),
              |annr AS (
              |  SELECT radius, vec_id, row_number() OVER (
              |    PARTITION BY radius ORDER BY cos_raw DESC, vec_id) AS rn
              |  FROM fan),
              |ann AS (SELECT radius, vec_id FROM annr WHERE rn <= 10),
              |ex AS (
              |  SELECT vec_id FROM scored
              |  ORDER BY cos_raw DESC, vec_id LIMIT 10),
              |ne AS (SELECT count(*) AS n_exact FROM ex),
              |hits AS (
              |  SELECT a.radius, count(*) AS n_ann,
              |    sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              |      AS n_hit
              |  FROM ann a LEFT JOIN ex e USING (vec_id)
              |  GROUP BY a.radius)
              |SELECT r.radius,
              |  CAST(coalesce(c.n_candidates, 0) AS BIGINT)
              |    AS n_candidates,
              |  CAST(coalesce(h.n_ann, 0) AS BIGINT) AS n_ann,
              |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
              |  CAST((2 * coalesce(h.n_hit, 0) * 1000000 + ne.n_exact)
              |    // (2 * nullif(ne.n_exact, 0)) AS BIGINT) AS recall_ppm
              |FROM rs r
              |LEFT JOIN nc c USING (radius)
              |LEFT JOIN hits h USING (radius)
              |CROSS JOIN ne
              |ORDER BY r.radius""".stripMargin)),

    // SemDeDup-style semantic dedup (Abbas et al. 2023, public): near-
    // duplicate mining ONLY within k-means cells, so the candidate
    // space is N·cell_size instead of N² — the published recipe for
    // semantic dedup at web-corpus scale. Cells here come from one
    // assignment pass against the q98 seed codebook (shared KMeans
    // kernels; integer-exact 1e-4 quantized distances, ties to the
    // lower cid). The within-cell pair stage is a cid equi-join: at
    // 100 TB, k scales with the corpus (k ≈ N / target_cell_size)
    // so each join group stays O(cell_size) rows and the engine never
    // materializes cross-cell candidates; dup_vecs counts the rows
    // SemDeDup would drop (any vector near-dominated by a lower-id
    // cell-mate).
    QueryDef("q133_semantic_dedup",
      // thresh ≈ 1.5% of the within-cell pair mass at sf0.01
      (s, dir) => semanticDedup(Tables.embeddings(s, dir), 140000000L)
        .orderBy(col("cid")),
      Some("""WITH qv AS (
             |  SELECT vec_id,
             |    generate_subscripts(embedding, 1) - 1 AS dim,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
             |      AS BIGINT) AS q
             |  FROM embeddings),
             |cent AS (
             |  SELECT vec_id AS cid, dim, q AS cq FROM qv WHERE vec_id < 8),
             |dd AS (
             |  SELECT v.vec_id, c.cid, sum((v.q - c.cq) * (v.q - c.cq)) AS d2
             |  FROM qv v JOIN cent c USING (dim)
             |  GROUP BY v.vec_id, c.cid),
             |aa AS (
             |  SELECT vec_id, cid, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY d2, cid) AS rn
             |  FROM dd),
             |asg AS (SELECT vec_id, cid FROM aa WHERE rn = 1),
             |pd AS (
             |  SELECT x.cid, x.vec_id AS va, y.vec_id AS vb,
             |    sum((p.q - r.q) * (p.q - r.q)) AS d2
             |  FROM asg x
             |  JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
             |  JOIN qv p ON p.vec_id = x.vec_id
             |  JOIN qv r ON r.vec_id = y.vec_id AND r.dim = p.dim
             |  GROUP BY x.cid, x.vec_id, y.vec_id),
             |np AS (
             |  SELECT cid, count(*) AS nd_pairs,
             |    count(DISTINCT vb) AS dup_vecs
             |  FROM pd WHERE d2 <= 140000000 GROUP BY cid),
             |mem AS (SELECT cid, count(*) AS members FROM asg GROUP BY cid)
             |SELECT m.cid, CAST(m.members AS BIGINT) AS members,
             |  CAST(coalesce(np.nd_pairs, 0) AS BIGINT) AS nd_pairs,
             |  CAST(coalesce(np.dup_vecs, 0) AS BIGINT) AS dup_vecs
             |FROM mem m LEFT JOIN np USING (cid) ORDER BY m.cid""".stripMargin)),

    // ── Q138: IVF + PQ COMBINED ANN (the FAISS "IVF,PQ" layout,
    // by_residual=false) — the two index halves the engine already
    // audits separately (q55/q107 coarse cells, q104 code compression)
    // composed the way a production billion-vector index actually
    // runs: ONE ingest scan assigns each vector a coarse cell AND both
    // PQ codes (coarse seed codebook + two refined subspace codebooks,
    // all three broadcast — the corpus never moves to be coded); a
    // query probes its 2 nearest cells and ADC-ranks ONLY the probed
    // cells' codes, touching (id, cell, c0, c1) — 4 ints/row — for a
    // cell-bounded candidate slice instead of the corpus. Recall@10 is
    // audited against the GLOBAL exact top-10, so the reported number
    // charges both error sources at once (probe misses + code
    // quantization) — exactly the trade a deployment tunes. All
    // distances integer-exact (1e-4 domain); both top-10s run through
    // the bounded TopKPerKey heap.
    QueryDef("q138_ivfpq_recall",
      (s, dir) => {
        val half = DIM / 2
        val q = KMeans.quantized(Tables.embeddings(s, dir),
            "vec_id", "embedding")
          .localCheckpoint()
        val coarse = KMeans.fold(q.filter(col("id") < 8)
          .select(col("id").as("cid"), col("qa").as("cq")))
        val cb0 = KMeans.fold(pqRefined(pqSub(q, 0, half)))
          .select(col("cents").as("cents0"))
        val cb1 = KMeans.fold(pqRefined(pqSub(q, 1, half)))
          .select(col("cents").as("cents1"))
        def amin(sv: Column, cents: Column) =
          array_min(transform(cents, c => struct(
            KMeans.dist2(sv, c.getField("cq")).as("d2"),
            c.getField("cid").as("cid"))))
        // the ingest pass: cell + both codes in one corpus scan
        val coded = q
          .crossJoin(broadcast(coarse))
          .crossJoin(broadcast(cb0)).crossJoin(broadcast(cb1))
          .select(col("id"),
            amin(col("qa"), col("cents")).getField("cid").as("cell"),
            amin(slice(col("qa"), 1, half), col("cents0"))
              .getField("cid").as("c0"),
            amin(slice(col("qa"), half + 1, half), col("cents1"))
              .getField("cid").as("c1"))
        val qrows = q.filter(col("id") < 5)
          .select(col("id").as("qid"), col("qa").as("qq"))
          .crossJoin(broadcast(cb0)).crossJoin(broadcast(cb1))
          .select(col("qid"), col("qq"),
            map_from_entries(transform(col("cents0"), c => struct(
              c.getField("cid").as("key"),
              KMeans.dist2(slice(col("qq"), 1, half), c.getField("cq"))
                .as("value")))).as("td0"),
            map_from_entries(transform(col("cents1"), c => struct(
              c.getField("cid").as("key"),
              KMeans.dist2(slice(col("qq"), half + 1, half),
                c.getField("cq")).as("value")))).as("td1"))
        val probes = q.filter(col("id") < 5)
          .crossJoin(broadcast(coarse))
          .select(col("id").as("qid"),
            posexplode(col("cents")).as(Seq("_i", "c")),
            col("qa"))
          .select(col("qid"), col("c").getField("cid").as("cell"),
            KMeans.dist2(col("qa"), col("c").getField("cq")).as("cd2"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("cd2"), col("cell"))))
          .filter(col("rn") <= 2)
          .select(col("qid"), col("cell"))
        val cand = coded.join(broadcast(probes), Seq("cell"))
          .filter(col("id") =!= col("qid"))
          .localCheckpoint()
        val nCand = cand.groupBy(col("qid"))
          .agg(count(lit(1)).as("n_cand"))
        val approx = cand
          .join(broadcast(qrows.select(col("qid"), col("td0"),
            col("td1"))), Seq("qid"))
          .select(col("qid"), col("id"),
            (element_at(col("td0"), col("c0"))
              + element_at(col("td1"), col("c1"))).as("ad2"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("ad2"), col("id"))))
          .filter(col("rn") <= 10)
          .select(col("qid"), col("id"), lit(1).as("ishit"))
        val exact = q
          .crossJoin(broadcast(qrows.select(col("qid"), col("qq"))))
          .filter(col("id") =!= col("qid"))
          .select(col("qid"), col("id"),
            KMeans.dist2(col("qa"), col("qq")).as("d2"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("d2"), col("id"))))
          .filter(col("rn") <= 10)
          .select(col("qid"), col("id"))
        exact.join(broadcast(approx), Seq("qid", "id"), "left")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_exact"),
            sum(when(col("ishit").isNotNull, 1L).otherwise(0L))
              .as("n_hit"))
          .join(broadcast(nCand), Seq("qid"), "left")
          .select(col("qid").as("query_id"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            col("n_exact"), col("n_hit"),
            expr("(2 * n_hit * 1000000 + n_exact) div (2 * n_exact)")
              .as("recall_ppm"))
          .orderBy(col("query_id"))
      },
      Some("""WITH qv AS (
             |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
             |      AS BIGINT) AS q
             |  FROM embeddings),
             |sv AS (SELECT vec_id, dim // 32 AS s, dim % 32 AS sd, q
             |  FROM qv),
             |cent AS (SELECT vec_id AS cid, s, sd, q AS cq FROM sv
             |  WHERE vec_id < 8),
             |d AS (
             |  SELECT v.vec_id, v.s, c.cid,
             |    sum((v.q - c.cq) * (v.q - c.cq)) AS d2
             |  FROM sv v JOIN cent c ON v.s = c.s AND v.sd = c.sd
             |  GROUP BY v.vec_id, v.s, c.cid),
             |a AS (
             |  SELECT vec_id, s, cid, row_number() OVER (
             |    PARTITION BY vec_id, s ORDER BY d2, cid) AS rn FROM d),
             |asg AS (SELECT vec_id, s, cid FROM a WHERE rn = 1),
             |ref AS (
             |  SELECT g.s, g.cid, v.sd,
             |    ((sum(v.q) + 1000000 * count(*)) * 2 + count(*))
             |      // (2 * count(*)) - 1000000 AS cq
             |  FROM asg g JOIN sv v ON v.vec_id = g.vec_id AND v.s = g.s
             |  GROUP BY g.s, g.cid, v.sd),
             |d2r AS (
             |  SELECT v.vec_id, v.s, r.cid,
             |    sum((v.q - r.cq) * (v.q - r.cq)) AS d2
             |  FROM sv v JOIN ref r ON v.s = r.s AND v.sd = r.sd
             |  GROUP BY v.vec_id, v.s, r.cid),
             |a2 AS (
             |  SELECT vec_id, s, cid, row_number() OVER (
             |    PARTITION BY vec_id, s ORDER BY d2, cid) AS rn FROM d2r),
             |codes AS (SELECT vec_id, s, cid FROM a2 WHERE rn = 1),
             |dcell AS (
             |  SELECT v.vec_id, c.vec_id AS cell,
             |    sum((v.q - c.q) * (v.q - c.q)) AS d2
             |  FROM qv v JOIN qv c ON c.dim = v.dim AND c.vec_id < 8
             |  GROUP BY v.vec_id, c.vec_id),
             |acell AS (
             |  SELECT vec_id, cell, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dcell),
             |cellasg AS (SELECT vec_id, cell FROM acell WHERE rn = 1),
             |probes AS (
             |  SELECT vec_id AS qid, cell FROM acell
             |  WHERE vec_id < 5 AND rn <= 2),
             |td AS (
             |  SELECT qy.vec_id AS qid, r.s, r.cid,
             |    sum((qy.q - r.cq) * (qy.q - r.cq)) AS d2
             |  FROM sv qy JOIN ref r ON qy.s = r.s AND qy.sd = r.sd
             |  WHERE qy.vec_id < 5
             |  GROUP BY qy.vec_id, r.s, r.cid),
             |cand AS (
             |  SELECT p.qid, g.vec_id
             |  FROM cellasg g JOIN probes p ON p.cell = g.cell
             |  WHERE g.vec_id <> p.qid),
             |nc AS (SELECT qid, count(*) AS n_cand FROM cand GROUP BY qid),
             |ad AS (
             |  SELECT n.qid, n.vec_id, sum(t.d2) AS ad2
             |  FROM cand n
             |  JOIN codes c ON c.vec_id = n.vec_id
             |  JOIN td t ON t.qid = n.qid AND t.s = c.s AND t.cid = c.cid
             |  GROUP BY n.qid, n.vec_id),
             |ar AS (
             |  SELECT qid, vec_id, row_number() OVER (
             |    PARTITION BY qid ORDER BY ad2, vec_id) AS rn FROM ad),
             |a10 AS (SELECT qid, vec_id FROM ar WHERE rn <= 10),
             |ed AS (
             |  SELECT qy.vec_id AS qid, v.vec_id,
             |    sum((v.q - qy.q) * (v.q - qy.q)) AS d2
             |  FROM sv v JOIN sv qy ON v.s = qy.s AND v.sd = qy.sd
             |  WHERE qy.vec_id < 5 AND v.vec_id <> qy.vec_id
             |  GROUP BY qy.vec_id, v.vec_id),
             |er AS (
             |  SELECT qid, vec_id, row_number() OVER (
             |    PARTITION BY qid ORDER BY d2, vec_id) AS rn FROM ed),
             |e10 AS (SELECT qid, vec_id FROM er WHERE rn <= 10)
             |SELECT e.qid AS query_id,
             |  CAST(coalesce(max(nc.n_cand), 0) AS BIGINT) AS n_cand,
             |  CAST(count(*) AS BIGINT) AS n_exact,
             |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_hit,
             |  CAST((2 * sum(CASE WHEN a.vec_id IS NOT NULL
             |          THEN 1 ELSE 0 END) * 1000000 + count(*))
             |    // (2 * count(*)) AS BIGINT) AS recall_ppm
             |FROM e10 e
             |LEFT JOIN a10 a ON a.qid = e.qid AND a.vec_id = e.vec_id
             |LEFT JOIN nc ON nc.qid = e.qid
             |GROUP BY e.qid ORDER BY query_id""".stripMargin)))

  /** IVF search over a (vec_id, label, embedding) DataFrame: label is
    * the cell id (a k-means assignment in a real deployment; the
    * driver's labels here). Train = per-cell mean; probe = nProbe
    * cells nearest the query; exact re-rank within probed cells only.
    * Probe selection runs IN-PLAN: centroid scores rank through a
    * TakeOrderedAndProject over K rows (K = #cells — constant) and the
    * nProbe winning labels broadcast-semi-join back onto the corpus —
    * no `.collect()` anywhere in the query path. (FP note: the probe
    * score keeps the oracle's exact association, dot / sqrt(norm2 ·
    * qn2) with a single sqrt over the product, so near-tie probe
    * choices cannot flicker between engines.)
    */
  def ivfTopK(e: org.apache.spark.sql.DataFrame, q: Seq[Double],
      nProbe: Int, k: Int): org.apache.spark.sql.DataFrame = {
    val qn2 = q.map(x => x * x).sum
    val cos = VectorKernels.dotConst(col("embedding"), q) /
      (VectorKernels.norm(col("embedding")) * lit(math.sqrt(qn2)))
    e.join(broadcast(ivfProbes(e, q, nProbe)), Seq("label"), "left_semi")
      .select(col("vec_id"), col("label"), cos.as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("cos_raw").as("cosine"))
  }

  /** The train + probe-selection half of [[ivfTopK]], factored so q95
    * can probe the same cells over its shared scored projection:
    * per-label mean centroids (exact 1e-4 quantization — q52's
    * rationale: a raw avg(double) is partition-order dependent and a
    * near-tie probe choice would flicker across runs/engines), then
    * the nProbe labels nearest the query, ranked in-plan through a
    * TakeOrderedAndProject over K rows. The returned frame is the
    * broadcast-ready semi-join build side.
    */
  private[graft] def ivfProbes(e: org.apache.spark.sql.DataFrame,
      q: Seq[Double], nProbe: Int): org.apache.spark.sql.DataFrame =
    ivfCellScores(e, q)
      .orderBy(col("sc").desc, col("label").cast("string"))
      .limit(nProbe)
      .select(col("label"))

  /** Per-cell query scores (label, sc) behind [[ivfProbes]] — q107
    * ranks ALL cells from this frame to sweep the probe count.
    */
  private[graft] def ivfCellScores(e: org.apache.spark.sql.DataFrame,
      q: Seq[Double]): org.apache.spark.sql.DataFrame = {
    val qn2 = q.map(x => x * x).sum
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        KMeans.qcol(col("v")).as("q"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        expr("CAST(((sq + 1000000 * n) * 2 + n) div (2 * n) - 1000000" +
          " AS DOUBLE) / 10000.0").as("cv"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cv"))))
        .as("pairs"))
      .select(col("label"),
        transform(col("pairs"), p => p.getField("cv")).as("centroid"))
    // na (= centroid·centroid) instead of graft_norm so the score is
    // dot / sqrt(na · qn2) — the oracle's association, one sqrt over
    // the product.
    val na = VectorKernels.dot(col("centroid"), col("centroid"))
    cent
      .select(col("label"),
        when(na === 0.0, lit(0.0))
          .otherwise(VectorKernels.dotConst(col("centroid"), q)
            / sqrt(na * lit(qn2))).as("sc"))
  }
}
