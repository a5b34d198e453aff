package graft.operators

import graft.plans.SinglePartition.onePart
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (token counting, quality scoring,
  * language scoring, adjacent-document similarity). Everything here is
  * built from codegen'd `functions._` columns (split / higher-order
  * array functions), NOT UDFs, so the scan→project pipeline stays in
  * whole-stage codegen and scales linearly with no shuffle except the
  * declared aggregations.
  *
  * SQL-expressible semantics on purpose: each query has an exact DuckDB
  * oracle. The hash-based operators (minhash/simhash/fingerprints) live
  * in [[Dedup]] with rows-only checks + unit tests.
  */
object TextAnalysis {

  /** Tokens = split on single space (documents are space-joined word
    * lists; single-space split is reproducible verbatim in ANSI SQL,
    * unlike locale/regex-sensitive tokenizers). Keeps empty tokens and
    * splits ONLY on the literal space — the oracle twin is
    * [[OracleSql.plainSplit]] (`string_split(text, ' ')`), and every
    * oracle in this file must use that form, never the trimmed `\s+`
    * kernel convention of [[OracleSql.toksCte]] (TextKernels.tokenize),
    * or engine/oracle tokenization silently diverges the moment the
    * testdata gains irregular whitespace.
    */
  private val toks = split(col("text"), " ")

  private val enWords = Seq("the", "a", "and", "of", "to", "in", "is",
    "it", "that", "for")
  private val esWords = Seq("el", "la", "de", "que", "y", "en", "un",
    "por", "con", "los")
  private val deWords = Seq("der", "die", "das", "und", "ist", "von",
    "mit", "den", "ein", "zu")

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** Adjacent-token bigrams of a PRE-MATERIALIZED token-array column
    * `t` (select `toks.as("t")` first: referencing the raw split()
    * inside a higher-order lambda re-evaluates the full split per
    * element — O(n²) chars per doc, measured 2.7 s → 0.6 s at sf0.1).
    * Linear zip of the array with its tail. Shared by
    * q35/q45/q49/q58/q59 and Dedup's q157 quality gate.
    */
  private[graft] val bigramsOfT = {
    val t = col("t")
    when(size(t) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b)))
  }

  /** Adjacent-token trigrams of a pre-materialized token-array column
    * `t` — the [[bigramsOfT]] zip extended one tail further. Trigrams
    * (not unigrams/bigrams) are the sketch domain of q101/q102 on
    * purpose: the synthetic corpus draws from a ~30-word vocabulary,
    * so only the 3-gram space (~27 k keys) is large enough for
    * cardinality estimation and membership filtering to measure
    * anything (unigram sets are near-identical across every source).
    */
  private val trigramsOfT = {
    val t = col("t")
    when(size(t) < 3, array().cast("array<string>"))
      .otherwise(zip_with(
        zip_with(
          slice(t, lit(1), size(t) - 2),
          slice(t, lit(2), size(t) - 2),
          (a, b) => concat(a, lit(" "), b)),
        slice(t, lit(3), size(t) - 2),
        (ab, c) => concat(ab, lit(" "), c)))
  }

  /** TextKernels.hash64 / mix64∘hash64 as NATIVE expressions
    * (graft.plans.HashExpressions, registered by Tables.documents) —
    * join/sketch base keys (q48/q58) and uniform hashes for
    * order-statistic sketches and deterministic sampling
    * (q49/q56/q65). Formerly Scala UDFs; the native forms keep the
    * scan→hash stages inside whole-stage codegen.
    */
  private def hash64C(c: org.apache.spark.sql.Column) =
    call_function("graft_hash64", c)
  private def mixedHashC(c: org.apache.spark.sql.Column) =
    call_function("graft_mix64", hash64C(c))

  /** 2⁶⁴ as an exact DECIMAL(38,0) — with [[unsignedDec]] this turns
    * the u64 threshold tests of deterministic sampling (keep iff
    * u·a < b·2⁶⁴) into pure integer-decimal column arithmetic: exact
    * (decimals are integers throughout, no FP), codegen'd, no UDF.
    * Headroom note: products stay under DECIMAL(38,0)'s 10³⁸ ceiling
    * for per-stratum counts up to ~10¹⁸ rows.
    */
  private[graft] val two64 =
    lit(new java.math.BigDecimal("18446744073709551616"))
      .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))

  /** Signed long column → its unsigned-u64 value as DECIMAL(38,0).
    * Exactness-critical (both engines must agree bit-for-bit on
    * hash-order/threshold comparisons) — shared across operator
    * modules rather than re-derived (q152 reuses it for the q56 split
    * rule).
    */
  private[graft] def unsignedDec(c: org.apache.spark.sql.Column) =
    (c.cast(org.apache.spark.sql.types.DataTypes.createDecimalType(20, 0))
      + when(c < 0, two64).otherwise(lit(0)))
      .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))

  /** q147's probe-set bound: at most this many probe documents are
    * ever broadcast, whatever the corpus size (first-N candidates by
    * the mix64(doc_id) permutation — the q108 cap kernel). PlanSpec
    * pins both the constant and the TakeOrdered shape.
    */
  private[graft] val ProbeCap = 16

  /** q48's probe join, pre-aggregation: src0 ("test") 5-gram hash
    * occurrences LEFT-joined against the DISTINCT non-src0 ("train")
    * 5-gram hash set. Split out so ScaleGrowthSpec can drive the real
    * probe over synthetic corpora: because the build side is DISTINCT,
    * each probe row matches at most once — probe output rows == test
    * 5-gram rows EXACTLY, independent of train-corpus size. That
    * no-amplification property is the 100 TB shape (the train side
    * compacts to its distinct hash set; the join never multiplies).
    *
    * Shingling runs through the native `graft_shingle_hashes`
    * expression (plans/HashExpressions), the same kernel q42/q46 use:
    * text → distinct 5-gram hash64 array in one fused codegen loop,
    * with NO 5-gram string materialization (the previous
    * array_join(slice(toks,…)) built every 5-gram as a string and
    * hashed it in a second pass — measured ~2x slower and allocation-
    * heavy; q48 was the engine's slowest query because of it).
    *
    * The shingled docs are checkpointed (CacheLifecycle's contract):
    * the test and train branches would otherwise each re-run the scan
    * and the shingle kernel, which measured dearer than the one
    * checkpoint job (plans/r14/materialize_sites.md).
    */
  private[graft] def contaminationProbe(docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("source"),
        call_function("graft_shingle_hashes",
          coalesce(col("text"), lit("")), lit(5)).as("sh"))
      .localCheckpoint()
    val test = docs.filter(col("source") === "src0")
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val train = docs.filter(col("source") =!= "src0")
      .select(explode(col("sh")).as("s")).distinct()
      .withColumn("hit", lit(1))
    test.join(train, Seq("s"), "left")
  }

  /** q76's duplicated-n-gram-fraction pipeline over any (doc_id,
    * text) frame — the df-based entry ScaleGrowthSpec drives with
    * synthetic corpora. One scan, one explode; the corpus-wide
    * document frequency is a count() window over the hash partition
    * (per-doc shingle sets are distinct, so count(*) per hash IS the
    * df), not a groupBy+self-join — a join formulation would re-scan
    * and re-explode the corpus for the probe side.
    */
  private[graft] def dupNgramFractionFrom(
      docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docsIn
      .select(col("doc_id"),
        explode(call_function("graft_shingle_hashes",
          coalesce(col("text"), lit("")), lit(5))).as("s"))
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        expr("CAST((2 * n_dup * 1000000 + n_shingles)" +
          " div (2 * n_shingles) AS BIGINT)").as("dup_ppm"))
  }

  /** q90's per-doc upsampling plan, shared with q100's manifest: one
    * row per document carrying the per-source stats (n_docs, tok_s),
    * the equal-token-share target t_tgt, and the doc's repeat count
    * base + extra (deterministic mix64(doc_id) Bernoulli — the same
    * permutation key as q65/q75, so down-sample, up-sample, shard,
    * and schedule decisions all reproduce from one hash). Stats and
    * the 1-row total broadcast back onto the scan; the repeat columns
    * are pure projection.
    */
  private def upsamplePlan(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(toks).cast("long").as("nt"))
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tok_s"))
    val tot = stats.agg(sum(col("tok_s")).as("tok_total"),
      count(lit(1)).as("n_src"))
    val u = unsignedDec(call_function("graft_mix64", col("doc_id")))
    docs.join(broadcast(stats), "source")
      .crossJoin(broadcast(tot))
      .withColumn("t_tgt", expr("tok_total div n_src"))
      .withColumn("base", expr("t_tgt div tok_s"))
      .withColumn("rem", expr("t_tgt % tok_s"))
      .withColumn("extra",
        when(u * col("tok_s") < two64 * col("rem"), 1L).otherwise(0L))
  }

  val defs: Seq[QueryDef] = Seq(

    // ── Q30: token statistics per document (token counting op):
    // whitespace tokens plus a BPE-ish subword estimate (one extra
    // token per 4 chars of overlong words — byte-pair inflation
    // without a vocab; mirrors TextKernels.approxTokenCount).
    QueryDef("q30_token_stats",
      (s, dir) => {
        val bpe = aggregate(
          transform(toks, t => lit(1L) +
            when(length(t) > 4, ((length(t) - 1) / lit(4)).cast("long"))
              .otherwise(0L)),
          lit(0L), (acc, x) => acc + x)
        Tables.documents(s, dir)
          .select(col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            bpe.as("n_bpe_tokens"),
            length(col("text")).cast("long").as("len_chars"),
            size(array_distinct(toks)).cast("long").as("n_distinct"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |  CAST(list_sum(list_transform(string_split(text, ' '),
             |    t -> 1 + CASE WHEN length(t) > 4
             |             THEN (length(t) - 1) // 4 ELSE 0 END))
             |    AS BIGINT) AS n_bpe_tokens,
             |  CAST(length(text) AS BIGINT) AS len_chars,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── Q31: quality scoring — length band, mean word length,
    // repetition (distinct-token ratio), blended to one score.
    QueryDef("q31_quality_score",
      (s, dir) => {
        val nTokens = size(toks).cast("double")
        val distinctRatio = size(array_distinct(toks)).cast("double") / nTokens
        val meanWord = length(regexp_replace(col("text"), lit(" "), lit("")))
          .cast("double") / nTokens
        val lengthBand = least(lit(1.0), nTokens / 50.0)
        val wordBand = least(lit(1.0), meanWord / 8.0)
        val quality = lit(0.4) * distinctRatio + lit(0.3) * lengthBand +
          lit(0.3) * wordBand
        // Scalar per-row doubles: both engines compute bit-identical
        // values from the same inputs, so NO rounding — builtin round()
        // differs between engines at .5 boundaries and would only
        // introduce mismatch risk.
        Tables.documents(s, dir)
          .select(col("doc_id"),
            distinctRatio.as("distinct_ratio"),
            meanWord.as("mean_word_len"),
            quality.as("quality"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |    / len(string_split(text, ' ')) AS distinct_ratio,
             |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
             |    / len(string_split(text, ' ')) AS mean_word_len,
             |  0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |          / len(string_split(text, ' ')))
             |      + 0.3 * least(1.0, len(string_split(text, ' ')) / 50.0)
             |      + 0.3 * least(1.0, (CAST(length(replace(text, ' ', '')) AS DOUBLE)
             |          / len(string_split(text, ' '))) / 8.0) AS quality
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── Q32: stopword language scoring (language-ID heuristic):
    // per-language stopword hit ratio + deterministic argmax. Scores
    // ship as exact ppm INTEGERS (q59's convention) — round_half_up
    // (hits·10⁶ / n_tokens) in pure integer arithmetic, so no
    // engine-boundary float ever crosses the compare. The argmax
    // compares raw hit counts: all three ratios share the denominator
    // n_tokens, so hit-count order IS ratio order, exactly.
    QueryDef("q32_lang_scores",
      (s, dir) => {
        def hits(ws: Seq[String]) =
          size(filter(toks, t => t.isInCollection(ws))).cast("long")
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            size(toks).cast("long").as("n_tok"),
            hits(enWords).as("en_h"), hits(esWords).as("es_h"),
            hits(deWords).as("de_h"))
          .select(col("doc_id"), col("lang"),
            expr("(2 * en_h * 1000000 + n_tok) div (2 * n_tok)").as("en_ppm"),
            expr("(2 * es_h * 1000000 + n_tok) div (2 * n_tok)").as("es_ppm"),
            expr("(2 * de_h * 1000000 + n_tok) div (2 * n_tok)").as("de_ppm"),
            when(col("en_h") >= col("es_h") && col("en_h") >= col("de_h"), "en")
              .when(col("es_h") >= col("de_h"), "es").otherwise("de")
              .as("predicted"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH scored AS (
              |  SELECT doc_id, lang,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              |    CAST(len(list_filter(string_split(text, ' '),
              |      x -> x IN (${inList(enWords)}))) AS BIGINT) AS en_h,
              |    CAST(len(list_filter(string_split(text, ' '),
              |      x -> x IN (${inList(esWords)}))) AS BIGINT) AS es_h,
              |    CAST(len(list_filter(string_split(text, ' '),
              |      x -> x IN (${inList(deWords)}))) AS BIGINT) AS de_h
              |  FROM documents)
              |SELECT doc_id, lang,
              |  (2 * en_h * 1000000 + n_tok) // (2 * n_tok) AS en_ppm,
              |  (2 * es_h * 1000000 + n_tok) // (2 * n_tok) AS es_ppm,
              |  (2 * de_h * 1000000 + n_tok) // (2 * n_tok) AS de_ppm,
              |  CASE WHEN en_h >= es_h AND en_h >= de_h THEN 'en'
              |       WHEN es_h >= de_h THEN 'es' ELSE 'de' END AS predicted
              |FROM scored ORDER BY doc_id""".stripMargin)),

    // ── Q33: per-source corpus profile (the "corpus report" agg).
    // avg_chars rounds half-up in integer arithmetic (char counts are
    // ints; a double avg + round() breaks exact .00005 ties
    // engine-dependently).
    QueryDef("q33_corpus_profile",
      (s, dir) => Tables.documents(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks).cast("long")).as("total_tokens"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          max(col("n_chars")).as("max_chars"))
        .select(col("source"), col("lang"), col("n_docs"), col("total_tokens"),
          (expr("(2 * sum_chars * 10000 + n_docs) div (2 * n_docs)")
            .cast("double") / 10000.0).as("avg_chars"),
          col("max_chars"))
        .orderBy(col("source"), col("lang")),
      Some("""SELECT source, lang, n_docs, CAST(total_tokens AS BIGINT) AS total_tokens,
             |  CAST((2 * sum_chars * 10000 + n_docs) // (2 * n_docs) AS DOUBLE)
             |    / 10000.0 AS avg_chars,
             |  max_chars
             |FROM (
             |  SELECT source, lang, count(*) AS n_docs,
             |    sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS total_tokens,
             |    sum(CAST(length(text) AS BIGINT)) AS sum_chars,
             |    max(n_chars) AS max_chars
             |  FROM documents GROUP BY source, lang)
             |ORDER BY source, lang""".stripMargin)),

    // ── Q35: corpus-wide top-20 bigrams — generate per-doc bigram
    // arrays (guarded: sequence() on <2 tokens would produce a
    // DESCENDING range in Spark), explode, hash-agg count, global
    // top-k (TakeOrderedAndProject — never a full sort).
    QueryDef("q35_top_bigrams",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(toks.as("t"))
          .select(explode(bigramsOfT).as("bigram"))
          .groupBy(col("bigram"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(20)
      },
      Some("""WITH toks AS (
             |  SELECT string_split(text, ' ') AS t FROM documents),
             |bg AS (
             |  SELECT unnest(list_transform(range(1, len(t)),
             |    i -> t[i] || ' ' || t[i + 1])) AS bigram
             |  FROM toks)
             |SELECT bigram, count(*) AS n
             |FROM bg GROUP BY bigram
             |ORDER BY n DESC, bigram LIMIT 20""".stripMargin)),

    // ── Q34: adjacent-document token-set Jaccard (n-gram Jaccard op at
    // k=1, pair selection = consecutive ids to stay O(n); the full
    // LSH-pruned pairing is q42 in Dedup).
    QueryDef("q34_jaccard_adjacent",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val a = d.select(col("doc_id").as("doc_a"),
          array_distinct(toks).as("ta"))
        val b = d.select(col("doc_id").as("doc_b"),
          array_distinct(toks).as("tb"))
        a.join(b, col("doc_b") === col("doc_a") + 1)
          .select(col("doc_a"), col("doc_b"),
            (size(array_intersect(col("ta"), col("tb"))).cast("double") /
              (size(col("ta")) + size(col("tb"))
                - size(array_intersect(col("ta"), col("tb")))).cast("double"))
              .as("jaccard"))
          .orderBy(col("doc_a"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
             |  FROM documents)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             |    / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
             |    AS jaccard
             |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
             |ORDER BY doc_a""".stripMargin)),

    // ── Q45: per-document repetition ratios — the Gopher-style
    // repetition filters (Rae et al. 2021, §A1.1: drop documents whose
    // most frequent n-gram accounts for too large a fraction): top
    // bigram fraction, duplicate-bigram fraction, and a keep flag at
    // the published 0.20 top-2-gram threshold. Two hash aggregations
    // ((doc, bigram) then doc), partial-aggregated map-side; fractions
    // are rounded half-up in exact integer arithmetic (q52 pattern)
    // and the keep flag compares integers (top_c·5 ≤ n), so no FP
    // crosses an engine boundary.
    QueryDef("q45_repetition_ratios",
      (s, dir) => {
        // r12: the explode → groupBy(doc, bg) → groupBy(doc) pair of
        // aggregations shuffled one row per bigram occurrence for an
        // aggregate whose scope is a single document — the per-doc
        // census is computed row-locally by graft_bigram_census (zero
        // exchanges; bit-identical counts — see BigramCensus). The
        // size(t) >= 2 filter reproduces explode-of-empty-array row
        // elimination: docs with < 2 tokens had no bigram rows.
        Tables.documents(s, dir)
          .select(col("doc_id"), toks.as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"),
            call_function("graft_bigram_census", col("t")).as("bc"))
          .select(col("doc_id"), col("bc.nbg").as("n_bigrams"),
            col("bc.topc").as("top_c"), col("bc.dupc").as("dup_c"))
          .select(col("doc_id"), col("n_bigrams"),
            expr("CAST((2 * top_c * 1000000 + n_bigrams) div (2 * n_bigrams)" +
              " AS DOUBLE) / 1000000.0").as("top_frac"),
            expr("CAST((2 * dup_c * 1000000 + n_bigrams) div (2 * n_bigrams)" +
              " AS DOUBLE) / 1000000.0").as("dup_frac"),
            (col("top_c") * 5 <= col("n_bigrams")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |bg AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
             |    i -> t[i] || ' ' || t[i + 1])) AS bg
             |  FROM toks WHERE len(t) >= 2),
             |counts AS (
             |  SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
             |stats AS (
             |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_c,
             |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_c
             |  FROM counts GROUP BY doc_id)
             |SELECT doc_id, n_bigrams,
             |  CAST((2 * top_c * 1000000 + n_bigrams) // (2 * n_bigrams)
             |    AS DOUBLE) / 1000000.0 AS top_frac,
             |  CAST((2 * dup_c * 1000000 + n_bigrams) // (2 * n_bigrams)
             |    AS DOUBLE) / 1000000.0 AS dup_frac,
             |  top_c * 5 <= n_bigrams AS keep
             |FROM stats ORDER BY doc_id""".stripMargin)),

    // ── Q47: quality filter funnel — staged corpus filters with
    // per-stage retention, the report every training-data pipeline
    // produces before committing a filter chain. Stages (cumulative):
    // token count ≥ 30, distinct-token ratio ≥ 0.4, mean word length
    // ≥ 4.4, stopword fraction ≥ 0.05 (Gopher keeps docs WITH
    // stopwords — natural-text evidence). Every predicate compares
    // integers (counts cross-multiplied against the threshold
    // rationals), so survivorship is engine-exact; one scan, one
    // single-row aggregate, unpivoted to stage rows.
    QueryDef("q47_filter_funnel",
      (s, dir) => {
        val t = col("t")
        val stopSet = array(enWords.map(lit): _*)
        val base = Tables.documents(s, dir)
          .select(toks.as("t"))
          .select(size(t).as("n"),
            size(array_distinct(t)).as("nd"),
            aggregate(transform(t, x => length(x).cast("long")),
              lit(0L), (acc, x) => acc + x).as("sumlen"),
            size(filter(t, x => array_contains(stopSet, x))).as("sw"))
          .select(col("n"), col("nd"), col("sumlen"), col("sw"),
            (col("n") >= 30).as("c1"))
          .select(col("n"), col("sumlen"), col("sw"), col("c1"),
            (col("c1") && col("nd") * 10 >= col("n") * 4).as("c2"))
          .select(col("n"), col("sw"), col("c1"), col("c2"),
            (col("c2") && col("sumlen") * 10 >= col("n") * 44).as("c3"))
          .select(col("c1"), col("c2"), col("c3"),
            (col("c3") && col("sw") * 20 >= col("n")).as("c4"))
        val agg = base.agg(
          count(lit(1)).as("s0"),
          sum(when(col("c1"), 1L).otherwise(0L)).as("s1"),
          sum(when(col("c2"), 1L).otherwise(0L)).as("s2"),
          sum(when(col("c3"), 1L).otherwise(0L)).as("s3"),
          sum(when(col("c4"), 1L).otherwise(0L)).as("s4"))
        agg.select(expr(
          "stack(5, 0, 'all_docs', s0, 1, 'min_tokens_30', s1," +
            " 2, 'distinct_ratio_0.4', s2, 3, 'mean_word_len_4.4', s3," +
            " 4, 'stopword_frac_0.05', s4) AS (stage, rule, survivors)"))
          .join(agg.select(col("s0").as("total")))
          .select(col("stage"), col("rule"), col("survivors"),
            expr("CAST((2 * survivors * 1000000 + total) div (2 * total)" +
              " AS DOUBLE) / 1000000.0").as("retained"))
          .orderBy(col("stage"))
      },
      Some("""WITH s AS (
             |  SELECT len(t) AS n, len(list_distinct(t)) AS nd,
             |    list_reduce(list_transform(t, x -> CAST(len(x) AS BIGINT)),
             |      (a, b) -> a + b) AS sumlen,
             |    len(list_filter(t, x -> x IN ('the', 'a', 'and', 'of', 'to',
             |      'in', 'is', 'it', 'that', 'for'))) AS sw
             |  FROM (SELECT string_split(text, ' ') AS t FROM documents)),
             |c AS (
             |  SELECT *, n >= 30 AS c1,
             |    (n >= 30 AND nd * 10 >= n * 4) AS c2,
             |    (n >= 30 AND nd * 10 >= n * 4 AND sumlen * 10 >= n * 44) AS c3,
             |    (n >= 30 AND nd * 10 >= n * 4 AND sumlen * 10 >= n * 44
             |      AND sw * 20 >= n) AS c4
             |  FROM s),
             |agg AS (
             |  SELECT count(*) AS s0,
             |    CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
             |    CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
             |    CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
             |    CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
             |  FROM c),
             |stages AS (
             |  SELECT 0 AS stage, 'all_docs' AS rule, s0 AS survivors, s0 AS total FROM agg
             |  UNION ALL SELECT 1, 'min_tokens_30', s1, s0 FROM agg
             |  UNION ALL SELECT 2, 'distinct_ratio_0.4', s2, s0 FROM agg
             |  UNION ALL SELECT 3, 'mean_word_len_4.4', s3, s0 FROM agg
             |  UNION ALL SELECT 4, 'stopword_frac_0.05', s4, s0 FROM agg)
             |SELECT stage, rule, survivors,
             |  CAST((2 * survivors * 1000000 + total) // (2 * total)
             |    AS DOUBLE) / 1000000.0 AS retained
             |FROM stages ORDER BY stage""".stripMargin)),

    // ── Q48: benchmark-contamination check — for every document of a
    // held-out source ("the test set", src0), the fraction of its
    // distinct 5-gram shingles that appear ANYWHERE in the other
    // sources ("the training corpus"): the n-gram-overlap decontamination
    // report (the GPT-3 appendix-C shape) every training pipeline runs
    // before trusting an eval. Pure built-ins: shingles via
    // transform+slice over the token array, one distinct on train
    // shingles, one left join, one per-doc aggregate.
    //
    // 100 TB shape: the train-shingle distinct and the probe join run
    // on hash64(shingle) — 8-byte shuffle keys instead of ~40-byte
    // strings (q46's principle: shingle text never leaves the
    // executor). The oracle applies the same hash64 in HUGEINT SQL, so
    // parity stays bit-exact rather than modulo-collision (and a
    // collision could only ever ADD a matched n-gram, at ~2⁻⁶⁴). The
    // shingle construction itself stays pure built-ins; only the final
    // string→hash map is a TextKernels UDF (the documented exception).
    QueryDef("q48_contamination_check",
      (s, dir) => {
        contaminationProbe(Tables.documents(s, dir))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_ngrams"),
            count(col("hit")).as("n_matched"))
          .select(col("doc_id"), col("n_ngrams"), col("n_matched"),
            expr("CAST((2 * n_matched * 1000000 + n_ngrams)" +
              " div (2 * n_ngrams) AS DOUBLE) / 1000000.0")
              .as("containment"),
            (col("n_matched") * 5 >= col("n_ngrams")).as("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${OracleSql.toksCte("documents", "doc_id, source")},
              |${OracleSql.shinglesCte(5, "doc_id, source")},
              |sh AS (SELECT doc_id, source, unnest(sset) AS sg FROM shing),
              |hs AS (
              |  SELECT doc_id, source, ${OracleSql.hash64("sg")} AS s
              |  FROM sh),
              |train AS (SELECT DISTINCT s FROM hs WHERE source <> 'src0'),
              |test AS (SELECT doc_id, s FROM hs WHERE source = 'src0'),
              |agg AS (
              |  SELECT t.doc_id, count(*) AS n_ngrams, count(tr.s) AS n_matched
              |  FROM test t LEFT JOIN train tr ON t.s = tr.s
              |  GROUP BY t.doc_id)
              |SELECT doc_id, n_ngrams, n_matched,
              |  CAST((2 * n_matched * 1000000 + n_ngrams) // (2 * n_ngrams)
              |    AS DOUBLE) / 1000000.0 AS containment,
              |  n_matched * 5 >= n_ngrams AS contaminated
              |FROM agg ORDER BY doc_id""".stripMargin)),

    // ── Q49: per-source distinct-BIGRAM cardinality via the KMV sketch
    // (functions/KmvSketchAgg) next to the exact count — the
    // deterministic approx-distinct whose estimate the oracle
    // reproduces bit-for-bit (q27's HLL admits only a rows-only
    // check; KMV's k-th-order-statistic estimate is pure integer
    // arithmetic in both engines). Bigrams, not tokens: the corpus
    // vocabulary is ~30 tokens/source (below any useful k), while
    // bigram cardinality is in the hundreds, so the k = 256 estimator
    // path actually runs at sf ≥ 0.01 (sf0.001 covers the below-k
    // exact path). The bigram→hash map is a TextKernels UDF
    // (mix64∘hash64) — the documented exception to this file's
    // no-UDF rule, shared with Dedup's signature UDFs.
    QueryDef("q49_kmv_distinct",
      (s, dir) => {
        val kmv = udaf(graft.functions.KmvSketchAgg(256))
        Tables.documents(s, dir)
          .select(col("source"), toks.as("t"))
          .select(col("source"), explode(bigramsOfT).as("bg"))
          .groupBy(col("source"))
          .agg(countDistinct(col("bg")).as("n_exact"),
            kmv(mixedHashC(col("bg"))).as("est_kmv"))
          .orderBy(col("source"))
      },
      Some {
        val K = 256
        s"""WITH tk AS (
           |  SELECT source, string_split(text, ' ') AS t FROM documents),
           |bg0 AS (
           |  SELECT source, unnest(list_transform(range(1, len(t)),
           |    i -> t[i] || ' ' || t[i + 1])) AS bg
           |  FROM tk WHERE len(t) >= 2),
           |dt AS (SELECT DISTINCT source, bg FROM bg0),
           |h0 AS (SELECT source, bg, ${OracleSql.hash64("bg")} AS z FROM dt),
           |${OracleSql.mix64Ctes("source, bg", "h0")},
           |vals AS (SELECT DISTINCT source, m FROM mixed),
           |ranked AS (
           |  SELECT source, m,
           |    row_number() OVER (PARTITION BY source ORDER BY m) AS rn
           |  FROM vals),
           |sk AS (
           |  SELECT source, count(*) AS nm,
           |    max(CASE WHEN rn = $K THEN m END) AS kth
           |  FROM ranked GROUP BY source),
           |ex AS (SELECT source, count(*) AS n_exact FROM dt GROUP BY source)
           |SELECT e.source, e.n_exact,
           |  CAST(CASE WHEN s.nm < $K THEN s.nm
           |       ELSE (${K - 1} * ${OracleSql.MOD}) // s.kth
           |       END AS BIGINT) AS est_kmv
           |FROM ex e JOIN sk s ON e.source = s.source
           |ORDER BY e.source""".stripMargin
      }),

    // ── Q56: deterministic hash-based corpus split — train/val/test
    // by thresholding mix64(doc_id) at exact rational cuts of the
    // unsigned 2⁶⁴ range (90/5/5). THE reproducible-sampling primitive
    // of a training pipeline: membership is a pure function of the
    // stable id (not the text, so near-dup edits can't migrate a doc
    // across the leak boundary; not rand(), so re-runs, retries and
    // engine swaps agree row-for-row). Embarrassingly parallel — no
    // shuffle until the reporting aggregate. The threshold compare is
    // u·10 < 9·2⁶⁴ / u·20 < 19·2⁶⁴ in exact integer arithmetic on
    // both engines (no floating-point cut, no constant rounding).
    QueryDef("q56_hash_split",
      (s, dir) => {
        val u = unsignedDec(call_function("graft_mix64", col("doc_id")))
        val split = when(u * 10 < two64 * 9, "train")
          .when(u * 20 < two64 * 19, "val").otherwise("test")
        Tables.documents(s, dir)
          .select(col("source"), split.as("split"),
            size(toks).cast("long").as("nt"))
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
          .orderBy(col("source"), col("split"))
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, source, len(string_split(text, ' ')) AS nt
              |  FROM documents),
              |h0 AS (
              |  SELECT doc_id, source, nt, CAST(doc_id AS HUGEINT) AS z
              |  FROM base),
              |${OracleSql.mix64Ctes("doc_id, source, nt", "h0")},
              |lab AS (
              |  SELECT source, nt,
              |    CASE WHEN m * 10 < 9 * ${OracleSql.MOD} THEN 'train'
              |         WHEN m * 20 < 19 * ${OracleSql.MOD} THEN 'val'
              |         ELSE 'test' END AS split
              |  FROM mixed)
              |SELECT source, split, count(*) AS n_docs,
              |  CAST(sum(nt) AS BIGINT) AS n_tokens
              |FROM lab GROUP BY source, split
              |ORDER BY source, split""".stripMargin)),

    // ── Q57: sequence packing — assign documents to fixed
    // token-budget bins (2048, a context window) by cumulative token
    // offset within each source, ordered by the stable doc_id: the
    // contiguous-chunking shape of pretraining sample packing, where a
    // doc's bin is a pure function of the tokens before it. One window
    // pass: partition by source (hash shuffle), in-partition sort by
    // doc_id, running sum — integer arithmetic only, so bin and offset
    // are engine-exact. At 100 TB this is the standard shape: packing
    // is per-shard (source/file), never a global sort.
    QueryDef("q57_sequence_pack",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(toks).cast("long").as("nt"))
          .withColumn("cum_before", coalesce(sum(col("nt")).over(w), lit(0L)))
          .select(col("doc_id"), col("source"), col("nt"),
            expr("cum_before div 2048").as("bin"),
            expr("cum_before % 2048").as("offset"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
             |  FROM documents),
             |cum AS (
             |  SELECT doc_id, source, nt,
             |    coalesce(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS cum_before
             |  FROM base)
             |SELECT doc_id, source, nt,
             |  CAST(cum_before // 2048 AS BIGINT) AS bin,
             |  CAST(cum_before % 2048 AS BIGINT) AS offset
             |FROM cum ORDER BY doc_id""".stripMargin)),

    // ── Q58: count-min-sketch heavy hitters — the top-20 exact
    // bigrams (q35's list) annotated with their CMS frequency
    // ESTIMATE: the bounded-memory profile a 100 TB corpus scan
    // actually ships (one 4×2048 counter array per partition, vector-
    // add merged) next to the exact counts the small-SF harness can
    // still afford. est ≥ exact always (CMS never undercounts); the
    // oracle replays the whole sketch — every occurrence's 4 slot
    // hashes, the per-cell sums, the min-over-rows estimate — in
    // HUGEINT SQL, so the estimates are verified bit-for-bit, not
    // merely bounded. Same UDF exception as q49 for the bigram→hash64
    // base map; slot mixing lives in the Aggregator.
    QueryDef("q58_cms_heavy_hitters",
      (s, dir) => {
        val depth = 4; val width = 2048
        val cms = udaf(graft.functions.CmsSketchAgg(depth, width))
        val estUdf = udf { (sk: Seq[Long], base: Long) =>
          graft.functions.CmsSketchAgg.estimate(sk.toIndexedSeq, base,
            depth, width)
        }
        // checkpointed: the sketch aggregate AND the exact top-20 both
        // consume the scan→explode→hash pass
        val occ = Tables.documents(s, dir)
          .select(toks.as("t"))
          .select(explode(bigramsOfT).as("bg"))
          .select(col("bg"), hash64C(col("bg")).as("hb"))
          .localCheckpoint()
        val sketch = occ.agg(cms(col("hb")).as("sk"))
        val top = occ.groupBy(col("bg"))
          .agg(count(lit(1)).as("exact_count"), first(col("hb")).as("hb"))
          .orderBy(col("exact_count").desc, col("bg"))
          .limit(20)
        top.join(broadcast(sketch))
          .select(col("bg"), col("exact_count"),
            estUdf(col("sk"), col("hb")).as("est_count"))
          .orderBy(col("exact_count").desc, col("bg"))
      },
      Some {
        val golden = "11400714819323198485" // GOLDEN as unsigned residue
        s"""WITH tk AS (
           |  SELECT string_split(text, ' ') AS t FROM documents),
           |occ AS (
           |  SELECT unnest(list_transform(range(1, len(t)),
           |    i -> t[i] || ' ' || t[i + 1])) AS bg
           |  FROM tk WHERE len(t) >= 2),
           |exact AS (SELECT bg, count(*) AS c FROM occ GROUP BY bg),
           |hb AS (SELECT bg, c, ${OracleSql.hash64("bg")} AS z0 FROM exact),
           |slots AS (
           |  SELECT bg, c, CAST(i.range AS INT) AS i,
           |    (z0 + (CAST(i.range AS HUGEINT) * $golden) % ${OracleSql.MOD})
           |      % ${OracleSql.MOD} AS z
           |  FROM hb, range(0, 4) i),
           |${OracleSql.mix64Ctes("bg, c, i", "slots")},
           |addr AS (SELECT bg, c, i, m % 2048 AS idx FROM mixed),
           |cells AS (
           |  SELECT i, idx, CAST(sum(c) AS BIGINT) AS cell
           |  FROM addr GROUP BY i, idx),
           |est AS (
           |  SELECT a.bg, min(cl.cell) AS est_count
           |  FROM addr a JOIN cells cl ON cl.i = a.i AND cl.idx = a.idx
           |  GROUP BY a.bg),
           |top AS (
           |  SELECT bg, c AS exact_count FROM exact
           |  ORDER BY c DESC, bg LIMIT 20)
           |SELECT t.bg, t.exact_count, e.est_count
           |FROM top t JOIN est e ON e.bg = t.bg
           |ORDER BY t.exact_count DESC, t.bg""".stripMargin
      }),

    // ── Q59: collocation extraction — bigrams whose parts co-occur
    // far more than independence predicts, the phrase-mining pass of a
    // corpus pipeline. Classically ranked by PMI = ln(p(xy)/(p(x)p(y)));
    // ln is monotone, so ranking by the LIFT ratio c_xy·N/(c_x·c_y)
    // gives the identical order in exact integer arithmetic — no
    // cross-engine libm drift (the q52 determinism rule: never rank on
    // engine-computed floats). lift_ppm = the ratio in parts-per-
    // million, rounded half-up integerly; numerators stay < 2⁶³ for
    // any harness SF (c_bg·N·10⁶ ≤ ~10¹⁸ at sf1), while the oracle
    // computes in HUGEINT regardless. min-count ≥ 5 drops noise pairs
    // (standard collocation practice).
    QueryDef("q59_collocations",
      (s, dir) => {
        val toksExpl = Tables.documents(s, dir)
          .select(toks.as("t")).select(explode(col("t")).as("tok"))
        val unig = toksExpl.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
        val nTok = toksExpl.agg(count(lit(1)).as("n_tok"))
        val bg = Tables.documents(s, dir)
          .select(toks.as("t")).select(explode(bigramsOfT).as("bg"))
          .groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
          .filter(col("c_bg") >= 5)
          .select(col("bg"), col("c_bg"),
            split(col("bg"), " ").getItem(0).as("w1"),
            split(col("bg"), " ").getItem(1).as("w2"))
        bg.join(unig.select(col("tok").as("w1"), col("c1").as("ca")), "w1")
          .join(unig.select(col("tok").as("w2"), col("c1").as("cb")), "w2")
          .join(broadcast(nTok))
          // lift_ppm = round_half_up(c_bg·n_tok·10⁶ / (ca·cb)) —
          // computed in DECIMAL(38,0): the numerator is ~c_bg·N·10⁶,
          // which wraps silently in non-ANSI long arithmetic beyond
          // c_bg·N ≈ 4.6·10¹⁵ (a 100 TB corpus crosses that); the
          // oracle's HUGEINT is exact either way. div returns LONG.
          .select(col("bg"), col("c_bg"), col("ca"), col("cb"),
            expr("(2 * CAST(c_bg AS DECIMAL(38,0)) * n_tok * 1000000" +
              " + CAST(ca AS DECIMAL(38,0)) * cb)" +
              " div (2 * CAST(ca AS DECIMAL(38,0)) * cb)").as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("bg"))
          .limit(20)
      },
      Some("""WITH tk AS (
             |  SELECT string_split(text, ' ') AS t FROM documents),
             |uni AS (SELECT unnest(t) AS tok FROM tk),
             |unig AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY tok),
             |ntok AS (SELECT CAST(count(*) AS HUGEINT) AS n_tok FROM uni),
             |occ AS (
             |  SELECT unnest(list_transform(range(1, len(t)),
             |    i -> t[i] || ' ' || t[i + 1])) AS bg
             |  FROM tk WHERE len(t) >= 2),
             |bgc AS (
             |  SELECT bg, count(*) AS c_bg,
             |    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
             |  FROM occ GROUP BY bg HAVING count(*) >= 5),
             |j AS (
             |  SELECT b.bg, b.c_bg, a.c1 AS ca, c.c1 AS cb, n.n_tok
             |  FROM bgc b
             |  JOIN unig a ON a.tok = b.w1
             |  JOIN unig c ON c.tok = b.w2
             |  CROSS JOIN ntok n)
             |SELECT bg, CAST(c_bg AS BIGINT) AS c_bg,
             |  CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
             |  CAST((2 * c_bg * n_tok * 1000000 + ca * cb) // (2 * ca * cb)
             |    AS BIGINT) AS lift_ppm
             |FROM j
             |ORDER BY lift_ppm DESC, bg LIMIT 20""".stripMargin)),

    // ── Q65: weighted source mixing — deterministic per-source
    // sampling to target mixture weights, the pretraining data-mix op
    // (each source s gets weight w_s; keep-probability p_s = w_s ·
    // cnt_m / (w_m · cnt_s), scaled so the LIMITING source m — the one
    // minimizing cnt/w — keeps 100% and every kept-count lands ∝ w).
    // Membership is a pure function of doc_id (u = mix64(doc_id) as a
    // uniform u64; keep iff u · w_m · cnt_s < w_s · cnt_m · 2⁶⁴), so
    // the sample is reproducible shard-by-shard at 100 TB with no
    // global state. All arithmetic is integer-exact: the limiting
    // source is chosen by the integer key cnt·(60 div w) (w ∈ 1..5 all
    // divide 60, so the rational cnt/w order is preserved exactly),
    // and the threshold compare is DECIMAL(38,0)/HUGEINT — no float
    // anywhere, and no UDF (graft_mix64 + decimal columns codegen).
    // Plan shape: one partial-agg shuffle for the 20-row stats table,
    // then broadcast joins back onto the scan; the 1-row limiting
    // source rides a broadcast cross join. Conditional sums (not a
    // filter) keep all sources in the output even if one keeps 0 docs.
    QueryDef("q65_source_mix_sample",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(toks).cast("long").as("nt"))
        val stats = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w", pmod(hash64C(col("source")), lit(5L)) + lit(1L))
        val limiting = stats
          .select(col("n_docs").as("cnt_m"), col("w").as("w_m"),
            expr("n_docs * (60 div w)").as("key"), col("source").as("ms"))
          .orderBy(col("key"), col("ms")).limit(1)
          .select(col("cnt_m"), col("w_m"))
        val u = unsignedDec(call_function("graft_mix64", col("doc_id")))
        docs.join(broadcast(stats), "source")
          .crossJoin(broadcast(limiting))
          .withColumn("keep",
            u * (col("w_m") * col("n_docs")) < two64 * (col("w") * col("cnt_m")))
          .groupBy(col("source"))
          .agg(first(col("w")).as("w"), first(col("n_docs")).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("keep"), col("nt")).otherwise(0L)).as("kept_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, source, len(string_split(text, ' ')) AS nt
              |  FROM documents),
              |srcs AS (SELECT DISTINCT source FROM base),
              |srcw AS (
              |  SELECT source,
              |    ((${OracleSql.toSigned(OracleSql.hash64("source"))} % 5)
              |      + 5) % 5 + 1 AS w
              |  FROM srcs),
              |stats AS (
              |  SELECT b.source, count(*) AS cnt, any_value(sw.w) AS w
              |  FROM base b JOIN srcw sw ON sw.source = b.source
              |  GROUP BY b.source),
              |lim AS (
              |  SELECT cnt AS cnt_m, w AS w_m FROM stats
              |  ORDER BY cnt * (60 // w), source LIMIT 1),
              |h0 AS (
              |  SELECT doc_id, source, nt, CAST(doc_id AS HUGEINT) AS z
              |  FROM base),
              |${OracleSql.mix64Ctes("doc_id, source, nt", "h0")},
              |flagged AS (
              |  SELECT d.source, d.nt, s.w, s.cnt,
              |    CASE WHEN d.m * (CAST(l.w_m AS HUGEINT) * s.cnt)
              |           < CAST(s.w AS HUGEINT) * l.cnt_m * ${OracleSql.MOD}
              |         THEN 1 ELSE 0 END AS keep
              |  FROM mixed d
              |  JOIN stats s ON s.source = d.source
              |  CROSS JOIN lim l)
              |SELECT source, CAST(any_value(w) AS BIGINT) AS w,
              |  any_value(cnt) AS n_docs,
              |  CAST(sum(keep) AS BIGINT) AS n_kept,
              |  CAST(sum(keep * nt) AS BIGINT) AS kept_tokens
              |FROM flagged GROUP BY source ORDER BY source""".stripMargin)),

    // ── Q66: distinctive terms per source — TF-IDF-style
    // over-representation: for each source, the tokens whose in-source
    // frequency most exceeds their corpus frequency, lift_ppm =
    // round_half_up((tf/tok_s) / (ctf/N) · 10⁶) in exact DECIMAL/
    // HUGEINT integer arithmetic (the q59 pattern — NEVER rank on
    // engine floats). Scale shape: ONE explode→groupBy(source, tok)
    // shuffle builds the counts table; source totals, corpus
    // frequencies and the grand total all derive from that small table
    // (no second pass over the token stream). Per-source totals (20
    // rows) and the 1-row total broadcast; the vocab join stays a
    // shuffle join (vocab is data-scaled). Top-3 per source is written
    // as the standard row_number()≤k idiom, which TopKRewriteRule
    // replaces with the bounded-heap TopKPerKey operator — shuffle
    // carries ≤ k rows per (source, partition), no per-group sort.
    QueryDef("q66_distinctive_terms",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val st = Tables.documents(s, dir)
          .select(col("source"), toks.as("t"))
          .select(col("source"), explode(col("t")).as("tok"))
          .groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint() // three downstream aggregation branches
        val srcTot = st.groupBy(col("source")).agg(sum(col("tf")).as("tok_s"))
        val corpusTf = st.groupBy(col("tok")).agg(sum(col("tf")).as("ctf"))
        val total = st.agg(sum(col("tf")).as("n_tok"))
        st.filter(col("tf") >= 5)
          .join(corpusTf, "tok")
          .join(broadcast(srcTot), "source")
          .crossJoin(broadcast(total))
          .select(col("source"), col("tok"), col("tf"), col("ctf"),
            expr("(2 * CAST(tf AS DECIMAL(38,0)) * n_tok * 1000000" +
              " + CAST(tok_s AS DECIMAL(38,0)) * ctf)" +
              " div (2 * CAST(tok_s AS DECIMAL(38,0)) * ctf)").as("lift_ppm"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("lift_ppm").desc, col("tok"))))
          .filter(col("rn") <= 3)
          .orderBy(col("source"), col("rn"))
      },
      Some("""WITH tk AS (
             |  SELECT source, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |st AS (
             |  SELECT source, tok, count(*) AS tf FROM tk GROUP BY source, tok),
             |srct AS (SELECT source, sum(tf) AS tok_s FROM st GROUP BY source),
             |ctfs AS (SELECT tok, sum(tf) AS ctf FROM st GROUP BY tok),
             |tot AS (SELECT CAST(sum(tf) AS HUGEINT) AS n_tok FROM st),
             |j AS (
             |  SELECT s.source, s.tok, s.tf, c.ctf, r.tok_s, t.n_tok
             |  FROM st s
             |  JOIN ctfs c USING (tok)
             |  JOIN srct r USING (source)
             |  CROSS JOIN tot t
             |  WHERE s.tf >= 5),
             |l AS (
             |  SELECT source, tok, tf, CAST(ctf AS BIGINT) AS ctf,
             |    CAST((2 * tf * n_tok * 1000000 + tok_s * ctf)
             |      // (2 * tok_s * ctf) AS BIGINT) AS lift_ppm
             |  FROM j),
             |r AS (
             |  SELECT *, CAST(row_number() OVER (
             |    PARTITION BY source ORDER BY lift_ppm DESC, tok) AS INT) AS rn
             |  FROM l)
             |SELECT source, tok, tf, ctf, lift_ppm, rn FROM r
             |WHERE rn <= 3 ORDER BY source, rn""".stripMargin)),

    // ── Q74: fixed-vocabulary token-id encoding — the tokenize step of
    // a training pipeline: build a size-V vocabulary from corpus
    // frequencies (id = rank by count desc, token asc — deterministic),
    // encode every document's token stream as ids with OOV → -1, and
    // report the per-doc OOV count. V = 16 of the corpus's 31 distinct
    // tokens, so both the mapped and OOV paths carry signal.
    //
    // 100 TB shape: one wordcount shuffle (map-side partial agg over
    // tokens), then top-V via orderBy+limit (TakeOrderedAndProject —
    // per-partition top-V, no global sort), a constant-V-row window to
    // assign ids (the IVF-centroid precedent: the single-partition sort
    // is over V rows, not the corpus), the vocab broadcast back onto
    // the exploded tokens, and one doc_id shuffle of (pos, id) pairs —
    // token text never shuffles twice, document text never shuffles at
    // all. A real 32k–100k BPE vocab is a few MB — still broadcast-able.
    QueryDef("q74_vocab_encode",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val V = 16
        val pt = Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
        val top = pt.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(V)
        // r13: the id-assignment window runs over EXACTLY V rows (the
        // limit above) — a constant-size frame at any corpus scale, so
        // a single partition is the right plan; the explicit constant
        // partition key pins that choice (non-foldable via onePart —
        // a bare lit(0) is stripped by EliminateWindowPartitions and
        // the window reverts to the warning-logging unpartitioned spec)
        val vocab = top
          .withColumn("id",
            (row_number().over(
              Window.partitionBy(onePart(col("c")))
                .orderBy(col("c").desc, col("tok"))) - 1).cast("long"))
          .select(col("tok"), col("id"))
        pt.join(broadcast(vocab), Seq("tok"), "left")
          .select(col("doc_id"), col("pos"),
            coalesce(col("id"), lit(-1L)).as("id"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("id") === -1L, 1L).otherwise(0L)).as("n_oov"),
            array_join(
              transform(
                array_sort(collect_list(struct(col("pos"), col("id")))),
                e => e.getField("id").cast("string")), ",").as("ids"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH pt AS (
             |  SELECT doc_id,
             |    unnest(string_split(text, ' ')) AS tok,
             |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
             |  FROM documents),
             |cnt AS (SELECT tok, count(*) AS c FROM pt GROUP BY tok),
             |vocab AS (
             |  SELECT tok, id FROM (
             |    SELECT tok, CAST(row_number() OVER (
             |      ORDER BY c DESC, tok) - 1 AS BIGINT) AS id
             |    FROM cnt)
             |  WHERE id < 16),
             |enc AS (
             |  SELECT p.doc_id, p.pos, coalesce(v.id, -1) AS id
             |  FROM pt p LEFT JOIN vocab v ON v.tok = p.tok)
             |SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_oov,
             |  array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ',')
             |    AS ids
             |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── Q75: deterministic global shuffle + sharding — the
    // training-order shuffle that precedes shard writing: every doc
    // gets a pseudo-random permutation position mix64(doc_id), a shard
    // by hash mod S, and a within-shard index by hash order. Fully
    // deterministic (re-runs and retries produce identical shards —
    // the property rand() cannot give a distributed writer) and seeds
    // compose by mixing a salt into the key.
    //
    // 100 TB shape: the hash is computed in the scan projection; ONE
    // shuffle partitions by shard and the window sorts within each
    // shard partition — there is no global sort anywhere (a
    // row_number over a global ORDER BY would serialize on one task;
    // partition-by-shard keeps every shard's sort local and parallel).
    // Production S is thousands (shards ≫ executors); the final
    // orderBy is display-only for the oracle compare — a real writer
    // sinks partitionBy("shard") files directly.
    QueryDef("q75_global_shuffle",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val S = 8
        Tables.documents(s, dir)
          .select(col("doc_id"),
            unsignedDec(call_function("graft_mix64", col("doc_id"))).as("u"))
          .withColumn("shard", pmod(col("u"), lit(S)).cast("long"))
          .withColumn("idx", (row_number().over(
            Window.partitionBy(col("shard"))
              .orderBy(col("u"), col("doc_id"))) - 1).cast("long"))
          .select(col("doc_id"), col("shard"), col("idx"))
          .orderBy(col("shard"), col("idx"))
      },
      Some(s"""WITH h0 AS (
              |  SELECT doc_id, CAST(doc_id AS HUGEINT) AS z FROM documents),
              |${OracleSql.mix64Ctes("doc_id", "h0")},
              |lab AS (
              |  SELECT doc_id, m, CAST(m % 8 AS BIGINT) AS shard FROM mixed)
              |SELECT doc_id, shard,
              |  CAST(row_number() OVER (
              |    PARTITION BY shard ORDER BY m, doc_id) - 1 AS BIGINT) AS idx
              |FROM lab ORDER BY shard, idx""".stripMargin)),

    // ── Q76: duplicated n-gram fraction — the Gopher/MassiveText
    // boilerplate signal: for each document, the fraction of its
    // distinct 5-grams that appear in ≥ 2 documents corpus-wide.
    // Distinct from q48 (containment of a TEST split against a TRAIN
    // split): this is a symmetric corpus-wide document-frequency
    // statistic, the filter stage that drops template-heavy docs
    // before training.
    //
    // 100 TB shape: ONE documents scan and two shuffles of
    // (8-byte hash, doc_id) pairs — document text never shuffles.
    // The document frequency is a count() window over the hash
    // partition, not a groupBy+self-join: a join formulation would
    // re-scan and re-explode the corpus for the probe side (the
    // aggregate side's partial-HashAggregate makes its exchange
    // subtree non-reusable), where the window reads the exploded
    // frame exactly once. dup_ppm is exact integer half-up rounding
    // — no engine-float ranking.
    QueryDef("q76_dup_ngram_fraction",
      (s, dir) => dupNgramFractionFrom(Tables.documents(s, dir))
        .orderBy(col("doc_id")),
      Some(s"""WITH ${OracleSql.toksCte("documents", "doc_id")},
              |${OracleSql.shinglesCte(5, "doc_id")},
              |sh AS (SELECT doc_id, unnest(sset) AS sg FROM shing),
              |hs AS (SELECT doc_id, ${OracleSql.hash64("sg")} AS s FROM sh),
              |dfq AS (SELECT s, count(*) AS df FROM hs GROUP BY s),
              |agg AS (
              |  SELECT h.doc_id, count(*) AS n_shingles,
              |    sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_dup
              |  FROM hs h JOIN dfq d ON h.s = d.s GROUP BY h.doc_id)
              |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
              |  CAST(n_dup AS BIGINT) AS n_dup,
              |  CAST((2 * n_dup * 1000000 + n_shingles)
              |    // (2 * n_shingles) AS BIGINT) AS dup_ppm
              |FROM agg ORDER BY doc_id""".stripMargin)),

    // ── Q79: curriculum QUALITY BINNING — assign every document to an
    // exact quartile bin of the stored n_chars quality proxy: the
    // two-pass "order by difficulty" assignment curriculum training
    // reads its epochs from. Boundaries are PERCENTILE_DISC semantics
    // (smallest value whose cumulative distribution ≥ p — an actual
    // data element, so no float interpolation to drift across
    // engines), but computed the 100 TB way: a value HISTOGRAM
    // (groupBy n_chars, map-side combinable) shrinks the corpus to
    // its distinct score values, a cumulative window over that tiny
    // table finds the three cut points with pure integer comparisons
    // (4·cum ≥ total ⟺ cdf ≥ 0.25 — no p·total float), and the
    // 1-row boundary frame broadcasts back onto a two-column
    // projection. The only sort anywhere is over DISTINCT score
    // values (bounded domain), never the corpus; a global
    // percentile_disc aggregate or an ntile() window would instead
    // buffer/sort the full 100 TB on one path.
    QueryDef("q79_curriculum_bins",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"))
        val hist = docs.groupBy(col("n_chars").as("v"))
          .agg(count(lit(1)).as("c"))
        // the cumulative distribution is one running sum over the
        // distinct-n_chars histogram — a value domain, not a corpus
        // (523 values over 5,000 docs at sf0.1) — so one explicit
        // partition (onePart) is the plan. hist ends in its own
        // aggregation exchange, which AQE stage reuse computes once
        // for the total and the window.
        val total = hist.agg(sum(col("c")).as("total"))
        val bounds = hist
          .withColumn("cum", sum(col("c")).over(
            Window.partitionBy(onePart(col("v"))).orderBy(col("v"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(broadcast(total))
          .agg(
            min(when(col("cum") * 4 >= col("total"), col("v"))).as("b25"),
            min(when(col("cum") * 2 >= col("total"), col("v"))).as("b50"),
            min(when(col("cum") * 4 >= col("total") * 3, col("v"))).as("b75"))
        docs.crossJoin(broadcast(bounds))
          .select(col("doc_id"), col("n_chars"),
            when(col("n_chars") <= col("b25"), 0L)
              .when(col("n_chars") <= col("b50"), 1L)
              .when(col("n_chars") <= col("b75"), 2L)
              .otherwise(3L).as("bin"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH b AS (
             |  SELECT quantile_disc(n_chars, 0.25) AS b25,
             |    quantile_disc(n_chars, 0.5) AS b50,
             |    quantile_disc(n_chars, 0.75) AS b75
             |  FROM documents)
             |SELECT d.doc_id, d.n_chars,
             |  CAST(CASE WHEN d.n_chars <= b.b25 THEN 0
             |            WHEN d.n_chars <= b.b50 THEN 1
             |            WHEN d.n_chars <= b.b75 THEN 2
             |            ELSE 3 END AS BIGINT) AS bin
             |FROM documents d, b ORDER BY d.doc_id""".stripMargin)),

    // ── Q81: n-gram NOVELTY CURVE — walking q75's shards in order,
    // how many never-seen-before 5-grams each shard contributes (and
    // the cumulative total): the diminishing-returns curve that tells
    // a corpus-growth effort when new data stops buying new language.
    // 5-grams, not unigrams, because unigram vocabularies saturate
    // instantly (this corpus's does in shard 0); the n-gram tail is
    // where novelty lives. first_shard = min(shard) per 5-gram hash —
    // an associative aggregate, so "first seen" costs one map-side-
    // combinable groupBy on the 8-byte hash key, not an ordered scan.
    //
    // 100 TB shape: shard is computed in-plan from doc_id (q77's
    // `& 7` ≡ mix64 mod 8), 5-grams are the native
    // graft_shingle_hashes expression (no string materialization);
    // two shuffles — hash-keyed min over (8-byte, 1-byte) pairs, then
    // the S-row rollup; the cumulative window runs over S rows.
    QueryDef("q81_novelty_curve",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sh = Tables.documents(s, dir)
          .select(call_function("graft_mix64", col("doc_id"))
              .bitwiseAND(lit(7L)).as("shard"),
            explode(call_function("graft_shingle_hashes",
              coalesce(col("text"), lit("")), lit(5))).as("s"))
        val agg = sh.groupBy(col("s"))
          .agg(min(col("shard")).as("first_shard"))
          .groupBy(col("first_shard"))
          .agg(count(lit(1)).as("n_new_ngrams"))
        // the cumulative curve is one running sum over the S-row
        // rollup (8 shards at any corpus size), so one explicit
        // partition (onePart) is the plan
        agg
          .withColumn("cum_ngrams", sum(col("n_new_ngrams")).over(
            Window.partitionBy(onePart(col("first_shard")))
              .orderBy(col("first_shard"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy(col("first_shard"))
      },
      Some(s"""WITH ${OracleSql.toksCte("documents", "doc_id")},
              |${OracleSql.shinglesCte(5, "doc_id")},
              |h0 AS (
              |  SELECT doc_id, CAST(doc_id AS HUGEINT) AS z FROM documents),
              |${OracleSql.mix64Ctes("doc_id", "h0")},
              |sd AS (
              |  SELECT doc_id, CAST(m % 8 AS BIGINT) AS shard FROM mixed),
              |sg AS (SELECT doc_id, unnest(sset) AS g FROM shing),
              |hs AS (
              |  SELECT s.shard, ${OracleSql.hash64("sg.g")} AS h
              |  FROM sg JOIN sd s ON s.doc_id = sg.doc_id),
              |fs AS (
              |  SELECT h, min(shard) AS first_shard FROM hs GROUP BY h),
              |agg AS (
              |  SELECT first_shard, CAST(count(*) AS BIGINT) AS n_new_ngrams
              |  FROM fs GROUP BY first_shard)
              |SELECT first_shard, n_new_ngrams,
              |  CAST(sum(n_new_ngrams) OVER (ORDER BY first_shard)
              |    AS BIGINT) AS cum_ngrams
              |FROM agg ORDER BY first_shard""".stripMargin)),

    // ── Q84: BPE FIRST-MERGE pair counts — the inner step of byte-pair
    // encoding tokenizer training: for every adjacent character pair,
    // its corpus-weighted occurrence count (the pair a BPE trainer
    // would merge first is row 1). The scale trick IS the query shape:
    // pair counting runs over the VOCABULARY (distinct tokens weighted
    // by their corpus counts), not the corpus — one corpus-wide
    // wordcount shuffle (map-side combinable) shrinks trillions of
    // running tokens to the distinct-token table, and the character
    // work (transform over substring windows, fully codegen'd) touches
    // each vocabulary entry once. w sums every in-token occurrence
    // (the token 'aaa' contributes its count twice to 'aa'), exactly
    // the Sennrich et al. 2016 counting rule; n_pos counts vocabulary
    // occurrence positions. Integer counts, (w desc, pair) total order
    // — nothing float-ranked at the LIMIT boundary.
    QueryDef("q84_bpe_pairs",
      (s, dir) => {
        val wc = Tables.documents(s, dir)
          .select(toks.as("t")).select(explode(col("t")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        wc.filter(char_length(col("tok")) >= 2)
          .select(col("c"), explode(transform(
            sequence(lit(1), char_length(col("tok")) - 1),
            i => col("tok").substr(i, lit(2)))).as("pair"))
          .groupBy(col("pair"))
          .agg(sum(col("c")).as("w"), count(lit(1)).as("n_pos"))
          .orderBy(col("w").desc, col("pair"))
          .limit(20)
      },
      Some(s"""WITH tk AS (
              |  SELECT unnest(${OracleSql.plainSplit}) AS tok
              |  FROM documents),
             |wc AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
             |pr AS (
             |  SELECT c, unnest(list_transform(range(1, length(tok)),
             |    i -> substring(tok, i, 2))) AS pair
             |  FROM wc WHERE length(tok) >= 2)
             |SELECT pair, CAST(sum(c) AS BIGINT) AS w,
             |  CAST(count(*) AS BIGINT) AS n_pos
             |FROM pr GROUP BY pair
             |ORDER BY w DESC, pair LIMIT 20""".stripMargin)),

    // ── Q85: vocabulary COVERAGE CURVE — for V = 1, 2, 4, …, 64: what
    // fraction of all running tokens the top-V vocabulary covers. The
    // diminishing-returns curve behind every vocab-size decision
    // (q74 fixes a V; this shows what each doubling buys).
    //
    // 100 TB shape: the naive form ranks the vocabulary globally
    // (row_number over |vocab| rows — a single-partition sort over
    // millions of entries). Instead, the q79 histogram trick applies
    // to the vocabulary itself: group tokens BY COUNT VALUE into
    // blocks (distinct count values ≪ vocab size — Zipf packs the
    // long tail into few values), take the cumulative window over
    // those blocks (bounded domain, the only sort anywhere), and read
    // coverage(V) off the block containing rank V: all tokens in a
    // block are count-ties, so coverage(V) = cum_occ_before +
    // (V − cum_toks_before)·c exactly — tie order never matters.
    // Corpus → one wordcount shuffle; everything after runs on
    // block-sized data and broadcasts.
    QueryDef("q85_coverage_curve",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // both cumulative columns are running sums (desc by count) in
        // ONE window over the block table, whose rows are distinct
        // count values (30 at sf0.1) — bounded by the count domain,
        // not the vocabulary — and which broadcasts below anyway, so one
        // explicit partition (onePart) is the plan. The block table
        // ends in its own exchange, which AQE stage reuse computes
        // once for the grand totals and the window — the corpus
        // wordcount runs exactly once.
        val base = Tables.documents(s, dir)
          .select(toks.as("t")).select(explode(col("t")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .groupBy(col("c"))
          .agg(count(lit(1)).as("n_toks"))
          .withColumn("occ", col("c") * col("n_toks"))
        val tot = base.agg(sum(col("n_toks")).as("nv"),
          sum(col("occ")).as("total"))
        val w = Window.partitionBy(onePart(col("c"))).orderBy(col("c").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val blocks = base
          .withColumn("cum_toks", sum(col("n_toks")).over(w))
          .withColumn("cum_occ", sum(col("occ")).over(w))
          .crossJoin(broadcast(tot))
        val vs = {
          import s.implicits._
          (0 to 6).map(1L << _).toDF("v")
        }
        vs.join(broadcast(blocks),
            col("cum_toks") - col("n_toks") < least(col("v"), col("nv")) &&
              least(col("v"), col("nv")) <= col("cum_toks"))
          .withColumn("v_eff", least(col("v"), col("nv")))
          .select(col("v"),
            (col("cum_occ") - col("occ")
              + (col("v_eff") - (col("cum_toks") - col("n_toks")))
              * col("c")).as("covered"),
            col("total"),
            expr("(2 * (cum_occ - occ + (v_eff - (cum_toks - n_toks)) * c)"
              + " * 1000000 + total) div (2 * total)").as("coverage_ppm"))
          .orderBy(col("v"))
      },
      Some(s"""WITH tk AS (
              |  SELECT unnest(${OracleSql.plainSplit}) AS tok
              |  FROM documents),
             |wc AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
             |rk AS (
             |  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
             |  FROM wc),
             |cs AS (SELECT r, sum(c) OVER (ORDER BY r) AS cum FROM rk),
             |tot AS (SELECT sum(c) AS total, count(*) AS nv FROM wc),
             |vs AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64]) AS v)
             |SELECT CAST(v.v AS BIGINT) AS v,
             |  CAST(cs.cum AS BIGINT) AS covered,
             |  CAST(t.total AS BIGINT) AS total,
             |  CAST((2 * cs.cum * 1000000 + t.total) // (2 * t.total)
             |    AS BIGINT) AS coverage_ppm
             |FROM vs v, tot t JOIN cs ON cs.r = least(v.v, t.nv)
             |ORDER BY v""".stripMargin)),

    // ── Q86: per-source length-distribution DRIFT — the exact
    // Kolmogorov–Smirnov distance between each source's n_chars CDF
    // and the whole-corpus CDF (in ppm), plus the length where the
    // gap peaks. The distribution-shift monitor a mixing pipeline
    // runs per feed: a source whose length profile drifts from the
    // corpus is re-crawled, truncated, or template-polluted.
    //
    // 100 TB shape: ONE corpus-sized stage — the (source, n_chars)
    // histogram groupBy (map-side combinable). Source totals and the
    // corpus histogram both derive from that histogram, not from
    // re-scans; the evaluation grid is sources × distinct values
    // (bounded domain), its CDFs are windows partitioned by source
    // over that grid, and the KS sup runs as a plain max aggregate.
    // All drift arithmetic is DECIMAL(38,0) cross-multiplication —
    // |cum_s·N − cum_c·n_s|·10⁶ div (n_s·N) — no float CDFs to make
    // the sup engine-dependent. (Headroom: cum·N·10⁶ ≤ 10³⁸ holds
    // through corpus sizes of ~10¹⁵ docs.)
    QueryDef("q86_length_drift",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val dec38 = org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 0)
        // srcs/corp/grid all derive from this one histogram; its
        // (source, v) aggregation exchange is canonically the same in
        // every branch, so AQE exchange reuse aggregates the corpus
        // once (bounded domain: sources × distinct lengths)
        val hist = Tables.documents(s, dir)
          .groupBy(col("source"), col("n_chars").as("v"))
          .agg(count(lit(1)).as("c"))
        val srcs = hist.groupBy(col("source"))
          .agg(sum(col("c")).as("n_s"))
        // the corpus CDF is one running sum over the distinct-length
        // domain (523 values at sf0.1), which broadcasts into the grid
        // below anyway, so one explicit partition (onePart) is the plan
        val corp = hist.groupBy(col("v")).agg(sum(col("c")).as("cv"))
          .withColumn("cum_c", sum(col("cv")).over(
            Window.partitionBy(onePart(col("v"))).orderBy(col("v"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = corp.agg(sum(col("cv")).as("n"))
        val grid = srcs.crossJoin(broadcast(corp.select(col("v"), col("cum_c"))))
          .join(broadcast(hist), Seq("source", "v"), "left")
          .withColumn("cum_s", sum(coalesce(col("c"), lit(0L)))
            .over(Window.partitionBy(col("source")).orderBy(col("v"))))
        val drift = grid.crossJoin(broadcast(tot))
          .withColumn("gap",
            abs(col("cum_s").cast(dec38) * col("n")
              - col("cum_c").cast(dec38) * col("n_s")) * lit(1000000))
          .withColumn("d_ppm",
            expr("gap div (CAST(n_s AS DECIMAL(38,0)) * n)").cast("long"))
        drift
          .withColumn("mx", max(col("d_ppm"))
            .over(Window.partitionBy(col("source"))))
          .filter(col("d_ppm") === col("mx"))
          .groupBy(col("source"))
          .agg(first(col("n_s")).as("n_docs"), first(col("mx")).as("ks_ppm"),
            min(col("v")).as("drift_at"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT source, n_chars FROM documents),
             |hist AS (
             |  SELECT source, n_chars AS v, count(*) AS c
             |  FROM d GROUP BY source, n_chars),
             |srcs AS (SELECT source, sum(c) AS n_s FROM hist GROUP BY source),
             |cv AS (SELECT v, sum(c) AS cv FROM hist GROUP BY v),
             |corp AS (SELECT v, sum(cv) OVER (ORDER BY v) AS cum_c FROM cv),
             |tot AS (SELECT sum(cv) AS n FROM cv),
             |grid AS (
             |  SELECT s.source, s.n_s, co.v, co.cum_c,
             |    sum(coalesce(h.c, 0)) OVER (
             |      PARTITION BY s.source ORDER BY co.v) AS cum_s
             |  FROM srcs s CROSS JOIN corp co
             |  LEFT JOIN hist h ON h.source = s.source AND h.v = co.v),
             |drift AS (
             |  SELECT g.source, g.n_s, g.v,
             |    CAST(abs(CAST(g.cum_s AS HUGEINT) * t.n
             |        - CAST(g.cum_c AS HUGEINT) * g.n_s) * 1000000
             |      // (CAST(g.n_s AS HUGEINT) * t.n) AS BIGINT) AS d_ppm
             |  FROM grid g, tot t),
             |mx AS (
             |  SELECT *, max(d_ppm) OVER (PARTITION BY source) AS mxv
             |  FROM drift)
             |SELECT source, CAST(any_value(n_s) AS BIGINT) AS n_docs,
             |  CAST(any_value(mxv) AS BIGINT) AS ks_ppm,
             |  CAST(min(v) AS BIGINT) AS drift_at
             |FROM mx WHERE d_ppm = mxv
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ── Q90: epoch UPSAMPLING plan — the complement of q65's
    // down-sampling: give every source an equal token-share target
    // T = total_tokens div n_sources and materialize per-doc repeat
    // counts base + Bernoulli(rem/tok_s), where base = T div tok_s
    // and the Bernoulli draw is the deterministic mix64(doc_id)
    // threshold (same permutation key as q65/q75 — down-sample,
    // up-sample, and shard decisions reproduce from one hash). This
    // is the "repeat small high-quality sources for N epochs" step of
    // a data recipe, with exact integer arithmetic end to end:
    // expected planned tokens per source ≈ T with no float weights.
    //
    // 100 TB shape: one corpus-sized groupBy for stats (map-side
    // combinable over a 3-column projection), stats and the 1-row
    // total broadcast back onto the scan, per-doc repeat columns are
    // pure projection (DECIMAL(38,0) threshold tests — no UDF), and
    // the output rolls up per source. factor_ppm goes through
    // DECIMAL(38,0): 2·T·10⁶ overflows int64 once total tokens pass
    // ~4.6·10¹² — a 100 TB corpus is past that.
    QueryDef("q90_epoch_upsample",
      (s, dir) =>
        upsamplePlan(s, dir)
          .groupBy(col("source"))
          .agg(first(col("n_docs")).as("n_docs"),
            first(col("tok_s")).as("tok_s"),
            first(expr("(2 * CAST(t_tgt AS DECIMAL(38,0)) * 1000000"
              + " + tok_s) div (2 * CAST(tok_s AS DECIMAL(38,0)))"))
              .as("factor_ppm"),
            sum(col("base") + col("extra")).as("planned_docs"),
            sum(col("nt") * (col("base") + col("extra")))
              .as("planned_tokens"))
          .orderBy(col("source")),
      Some(s"""WITH base AS (
              |  SELECT doc_id, source,
              |    len(string_split(text, ' ')) AS nt
              |  FROM documents),
              |stats AS (
              |  SELECT source, count(*) AS n_docs, sum(nt) AS tok_s
              |  FROM base GROUP BY source),
              |tgt AS (
              |  SELECT sum(tok_s) // count(*) AS t_tgt FROM stats),
              |h0 AS (
              |  SELECT doc_id, source, nt, CAST(doc_id AS HUGEINT) AS z
              |  FROM base),
              |${OracleSql.mix64Ctes("doc_id, source, nt", "h0")},
              |rep AS (
              |  SELECT d.source, d.nt, s.n_docs, s.tok_s,
              |    CAST(g.t_tgt // s.tok_s AS BIGINT) AS b,
              |    CASE WHEN d.m * CAST(s.tok_s AS HUGEINT)
              |           < CAST(g.t_tgt % s.tok_s AS HUGEINT)
              |             * ${OracleSql.MOD}
              |         THEN 1 ELSE 0 END AS extra,
              |    CAST((2 * CAST(g.t_tgt AS HUGEINT) * 1000000 + s.tok_s)
              |      // (2 * CAST(s.tok_s AS HUGEINT)) AS BIGINT)
              |      AS factor_ppm
              |  FROM mixed d
              |  JOIN stats s ON s.source = d.source
              |  CROSS JOIN tgt g)
              |SELECT source, CAST(any_value(n_docs) AS BIGINT) AS n_docs,
              |  CAST(any_value(tok_s) AS BIGINT) AS tok_s,
              |  any_value(factor_ppm) AS factor_ppm,
              |  CAST(sum(b + extra) AS BIGINT) AS planned_docs,
              |  CAST(sum(nt * (b + extra)) AS BIGINT) AS planned_tokens
              |FROM rep GROUP BY source ORDER BY source""".stripMargin)),

    // ── Q92: per-source BIT-SURPRISAL — the CCNet-style LM-quality
    // proxy (Wenzek et al. 2020 filter web text by LM perplexity): each
    // token's surprisal under the corpus unigram model, in EXACT whole
    // bits — floor(log2 total) − floor(log2 c) via length(bin(n)), so
    // both engines compute identical integers (no libm ln whose last
    // ulp differs across engines). Production swaps the unigram model
    // for a real LM; the 100 TB shape is what this query pins: ONE
    // corpus-sized (source, token) histogram groupBy (map-side
    // combinable), from which the vocabulary counts, grand total, and
    // per-source sums ALL derive — the corpus is never re-scanned, and
    // the per-token surprisal join is a broadcast of the vocab-sized
    // bits table back onto the bounded-domain histogram.
    QueryDef("q92_bit_surprisal",
      (s, dir) => {
        val hist = Tables.documents(s, dir)
          .select(col("source"), explode(toks).as("tok"))
          .groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("c_st"))
        val wc = hist.groupBy(col("tok")).agg(sum(col("c_st")).as("c"))
        val tot = wc.agg(sum(col("c")).as("total"))
        val bits = wc.crossJoin(broadcast(tot))
          .select(col("tok"),
            (char_length(bin(col("total")))
              - char_length(bin(col("c")))).cast("long").as("bits"))
        hist.join(broadcast(bits), "tok")
          .groupBy(col("source"))
          .agg(sum(col("c_st")).as("n_tokens"),
            sum(col("c_st") * col("bits")).as("sum_bits"))
          .withColumn("avg_bits_ppm",
            expr("(2 * CAST(sum_bits AS DECIMAL(38,0)) * 1000000 + n_tokens)"
              + " div (2 * CAST(n_tokens AS DECIMAL(38,0)))"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tk AS (
              |  SELECT source, unnest(${OracleSql.plainSplit}) AS tok
              |  FROM documents),
             |hist AS (
             |  SELECT source, tok, count(*) AS c_st
             |  FROM tk GROUP BY source, tok),
             |wc AS (SELECT tok, sum(c_st) AS c FROM hist GROUP BY tok),
             |tot AS (SELECT sum(c) AS total FROM wc),
             |bits AS (
             |  SELECT tok,
             |    CAST(length(bin(t.total)) - length(bin(c)) AS BIGINT) AS bits
             |  FROM wc, tot t)
             |SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
             |  CAST(sum(c_st * bits) AS BIGINT) AS sum_bits,
             |  CAST((2 * CAST(sum(c_st * bits) AS HUGEINT) * 1000000
             |        + sum(c_st))
             |    // (2 * CAST(sum(c_st) AS HUGEINT)) AS BIGINT)
             |    AS avg_bits_ppm
             |FROM hist JOIN bits USING (tok)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ── Q93: per-source token-distribution DIVERGENCE — exact total-
    // variation distance ½·Σ|p_s(t) − p(t)| between each source's
    // unigram distribution and the corpus's, in ppm. The mixture-drift
    // monitor run per feed (q86 watches length profiles; this watches
    // WHAT the source says): a source whose token distribution walks
    // away from the corpus signals template pollution, language drift,
    // or a crawler change. TV rather than KL on purpose — it needs no
    // logs, so DECIMAL(38,0) cross-multiplication |c_st·N − c_t·n_s|
    // makes both engines bit-identical (the q86 arithmetic applied to
    // token space; headroom c_t·n_s·10⁶ ≤ 10³⁸ holds past 10¹³-token
    // corpora per source).
    //
    // 100 TB shape: ONE corpus-sized (source, token) histogram stage;
    // the evaluation grid is sources × vocabulary (bounded domain —
    // absent tokens must still contribute |0 − c_t·n_s|, hence the
    // grid, built as a broadcast cross join of two histogram
    // derivatives, left-joined back to the histogram).
    QueryDef("q93_source_divergence",
      (s, dir) => {
        val dec38 = org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 0)
        val hist = Tables.documents(s, dir)
          .select(col("source"), explode(toks).as("tok"))
          .groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("c_st"))
          .localCheckpoint()
        val wc = hist.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
        val srcs = hist.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
        val tot = wc.agg(sum(col("c_t")).as("n"))
        srcs.crossJoin(broadcast(wc))
          .join(hist, Seq("source", "tok"), "left")
          .na.fill(0, Seq("c_st"))
          .crossJoin(broadcast(tot))
          .select(col("source"), col("n_s"),
            abs(col("c_st").cast(dec38) * col("n")
              - col("c_t").cast(dec38) * col("n_s")).as("d"),
            col("n"))
          .groupBy(col("source"))
          .agg(first(col("n_s")).as("n_tokens"), sum(col("d")).as("sd"),
            first(col("n")).as("n"))
          .withColumn("tv_ppm",
            expr("(2 * sd * 1000000 + 2 * CAST(n_tokens AS DECIMAL(38,0)) * n)"
              + " div (2 * 2 * CAST(n_tokens AS DECIMAL(38,0)) * n)"))
          .select(col("source"), col("n_tokens"), col("tv_ppm"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tk AS (
              |  SELECT source, unnest(${OracleSql.plainSplit}) AS tok
              |  FROM documents),
             |hist AS (
             |  SELECT source, tok, count(*) AS c_st
             |  FROM tk GROUP BY source, tok),
             |wc AS (SELECT tok, sum(c_st) AS c_t FROM hist GROUP BY tok),
             |srcs AS (SELECT source, sum(c_st) AS n_s FROM hist GROUP BY source),
             |tot AS (SELECT sum(c_t) AS n FROM wc),
             |grid AS (
             |  SELECT s.source, s.n_s, w.tok, w.c_t,
             |    coalesce(h.c_st, 0) AS c_st, t.n
             |  FROM srcs s CROSS JOIN wc w CROSS JOIN tot t
             |  LEFT JOIN hist h ON h.source = s.source AND h.tok = w.tok)
             |SELECT source, CAST(any_value(n_s) AS BIGINT) AS n_tokens,
             |  CAST((2 * sum(abs(CAST(c_st AS HUGEINT) * n
             |          - CAST(c_t AS HUGEINT) * n_s)) * 1000000
             |        + 2 * CAST(any_value(n_s) AS HUGEINT) * any_value(n))
             |    // (2 * 2 * CAST(any_value(n_s) AS HUGEINT) * any_value(n))
             |    AS BIGINT) AS tv_ppm
             |FROM grid GROUP BY source ORDER BY source""".stripMargin)),

    // ── Q94: TOP TOKENS PER SOURCE with tie-keeping — every token in
    // the top-3 distinct count values per source (`dense_rank() <= 3`),
    // the per-feed vocabulary fingerprint a corpus dashboard shows.
    // Deliberately written as the window-rank idiom so the TopKRewrite
    // optimizer rule replaces the per-source sort with the bounded-heap
    // TopKPerKey physical operator in dense_rank keep-ties mode — the
    // driver-facing twin of q91's rank() mode. 100 TB shape: after the
    // one corpus-sized histogram stage, the rank runs on the bounded
    // (source × vocab) domain with a 3-value heap per source — no full
    // per-partition sort, output bounded by ties.
    QueryDef("q94_top_tokens_ties",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, dir)
          .select(col("source"), explode(toks).as("tok"))
          .groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rk", dense_rank().over(
            Window.partitionBy(col("source")).orderBy(col("c").desc)))
          .filter(col("rk") <= 3)
          .orderBy(col("source"), col("rk"), col("tok"))
      },
      Some(s"""WITH tk AS (
              |  SELECT source, unnest(${OracleSql.plainSplit}) AS tok
              |  FROM documents),
             |hist AS (
             |  SELECT source, tok, count(*) AS c
             |  FROM tk GROUP BY source, tok),
             |rk AS (
             |  SELECT source, tok, CAST(c AS BIGINT) AS c,
             |    CAST(dense_rank() OVER (PARTITION BY source
             |      ORDER BY c DESC) AS INTEGER) AS rk
             |  FROM hist)
             |SELECT source, tok, c, rk FROM rk WHERE rk <= 3
             |ORDER BY source, rk, tok""".stripMargin)),

    // ── Q100: TRAINING-ORDER MANIFEST head — the data-loader view of
    // the whole recipe: q90's per-doc repeat counts exploded into
    // (doc, epoch, repeat) instances, each given the deterministic
    // permutation key mix64(doc_id·P₁ + epoch·P₂ + rep), and the
    // first 10 scheduled docs of each of 2 epochs emitted with their
    // global positions. One hash family drives sharding (q75),
    // down-sampling (q65), up-sampling (q90), and now the order
    // batches are actually served in — the property that makes a run
    // resumable from any step without a stored shuffle file.
    //
    // 100 TB shape: the manifest is corpus × reps rows, but the HEAD
    // never materializes it — the row_number() ≤ 10 filter rewrites
    // into the bounded TopKPerKey heap (10 rows per epoch on EACH
    // side of the exchange), so peeking at any epoch's start costs
    // one scan plus a 20-row shuffle. (Writing the full manifest
    // would instead range-partition on (epoch, key) — the keys are
    // uniform, so ranges split evenly by construction.) Key
    // arithmetic wraps mod 2⁶⁴ identically in both engines (Java
    // long wrap ≡ the oracle's HUGEINT residues).
    QueryDef("q100_train_manifest",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val inst = upsamplePlan(s, dir)
          .select(col("doc_id"), col("source"),
            (col("base") + col("extra")).as("reps"))
          .filter(col("reps") > 0)
          .select(col("doc_id"), col("source"),
            explode(sequence(lit(0L), col("reps") - 1)).as("rep"))
          .select(col("doc_id"), col("source"), col("rep"),
            explode(sequence(lit(0L), lit(1L))).as("epoch"))
        val u = unsignedDec(call_function("graft_mix64",
          col("doc_id") * lit(2097169L) + col("epoch") * lit(524309L)
            + col("rep")))
        inst.withColumn("u", u)
          .withColumn("pos", row_number().over(
            Window.partitionBy(col("epoch"))
              .orderBy(col("u"), col("doc_id"), col("rep"))).cast("long"))
          .filter(col("pos") <= 10)
          .select(col("epoch"), col("pos"), col("doc_id"), col("source"))
          .orderBy(col("epoch"), col("pos"))
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, source,
              |    len(string_split(text, ' ')) AS nt
              |  FROM documents),
              |stats AS (
              |  SELECT source, sum(nt) AS tok_s FROM base GROUP BY source),
              |tgt AS (
              |  SELECT sum(tok_s) // count(*) AS t_tgt FROM stats),
              |h0 AS (
              |  SELECT doc_id, source, CAST(doc_id AS HUGEINT) AS z
              |  FROM base),
              |${OracleSql.mix64Ctes("doc_id, source", "h0")},
              |rep AS (
              |  SELECT d.doc_id, d.source,
              |    CAST(g.t_tgt // s.tok_s AS BIGINT)
              |      + CASE WHEN d.m * CAST(s.tok_s AS HUGEINT)
              |               < CAST(g.t_tgt % s.tok_s AS HUGEINT)
              |                 * ${OracleSql.MOD}
              |             THEN 1 ELSE 0 END AS reps
              |  FROM mixed d
              |  JOIN stats s ON s.source = d.source
              |  CROSS JOIN tgt g),
              |inst0 AS (
              |  SELECT doc_id, source,
              |    CAST(unnest(range(0, reps)) AS BIGINT) AS rep
              |  FROM rep),
              |inst AS (
              |  SELECT doc_id, source, rep,
              |    CAST(unnest(range(0, 2)) AS BIGINT) AS epoch
              |  FROM inst0),
              |k0 AS (
              |  SELECT doc_id, source, rep, epoch,
              |    (CAST(doc_id AS HUGEINT) * 2097169
              |      + CAST(epoch AS HUGEINT) * 524309
              |      + CAST(rep AS HUGEINT)) % ${OracleSql.MOD} AS z
              |  FROM inst),
              |${OracleSql.mix64Ctes("doc_id, source, rep, epoch", "k0", "_k")},
              |ranked AS (
              |  SELECT epoch, doc_id, source,
              |    CAST(row_number() OVER (PARTITION BY epoch
              |      ORDER BY m, doc_id, rep) AS BIGINT) AS pos
              |  FROM mixed_k)
              |SELECT epoch, pos, doc_id, source
              |FROM ranked WHERE pos <= 10 ORDER BY epoch, pos""".stripMargin)),

    // ── Q101: per-source HYPERLOGLOG distinct-trigram estimate —
    // the third sketch family (KMV q49 = order statistics, CMS q58 =
    // frequency, HLL = bit patterns; Flajolet et al. 2007), done
    // INTEGER-EXACT so both engines produce the identical estimate:
    // register j = top 8 bits of mix64(hash64(trigram)), rho = leading-
    // zero rank of the low 56 bits via the q92 whole-bit trick
    // (57 − bitlen(w), bitlen = length(bin(w))), and the harmonic mean
    // Σ 2^−Mj is scaled by 2⁵⁷ into the integer T = Σ 2^(57−Mj) so the
    // raw estimator E = α·m²·2⁵⁷/T becomes one exact integer division
    // (α = 0.7213/(1+1.079/m) kept as the exact rational 923264/1285395
    // for m = 256; numerator literal = 923264·65536·2⁵⁷). Production
    // HLL adds linear counting below 2.5 m — that needs ln(), so this
    // audit emits the raw regime plus `regs_hit` (m − V), letting the
    // consumer see when the small-range correction would apply.
    //
    // 100 TB shape: registers are max-merged — the groupBy(source, j)
    // partial-aggregates map-side, so a source's entire trigram stream
    // collapses to ≤ 256 rows per partition before the exchange
    // (exactly the property that makes HLL THE cardinality sketch at
    // scale; countDistinct shuffles every distinct value). The exact
    // count computed alongside is the audit's ground truth and the
    // only corpus-sized shuffle; a production profile drops it.
    QueryDef("q101_hll_distinct",
      (s, dir) => {
        val dec38 = org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 0)
        val hist = Tables.documents(s, dir)
          .select(col("source"), toks.as("t"))
          .select(col("source"), explode(trigramsOfT).as("tg"))
          .distinct()
        val ex = hist.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
        val regs = hist
          .select(col("source"), mixedHashC(col("tg")).as("h"))
          .select(col("source"),
            shiftrightunsigned(col("h"), 56).as("j"),
            col("h").bitwiseAND(lit(0xFFFFFFFFFFFFFFL)).as("w"))
          .select(col("source"), col("j"),
            when(col("w") === 0, lit(57))
              .otherwise(lit(57) - char_length(bin(col("w")))).as("rho"))
          .groupBy(col("source"), col("j"))
          .agg(max(col("rho")).as("rho"))
        val sk = regs.groupBy(col("source"))
          .agg(count(lit(1)).as("regs_hit"),
            sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 57 - rho)"
              + " AS DECIMAL(38,0))")).as("t_hit"))
        val two57 = lit(new java.math.BigDecimal("144115188075855872"))
          .cast(dec38)
        ex.join(sk, Seq("source"))
          .select(col("source"), col("n_exact"), col("regs_hit"),
            (col("t_hit")
              + (lit(256L) - col("regs_hit")).cast(dec38) * two57)
              .as("t_total"))
          .select(col("source"), col("n_exact"), col("regs_hit"),
            expr("CAST(8719981936880320237155647488 AS DECIMAL(38,0))"
              + " div (1285395 * t_total)").as("est_hll"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tk AS (
              |  SELECT source, ${OracleSql.plainSplit} AS t FROM documents),
              |tg0 AS (
              |  SELECT source, unnest(list_transform(range(1, len(t) - 1),
              |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tg
              |  FROM tk WHERE len(t) >= 3),
              |hist AS (SELECT DISTINCT source, tg FROM tg0),
              |h0 AS (SELECT source, tg, ${OracleSql.hash64("tg")} AS z
              |  FROM hist),
              |${OracleSql.mix64Ctes("source, tg", "h0")},
              |reg AS (
              |  SELECT source, m // CAST(72057594037927936 AS HUGEINT) AS j,
              |    CAST(m % CAST(72057594037927936 AS HUGEINT) AS BIGINT) AS w
              |  FROM mixed),
              |mr AS (
              |  SELECT source, j,
              |    max(CASE WHEN w = 0 THEN 57
              |        ELSE 57 - length(bin(w)) END) AS rho
              |  FROM reg GROUP BY source, j),
              |agg AS (
              |  SELECT source, count(*) AS regs_hit,
              |    sum(CAST(1 AS HUGEINT) << (57 - rho)) AS t_hit
              |  FROM mr GROUP BY source),
              |ex AS (SELECT source, count(*) AS n_exact
              |  FROM hist GROUP BY source)
              |SELECT e.source, CAST(e.n_exact AS BIGINT) AS n_exact,
              |  CAST(a.regs_hit AS BIGINT) AS regs_hit,
              |  CAST(CAST(8719981936880320237155647488 AS HUGEINT)
              |    // (1285395 * (a.t_hit
              |        + (256 - a.regs_hit) * (CAST(1 AS HUGEINT) << 57)))
              |    AS BIGINT) AS est_hll
              |FROM ex e JOIN agg a ON e.source = a.source
              |ORDER BY e.source""".stripMargin)),

    // ── Q102: BLOOM-FILTER JOIN-PREFILTER audit — the runtime-filter
    // pattern every 100 TB join planner leans on (Spark's own
    // row-level runtime filtering, Bloom 1970): build a 65536-bit / 2-
    // hash bloom over the 'en' corpus's distinct trigram set, probe
    // every other language's trigrams through it, and score the filter
    // against the exact semi-join it stands in for (hits vs true
    // members vs false positives, fp rate in half-up ppm over the
    // non-member probes). The two bit positions are disjoint fields of
    // ONE mix64 draw (low 16 bits / bits 20-35) — one hash evaluation,
    // two probes, the standard double-hashing economy.
    //
    // Relationalized exactly: the bloom's bit array IS the distinct
    // set of build-side positions (≤ 65536 rows regardless of corpus
    // size — the collapse that makes the filter broadcastable at any
    // scale), membership = BOTH positions present, expressed as two
    // broadcast left joins against that position set. A probe-side
    // token therefore never shuffles: the bloom test is map-side, and
    // only the per-language counters aggregate. The exact-membership
    // join alongside is the audit's ground truth — the expensive path
    // the bloom exists to avoid shipping every probe through.
    QueryDef("q102_bloom_prefilter",
      (s, dir) => {
        val dt = Tables.documents(s, dir)
          .select(col("lang"), toks.as("t"))
          .select(col("lang"), explode(trigramsOfT).as("tg"))
          .distinct()
        val pos = dt
          .select(col("lang"), col("tg"), mixedHashC(col("tg")).as("h"))
          .select(col("lang"), col("tg"),
            col("h").bitwiseAND(lit(65535L)).as("p1"),
            shiftrightunsigned(col("h"), 20).bitwiseAND(lit(65535L))
              .as("p2"))
        val bpos = pos.filter(col("lang") === "en")
          .select(explode(array(col("p1"), col("p2"))).as("p"))
          .distinct()
        val btok = dt.filter(col("lang") === "en")
          .select(col("tg").as("tg_en"))
        pos.filter(col("lang") =!= "en")
          .join(broadcast(bpos.select(col("p").as("b1"))),
            col("p1") === col("b1"), "left")
          .join(broadcast(bpos.select(col("p").as("b2"))),
            col("p2") === col("b2"), "left")
          .join(btok, col("tg") === col("tg_en"), "left")
          .select(col("lang"),
            when(col("b1").isNotNull && col("b2").isNotNull, 1L)
              .otherwise(0L).as("hit"),
            when(col("tg_en").isNotNull, 1L).otherwise(0L).as("tru"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_probe"), sum(col("hit")).as("n_hits"),
            sum(col("tru")).as("n_true"))
          .select(col("lang"), col("n_probe"), col("n_hits"),
            col("n_true"), (col("n_hits") - col("n_true")).as("n_fp"),
            expr("(2 * (n_hits - n_true) * 1000000 + (n_probe - n_true))"
              + " div (2 * nullif(n_probe - n_true, 0))").as("fp_ppm"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH tk AS (
              |  SELECT lang, ${OracleSql.plainSplit} AS t FROM documents),
              |tg0 AS (
              |  SELECT lang, unnest(list_transform(range(1, len(t) - 1),
              |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tg
              |  FROM tk WHERE len(t) >= 3),
              |dt AS (SELECT DISTINCT lang, tg FROM tg0),
              |h0 AS (SELECT lang, tg, ${OracleSql.hash64("tg")} AS z
              |  FROM dt),
              |${OracleSql.mix64Ctes("lang, tg", "h0")},
              |pos AS (
              |  SELECT lang, tg,
              |    CAST(m % 65536 AS BIGINT) AS p1,
              |    CAST((m // 1048576) % 65536 AS BIGINT) AS p2
              |  FROM mixed),
              |bpos AS (
              |  SELECT DISTINCT p FROM (
              |    SELECT p1 AS p FROM pos WHERE lang = 'en'
              |    UNION ALL SELECT p2 FROM pos WHERE lang = 'en')),
              |btok AS (SELECT tg FROM dt WHERE lang = 'en'),
              |probe AS (
              |  SELECT p.lang,
              |    CASE WHEN b1.p IS NOT NULL AND b2.p IS NOT NULL
              |      THEN 1 ELSE 0 END AS hit,
              |    CASE WHEN bt.tg IS NOT NULL THEN 1 ELSE 0 END AS tru
              |  FROM pos p
              |  LEFT JOIN bpos b1 ON p.p1 = b1.p
              |  LEFT JOIN bpos b2 ON p.p2 = b2.p
              |  LEFT JOIN btok bt ON p.tg = bt.tg
              |  WHERE p.lang <> 'en')
              |SELECT lang, count(*) AS n_probe,
              |  CAST(sum(hit) AS BIGINT) AS n_hits,
              |  CAST(sum(tru) AS BIGINT) AS n_true,
              |  CAST(sum(hit) - sum(tru) AS BIGINT) AS n_fp,
              |  CAST((2 * (sum(hit) - sum(tru)) * 1000000
              |        + (count(*) - sum(tru)))
              |    // (2 * nullif(count(*) - sum(tru), 0)) AS BIGINT)
              |    AS fp_ppm
              |FROM probe GROUP BY lang ORDER BY lang""".stripMargin)),

    // ── Q108: per-source document CAP — the C4/RefinedWeb "domain
    // cap" step (cap every domain's contribution so no single source
    // dominates the mix), audited: cap = 10 kept documents per source,
    // chosen by the corpus-wide deterministic mix64(doc_id)
    // permutation (the SAME key q56/q65/q75/q90 split/sample/shuffle/
    // upsample by, so every subset decision in the pipeline reproduces
    // from one hash), and a 1-row-per-source report of what the cap
    // costs. ONE exchange: the rank window and the per-source rollup
    // both cluster on `source`, so the report aggregates on the
    // window's own partitioning with no second shuffle. At 100 TB the
    // kept set stays fully distributed — rank ≤ cap is a per-row
    // predicate after a per-source window, never a global sort, and
    // the report is bounded by the source count.
    QueryDef("q108_source_caps",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val u = unsignedDec(call_function("graft_mix64", col("doc_id")))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("u"), col("doc_id"))
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(toks).cast("long").as("nt"), u.as("u"))
          .withColumn("r", row_number().over(w))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("r") <= 10, 1L).otherwise(0L)).as("kept_docs"),
            sum(when(col("r") > 10, 1L).otherwise(0L)).as("dropped_docs"),
            sum(col("nt")).as("total_tokens"),
            sum(when(col("r") <= 10, col("nt")).otherwise(0L))
              .as("kept_tokens"))
          .withColumn("kept_token_ppm",
            expr("(2 * CAST(kept_tokens AS DECIMAL(38,0)) * 1000000"
              + " + total_tokens)"
              + " div (2 * CAST(total_tokens AS DECIMAL(38,0)))")
              .cast("long"))
          .orderBy(col("source"))
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, source,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
              |  FROM documents),
              |h0 AS (
              |  SELECT doc_id, source, nt, CAST(doc_id AS HUGEINT) AS z
              |  FROM base),
              |${OracleSql.mix64Ctes("doc_id, source, nt", "h0")},
              |rk AS (
              |  SELECT source, nt, row_number() OVER (
              |    PARTITION BY source ORDER BY m, doc_id) AS r
              |  FROM mixed)
              |SELECT source, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS kept_docs,
              |  CAST(sum(CASE WHEN r > 10 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS dropped_docs,
              |  CAST(sum(nt) AS BIGINT) AS total_tokens,
              |  CAST(sum(CASE WHEN r <= 10 THEN nt ELSE 0 END) AS BIGINT)
              |    AS kept_tokens,
              |  CAST((2 * sum(CASE WHEN r <= 10 THEN nt ELSE 0 END)
              |        * 1000000 + sum(nt))
              |    // (2 * sum(nt)) AS BIGINT) AS kept_token_ppm
              |FROM rk GROUP BY source ORDER BY source""".stripMargin)),

    // ── Q109: weight-proportional SYSTEMATIC sampling — ~10 documents
    // per source with selection probability proportional to token
    // count (importance sampling for data mixing: long documents carry
    // more of the training signal), via stride sampling over the
    // per-source cumulative token offset: a document is selected iff
    // its token span crosses a multiple of stride = tok_s div 10.
    // Deterministic and integer-exact — no rand(), no FP — so the
    // sample reproduces bit-for-bit at any parallelism; the report
    // additionally PINS the length bias weighted sampling is supposed
    // to have (selected docs' mean token count over corpus mean, ppm).
    // ONE exchange: the cumulative offset, the per-source total, and
    // the report all ride the same `source` clustering (the q57
    // packing shuffle). At 100 TB the per-source sample is constant
    // (~10 docs), so the selected set is bounded by the source count,
    // not the corpus.
    QueryDef("q109_weighted_sample",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wCum = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wTot = Window.partitionBy(col("source"))
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(toks).cast("long").as("nt"))
          .withColumn("cum_before",
            coalesce(sum(col("nt")).over(wCum), lit(0L)))
          .withColumn("tok_s", sum(col("nt")).over(wTot))
          .withColumn("stride", greatest(lit(1L), expr("tok_s div 10")))
          .withColumn("sel",
            when(col("nt") > 0 &&
              expr("(cum_before + nt) div stride")
                > expr("cum_before div stride"), 1L).otherwise(0L))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            first(col("tok_s")).as("tok_s"),
            first(col("stride")).as("stride"),
            sum(col("sel")).as("n_sel"),
            sum(col("sel") * col("nt")).as("tok_sel"))
          .withColumn("bias_ppm",
            expr("(2 * CAST(tok_sel AS DECIMAL(38,0)) * n_docs * 1000000"
              + " + CAST(n_sel AS DECIMAL(38,0)) * tok_s)"
              + " div (2 * nullif(CAST(n_sel AS DECIMAL(38,0)) * tok_s, 0))")
              .cast("long"))
          .orderBy(col("source"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
             |  FROM documents),
             |cum AS (
             |  SELECT doc_id, source, nt,
             |    coalesce(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS cum_before,
             |    sum(nt) OVER (PARTITION BY source) AS tok_s
             |  FROM base),
             |sel AS (
             |  SELECT source, nt, tok_s,
             |    greatest(1, tok_s // 10) AS stride,
             |    CASE WHEN nt > 0
             |      AND (cum_before + nt) // greatest(1, tok_s // 10)
             |        > cum_before // greatest(1, tok_s // 10)
             |      THEN 1 ELSE 0 END AS sel
             |  FROM cum)
             |SELECT source, count(*) AS n_docs,
             |  CAST(any_value(tok_s) AS BIGINT) AS tok_s,
             |  CAST(any_value(stride) AS BIGINT) AS stride,
             |  CAST(sum(sel) AS BIGINT) AS n_sel,
             |  CAST(sum(sel * nt) AS BIGINT) AS tok_sel,
             |  CAST((2 * sum(sel * nt) * count(*) * 1000000
             |        + sum(sel) * any_value(tok_s))
             |    // (2 * nullif(sum(sel) * any_value(tok_s), 0)) AS BIGINT)
             |    AS bias_ppm
             |FROM sel GROUP BY source ORDER BY source""".stripMargin)),

    // ── Q110: sequence-packing FRAGMENTATION CURVE — the context-
    // length tuning knob behind q57's fixed 2048: for ctx_len in
    // (128, 512, 2048, 8192), how many documents get split across a
    // bin boundary (the quality cost of offset packing — a fragmented
    // doc loses cross-boundary attention) and how much tail capacity
    // each source wastes, in ONE query. The per-source cumulative
    // offset is computed ONCE (the q57 window); the four sweep points
    // fan out AFTER the window, so the expensive pass is never
    // repeated (the q107 sweep philosophy: scan once, re-rank — here
    // re-bin — four ways). The first rollup groups by (ctx_len,
    // source) ON the window's source clustering (no new exchange);
    // only the final 80-row rollup reshuffles.
    QueryDef("q110_packing_curve",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wCum = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wTot = Window.partitionBy(col("source"))
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(toks).cast("long").as("nt"))
          .withColumn("cum_before",
            coalesce(sum(col("nt")).over(wCum), lit(0L)))
          .withColumn("tok_s", sum(col("nt")).over(wTot))
          .select(col("source"), col("nt"), col("cum_before"), col("tok_s"),
            explode(array(lit(128L), lit(512L), lit(2048L), lit(8192L)))
              .as("ctx_len"))
          .withColumn("split",
            when(col("nt") > 0 &&
              expr("cum_before div ctx_len")
                =!= expr("(cum_before + nt - 1) div ctx_len"), 1L)
              .otherwise(0L))
          .groupBy(col("ctx_len"), col("source"))
          .agg(count(lit(1)).as("nd"), sum(col("split")).as("ns"),
            first(col("tok_s")).as("tok_s"))
          .groupBy(col("ctx_len"))
          .agg(sum(col("nd")).as("n_docs"),
            sum(col("ns")).as("split_docs"),
            sum(expr("(tok_s + ctx_len - 1) div ctx_len")).as("n_bins"),
            sum(expr("(ctx_len - tok_s % ctx_len) % ctx_len"))
              .as("tail_waste"))
          .withColumn("split_doc_ppm",
            expr("(2 * split_docs * 1000000 + n_docs) div (2 * n_docs)"))
          .withColumn("waste_ppm",
            expr("(2 * tail_waste * 1000000 + n_bins * ctx_len)"
              + " div (2 * n_bins * ctx_len)"))
          .orderBy(col("ctx_len"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
             |  FROM documents),
             |cum AS (
             |  SELECT source, nt,
             |    coalesce(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS cum_before,
             |    sum(nt) OVER (PARTITION BY source) AS tok_s
             |  FROM base),
             |ls AS (SELECT CAST(unnest([128, 512, 2048, 8192]) AS BIGINT)
             |  AS ctx_len),
             |fan AS (
             |  SELECT l.ctx_len, c.source, c.tok_s,
             |    CASE WHEN c.nt > 0 AND c.cum_before // l.ctx_len
             |        <> (c.cum_before + c.nt - 1) // l.ctx_len
             |      THEN 1 ELSE 0 END AS split
             |  FROM cum c CROSS JOIN ls l),
             |per AS (
             |  SELECT ctx_len, source, count(*) AS nd, sum(split) AS ns,
             |    any_value(tok_s) AS tok_s
             |  FROM fan GROUP BY ctx_len, source)
             |SELECT ctx_len, CAST(sum(nd) AS BIGINT) AS n_docs,
             |  CAST(sum(ns) AS BIGINT) AS split_docs,
             |  CAST(sum((tok_s + ctx_len - 1) // ctx_len) AS BIGINT)
             |    AS n_bins,
             |  CAST(sum((ctx_len - tok_s % ctx_len) % ctx_len) AS BIGINT)
             |    AS tail_waste,
             |  CAST((2 * sum(ns) * 1000000 + sum(nd)) // (2 * sum(nd))
             |    AS BIGINT) AS split_doc_ppm,
             |  CAST((2 * sum((ctx_len - tok_s % ctx_len) % ctx_len) * 1000000
             |        + sum((tok_s + ctx_len - 1) // ctx_len) * ctx_len)
             |    // (2 * sum((tok_s + ctx_len - 1) // ctx_len) * ctx_len)
             |    AS BIGINT) AS waste_ppm
             |FROM per GROUP BY ctx_len ORDER BY ctx_len""".stripMargin)),

    // ── Q111: HISTOGRAM-QUANTILE CALIBRATION — the sketch-audit
    // pattern (q89/q97/q95: the engine measures its own approximation
    // knobs in-plan) applied to the quantile family: a 16-bin
    // equi-width integer histogram per language estimates p50/p90 of
    // the document token count, next to the EXACT order statistics,
    // with the error in ppm. The histogram is the 100 TB artifact —
    // one map-side-combinable groupBy over a bounded (lang × 16)
    // domain, then a 16-row-per-lang cumulative window; the exact side
    // is the small-SF audit (a per-lang sort, affordable here,
    // impossible at scale — WHY the histogram exists). Both estimate
    // and exact are pure integer arithmetic — both engines replay them
    // bit-for-bit (no percentile built-ins whose rank conventions
    // could differ). The 2-column base projection is scanned by the
    // bounds pass, the histogram, and the audit — checkpointed once.
    QueryDef("q111_hist_quantiles",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.documents(s, dir)
          .select(col("lang"), size(toks).cast("long").as("nt"))
          .localCheckpoint()
        val bounds = base.agg(min(col("nt")).as("mn"),
          max(col("nt")).as("mx"))
        val hist = base.crossJoin(broadcast(bounds))
          .withColumn("w", expr("(mx - mn) div 16 + 1"))
          .withColumn("bin", expr("(nt - mn) div w"))
          .groupBy(col("lang"), col("bin"))
          .agg(count(lit(1)).as("c"),
            first(col("mn")).as("mn"), first(col("w")).as("w"))
        val wB = Window.partitionBy(col("lang")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wL = Window.partitionBy(col("lang"))
        val cum = hist
          .withColumn("cumc", sum(col("c")).over(wB))
          .withColumn("n", sum(col("c")).over(wL))
        def est(q: Int) = min(when(col("cumc") * 100 >= col("n") * q,
          expr("mn + bin * w + w div 2")))
        val ests = cum.groupBy(col("lang"))
          .agg(first(col("n")).as("n_docs"),
            est(50).as("est_p50"), est(90).as("est_p90"))
        val wR = Window.partitionBy(col("lang")).orderBy(col("nt"))
        val ranked = base
          .withColumn("rn", row_number().over(wR))
          .withColumn("n", count(lit(1)).over(wL))
        def exactQ(q: Int) = min(when(col("rn") * 100 >= col("n") * q,
          col("nt")))
        val exact = ranked.groupBy(col("lang"))
          .agg(exactQ(50).as("exact_p50"), exactQ(90).as("exact_p90"))
        ests.join(exact, "lang")
          .withColumn("err50_ppm",
            expr("(2 * abs(est_p50 - exact_p50) * 1000000 + exact_p50)"
              + " div (2 * nullif(exact_p50, 0))"))
          .withColumn("err90_ppm",
            expr("(2 * abs(est_p90 - exact_p90) * 1000000 + exact_p90)"
              + " div (2 * nullif(exact_p90, 0))"))
          .orderBy(col("lang"))
      },
      Some("""WITH base AS (
             |  SELECT lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
             |  FROM documents),
             |b AS (SELECT min(nt) AS mn, max(nt) AS mx FROM base),
             |binned AS (
             |  SELECT lang, nt, mn, (mx - mn) // 16 + 1 AS w,
             |    (nt - mn) // ((mx - mn) // 16 + 1) AS bin
             |  FROM base CROSS JOIN b),
             |hist AS (
             |  SELECT lang, bin, count(*) AS c, any_value(mn) AS mn,
             |    any_value(w) AS w
             |  FROM binned GROUP BY lang, bin),
             |cum AS (
             |  SELECT lang, bin, c, mn, w,
             |    sum(c) OVER (PARTITION BY lang ORDER BY bin
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
             |    sum(c) OVER (PARTITION BY lang) AS n
             |  FROM hist),
             |ests AS (
             |  SELECT lang, CAST(any_value(n) AS BIGINT) AS n_docs,
             |    CAST(min(CASE WHEN cumc * 100 >= n * 50
             |      THEN mn + bin * w + w // 2 END) AS BIGINT) AS est_p50,
             |    CAST(min(CASE WHEN cumc * 100 >= n * 90
             |      THEN mn + bin * w + w // 2 END) AS BIGINT) AS est_p90
             |  FROM cum GROUP BY lang),
             |ranked AS (
             |  SELECT lang, nt,
             |    row_number() OVER (PARTITION BY lang ORDER BY nt) AS rn,
             |    count(*) OVER (PARTITION BY lang) AS n
             |  FROM base),
             |exact AS (
             |  SELECT lang,
             |    CAST(min(CASE WHEN rn * 100 >= n * 50 THEN nt END)
             |      AS BIGINT) AS exact_p50,
             |    CAST(min(CASE WHEN rn * 100 >= n * 90 THEN nt END)
             |      AS BIGINT) AS exact_p90
             |  FROM ranked GROUP BY lang)
             |SELECT lang, s.n_docs, s.est_p50, e.exact_p50,
             |  CAST((2 * abs(s.est_p50 - e.exact_p50) * 1000000
             |        + e.exact_p50)
             |    // (2 * nullif(e.exact_p50, 0)) AS BIGINT) AS err50_ppm,
             |  s.est_p90, e.exact_p90,
             |  CAST((2 * abs(s.est_p90 - e.exact_p90) * 1000000
             |        + e.exact_p90)
             |    // (2 * nullif(e.exact_p90, 0)) AS BIGINT) AS err90_ppm
             |FROM ests s JOIN exact e USING (lang) ORDER BY lang""".stripMargin)),

    // ── Q112: output SHARD-BALANCE SWEEP — the "how many output
    // files" ops knob: hash-sharding the corpus by mix64(doc_id) into
    // N shards for N in (8, 32, 128), report token/document balance
    // (max-over-mean skew in ppm, non-empty shard count) per N in ONE
    // query. The fan-out multiplies a 2-column (nt, u) projection —
    // never text — and the map-side partial aggregate reduces every
    // task's contribution to ≤ 168 (Σ N) rows before the shuffle, so
    // the exchange is constant-size at any corpus scale. The skew
    // number is what sizes executor memory and object-store parts at
    // 100 TB; sharding by the same mix64 permutation as q56/q65/q75/
    // q108 means this report audits the EXACT layout those operators
    // ship.
    QueryDef("q112_shard_balance",
      (s, dir) => {
        val u = unsignedDec(call_function("graft_mix64", col("doc_id")))
        Tables.documents(s, dir)
          .select(size(toks).cast("long").as("nt"), u.as("u"))
          .select(col("nt"), col("u"),
            explode(array(lit(8L), lit(32L), lit(128L))).as("n_shards"))
          .withColumn("shard", expr("CAST(u % n_shards AS BIGINT)"))
          .groupBy(col("n_shards"), col("shard"))
          .agg(sum(col("nt")).as("tok"), count(lit(1)).as("nd"))
          .groupBy(col("n_shards"))
          .agg(count(lit(1)).as("nonempty_shards"),
            sum(col("tok")).as("total_tokens"),
            max(col("tok")).as("max_tokens"),
            max(col("nd")).as("max_docs"))
          .withColumn("mean_tokens", expr("total_tokens div n_shards"))
          .withColumn("skew_ppm",
            expr("(2 * max_tokens * 1000000 + mean_tokens)"
              + " div (2 * nullif(mean_tokens, 0))"))
          .orderBy(col("n_shards"))
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
              |  FROM documents),
              |h0 AS (SELECT doc_id, nt, CAST(doc_id AS HUGEINT) AS z
              |  FROM base),
              |${OracleSql.mix64Ctes("doc_id, nt", "h0")},
              |ns AS (SELECT CAST(unnest([8, 32, 128]) AS BIGINT)
              |  AS n_shards),
              |fan AS (
              |  SELECT n.n_shards, CAST(d.m % n.n_shards AS BIGINT) AS shard,
              |    d.nt
              |  FROM mixed d CROSS JOIN ns n),
              |per AS (
              |  SELECT n_shards, shard, sum(nt) AS tok, count(*) AS nd
              |  FROM fan GROUP BY n_shards, shard)
              |SELECT n_shards, count(*) AS nonempty_shards,
              |  CAST(sum(tok) AS BIGINT) AS total_tokens,
              |  CAST(max(tok) AS BIGINT) AS max_tokens,
              |  CAST(max(nd) AS BIGINT) AS max_docs,
              |  CAST(sum(tok) // n_shards AS BIGINT) AS mean_tokens,
              |  CAST((2 * max(tok) * 1000000 + sum(tok) // n_shards)
              |    // (2 * nullif(sum(tok) // n_shards, 0)) AS BIGINT)
              |    AS skew_ppm
              |FROM per GROUP BY n_shards ORDER BY n_shards""".stripMargin)),

    // ── Q115: KMV SOURCE-SIMILARITY MATRIX — pairwise trigram-set
    // Jaccard between all sources, sketch-estimated AND exact, in one
    // query (the sketch-calibration pattern of q89/q97/q111 applied to
    // the bottom-k family; Beyer et al. 2007 "On synopses for
    // distinct-value estimation"). Production path: each source's
    // 256 smallest mix64(trigram) draws — the mergeable bottom-k KMV
    // synopsis — through the bounded TopKPerKey heap, so the corpus
    // compacts to k·|sources| rows in one exchange; every pair's
    // estimate then reads ≤ 2k sketch rows (merge, re-rank to the
    // union's bottom-k, count values present in BOTH sketches:
    // m / k' is the standard KMV Jaccard estimator, and when the
    // union is smaller than k the sketch IS the set and the estimate
    // is exact by construction). Audit path: the hash-exact pairwise
    // intersection folded from ONE per-hash pass over the distinct
    // (source, trigram-hash) projection — per-hash fan-out bounded by
    // |sources|² — affordable at audit scale, impossible at 100 TB,
    // WHY the sketch exists. Both paths share one checkpointed
    // per-hash pass; everything is integer-exact, so both engines replay
    // the estimator bit-for-bit.
    QueryDef("q115_source_jaccard_sketch",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = 256
        // Trigram identity is 64-BIT-HASH identity from the first
        // projection on (round 8, the q124 8-byte-key lesson): every
        // exchange ships 8-byte longs, never ~25-byte trigram STRINGS.
        // mix64 is bijective, so distinct-on-hash ≡ distinct-on-string
        // up to raw hash64 collisions — which the oracle replays
        // bit-for-bit (OracleSql.hash64/mix64Ctes), keeping both
        // engines exactly equal even ON a collision. `uo` flips the
        // sign bit so SIGNED long order ≡ the u64 order the KMV
        // bottom-k needs (no DECIMAL(38,0) compares in the heap).
        val raw = Tables.documents(s, dir)
          .select(col("source"), toks.as("t"))
          .select(col("source"), explode(trigramsOfT).as("tg"))
          .select(col("source"),
            mixedHashC(col("tg")).bitwiseXOR(lit(Long.MinValue)).as("uo"))
        // ONE corpus pass builds the per-hash source sets (bounded by
        // |sources| each): collect_set dedupes map-side, so the uo
        // exchange ships partial sets, never raw trigram instances —
        // this replaces the old separate distinct + three re-scans.
        val uAgg = raw
          .groupBy(col("uo"))
          .agg(sort_array(collect_set(col("source"))).as("ss"))
          .localCheckpoint()
        // sizes AND exact intersections in ONE pass over the hash
        // sets: each set emits its singles (→ |A|) and its ordered
        // pairs (→ |A∩B|, only where the set has ≥ 2 sources), one
        // map-side-combined exchange of |sources| + |pairs| groups
        // folds both. Checkpointed: three tiny broadcast consumers
        // below.
        val cnt = uAgg
          .select(explode(concat(
            expr("transform(ss, a -> struct(a AS source_a," +
              " CAST(NULL AS STRING) AS source_b))"),
            expr("flatten(transform(ss, (a, i) -> transform(" +
              "slice(ss, i + 2, size(ss)), " +
              "b -> struct(a AS source_a, b AS source_b))))"))).as("p"))
          .select(col("p.source_a"), col("p.source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val sizes = cnt.filter(col("source_b").isNull)
          .select(col("source_a").as("source"), col("c").as("n"))
        val inter = cnt.filter(col("source_b").isNotNull)
          .select(col("source_a"), col("source_b"),
            col("c").as("inter_exact"))
        val srcs = sizes.select(col("source"))
        // Bottom-k KMV synopsis per source, folded to ONE capped array
        // per source (≤ k longs — mergeable, bounded): TopKPerKey
        // bounds the heap both sides of its exchange, and the roll-up
        // to arrays rides the same source partitioning. At 100 TB this
        // path runs off the distinct (source, uo) projection directly;
        // sharing the checkpointed audit pass is the audit-scale
        // co-optimization.
        val bkArr = uAgg
          .select(explode(col("ss")).as("source"), col("uo"))
          .withColumn("r", row_number().over(Window
            .partitionBy(col("source")).orderBy(col("uo"))))
          .filter(col("r") <= k)
          .groupBy(col("source"))
          .agg(sort_array(collect_list(col("uo"))).as("ks"))
        val prs = srcs.select(col("source").as("source_a"))
          .crossJoin(broadcast(srcs.select(col("source").as("source_b"))))
          .filter(col("source_a") < col("source_b"))
        // Merge, re-rank and membership-count IN-ARRAY on the two
        // capped synopses — k' = min(k, |union|), both =
        // |bottom-k'(union) ∩ A ∩ B| — identical to the old
        // exchange-based union/re-rank (same estimator, same values)
        // but the whole pair matrix is ONE all-broadcast codegen stage
        // instead of two exchanges + a window.
        prs
          .join(broadcast(bkArr.select(col("source").as("source_a"),
            col("ks").as("ka"))), "source_a")
          .join(broadcast(bkArr.select(col("source").as("source_b"),
            col("ks").as("kb"))), "source_b")
          .join(broadcast(sizes.select(col("source").as("source_a"),
            col("n").as("n_a"))), "source_a")
          .join(broadcast(sizes.select(col("source").as("source_b"),
            col("n").as("n_b"))), "source_b")
          .join(broadcast(inter), Seq("source_a", "source_b"), "left")
          .na.fill(0L, Seq("inter_exact"))
          .withColumn("mrg",
            expr(s"slice(sort_array(array_union(ka, kb)), 1, $k)"))
          .withColumn("kmv_k", size(col("mrg")).cast("long"))
          .withColumn("kmv_both", size(array_intersect(col("mrg"),
            array_intersect(col("ka"), col("kb")))).cast("long"))
          .withColumn("jac_exact_ppm",
            expr("(2 * inter_exact * 1000000 + (n_a + n_b - inter_exact))"
              + " div (2 * (n_a + n_b - inter_exact))"))
          .withColumn("jac_est_ppm",
            expr("(2 * kmv_both * 1000000 + kmv_k) div (2 * kmv_k)"))
          .select(col("source_a"), col("source_b"), col("n_a"),
            col("n_b"), col("inter_exact"), col("jac_exact_ppm"),
            col("kmv_k"), col("kmv_both"), col("jac_est_ppm"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH tk AS (
              |  SELECT source, string_split(text, ' ') AS t
              |  FROM documents),
              |tg0 AS (
              |  SELECT source, unnest(list_transform(range(1, len(t) - 1),
              |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tg
              |  FROM tk WHERE len(t) >= 3),
              |h0 AS (SELECT DISTINCT source, ${OracleSql.hash64("tg")} AS z
              |  FROM tg0),
              |${OracleSql.mix64Ctes("source", "h0")},
              |dt AS (SELECT source, m FROM mixed),
              |bk AS (
              |  SELECT source, u FROM (
              |    SELECT source, m AS u, row_number() OVER (
              |      PARTITION BY source ORDER BY m) AS r
              |    FROM dt)
              |  WHERE r <= 256),
              |srcs AS (SELECT DISTINCT source FROM dt),
              |prs AS (
              |  SELECT a.source AS source_a, b.source AS source_b
              |  FROM srcs a JOIN srcs b ON a.source < b.source),
              |un0 AS (
              |  SELECT p.source_a, p.source_b, k.u,
              |    max(CASE WHEN k.source = p.source_a THEN 1 ELSE 0 END)
              |      AS ina,
              |    max(CASE WHEN k.source = p.source_b THEN 1 ELSE 0 END)
              |      AS inb
              |  FROM prs p JOIN bk k
              |    ON k.source = p.source_a OR k.source = p.source_b
              |  GROUP BY p.source_a, p.source_b, k.u),
              |unk AS (
              |  SELECT source_a, source_b, ina, inb, row_number() OVER (
              |    PARTITION BY source_a, source_b ORDER BY u) AS r
              |  FROM un0),
              |est AS (
              |  SELECT source_a, source_b, count(*) AS kmv_k,
              |    sum(ina * inb) AS kmv_both
              |  FROM unk WHERE r <= 256 GROUP BY source_a, source_b),
              |sizes AS (SELECT source, count(*) AS n FROM dt GROUP BY source),
              |inter AS (
              |  SELECT a.source AS source_a, b.source AS source_b,
              |    count(*) AS inter_exact
              |  FROM dt a JOIN dt b
              |    ON a.m = b.m AND a.source < b.source
              |  GROUP BY 1, 2)
              |SELECT p.source_a, p.source_b,
              |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
              |  CAST(coalesce(i.inter_exact, 0) AS BIGINT) AS inter_exact,
              |  CAST((2 * coalesce(i.inter_exact, 0) * 1000000
              |        + (sa.n + sb.n - coalesce(i.inter_exact, 0)))
              |    // (2 * (sa.n + sb.n - coalesce(i.inter_exact, 0)))
              |    AS BIGINT) AS jac_exact_ppm,
              |  CAST(e.kmv_k AS BIGINT) AS kmv_k,
              |  CAST(e.kmv_both AS BIGINT) AS kmv_both,
              |  CAST((2 * e.kmv_both * 1000000 + e.kmv_k) // (2 * e.kmv_k)
              |    AS BIGINT) AS jac_est_ppm
              |FROM prs p
              |JOIN sizes sa ON sa.source = p.source_a
              |JOIN sizes sb ON sb.source = p.source_b
              |LEFT JOIN inter i
              |  ON i.source_a = p.source_a AND i.source_b = p.source_b
              |JOIN est e
              |  ON e.source_a = p.source_a AND e.source_b = p.source_b
              |ORDER BY p.source_a, p.source_b""".stripMargin)),

    // ── Q123: TOKEN BURSTINESS — cf/df per token (mean occurrences
    // per CONTAINING document; Church & Gale 1995, "Poisson mixtures":
    // content words clump — once a document uses a term it reuses it —
    // while function words spread evenly, so cf/df ≫ 1 marks topical/
    // boilerplate-prone terms where raw frequency cannot). Top-20 by
    // half-up-ppm burstiness among tokens in ≥ 5 documents (the
    // dispersion floor below which cf/df is noise). The q31/q92
    // quality family scores documents; this scores the VOCABULARY —
    // the term-level view that seeds stopword and boilerplate lists.
    //
    // 100 TB shape: word-count shape — per-(token, doc) counts
    // partial-aggregate map-side, the second rollup carries one row
    // per distinct token, and the global top-20 is a
    // TakeOrderedAndProject (no full sort). Integer-exact ppm, plain-
    // split tokenization ([[OracleSql.plainSplit]] twin).
    QueryDef("q123_token_burstiness",
      (s, dir) => {
        val perDoc = Tables.documents(s, dir)
          .select(col("doc_id"), explode(toks).as("tok"))
          .groupBy(col("tok"), col("doc_id"))
          .agg(count(lit(1)).as("c"))
        perDoc.groupBy(col("tok"))
          .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
          .filter(col("df") >= 5)
          .select(col("tok").as("token"), col("cf"), col("df"),
            expr("(2 * cf * 1000000 + df) div (2 * df)")
              .as("burstiness_ppm"))
          .orderBy(col("burstiness_ppm").desc, col("token"))
          .limit(20)
      },
      Some(s"""WITH tk AS (
              |  SELECT doc_id, unnest(${OracleSql.plainSplit}) AS tok
              |  FROM documents),
              |pd AS (
              |  SELECT tok, doc_id, count(*) AS c FROM tk GROUP BY 1, 2),
              |agg AS (
              |  SELECT tok AS token, sum(c) AS cf, count(*) AS df
              |  FROM pd GROUP BY 1)
              |SELECT token, CAST(cf AS BIGINT) AS cf,
              |  CAST(df AS BIGINT) AS df,
              |  CAST((2 * cf * 1000000 + df) // (2 * df) AS BIGINT)
              |    AS burstiness_ppm
              |FROM agg WHERE df >= 5
              |ORDER BY burstiness_ppm DESC, token LIMIT 20""".stripMargin)),

    // ── Q124: N-GRAM DIVERSITY (distinct-n) — per source and n =
    // 1/2/3, the distinct-to-total n-gram ratio in ppm: the standard
    // corpus diversity metric (distinct-1/-2 of Li et al. 2016, the
    // Self-BLEU complement) — low distinct-n flags templated or
    // looping text that per-document signals (q45's repetition
    // ratios) miss when the repetition is ACROSS documents. The three
    // n values fan out from ONE token-array scan (an array-of-structs
    // explode — the corpus is read once), and grams travel as 8-byte
    // graft_hash64 keys, never strings, so the (source, n, hash)
    // exchange is fixed-width — the q76/q81 key convention; the
    // oracle replays the identical polynomial hash, so a collision
    // (astronomically unlikely) would bend both engines equally.
    // Map-side combine collapses each task to its local distinct
    // grams before the shuffle; the final rollup is |sources|·3 rows.
    QueryDef("q124_ngram_diversity",
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .select(col("source"), toks.as("t"))
        base.select(col("source"), explode(array(
            struct(lit(1L).as("n"), col("t").as("gs")),
            struct(lit(2L).as("n"), bigramsOfT.as("gs")),
            struct(lit(3L).as("n"), trigramsOfT.as("gs")))).as("p"))
          .select(col("source"), col("p.n").as("n"),
            explode(col("p.gs")).as("g"))
          .select(col("source"), col("n"), hash64C(col("g")).as("h"))
          .groupBy(col("source"), col("n"), col("h"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("source"), col("n"))
          .agg(sum(col("c")).as("total_ngrams"),
            count(lit(1)).as("distinct_ngrams"))
          .withColumn("distinct_ppm",
            expr("(2 * distinct_ngrams * 1000000 + total_ngrams)"
              + " div (2 * nullif(total_ngrams, 0))"))
          .orderBy(col("source"), col("n"))
      },
      Some(s"""WITH tk AS (
              |  SELECT source, ${OracleSql.plainSplit} AS t
              |  FROM documents),
              |g1 AS (
              |  SELECT source, 1 AS n, unnest(t) AS g FROM tk),
              |g2 AS (
              |  SELECT source, 2 AS n,
              |    unnest(list_transform(range(1, len(t)),
              |      i -> t[i] || ' ' || t[i + 1])) AS g
              |  FROM tk WHERE len(t) >= 2),
              |g3 AS (
              |  SELECT source, 3 AS n,
              |    unnest(list_transform(range(1, len(t) - 1),
              |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
              |  FROM tk WHERE len(t) >= 3),
              |fan AS (
              |  SELECT * FROM g1 UNION ALL SELECT * FROM g2
              |  UNION ALL SELECT * FROM g3),
              |hashed AS (
              |  SELECT source, n, ${OracleSql.hash64("g")} AS h, count(*) AS c
              |  FROM fan GROUP BY 1, 2, 3),
              |per AS (
              |  SELECT source, n, sum(c) AS total_ngrams,
              |    count(*) AS distinct_ngrams
              |  FROM hashed GROUP BY 1, 2)
              |SELECT source, CAST(n AS BIGINT) AS n,
              |  CAST(total_ngrams AS BIGINT) AS total_ngrams,
              |  CAST(distinct_ngrams AS BIGINT) AS distinct_ngrams,
              |  CAST((2 * distinct_ngrams * 1000000 + total_ngrams)
              |    // (2 * nullif(total_ngrams, 0)) AS BIGINT)
              |    AS distinct_ppm
              |FROM per ORDER BY source, n""".stripMargin)),

    // ── Q127: BIGRAM CONDITIONAL SURPRISAL — per source, the average
    // bits to encode the NEXT token given the previous one under the
    // corpus bigram model: bits(a→b) = bitlen(c_a•) − bitlen(c_ab)
    // (⌊log₂⌋ of the conditional reciprocal — q92's integer-exact
    // bit-length convention lifted one conditioning level). The
    // unigram number (q92) scores WHAT a source says; this scores how
    // PREDICTABLE its sequences are — templated/boilerplate text shows
    // low conditional bits even when its unigram mix looks normal,
    // which is exactly the n-gram LM quality-filter signal (the CCNet/
    // KenLM perplexity filter's integer-arithmetic stand-in: no libm
    // log, both engines replay bit-for-bit).
    //
    // 100 TB shape: ONE corpus-sized (source, a, b) histogram
    // exchange; everything downstream — the corpus bigram counts, the
    // prefix counts, the bits table, the final per-source rollup —
    // derives from that checkpointed histogram over the vocab²-bounded
    // domain; the prefix-count join broadcasts |vocab| rows.
    QueryDef("q127_bigram_surprisal",
      (s, dir) => {
        val t = col("t")
        val pairsOfT = when(size(t) < 2,
            array().cast("array<struct<a:string,b:string>>"))
          .otherwise(zip_with(
            slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (x, y) => struct(x.as("a"), y.as("b"))))
        val hist = Tables.documents(s, dir)
          .select(col("source"), toks.as("t"))
          .select(col("source"), explode(pairsOfT).as("p"))
          .select(col("source"), col("p.a").as("a"), col("p.b").as("b"))
          .groupBy(col("source"), col("a"), col("b"))
          .agg(count(lit(1)).as("c_sab"))
          .localCheckpoint()
        val cab = hist.groupBy(col("a"), col("b"))
          .agg(sum(col("c_sab")).as("c_ab"))
        val ca = cab.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
        val bits = cab.join(broadcast(ca), "a")
          .select(col("a"), col("b"),
            (char_length(bin(col("c_a")))
              - char_length(bin(col("c_ab")))).cast("long").as("bits"))
        hist.join(bits, Seq("a", "b"))
          .groupBy(col("source"))
          .agg(sum(col("c_sab")).as("n_bigrams"),
            sum(col("c_sab") * col("bits")).as("sum_bits"))
          .withColumn("avg_bits_ppm",
            expr("(2 * CAST(sum_bits AS DECIMAL(38,0)) * 1000000"
              + " + n_bigrams)"
              + " div (2 * CAST(n_bigrams AS DECIMAL(38,0)))"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tk AS (
              |  SELECT source, ${OracleSql.plainSplit} AS t
              |  FROM documents),
              |pb AS (
              |  SELECT source,
              |    unnest(list_transform(range(1, len(t)),
              |      i -> {a: t[i], b: t[i + 1]})) AS u
              |  FROM tk WHERE len(t) >= 2),
              |hist AS (
              |  SELECT source, u.a AS a, u.b AS b, count(*) AS c_sab
              |  FROM pb GROUP BY 1, 2, 3),
              |cab AS (
              |  SELECT a, b, CAST(sum(c_sab) AS BIGINT) AS c_ab
              |  FROM hist GROUP BY a, b),
              |ca AS (
              |  SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a
              |  FROM cab GROUP BY a),
              |bits AS (
              |  SELECT cab.a, cab.b,
              |    CAST(length(bin(ca.c_a)) - length(bin(cab.c_ab))
              |      AS BIGINT) AS bits
              |  FROM cab JOIN ca USING (a))
              |SELECT source, CAST(sum(c_sab) AS BIGINT) AS n_bigrams,
              |  CAST(sum(c_sab * bits) AS BIGINT) AS sum_bits,
              |  CAST((2 * CAST(sum(c_sab * bits) AS HUGEINT) * 1000000
              |        + sum(c_sab))
              |    // (2 * CAST(sum(c_sab) AS HUGEINT)) AS BIGINT)
              |    AS avg_bits_ppm
              |FROM hist JOIN bits USING (a, b)
              |GROUP BY source ORDER BY source""".stripMargin)),

    // ── Q128: HISTOGRAM-BIN-COUNT SWEEP — q111's fixed-width
    // histogram quantile estimator at 8/16/32/64 bins in ONE query:
    // the accuracy-vs-state trade behind every histogram-based stats
    // collector (a coarser histogram is cheaper to merge across 1000
    // executors; this curve says what each step of coarseness costs in
    // p50/p90 error). The exact order statistics come from the q79
    // distinct-VALUE histogram + cumulative window — the corpus is
    // never row-sorted, matching how the estimator itself works, and
    // the single-partition window runs over the bounded distinct-value
    // domain, not rows. One checkpointed 1-column projection feeds the
    // bounds row (broadcast back), all four binnings (fan-out
    // multiplies an 8-byte value), and the exact pass. |est − exact| ≤
    // bin width per sweep point is the estimator's defining bound —
    // pinned corpus-independently in QueriesSpec.
    QueryDef("q128_hist_bin_sweep",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.documents(s, dir)
          .select(size(toks).cast("long").as("nt"))
          .localCheckpoint()
        val bounds = base.agg(min(col("nt")).as("mn"),
          max(col("nt")).as("mx"))
        val fan = base.crossJoin(broadcast(bounds))
          .select(col("nt"), col("mn"), col("mx"),
            explode(array(lit(8L), lit(16L), lit(32L), lit(64L)))
              .as("n_bins"))
          .withColumn("w", expr("(mx - mn) div n_bins + 1"))
          .withColumn("bin", expr("(nt - mn) div w"))
          .groupBy(col("n_bins"), col("bin"))
          .agg(count(lit(1)).as("c"),
            first(col("mn")).as("mn"), first(col("w")).as("w"))
        val wB = Window.partitionBy(col("n_bins")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wN = Window.partitionBy(col("n_bins"))
        val cum = fan
          .withColumn("cumc", sum(col("c")).over(wB))
          .withColumn("n", sum(col("c")).over(wN))
        def est(q: Int) = min(when(col("cumc") * 100 >= col("n") * q,
          expr("mn + bin * w + w div 2")))
        val ests = cum.groupBy(col("n_bins"))
          .agg(first(col("n")).as("n_docs"), first(col("w")).as("bin_w"),
            est(50).as("est_p50"), est(90).as("est_p90"))
        val vals = base.groupBy(col("nt")).agg(count(lit(1)).as("c"))
        // the exact-quantile CDF is one running sum over the distinct
        // token counts (91 at sf0.1) — a value domain, not the
        // corpus — so one explicit partition (onePart) is the plan
        val cumv = vals
          .withColumn("cumc", sum(col("c")).over(
            Window.partitionBy(onePart(col("nt"))).orderBy(col("nt"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
        def exactQ(q: Int) = min(when(col("cumc") * 100 >= col("n") * q,
          col("nt")))
        val exact = cumv.agg(exactQ(50).as("exact_p50"),
          exactQ(90).as("exact_p90"))
        ests.crossJoin(broadcast(exact))
          .withColumn("err50_ppm",
            expr("(2 * abs(est_p50 - exact_p50) * 1000000 + exact_p50)"
              + " div (2 * nullif(exact_p50, 0))"))
          .withColumn("err90_ppm",
            expr("(2 * abs(est_p90 - exact_p90) * 1000000 + exact_p90)"
              + " div (2 * nullif(exact_p90, 0))"))
          .orderBy(col("n_bins"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
             |  FROM documents),
             |b AS (SELECT min(nt) AS mn, max(nt) AS mx FROM base),
             |ns AS (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT)
             |  AS n_bins),
             |fan AS (
             |  SELECT s.n_bins, base.nt, b.mn,
             |    (b.mx - b.mn) // s.n_bins + 1 AS w
             |  FROM base CROSS JOIN b CROSS JOIN ns s),
             |hist AS (
             |  SELECT n_bins, (nt - mn) // w AS bin, count(*) AS c,
             |    any_value(mn) AS mn, any_value(w) AS w
             |  FROM fan GROUP BY n_bins, (nt - mn) // w),
             |cum AS (
             |  SELECT n_bins, bin, c, mn, w,
             |    sum(c) OVER (PARTITION BY n_bins ORDER BY bin
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cumc,
             |    sum(c) OVER (PARTITION BY n_bins) AS n
             |  FROM hist),
             |ests AS (
             |  SELECT n_bins, any_value(n) AS n_docs, any_value(w) AS bin_w,
             |    min(CASE WHEN cumc * 100 >= n * 50
             |      THEN mn + bin * w + w // 2 END) AS est_p50,
             |    min(CASE WHEN cumc * 100 >= n * 90
             |      THEN mn + bin * w + w // 2 END) AS est_p90
             |  FROM cum GROUP BY n_bins),
             |vals AS (SELECT nt, count(*) AS c FROM base GROUP BY nt),
             |cumv AS (
             |  SELECT nt,
             |    sum(c) OVER (ORDER BY nt
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cumc,
             |    (SELECT count(*) FROM base) AS n
             |  FROM vals),
             |exact AS (
             |  SELECT
             |    min(CASE WHEN cumc * 100 >= n * 50 THEN nt END)
             |      AS exact_p50,
             |    min(CASE WHEN cumc * 100 >= n * 90 THEN nt END)
             |      AS exact_p90
             |  FROM cumv)
             |SELECT e.n_bins, CAST(e.n_docs AS BIGINT) AS n_docs,
             |  CAST(e.bin_w AS BIGINT) AS bin_w,
             |  CAST(e.est_p50 AS BIGINT) AS est_p50,
             |  CAST(x.exact_p50 AS BIGINT) AS exact_p50,
             |  CAST((2 * abs(e.est_p50 - x.exact_p50) * 1000000
             |        + x.exact_p50)
             |    // (2 * nullif(x.exact_p50, 0)) AS BIGINT) AS err50_ppm,
             |  CAST(e.est_p90 AS BIGINT) AS est_p90,
             |  CAST(x.exact_p90 AS BIGINT) AS exact_p90,
             |  CAST((2 * abs(e.est_p90 - x.exact_p90) * 1000000
             |        + x.exact_p90)
             |    // (2 * nullif(x.exact_p90, 0)) AS BIGINT) AS err90_ppm
             |FROM ests e CROSS JOIN exact x
             |ORDER BY e.n_bins""".stripMargin)),

    // ── Q131: BPE MERGE-STEP AUDIT — one full byte-pair-encoding
    // training round, replayed by both engines: round-1 pair counts
    // pick the best (weight DESC, left, right) merge, the rule applies
    // greedily left-to-right non-overlapping to every vocabulary word
    // ([[BPE.mergeFoldSql]] ↔ the oracle's `list_reduce` — the exact
    // fold the library trainer iterates), and the output is the
    // applied rule beside the top-20 ROUND-2 pair counts it produces.
    // q84 ranked the first round's candidates; this audits the state
    // TRANSITION — the step `operators/BPE.fit` runs `merges` times.
    //
    // 100 TB shape: the trainer's own — ONE corpus word-count
    // exchange (map-side combined); everything after is vocab-sized
    // (Zipf-bounded) with the 1-row winner broadcast back onto the
    // vocabulary; the global top-1/top-20 are TakeOrderedAndProject,
    // never a full sort.
    QueryDef("q131_bpe_merge_audit",
      (s, dir) => {
        val wc = Tables.documents(s, dir)
          .select(toks.as("t")).select(explode(col("t")).as("tok"))
          .filter(char_length(col("tok")) >= 2)
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val best = wc
          .select(col("c"),
            explode(BPE.adjacentPairs(BPE.charSyms(col("tok")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("c")).as("w"))
          .orderBy(col("w").desc, col("l"), col("r"))
          .limit(1)
        wc.crossJoin(broadcast(best))
          .select(col("c"), col("l").as("m_l"), col("r").as("m_r"),
            col("w").as("m_w"),
            expr(BPE.mergeFoldSql(
              "transform(sequence(1, char_length(tok))," +
                " i -> substring(tok, i, 1))", "l", "r"))
              .as("syms"))
          .filter(size(col("syms")) >= 2)
          .select(col("m_l"), col("m_r"), col("m_w"), col("c"),
            explode(BPE.adjacentPairs(col("syms"))).as("p"))
          .groupBy(col("m_l"), col("m_r"), col("m_w"),
            col("p.l").as("l2"), col("p.r").as("r2"))
          .agg(sum(col("c")).as("w2"), count(lit(1)).as("n_pos"))
          .orderBy(col("w2").desc, col("l2"), col("r2"))
          .limit(20)
      },
      Some(s"""WITH tk AS (
              |  SELECT unnest(${OracleSql.plainSplit}) AS tok
              |  FROM documents),
              |wc AS (SELECT tok, count(*) AS c FROM tk
              |  WHERE length(tok) >= 2 GROUP BY tok),
              |p1 AS (
              |  SELECT c, unnest(list_transform(range(1, length(tok)),
              |    i -> {'l': substring(tok, i, 1),
              |          'r': substring(tok, i + 1, 1)})) AS p
              |  FROM wc),
              |pc1 AS (SELECT p.l AS l, p.r AS r, sum(c) AS w
              |  FROM p1 GROUP BY 1, 2),
              |best AS (SELECT l, r, w FROM pc1
              |  ORDER BY w DESC, l, r LIMIT 1),
              |mg AS (
              |  SELECT c, b.l AS m_l, b.r AS m_r, b.w AS m_w,
              |    list_reduce(list_transform(range(1, length(tok) + 1),
              |        i -> [substring(tok, i, 1)]),
              |      (acc, x) -> CASE WHEN len(acc) > 0
              |          AND acc[-1] = b.l AND x[1] = b.r
              |        THEN list_concat(acc[1:len(acc) - 1], [b.l || b.r])
              |        ELSE list_concat(acc, x) END) AS syms
              |  FROM wc CROSS JOIN best b),
              |p2 AS (
              |  SELECT m_l, m_r, m_w, c,
              |    unnest(list_transform(range(1, len(syms)),
              |      i -> {'l': syms[i], 'r': syms[i + 1]})) AS p
              |  FROM mg WHERE len(syms) >= 2)
              |SELECT m_l, m_r, CAST(m_w AS BIGINT) AS m_w,
              |  p.l AS l2, p.r AS r2, CAST(sum(c) AS BIGINT) AS w2,
              |  CAST(count(*) AS BIGINT) AS n_pos
              |FROM p2 GROUP BY 1, 2, 3, 4, 5
              |ORDER BY w2 DESC, l2, r2 LIMIT 20""".stripMargin)),

    // ── Q136: PER-SOURCE OLS SUFFICIENT STATISTICS — the distributed
    // model-fit primitive: regress n_chars (y) on the token count (x)
    // per source from ONE pass of exact sums (n, Σx, Σy, Σx², Σxy,
    // Σy²) — the map-side-combinable Gram/moment tile every linear
    // model, ridge step, and feature-correlation audit reduces to at
    // 100 TB (k² numbers per task, never a second corpus pass). The
    // slope and intercept come from Cramer's rule over the SAME exact
    // integers (both share denominator n·Σx² − (Σx)²), reported
    // half-up in ppm; all sums accumulate in DECIMAL(38,0) / HUGEINT
    // so the engines stay bit-equal past int64 territory (the q117/
    // q122 overflow rule).
    QueryDef("q136_ols_source_stats",
      (s, dir) => {
        olsSufficientStats(Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("source"), size(toks).cast("long").as("x"),
            col("n_chars").as("y")))
          .orderBy(col("source"))
      },
      Some("""WITH m AS (
             |  SELECT source,
             |    CAST(len(string_split(text, ' ')) AS HUGEINT) AS x,
             |    CAST(n_chars AS HUGEINT) AS y
             |  FROM documents WHERE text IS NOT NULL),
             |st AS (
             |  SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
             |  FROM m GROUP BY source)
             |SELECT source, CAST(n AS BIGINT) AS n,
             |  CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
             |  CAST(sxx AS BIGINT) AS sxx, CAST(sxy AS BIGINT) AS sxy,
             |  CAST(syy AS BIGINT) AS syy,
             |  CAST((2 * (n * sxy - sx * sy) * 1000000
             |      + (n * sxx - sx * sx))
             |    // (2 * nullif(n * sxx - sx * sx, 0)) AS BIGINT)
             |    AS slope_ppm,
             |  CAST((2 * (sy * sxx - sx * sxy) * 1000000
             |      + (n * sxx - sx * sx))
             |    // (2 * nullif(n * sxx - sx * sx, 0)) AS BIGINT)
             |    AS icept_ppm
             |FROM st ORDER BY source""".stripMargin)),

    // ── Q137: PARETO SKYLINE (max distinct tokens, min chars) — the
    // 2-D skyline without the naive O(n²) dominance anti-join: group
    // docs by nt (one exchange, |distinct nt| rows — bounded by the
    // vocabulary of lengths, not the corpus), take min(chars) per nt,
    // then a prefix-min window ORDERED BY nt DESC over that tiny
    // grouped frame gives best_chars_above = the tightest char count
    // among all strictly-higher-nt docs. A doc is on the frontier iff
    // it achieves its nt group's min chars AND beats every
    // higher-nt doc strictly (chars < prefix min) — the exact
    // dominance rule, with equal-point pairs (neither strict) both
    // surviving. The single-partition window touches only the grouped
    // frame; the corpus pays one groupBy + one broadcast join back.
    QueryDef("q137_quality_skyline",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val m = Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(array_distinct(toks)).cast("long").as("nt"),
            col("n_chars").as("ch"))
          .localCheckpoint()
        val g = m.groupBy(col("nt")).agg(min(col("ch")).as("mn"))
        // the exclusive prefix-min over nt DESC is one window over the
        // distinct-token counts (26 at sf0.1), which broadcasts below
        // anyway, so one explicit partition (onePart) is the plan;
        // pm is null only for the first (highest-nt) row
        val front = g
          .withColumn("pm", min(col("mn")).over(
            Window.partitionBy(onePart(col("nt"))).orderBy(col("nt").desc)
              .rowsBetween(Window.unboundedPreceding, -1)))
        m.join(broadcast(front), Seq("nt"))
          .filter(col("ch") === col("mn") &&
            (col("pm").isNull || col("ch") < col("pm")))
          .select(col("doc_id"), col("nt"), col("ch"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CAST(len(list_distinct(string_split(text, ' ')))
             |      AS BIGINT) AS nt,
             |    n_chars AS ch
             |  FROM documents WHERE text IS NOT NULL),
             |g AS (SELECT nt, min(ch) AS mn FROM m GROUP BY nt),
             |f AS (
             |  SELECT nt, mn, min(mn) OVER (ORDER BY nt DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |    AS pm
             |  FROM g)
             |SELECT m.doc_id, m.nt, m.ch
             |FROM m JOIN f USING (nt)
             |WHERE m.ch = f.mn AND (f.pm IS NULL OR m.ch < f.pm)
             |ORDER BY m.doc_id""".stripMargin)),

    // ── Q140: BPE TRAIN→ENCODE ROUND TRIP — the full tokenizer loop
    // audited end-to-end: fit 2 merge rules on the corpus (the
    // operators/BPE trainer — vocab-sized pair counts, broadcast
    // winner, localCheckpoint per merge), then ENCODE every distinct
    // word with the trained list (one broadcast of the folded rules,
    // per-word double fold — the same mergeFoldSql kernel as training,
    // so encode can never drift from fit). Top-20 words by corpus
    // count with their segmentations. The DuckDB oracle re-derives
    // both merges AND both encode applications from scratch — the
    // whole train→apply pipeline replayed in SQL, not just one step
    // (q131 audits the trainer's internal state; this audits what a
    // tokenizer USER sees).
    QueryDef("q140_bpe_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val rules = BPE.fit(docs, 2)
        BPE.encode(docs, rules)
          .select(col("tok"), col("c"),
            array_join(col("syms"), "|").as("segs"),
            size(col("syms")).cast("long").as("n_syms"))
          .orderBy(col("c").desc, col("tok"))
          .limit(20)
      },
      Some(s"""WITH tk AS (
              |  SELECT unnest(${OracleSql.plainSplit}) AS tok
              |  FROM documents),
              |wc AS (SELECT tok, count(*) AS c FROM tk
              |  WHERE length(tok) >= 2 GROUP BY tok),
              |p1 AS (
              |  SELECT c, unnest(list_transform(range(1, length(tok)),
              |    i -> {'l': substring(tok, i, 1),
              |          'r': substring(tok, i + 1, 1)})) AS p
              |  FROM wc),
              |pc1 AS (SELECT p.l AS l, p.r AS r, sum(c) AS w
              |  FROM p1 GROUP BY 1, 2),
              |b1 AS (SELECT l, r FROM pc1 ORDER BY w DESC, l, r LIMIT 1),
              |mg1 AS (
              |  SELECT c,
              |    list_reduce(list_transform(range(1, length(tok) + 1),
              |        i -> [substring(tok, i, 1)]),
              |      (acc, x) -> CASE WHEN len(acc) > 0
              |          AND acc[-1] = b1.l AND x[1] = b1.r
              |        THEN list_concat(acc[1:len(acc) - 1], [b1.l || b1.r])
              |        ELSE list_concat(acc, x) END) AS syms
              |  FROM wc CROSS JOIN b1),
              |p2 AS (
              |  SELECT c, unnest(list_transform(range(1, len(syms)),
              |    i -> {'l': syms[i], 'r': syms[i + 1]})) AS p
              |  FROM mg1 WHERE len(syms) >= 2),
              |pc2 AS (SELECT p.l AS l, p.r AS r, sum(c) AS w
              |  FROM p2 GROUP BY 1, 2),
              |b2 AS (SELECT l, r FROM pc2 ORDER BY w DESC, l, r LIMIT 1),
              |ec AS (SELECT tok, count(*) AS c FROM tk
              |  WHERE length(tok) >= 1 GROUP BY tok),
              |e1 AS (
              |  SELECT tok, c,
              |    list_reduce(list_transform(range(1, length(tok) + 1),
              |        i -> [substring(tok, i, 1)]),
              |      (acc, x) -> CASE WHEN len(acc) > 0
              |          AND acc[-1] = b1.l AND x[1] = b1.r
              |        THEN list_concat(acc[1:len(acc) - 1], [b1.l || b1.r])
              |        ELSE list_concat(acc, x) END) AS syms
              |  FROM ec CROSS JOIN b1),
              |e2 AS (
              |  SELECT tok, c,
              |    list_reduce(list_transform(syms, x -> [x]),
              |      (acc, x) -> CASE WHEN len(acc) > 0
              |          AND acc[-1] = b2.l AND x[1] = b2.r
              |        THEN list_concat(acc[1:len(acc) - 1], [b2.l || b2.r])
              |        ELSE list_concat(acc, x) END) AS syms
              |  FROM e1 CROSS JOIN b2)
              |SELECT tok, CAST(c AS BIGINT) AS c,
              |  array_to_string(syms, '|') AS segs,
              |  CAST(len(syms) AS BIGINT) AS n_syms
              |FROM e2 ORDER BY c DESC, tok LIMIT 20""".stripMargin)),

    // ── Q144: TOKEN-MASS LENGTH PERCENTILES — per source, the doc
    // length at which cumulative TOKEN mass crosses 50% / 90% of the
    // source's total ("half the training tokens live in docs shorter
    // than L"). Doc-count percentiles (q64/q79) answer a different
    // question: a corpus can be 90% short docs by count while long
    // docs carry most of the token budget — THIS is the number a
    // context-length or truncation policy actually trades against.
    // Exact integer weighted order statistic: one (source)-keyed
    // window cumsum ordered by (n_chars, doc_id), thresholds as
    // integer cross-multiplications (2·cum ≥ tot, 10·cum ≥ 9·tot) —
    // no doubles, no interpolation ambiguity between engines.
    QueryDef("q144_token_mass_lengths",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val m = Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("source"), col("doc_id"), col("n_chars").as("ch"),
            size(toks).cast("long").as("tok"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("ch"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy(col("source"))
        m.withColumn("cum", sum(col("tok")).over(w))
          .withColumn("tot", sum(col("tok")).over(wt))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            max(col("tot")).as("total_tokens"),
            min(when(col("cum") * 2 >= col("tot"), col("ch")))
              .as("p50_mass_len"),
            min(when(col("cum") * 10 >= col("tot") * 9, col("ch")))
              .as("p90_mass_len"))
          .orderBy(col("source"))
      },
      Some("""WITH m AS (
             |  SELECT source, doc_id, n_chars AS ch,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
             |  FROM documents WHERE text IS NOT NULL),
             |c AS (
             |  SELECT source, ch, tok,
             |    sum(tok) OVER (PARTITION BY source ORDER BY ch, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum,
             |    sum(tok) OVER (PARTITION BY source) AS tot
             |  FROM m)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(max(tot) AS BIGINT) AS total_tokens,
             |  min(CASE WHEN cum * 2 >= tot THEN ch END)
             |    AS p50_mass_len,
             |  min(CASE WHEN cum * 10 >= tot * 9 THEN ch END)
             |    AS p90_mass_len
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // ── Q147: TF-IDF PROBE COSINE — sparse-vector text retrieval, the
    // query-the-corpus shape: score every document against a fixed
    // probe set by weighted-bigram cosine. The scalable formulation is
    // the point: probe vectors are BROADCAST (a query set is small by
    // definition), so the corpus pays one feature scan + one broadcast
    // hash join + one (probe, doc) aggregation — NO corpus self-join
    // (the all-pairs variant is O(Σ df²); the LSH/minhash family
    // already covers that need). The probe set is BOUNDED IN THE
    // OPERATOR, not by data luck: candidates (doc_id % 100 = 7) are
    // capped to the first ProbeCap by the corpus-wide mix64(doc_id)
    // permutation (the q108 cap kernel — a TakeOrdered, never a global
    // sort), so the broadcast is ≤ ProbeCap postings lists at ANY
    // corpus size — at 100 TB "1% of the corpus" is not broadcastable,
    // a capped query set is.
    // Weights stay integer-exact cross-engine: idf is the bit-length
    // of N div df (a log2-quantized idf, length(bin(...)) in both
    // engines — no FP log whose last ulp could flip a rounding), and
    // cos² is reported half-up in ppm from DECIMAL(38,0) products.
    // Exactness envelope: 2·dot²·10⁶ + nw·np must fit DECIMAL(38,0),
    // so the formula is exact while dot and √(nw·np) stay ≤ ~7·10¹⁵
    // (true by orders of magnitude at every tested SF; Spark ANSI-off
    // would NULL past it and DuckDB would raise, so the envelope is
    // load-bearing). Past it, divide dot, nw and np by one common
    // power of two before the ppm step — cos² = dot²/(nw·np) is
    // scale-invariant, so the ratio survives the rescale exactly.
    // At deployment scale the bigram strings would dictionary-encode
    // to int ids before the shuffle; at test SFs the ~930-key
    // vocabulary is the cheap part.
    QueryDef("q147_tfidf_probe_cosine",
      (s, dir) => {
        val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
        val feats = docs.select(col("doc_id"), toks.as("t"))
          .select(col("doc_id"), explode(bigramsOfT).as("b"))
          .groupBy(col("doc_id"), col("b"))
          .agg(count(lit(1)).as("tf"))
        val n = docs.agg(count(lit(1)).as("n"))
        val dfq = feats.groupBy(col("b")).agg(count(lit(1)).as("df"))
        // w itself fits long (≤ tf·34 ≈ 3e5 at N=1e10) — shuffle
        // 8-byte weights; only the PRODUCTS go decimal
        val w = feats.join(dfq, "b").crossJoin(broadcast(n))
          .select(col("doc_id"), col("b"),
            (col("tf") * length(expr("bin(n div df)"))).cast("long").as("w"))
        val nrm = w.groupBy(col("doc_id"))
          .agg(sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("nw"))
        // explicit probe bound: first ProbeCap candidates by the
        // mix64(doc_id) permutation — a TakeOrdered over the tiny
        // candidate filter, so the broadcast stays ≤ ProbeCap
        // postings lists at any corpus size
        val probeIds = docs.filter(col("doc_id") % 100 === 7)
          .select(col("doc_id"),
            unsignedDec(call_function("graft_mix64", col("doc_id"))).as("u"))
          .orderBy(col("u"), col("doc_id")).limit(ProbeCap)
          .select(col("doc_id").as("probe_id"))
        val probes = w.join(broadcast(probeIds),
            col("doc_id") === col("probe_id"))
          .select(col("probe_id"), col("b"), col("w").as("wp"))
        w.join(broadcast(probes), "b")
          .filter(col("doc_id") =!= col("probe_id"))
          .groupBy(col("probe_id"), col("doc_id"))
          .agg(sum(expr("CAST(w AS DECIMAL(38,0)) * wp")).as("dot"))
          .join(nrm, "doc_id")
          .join(broadcast(nrm.join(broadcast(probeIds),
              col("doc_id") === col("probe_id"))
            .select(col("probe_id"), col("nw").as("np"))),
            "probe_id")
          .select(col("probe_id"), col("doc_id"),
            col("dot").cast("long").as("dot_w"),
            expr("CAST((2 * dot * dot * 1000000 + nw * np)"
              + " div (2 * nw * np) AS BIGINT)").as("cos2_ppm"))
          .orderBy(col("cos2_ppm").desc, col("probe_id"), col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH d AS (
             |  SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents WHERE text IS NOT NULL),
             |pc AS (
             |  SELECT doc_id, CAST(doc_id AS HUGEINT) AS z
             |  FROM d WHERE doc_id % 100 = 7),
             |${OracleSql.mix64Ctes("doc_id", "pc", "_p")},
             |pids AS (
             |  SELECT doc_id AS probe_id FROM mixed_p
             |  ORDER BY m, doc_id LIMIT $ProbeCap),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
             |bg AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
             |    i -> t[i] || ' ' || t[i + 1])) AS b
             |  FROM d),
             |tf AS (SELECT doc_id, b, count(*) AS tf FROM bg GROUP BY 1, 2),
             |dfq AS (SELECT b, count(*) AS df FROM tf GROUP BY b),
             |w AS (
             |  SELECT t.doc_id, t.b,
             |    CAST(t.tf AS HUGEINT) * length(bin(n // f.df)) AS w
             |  FROM tf t JOIN dfq f USING (b) CROSS JOIN nn),
             |nrm AS (SELECT doc_id, sum(w * w) AS nw FROM w GROUP BY doc_id),
             |dots AS (
             |  SELECT p.doc_id AS probe_id, c.doc_id, sum(c.w * p.w) AS dot
             |  FROM w c JOIN w p ON p.b = c.b
             |  JOIN pids ON pids.probe_id = p.doc_id
             |  WHERE c.doc_id <> p.doc_id
             |  GROUP BY 1, 2)
             |SELECT probe_id, dots.doc_id, CAST(dot AS BIGINT) AS dot_w,
             |  CAST((2 * dot * dot * 1000000 + a.nw * b.nw)
             |    // (2 * a.nw * b.nw) AS BIGINT) AS cos2_ppm
             |FROM dots
             |JOIN nrm a ON a.doc_id = dots.doc_id
             |JOIN nrm b ON b.doc_id = dots.probe_id
             |ORDER BY cos2_ppm DESC, probe_id, dots.doc_id
             |LIMIT 20""".stripMargin)),

    // ── Q148: CROSS-SOURCE QUANTILE NORMALIZATION — map every doc's
    // n_chars to the CORPUS value at its within-source quantile, the
    // score-calibration step a multi-source recipe needs before
    // length cutoffs mean the same thing everywhere. Scalable shape:
    // the corpus pays one per-source rank window (partitioned — no
    // global sort) and one groupBy(n_chars); the global CDF lives on
    // the tiny distinct-value frame (the q137/q144 trick — bounded by
    // the vocabulary of lengths, not the corpus), and each doc finds
    // its normalized value via a BROADCAST interval join against that
    // frame (cum_prev ≤ p < cum matches exactly one row). Target
    // position p = ((r−1)·(N−1)) div (n_s−1): rank-arithmetic only,
    // no percent_rank doubles, so both engines agree bit-for-bit.
    QueryDef("q148_quantile_normalize",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val m = Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"), col("n_chars").as("ch"))
          .withColumn("r", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("ch"), col("doc_id"))))
          .withColumn("ns", count(lit(1)).over(
            Window.partitionBy(col("source"))))
        val nTot = m.agg(count(lit(1)).as("n_all"))
        // the global CDF is one running sum over the distinct-length
        // domain (523 values at sf0.1), which broadcasts below anyway,
        // so one explicit partition (onePart) is the plan
        val cdf = m.groupBy(col("ch")).agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(
            Window.partitionBy(onePart(col("ch"))).orderBy(col("ch"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("ch").as("v"), (col("cum") - col("cnt")).as("lo"),
            col("cum").as("hi"))
        m.crossJoin(broadcast(nTot))
          // (r−1)·(N−1) as long*long wraps past ~1e10 docs — decimal
          // product per the q117/q122 overflow rule
          .withColumn("p", expr("IF(ns = 1, CAST(0 AS DECIMAL(38,0))," +
            " (CAST(r - 1 AS DECIMAL(38,0)) * (n_all - 1)) div (ns - 1))"))
          .join(broadcast(cdf), col("p") >= col("lo") && col("p") < col("hi"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("v")).as("min_norm"),
            max(col("v")).as("max_norm"),
            sum(col("v")).as("sum_norm"))
          .orderBy(col("source"))
      },
      Some("""WITH m AS (
             |  SELECT doc_id, source, n_chars AS ch,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY n_chars, doc_id) AS r,
             |    count(*) OVER (PARTITION BY source) AS ns,
             |    count(*) OVER () AS n_all
             |  FROM documents WHERE text IS NOT NULL),
             |cdf AS (
             |  SELECT ch AS v,
             |    sum(cnt) OVER (ORDER BY ch) - cnt AS lo,
             |    sum(cnt) OVER (ORDER BY ch) AS hi
             |  FROM (SELECT ch, count(*) AS cnt FROM m GROUP BY ch)),
             |px AS (
             |  SELECT source,
             |    CASE WHEN ns = 1 THEN 0
             |         ELSE (CAST(r - 1 AS HUGEINT) * (n_all - 1))
             |           // (ns - 1) END AS p
             |  FROM m)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  min(v) AS min_norm, max(v) AS max_norm,
             |  CAST(sum(v) AS BIGINT) AS sum_norm
             |FROM px JOIN cdf ON p >= lo AND p < hi
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ── Q149: TEMPERATURE-SCALED SOURCE MIXING — the LLM data-recipe
    // primitive: sampling weights p_s ∝ n_s^τ for τ ∈ {1, ½, ¼}
    // (natural / sqrt / fourth-root smoothing) with the per-source
    // boost over the natural share. One corpus pass (count per
    // source); all recipe math runs on the |sources|·|τ| frame.
    // Exact cross-engine arithmetic: n^½ = floor(sqrt(n)) is stable
    // in IEEE doubles for n < 2⁵² (sqrt is correctly rounded and
    // √n for non-square n sits ≥ 1/(2√n+1) from an integer — far
    // beyond one ulp), n^¼ = isqrt(isqrt(n)) by the nested-floor
    // identity, and shares/boosts are half-up ppm over DECIMAL(38,0)
    // (w·N·10⁶ ≈ 1e26 at N=1e10 docs — exact).
    QueryDef("q149_temperature_mix",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val src = Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val wAll = Window.partitionBy(col("tau_ppm"))
        src.select(col("source"), col("n_docs"),
            explode(array(lit(1000000L), lit(500000L), lit(250000L)))
              .as("tau_ppm"))
          .withColumn("w", expr("CASE tau_ppm WHEN 1000000 THEN n_docs" +
            " WHEN 500000 THEN CAST(floor(sqrt(CAST(n_docs AS DOUBLE)))" +
            " AS BIGINT)" +
            " ELSE CAST(floor(sqrt(floor(sqrt(CAST(n_docs AS DOUBLE)))))" +
            " AS BIGINT) END"))
          .withColumn("tw", sum(col("w")).over(wAll))
          .withColumn("tn", sum(col("n_docs")).over(wAll))
          .select(col("tau_ppm"), col("source"), col("n_docs"), col("w"),
            expr("CAST((2 * CAST(w AS DECIMAL(38,0)) * 1000000 + tw)"
              + " div (2 * CAST(tw AS DECIMAL(38,0))) AS BIGINT)")
              .as("share_ppm"),
            expr("CAST((2 * CAST(w AS DECIMAL(38,0)) * tn * 1000000"
              + " + CAST(tw AS DECIMAL(38,0)) * n_docs)"
              + " div (2 * CAST(tw AS DECIMAL(38,0)) * n_docs)"
              + " AS BIGINT)").as("boost_ppm"))
          .orderBy(col("tau_ppm"), col("source"))
      },
      Some("""WITH src AS (
             |  SELECT source, count(*) AS n_docs FROM documents
             |  WHERE text IS NOT NULL GROUP BY source),
             |g AS (
             |  SELECT source, n_docs, tau_ppm,
             |    CASE tau_ppm WHEN 1000000 THEN n_docs
             |      WHEN 500000 THEN
             |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)
             |      ELSE CAST(floor(sqrt(floor(sqrt(
             |        CAST(n_docs AS DOUBLE))))) AS BIGINT) END AS w
             |  FROM src, unnest([1000000, 500000, 250000]) AS t(tau_ppm)),
             |tot AS (
             |  SELECT *, sum(w) OVER (PARTITION BY tau_ppm) AS tw,
             |    sum(n_docs) OVER (PARTITION BY tau_ppm) AS tn
             |  FROM g)
             |SELECT CAST(tau_ppm AS BIGINT) AS tau_ppm, source,
             |  n_docs, w,
             |  CAST((2 * CAST(w AS HUGEINT) * 1000000 + tw)
             |    // (2 * CAST(tw AS HUGEINT)) AS BIGINT) AS share_ppm,
             |  CAST((2 * CAST(w AS HUGEINT) * tn * 1000000
             |      + CAST(tw AS HUGEINT) * n_docs)
             |    // (2 * CAST(tw AS HUGEINT) * n_docs) AS BIGINT)
             |    AS boost_ppm
             |FROM tot ORDER BY tau_ppm, source""".stripMargin)),

    // ── Q150: CONTEXT-WINDOW CHUNKING — the RAG/embedding-ingest
    // splitter: 64-token chunks at stride 48 (16-token overlap),
    // 1→N per doc via an in-plan sequence explode (no UDF, no
    // driver loop; the multimodal q61 frame-sample shape applied to
    // text). Reports, per source, the chunk inventory a pipeline
    // budgets by: chunk count, token mass INCLUDING overlap (what
    // the embedding bill actually charges — overlap_ppm pins the
    // stride tax), and distinct chunk texts (chunk-granularity
    // dedup: boilerplate repeats at chunk level even when docs
    // differ — at deployment scale the distinct would run on
    // 8-byte chunk hashes / a sketch, q101's territory; the exact
    // string distinct here keeps the oracle bit-checkable). Chunk
    // boundaries are pure integer arithmetic — ceil-div chunk
    // counts, slice windows — identical in both engines.
    QueryDef("q150_context_chunks",
      (s, dir) => {
        val C = 64
        val S = 48
        val d = Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("source"), col("doc_id"), toks.as("t"))
          .withColumn("nt", size(col("t")).cast("long"))
          .filter(col("nt") >= 1)
          .withColumn("nch", expr(s"IF(nt <= $C, 1L," +
            s" (nt - $C + ${S - 1}) div $S + 1)"))
        val docAgg = d.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("nt_sum"))
        d.select(col("source"), col("doc_id"), col("t"), col("nt"),
            explode(expr("sequence(0L, nch - 1)")).as("i"))
          .select(col("source"),
            expr(s"array_join(slice(t, CAST(i * $S + 1 AS INT), $C), ' ')")
              .as("chunk"),
            least(lit(C.toLong), col("nt") - col("i") * S).as("ct"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("ct")).as("tok_mass"),
            countDistinct(col("chunk")).as("n_uniq_chunks"))
          .join(broadcast(docAgg), "source")
          .select(col("source"), col("n_docs"), col("n_chunks"),
            col("tok_mass"), col("n_uniq_chunks"),
            // overlap tax: (mass − corpus tokens)/corpus tokens, half-up
            // ppm in DECIMAL (mass·10⁶ passes int64 at ~9e12 tokens)
            expr("CAST((2 * CAST(tok_mass - nt_sum AS DECIMAL(38,0))"
              + " * 1000000 + nt_sum)"
              + " div (2 * CAST(nt_sum AS DECIMAL(38,0))) AS BIGINT)")
              .as("overlap_ppm"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (
             |  SELECT source, doc_id, string_split(text, ' ') AS t
             |  FROM documents WHERE text IS NOT NULL),
             |d2 AS (
             |  SELECT source, doc_id, t, CAST(len(t) AS BIGINT) AS nt,
             |    CASE WHEN len(t) <= 64 THEN 1
             |         ELSE (len(t) - 64 + 47) // 48 + 1 END AS nch
             |  FROM d WHERE len(t) >= 1),
             |ch AS (
             |  SELECT source,
             |    array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ') AS chunk,
             |    least(64, nt - i * 48) AS ct
             |  FROM d2, unnest(range(0, nch)) AS u(i)),
             |da AS (
             |  SELECT source, count(*) AS n_docs, sum(nt) AS nt_sum
             |  FROM d2 GROUP BY source),
             |ca AS (
             |  SELECT source, count(*) AS n_chunks, sum(ct) AS tok_mass,
             |    count(DISTINCT chunk) AS n_uniq_chunks
             |  FROM ch GROUP BY source)
             |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_chunks AS BIGINT) AS n_chunks,
             |  CAST(tok_mass AS BIGINT) AS tok_mass,
             |  CAST(n_uniq_chunks AS BIGINT) AS n_uniq_chunks,
             |  CAST((2 * CAST(tok_mass - nt_sum AS HUGEINT) * 1000000
             |      + nt_sum)
             |    // (2 * CAST(nt_sum AS HUGEINT)) AS BIGINT)
             |    AS overlap_ppm
             |FROM ca JOIN da USING (source)
             |ORDER BY source""".stripMargin)),

    // ── Q154: SEQUENCE-PACKING CENSUS — the GPT-style pretraining
    // packer's budget sheet: documents are concatenated in a
    // deterministic mix64(doc_id)-shuffled order and CUT every
    // B = 256 tokens into fixed-length training sequences. Packing is
    // per (source, shard) with shard = mix64(doc_id) mod 8 — exactly
    // how a real pipeline packs (each writer/worker packs its own
    // shard independently; a single global concatenation order would
    // serialize the corpus through one task). Reports, per source,
    // what the recipe budgets by: docs packed, token mass, packed
    // sequences produced (Σ per-shard ceil(tokens/B)), documents cut
    // by a sequence boundary (the attention-contamination count
    // packing-with-masking must handle), and fill ratio in half-up
    // ppm (1e6 − fill = the padding tax of the shards' last bins).
    //
    // 100 TB shape: ONE corpus shuffle on (source, shard) feeds both
    // the running-sum window and the per-shard aggregate (the groupBy
    // reuses the window's partitioning — no second corpus exchange);
    // the per-shard cumsum is sequential only WITHIN a shard, and
    // SHARDS is the deployment's parallelism knob (8 here keeps the
    // oracle window tractable; a cluster run sizes it to cores, the
    // hash shard key keeps it skew-free whatever the source mix).
    // The census is |sources| × |shards| rows — dimension-sized.
    // All arithmetic is integer (ceil-div, boundary compare, half-up
    // ppm in DECIMAL) — identical in both engines; the mix64 order
    // key compares as u64 on both sides (unsignedDec / HUGEINT m).
    QueryDef("q154_sequence_packing",
      (s, dir) => {
        val B = 256L
        val m = call_function("graft_mix64", col("doc_id"))
        val d = Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("source"), col("doc_id"),
            size(toks).cast("long").as("nt"))
          .filter(col("nt") >= 1)
          .withColumn("shard", pmod(m, lit(8L)))
          .withColumn("u", unsignedDec(m))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), col("shard"))
          .orderBy(col("u"), col("doc_id"))
          .rowsBetween(Long.MinValue, -1)
        val packed = d
          .withColumn("cb", coalesce(sum(col("nt")).over(w), lit(0L)))
          .withColumn("straddle",
            when(expr(s"cb div $B") =!= expr(s"(cb + nt - 1) div $B"),
              1L).otherwise(0L))
        packed.groupBy(col("source"), col("shard"))
          .agg(count(lit(1)).as("nd"), sum(col("nt")).as("st"),
            sum(col("straddle")).as("ns"))
          .groupBy(col("source"))
          .agg(sum(col("nd")).as("n_docs"),
            sum(col("st")).as("tok_mass"),
            sum(expr(s"(st + ${B - 1}) div $B")).as("n_seqs"),
            sum(col("ns")).as("n_cut_docs"))
          .select(col("source"), col("n_docs"), col("tok_mass"),
            col("n_seqs"), col("n_cut_docs"),
            expr(s"CAST((2 * CAST(tok_mass AS DECIMAL(38,0)) * 1000000"
              + s" + n_seqs * $B)"
              + s" div (2 * CAST(n_seqs AS DECIMAL(38,0)) * $B)"
              + " AS BIGINT)").as("fill_ppm"))
          .orderBy(col("source"))
      },
      Some(s"""WITH d0 AS (
              |  SELECT source, doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
              |  FROM documents WHERE text IS NOT NULL),
              |h0 AS (
              |  SELECT source, doc_id, nt, CAST(doc_id AS HUGEINT) AS z
              |  FROM d0 WHERE nt >= 1),
              |${OracleSql.mix64Ctes("source, doc_id, nt", "h0")},
              |sd AS (
              |  SELECT source, doc_id, nt, m % 8 AS shard, m FROM mixed),
              |cums AS (
              |  SELECT source, shard, nt,
              |    coalesce(sum(nt) OVER (PARTITION BY source, shard
              |      ORDER BY m, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      0) AS cb
              |  FROM sd),
              |sh AS (
              |  SELECT source, shard, count(*) AS nd, sum(nt) AS st,
              |    sum(CASE WHEN cb // 256 <> (cb + nt - 1) // 256
              |        THEN 1 ELSE 0 END) AS ns
              |  FROM cums GROUP BY source, shard)
              |SELECT source, CAST(sum(nd) AS BIGINT) AS n_docs,
              |  CAST(sum(st) AS BIGINT) AS tok_mass,
              |  CAST(sum((st + 255) // 256) AS BIGINT) AS n_seqs,
              |  CAST(sum(ns) AS BIGINT) AS n_cut_docs,
              |  CAST((2 * CAST(sum(st) AS HUGEINT) * 1000000
              |      + sum((st + 255) // 256) * 256)
              |    // (2 * CAST(sum((st + 255) // 256) AS HUGEINT) * 256)
              |    AS BIGINT) AS fill_ppm
              |FROM sh GROUP BY source ORDER BY source""".stripMargin)))

  /** OLS sufficient statistics + ppm slope/intercept over a
    * (source, x: long, y: long) frame — the q136 kernel, extracted so
    * OverflowSpec can drive it with synthetic values past int64
    * territory. Every sum AND every downstream product is
    * DECIMAL(38,0): as long*long, sx*sy wraps silently (ANSI off)
    * once a source's token sum passes ~3e9. The decimal aggregates
    * carry `_d` names distinct from the long report aliases, so the
    * slope/intercept expressions can never rebind to the down-cast
    * columns whatever lateral-column-alias precedence a future Spark
    * picks (round-8 advice, hardened round 9; today's resolution was
    * verified correct — child output wins over lateral aliases).
    * Slope/intercept share the Cramer denominator n·Σx² − (Σx)² and
    * report half-up ppm via `x div y` (truncating integral division
    * after adding half the denominator — exact for the non-negative
    * numerators OLS produces on count data).
    */
  private[graft] def olsSufficientStats(
      xy: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    xy.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx_d"),
        sum(col("y").cast("decimal(38,0)")).as("sy_d"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx_d"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy_d"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy_d"))
      .select(col("source"), col("n"),
        col("sx_d").cast("long").as("sx"),
        col("sy_d").cast("long").as("sy"),
        col("sxx_d").cast("long").as("sxx"),
        col("sxy_d").cast("long").as("sxy"),
        col("syy_d").cast("long").as("syy"),
        expr("CAST((2 * (CAST(n AS DECIMAL(38,0)) * sxy_d - sx_d * sy_d)"
          + " * 1000000 + (CAST(n AS DECIMAL(38,0)) * sxx_d"
          + " - sx_d * sx_d))"
          + " div (2 * nullif(CAST(n AS DECIMAL(38,0)) * sxx_d"
          + " - sx_d * sx_d, 0)) AS BIGINT)").as("slope_ppm"),
        expr("CAST((2 * (CAST(sy_d AS DECIMAL(38,0)) * sxx_d"
          + " - sx_d * sxy_d)"
          + " * 1000000 + (CAST(n AS DECIMAL(38,0)) * sxx_d"
          + " - sx_d * sx_d))"
          + " div (2 * nullif(CAST(n AS DECIMAL(38,0)) * sxx_d"
          + " - sx_d * sx_d, 0)) AS BIGINT)").as("icept_ppm"))
}
