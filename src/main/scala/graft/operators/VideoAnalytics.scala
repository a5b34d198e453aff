package graft.operators

import graft.model.CocoClasses
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational twins of the reference's video dataflow capabilities
  * (SURVEY.md §2, §7.1), run over the driver's `events`/`lineitem`
  * tables (FIXTURES.md §B capability mapping: user_id ≈ streamId,
  * ts ≈ frame timestamp):
  *
  *  - 3-minute tumbling segmentation (ref op D1, VideoSegmentBuffer
  *    semantics) → `groupBy(key, window(ts, "3 minutes"))`.
  *  - keyframe time rule (ref op D2, KeyFrameExtractor.java:57-61)
  *    → `lag` gap predicate over an event-time window.
  *  - detection explode + Doris-row projection (ref ops F/G,
  *    DorisSinkBuilder.java:100-124) → explode/to flat columns +
  *    date_format.
  *  - NMS analog (ref YOLODetector.java:289-322) → rank window
  *    partitioned by (frame, class) ordered confidence-desc.
  *
  * A detections-shaped table is derived DETERMINISTICALLY from
  * `lineitem` with arithmetic reproducible in ANSI SQL, so every query
  * here has an exact DuckDB oracle.
  */
object VideoAnalytics {

  /** Derived detections: one row per (frame, detection). All columns are
    * pure integer/double arithmetic over lineitem so the DuckDB oracle
    * (cte below) produces bit-identical values.
    */
  def detections(s: SparkSession, dir: String): DataFrame = {
    val coco = array(CocoClasses.names.map(lit).toIndexedSeq: _*)
    Tables.lineitem(s, dir).select(
      col("l_orderkey").as("frame_id"),
      concat(lit("camera_"), (col("l_suppkey") % 10).cast("string"))
        .as("stream_id"),
      col("l_shipdate").as("ts"),
      col("l_linenumber").as("det_id"),
      element_at(coco, (col("l_partkey") % 80).cast("int") + 1)
        .as("object_class"),
      (((col("l_partkey") * 7 + col("l_linenumber") * 13) % 100)
        .cast("double") / 100.0).as("confidence"),
      (col("l_partkey") % 320).cast("double").as("x1"),
      (col("l_suppkey") % 320).cast("double").as("y1"),
      ((col("l_partkey") % 320).cast("double") + 64.0
        + col("l_linenumber") * 3).as("x2"),
      ((col("l_suppkey") % 320).cast("double") + 48.0
        + (col("l_orderkey") % 5).cast("double") * 7).as("y2"))
  }

  /** DuckDB CTE matching [[detections]] exactly. */
  val detectionsCte: String = {
    val cocoList = CocoClasses.names.map(n => s"'$n'").mkString("[", ", ", "]")
    s"""WITH detections AS (
       |  SELECT
       |    l_orderkey AS frame_id,
       |    'camera_' || CAST(l_suppkey % 10 AS VARCHAR) AS stream_id,
       |    l_shipdate AS ts,
       |    l_linenumber AS det_id,
       |    ($cocoList)[CAST(l_partkey % 80 AS INT) + 1] AS object_class,
       |    CAST((l_partkey * 7 + l_linenumber * 13) % 100 AS DOUBLE) / 100.0 AS confidence,
       |    CAST(l_partkey % 320 AS DOUBLE) AS x1,
       |    CAST(l_suppkey % 320 AS DOUBLE) AS y1,
       |    CAST(l_partkey % 320 AS DOUBLE) + 64.0 + l_linenumber * 3 AS x2,
       |    CAST(l_suppkey % 320 AS DOUBLE) + 48.0 + CAST(l_orderkey % 5 AS DOUBLE) * 7 AS y2
       |  FROM lineitem)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ── Q10: 3-minute tumbling segmentation (ref segment cadence,
    // application.properties:34). Keys are (stream, window-start);
    // the agg is partial-aggregated map-side before the single shuffle.
    QueryDef("q10_segments_tumbling",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"),
          window(col("ts"), "3 minutes").getField("start").as("seg_start"))
        .agg(count(lit(1)).as("frame_count"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"),
          (unix_millis(max(col("ts"))) - unix_millis(min(col("ts"))))
            .as("duration_ms"))
        .select(col("user_id"), unix_timestamp(col("seg_start")).as("seg_start_s"),
          col("frame_count"), col("first_event"), col("last_event"),
          col("duration_ms"))
        .orderBy(col("user_id"), col("seg_start_s")),
      Some("""SELECT user_id,
             |  CAST(floor(epoch(ts) / 180) AS BIGINT) * 180 AS seg_start_s,
             |  count(*) AS frame_count,
             |  min(event_id) AS first_event,
             |  max(event_id) AS last_event,
             |  epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
             |FROM events
             |GROUP BY user_id, seg_start_s
             |ORDER BY user_id, seg_start_s""".stripMargin)),

    // ── Q11: keyframe time rule — event is a "keyframe" iff ≥ 6h since
    // the previous event of the same stream (ref rule is ≥5s between
    // frames, KeyFrameExtractor.java:57-61; the threshold scales to the
    // events table's cadence, the predicate shape is identical).
    QueryDef("q11_keyframe_gap",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("gap_s",
            when(col("prev_ts").isNull, lit(null))
              .otherwise(unix_millis(col("ts")) / 1000.0
                - unix_millis(col("prev_ts")) / 1000.0))
          .filter(col("prev_ts").isNull || col("gap_s") >= 21600.0)
          .select(col("user_id"), col("event_id"),
            unix_millis(col("ts")).as("ts_ms"),
            round(coalesce(col("gap_s"), lit(-1.0)), 3).as("gap_s"))
          .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events)
             |SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
             |  round(coalesce((epoch_ms(ts) - epoch_ms(prev_ts)) / 1000.0, -1.0), 3) AS gap_s
             |FROM g
             |WHERE prev_ts IS NULL
             |   OR (epoch_ms(ts) / 1000.0 - epoch_ms(prev_ts) / 1000.0) >= 21600.0
             |ORDER BY user_id, ts_ms, event_id""".stripMargin)),

    // ── Q12: explode round-trip (ref op F is explode-in-disguise):
    // pack detections into per-frame arrays, then explode + flatten.
    // The oracle is the direct projection — proving the generator
    // (collect_list → explode) is lossless.
    QueryDef("q12_detections_explode",
      (s, dir) => {
        val d = detections(s, dir)
        d.groupBy(col("frame_id"))
          .agg(collect_list(struct(col("det_id"), col("object_class"),
            col("confidence"))).as("dets"))
          .select(col("frame_id"), explode(col("dets")).as("d"))
          .select(col("frame_id"), col("d.det_id").as("det_id"),
            col("d.object_class").as("object_class"),
            col("d.confidence").as("confidence"))
          .orderBy(col("frame_id"), col("det_id"))
      },
      Some(s"""$detectionsCte
              |SELECT frame_id, det_id, object_class, confidence
              |FROM detections
              |ORDER BY frame_id, det_id""".stripMargin)),

    // ── Q13: Doris-row projection (ref DorisSinkBuilder.java:109-120
    // field names + date format; confidence filter = ref threshold 0.5).
    QueryDef("q13_doris_rows",
      (s, dir) => detections(s, dir)
        .filter(col("confidence") >= 0.5)
        .select(col("stream_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("detection_time"),
          col("frame_id"), col("det_id"), col("object_class"),
          col("confidence"),
          col("x1").as("bbox_x1"), col("y1").as("bbox_y1"),
          col("x2").as("bbox_x2"), col("y2").as("bbox_y2"),
          lit("").as("frame_url"))
        .orderBy(col("frame_id"), col("det_id")),
      Some(s"""$detectionsCte
              |SELECT stream_id,
              |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS detection_time,
              |  frame_id, det_id, object_class, confidence,
              |  x1 AS bbox_x1, y1 AS bbox_y1, x2 AS bbox_x2, y2 AS bbox_y2,
              |  '' AS frame_url
              |FROM detections
              |WHERE confidence >= 0.5
              |ORDER BY frame_id, det_id""".stripMargin)),

    // ── Q14: NMS-rank analog — keep the best detection per
    // (frame, class), confidence-desc with stable det_id tiebreak
    // (ref sort at YOLODetector.java:294). Implemented as an argmax
    // aggregation — max(struct(confidence, -det_id)) is lexicographic,
    // so ties resolve to the smallest det_id — rather than a
    // row_number window: the agg partial-combines map-side and never
    // sorts partitions, where the window shape sorts every group's
    // rows and hotspots on skewed (frame, class) keys at scale. (The
    // generic window form is exercised by q15's top-k.)
    QueryDef("q14_nms_rank",
      (s, dir) => {
        val best = max(struct(col("confidence"), (-col("det_id")).as("neg_det")))
          .as("best")
        detections(s, dir)
          .groupBy(col("frame_id"), col("object_class"))
          .agg(best)
          .select(col("frame_id"), col("object_class"),
            col("best.confidence").as("confidence"),
            (-col("best.neg_det")).cast("int").as("det_id"))
          .orderBy(col("frame_id"), col("object_class"))
      },
      Some(s"""$detectionsCte
              |SELECT frame_id, object_class, confidence, det_id FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY frame_id, object_class
              |    ORDER BY confidence DESC, det_id) AS rank
              |  FROM detections)
              |WHERE rank = 1
              |ORDER BY frame_id, object_class""".stripMargin)),

    // ── Q15: top-3 detections per stream — the custom TopKPerKey
    // operator (graft.plans): bounded k-heaps on both sides of one
    // hash exchange, so the shuffle carries ≤ k rows per (key,
    // partition) and no group is ever fully sorted. Semantics equal
    // row_number() ≤ k (asserted in TopKPerKeySpec); the oracle runs
    // the window form.
    QueryDef("q15_topk_per_stream",
      (s, dir) => graft.plans.TopK.perKey(
          detections(s, dir).select(col("stream_id"), col("confidence"),
            col("frame_id"), col("det_id")),
          Seq("stream_id"),
          Seq(("confidence", false), ("frame_id", true), ("det_id", true)),
          k = 3)
        .select(col("stream_id"), col("rn"), col("frame_id"),
          col("det_id"), col("confidence"))
        .orderBy(col("stream_id"), col("rn")),
      Some(s"""$detectionsCte
              |SELECT stream_id, CAST(rn AS INT) AS rn, frame_id, det_id,
              |  confidence FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY stream_id
              |    ORDER BY confidence DESC, frame_id, det_id) AS rn
              |  FROM detections)
              |WHERE rn <= 3
              |ORDER BY stream_id, rn""".stripMargin)),

    // ── Q72: argmax WITH ties — all detections tied for the best
    // confidence per (stream, class), via the standard `rank() = 1`
    // window idiom. The engine substitutes the keep-ties mode of the
    // custom TopKPerKey operator (TopKRewriteRule): per-key state is
    // the tie group itself, bounded heaps on both sides of one hash
    // exchange, no per-group sort — where row_number() = 1 (q14)
    // picks an arbitrary winner, rank() = 1 keeps every tied row,
    // which is the shape dedup keeper-selection and label-vote ops
    // actually need. Confidences are 2-decimal rationals, so tie
    // groups are real (and the oracle's rank() agrees exactly —
    // no FP comparison ambiguity).
    QueryDef("q72_argmax_ties",
      (s, dir) => {
        val w = Window.partitionBy(col("stream_id"), col("object_class"))
          .orderBy(col("confidence").desc)
        detections(s, dir)
          .select(col("stream_id"), col("object_class"), col("det_id"),
            col("confidence"))
          .withColumn("rn", rank().over(w))
          .filter(col("rn") === 1)
          .orderBy(col("stream_id"), col("object_class"), col("det_id"))
      },
      Some(s"""$detectionsCte
              |SELECT stream_id, object_class, det_id, confidence,
              |  CAST(rn AS INT) AS rn FROM (
              |  SELECT stream_id, object_class, det_id, confidence,
              |    rank() OVER (PARTITION BY stream_id, object_class
              |                 ORDER BY confidence DESC) AS rn
              |  FROM detections)
              |WHERE rn = 1
              |ORDER BY stream_id, object_class, det_id""".stripMargin)),

    // ── Q91: bounded top-k WITH ties — the k > 1 generalization of
    // q72: every detection ranked ≤ 3 by confidence per (stream,
    // class), written as the standard `rank() <= 3` window idiom.
    // TopKRewriteRule substitutes the RankTies mode of TopKPerKey:
    // per-key state is 3 distinct confidence values' tie groups
    // (output-bounded, ≤ 2 rows + the boundary tie group), bounded on
    // both sides of one hash exchange, no per-group sort — the
    // relationalized shape of the reference's NMS confidence ranking
    // (YOLODetector.java:294 keeps a confidence-ordered candidate
    // list per class; rank <= k is its "best k candidates" read).
    // rank()'s numbering is deterministic under ties (tied rows share
    // a rank, gaps after), so the oracle agrees exactly with no
    // tiebreak column.
    QueryDef("q91_rank_topk_ties",
      (s, dir) => {
        val w = Window.partitionBy(col("stream_id"), col("object_class"))
          .orderBy(col("confidence").desc)
        detections(s, dir)
          .select(col("stream_id"), col("object_class"), col("det_id"),
            col("confidence"))
          .withColumn("rn", rank().over(w))
          .filter(col("rn") <= 3)
          .orderBy(col("stream_id"), col("object_class"), col("det_id"))
      },
      Some(s"""$detectionsCte
              |SELECT stream_id, object_class, det_id, confidence,
              |  CAST(rn AS INT) AS rn FROM (
              |  SELECT stream_id, object_class, det_id, confidence,
              |    rank() OVER (PARTITION BY stream_id, object_class
              |                 ORDER BY confidence DESC) AS rn
              |  FROM detections)
              |WHERE rn <= 3
              |ORDER BY stream_id, object_class, det_id""".stripMargin)),

    // ── Q16: per-class histogram (ref metric: detections by class).
    // confidence values are exact 2-decimal rationals (k/100), so the
    // mean is summed as int64 centi-units and rounded half-up to 4
    // decimals in integer arithmetic — order-independent in both
    // engines (double avg + round() flips ties engine-dependently).
    QueryDef("q16_class_histogram",
      (s, dir) => detections(s, dir)
        .filter(col("confidence") >= 0.5)
        .select(col("object_class"),
          round(col("confidence") * 100).cast("long").as("cc"))
        .groupBy(col("object_class"))
        .agg(count(lit(1)).as("n"), sum(col("cc")).as("sc"))
        .select(col("object_class"), col("n"),
          (expr("(2 * sc * 100 + n) div (2 * n)").cast("double") / 10000.0)
            .as("avg_conf"))
        .orderBy(col("object_class")),
      Some(s"""$detectionsCte
              |SELECT object_class, n,
              |  CAST((2 * sc * 100 + n) // (2 * n) AS DOUBLE) / 10000.0 AS avg_conf
              |FROM (
              |  SELECT object_class, count(*) AS n,
              |    sum(CAST(round(confidence * 100) AS BIGINT)) AS sc
              |  FROM detections WHERE confidence >= 0.5
              |  GROUP BY object_class)
              |ORDER BY object_class""".stripMargin)),

    // ── Q17: IoU theta-join — same-frame same-class box pairs with
    // IoU above the NMS threshold (ref IoU math,
    // YOLODetector.java:324-336, as pure column arithmetic).
    QueryDef("q17_iou_pairs",
      (s, dir) => {
        val d = detections(s, dir)
        val a = d.select(col("frame_id"), col("object_class"),
          col("det_id").as("det_a"), col("x1").as("ax1"), col("y1").as("ay1"),
          col("x2").as("ax2"), col("y2").as("ay2"))
        val b = d.select(col("frame_id").as("frame_id_b"),
          col("object_class").as("object_class_b"),
          col("det_id").as("det_b"), col("x1").as("bx1"), col("y1").as("by1"),
          col("x2").as("bx2"), col("y2").as("by2"))
        val joined = a.join(b,
          col("frame_id") === col("frame_id_b") &&
            col("object_class") === col("object_class_b") &&
            col("det_a") < col("det_b"))
        val iw = greatest(lit(0.0),
          least(col("ax2"), col("bx2")) - greatest(col("ax1"), col("bx1")))
        val ih = greatest(lit(0.0),
          least(col("ay2"), col("by2")) - greatest(col("ay1"), col("by1")))
        val inter = iw * ih
        val areaA = (col("ax2") - col("ax1")) * (col("ay2") - col("ay1"))
        val areaB = (col("bx2") - col("bx1")) * (col("by2") - col("by1"))
        val iou = inter / (areaA + areaB - inter)
        joined.select(col("frame_id"), col("object_class"), col("det_a"),
          col("det_b"), iou.as("iou"))
          .filter(col("iou") > 0.45)
          .orderBy(col("frame_id"), col("det_a"), col("det_b"))
      },
      Some(s"""$detectionsCte,
              |pairs AS (
              |  SELECT a.frame_id, a.object_class, a.det_id AS det_a, b.det_id AS det_b,
              |    greatest(0.0, least(a.x2, b.x2) - greatest(a.x1, b.x1))
              |      * greatest(0.0, least(a.y2, b.y2) - greatest(a.y1, b.y1)) AS inter,
              |    (a.x2 - a.x1) * (a.y2 - a.y1) AS area_a,
              |    (b.x2 - b.x1) * (b.y2 - b.y1) AS area_b
              |  FROM detections a JOIN detections b
              |    ON a.frame_id = b.frame_id AND a.object_class = b.object_class
              |   AND a.det_id < b.det_id)
              |SELECT frame_id, object_class, det_a, det_b,
              |  inter / (area_a + area_b - inter) AS iou
              |FROM pairs
              |WHERE inter / (area_a + area_b - inter) > 0.45
              |ORDER BY frame_id, det_a, det_b""".stripMargin)),

    // ── Q27: sketch-based distinct — a deterministic 256-register
    // HyperLogLog (the q101 formula: j = top 8 bits of mix64, rho =
    // leading-zero rank of the low 56, harmonic estimate with
    // alpha_256 = 0.7123/1.04^2... folded into one exact integer
    // ratio) beside the exact count. At 100 TB the sketch is the only
    // shuffle-light option for high-cardinality distincts: the
    // (stream, register) max-merge is map-side combined to ≤ 256 rows
    // per stream per task, one pass, mergeable. Rounds 1-7 used
    // Spark's approx_count_distinct, whose HLL++ internals are
    // engine-specific (rows-only check); the repo's own register
    // replay is bit-equal in DuckDB, upgrading q27 to a full oracle —
    // and unlike q101 it max-merges RAW rows (no pre-distinct:
    // register maxima are idempotent under duplicates).
    QueryDef("q27_approx_distinct",
      (s, dir) => {
        val dec38 = org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 0)
        val d = detections(s, dir)
        val base = d.groupBy(col("stream_id"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("frame_id")).as("n_exact"))
        val regs = d
          .select(col("stream_id"),
            call_function("graft_mix64", col("frame_id")).as("h"))
          .select(col("stream_id"),
            shiftrightunsigned(col("h"), 56).as("j"),
            col("h").bitwiseAND(lit(0xFFFFFFFFFFFFFFL)).as("w"))
          .select(col("stream_id"), col("j"),
            when(col("w") === 0, lit(57))
              .otherwise(lit(57) - char_length(bin(col("w")))).as("rho"))
          .groupBy(col("stream_id"), col("j"))
          .agg(max(col("rho")).as("rho"))
        val sk = regs.groupBy(col("stream_id"))
          .agg(count(lit(1)).as("regs_hit"),
            sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 57 - rho)"
              + " AS DECIMAL(38,0))")).as("t_hit"))
        val two57 = lit(new java.math.BigDecimal("144115188075855872"))
          .cast(dec38)
        base.join(sk, Seq("stream_id"))
          .select(col("stream_id"), col("n_rows"), col("n_exact"),
            col("regs_hit"),
            (col("t_hit")
              + (lit(256L) - col("regs_hit")).cast(dec38) * two57)
              .as("t_total"))
          .select(col("stream_id"), col("n_rows"), col("n_exact"),
            col("regs_hit"),
            expr("CAST(8719981936880320237155647488 AS DECIMAL(38,0))"
              + " div (1285395 * t_total)").as("est_hll"))
          .orderBy(col("stream_id"))
      },
      Some(s"""$detectionsCte,
              |h0 AS (SELECT stream_id, CAST(frame_id AS HUGEINT) AS z
              |  FROM detections),
              |${OracleSql.mix64Ctes("stream_id", "h0")},
              |reg AS (
              |  SELECT stream_id,
              |    m // CAST(72057594037927936 AS HUGEINT) AS j,
              |    CAST(m % CAST(72057594037927936 AS HUGEINT) AS BIGINT)
              |      AS w
              |  FROM mixed),
              |mr AS (
              |  SELECT stream_id, j,
              |    max(CASE WHEN w = 0 THEN 57
              |        ELSE 57 - length(bin(w)) END) AS rho
              |  FROM reg GROUP BY stream_id, j),
              |agg AS (
              |  SELECT stream_id, count(*) AS regs_hit,
              |    sum(CAST(1 AS HUGEINT) << (57 - rho)) AS t_hit
              |  FROM mr GROUP BY stream_id),
              |ex AS (
              |  SELECT stream_id, count(*) AS n_rows,
              |    count(DISTINCT frame_id) AS n_exact
              |  FROM detections GROUP BY stream_id)
              |SELECT e.stream_id, CAST(e.n_rows AS BIGINT) AS n_rows,
              |  CAST(e.n_exact AS BIGINT) AS n_exact,
              |  CAST(a.regs_hit AS BIGINT) AS regs_hit,
              |  CAST(CAST(8719981936880320237155647488 AS HUGEINT)
              |    // (1285395 * (a.t_hit
              |        + (256 - a.regs_hit) * (CAST(1 AS HUGEINT) << 57)))
              |    AS BIGINT) AS est_hll
              |FROM ex e JOIN agg a ON e.stream_id = a.stream_id
              |ORDER BY e.stream_id""".stripMargin)),

    // ── Q28: per-class confidence histogram via a custom typed
    // Aggregator (functions/HistogramAgg — the Aggregator[IN,BUF,OUT]
    // UDAF surface): O(bins) buffer, associative merge, map-side
    // partial agg. Bin counts are integers, so the DuckDB oracle is
    // exact (floor-binning matches toInt truncation for v ≥ 0).
    QueryDef("q28_conf_histogram",
      (s, dir) => {
        val hist = udaf(graft.functions.HistogramAgg(10, 0.0, 1.0))
        detections(s, dir)
          .groupBy(col("object_class"))
          .agg(hist(col("confidence")).as("bins"))
          .select(col("object_class"),
            posexplode(col("bins")).as(Seq("bin", "n")))
          .filter(col("n") > 0)
          .orderBy(col("object_class"), col("bin"))
      },
      Some(s"""$detectionsCte
              |SELECT object_class,
              |  CAST(least(9, greatest(0,
              |    CAST(floor(confidence * 10) AS INT))) AS INT) AS bin,
              |  count(*) AS n
              |FROM detections
              |WHERE NOT isnan(confidence)
              |GROUP BY object_class, bin
              |ORDER BY object_class, bin""".stripMargin)),

    // ── Q18: daily per-stream activity rollup (ref OSS object-key
    // scheme partitions by stream/date/hour, OSSVideoSink.java:48-57).
    QueryDef("q18_stream_day_rollup",
      (s, dir) => detections(s, dir)
        .groupBy(col("stream_id"),
          date_format(col("ts"), "yyyyMMdd").as("day"))
        .agg(count(lit(1)).as("n_detections"),
          countDistinct(col("frame_id")).as("n_frames"))
        .orderBy(col("stream_id"), col("day")),
      Some(s"""$detectionsCte
              |SELECT stream_id, strftime(ts, '%Y%m%d') AS day,
              |  count(*) AS n_detections,
              |  count(DISTINCT frame_id) AS n_frames
              |FROM detections
              |GROUP BY stream_id, day
              |ORDER BY stream_id, day""".stripMargin)),

    // ── Q29 (the previously unassigned number): class CO-OCCURRENCE —
    // which object classes appear together in the same frame more
    // than their individual frequencies predict (integer lift, the
    // q59 collocation rationale applied to detections): the
    // scene-composition signal behind co-occurrence-aware sampling
    // and anomaly rules ("a boat and a traffic light in one frame").
    //
    // 100 TB shape: ONE frame-keyed exchange folds each frame's
    // distinct class set (bounded by the 80-class vocabulary), then
    // pairs are enumerated IN-ARRAY from the sorted set (the q143
    // audience-overlap / q134 wedge kernel: ≤ C(|classes|, 2) rows
    // per frame, no frame-keyed self-join — the former self-join paid
    // a second exchange plus a per-frame quadratic probe). Supports
    // and the frame total are projections of the SAME checkpointed
    // per-frame fold. Pair groupBy stays bounded by 80². Lift in
    // DECIMAL(38,0): n_ab·n_frames·10⁶ overflows int64 on a 100 TB
    // frame count.
    QueryDef("q29_class_cooccurrence",
      (s, dir) => {
        val fsets = detections(s, dir)
          .filter(col("confidence") >= 0.5)
          .groupBy(col("frame_id"))
          .agg(sort_array(collect_set(col("object_class"))).as("cs"))
          .localCheckpoint()
        val sup = fsets.select(explode(col("cs")).as("object_class"))
          .groupBy(col("object_class")).agg(count(lit(1)).as("nc"))
        val nf = fsets.agg(count(lit(1)).as("n_frames"))
        val pairs = fsets.select(
          explode(expr("flatten(transform(cs, (x, i) ->" +
            " transform(slice(cs, i + 2, size(cs))," +
            " y -> named_struct('ca', x, 'cb', y))))")).as("p"))
          .groupBy(col("p.ca").as("class_a"), col("p.cb").as("class_b"))
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 5)
        pairs
          .join(broadcast(sup.select(col("object_class").as("class_a"),
            col("nc").as("n_a"))), "class_a")
          .join(broadcast(sup.select(col("object_class").as("class_b"),
            col("nc").as("n_b"))), "class_b")
          .crossJoin(broadcast(nf))
          .select(col("class_a"), col("class_b"), col("n_ab"),
            col("n_a"), col("n_b"),
            expr("(2 * CAST(n_ab AS DECIMAL(38,0)) * n_frames * 1000000"
              + " + CAST(n_a AS DECIMAL(38,0)) * n_b)"
              + " div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b)")
              .as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("class_a"), col("class_b"))
          .limit(20)
      },
      Some(s"""$detectionsCte,
              |fc AS (
              |  SELECT DISTINCT frame_id, object_class
              |  FROM detections WHERE confidence >= 0.5),
              |sup AS (
              |  SELECT object_class, count(*) AS nc
              |  FROM fc GROUP BY object_class),
              |nf AS (
              |  SELECT CAST(count(DISTINCT frame_id) AS HUGEINT) AS n_frames
              |  FROM fc),
              |prs AS (
              |  SELECT a.object_class AS class_a, b.object_class AS class_b,
              |    count(*) AS n_ab
              |  FROM fc a JOIN fc b
              |    ON a.frame_id = b.frame_id
              |   AND a.object_class < b.object_class
              |  GROUP BY class_a, class_b
              |  HAVING count(*) >= 5)
              |SELECT p.class_a, p.class_b, CAST(p.n_ab AS BIGINT) AS n_ab,
              |  CAST(sa.nc AS BIGINT) AS n_a, CAST(sb.nc AS BIGINT) AS n_b,
              |  CAST((2 * CAST(p.n_ab AS HUGEINT) * f.n_frames * 1000000
              |      + CAST(sa.nc AS HUGEINT) * sb.nc)
              |    // (2 * CAST(sa.nc AS HUGEINT) * sb.nc) AS BIGINT)
              |    AS lift_ppm
              |FROM prs p
              |JOIN sup sa ON sa.object_class = p.class_a
              |JOIN sup sb ON sb.object_class = p.class_b
              |CROSS JOIN nf f
              |ORDER BY lift_ppm DESC, class_a, class_b LIMIT 20""".stripMargin)),

    // ── Q114: NMS IoU-THRESHOLD SUPPRESSION CURVE — the IoU-cutoff
    // tuning knob behind the reference's fixed NMS threshold
    // (YOLODetector.java:294-322 suppresses at a single IoU): how many
    // same-(frame, class) detection pairs would be suppressed at IoU >
    // 0.30 / 0.45 / 0.60 / 0.75, in ONE query. The pairwise join — the
    // expensive part, the q17 per-frame-bounded equi-join — runs ONCE;
    // the four thresholds fan out over a 2-double (inter, union)
    // projection of each pair, and the comparison is cross-multiplied
    // (100·inter > pct·union) so no division touches the hot path.
    // Partial aggregation reduces every task to 4 rows before the
    // final exchange.
    QueryDef("q114_nms_threshold_curve",
      (s, dir) => {
        val d = detections(s, dir)
        val a = d.select(col("frame_id"), col("object_class"),
          col("det_id").as("det_a"), col("x1").as("ax1"),
          col("y1").as("ay1"), col("x2").as("ax2"), col("y2").as("ay2"))
        val b = d.select(col("frame_id").as("frame_id_b"),
          col("object_class").as("object_class_b"),
          col("det_id").as("det_b"), col("x1").as("bx1"),
          col("y1").as("by1"), col("x2").as("bx2"), col("y2").as("by2"))
        val joined = a.join(b,
          col("frame_id") === col("frame_id_b") &&
            col("object_class") === col("object_class_b") &&
            col("det_a") < col("det_b"))
        val iw = greatest(lit(0.0),
          least(col("ax2"), col("bx2")) - greatest(col("ax1"), col("bx1")))
        val ih = greatest(lit(0.0),
          least(col("ay2"), col("by2")) - greatest(col("ay1"), col("by1")))
        val inter = iw * ih
        val areaA = (col("ax2") - col("ax1")) * (col("ay2") - col("ay1"))
        val areaB = (col("bx2") - col("bx1")) * (col("by2") - col("by1"))
        joined
          .select(inter.as("inter"), (areaA + areaB - inter).as("uni"))
          .select(col("inter"), col("uni"),
            explode(array(lit(30L), lit(45L), lit(60L), lit(75L)))
              .as("iou_pct"))
          .groupBy(col("iou_pct"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("inter") * 100.0 > col("iou_pct") * col("uni"),
              1L).otherwise(0L)).as("suppressed_pairs"))
          .withColumn("suppressed_ppm",
            expr("(2 * suppressed_pairs * 1000000 + n_pairs)"
              + " div (2 * n_pairs)"))
          .orderBy(col("iou_pct"))
      },
      Some(s"""$detectionsCte,
              |pairs AS (
              |  SELECT
              |    greatest(0.0, least(a.x2, b.x2) - greatest(a.x1, b.x1))
              |      * greatest(0.0, least(a.y2, b.y2) - greatest(a.y1, b.y1))
              |      AS inter,
              |    (a.x2 - a.x1) * (a.y2 - a.y1)
              |      + (b.x2 - b.x1) * (b.y2 - b.y1) AS areas
              |  FROM detections a JOIN detections b
              |    ON a.frame_id = b.frame_id
              |   AND a.object_class = b.object_class
              |   AND a.det_id < b.det_id),
              |ts AS (SELECT CAST(unnest([30, 45, 60, 75]) AS BIGINT)
              |  AS iou_pct),
              |fan AS (
              |  SELECT t.iou_pct, p.inter, p.areas - p.inter AS uni
              |  FROM pairs p CROSS JOIN ts t)
              |SELECT iou_pct, count(*) AS n_pairs,
              |  CAST(sum(CASE WHEN inter * 100.0 > iou_pct * uni
              |    THEN 1 ELSE 0 END) AS BIGINT) AS suppressed_pairs,
              |  CAST((2 * sum(CASE WHEN inter * 100.0 > iou_pct * uni
              |        THEN 1 ELSE 0 END) * 1000000 + count(*))
              |    // (2 * count(*)) AS BIGINT) AS suppressed_ppm
              |FROM fan GROUP BY iou_pct ORDER BY iou_pct""".stripMargin)))
}
