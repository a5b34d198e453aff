package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Descending, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types.IntegerType

/** Which ranking function's `<= k` filter this operator implements.
  * The three modes share one exchange-and-bounded-state skeleton and
  * differ only in the per-key buffer discipline and the emitted rank:
  *
  *  - [[TopKRankMode.RowNum]] — `row_number() <= k`: exactly k rows
  *    per key, arbitrary among ties; k-bounded heap; rank = dense
  *    position 1..k.
  *  - [[TopKRankMode.RankTies]] — `rank() <= k`: every row with
  *    fewer than k strictly-better rows — at most k−1 rows plus the
  *    whole boundary tie group; state is k distinct order-values'
  *    tie groups (output-bounded); rank = 1 + count of strictly
  *    better rows (gaps after ties, exactly rank()'s numbering).
  *  - [[TopKRankMode.DenseRankTies]] — `dense_rank() <= k`: the top
  *    k distinct order-value classes, whole classes kept
  *    (output-bounded state); rank = class index 1..k.
  */
sealed trait TopKRankMode
object TopKRankMode {
  case object RowNum extends TopKRankMode
  case object RankTies extends TopKRankMode
  case object DenseRankTies extends TopKRankMode
}

/** Whole-operator custom plan: top-k rows per key under an ordering,
  * with a rank column appended — the relational shape of "best N
  * detections per stream" (reference: the NMS confidence sort,
  * YOLODetector.java:294, relationalized per SURVEY.md §2 "window
  * functions").
  *
  * Why a custom operator instead of `row_number().over(window)`: the
  * window form sorts EVERY group's full row set after the shuffle
  * (O(n log n) per group, and a straggler on any hot key), and ships
  * all rows through the exchange. This operator keeps a bounded buffer
  * per key on BOTH sides of the exchange — the map side discards all
  * but the top-k rows (per [[TopKRankMode]]) per (partition, key)
  * before shuffling, the reduce side merges buffers — so shuffle
  * volume is ≤ output·partitions rows and per-group cost is
  * O(n log k), insensitive to key skew.
  *
  * Memory: the hash phase holds O(distinct keys per partition ×
  * per-key output) rows, the same residency class as a hash
  * aggregate's map. Like ObjectHashAggregate, the map is BOUNDED: past
  * `spark.graft.topk.maxKeysInMemory` distinct keys (default 65536)
  * the operator falls back to sort-based evaluation — kept buffer rows
  * plus the remaining input go through an `UnsafeExternalRowSorter`
  * (key-first ordering, task-memory-managed, spills to disk), and
  * top-k per key is read off each sorted group. Buffer evictions that
  * happened before the switch are safe to discard: a row (or tie
  * group) is only ever evicted while enough strictly-better rows to
  * exclude it are retained, and the retained-better count never
  * decreases.
  *
  * The full custom-operator ladder is exercised: logical UnaryNode →
  * Strategy (appended to spark.experimental.extraStrategies by
  * [[GraftExtensions.install]]) → partial+final physical execs with a
  * required ClusteredDistribution that EnsureRequirements satisfies
  * with a single hash exchange.
  */
case class TopKPerKeyNode(
    keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan,
    mode: TopKRankMode = TopKRankMode.RowNum) extends UnaryNode {

  require(k >= 1, s"TopKPerKeyNode requires k >= 1, got $k")

  override def output: Seq[Attribute] = child.output :+ rankAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Per-key bounded buffer — one of the three [[TopKRankMode]]
  * disciplines. `insert` copies rows it keeps; `drain` yields kept
  * rows unranked (partial emit / sort-fallback reinsertion); `ranked`
  * yields (row, rank) best-first (final emit).
  */
private[plans] sealed trait TopKBuf {
  def insert(row: InternalRow): Unit
  def drain(f: InternalRow => Unit): Unit
  def ranked: Iterator[(InternalRow, Int)]
}

/** row_number() <= k: k-bounded heap whose head is the WORST kept row
  * (reverse ordering) → O(log k) evict.
  */
private[plans] final class HeapBuf(k: Int,
    ordering: java.util.Comparator[InternalRow],
    evictions: SQLMetric) extends TopKBuf {
  private val heap =
    new java.util.PriorityQueue[InternalRow](k, ordering.reversed())
  override def insert(row: InternalRow): Unit =
    if (heap.size() < k) heap.add(row.copy())
    else if (ordering.compare(row, heap.peek()) < 0) {
      heap.poll()
      heap.add(row.copy())
      evictions.add(1L)
    }
  override def drain(f: InternalRow => Unit): Unit = heap.forEach(f(_))
  override def ranked: Iterator[(InternalRow, Int)] = {
    val arr = heap.toArray(new Array[InternalRow](0))
    java.util.Arrays.sort(arr, ordering)
    arr.iterator.zipWithIndex.map { case (r, i) => (r, i + 1) }
  }
}

/** rank()/dense_rank() <= k: an ordered map of tie groups
  * (order-value representative → rows). Group count is ≤ k in both
  * modes (group i's rank/dense-rank is ≥ i), so per-insert scans are
  * O(k) — the same class as the heap's O(log k) for the k this
  * operator targets. State is exactly the rows that would be output,
  * i.e. output-bounded, the same guarantee the k=1 keep-ties mode
  * always had.
  */
private[plans] final class TieGroupsBuf(k: Int, dense: Boolean,
    ordering: java.util.Comparator[InternalRow],
    evictions: SQLMetric) extends TopKBuf {
  private val groups =
    new java.util.TreeMap[InternalRow, java.util.ArrayList[InternalRow]](ordering)

  private def newGroup(row: InternalRow): Unit = {
    val r = row.copy()
    val l = new java.util.ArrayList[InternalRow](1)
    l.add(r)
    groups.put(r, l)
  }

  /** rank mode: drop trailing groups whose rank (1 + rows in strictly
    * better groups) exceeds k — a grown or newly inserted earlier
    * group pushes later groups past the bound.
    */
  private def trim(): Unit = {
    var prefix = 0
    var boundary: InternalRow = null
    val it = groups.entrySet().iterator()
    while (it.hasNext && boundary == null) {
      val e = it.next()
      if (prefix >= k) boundary = e.getKey
      else prefix += e.getValue.size()
    }
    if (boundary != null) {
      val tail = groups.tailMap(boundary, true)
      tail.values().forEach(g => evictions.add(g.size().toLong))
      tail.clear()
    }
  }

  override def insert(row: InternalRow): Unit = {
    val existing = groups.get(row)
    if (existing != null) {
      existing.add(row.copy())
      // dense: class membership grows, class count unchanged — no trim
      if (!dense) trim()
    } else if (dense) {
      if (groups.size() < k) newGroup(row)
      else if (ordering.compare(row, groups.lastKey()) < 0) {
        val ev = groups.pollLastEntry()
        evictions.add(ev.getValue.size().toLong)
        newGroup(row)
      }
    } else {
      // admission: rank = 1 + rows in strictly-better groups ≤ k
      var better = 0
      val head = groups.headMap(row, false).values().iterator()
      while (head.hasNext && better < k) better += head.next().size()
      if (better < k) { newGroup(row); trim() }
    }
  }
  override def drain(f: InternalRow => Unit): Unit =
    groups.values().forEach(_.forEach(f(_)))
  override def ranked: Iterator[(InternalRow, Int)] = {
    val out = Iterator.newBuilder[(InternalRow, Int)]
    var prefix = 0
    var idx = 0
    groups.entrySet().forEach { e =>
      idx += 1
      val rank = if (dense) idx else prefix + 1
      e.getValue.forEach(r => out += ((r, rank)))
      prefix += e.getValue.size()
    }
    out.result().iterator
  }
}

case class TopKPerKeyExec(
    keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    rankAttr: Option[AttributeReference],
    mode: TopKRankMode,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output ++ rankAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr.toSeq)

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  // Observability for the two memory-pressure events this operator can
  // take (mirroring ObjectHashAggregate's "number of sort fallback
  // tasks"): buffer evictions are the normal bounded-state discipline
  // at work; a sort fallback means a partition's key cardinality
  // outgrew spark.graft.topk.maxKeysInMemory and the partition
  // switched to the spillable external sort. Visible in the formatted
  // plan / Spark UI.
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "heapEvictions" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of heap evictions"),
    "sortFallbackTasks" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of sort fallback tasks"),
    "sortFallbackKeys" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of keys handed to sort fallback"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val childSchema = child.schema
    val keyExprs = keys
    val orderExprs = order
    val kk = k
    val isPartial = partial
    val theMode = mode
    val maxKeys = conf
      .getConfString("spark.graft.topk.maxKeysInMemory", "65536").toInt
    val numOutputRows = longMetric("numOutputRows")
    val heapEvictions = longMetric("heapEvictions")
    val sortFallbackTasks = longMetric("sortFallbackTasks")
    val sortFallbackKeys = longMetric("sortFallbackKeys")
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering = GenerateOrdering.generate(orderExprs, childOutput)
      def newBuf(): TopKBuf = theMode match {
        case TopKRankMode.RowNum =>
          new HeapBuf(kk, ordering, heapEvictions)
        case TopKRankMode.RankTies =>
          new TieGroupsBuf(kk, dense = false, ordering, heapEvictions)
        case TopKRankMode.DenseRankTies =>
          new TieGroupsBuf(kk, dense = true, ordering, heapEvictions)
      }
      val buffers = new java.util.LinkedHashMap[UnsafeRow, TopKBuf]()
      // pending row that would have created key maxKeys+1 (fallback only)
      var overflowRow: InternalRow = null
      while (it.hasNext && overflowRow == null) {
        val row = it.next()
        val key = keyProj(row)
        var buf = buffers.get(key)
        if (buf == null) {
          if (buffers.size() >= maxKeys) overflowRow = row.copy()
          else {
            buf = newBuf()
            buffers.put(key.copy(), buf)
          }
        }
        if (buf != null) buf.insert(row)
      }
      if (overflowRow != null) {
        sortFallbackTasks += 1
        sortFallbackKeys += buffers.size()
        // Sort-based fallback: key-cardinality outgrew the map bound.
        // Everything kept so far + the rest of the input goes through a
        // task-memory-managed external sort on (keys, order); top-k per
        // key is then read off each sorted group best-first. Constant
        // zero prefix → the sorter always compares with the full
        // ordering (radix off); memory is bounded by the task budget,
        // excess spills to disk.
        val keyFirstOrdering = GenerateOrdering.generate(
          keyExprs.map(SortOrder(_, Ascending)) ++ orderExprs, childOutput)
        val prefixComputer =
          new org.apache.spark.sql.execution.UnsafeExternalRowSorter.PrefixComputer {
            private val zero =
              new org.apache.spark.sql.execution.UnsafeExternalRowSorter.PrefixComputer.Prefix
            override def computePrefix(row: InternalRow) = zero
          }
        val sorter = org.apache.spark.sql.execution.UnsafeExternalRowSorter.create(
          childSchema, keyFirstOrdering,
          org.apache.spark.util.collection.unsafe.sort.PrefixComparators.LONG,
          prefixComputer, org.apache.spark.sql.GraftSqlBridge.pageSizeBytes,
          false)
        val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
        def insert(r: InternalRow): Unit = r match {
          case u: UnsafeRow => sorter.insertRow(u)
          case other        => sorter.insertRow(toUnsafe(other))
        }
        buffers.values().forEach(_.drain(insert(_)))
        buffers.clear()
        insert(overflowRow)
        while (it.hasNext) insert(it.next())
        val sorted = sorter.sort()
        val outAttrs =
          if (isPartial) childOutput else childOutput :+ rankAttr.get
        val proj = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        // Unified per-group scanner over the (key, order)-sorted run:
        // rows arrive best-first within a key, so the rank of each row
        // is derivable from running counters alone, and once a row's
        // rank exceeds k the rest of the key is all worse — scanned
        // only to find the next key boundary.
        new Iterator[InternalRow] {
          private var prevKey: UnsafeRow = null
          private var rowsBefore = 0 // rows in strictly-better groups
          private var groupIdx = 0   // dense class index
          private var groupCount = 0 // rows in the current tie group
          private var groupBest: InternalRow = null
          private var keyDone = false
          private var nextRow: InternalRow = null
          private var outRank = 0
          private def advance(): Unit = {
            nextRow = null
            while (nextRow == null && sorted.hasNext) {
              val r = sorted.next()
              val key = keyProj(r)
              if (prevKey == null || !key.equals(prevKey)) {
                prevKey = key.copy()
                rowsBefore = 0; groupIdx = 0; groupCount = 0
                groupBest = null; keyDone = false
              }
              if (!keyDone) theMode match {
                case TopKRankMode.RowNum =>
                  if (rowsBefore < kk) {
                    rowsBefore += 1; outRank = rowsBefore; nextRow = r
                  } else keyDone = true
                case _ =>
                  if (groupBest == null ||
                      ordering.compare(r, groupBest) != 0) {
                    rowsBefore += groupCount; groupIdx += 1
                    groupCount = 0; groupBest = r.copy()
                  }
                  groupCount += 1
                  val rank =
                    if (theMode == TopKRankMode.DenseRankTies) groupIdx
                    else rowsBefore + 1
                  if (rank <= kk) { outRank = rank; nextRow = r }
                  else keyDone = true
              }
            }
          }
          advance()
          override def hasNext: Boolean = nextRow != null
          override def next(): InternalRow = {
            val r = nextRow
            val out =
              if (isPartial) proj(r)
              else { rankRow.setInt(0, outRank); proj(joined(r, rankRow)) }
            numOutputRows += 1
            advance()
            out
          }
        }
      } else if (isPartial) {
        // emit kept rows unranked; the final pass re-ranks after merge
        val entries = buffers.values().iterator()
        new Iterator[InternalRow] {
          private var cur: Iterator[InternalRow] = Iterator.empty
          override def hasNext: Boolean = {
            while (!cur.hasNext && entries.hasNext) {
              val b = Iterator.newBuilder[InternalRow]
              entries.next().drain(b += _)
              cur = b.result().iterator
            }
            cur.hasNext
          }
          override def next(): InternalRow = {
            numOutputRows += 1
            cur.next()
          }
        }
      } else {
        val outAttrs = childOutput :+ rankAttr.get
        val proj = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        new Iterator[InternalRow] {
          private val outer = buffers.values().iterator()
          private var cur: Iterator[(InternalRow, Int)] = Iterator.empty
          override def hasNext: Boolean = {
            while (!cur.hasNext && outer.hasNext) cur = outer.next().ranked
            cur.hasNext
          }
          override def next(): InternalRow = {
            val (r, rank) = cur.next()
            rankRow.setInt(0, rank)
            numOutputRows += 1
            proj(joined(r, rankRow))
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, rankAttr, child, mode) =>
      val childPlan = planLater(child)
      val part = TopKPerKeyExec(keys, order, k, partial = true, None, mode, childPlan)
      TopKPerKeyExec(keys, order, k, partial = false, Some(rankAttr), mode, part) :: Nil
    case _ => Nil
  }
}

/** Column-API entry point. */
object TopK {

  /** Top `k` rows per `keyCols` group under `orderSpec`
    * ((column, ascending) pairs; ties broken by later columns), with a
    * rank column `rn` appended — `mode` selects which ranking
    * function's `<= k` semantics apply (default: row_number's exact-k).
    */
  def perKey(df: DataFrame, keyCols: Seq[String],
      orderSpec: Seq[(String, Boolean)], k: Int,
      rankCol: String = "rn",
      mode: TopKRankMode = TopKRankMode.RowNum): DataFrame = {
    require(k >= 1, s"TopK.perKey requires k >= 1, got $k")
    val spark = df.sparkSession
    GraftExtensions.install(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name)}"))
    val keys = keyCols.map(attr)
    val order = orderSpec.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    val rank = AttributeReference(rankCol, IntegerType, nullable = false)()
    GraftSqlBridge.ofRows(spark,
      TopKPerKeyNode(keys, order, k, rank, analyzed, mode))
  }
}
