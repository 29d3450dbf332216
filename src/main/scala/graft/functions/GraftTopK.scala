package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Engine-owned frequent-items sketch (SpaceSaving — Metwally et al.
  * 2005, "Efficient computation of frequent and top-k elements in data
  * streams"; merge per Agarwal et al. 2012, "Mergeable summaries") —
  * the third member of the mergeable-measure family next to
  * [[GraftHll]] (distinct) and [[GraftHistogram]] (quantiles): heavy
  * hitters (top domains, top tokens, top customers) as a ROUTABLE
  * metric-view measure. The counter map is a storable partial; merges
  * are counter sums; so top-k measures route through rollups and fold
  * incrementally — the 100 TB answer to "top N by group" without
  * rescanning the fact table.
  *
  * State: at most `capacity` counters `item → (cnt, err)`.
  * Update: resident item increments; new item inserts while below
  * capacity; at capacity the minimum counter (tie: lexicographically
  * greatest item) is evicted and the newcomer takes `(min+1, min)` —
  * the classic SpaceSaving step. Merge: counter-wise sum, where an
  * item ABSENT from a sketch that has ever evicted contributes that
  * sketch's minimum counter to both cnt and err (its true count there
  * is bounded by that minimum); then truncate back to capacity keeping
  * the largest (cnt desc, item asc).
  *
  * Guarantees (property-gated in GraftTopKSpec): for every reported
  * item, `cnt ≥ true ≥ cnt − err`; any item with true frequency
  * > n/capacity is in the sketch. EXACT REGIME: while per-group
  * distinct items ≤ capacity nothing ever evicts, every err is 0 and
  * every cnt is the exact count regardless of partitioning or merge
  * order — which is what makes `graft_topk` hash-oracle-able in
  * DuckDB at verification scale (q_mv_topk / q_routed_topk) while the
  * sketch bound covers the beyond-capacity regime at 100 TB.
  *
  * Key contract: string and integral keys only, rendered via SQL CAST
  * semantics (the [[GraftHll]] rule) so the oracle's `CAST(k AS
  * VARCHAR)` sees identical items. Output of the extract step: the k
  * largest as `array<struct<item string, cnt bigint, err bigint>>`
  * in (cnt desc, item asc) order — a total order, so ties at the k
  * boundary resolve identically in both engines.
  */
object GraftTopK {

  /** item → [cnt, err]; `evicted` records whether any counter was ever
    * displaced (the absent-item default is 0 until then).
    *
    * `heap` indexes counters by (cnt asc, item desc) for O(log cap)
    * eviction with LAZY deletion: increments push fresh entries and
    * leave stale ones behind; the eviction pop discards entries whose
    * recorded count no longer matches the live counter. Stale volume is
    * bounded by rebuilding whenever the heap outgrows 8× capacity, so
    * the amortized update cost stays logarithmic — the linear min-scan
    * this replaces was O(capacity) per eviction, a real hot-path tax in
    * the beyond-capacity regime the sketch exists for. The heap is
    * derived state: serialization skips it and it rebuilds on demand. */
  final class State(val capacity: Int) {
    val counts = new java.util.HashMap[String, Array[Long]]()
    var evicted: Boolean = false
    private[GraftTopK] var heap: java.util.PriorityQueue[(String, Long)] = null

    def minCount: Long = {
      var m = Long.MaxValue
      val it = counts.values.iterator()
      while (it.hasNext) { val c = it.next()(0); if (c < m) m = c }
      if (m == Long.MaxValue) 0L else m
    }
  }

  /** (cnt asc, item desc) — the eviction order: minimum count first,
    * ties broken toward the lexicographically greatest item. */
  private val evictionOrder: java.util.Comparator[(String, Long)] =
    new java.util.Comparator[(String, Long)] {
      override def compare(a: (String, Long), b: (String, Long)): Int = {
        val c = java.lang.Long.compare(a._2, b._2)
        if (c != 0) c else b._1.compareTo(a._1)
      }
    }

  private def rebuildHeap(st: State): Unit = {
    st.heap = new java.util.PriorityQueue[(String, Long)](
      math.max(st.counts.size, 8), evictionOrder)
    val it = st.counts.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); st.heap.add((e.getKey, e.getValue()(0))) }
  }

  private[functions] def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private[functions] def keyOf(v: Any): String = v match {
    case s: UTF8String => s.toString
    case other => String.valueOf(other)
  }

  private[functions] def update(st: State, key: String): Unit = {
    val c = st.counts.get(key)
    if (c != null) {
      c(0) += 1L
      if (st.heap != null) {
        st.heap.add((key, c(0))) // the old entry goes stale in place
        if (st.heap.size > 8 * st.capacity) rebuildHeap(st)
      }
    } else if (st.counts.size < st.capacity) {
      st.counts.put(key, Array(1L, 0L))
      if (st.heap != null) st.heap.add((key, 1L))
    } else {
      // evict the minimum counter (tie: greatest item) and give the
      // newcomer (min+1, min) — the classic SpaceSaving step, served
      // from the lazy heap in O(log capacity) amortized
      if (st.heap == null) rebuildHeap(st)
      var minK: String = null
      var minC = 0L
      while (minK == null) {
        if (st.heap.isEmpty) rebuildHeap(st) // defensive: never spins, live keys always indexed
        val h = st.heap.poll()
        val live = st.counts.get(h._1)
        if (live != null && live(0) == h._2) { minK = h._1; minC = h._2 }
      }
      st.counts.remove(minK)
      st.counts.put(key, Array(minC + 1L, minC))
      st.heap.add((key, minC + 1L))
      st.evicted = true
    }
  }

  /** Merge `from` into `into` (SpaceSaving merge, see scaladoc). */
  private[functions] def mergeInto(into: State, from: State): State = {
    require(into.capacity == from.capacity,
      s"graft_topk capacity mismatch: ${into.capacity} vs ${from.capacity} — " +
        "every partial that will ever merge must share it")
    if (from.counts.isEmpty && !from.evicted) return into
    val dInto = if (into.evicted) into.minCount else 0L
    val dFrom = if (from.evicted) from.minCount else 0L
    val merged = new java.util.HashMap[String, Array[Long]]()
    val itI = into.counts.entrySet().iterator()
    while (itI.hasNext) {
      val e = itI.next()
      val f = from.counts.get(e.getKey)
      val add = if (f != null) f else Array(dFrom, dFrom)
      merged.put(e.getKey, Array(e.getValue()(0) + add(0), e.getValue()(1) + add(1)))
    }
    val itF = from.counts.entrySet().iterator()
    while (itF.hasNext) {
      val e = itF.next()
      if (!merged.containsKey(e.getKey))
        merged.put(e.getKey, Array(e.getValue()(0) + dInto, e.getValue()(1) + dInto))
    }
    into.counts.clear()
    into.heap = null // derived index is stale after a rewrite
    into.evicted = into.evicted || from.evicted
    if (merged.size > into.capacity) {
      val keep = new Largest(into.capacity, merged.size)
      val it = merged.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); keep.offer(e.getKey, e.getValue()(0), e.getValue()(1)) }
      keep.sorted().foreach(t => into.counts.put(t._1, Array(t._2, t._3)))
      into.evicted = true
    } else into.counts.putAll(merged)
    into
  }

  /** The `k` largest entries offered, under the output total order
    * (cnt desc, item asc): a k-bounded min-heap whose head is the worst
    * kept entry (the eviction order), so selecting from n entries costs
    * O(n log k) instead of a full sort. Items are unique, so the order
    * is total and the selection equals the sorted prefix. The heap is
    * sized by `min(k, offered)`, the entries it can actually hold, so a
    * caller's k far above the state's entry count allocates nothing
    * for it. */
  private final class Largest(k: Int, offered: Int) {
    private val order: java.util.Comparator[(String, Long, Long)] = (a, b) => {
      val c = java.lang.Long.compare(a._2, b._2)
      if (c != 0) c else b._1.compareTo(a._1)
    }
    private val heap = new java.util.PriorityQueue[(String, Long, Long)](
      math.max(1, math.min(k, offered)), order)

    def offer(item: String, cnt: Long, err: Long): Unit = {
      val e = (item, cnt, err)
      if (heap.size < k) heap.add(e)
      else if (order.compare(e, heap.peek()) > 0) { heap.poll(); heap.add(e) }
    }

    /** The kept entries, best first. */
    def sorted(): Array[(String, Long, Long)] = {
      val out = new Array[(String, Long, Long)](heap.size)
      var i = out.length - 1
      while (i >= 0) { out(i) = heap.poll(); i -= 1 }
      out
    }
  }

  // State bytes (version 1, big-endian — the layout DataOutputStream
  // wrote, so stored rollups stay readable): version byte, capacity
  // int, evicted byte, entry count int, then per entry the UTF-8 key's
  // length int and bytes, cnt long, err long. Read and written through
  // one ByteBuffer: the synchronized ByteArray*Stream pair cost about
  // half of a routed top-k tile's executor time.
  private val Version: Byte = 1

  private[functions] def serialize(st: State): Array[Byte] = {
    val n = st.counts.size
    val keys = new Array[Array[Byte]](n)
    val cnts = new Array[Array[Long]](n)
    var size = 10
    var i = 0
    val it = st.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(i) = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      cnts(i) = e.getValue
      size += 20 + keys(i).length
      i += 1
    }
    val buf = java.nio.ByteBuffer.allocate(size)
    buf.put(Version).putInt(st.capacity).put((if (st.evicted) 1 else 0).toByte).putInt(n)
    i = 0
    while (i < n) {
      buf.putInt(keys(i).length).put(keys(i)).putLong(cnts(i)(0)).putLong(cnts(i)(1))
      i += 1
    }
    buf.array()
  }

  /** Walk a state's bytes, handing each entry to `entry` in stored
    * order; returns the evicted flag. */
  private def decode(bytes: Array[Byte])(entry: (String, Long, Long) => Unit): Boolean = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val ver = buf.get()
    require(ver == Version, s"unknown graft_topk state version $ver")
    buf.getInt() // capacity
    val evicted = buf.get() != 0
    val n = buf.getInt()
    var i = 0
    while (i < n) {
      val len = buf.getInt()
      val item = new String(bytes, buf.position(), len, java.nio.charset.StandardCharsets.UTF_8)
      buf.position(buf.position() + len)
      entry(item, buf.getLong(), buf.getLong())
      i += 1
    }
    evicted
  }

  private[functions] def deserialize(bytes: Array[Byte]): State = {
    val st = new State(java.nio.ByteBuffer.wrap(bytes).getInt(1)) // after the version byte
    st.evicted = decode(bytes)((item, cnt, err) => st.counts.put(item, Array(cnt, err)))
    st
  }

  /** Shared by interpreted eval and generated code: serialized state →
    * the k largest as array<struct<item, cnt, err>>, selected straight
    * from the bytes (no counter map is built). */
  def extract(bytes: Array[Byte], k: Int): GenericArrayData = {
    // the entry count sits after the version, capacity and evicted fields
    val top = new Largest(k, java.nio.ByteBuffer.wrap(bytes).getInt(6))
    decode(bytes)(top.offer)
    new GenericArrayData(top.sorted().map { case (item, cnt, err) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(item), cnt, err)): Any })
  }

  val entryType: StructType = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("err", LongType, nullable = false)))

  def agg(c: Column, capacity: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    GraftBridge.column(GraftTopKAgg(
      GraftBridge.expression(spark, c),
      GraftBridge.expression(spark, capacity)).toAggregateExpression())
  }

  def merge(c: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    GraftBridge.column(
      GraftTopKMerge(GraftBridge.expression(spark, c)).toAggregateExpression())
  }

  def extractCol(c: Column, k: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    GraftBridge.column(GraftTopKExtract(
      GraftBridge.expression(spark, c), GraftBridge.expression(spark, k)))
  }
}

/** Aggregate raw keys into a SpaceSaving counter state (binary). */
case class GraftTopKAgg(child: Expression, capacity: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[GraftTopK.State] {

  override def children: Seq[Expression] = Seq(child, capacity)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | ByteType | ShortType | IntegerType | LongType =>
      if (!capacity.foldable || !GraftTopK.isIntegral(capacity.dataType))
        TypeCheckResult.TypeCheckFailure(
          "graft_topk_agg capacity must be an integer literal")
      else if (capacity.eval() == null) // CAST(NULL AS INT) is foldable
        TypeCheckResult.TypeCheckFailure(
          "graft_topk_agg capacity must not be null")
      else {
        val cap = capacity.eval().asInstanceOf[Number].longValue()
        if (cap < 1 || cap > 1000000)
          TypeCheckResult.TypeCheckFailure(
            s"graft_topk_agg capacity must be in [1, 1000000], got $cap")
        else TypeCheckResult.TypeCheckSuccess
      }
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_topk_agg supports string and integral keys, got ${dt.simpleString}; " +
        "cast the key to string if its rendered form is the intended identity")
  }

  @transient private lazy val capV: Int =
    capacity.eval().asInstanceOf[Number].intValue()

  override def createAggregationBuffer(): GraftTopK.State = new GraftTopK.State(capV)

  override def update(st: GraftTopK.State, input: InternalRow): GraftTopK.State = {
    val v = child.eval(input)
    if (v != null) GraftTopK.update(st, GraftTopK.keyOf(v))
    st
  }

  override def merge(b: GraftTopK.State, o: GraftTopK.State): GraftTopK.State =
    GraftTopK.mergeInto(b, o)

  override def eval(b: GraftTopK.State): Any = GraftTopK.serialize(b)
  override def serialize(b: GraftTopK.State): Array[Byte] = GraftTopK.serialize(b)
  override def deserialize(bytes: Array[Byte]): GraftTopK.State =
    GraftTopK.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): GraftTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GraftTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GraftTopKAgg =
    copy(child = newChildren(0), capacity = newChildren(1))
}

/** Re-aggregate stored states (rollup routing / incremental folds):
  * SpaceSaving merge — exact while nothing has ever evicted. */
case class GraftTopKMerge(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[GraftTopK.State]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression]
    with ExpectsInputTypes {

  override def inputTypes = Seq(BinaryType)

  // capacity rides in the serialized state; an empty buffer adopts the
  // first input's capacity (capacity 0 marks "not yet seen")
  override def createAggregationBuffer(): GraftTopK.State = new GraftTopK.State(0)

  private def fold(b: GraftTopK.State, o: GraftTopK.State): GraftTopK.State =
    if (o.capacity == 0) b
    else if (b.capacity == 0) o
    else GraftTopK.mergeInto(b, o)

  override def update(b: GraftTopK.State, input: InternalRow): GraftTopK.State = {
    val v = child.eval(input)
    if (v == null) b
    else fold(b, GraftTopK.deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(b: GraftTopK.State, o: GraftTopK.State): GraftTopK.State =
    fold(b, o)

  override def eval(b: GraftTopK.State): Any = GraftTopK.serialize(b)
  override def serialize(b: GraftTopK.State): Array[Byte] = GraftTopK.serialize(b)
  override def deserialize(bytes: Array[Byte]): GraftTopK.State =
    GraftTopK.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk_merge"

  override def withNewMutableAggBufferOffset(newOffset: Int): GraftTopKMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GraftTopKMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): GraftTopKMerge =
    copy(child = newChild)
}

/** Scalar: serialized state → the k largest counters as
  * `array<struct<item string, cnt bigint, err bigint>>` in
  * (cnt desc, item asc) order. */
case class GraftTopKExtract(state: Expression, k: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(state, k)

  override def checkInputDataTypes(): TypeCheckResult = state.dataType match {
    case BinaryType =>
      if (!k.foldable || !GraftTopK.isIntegral(k.dataType))
        TypeCheckResult.TypeCheckFailure("graft_topk_extract k must be an integer literal")
      else if (k.eval() == null) // CAST(NULL AS INT) is foldable
        TypeCheckResult.TypeCheckFailure("graft_topk_extract k must not be null")
      else if (k.eval().asInstanceOf[Number].longValue() < 1)
        TypeCheckResult.TypeCheckFailure("graft_topk_extract k must be >= 1")
      else TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_topk_extract needs a binary state, got ${dt.simpleString}")
  }

  // a bigint k beyond int range asks for every entry, like Int.MaxValue
  @transient private lazy val kV: Int =
    math.min(k.eval().asInstanceOf[Number].longValue(), Int.MaxValue.toLong).toInt

  override def dataType: DataType =
    ArrayType(GraftTopK.entryType, containsNull = false)
  override def nullable: Boolean = state.nullable
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val s = state.eval(input)
    if (s == null) null else GraftTopK.extract(s.asInstanceOf[Array[Byte]], kV)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sGen = state.genCode(ctx)
    val cls = GraftTopK.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${sGen.code}
      boolean ${ev.isNull} = ${sGen.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $cls.extract(${sGen.value}, $kV);
      }""")
  }

  override def prettyName: String = "graft_topk_extract"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GraftTopKExtract =
    copy(state = newChildren(0), k = newChildren(1))
}
