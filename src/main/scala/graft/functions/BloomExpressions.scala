package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

/** Mergeable Bloom filter over 64-bit key hashes — the membership sketch a
  * daily-ingest pipeline keeps NEXT TO its corpus so a new batch can be
  * split into definitely-new vs possibly-seen without joining the history
  * at all ([[graft.ops.Dedup.incrementalBloom]]).
  *
  * No false negatives by construction (every inserted key sets all its
  * probe bits; `might_contain` only returns false when some probe bit is
  * clear), so using the filter as a PRE-GATE before an exact anti join
  * keeps the result exact — false positives merely take the slow path.
  * The bitset merges by OR (commutative, idempotent — map-side partial
  * aggregation, task retries harmless), and yesterday's filter ORs with
  * today's batch filter, so at 100 TB the sketch is MAINTAINED
  * incrementally like the corpus itself: the day's membership state is
  * `bits/8` bytes (2 MiB at the 2²⁴-bit default) regardless of corpus
  * size, broadcast once per run.
  *
  * Probes use Kirsch–Mitzenmacher double hashing on the single 64-bit
  * input: `b_i = (h1 + i·h2) mod bits` with h1 = the input hash, h2 = a
  * finalizer-mixed copy forced odd. Deterministic — same keys, same bits,
  * any partitioning.
  */
case class BloomAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numBits > 0 && numBits % 64 == 0, "numBits must be a positive multiple of 64")
  require(numHashes >= 1 && numHashes <= 16)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomBits.set(buf, v.asInstanceOf[Long], numBits, numHashes)
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numBits / 64)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "bloom_agg"
  override def withNewMutableAggBufferOffset(o: Int): BloomAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** `bloom_might_contain(bitset, h)` — false means PROVABLY never inserted;
  * true means inserted or a false positive. One compiled call per row
  * inside WholeStageCodegen (same spelling as the media-hash
  * expressions). */
case class BloomMightContain(
    left: Expression, right: Expression, numBits: Int, numHashes: Int)
  extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, bigint), got $t")
    }

  def compute(arr: ArrayData, h: Long): Boolean =
    BloomBits.mightContain(arr, h, numBits, numHashes)

  override def nullSafeEval(arr: Any, h: Any): Any =
    compute(arr.asInstanceOf[ArrayData], h.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this, classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, (a, h) => s"${ev.value} = $self.compute($a, $h);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `bloom_might_contain_dyn(bitset, h, numBits, numHashes)` — the
  * [[BloomMightContain]] probe with PER-ROW geometry: numBits/numHashes
  * arrive as columns, not constructor constants. The file bloom index
  * auto-sizes each file's bitset from its row count, so a relation of
  * per-file bloom entries carries heterogeneous geometries — a join
  * probing delete keys against many files' blooms (the distributed
  * delete-compaction candidate test) needs the geometry per row. */
case class BloomMightContainDyn(
    bitset: Expression, h: Expression, numBits: Expression, numHashes: Expression)
  extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain_dyn"
  override def first: Expression = bitset
  override def second: Expression = h
  override def third: Expression = numBits
  override def fourth: Expression = numHashes

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (bitset.dataType, h.dataType, numBits.dataType, numHashes.dataType) match {
      case (ArrayType(LongType, _), LongType, IntegerType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, bigint, int, int), got $t")
    }

  def compute(arr: ArrayData, hv: Long, nb: Int, nh: Int): Boolean =
    BloomBits.mightContain(arr, hv, nb, nh)

  override def nullSafeEval(arr: Any, hv: Any, nb: Any, nh: Any): Any =
    compute(arr.asInstanceOf[ArrayData], hv.asInstanceOf[Long],
      nb.asInstanceOf[Int], nh.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this,
      classOf[BloomMightContainDyn].getName)
    nullSafeCodeGen(ctx, ev, (a, hv, nb, nh) =>
      s"${ev.value} = $self.compute($a, $hv, $nb, $nh);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(bitset = f, h = s, numBits = t, numHashes = q)
}

/** The shared probe math — agg and membership expression call the same
  * code, so a bit set is a bit found. Visible to `graft.storage` so the
  * manifest bloom index ([[graft.storage.GraftCatalog.buildBloomIndex]])
  * probes with EXACTLY the bits [[BloomAgg]] set. */
private[graft] object BloomBits {
  /** Stafford variant-13 finalizer (SplitMix64's mix) — decorrelates h2
    * from h1 so the i·h2 stride isn't a constant shift of h1. */
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def set(buf: Array[Long], h: Long, numBits: Int, numHashes: Int): Unit = {
    val h2 = mix(h) | 1L
    var i = 0
    while (i < numHashes) {
      val b = java.lang.Long.remainderUnsigned(h + i * h2, numBits).toInt
      buf(b >>> 6) |= (1L << (b & 63))
      i += 1
    }
  }

  /** Driver-side probe over a raw bitset (the manifest bloom index's
    * deserialized form) — same arithmetic as the [[ArrayData]] overload. */
  def mightContain(bits: Array[Long], h: Long, numBits: Int, numHashes: Int): Boolean = {
    val h2 = mix(h) | 1L
    var i = 0
    while (i < numHashes) {
      val b = java.lang.Long.remainderUnsigned(h + i * h2, numBits).toInt
      if ((bits(b >>> 6) & (1L << (b & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def mightContain(arr: ArrayData, h: Long, numBits: Int, numHashes: Int): Boolean = {
    val h2 = mix(h) | 1L
    var i = 0
    while (i < numHashes) {
      val b = java.lang.Long.remainderUnsigned(h + i * h2, numBits).toInt
      if ((arr.getLong(b >>> 6) & (1L << (b & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

object BloomFunctions {
  /** 2²⁴ bits (2 MiB) / 5 probes ≈ 0.1 % fp at 1 M keys, 3 % at 10 M. */
  val DefaultBits: Int = 1 << 24
  val DefaultHashes: Int = 5

  def bloom_agg(h: Column, numBits: Int = DefaultBits,
      numHashes: Int = DefaultHashes): Column =
    Shims.column(BloomAgg(Shims.expression(h), numBits, numHashes)
      .toAggregateExpression())

  /** The one-row filter over `rows`' hashes `h` with its build parameters,
    * (bloom, num_bits, num_hashes): the row the maintenance sinks keep and
    * [[graft.ops.Dedup.incrementalBloom]]'s `precomputed` probes. */
  def bloomRow(rows: DataFrame, h: Column, numBits: Int = DefaultBits,
      numHashes: Int = DefaultHashes): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    rows.agg(bloom_agg(h, numBits, numHashes).alias("bloom"))
      .select(col("bloom"), lit(numBits).alias("num_bits"), lit(numHashes).alias("num_hashes"))
  }

  def bloom_might_contain(bitset: Column, h: Column,
      numBits: Int = DefaultBits, numHashes: Int = DefaultHashes): Column =
    Shims.column(BloomMightContain(
      Shims.expression(bitset), Shims.expression(h), numBits, numHashes))

  def bloom_might_contain_dyn(bitset: Column, h: Column,
      numBits: Column, numHashes: Column): Column =
    Shims.column(BloomMightContainDyn(
      Shims.expression(bitset), Shims.expression(h),
      Shims.expression(numBits), Shims.expression(numHashes)))
}
