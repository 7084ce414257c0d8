package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

/** Custom Catalyst aggregates for dedup sketches (SURVEY §7.3's
  * `TypedImperativeAggregate` slot).
  *
  * Why custom: the composable alternative spells a MinHash signature as
  * `numHashes` separate `min(...)` aggregate expressions (and SimHash as 64
  * `sum(CASE ...)`s) — each a full aggregate slot with its own buffer
  * column and codegen'd update. These aggregates keep ONE primitive-array
  * buffer per group and update all slots in a tight loop per input row.
  * Both run under ObjectHashAggregateExec with map-side partial
  * aggregation, so the shuffle still carries one compact buffer per group
  * per partition.
  */

/** `minhash_agg(h)` → array<long> of `numHashes` permutation minima over
  * the group's 63-bit hash values. Permutations `h_i(x)=(a_i·x+b_i) mod p`
  * with fixed LCG-derived coefficients; empty group → p sentinel. */
case class MinhashAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val p = 2147483647L
  private val as = Array.tabulate(numHashes)(i => 1103515245L * (i + 1) % p)
  private val bs = Array.tabulate(numHashes)(i => 12345L * (i * 2 + 1) % p)

  override def createAggregationBuffer(): Array[Long] = Array.fill(numHashes)(p)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < numHashes) {
        val perm = (h * as(i) + bs(i)) % p
        if (perm < buf(i)) buf(i) = perm
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "minhash_agg"
  override def withNewMutableAggBufferOffset(o: Int): MinhashAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinhashAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** `simhash_agg(h)` → 64-bit SimHash of the group's hash values: per bit,
  * sum ±1 across inputs; bit set where the sum is positive. Null inputs
  * contribute nothing (empty group → 0). */
case class SimhashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        buf(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Int]): Any = {
    var sim = 0L
    var b = 0
    while (b < 64) { if (buf(b) > 0) sim |= (1L << b); b += 1 }
    sim
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 * 64)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getInt)
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "simhash_agg"
  override def withNewMutableAggBufferOffset(o: Int): SimhashAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimhashAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** `vec_fixed_sum_agg(vec, dim)` → array<long>: elementwise sum of vectors
  * in 2^-24 fixed-point units (`floor(x_i * 2^24)` per element, summed as
  * bigint).
  *
  * Why fixed-point and not a double sum: floating addition is not
  * associative, so a double centroid sum depends on partition order — a
  * different shuffle (or a retry) yields a last-ulp-different centroid and
  * a non-reproducible nearest-centroid assignment. `x * 2^24` is EXACT for
  * any float32 in the embedding range (power-of-two scaling only shifts the
  * exponent), `floor` is engine-invariant, and bigint sums commute — the
  * aggregate is bit-identical across partitionings, retries, and engines.
  * One primitive-long buffer per group; partial aggregation map-side under
  * ObjectHashAggregateExec like the sketch aggregates above. */
case class VecFixedSumAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val scale = 16777216.0 // 2^24
  @transient private lazy val et =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](dim)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = math.min(dim, arr.numElements())
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val x = et match {
            case FloatType  => arr.getFloat(i).toDouble
            case DoubleType => arr.getDouble(i)
            case IntegerType => arr.getInt(i).toDouble
            case LongType   => arr.getLong(i).toDouble
            case other => throw new IllegalArgumentException(
              s"vec_fixed_sum_agg: unsupported element type $other")
          }
          buf(i) += math.floor(x * scale).toLong
        }
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < dim) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * dim)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(dim)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "vec_fixed_sum_agg"
  override def withNewMutableAggBufferOffset(o: Int): VecFixedSumAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecFixedSumAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** `count_min_agg(h, depth, width)` → array<long> of `depth*width` counters:
  * a Count-Min sketch (Cormode–Muthukrishnan, J.Alg 2005) over the group's
  * 64-bit hash values. Row `i` uses the same LCG-derived pairwise hash
  * family as [[MinhashAgg]]: `bucket_i(x) = ((a_i·x + b_i) mod p) mod w`.
  *
  * Why it scales: the buffer is ONE primitive-long array of depth×width
  * per group regardless of input cardinality, counters merge by elementwise
  * addition (partial aggregation map-side; the shuffle carries the fixed-
  * size table, never the token stream), and estimates are `min_i
  * cms[i][bucket_i(x)]` — always ≥ the true count, within εN with
  * probability 1−δ for w=⌈e/ε⌉, d=⌈ln 1/δ⌉. All arithmetic is integer,
  * so the sketch is bit-identical across partitionings and engines. */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val p = 2147483647L
  private val as = Array.tabulate(depth)(i => 1103515245L * (i + 1) % p)
  private val bs = Array.tabulate(depth)(i => 12345L * (i * 2 + 1) % p)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < depth) {
        // floorMod: production hashes (xxhash64) are negative half the
        // time; for the oracle's non-negative polynomial hashes floorMod
        // equals %, so the SQL replication is unaffected
        val bkt = (math.floorMod(math.floorMod(h * as(i) + bs(i), p), width)).toInt
        buf(i * width + bkt) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
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
    Array.fill(depth * width)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "count_min_agg"
  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** `hll_registers_agg(h, p)` → array<long> of `2^p` HyperLogLog registers
  * (Flajolet et al. 2007) over the group's hash values: register
  * `h & (2^p - 1)` keeps the max rank of the remaining bits, where rank =
  * trailing-zero count + 1 (the PCSA-style convention — chosen because
  * `bit_count((w & -w) - 1) + 1` reproduces it in ANY engine with exact
  * integer ops; the leading-zeros convention needs a log2 or a 58-way
  * CASE). Empty stream → all-zero registers.
  *
  * Scale: the buffer is 2^p longs per group regardless of cardinality,
  * registers merge by elementwise MAX (commutative, idempotent — partial
  * aggregation map-side, retries harmless), and the estimate is a
  * fixed-order fold downstream (`0.709·m²/Σ2^-M_j`, powers of two via bit
  * shift — no libm). The sketch contents are bit-identical across
  * partitionings and engines. */
case class HllRegistersAgg(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val m = 1 << p
  private val maxRank = 64 - p + 1

  override def createAggregationBuffer(): Array[Long] = new Array[Long](m)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val idx = (h & (m - 1)).toInt
      val w = h >>> p
      val rank =
        if (w == 0L) maxRank
        else java.lang.Long.numberOfTrailingZeros(w) + 1
      if (rank > buf(idx)) buf(idx) = rank.toLong
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < m) { if (b2(i) > b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * m)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(m)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "hll_registers_agg"
  override def withNewMutableAggBufferOffset(o: Int): HllRegistersAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllRegistersAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object SketchAggregates {

  def minhashAgg(h: Column, numHashes: Int): Column =
    Shims.column(MinhashAgg(Shims.expression(h), numHashes).toAggregateExpression())

  def vecFixedSumAgg(vec: Column, dim: Int): Column =
    Shims.column(VecFixedSumAgg(Shims.expression(vec), dim).toAggregateExpression())

  def countMinAgg(h: Column, depth: Int, width: Int): Column =
    Shims.column(CountMinAgg(Shims.expression(h), depth, width).toAggregateExpression())

  def hllRegistersAgg(h: Column, p: Int): Column =
    Shims.column(HllRegistersAgg(Shims.expression(h), p).toAggregateExpression())
}
