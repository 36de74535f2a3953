package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftglue.glue
import org.apache.spark.sql.types._
import graft.core._

/** Catalyst-native sketch aggregates — the one definition of every
  * sketch aggregate. The Column API (`functions`), the SQL surface
  * (`sql`) and typed Datasets (`.as[Array[Byte]]` over the Column) all
  * plan these.
  *
  * A TypedImperativeAggregate reads the input ArrayData IN PLACE inside
  * `update` — no per-row encoder projection, no Array[Int] copy, no boxed
  * round trip (profiling showed the typed-Aggregator (ScalaAggregator)
  * encoder path costing ~6x the sketch kernel itself). Buffers are the
  * sketch objects; Spark serializes them only at the partial->final
  * shuffle boundary, exactly the reference's worker-filter -> tree-Union
  * pattern
  * (/root/reference/example_test.go:179-208).
  *
  * Serialization formats are the engine's stable wire formats (Bloom: the
  * reference dump format, /root/reference/io.go:94-105), so shuffled
  * partials, checkpoint rows, and final outputs are the same bytes.
  */
object catalyst {

  private def col(e: Expression): Column = glue.columnOf(e)
  def expr(c: Column): Expression = glue.expressionOf(c)

  abstract class TokenArrayAggregate[B] extends TypedImperativeAggregate[B]
      with UnaryLike[Expression] {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    final override def update(buffer: B, input: InternalRow): B = {
      val v = child.eval(input)
      if (v != null) updateArray(buffer, v.asInstanceOf[ArrayData])
      buffer
    }
    protected def updateArray(buffer: B, arr: ArrayData): Unit
  }

  /** Scalar-input sibling of [[TokenArrayAggregate]]: BinaryType wire
    * output, non-null, null input rows skipped — the shared scaffolding
    * of every single-value sketch aggregate, so null semantics cannot
    * drift between them. (The per-token hash loops in the array
    * aggregates stay hand-written per class on purpose: a shared
    * per-element callback would be megamorphic in the hottest loop.)
    */
  abstract class ScalarAggregate[B] extends TypedImperativeAggregate[B]
      with UnaryLike[Expression] {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    final override def update(buffer: B, input: InternalRow): B = {
      val v = child.eval(input)
      if (v != null) updateValue(buffer, v)
      buffer
    }
    protected def updateValue(buffer: B, v: Any): Unit
  }

  /** Blocked-Bloom build over array<int> token columns. */
  case class BloomTokensAggregate(
      child: Expression, nbits: Long, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[BlockedBloomFilter] {
    override def prettyName: String = "bloom_agg_tokens"
    def createAggregationBuffer(): BlockedBloomFilter =
      BlockedBloomFilter(nbits, k)
    protected def updateArray(b: BlockedBloomFilter, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) b.add(Hashing.tokenHash(arr.getInt(i)))
        i += 1
      }
    }
    def merge(b: BlockedBloomFilter, o: BlockedBloomFilter): BlockedBloomFilter =
      b.union(o)
    def eval(b: BlockedBloomFilter): Any = BloomIO.dump(b)
    def serialize(b: BlockedBloomFilter): Array[Byte] = BloomIO.dump(b)
    def deserialize(bytes: Array[Byte]): BlockedBloomFilter =
      BloomIO.load(bytes)
    def withNewMutableAggBufferOffset(o: Int): BloomTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): BloomTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): BloomTokensAggregate =
      copy(child = c)
  }

  /** Blocked-Bloom build over pre-hashed int64 key columns. */
  case class BloomHashAggregate(
      child: Expression, nbits: Long, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[BlockedBloomFilter] {
    override def prettyName: String = "bloom_agg_hash"
    def createAggregationBuffer(): BlockedBloomFilter =
      BlockedBloomFilter(nbits, k)
    protected def updateValue(b: BlockedBloomFilter, v: Any): Unit =
      b.add(v.asInstanceOf[Long])
    def merge(b: BlockedBloomFilter, o: BlockedBloomFilter): BlockedBloomFilter =
      b.union(o)
    def eval(b: BlockedBloomFilter): Any = BloomIO.dump(b)
    def serialize(b: BlockedBloomFilter): Array[Byte] = BloomIO.dump(b)
    def deserialize(bytes: Array[Byte]): BlockedBloomFilter =
      BloomIO.load(bytes)
    def withNewMutableAggBufferOffset(o: Int): BloomHashAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): BloomHashAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): BloomHashAggregate =
      copy(child = c)
  }

  /** Bloom union re-aggregation over dump-bytes columns (load-is-union,
    * /root/reference/io.go:151-178).
    */
  case class BloomUnionAggregate(
      child: Expression, nbits: Long, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[BlockedBloomFilter]
      with UnaryLike[Expression] {
    override def prettyName: String = "bloom_union_agg"
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    def createAggregationBuffer(): BlockedBloomFilter =
      BlockedBloomFilter(nbits, k)
    override def update(b: BlockedBloomFilter, input: InternalRow): BlockedBloomFilter = {
      val v = child.eval(input)
      if (v != null) BloomIO.load(v.asInstanceOf[Array[Byte]], Some(b))
      b
    }
    def merge(b: BlockedBloomFilter, o: BlockedBloomFilter): BlockedBloomFilter =
      b.union(o)
    def eval(b: BlockedBloomFilter): Any = BloomIO.dump(b)
    def serialize(b: BlockedBloomFilter): Array[Byte] = BloomIO.dump(b)
    def deserialize(bytes: Array[Byte]): BlockedBloomFilter =
      BloomIO.load(bytes)
    def withNewMutableAggBufferOffset(o: Int): BloomUnionAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): BloomUnionAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): BloomUnionAggregate =
      copy(child = c)
  }

  /** HLL build over array<int> token columns. */
  case class HllTokensAggregate(
      child: Expression, p: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[HyperLogLog] {
    override def prettyName: String = "hll_agg_tokens"
    def createAggregationBuffer(): HyperLogLog = HyperLogLog(p)
    protected def updateArray(b: HyperLogLog, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) b.add(Hashing.tokenHash(arr.getInt(i)))
        i += 1
      }
    }
    def merge(b: HyperLogLog, o: HyperLogLog): HyperLogLog = b.merge(o)
    def eval(b: HyperLogLog): Any = b.serialize()
    def serialize(b: HyperLogLog): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): HyperLogLog =
      HyperLogLog.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): HllTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): HllTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): HllTokensAggregate =
      copy(child = c)
  }

  /** HLL build over pre-hashed int64 key columns. */
  case class HllHashAggregate(
      child: Expression, p: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[HyperLogLog] {
    override def prettyName: String = "hll_agg_hash"
    def createAggregationBuffer(): HyperLogLog = HyperLogLog(p)
    protected def updateValue(b: HyperLogLog, v: Any): Unit =
      b.add(v.asInstanceOf[Long])
    def merge(b: HyperLogLog, o: HyperLogLog): HyperLogLog = b.merge(o)
    def eval(b: HyperLogLog): Any = b.serialize()
    def serialize(b: HyperLogLog): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): HyperLogLog =
      HyperLogLog.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): HllHashAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): HllHashAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): HllHashAggregate =
      copy(child = c)
  }

  /** HLL union re-aggregation over serialized-sketch columns (the panel
    * checkpoint resume path; all inputs must share precision `p`).
    */
  case class HllUnionAggregate(
      child: Expression, p: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[HyperLogLog] {
    override def prettyName: String = "hll_union_agg"
    def createAggregationBuffer(): HyperLogLog = HyperLogLog(p)
    protected def updateValue(b: HyperLogLog, v: Any): Unit =
      b.merge(HyperLogLog.deserialize(v.asInstanceOf[Array[Byte]]))
    def merge(b: HyperLogLog, o: HyperLogLog): HyperLogLog = b.merge(o)
    def eval(b: HyperLogLog): Any = b.serialize()
    def serialize(b: HyperLogLog): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): HyperLogLog =
      HyperLogLog.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): HllUnionAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): HllUnionAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): HllUnionAggregate =
      copy(child = c)
  }

  /** Count-min build over array<int> token columns. */
  case class CmsTokensAggregate(
      child: Expression, depth: Int, width: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[CountMinSketch] {
    override def prettyName: String = "cms_agg_tokens"
    def createAggregationBuffer(): CountMinSketch = CountMinSketch(depth, width)
    protected def updateArray(b: CountMinSketch, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) b.add(Hashing.tokenHash(arr.getInt(i)))
        i += 1
      }
    }
    def merge(b: CountMinSketch, o: CountMinSketch): CountMinSketch = b.merge(o)
    def eval(b: CountMinSketch): Any = b.serialize()
    def serialize(b: CountMinSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): CountMinSketch =
      CountMinSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): CmsTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): CmsTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): CmsTokensAggregate =
      copy(child = c)
  }

  /** Count-min build over pre-hashed int64 key columns. */
  case class CmsHashAggregate(
      child: Expression, depth: Int, width: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[CountMinSketch] {
    override def prettyName: String = "cms_agg_hash"
    def createAggregationBuffer(): CountMinSketch = CountMinSketch(depth, width)
    protected def updateValue(b: CountMinSketch, v: Any): Unit =
      b.add(v.asInstanceOf[Long])
    def merge(b: CountMinSketch, o: CountMinSketch): CountMinSketch = b.merge(o)
    def eval(b: CountMinSketch): Any = b.serialize()
    def serialize(b: CountMinSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): CountMinSketch =
      CountMinSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): CmsHashAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): CmsHashAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): CmsHashAggregate =
      copy(child = c)
  }

  /** Count-min union re-aggregation over serialized-sketch columns
    * (counter-add; all inputs must share depth and width).
    */
  case class CmsUnionAggregate(
      child: Expression, depth: Int, width: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[CountMinSketch] {
    override def prettyName: String = "cms_union_agg"
    def createAggregationBuffer(): CountMinSketch = CountMinSketch(depth, width)
    protected def updateValue(b: CountMinSketch, v: Any): Unit =
      b.merge(CountMinSketch.deserialize(v.asInstanceOf[Array[Byte]]))
    def merge(b: CountMinSketch, o: CountMinSketch): CountMinSketch = b.merge(o)
    def eval(b: CountMinSketch): Any = b.serialize()
    def serialize(b: CountMinSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): CountMinSketch =
      CountMinSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): CmsUnionAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): CmsUnionAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): CmsUnionAggregate =
      copy(child = c)
  }

  /** t-digest build over double columns. */
  case class TDigestAggregate(
      child: Expression, compression: Double,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[TDigest] {
    override def prettyName: String = "tdigest_agg"
    def createAggregationBuffer(): TDigest = TDigest(compression)
    protected def updateValue(b: TDigest, v: Any): Unit =
      b.add(v.asInstanceOf[Double])
    def merge(b: TDigest, o: TDigest): TDigest = b.merge(o)
    def eval(b: TDigest): Any = b.serialize()
    def serialize(b: TDigest): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): TDigestAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): TDigestAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): TDigestAggregate =
      copy(child = c)
  }

  /** KLL build over double columns. */
  case class KllAggregate(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[KllSketch] {
    override def prettyName: String = "kll_agg"
    def createAggregationBuffer(): KllSketch = KllSketch(k)
    protected def updateValue(b: KllSketch, v: Any): Unit =
      b.add(v.asInstanceOf[Double])
    def merge(b: KllSketch, o: KllSketch): KllSketch = b.merge(o)
    def eval(b: KllSketch): Any = b.serialize()
    def serialize(b: KllSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): KllSketch =
      KllSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): KllAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): KllAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): KllAggregate =
      copy(child = c)
  }

  /** Theta (KMV) distinct sketch over array<int> token columns — the
    * intersectable distinct counter (core/ThetaSketch.scala); HLL is
    * smaller at equal error but cannot intersect.
    */
  case class ThetaTokensAggregate(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[ThetaSketch] {
    override def prettyName: String = "theta_agg_tokens"
    def createAggregationBuffer(): ThetaSketch = ThetaSketch(k)
    protected def updateArray(b: ThetaSketch, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) b.add(Hashing.tokenHash(arr.getInt(i)))
        i += 1
      }
    }
    def merge(b: ThetaSketch, o: ThetaSketch): ThetaSketch = b.merge(o)
    def eval(b: ThetaSketch): Any = b.serialize()
    def serialize(b: ThetaSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): ThetaSketch =
      ThetaSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): ThetaTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): ThetaTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): ThetaTokensAggregate =
      copy(child = c)
  }

  /** Theta build over pre-hashed int64 key columns. */
  case class ThetaHashAggregate(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[ThetaSketch] {
    override def prettyName: String = "theta_agg_hash"
    def createAggregationBuffer(): ThetaSketch = ThetaSketch(k)
    protected def updateValue(b: ThetaSketch, v: Any): Unit =
      b.add(v.asInstanceOf[Long])
    def merge(b: ThetaSketch, o: ThetaSketch): ThetaSketch = b.merge(o)
    def eval(b: ThetaSketch): Any = b.serialize()
    def serialize(b: ThetaSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): ThetaSketch =
      ThetaSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): ThetaHashAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): ThetaHashAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): ThetaHashAggregate =
      copy(child = c)
  }

  /** Theta union re-aggregation over serialized-sketch columns (the
    * load-is-union form: roll per-source sketches up to a corpus
    * sketch without touching the corpus).
    */
  case class ThetaUnionAggregate(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[ThetaSketch] {
    override def prettyName: String = "theta_union_agg"
    def createAggregationBuffer(): ThetaSketch = ThetaSketch(k)
    protected def updateValue(b: ThetaSketch, v: Any): Unit =
      b.merge(ThetaSketch.deserialize(v.asInstanceOf[Array[Byte]]))
    def merge(b: ThetaSketch, o: ThetaSketch): ThetaSketch = b.merge(o)
    def eval(b: ThetaSketch): Any = b.serialize()
    def serialize(b: ThetaSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): ThetaSketch =
      ThetaSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): ThetaUnionAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): ThetaUnionAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): ThetaUnionAggregate =
      copy(child = c)
  }

  /** Tuple sketch over (key hash, weight) pairs — a theta sketch whose
    * retained keys carry additive 64-bit summaries (core/TupleSketch
    * .scala). Weight-null rows count as weight 1 (the "one occurrence"
    * reading); key-null rows are skipped like every other sketch
    * aggregate.
    */
  case class TupleHashAggregate(
      left: Expression, right: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[TupleSketch]
      with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
    override def prettyName: String = "tuple_agg_hash"
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    def createAggregationBuffer(): TupleSketch = TupleSketch(k)
    override def update(b: TupleSketch, input: InternalRow): TupleSketch = {
      val h = left.eval(input)
      if (h != null) {
        val w = right.eval(input)
        b.add(h.asInstanceOf[Long], if (w == null) 1L else w.asInstanceOf[Long])
      }
      b
    }
    def merge(b: TupleSketch, o: TupleSketch): TupleSketch = b.merge(o)
    def eval(b: TupleSketch): Any = b.serialize()
    def serialize(b: TupleSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): TupleSketch =
      TupleSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): TupleHashAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): TupleHashAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): TupleHashAggregate =
      copy(left = newLeft, right = newRight)
  }

  /** Tuple build over array<int> token columns with weight 1 per token
    * occurrence: per-token occurrence mass over the sampled key region.
    */
  case class TupleTokensAggregate(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[TupleSketch] {
    override def prettyName: String = "tuple_agg_tokens"
    def createAggregationBuffer(): TupleSketch = TupleSketch(k)
    protected def updateArray(b: TupleSketch, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) b.add(Hashing.tokenHash(arr.getInt(i)), 1L)
        i += 1
      }
    }
    def merge(b: TupleSketch, o: TupleSketch): TupleSketch = b.merge(o)
    def eval(b: TupleSketch): Any = b.serialize()
    def serialize(b: TupleSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): TupleSketch =
      TupleSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): TupleTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): TupleTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): TupleTokensAggregate =
      copy(child = c)
  }

  /** Tuple union re-aggregation over serialized-sketch columns. */
  case class TupleUnionAggregate(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[TupleSketch] {
    override def prettyName: String = "tuple_union_agg"
    def createAggregationBuffer(): TupleSketch = TupleSketch(k)
    protected def updateValue(b: TupleSketch, v: Any): Unit =
      b.merge(TupleSketch.deserialize(v.asInstanceOf[Array[Byte]]))
    def merge(b: TupleSketch, o: TupleSketch): TupleSketch = b.merge(o)
    def eval(b: TupleSketch): Any = b.serialize()
    def serialize(b: TupleSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): TupleSketch =
      TupleSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): TupleUnionAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): TupleUnionAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): TupleUnionAggregate =
      copy(child = c)
  }

  /** Misra-Gries frequent-items sketch over array<int> token columns
    * (core/FreqSketch.scala). Items are the RAW token ids (identity,
    * not a hash — MG must return the item), weight 1 per occurrence.
    * Deterministic bounds: every reported [lb, lb+maxError] interval
    * brackets the exact count and no item above 2N/k can be missing.
    */
  case class FreqTokensAggregate(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[FreqSketch] {
    override def prettyName: String = "freq_agg_tokens"
    def createAggregationBuffer(): FreqSketch = FreqSketch.longs(k)
    protected def updateArray(b: FreqSketch, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i))
          b.update(java.lang.Long.valueOf(arr.getInt(i).toLong))
        i += 1
      }
    }
    def merge(b: FreqSketch, o: FreqSketch): FreqSketch = b.merge(o)
    def eval(b: FreqSketch): Any = b.serialize()
    def serialize(b: FreqSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): FreqSketch =
      FreqSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): FreqTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): FreqTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): FreqTokensAggregate =
      copy(child = c)
  }

  /** Misra-Gries build over string items (words, urls, sources). */
  case class FreqStrAggregate(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[FreqSketch] {
    override def prettyName: String = "freq_agg_str"
    def createAggregationBuffer(): FreqSketch = FreqSketch.strings(k)
    protected def updateValue(b: FreqSketch, v: Any): Unit =
      b.update(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    def merge(b: FreqSketch, o: FreqSketch): FreqSketch = b.merge(o)
    def eval(b: FreqSketch): Any = b.serialize()
    def serialize(b: FreqSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): FreqSketch =
      FreqSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): FreqStrAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): FreqStrAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): FreqStrAggregate =
      copy(child = c)
  }

  /** Freq-sketch merge re-aggregation over serialized-sketch columns
    * (roll per-source heavy-hitter sketches up to a corpus sketch).
    * `stringItems` selects the buffer codec; merging a mismatched
    * sketch fails loudly (codec-tag check in FreqSketch.merge).
    */
  case class FreqUnionAggregate(
      child: Expression, k: Int, stringItems: Boolean,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends ScalarAggregate[FreqSketch] {
    override def prettyName: String = "freq_union_agg"
    def createAggregationBuffer(): FreqSketch =
      if (stringItems) FreqSketch.strings(k) else FreqSketch.longs(k)
    protected def updateValue(b: FreqSketch, v: Any): Unit =
      b.merge(FreqSketch.deserialize(v.asInstanceOf[Array[Byte]]))
    def merge(b: FreqSketch, o: FreqSketch): FreqSketch = b.merge(o)
    def eval(b: FreqSketch): Any = b.serialize()
    def serialize(b: FreqSketch): Array[Byte] = b.serialize()
    def deserialize(bytes: Array[Byte]): FreqSketch =
      FreqSketch.deserialize(bytes)
    def withNewMutableAggBufferOffset(o: Int): FreqUnionAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): FreqUnionAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): FreqUnionAggregate =
      copy(child = c)
  }

  /** Set-level MinHash signature over array<int> token columns: each
    * partial is an element-wise-min fold, merge is element-wise min —
    * the signature of the union of all inputs (Broder 1997
    * mergeability), equal to MinHash.signatureOfTokens of the distinct
    * tokens. Empty input gives all Long.MaxValue.
    */
  case class MinHashTokensAggregate(
      child: Expression, numPerms: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[Array[Long]] {
    override def prettyName: String = "minhash_agg_tokens"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    @transient private lazy val seeds = Array.tabulate(numPerms)(MinHash.permSeed)
    def createAggregationBuffer(): Array[Long] = Array.fill(numPerms)(Long.MaxValue)
    protected def updateArray(sig: Array[Long], arr: ArrayData): Unit = {
      val s = seeds
      var t = 0
      val n = arr.numElements()
      while (t < n) {
        if (!arr.isNullAt(t)) {
          val h = Hashing.tokenHash(arr.getInt(t))
          var i = 0
          while (i < numPerms) {
            val v = Hashing.splitmix64(h ^ s(i))
            if (v < sig(i)) sig(i) = v
            i += 1
          }
        }
        t += 1
      }
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    def eval(sig: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(sig)
    def serialize(sig: Array[Long]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(8 * sig.length)
      buf.asLongBuffer().put(sig)
      buf.array()
    }
    def deserialize(bytes: Array[Byte]): Array[Long] = {
      val sig = new Array[Long](bytes.length / 8)
      java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(sig)
      sig
    }
    def withNewMutableAggBufferOffset(o: Int): MinHashTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): MinHashTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): MinHashTokensAggregate =
      copy(child = c)
  }

  /** Bounded top-k buffer: keeps the k best (score desc, id asc) pairs.
    * Insert is O(k) only when the candidate beats the current worst;
    * typical rows fail the cheap worst-score test.
    */
  final class TopKBuffer(val k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var size = 0
    private var worst = -1 // index of the entry to evict next

    @inline private def better(s1: Double, i1: Long,
                               s2: Double, i2: Long): Boolean =
      s1 > s2 || (s1 == s2 && i1 < i2)

    private def recomputeWorst(): Unit = {
      var w = 0
      var i = 1
      while (i < size) {
        if (better(scores(w), ids(w), scores(i), ids(i))) w = i
        i += 1
      }
      worst = w
    }

    def insert(s: Double, id: Long): Unit = {
      // reject undefined scores outright: a stored NaN never compares
      // better-or-worse, so it could become an unevictable `worst` and
      // freeze the whole buffer. A NaN cosine (NaN/Inf input vector) is
      // not a meaningful neighbor; excluding it keeps the buffer total
      // -ordered (documented deviation from the window form, whose
      // NaN-is-largest ordering would rank garbage first).
      if (java.lang.Double.isNaN(s)) return
      if (size < k) {
        scores(size) = s; ids(size) = id; size += 1
        if (size == k) recomputeWorst()
      } else if (k > 0 && better(s, id, scores(worst), ids(worst))) {
        scores(worst) = s; ids(worst) = id
        recomputeWorst()
      }
    }

    /** Indices of the kept entries in rank order. */
    def ranked: Array[Int] =
      (0 until size).sortBy(i => (-scores(i), ids(i))).toArray
  }

  /** Partial top-k by score: the scale-correct form of
    * `row_number().over(Window.partitionBy(q).orderBy(score))` + filter.
    * A window ranks AFTER shuffling every scored candidate row to its
    * query's partition — at a billion-row corpus that shuffle is the
    * job. This aggregate keeps a k-entry buffer per group per partition
    * (map-side combine), so only k rows per (query, partition) reach the
    * exchange. Emits array<struct<id, score>> best-first; ties break on
    * the lower id, matching the window form exactly — except NaN
    * scores, which are EXCLUDED (the window's NaN-is-largest ordering
    * would rank undefined cosines above every real neighbor).
    */
  case class TopKByScoreAggregate(
      score: Expression, id: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[TopKBuffer] {
    require(k > 0, "k must be positive")
    override def prettyName: String = "topk_by_score"
    override def children: Seq[Expression] = Seq(score, id)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression =
      copy(score = c(0), id = c(1))
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false

    def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

    override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
      val s = score.eval(input)
      val i = id.eval(input)
      if (s != null && i != null)
        b.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
      b
    }

    def merge(a: TopKBuffer, b: TopKBuffer): TopKBuffer = {
      var i = 0
      while (i < b.size) { a.insert(b.scores(i), b.ids(i)); i += 1 }
      a
    }

    def eval(b: TopKBuffer): Any = {
      val order = b.ranked
      new GenericArrayData(order.map { i =>
        org.apache.spark.sql.catalyst.InternalRow(b.ids(i), b.scores(i)): Any
      })
    }

    def serialize(b: TopKBuffer): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(8 + 16 * b.size)
      buf.putInt(b.k).putInt(b.size)
      var i = 0
      while (i < b.size) {
        buf.putDouble(b.scores(i)).putLong(b.ids(i)); i += 1
      }
      buf.array()
    }

    def deserialize(bytes: Array[Byte]): TopKBuffer = {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      val out = new TopKBuffer(buf.getInt())
      val n = buf.getInt()
      var i = 0
      while (i < n) {
        val s = buf.getDouble(); val id = buf.getLong()
        out.insert(s, id); i += 1
      }
      out
    }

    def withNewMutableAggBufferOffset(o: Int): TopKByScoreAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): TopKByScoreAggregate =
      copy(inputAggBufferOffset = o)
  }

  /** Mutable buffer of the fused panel aggregate. */
  final class SketchPanel(val bloom: BlockedBloomFilter,
                          val hll: HyperLogLog,
                          val cms: CountMinSketch)

  /** Fused sketch panel: Bloom + HLL + CMS built in ONE pass over the
    * token arrays — one ArrayData traversal and one token hash per
    * token instead of three (the per-token hash and array access are a
    * real fraction of the build at full width; the three-aggregate form
    * pays them 3x). Emits struct(bloom, hll, cms) with each field in
    * the same wire format as the standalone aggregates, so the fused
    * build is byte-identical to three separate builds (q07-checked).
    */
  case class SketchPanelAggregate(
      child: Expression, nbits: Long, k: Int, p: Int,
      depth: Int, width: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[SketchPanel]
      with UnaryLike[Expression] {
    override def prettyName: String = "sketch_panel_agg"
    override def dataType: DataType = StructType(Seq(
      StructField("bloom", BinaryType, nullable = false),
      StructField("hll", BinaryType, nullable = false),
      StructField("cms", BinaryType, nullable = false)))
    override def nullable: Boolean = false

    def createAggregationBuffer(): SketchPanel =
      new SketchPanel(BlockedBloomFilter(nbits, k), HyperLogLog(p),
        CountMinSketch(depth, width))

    override def update(b: SketchPanel, input: InternalRow): SketchPanel = {
      val v = child.eval(input)
      if (v != null) {
        val arr = v.asInstanceOf[ArrayData]
        val bloom = b.bloom; val hll = b.hll; val cms = b.cms
        var i = 0
        val n = arr.numElements()
        while (i < n) {
          if (!arr.isNullAt(i)) {
            val h = Hashing.tokenHash(arr.getInt(i))
            bloom.add(h); hll.add(h); cms.add(h)
          }
          i += 1
        }
      }
      b
    }

    def merge(a: SketchPanel, b: SketchPanel): SketchPanel = {
      a.bloom.union(b.bloom); a.hll.merge(b.hll); a.cms.merge(b.cms)
      a
    }

    def eval(b: SketchPanel): Any =
      org.apache.spark.sql.catalyst.InternalRow(
        BloomIO.dump(b.bloom), b.hll.serialize(), b.cms.serialize())

    def serialize(b: SketchPanel): Array[Byte] = {
      val bloom = BloomIO.dump(b.bloom)
      val hll = b.hll.serialize()
      val cms = b.cms.serialize()
      val out = java.nio.ByteBuffer.allocate(
        12 + bloom.length + hll.length + cms.length)
      out.putInt(bloom.length).putInt(hll.length).putInt(cms.length)
      out.put(bloom).put(hll).put(cms)
      out.array()
    }

    def deserialize(bytes: Array[Byte]): SketchPanel = {
      val in = java.nio.ByteBuffer.wrap(bytes)
      val nb = in.getInt(); val nh = in.getInt(); val nc = in.getInt()
      def take(n: Int) = { val a = new Array[Byte](n); in.get(a); a }
      new SketchPanel(BloomIO.load(take(nb)),
        HyperLogLog.deserialize(take(nh)),
        CountMinSketch.deserialize(take(nc)))
    }

    def withNewMutableAggBufferOffset(o: Int): SketchPanelAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): SketchPanelAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): SketchPanelAggregate =
      copy(child = c)
  }

  /** Wall-clock build-time metric: milliseconds from the first row folded
    * into any contributing partial buffer to final evaluation. The buffer
    * carries the earliest first-row timestamp across merges, so the
    * emitted value is the true wall-clock span of the group's build —
    * measured on the executors, not at plan-construction time.
    */
  case class BuildMillisAggregate(
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] {
    override def prettyName: String = "build_millis_agg"
    override def children: Seq[Expression] = Nil
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = this
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    def createAggregationBuffer(): Array[Long] = Array(Long.MaxValue)
    override def update(b: Array[Long], input: InternalRow): Array[Long] = {
      if (b(0) == Long.MaxValue) b(0) = System.currentTimeMillis()
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      a(0) = math.min(a(0), b(0)); a
    }
    // first-row time is read on a MAP executor and the delta on the
    // executor evaluating the final merge: on a multi-node cluster NTP
    // drift between those machines biases the reading by the skew (and
    // it includes shuffle/scheduler wait). Clamp at 0 so skew can never
    // produce a negative duration; treat the metric as wall-clock-
    // -including-skew, fine for lineage bookkeeping, not profiling.
    def eval(b: Array[Long]): Any =
      if (b(0) == Long.MaxValue) 0L
      else math.max(0L, System.currentTimeMillis() - b(0))
    def serialize(b: Array[Long]): Array[Byte] = {
      val out = new Array[Byte](8)
      var i = 0
      while (i < 8) { out(i) = (b(0) >>> (8 * (7 - i))).toByte; i += 1 }
      out
    }
    def deserialize(bytes: Array[Byte]): Array[Long] = {
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (bytes(i) & 0xFFL); i += 1 }
      Array(v)
    }
    def withNewMutableAggBufferOffset(o: Int): BuildMillisAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): BuildMillisAggregate =
      copy(inputAggBufferOffset = o)
  }

  /** Column form of [[BuildMillisAggregate]]. */
  def buildMillis(): Column = aggCol(BuildMillisAggregate())

  // ---- Column wrappers ----

  def aggCol(a: TypedImperativeAggregate[_]): Column =
    col(a.toAggregateExpression())

  def aggColExpr(e: Expression): Column = col(e)
}
