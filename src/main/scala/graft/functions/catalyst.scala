package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftglue.glue
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core._

/** Catalyst-native sketch aggregates — the one definition of every
  * sketch aggregate. The Column API (`functions`), the SQL surface
  * (`sql`) and typed Datasets (`.as[Array[Byte]]` over the Column) all
  * plan these.
  *
  * Each sketch's codec lives in one place, its [[SketchKind]]: the
  * sizing parameters plus `empty`, `merge`, `dump`, `load` and `add`
  * (fold one scalar input — a hash, a double or a string). The
  * aggregates take their buffer, merge and wire format from a kind:
  *  - [[UnionAggregate]] re-aggregates dumped sketches of any kind
  *    (load-is-union, /root/reference/io.go:151-178);
  *  - [[ScalarAggregate]] builds any kind from one scalar per row;
  *  - the token-array aggregates ([[TokenArrayAggregate]]) and
  *    [[TupleHashAggregate]] keep their own update loops and take the
  *    rest from their kind;
  *  - [[SketchPanelAggregate]] fuses three kinds over one token pass.
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

  /** One sketch's codec and its sizing parameters. Kinds are case
    * classes, so Catalyst equality and canonicalization still dedupe
    * identical aggregates. A kind applies its core constructor's sizing
    * rules when it is built, so a bad literal fails while the Column is
    * built, before any job starts.
    *
    * @param stem  `prettyName` stem of the aggregates over this kind
    * @param input type of the scalar input [[add]] folds in
    */
  sealed abstract class SketchKind[B](val stem: String, val input: DataType)
      extends Product with Serializable {
    def empty(): B
    def merge(b: B, o: B): B
    def dump(b: B): Array[Byte]
    def load(bytes: Array[Byte]): B
    /** Union one dumped sketch into `b`. */
    def loadInto(b: B, bytes: Array[Byte]): B = merge(b, load(bytes))
    /** Fold one non-null scalar input value (of type [[input]]) into `b`. */
    def add(b: B, v: Any): Unit
  }

  object SketchKind {
    /** Blocked Bloom filter of `nbits` bits and `k` hashes over int64
      * key hashes; the wire format is the reference dump.
      */
    case class Bloom(nbits: Long, k: Int)
        extends SketchKind[BlockedBloomFilter]("bloom", LongType) {
      // k below 2 is clamped, not refused (the reference's rule)
      BlockedBloomFilter.blocksFor(nbits)
      def empty(): BlockedBloomFilter = BlockedBloomFilter(nbits, k)
      def merge(b: BlockedBloomFilter, o: BlockedBloomFilter): BlockedBloomFilter =
        b.union(o)
      def dump(b: BlockedBloomFilter): Array[Byte] = BloomIO.dump(b)
      def load(bytes: Array[Byte]): BlockedBloomFilter = BloomIO.load(bytes)
      // loads the dump's words straight into the buffer: no filter is
      // allocated per input row
      override def loadInto(b: BlockedBloomFilter,
                            bytes: Array[Byte]): BlockedBloomFilter =
        BloomIO.load(bytes, Some(b))
      def add(b: BlockedBloomFilter, v: Any): Unit = b.add(v.asInstanceOf[Long])
    }

    /** `numShards` (a power of two) Bloom filters of `nbitsPerShard`
      * bits, each holding the keys whose top hash bits select it
      * (sharded.shardOf); the wire format is the shard count, then every
      * shard's reference dump.
      */
    case class BloomSharded(numShards: Int, nbitsPerShard: Long, k: Int)
        extends SketchKind[Array[BlockedBloomFilter]]("bloom_sharded", LongType) {
      require(Integer.bitCount(numShards) == 1, "numShards must be a power of 2")
      BlockedBloomFilter.blocksFor(nbitsPerShard)
      def empty(): Array[BlockedBloomFilter] =
        Array.fill(numShards)(BlockedBloomFilter(nbitsPerShard, k))
      def merge(b: Array[BlockedBloomFilter],
                o: Array[BlockedBloomFilter]): Array[BlockedBloomFilter] = {
        var i = 0
        while (i < b.length) { b(i).union(o(i)); i += 1 }
        b
      }
      def dump(b: Array[BlockedBloomFilter]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        val dos = new java.io.DataOutputStream(out)
        dos.writeInt(b.length)
        b.foreach(f => BloomIO.dumpTo(dos, f))
        out.toByteArray
      }
      def load(bytes: Array[Byte]): Array[BlockedBloomFilter] = {
        val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
        Array.fill(in.readInt())(BloomIO.loadFrom(in))
      }
      def add(b: Array[BlockedBloomFilter], v: Any): Unit = {
        val h = v.asInstanceOf[Long]
        b(sharded.shardOf(h, numShards)).add(h)
      }
    }

    /** HyperLogLog of precision `p`; union is register-max (all inputs
      * must share `p`).
      */
    case class Hll(p: Int) extends SketchKind[HyperLogLog]("hll", LongType) {
      HyperLogLog.requirePrecision(p)
      def empty(): HyperLogLog = HyperLogLog(p)
      def merge(b: HyperLogLog, o: HyperLogLog): HyperLogLog = b.merge(o)
      def dump(b: HyperLogLog): Array[Byte] = b.serialize()
      def load(bytes: Array[Byte]): HyperLogLog = HyperLogLog.deserialize(bytes)
      def add(b: HyperLogLog, v: Any): Unit = b.add(v.asInstanceOf[Long])
    }

    /** Count-min sketch; union is counter-add (all inputs must share
      * depth and width).
      */
    case class Cms(depth: Int, width: Int)
        extends SketchKind[CountMinSketch]("cms", LongType) {
      CountMinSketch.requireShape(depth, width)
      def empty(): CountMinSketch = CountMinSketch(depth, width)
      def merge(b: CountMinSketch, o: CountMinSketch): CountMinSketch = b.merge(o)
      def dump(b: CountMinSketch): Array[Byte] = b.serialize()
      def load(bytes: Array[Byte]): CountMinSketch = CountMinSketch.deserialize(bytes)
      def add(b: CountMinSketch, v: Any): Unit = b.add(v.asInstanceOf[Long])
    }

    /** Theta (KMV) distinct sketch — the intersectable distinct counter
      * (core/ThetaSketch.scala); HLL is smaller at equal error but
      * cannot intersect.
      */
    case class Theta(k: Int) extends SketchKind[ThetaSketch]("theta", LongType) {
      ThetaSketch.requireK(k)
      def empty(): ThetaSketch = ThetaSketch(k)
      def merge(b: ThetaSketch, o: ThetaSketch): ThetaSketch = b.merge(o)
      def dump(b: ThetaSketch): Array[Byte] = b.serialize()
      def load(bytes: Array[Byte]): ThetaSketch = ThetaSketch.deserialize(bytes)
      def add(b: ThetaSketch, v: Any): Unit = b.add(v.asInstanceOf[Long])
    }

    /** Tuple sketch — a theta sketch whose retained keys carry additive
      * 64-bit summaries (core/TupleSketch.scala); union sums equal keys.
      * A scalar input is a key hash of weight 1.
      */
    case class Tuple(k: Int) extends SketchKind[TupleSketch]("tuple", LongType) {
      TupleSketch.requireK(k)
      def empty(): TupleSketch = TupleSketch(k)
      def merge(b: TupleSketch, o: TupleSketch): TupleSketch = b.merge(o)
      def dump(b: TupleSketch): Array[Byte] = b.serialize()
      def load(bytes: Array[Byte]): TupleSketch = TupleSketch.deserialize(bytes)
      def add(b: TupleSketch, v: Any): Unit = b.add(v.asInstanceOf[Long], 1L)
    }

    /** Misra-Gries frequent-items sketch (core/FreqSketch.scala) over raw
      * long items (identity, not a hash — MG must return the item) or
      * string items. Deterministic bounds: every reported
      * [lb, lb+maxError] interval brackets the exact count and no item
      * above 2N/k can be missing. `strings` selects the buffer codec;
      * merging a mismatched sketch fails loudly (codec-tag check in
      * FreqSketch.merge).
      */
    case class Freq(k: Int, strings: Boolean)
        extends SketchKind[FreqSketch]("freq", if (strings) StringType else LongType) {
      FreqSketch.requireK(k)
      def empty(): FreqSketch =
        if (strings) FreqSketch.strings(k) else FreqSketch.longs(k)
      def merge(b: FreqSketch, o: FreqSketch): FreqSketch = b.merge(o)
      def dump(b: FreqSketch): Array[Byte] = b.serialize()
      def load(bytes: Array[Byte]): FreqSketch = FreqSketch.deserialize(bytes)
      def add(b: FreqSketch, v: Any): Unit =
        if (strings) b.update(v.asInstanceOf[UTF8String].toString)
        else b.update(java.lang.Long.valueOf(v.asInstanceOf[Long]))
    }

    /** t-digest over doubles. */
    case class TDigest(compression: Double)
        extends SketchKind[graft.core.TDigest]("tdigest", DoubleType) {
      graft.core.TDigest.requireCompression(compression)
      def empty(): graft.core.TDigest = graft.core.TDigest(compression)
      def merge(b: graft.core.TDigest, o: graft.core.TDigest): graft.core.TDigest =
        b.merge(o)
      def dump(b: graft.core.TDigest): Array[Byte] = b.serialize()
      def load(bytes: Array[Byte]): graft.core.TDigest =
        graft.core.TDigest.deserialize(bytes)
      def add(b: graft.core.TDigest, v: Any): Unit = b.add(v.asInstanceOf[Double])
    }

    /** KLL quantile sketch over doubles. */
    case class Kll(k: Int) extends SketchKind[KllSketch]("kll", DoubleType) {
      KllSketch.requireK(k)
      def empty(): KllSketch = KllSketch(k)
      def merge(b: KllSketch, o: KllSketch): KllSketch = b.merge(o)
      def dump(b: KllSketch): Array[Byte] = b.serialize()
      def load(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)
      def add(b: KllSketch, v: Any): Unit = b.add(v.asInstanceOf[Double])
    }
  }
  import SketchKind._

  /** One sketch readback: a core method behind the Column function
    * `name` and the SQL function `graft_name`. Its arguments are the
    * sketch bytes, then at most one of: a second sketch, an int64 hash,
    * a double q or x, a string item. `read` takes their non-null Catalyst
    * values (`b` unused by one-argument ops) and loads the sketches.
    */
  sealed abstract class Accessor(val name: String, val usage: String,
      val dataType: DataType, val inputs: DataType*)(
      val read: (Any, Any) => Any) extends Product with Serializable {
    /** `read` may return null: the core method has no SQL value. */
    def nullResult: Boolean = false
    /** The op's Column over its arguments. */
    def apply(args: Column*): Column = col(SketchAccessor(this, args.map(expr)))
  }

  object Accessor {
    private def bloom(b: Array[Byte]) = BloomIO.load(b)
    private def hll(b: Array[Byte]) = HyperLogLog.deserialize(b)
    private def cms(b: Array[Byte]) = CountMinSketch.deserialize(b)
    private def theta(b: Array[Byte]) = ThetaSketch.deserialize(b)
    private def tuple(b: Array[Byte]) = TupleSketch.deserialize(b)
    private def freq(b: Array[Byte]) = FreqSketch.deserialize(b)
    private def tdigest(b: Array[Byte]) = graft.core.TDigest.deserialize(b)
    private def kll(b: Array[Byte]) = KllSketch.deserialize(b)
    private def load[S](core: Array[Byte] => S, v: Any): S =
      core(v.asInstanceOf[Array[Byte]])

    /** An op over one sketch, loaded by `core`. */
    sealed abstract class Of[S](name: String, usage: String, t: DataType,
        core: Array[Byte] => S)(f: S => Any)
        extends Accessor(name, usage, t, BinaryType)((a, _) => f(load(core, a)))
    /** An op over one sketch and a scalar of type `arg` (Catalyst value V). */
    sealed abstract class With[S, V](name: String, usage: String, t: DataType,
        arg: DataType, core: Array[Byte] => S)(f: (S, V) => Any)
        extends Accessor(name, usage, t, BinaryType, arg)((a, v) =>
          f(load(core, a), v.asInstanceOf[V]))
    /** A set operation over two sketches of one kind: a sketch. */
    sealed abstract class Pair[S](name: String, usage: String,
        core: Array[Byte] => S)(f: (S, S) => Array[Byte])
        extends Accessor(name, usage, BinaryType, BinaryType, BinaryType)(
          (a, b) => f(load(core, a), load(core, b)))

    case object BloomMightContain extends With[BlockedBloomFilter, Long](
      "bloom_might_contain", "(dump, hash64) - membership test of a " +
        "dumped Bloom filter", BooleanType, LongType, bloom)(_.has(_))
    case object BloomCardinality extends Of("bloom_cardinality", "(dump) - " +
      "cardinality estimate of a dumped Bloom filter; null when saturated",
      DoubleType, bloom)({ f =>
      val c = f.cardinality
      if (c.isInfinite) null else c
    }) { override def nullResult: Boolean = true }
    case object BloomUnion extends Pair("bloom_union",
      "(a, b) - Bloom filter dump of the union", bloom)(
      (f, g) => BloomIO.dump(f.union(g)))
    case object BloomIntersect extends Pair("bloom_intersect",
      "(a, b) - Bloom filter dump of the intersection", bloom)(
      (f, g) => BloomIO.dump(f.intersect(g)))
    case object BloomNumBits extends Of("bloom_num_bits",
      "(dump) - bits of a dumped Bloom filter", LongType, bloom)(_.numBits)
    case object BloomIsEmpty extends Of("bloom_is_empty",
      "(dump) - true when no bit is set", BooleanType, bloom)(_.isEmpty)
    case object BloomFprate extends With[BlockedBloomFilter, Long](
      "bloom_fprate", "(dump, nkeys) - modeled false-positive rate after " +
        "nkeys inserts", DoubleType, LongType, bloom)(
      (f, n) => BloomConfig.fpRateAfter(n, f.numBits, f.k))
    case object HllEstimate extends Of("hll_estimate",
      "(sketch) - HyperLogLog distinct estimate", DoubleType, hll)(_.estimate)
    case object HllMerge extends Pair("hll_merge",
      "(a, b) - HyperLogLog sketch of the union", hll)(_.merge(_).serialize())
    case object CmsEstimate extends With[CountMinSketch, Long]("cms_estimate",
      "(sketch, hash64) - count-min frequency estimate", LongType, LongType,
      cms)(_.estimate(_))
    case object CmsTotal extends Of("cms_total",
      "(sketch) - total count-min weight", LongType, cms)(_.total)
    case object ThetaEstimate extends Of("theta_estimate",
      "(sketch) - theta distinct estimate", DoubleType, theta)(_.estimate)
    case object ThetaRetained extends Of("theta_retained", "(sketch) - " +
      "retained entries (the exact distinct count below k)", IntegerType,
      theta)(_.retained)
    case object ThetaUnion extends Pair("theta_union",
      "(a, b) - theta sketch of the union", theta)(_.merge(_).serialize())
    case object ThetaIntersect extends Pair("theta_intersect",
      "(a, b) - theta sketch of the intersection", theta)(
      _.intersect(_).serialize())
    case object ThetaANotB extends Pair("theta_a_not_b",
      "(a, b) - theta sketch of a minus b", theta)(_.aNotB(_).serialize())
    case object TupleEstimate extends Of("tuple_estimate",
      "(sketch) - tuple-sketch distinct-key estimate", DoubleType, tuple)(
      _.estimate)
    case object TupleSumEstimate extends Of("tuple_sum_estimate",
      "(sketch) - tuple-sketch total-weight estimate", DoubleType, tuple)(
      _.sumEstimate)
    case object TupleRetained extends Of("tuple_retained",
      "(sketch) - retained keys of a tuple sketch", IntegerType, tuple)(
      _.retained)
    case object TupleUnion extends Pair("tuple_union", "(a, b) - tuple " +
      "sketch of the union, equal keys summed", tuple)(_.merge(_).serialize())
    case object TupleIntersect extends Pair("tuple_intersect", "(a, b) - " +
      "tuple sketch of the shared keys, summaries summed", tuple)(
      _.intersect(_).serialize())
    case object TupleANotB extends Pair("tuple_a_not_b", "(a, b) - tuple " +
      "sketch of a's keys absent from b, a's summaries", tuple)(
      _.aNotB(_).serialize())
    // items render as strings (decimal for token-id sketches); callers
    // read the struct fields by their names
    case object FreqEntries extends Of("freq_entries",
      "(sketch) - array<struct<item, lower bound, upper bound>>",
      ArrayType(StructType(Seq(StructField("_1", StringType),
        StructField("_2", LongType, nullable = false),
        StructField("_3", LongType, nullable = false)))), freq)(s =>
      new GenericArrayData(s.entries.map { case (item, lb) => InternalRow(
        UTF8String.fromString(s.codec.render(item)), lb, lb + s.maxError) }))
    case object FreqLowerBound extends With[FreqSketch, UTF8String](
      "freq_lower_bound", "(sketch, item) - lower bound on the item's " +
        "weight (0 if absent)", LongType, StringType, freq)((s, i) =>
      s.lowerBound(if (s.codec.tag == 0)
        java.lang.Long.valueOf(i.toString.toLong) else i.toString))
    case object FreqMaxError extends Of("freq_max_error",
      "(sketch) - max error of every freq-sketch bound", LongType, freq)(
      _.maxError)
    case object FreqStreamWeight extends Of("freq_stream_weight",
      "(sketch) - total freq-sketch weight", LongType, freq)(_.streamWeight)
    case object FreqMerge extends Pair("freq_merge",
      "(a, b) - freq sketch of both streams", freq)(_.merge(_).serialize())
    case object TdigestQuantile extends With[graft.core.TDigest, Double](
      "tdigest_quantile", "(sketch, q) - t-digest quantile", DoubleType,
      DoubleType, tdigest)(_.quantile(_))
    case object TdigestCdf extends With[graft.core.TDigest, Double](
      "tdigest_cdf", "(sketch, x) - t-digest fraction of values <= x",
      DoubleType, DoubleType, tdigest)(_.cdf(_))
    case object KllQuantile extends With[KllSketch, Double]("kll_quantile",
      "(sketch, q) - KLL quantile", DoubleType, DoubleType, kll)(_.quantile(_))
    case object KllRank extends With[KllSketch, Double]("kll_rank",
      "(sketch, x) - KLL fraction of values <= x", DoubleType, DoubleType,
      kll)(_.rank(_))

    /** Every op: the one list the Column and SQL surfaces derive from
      * (lazy: an op's constructor reads this object's loaders).
      */
    lazy val all: Seq[Accessor] = Seq(BloomMightContain, BloomCardinality,
      BloomUnion, BloomIntersect, BloomNumBits, BloomIsEmpty, BloomFprate,
      HllEstimate, HllMerge, CmsEstimate, CmsTotal, ThetaEstimate,
      ThetaRetained, ThetaUnion, ThetaIntersect, ThetaANotB, TupleEstimate,
      TupleSumEstimate, TupleRetained, TupleUnion, TupleIntersect,
      TupleANotB, FreqEntries, FreqLowerBound, FreqMaxError,
      FreqStreamWeight, FreqMerge, TdigestQuantile, TdigestCdf, KllQuantile,
      KllRank)
  }

  /** Any [[Accessor]] op over its arguments: the one expression behind
    * every sketch readback. Implicit casts bring the arguments to the
    * op's types (a decimal literal q becomes a double), a null argument
    * gives null, and generated code calls the op through a reference
    * object, as expressions.BloomMightContainDump does.
    */
  case class SketchAccessor(op: Accessor, children: Seq[Expression])
      extends Expression with ImplicitCastInputTypes {
    override def prettyName: String = "graft_" + op.name
    override def inputTypes = op.inputs
    override def dataType: DataType = op.dataType
    override def nullable: Boolean = op.nullResult || children.exists(_.nullable)
    override def nullIntolerant: Boolean = true
    override protected def stringArgs: Iterator[Any] = children.iterator
    override def eval(input: InternalRow): Any = {
      val args = children.map(_.eval(input))
      if (args.contains(null)) null else op.read(args.head, args.lift(1).orNull)
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftOp", op, classOf[Accessor].getName)
      val args = children.map(_.genCode(ctx))
      val result = ctx.freshName("result")
      val call = (args.map(_.value.toString) :+ "null").take(2).mkString(", ")
      import CodeGenerator.{boxedType, defaultValue, javaType}
      ev.copy(code = code"""
        |${args.map(_.code).reduce(_ + _)}
        |boolean ${ev.isNull} = ${args.map(_.isNull).mkString(" || ")};
        |${javaType(dataType)} ${ev.value} = ${defaultValue(dataType)};
        |if (!${ev.isNull}) {
        |  Object $result = $ref.read().apply($call);
        |  ${ev.isNull} = $result == null;
        |  if (!${ev.isNull}) ${ev.value} = (${boxedType(dataType)}) $result;
        |}""".stripMargin)
    }

    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): SketchAccessor = copy(children = c)
  }

  /** A sketch aggregate whose buffer, merge and BinaryType wire output
    * come from its kind.
    */
  abstract class KindAggregate[B] extends TypedImperativeAggregate[B] {
    def kind: SketchKind[B]
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    def createAggregationBuffer(): B = kind.empty()
    def merge(b: B, o: B): B = kind.merge(b, o)
    def eval(b: B): Any = kind.dump(b)
    def serialize(b: B): Array[Byte] = kind.dump(b)
    def deserialize(bytes: Array[Byte]): B = kind.load(bytes)
  }

  /** Union re-aggregation over dumped sketches of one kind (the
    * checkpoint resume path and per-source rollups; all inputs must
    * share the kind's parameters). Null rows are skipped.
    */
  case class UnionAggregate[B](
      child: Expression, kind: SketchKind[B],
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends KindAggregate[B] with UnaryLike[Expression] {
    override def prettyName: String = kind.stem + "_union_agg"
    override def update(b: B, input: InternalRow): B = {
      val v = child.eval(input)
      if (v == null) b else kind.loadInto(b, v.asInstanceOf[Array[Byte]])
    }
    def withNewMutableAggBufferOffset(o: Int): UnionAggregate[B] =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): UnionAggregate[B] =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): UnionAggregate[B] =
      copy(child = c)
  }

  /** Sketch build over one scalar column of the kind's input type
    * (a pre-hashed int64 key, a double or a string). Null rows are
    * skipped.
    */
  case class ScalarAggregate[B](
      child: Expression, kind: SketchKind[B],
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends KindAggregate[B] with UnaryLike[Expression] {
    override def prettyName: String = kind.stem + (kind.input match {
      case LongType => "_agg_hash"
      case StringType => "_agg_str"
      case _ => "_agg"
    })
    override def update(b: B, input: InternalRow): B = {
      val v = child.eval(input)
      if (v != null) kind.add(b, v)
      b
    }
    def withNewMutableAggBufferOffset(o: Int): ScalarAggregate[B] =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): ScalarAggregate[B] =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): ScalarAggregate[B] =
      copy(child = c)
  }

  /** Sketch build over array<int> token columns; null rows and null
    * tokens are skipped. The per-token hash loops stay hand-written per
    * class on purpose: a shared per-element callback would be
    * megamorphic in the hottest loop.
    */
  abstract class TokenArrayAggregate[B] extends KindAggregate[B]
      with UnaryLike[Expression] {
    final override def update(buffer: B, input: InternalRow): B = {
      val v = child.eval(input)
      if (v != null) updateArray(buffer, v.asInstanceOf[ArrayData])
      buffer
    }
    protected def updateArray(buffer: B, arr: ArrayData): Unit
  }

  case class BloomTokensAggregate(
      child: Expression, kind: Bloom,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[BlockedBloomFilter] {
    override def prettyName: String = "bloom_agg_tokens"
    protected def updateArray(b: BlockedBloomFilter, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) b.add(Hashing.tokenHash(arr.getInt(i)))
        i += 1
      }
    }
    def withNewMutableAggBufferOffset(o: Int): BloomTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): BloomTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): BloomTokensAggregate =
      copy(child = c)
  }

  case class HllTokensAggregate(
      child: Expression, kind: Hll,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[HyperLogLog] {
    override def prettyName: String = "hll_agg_tokens"
    protected def updateArray(b: HyperLogLog, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) b.add(Hashing.tokenHash(arr.getInt(i)))
        i += 1
      }
    }
    def withNewMutableAggBufferOffset(o: Int): HllTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): HllTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): HllTokensAggregate =
      copy(child = c)
  }

  case class CmsTokensAggregate(
      child: Expression, kind: Cms,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[CountMinSketch] {
    override def prettyName: String = "cms_agg_tokens"
    protected def updateArray(b: CountMinSketch, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) b.add(Hashing.tokenHash(arr.getInt(i)))
        i += 1
      }
    }
    def withNewMutableAggBufferOffset(o: Int): CmsTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): CmsTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): CmsTokensAggregate =
      copy(child = c)
  }

  case class ThetaTokensAggregate(
      child: Expression, kind: Theta,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[ThetaSketch] {
    override def prettyName: String = "theta_agg_tokens"
    protected def updateArray(b: ThetaSketch, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) b.add(Hashing.tokenHash(arr.getInt(i)))
        i += 1
      }
    }
    def withNewMutableAggBufferOffset(o: Int): ThetaTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): ThetaTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): ThetaTokensAggregate =
      copy(child = c)
  }

  /** Tuple sketch over (key hash, weight) pairs. Weight-null rows count
    * as weight 1 (the "one occurrence" reading); key-null rows are
    * skipped like every other sketch aggregate.
    */
  case class TupleHashAggregate(
      left: Expression, right: Expression, kind: Tuple,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends KindAggregate[TupleSketch]
      with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
    override def prettyName: String = "tuple_agg_hash"
    override def update(b: TupleSketch, input: InternalRow): TupleSketch = {
      val h = left.eval(input)
      if (h != null) {
        val w = right.eval(input)
        b.add(h.asInstanceOf[Long], if (w == null) 1L else w.asInstanceOf[Long])
      }
      b
    }
    def withNewMutableAggBufferOffset(o: Int): TupleHashAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): TupleHashAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): TupleHashAggregate =
      copy(left = newLeft, right = newRight)
  }

  /** Tuple build over token arrays with weight 1 per token occurrence:
    * per-token occurrence mass over the sampled key region.
    */
  case class TupleTokensAggregate(
      child: Expression, kind: Tuple,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[TupleSketch] {
    override def prettyName: String = "tuple_agg_tokens"
    protected def updateArray(b: TupleSketch, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) b.add(Hashing.tokenHash(arr.getInt(i)), 1L)
        i += 1
      }
    }
    def withNewMutableAggBufferOffset(o: Int): TupleTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): TupleTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): TupleTokensAggregate =
      copy(child = c)
  }

  /** Misra-Gries build over token arrays: items are the RAW token ids,
    * weight 1 per occurrence, so the kind must use the long codec.
    */
  case class FreqTokensAggregate(
      child: Expression, kind: Freq,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TokenArrayAggregate[FreqSketch] {
    require(!kind.strings, "freq_agg_tokens takes the long-item codec")
    override def prettyName: String = "freq_agg_tokens"
    protected def updateArray(b: FreqSketch, arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i))
          b.update(java.lang.Long.valueOf(arr.getInt(i).toLong))
        i += 1
      }
    }
    def withNewMutableAggBufferOffset(o: Int): FreqTokensAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): FreqTokensAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): FreqTokensAggregate =
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
      extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
    override def prettyName: String = "minhash_agg_tokens"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    @transient private lazy val seeds = Array.tabulate(numPerms)(MinHash.permSeed)
    def createAggregationBuffer(): Array[Long] = Array.fill(numPerms)(Long.MaxValue)
    override def update(sig: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) updateArray(sig, v.asInstanceOf[ArrayData])
      sig
    }
    private def updateArray(sig: Array[Long], arr: ArrayData): Unit = {
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
      child: Expression, bloom: Bloom, hll: Hll, cms: Cms,
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
      new SketchPanel(bloom.empty(), hll.empty(), cms.empty())

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
      bloom.merge(a.bloom, b.bloom); hll.merge(a.hll, b.hll)
      cms.merge(a.cms, b.cms)
      a
    }

    def eval(b: SketchPanel): Any =
      org.apache.spark.sql.catalyst.InternalRow(
        bloom.dump(b.bloom), hll.dump(b.hll), cms.dump(b.cms))

    def serialize(b: SketchPanel): Array[Byte] = {
      val bl = bloom.dump(b.bloom)
      val hl = hll.dump(b.hll)
      val cm = cms.dump(b.cms)
      val out = java.nio.ByteBuffer.allocate(
        12 + bl.length + hl.length + cm.length)
      out.putInt(bl.length).putInt(hl.length).putInt(cm.length)
      out.put(bl).put(hl).put(cm)
      out.array()
    }

    def deserialize(bytes: Array[Byte]): SketchPanel = {
      val in = java.nio.ByteBuffer.wrap(bytes)
      val nb = in.getInt(); val nh = in.getInt(); val nc = in.getInt()
      def take(n: Int) = { val a = new Array[Byte](n); in.get(a); a }
      new SketchPanel(bloom.load(take(nb)), hll.load(take(nh)),
        cms.load(take(nc)))
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
