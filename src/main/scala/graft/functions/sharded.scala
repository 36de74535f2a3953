package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, explode, posexplode}
import org.apache.spark.sql.types._
import graft.core._

/** Sharded Bloom filters — the beyond-single-JVM scale path.
  *
  * The reference caps one filter at MaxBits = 256 GiB
  * (/root/reference/bloomfilter.go:49-50); a single JVM buffer caps far
  * lower. For 10^12-key capacity the engine shards the key space by the
  * TOP bits of the hash (the BOTTOM half selects the block inside a
  * shard, /root/reference/bloomfilter.go:95-97, so top-bit sharding stays
  * independent of block selection): shard = h >>> (64 - shardBits).
  * Each shard is an ordinary reference-format filter, so shards dump,
  * load, union, and checkpoint exactly like whole filters — one
  * (group, shard) row per checkpoint — and a probe touches exactly one
  * shard.
  *
  * The aggregate's buffer is the full shard array; eval emits
  * array<binary> (one dump per shard). At very large shard counts,
  * prefer building per-shard rows via groupBy(shard) instead (constant
  * memory per task); this aggregate form is for shard counts whose
  * total buffer fits a task (e.g. 64 shards x 256 MiB).
  */
object sharded {

  @inline def shardOf(h: Long, numShards: Int): Int =
    // top bits; numShards must be a power of two. numShards == 1 needs a
    // special case: JVM long shifts are mod 64, so h >>> (64 - 0) would be
    // h >>> 0, not 0.
    if (numShards == 1) 0
    else (h >>> (64 - Integer.numberOfTrailingZeros(numShards))).toInt

  /** The sharded build over token arrays: its buffer, merge and wire
    * format come from its kind, and its output is one reference-format
    * dump per shard.
    */
  case class BloomShardedAggregate(
      child: Expression, numShards: Int, nbitsPerShard: Long, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends catalyst.TokenArrayAggregate[Array[BlockedBloomFilter]] {
    val kind: catalyst.SketchKind.BloomSharded =
      catalyst.SketchKind.BloomSharded(numShards, nbitsPerShard, k)
    override def prettyName: String = "bloom_agg_sharded"
    override def dataType: DataType = ArrayType(BinaryType, false)

    protected def updateArray(b: Array[BlockedBloomFilter],
                              arr: ArrayData): Unit = {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val h = Hashing.tokenHash(arr.getInt(i))
          b(shardOf(h, numShards)).add(h)
        }
        i += 1
      }
    }

    override def eval(b: Array[BlockedBloomFilter]): Any =
      new GenericArrayData(b.map(f => BloomIO.dump(f): Any))

    def withNewMutableAggBufferOffset(o: Int): BloomShardedAggregate =
      copy(mutableAggBufferOffset = o)
    def withNewInputAggBufferOffset(o: Int): BloomShardedAggregate =
      copy(inputAggBufferOffset = o)
    protected def withNewChildInternal(c: Expression): BloomShardedAggregate =
      copy(child = c)
  }

  /** Build a sharded filter over token arrays: one output row, column
    * `shards` = array<binary>. Total capacity = capacity; each shard is
    * sized for capacity/numShards keys at the given fpr.
    */
  def bloom_agg_sharded(tokens: Column, capacity: Long, fpr: Double,
                        numShards: Int): Column = {
    val (nbits, k) = BloomConfig.optimize(
      math.max(1, capacity / numShards), fpr)
    // cast like every token-array wrapper (functions.scala): the
    // aggregate reads getInt() positionally, so an uncast array<bigint>
    // column would be read at the wrong stride — silent garbage hashes
    catalyst.aggCol(BloomShardedAggregate(
      catalyst.expr(tokens.cast("array<int>")), numShards, nbits, k))
  }

  /** Explode a sharded build into one row per shard — the checkpoint/
    * storage form (shard_id, sketch), each shard independently unionable
    * via bloom_union_agg.
    */
  def toShardRows(built: DataFrame, shardsCol: String = "shards"): DataFrame =
    built.select(posexplode(col(shardsCol)).as(Seq("shard_id", "sketch")))

  /** Shard id column for a 64-bit hash column (top bits, matching
    * [[shardOf]] exactly so row-form and aggregate-form shards hold
    * identical key sets).
    */
  def shardCol(hash: Column, numShards: Int): Column = {
    require(Integer.bitCount(numShards) == 1, "numShards must be a power of 2")
    if (numShards == 1) org.apache.spark.sql.functions.lit(0)
    else org.apache.spark.sql.functions
      // bigint cast first: an int hash column under Java shift semantics
      // would shift mod 32 and select the wrong bits
      .shiftrightunsigned(hash.cast("bigint"),
        64 - Integer.numberOfTrailingZeros(numShards))
      .cast("int")
  }

  /** Row-form sharded build: one (shard_id, sketch) row per shard via
    * groupBy(shard) — constant task memory regardless of shard count,
    * the form for shard counts whose total buffer would not fit a task
    * (256+ shards of large filters). Produces byte-identical per-shard
    * dumps to [[bloom_agg_sharded]] at equal parameters (same hash, same
    * shard selector, same per-shard sizing); ShardedSpec + q21 assert
    * the parity.
    *
    * Cost shape: explodes tokens (|tokens| rows/doc) and shuffles the
    * 8-byte hashes on shard_id — numShards-way balanced by construction
    * (top hash bits are uniform). The aggregate form avoids the explode
    * but holds all shards per task; pick by shardBytes * numShards vs
    * task memory.
    */
  def buildShardRows(tokenDocs: DataFrame, capacity: Long, fpr: Double,
                     numShards: Int,
                     tokensCol: String = "tokens"): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    tokenDocs
      .select(explode(col(tokensCol)).as("t"))
      .select(graft.functions.functions.token_hash64(col("t")).as("h"))
      .withColumn("shard_id", shardCol(col("h"), numShards))
      .groupBy(col("shard_id"))
      .agg(graft.functions.functions.bloom_agg_hash(col("h"),
        math.max(1, capacity / numShards), fpr).as("sketch"))
  }

  /** Driver-side probe handle over collected shard dumps. */
  final class ShardedFilter(shards: Array[BlockedBloomFilter])
      extends Serializable {
    require(Integer.bitCount(shards.length) == 1)
    def has(h: Long): Boolean = shards(shardOf(h, shards.length)).has(h)
    def hasToken(token: Int): Boolean = has(Hashing.tokenHash(token))
    def numShards: Int = shards.length
    def totalBits: Long = shards.map(_.numBits).sum
    def cardinality: Double = shards.map(_.cardinality).sum
  }

  /** Assemble from the COMPLETE ordered dump sequence (the
    * aggregate-form `shards` array, which always carries every shard in
    * position). For row-form output use [[shardedFilterOfRows]] — a
    * bare dump sequence collected from rows loses shard ids and empty
    * shards, and a permuted or gapped sequence probes the wrong shard.
    */
  def shardedFilterOf(dumps: Seq[Array[Byte]]): ShardedFilter =
    new ShardedFilter(dumps.map(d => BloomIO.load(d)).toArray)

  /** Assemble a probe handle from ROW-FORM output (shard_id, sketch).
    * The groupBy build drops empty shards and row order is arbitrary,
    * so shard ids are required: missing shards become EMPTY filters
    * with the same geometry as the present ones (an empty shard never
    * matched any key, so probing it must return false — which an empty
    * filter does).
    */
  def shardedFilterOfRows(rows: Seq[(Int, Array[Byte])],
                          numShards: Int): ShardedFilter = {
    require(Integer.bitCount(numShards) == 1, "numShards must be a power of 2")
    require(rows.nonEmpty, "at least one shard row required")
    require(rows.forall(r => r._1 >= 0 && r._1 < numShards),
      s"shard_id out of range for numShards=$numShards")
    require(rows.map(_._1).distinct.size == rows.size, "duplicate shard_id")
    val loaded = rows.map { case (i, d) => i -> BloomIO.load(d) }.toMap
    val proto = loaded.head._2
    new ShardedFilter(Array.tabulate(numShards)(i =>
      loaded.getOrElse(i, BlockedBloomFilter(proto.numBits, proto.k))))
  }

  /** Codegen probe column against a sharded filter (plan-embedded; the
    * sharded analog of functions.bloomProbe). Above
    * [[shardedProbeBroadcastThreshold]] prefer [[shardedProbeAuto]].
    */
  def shardedProbe(f: ShardedFilter)(hash: Column): Column =
    catalyst.aggColExpr(expressions.ShardedProbe(
      f, catalyst.expr(hash.cast("bigint"))))

  /** Total-bit-array size (bytes) above which shardedProbeAuto ships the
    * shards via a torrent broadcast instead of the serialized plan.
    */
  val shardedProbeBroadcastThreshold: Long = 32L << 20

  /** Probe via an explicit broadcast handle (large shard-set path). */
  def shardedProbeBroadcast(
      bcast: org.apache.spark.broadcast.Broadcast[ShardedFilter])(
      hash: Column): Column =
    catalyst.aggColExpr(expressions.ShardedProbeBroadcast(
      bcast, catalyst.expr(hash.cast("bigint"))))

  /** Plan-embed small shard sets, broadcast large ones — per-row probe
    * cost is identical (codegen either way); only the shipping differs.
    */
  def shardedProbeAuto(spark: org.apache.spark.sql.SparkSession,
                       f: ShardedFilter,
                       threshold: Long = shardedProbeBroadcastThreshold):
      Column => Column =
    if (f.totalBits / 8 <= threshold) shardedProbe(f)
    else shardedProbeBroadcast(spark.sparkContext.broadcast(f))
}
