package graft.core

import java.io.{ByteArrayOutputStream, DataInputStream, EOFException,
  InputStream, OutputStream}

/** Binary (de)serialization in the reference's dump format, byte-exact, so
  * sketches persisted by this engine are interchangeable with reference
  * dumps and the golden size/round-trip tests hold.
  *
  * Format spec (/root/reference/io.go:94-105):
  *   64-byte header:
  *     bytes  0..7  : ASCII "blobloom"
  *     bytes  8..11 : version, u32 LE, must be 0
  *     bytes 12..15 : number of blocks MINUS ONE, u32 LE (so 2^32 blocks
  *                    are representable)
  *     bytes 16..19 : number of hashes, u32 LE
  *     bytes 20..63 : comment, <= 44 non-zero bytes, zero-padded
  *   then each 512-bit block as sixteen u32 LE words.
  *
  * Load semantics: loading into an existing filter ORs the stream into it —
  * load IS union, which is what makes checkpoints resumable
  * (/root/reference/io.go:151-178). Validation rejects bad magic/version,
  * zero hashes, over-long or NUL-embedded comments, truncated streams, and
  * caps the allocation for hostile headers
  * (/root/reference/io.go:132-143, io_fuzz_test.go:53-57).
  */
object BloomIO {
  import BlockedBloomFilter.{BlockWords}

  final val HeaderLen = 64
  final val MaxCommentLen = 44
  private val Magic = "blobloom".getBytes("US-ASCII")

  /** Serialized size in bytes: 64 * (1 + nblocks) (/root/reference/io_test.go:35-37). */
  def dumpSize(f: BlockedBloomFilter): Long =
    HeaderLen.toLong * (1L + f.numBlocks)

  def dump(f: BlockedBloomFilter, comment: String = ""): Array[Byte] = {
    require(dumpSize(f) <= Int.MaxValue,
      s"dump of ${dumpSize(f)} bytes exceeds a byte array; use dumpTo")
    val out = new ByteArrayOutputStream(dumpSize(f).toInt)
    dumpTo(out, f, comment)
    out.toByteArray
  }

  def dumpTo(out: OutputStream, f: BlockedBloomFilter,
             comment: String = ""): Long = {
    require(f.numBlocks > 0 && f.k > 0, "won't dump uninitialized filter")
    val commentBytes = comment.getBytes("UTF-8")
    require(commentBytes.length <= MaxCommentLen,
      s"comment of length ${commentBytes.length} too long")
    require(!commentBytes.contains(0.toByte),
      s"comment contains zero byte")

    val buf = new Array[Byte](HeaderLen)
    System.arraycopy(Magic, 0, buf, 0, 8)
    // bytes 8..11 stay zero (version 0)
    putU32LE(buf, 12, f.numBlocks - 1)
    putU32LE(buf, 16, f.k)
    System.arraycopy(commentBytes, 0, buf, 20, commentBytes.length)
    out.write(buf)

    var written = HeaderLen.toLong
    val words = f.words
    var w = 0
    while (w < words.length) {
      var j = 0
      while (j < BlockWords) {
        putU32LE(buf, 4 * j, words(w + j))
        j += 1
      }
      out.write(buf)
      written += HeaderLen
      w += BlockWords
    }
    written
  }

  /** Parse and load a dump; if `into` is given, ORs the stream into it
    * (sizes/hashes must match), else allocates a new filter. A header
    * claiming more blocks than the array holds is rejected before any
    * allocation (a 64-byte hostile dump could otherwise ask for ~8 GiB).
    */
  def load(bytes: Array[Byte],
           into: Option[BlockedBloomFilter] = None): BlockedBloomFilter = {
    if (bytes.length >= HeaderLen &&
        bytes.length < HeaderLen * (2L + getU32LE(bytes, 12)))
      throw new IllegalArgumentException("unexpected end of dump")
    loadFrom(new java.io.ByteArrayInputStream(bytes), into)
  }

  def loadFrom(in0: InputStream,
               into: Option[BlockedBloomFilter] = None): BlockedBloomFilter = {
    val in = new DataInputStream(in0)
    val header = readFully(in, HeaderLen)

    var i = 0
    while (i < 8) {
      if (header(i) != Magic(i))
        throw new IllegalArgumentException("not a Bloom filter dump")
      i += 1
    }
    val version = getU32LE(header, 8)
    if (version != 0)
      throw new IllegalArgumentException("unsupported dump version")
    val nblocks = 1L + getU32LE(header, 12)
    val nhashes = getU32LE(header, 16).toInt
    if (nhashes == 0)
      throw new IllegalArgumentException("zero hashes in Bloom filter dump")
    checkCommentBlock(header)

    val f = into match {
      case Some(g) =>
        if (g.numBlocks != nblocks)
          throw new IllegalArgumentException(
            s"filter has ${g.numBlocks} blocks, but dump has $nblocks")
        if (g.k != nhashes)
          throw new IllegalArgumentException(
            s"filter has ${g.k} hashes, but dump has $nhashes")
        g
      case None =>
        if (nblocks * BlockWords > Int.MaxValue)
          throw new IllegalArgumentException(s"$nblocks blocks is too large")
        BlockedBloomFilter.wrap(
          new Array[Int]((nblocks * BlockWords).toInt), nhashes)
    }

    val words = f.words
    val buf = new Array[Byte](HeaderLen)
    var w = 0
    while (w < words.length) {
      readInto(in, buf)
      var j = 0
      while (j < BlockWords) {
        words(w + j) |= getU32LE(buf, 4 * j).toInt // load is union
        j += 1
      }
      w += BlockWords
    }
    f
  }

  /** Comment of a dump (header bytes 20..63 up to the first NUL). */
  def comment(bytes: Array[Byte]): String = {
    require(bytes.length >= HeaderLen, "truncated dump")
    val header = java.util.Arrays.copyOf(bytes, HeaderLen)
    new String(checkCommentBlock(header), "UTF-8")
  }

  private def checkCommentBlock(header: Array[Byte]): Array[Byte] = {
    val block = java.util.Arrays.copyOfRange(header, 20, HeaderLen)
    val eos = block.indexOf(0.toByte)
    if (eos == -1) return block
    var i = eos + 1
    while (i < block.length) {
      if (block(i) != 0)
        throw new IllegalArgumentException("comment block contains zero byte")
      i += 1
    }
    java.util.Arrays.copyOf(block, eos)
  }

  private def readFully(in: DataInputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    readInto(in, buf)
    buf
  }

  private def readInto(in: DataInputStream, buf: Array[Byte]): Unit =
    try in.readFully(buf)
    catch { case _: EOFException =>
      throw new IllegalArgumentException("unexpected end of dump")
    }

  @inline private def putU32LE(buf: Array[Byte], off: Int, v: Int): Unit = {
    buf(off) = v.toByte
    buf(off + 1) = (v >>> 8).toByte
    buf(off + 2) = (v >>> 16).toByte
    buf(off + 3) = (v >>> 24).toByte
  }

  @inline private def getU32LE(buf: Array[Byte], off: Int): Long =
    (buf(off) & 0xFFL) | ((buf(off + 1) & 0xFFL) << 8) |
      ((buf(off + 2) & 0xFFL) << 16) | ((buf(off + 3) & 0xFFL) << 24)
}
