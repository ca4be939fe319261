package graft.index

import scala.collection.mutable.ArrayBuffer

/** Delta + variable-byte codec for posting blocks.
  *
  * Encodes monotonically increasing doc ids as first-value +
  * varbyte-encoded positive deltas, and term frequencies as plain
  * varbyte. Standard IR block compression (Manning/IR ch.5); the
  * reference stores its per-doc index rows as a dense float matrix
  * (`src/embedding_generator.py:237-239`) — postings replace that here.
  *
  * All values must be >= 0. Longs use up to 10 bytes (7 bits/byte,
  * high bit = continuation).
  */
object Varbyte {

  def encodeLong(v: Long, out: ArrayBuffer[Byte]): Unit = {
    var x = v
    require(x >= 0, s"varbyte requires non-negative, got $v")
    while ((x & ~0x7fL) != 0L) {
      out += ((x & 0x7f) | 0x80).toByte
      x >>>= 7
    }
    out += x.toByte
  }

  /** Encode an array of non-negative longs. */
  def encode(xs: Array[Long]): Array[Byte] = {
    val out = new ArrayBuffer[Byte](xs.length * 2)
    var i = 0
    while (i < xs.length) { encodeLong(xs(i), out); i += 1 }
    out.toArray
  }

  /** Decode exactly n longs from bytes. */
  def decode(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    decodeInto(bytes, n, out)
    out
  }

  /** Decode exactly n longs from bytes into `out(0 until n)`; `out` is
    * a caller-owned buffer reused across blocks.
    */
  def decodeInto(bytes: Array[Byte], n: Int, out: Array[Long]): Unit = {
    var i = 0
    var p = 0
    while (i < n) {
      var x = 0L
      var shift = 0
      var b = bytes(p)
      p += 1
      while ((b & 0x80) != 0) {
        x |= (b & 0x7fL) << shift
        shift += 7
        b = bytes(p)
        p += 1
      }
      x |= (b & 0x7fL) << shift
      out(i) = x
      i += 1
    }
  }

  /** Delta-encode sorted strictly-increasing doc ids: stores
    * docs(0), then gaps. Gap 0 is invalid (ids strictly increase).
    */
  def encodeDeltas(sortedIds: Array[Long]): Array[Byte] = {
    val out = new ArrayBuffer[Byte](sortedIds.length * 2)
    var prev = 0L
    var i = 0
    while (i < sortedIds.length) {
      val d = if (i == 0) sortedIds(0) else sortedIds(i) - prev
      require(i == 0 || d > 0, s"doc ids must strictly increase at $i")
      encodeLong(d, out)
      prev = sortedIds(i)
      i += 1
    }
    out.toArray
  }

  def decodeDeltas(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    decodeDeltasInto(bytes, n, out)
    out
  }

  /** [[decodeDeltas]] into `out(0 until n)`, as [[decodeInto]]. */
  def decodeDeltasInto(bytes: Array[Byte], n: Int, out: Array[Long]): Unit = {
    decodeInto(bytes, n, out)
    var i = 1
    while (i < n) { out(i) += out(i - 1); i += 1 }
  }

  def encodeInts(xs: Array[Int]): Array[Byte] =
    encode(xs.map(_.toLong))

  def decodeInts(bytes: Array[Byte], n: Int): Array[Int] =
    decode(bytes, n).map(_.toInt)
}
