package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

import graft.plans.FunctionEntry
import org.apache.spark.sql.functions.udf

/** The reference's varbinary encoding/hash scalars (reference: presto-main/
  * .../operator/scalar/VarbinaryFunctions.java), implemented from the
  * published algorithm definitions with the reference test-file vectors as
  * the behavioral spec (presto-main/src/test/.../TestVarbinaryFunctions
  * .java — unit-tested in BinarySpec):
  *
  *   - hex / base64url codecs (`to_hex` uppercase; `from_hex` accepts both
  *     cases, requires even length)
  *   - big-endian fixed-width integer and IEEE-754 float round-trips
  *   - FNV-1 / FNV-1a 32/64 (32-bit results returned as the SIGNED 32-bit
  *     value widened to BIGINT, matching the reference's int cast)
  *   - MurmurHash3 x64 128 (seed 0, two little-endian 64-bit halves)
  *   - SpookyHash V2 32/64 (seed 0, big-endian; 32-bit = low half)
  *   - sha256 / sha512 returning VARBINARY (the reference's typing; Spark's
  *     own `md5`/`sha1`/`sha2` render hex strings — kept as-is because the
  *     shared corpus oracles rely on that, divergence documented in README)
  *   - `key_sampling_percent` (reference: scalar/sql/SimpleSamplingPercent
  *     .java — reinterprets xxhash64(seed 0) bits as a double, % 100 / 100)
  */
object BinaryExtras {

  // ---- hex / base64url ----

  private[functions] def toHex(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length * 2)
    b.foreach(x => sb.append(f"${x & 0xff}%02X"))
    sb.toString
  }

  private[functions] def fromHex(s: String): Array[Byte] = {
    require(s.length % 2 == 0, "invalid input length " + s.length)
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  // ---- big-endian / IEEE-754 ----

  private def be(n: Int)(fill: ByteBuffer => Unit): Array[Byte] = {
    val buf = ByteBuffer.allocate(n).order(ByteOrder.BIG_ENDIAN)
    fill(buf)
    buf.array()
  }

  private def req(b: Array[Byte], n: Int): ByteBuffer = {
    require(b.length == n, s"expected $n-byte input, got ${b.length}")
    ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
  }

  // ---- FNV (public-domain Fowler–Noll–Vo spec) ----

  private[functions] def fnv32(b: Array[Byte], fnv1a: Boolean): Long = {
    var h = 0x811c9dc5
    b.foreach { x =>
      if (fnv1a) { h ^= (x & 0xff); h *= 0x01000193 }
      else { h *= 0x01000193; h ^= (x & 0xff) }
    }
    h.toLong // signed 32-bit widened, like the reference's cast
  }

  private[functions] def fnv64(b: Array[Byte], fnv1a: Boolean): Long = {
    var h = 0xcbf29ce484222325L
    b.foreach { x =>
      if (fnv1a) { h ^= (x & 0xff); h *= 0x100000001b3L }
      else { h *= 0x100000001b3L; h ^= (x & 0xff) }
    }
    h
  }

  // ---- MurmurHash3 x64 128 (Austin Appleby's public-domain spec) ----

  private[functions] def murmur3x64128(data: Array[Byte]): Array[Byte] = {
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    val len = data.length
    val nblocks = len / 16
    var h1 = 0L
    var h2 = 0L
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < nblocks) {
      var k1 = bb.getLong(i * 16)
      var k2 = bb.getLong(i * 16 + 8)
      k1 *= c1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= c2; h1 ^= k1
      h1 = java.lang.Long.rotateLeft(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729
      k2 *= c2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= c1; h2 ^= k2
      h2 = java.lang.Long.rotateLeft(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5
      i += 1
    }
    // tail
    val tail = nblocks * 16
    var k1 = 0L
    var k2 = 0L
    val rem = len & 15
    var j = rem
    while (j > 8) {
      j -= 1
      k2 ^= (data(tail + j) & 0xffL) << ((j - 8) * 8)
    }
    if (rem > 8) { k2 *= c2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= c1; h2 ^= k2 }
    j = math.min(rem, 8)
    while (j > 0) {
      j -= 1
      k1 ^= (data(tail + j) & 0xffL) << (j * 8)
    }
    if (rem > 0) { k1 *= c1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= c2; h1 ^= k1 }

    h1 ^= len; h2 ^= len
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 += h2; h2 += h1
    val out = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    out.putLong(h1); out.putLong(h2)
    out.array()
  }

  private def fmix64(v0: Long): Long = {
    var v = v0
    v ^= v >>> 33; v *= 0xff51afd7ed558ccdL
    v ^= v >>> 33; v *= 0xc4ceb9fe1a85ec53L
    v ^= v >>> 33
    v
  }

  // ---- SpookyHash V2 (Bob Jenkins' public-domain spec) ----

  private val ScConst = 0xdeadbeefdeadbeefL

  private def rot(x: Long, k: Int): Long = java.lang.Long.rotateLeft(x, k)

  /** spooky short-input path (< 192 bytes). State in a 4-slot array. */
  private def spookyShort(data: Array[Byte]): (Long, Long) = {
    val length = data.length
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    var a = 0L; var b = 0L; var c = ScConst; var d = ScConst
    var off = 0
    var remainder = length
    if (length >= 16) {
      while (remainder >= 32) {
        c += bb.getLong(off); d += bb.getLong(off + 8)
        val m = shortMix(a, b, c, d); a = m._1; b = m._2; c = m._3; d = m._4
        a += bb.getLong(off + 16); b += bb.getLong(off + 24)
        off += 32; remainder -= 32
      }
      if (remainder >= 16) {
        c += bb.getLong(off); d += bb.getLong(off + 8)
        val m = shortMix(a, b, c, d); a = m._1; b = m._2; c = m._3; d = m._4
        off += 16; remainder -= 16
      }
    }
    d += length.toLong << 56
    // remainder in [0, 15] — the published fall-through switch
    if (remainder >= 12) {
      var j = remainder
      while (j > 12) { j -= 1; d += (data(off + j) & 0xffL) << ((j - 8) * 8) }
      d += bb.getInt(off + 8) & 0xffffffffL
      c += bb.getLong(off)
    } else if (remainder >= 8) {
      var j = remainder
      while (j > 8) { j -= 1; d += (data(off + j) & 0xffL) << ((j - 8) * 8) }
      c += bb.getLong(off)
    } else if (remainder >= 4) {
      var j = remainder
      while (j > 4) { j -= 1; c += (data(off + j) & 0xffL) << (j * 8) }
      c += bb.getInt(off) & 0xffffffffL
    } else if (remainder >= 1) {
      var j = remainder
      while (j > 0) { j -= 1; c += (data(off + j) & 0xffL) << (j * 8) }
    } else {
      c += ScConst; d += ScConst
    }
    shortEnd(a, b, c, d)
  }

  private def shortMix(a0: Long, b0: Long, c0: Long, d0: Long): (Long, Long, Long, Long) = {
    var a = a0; var b = b0; var c = c0; var d = d0
    c = rot(c, 50); c += d; a ^= c
    d = rot(d, 52); d += a; b ^= d
    a = rot(a, 30); a += b; c ^= a
    b = rot(b, 41); b += c; d ^= b
    c = rot(c, 54); c += d; a ^= c
    d = rot(d, 48); d += a; b ^= d
    a = rot(a, 38); a += b; c ^= a
    b = rot(b, 37); b += c; d ^= b
    c = rot(c, 62); c += d; a ^= c
    d = rot(d, 34); d += a; b ^= d
    a = rot(a, 5); a += b; c ^= a
    b = rot(b, 36); b += c; d ^= b
    (a, b, c, d)
  }

  private def shortEnd(a0: Long, b0: Long, c0: Long, d0: Long): (Long, Long) = {
    var a = a0; var b = b0; var c = c0; var d = d0
    d ^= c; c = rot(c, 15); d += c
    a ^= d; d = rot(d, 52); a += d
    b ^= a; a = rot(a, 26); b += a
    c ^= b; b = rot(b, 51); c += b
    d ^= c; c = rot(c, 28); d += c
    a ^= d; d = rot(d, 9); a += d
    b ^= a; a = rot(a, 47); b += a
    c ^= b; b = rot(b, 54); c += b
    d ^= c; c = rot(c, 32); d += c
    a ^= d; d = rot(d, 25); a += d
    b ^= a; a = rot(a, 63); b += a
    (a, b)
  }

  /** spooky long-input path (>= 192 bytes): 12-lane state. */
  private def spookyLong(data: Array[Byte]): (Long, Long) = {
    val NumVars = 12
    val BlockSize = NumVars * 8 // 96
    val length = data.length
    val h = new Array[Long](NumVars)
    h(0) = 0L; h(3) = 0L; h(6) = 0L; h(9) = 0L // seed1
    h(1) = 0L; h(4) = 0L; h(7) = 0L; h(10) = 0L // seed2
    h(2) = ScConst; h(5) = ScConst; h(8) = ScConst; h(11) = ScConst
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    var off = 0
    var remainder = length
    while (remainder >= BlockSize) {
      mix(bb, off, h)
      off += BlockSize; remainder -= BlockSize
    }
    // final partial block: zero-padded, remainder length in the top byte
    val buf = new Array[Byte](BlockSize)
    System.arraycopy(data, off, buf, 0, remainder)
    buf(BlockSize - 1) = remainder.toByte
    val fb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    end(fb, h)
    (h(0), h(1))
  }

  private def mix(bb: ByteBuffer, off: Int, s: Array[Long]): Unit = {
    val rotations = Array(11, 32, 43, 31, 17, 28, 39, 57, 55, 54, 22, 46)
    var i = 0
    while (i < 12) {
      s(i) += bb.getLong(off + i * 8)
      s((i + 2) % 12) ^= s((i + 10) % 12)
      s((i + 11) % 12) ^= s(i)
      s(i) = rot(s(i), rotations(i))
      s((i + 11) % 12) += s((i + 1) % 12)
      i += 1
    }
  }

  private def endPartial(s: Array[Long]): Unit = {
    val rotations = Array(44, 15, 34, 21, 38, 33, 10, 13, 38, 53, 42, 54)
    var i = 0
    while (i < 12) {
      s((i + 11) % 12) += s((i + 1) % 12)
      s((i + 2) % 12) ^= s((i + 11) % 12)
      s((i + 1) % 12) = rot(s((i + 1) % 12), rotations(i))
      i += 1
    }
  }

  private def end(bb: ByteBuffer, s: Array[Long]): Unit = {
    var i = 0
    while (i < 12) { s(i) += bb.getLong(i * 8); i += 1 }
    endPartial(s); endPartial(s); endPartial(s)
  }

  private[functions] def spooky64(data: Array[Byte]): Long =
    if (data.length < 192) spookyShort(data)._1 else spookyLong(data)._1

  // ---- xxhash64 seed-0 double-bits sampling (SimpleSamplingPercent) ----

  private[functions] def keySamplingPercent(s: String): Double = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 0L)
    (math.abs(java.lang.Double.longBitsToDouble(h)) % 100) / 100.0
  }

  private def digest(algo: String, b: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance(algo).digest(b)

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("to_hex", udf((b: Array[Byte]) => toHex(b))),
    FunctionEntry.udf("from_hex", udf((s: String) => fromHex(s))),
    FunctionEntry.udf("to_base64url", udf((b: Array[Byte]) =>
      java.util.Base64.getUrlEncoder.encodeToString(b))),
    FunctionEntry.udf("from_base64url", udf((s: String) =>
      java.util.Base64.getUrlDecoder.decode(s))),
    FunctionEntry.udf("to_big_endian_32", udf((i: Int) => be(4)(_.putInt(i)))),
    FunctionEntry.udf("from_big_endian_32", udf((b: Array[Byte]) => req(b, 4).getInt)),
    FunctionEntry.udf("to_big_endian_64", udf((i: Long) => be(8)(_.putLong(i)))),
    FunctionEntry.udf("from_big_endian_64", udf((b: Array[Byte]) => req(b, 8).getLong)),
    FunctionEntry.udf("to_ieee754_32", udf((f: Float) => be(4)(_.putFloat(f)))),
    FunctionEntry.udf("from_ieee754_32", udf((b: Array[Byte]) => req(b, 4).getFloat)),
    FunctionEntry.udf("to_ieee754_64", udf((d: Double) => be(8)(_.putDouble(d)))),
    FunctionEntry.udf("from_ieee754_64", udf((b: Array[Byte]) => req(b, 8).getDouble)),
    FunctionEntry.udf("fnv1_32", udf((b: Array[Byte]) => fnv32(b, fnv1a = false))),
    FunctionEntry.udf("fnv1_64", udf((b: Array[Byte]) => fnv64(b, fnv1a = false))),
    FunctionEntry.udf("fnv1a_32", udf((b: Array[Byte]) => fnv32(b, fnv1a = true))),
    FunctionEntry.udf("fnv1a_64", udf((b: Array[Byte]) => fnv64(b, fnv1a = true))),
    FunctionEntry.udf("murmur3_x64_128", udf((b: Array[Byte]) => murmur3x64128(b))),
    FunctionEntry.udf("spooky_hash_v2_64", udf((b: Array[Byte]) => be(8)(_.putLong(spooky64(b))))),
    FunctionEntry.udf("spooky_hash_v2_32", udf((b: Array[Byte]) => be(4)(_.putInt(spooky64(b).toInt)))),
    FunctionEntry.udf("sha256", udf((b: Array[Byte]) => digest("SHA-256", b))),
    FunctionEntry.udf("sha512", udf((b: Array[Byte]) => digest("SHA-512", b))),
    FunctionEntry.udf("key_sampling_percent", udf((s: String) => keySamplingPercent(s))),
  )
}
