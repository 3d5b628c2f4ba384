package graft.functions

import java.net.InetAddress

import graft.plans.FunctionEntry
import org.apache.spark.sql.functions.udf

/** IP prefix/subnet scalars (reference: presto-main/.../operator/scalar/
  * IpPrefixFunctions.java). The reference's IPADDRESS/IPPREFIX types are
  * scoped out (SURVEY §1.2 type narrowing), so addresses and prefixes are
  * their canonical VARCHAR forms — same values, string-typed. IPv4 and
  * IPv6 both supported via InetAddress; masking is byte-wise like the
  * reference's.
  *
  *   ip_prefix('192.168.255.255', 9)      → '192.128.0.0/9'
  *   ip_subnet_min('192.64.0.0/9')        → '192.64.0.0'
  *   ip_subnet_max('192.64.0.0/9')        → '192.127.255.255'
  *   ip_subnet_range(p)                   → [min, max]
  *   is_subnet_of('192.64.0.0/9', ip)     → boolean
  */
object IpFunctions {

  // The bytes are parsed directly — never via InetAddress.getByName,
  // whose fallback for any non-literal string is a blocking DNS lookup
  // (a per-row network call at scale, and hostname resolution where the
  // reference raises INVALID_FUNCTION_ARGUMENT). Direct parsing also
  // range-checks every field: '999.0.0.1' is rejected, not resolved.
  private def parse(ip: String): Array[Byte] =
    if (ip.indexOf(':') >= 0) parseV6(ip)
    else parseV4(ip)

  private def parseV4(ip: String): Array[Byte] = {
    val parts = ip.split("\\.", -1)
    require(parts.length == 4, s"Invalid IP address literal: '$ip'")
    val out = new Array[Byte](4)
    var i = 0
    while (i < 4) {
      val p = parts(i)
      // 1-3 ASCII digits (isDigit would admit Unicode digits like '٢',
      // which Integer.parseInt happily parses), no sign, no leading '+'
      // — and the VALUE must fit a byte
      require(p.nonEmpty && p.length <= 3 && p.forall(c => c >= '0' && c <= '9'),
        s"Invalid IP address literal: '$ip'")
      val v = p.toInt
      require(v <= 255, s"Invalid IP address literal: '$ip'")
      out(i) = v.toByte
      i += 1
    }
    out
  }

  private def parseV6(ip: String): Array[Byte] = {
    val bad = s"Invalid IP address literal: '$ip'"
    // split around at most one '::'; each side is ':'-separated groups
    val dcIdx = ip.indexOf("::")
    require(dcIdx < 0 || ip.indexOf("::", dcIdx + 1) < 0, bad)
    def groupsOf(s: String): Array[String] =
      if (s.isEmpty) Array.empty else s.split(":", -1)
    val (headStr, tailStr) =
      if (dcIdx >= 0) (ip.substring(0, dcIdx), ip.substring(dcIdx + 2))
      else (ip, "")
    var head = groupsOf(headStr)
    var tail = groupsOf(tailStr)
    // an embedded dotted-quad may terminate the last group (e.g. ::ffff:1.2.3.4)
    var v4Bytes: Array[Byte] = null
    val last =
      if (dcIdx >= 0) { if (tail.nonEmpty) tail.last else "" }
      else if (head.nonEmpty) head.last else ""
    if (last.indexOf('.') >= 0) {
      v4Bytes = parseV4(last)
      if (dcIdx >= 0) tail = tail.dropRight(1) else head = head.dropRight(1)
    }
    def hex(g: String): Int = {
      require(g.nonEmpty && g.length <= 4 &&
        g.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')),
        bad)
      Integer.parseInt(g, 16)
    }
    val v4Groups = if (v4Bytes == null) 0 else 2
    val named = head.length + tail.length + v4Groups
    require(if (dcIdx >= 0) named < 8 else named == 8, bad)
    require(head.forall(_.nonEmpty) && tail.forall(_.nonEmpty), bad)
    val groups = new Array[Int](8 - v4Groups)
    var i = 0
    head.foreach { g => groups(i) = hex(g); i += 1 }
    i = groups.length - tail.length
    tail.foreach { g => groups(i) = hex(g); i += 1 }
    val out = new Array[Byte](16)
    i = 0
    while (i < groups.length) {
      out(2 * i) = (groups(i) >> 8).toByte
      out(2 * i + 1) = groups(i).toByte
      i += 1
    }
    if (v4Bytes != null) System.arraycopy(v4Bytes, 0, out, 12, 4)
    // IPv4-mapped (::ffff:a.b.c.d) narrows to the 4-byte form, matching
    // java.net's Inet4Address canonicalization the rendering relies on
    val mapped = (0 until 10).forall(out(_) == 0) &&
      out(10) == -1 && out(11) == -1
    if (mapped) java.util.Arrays.copyOfRange(out, 12, 16) else out
  }

  /** Canonical text form: dotted quad for v4; RFC 5952 for v6 (lowercase
    * hex, longest zero run compressed to `::`) — the same rendering the
    * reference's IPADDRESS type uses, where Java's getHostAddress would
    * print every group. */
  private def render(b: Array[Byte]): String =
    if (b.length == 4) InetAddress.getByAddress(b).getHostAddress
    else {
      val groups = Array.tabulate(8)(i =>
        ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff))
      // longest run of zero groups (length >= 2) wins; earliest on ties
      var bestStart = -1; var bestLen = 0
      var i = 0
      while (i < 8) {
        if (groups(i) == 0) {
          var jj = i
          while (jj < 8 && groups(jj) == 0) jj += 1
          if (jj - i > bestLen && jj - i >= 2) { bestStart = i; bestLen = jj - i }
          i = jj
        } else i += 1
      }
      if (bestStart < 0) groups.map(Integer.toHexString).mkString(":")
      else {
        val head = groups.take(bestStart).map(Integer.toHexString).mkString(":")
        val tail = groups.drop(bestStart + bestLen).map(Integer.toHexString).mkString(":")
        s"$head::$tail"
      }
    }

  private def maskLow(b: Array[Byte], bits: Int, high: Boolean): Array[Byte] = {
    val total = b.length * 8
    require(bits >= 0 && bits <= total,
      s"prefix length must be in [0, $total]")
    val out = b.clone()
    var i = bits
    while (i < total) {
      val byteIdx = i / 8
      val bitIdx = 7 - (i % 8)
      if (high) out(byteIdx) = (out(byteIdx) | (1 << bitIdx)).toByte
      else out(byteIdx) = (out(byteIdx) & ~(1 << bitIdx)).toByte
      i += 1
    }
    out
  }

  private def splitPrefix(p: String): (Array[Byte], Int) = {
    val slash = p.lastIndexOf('/')
    require(slash > 0, s"Invalid CIDR: '$p'")
    (parse(p.substring(0, slash)), p.substring(slash + 1).toInt)
  }

  private[functions] def ipPrefix(ip: String, bits: Long): String = {
    val addr = parse(ip)
    render(maskLow(addr, bits.toInt, high = false)) + "/" + bits
  }

  private[functions] def subnetMin(prefix: String): String = {
    val (addr, bits) = splitPrefix(prefix)
    render(maskLow(addr, bits, high = false))
  }

  private[functions] def subnetMax(prefix: String): String = {
    val (addr, bits) = splitPrefix(prefix)
    render(maskLow(addr, bits, high = true))
  }

  /** Second argument is an address, or a prefix (reference overload:
    * IpPrefixFunctions.isPrefixSubnetOf) — a prefix is contained when it
    * is at least as specific and its network sits inside the first. */
  private[functions] def isSubnetOf(prefix: String, ipOrPrefix: String): Boolean = {
    val (addr, bits) = splitPrefix(prefix)
    val (candidate, candBits) =
      if (ipOrPrefix.contains('/')) splitPrefix(ipOrPrefix)
      else (parse(ipOrPrefix), -1)
    require(candidate.length == addr.length,
      "IP address version should be the same")
    if (candBits >= 0 && candBits < bits) false
    else java.util.Arrays.equals(
      maskLow(addr, bits, high = false), maskLow(candidate, bits, high = false))
  }

  /** Canonical IPADDRESS text (reference: type/IpAddressOperators.java
    * castFromVarcharToIpAddress + castToVarchar): parse any spelling —
    * dotted quad, full/compressed v6, embedded dotted quad, v4-mapped —
    * and render the reference's canonical form (dotted quad for v4 and
    * v4-mapped, RFC 5952 for v6). A '/'-bearing input is a PREFIX value
    * (the facade narrows IPPREFIX to canonical text), and
    * CAST(ipprefix AS IPADDRESS) is the network address
    * (IpPrefixOperators.castToIpAddress). */
  def canonAddress(s: String): String =
    if (s.indexOf('/') >= 0) subnetMin(s) else render(parse(s))

  /** 4- or 16-byte varbinary form (IpAddressOperators
    * castFromVarbinaryToIpAddress); a v4-mapped 16-byte value narrows
    * to its dotted quad like the text parse does. */
  def canonAddress(b: Array[Byte]): String = {
    require(b.length == 4 || b.length == 16,
      s"Invalid InetAddress length: ${b.length}")
    val mapped = b.length == 16 && (0 until 10).forall(b(_) == 0) &&
      b(10) == -1 && b(11) == -1
    render(if (mapped) java.util.Arrays.copyOfRange(b, 12, 16) else b)
  }

  /** Canonical IPPREFIX text (reference: type/IpPrefixOperators.java):
    * the NETWORK address — host bits masked off — plus '/len', with the
    * v4 family masked and bounded at 32 bits. An input without '/' is
    * an IPADDRESS value: CAST(ipaddress AS IPPREFIX) is the full-length
    * prefix (castFromIpAddressToIpPrefix). */
  def canonPrefix(s: String): String =
    if (s.indexOf('/') >= 0) {
      val (addr, bits) = splitPrefix(s)
      render(maskLow(addr, bits, high = false)) + "/" + bits
    } else {
      val addr = parse(s)
      render(addr) + "/" + (if (addr.length == 4) 32 else 128)
    }

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("ip_prefix", udf((ip: String, bits: Long) =>
      if (ip == null) null else ipPrefix(ip, bits))),
    FunctionEntry.udf("ip_subnet_min", udf((p: String) =>
      if (p == null) null else subnetMin(p))),
    FunctionEntry.udf("ip_subnet_max", udf((p: String) =>
      if (p == null) null else subnetMax(p))),
    FunctionEntry.udf("ip_subnet_range", udf((p: String) =>
      if (p == null) null else Seq(subnetMin(p), subnetMax(p)))),
    FunctionEntry.udf("is_subnet_of", udf((p: String, ip: String) =>
      if (p == null || ip == null) null
      else java.lang.Boolean.valueOf(isSubnetOf(p, ip)))),
  )
}
