package graft.functions

import java.net.{Inet4Address, Inet6Address, InetAddress}

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** IP function family (reference: be/src/exprs/function/function_ip
  * .cpp — the ClickHouse-derived surface: ipv4/6 num<->string, inet
  * aliases, to_ipv4/to_ipv6 with _or_null/_or_default error modes,
  * is_ipv4_compat/mapped, cidr-to-range, is_ip_address_in_range,
  * cut_ipv6). The IPv6 numeric form is the 16-byte big-endian BINARY;
  * the IPV4/IPV6 column types surface as their canonical strings
  * (documented type policy).
  *
  * Literal-looking input only (regex-gated before InetAddress so no
  * hostname resolution can ever trigger); unparseable input -> NULL,
  * matching the reference's *_or_null contract.
  */
object Ipv6Functions extends Serializable {

  private val ipv6ish = "^[0-9a-fA-F:.]+$".r

  private def parse6(s: String): Option[Array[Byte]] =
    if (s == null || s.isEmpty || ipv6ish.findFirstIn(s).isEmpty || !s.contains(':')) None
    else try InetAddress.getByName(s) match {
      case a: Inet6Address => Some(a.getAddress)
      case a: Inet4Address => // "::ffff:1.2.3.4" may normalize to v4
        val b = new Array[Byte](16)
        b(10) = -1; b(11) = -1
        System.arraycopy(a.getAddress, 0, b, 12, 4)
        Some(b)
      case _ => None
    } catch { case _: Exception => None }

  /** canonical textual form (RFC 5952: lowercase hex, longest zero run
    * of >= 2 groups compressed to ::) — Java's getHostAddress never
    * compresses, so this is hand-rolled to match the reference. */
  private def format6(b: Array[Byte]): Option[String] =
    if (b == null || b.length != 16) None
    else {
      val groups = (0 until 8).map(i => ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff))
      var bestStart = -1
      var bestLen = 0
      var i = 0
      while (i < 8) {
        if (groups(i) == 0) {
          var j = i
          while (j < 8 && groups(j) == 0) j += 1
          if (j - i > bestLen) { bestLen = j - i; bestStart = i }
          i = j
        } else i += 1
      }
      if (bestLen < 2) Some(groups.map(Integer.toHexString).mkString(":"))
      else Some(groups.take(bestStart).map(Integer.toHexString).mkString(":") +
        "::" + groups.drop(bestStart + bestLen).map(Integer.toHexString).mkString(":"))
    }

  def udfs: Seq[(String, UserDefinedFunction)] = {
    val u = Seq.newBuilder[(String, UserDefinedFunction)]
    u += "ipv6_string_to_num" -> udf((s: String) => parse6(s).orNull)
    u += "ipv6_string_to_num_or_null" -> udf((s: String) => parse6(s).orNull)
    u += "ipv6_num_to_string" -> udf((b: Array[Byte]) => format6(b).orNull)
    u += "is_ipv6_string" -> udf((s: String) =>
      if (s == null) null else java.lang.Boolean.valueOf(parse6(s).isDefined))
    u += "ipv4_to_ipv6" -> udf((s: String) => {
      // ::ffff:a.b.c.d mapping of a dotted-quad
      if (s == null) null
      else {
        val parts = s.split("\\.")
        if (parts.length != 4 || parts.exists(p => p.isEmpty || p.exists(!_.isDigit)
            || p.toIntOption.forall(v => v < 0 || v > 255))) null
        else {
          val b = new Array[Byte](16)
          b(10) = -1; b(11) = -1
          parts.map(_.toInt.toByte).copyToArray(b, 12)
          b
        }
      }
    })
    // cut_ipv6(addr, bytesToCutForIPv6, bytesToCutForIPv4): zero the
    // trailing N bytes (the reference's anonymization cut)
    u += "cut_ipv6" -> udf((b: Array[Byte], cut6: Int, cut4: Int) =>
      if (b == null || b.length != 16) null
      else {
        val isMapped4 = b.take(10).forall(_ == 0) && b(10) == -1.toByte && b(11) == -1.toByte
        val cut = math.min(16, math.max(0, if (isMapped4) cut4 else cut6))
        val out = b.clone()
        var i = 16 - cut
        while (i < 16) { out(i) = 0; i += 1 }
        out
      })
    // ---- IPv4 numeric family + MySQL inet aliases
    u += "inet_aton" -> udf(parse4Num _)
    u += "ipv4_string_to_num_or_null" -> udf(parse4Num _)
    u += "ipv4_string_to_num_or_default" -> udf((s: String) =>
      java.lang.Long.valueOf(Option(parse4Num(s)).map(_.longValue).getOrElse(0L)))
    u += "inet_ntoa" -> udf(format4 _)
    // inet6_aton accepts both families (ClickHouse IPv6StringToNum:
    // dotted-quads map to ::ffff:a.b.c.d)
    def aton6(s: String): Array[Byte] =
      if (s == null) null
      else if (!s.contains(':') && s.contains('.'))
        Option(parse4Num(s)).map(n => mapped4(n.longValue)).orNull
      else parse6(s).orNull
    u += "inet6_aton" -> udf(aton6 _)
    u += "inet6_ntoa" -> udf((b: Array[Byte]) => format6(b).orNull)
    u += "ipv6_string_to_num_or_default" -> udf((s: String) =>
      Option(aton6(s)).getOrElse(new Array[Byte](16)))
    // ---- is_ipv4/is_ipv6 + to_* error modes (IPV4/IPV6 types surface
    // as canonical strings)
    def okay4(s: String): Boolean = parse4Num(s) != null
    def okay6(s: String): Boolean = s != null && parse6(s).isDefined
    u += "is_ipv4" -> udf((s: String) =>
      if (s == null) null else java.lang.Boolean.valueOf(okay4(s)))
    u += "is_ipv4_string" -> udf((s: String) =>
      if (s == null) null else java.lang.Boolean.valueOf(okay4(s)))
    u += "is_ipv6" -> udf((s: String) =>
      if (s == null) null else java.lang.Boolean.valueOf(okay6(s)))
    u += "to_ipv4" -> udf((s: String) =>
      if (okay4(s)) format4(parse4Num(s).longValue)
      else throw new IllegalArgumentException(s"invalid ipv4: $s"))
    u += "to_ipv4_or_null" -> udf((s: String) =>
      if (okay4(s)) format4(parse4Num(s).longValue) else null)
    u += "to_ipv4_or_default" -> udf((s: String) =>
      if (okay4(s)) format4(parse4Num(s).longValue) else "0.0.0.0")
    u += "to_ipv6" -> udf((s: String) =>
      parse6(s).flatMap(format6).getOrElse(
        throw new IllegalArgumentException(s"invalid ipv6: $s")))
    u += "to_ipv6_or_null" -> udf((s: String) =>
      parse6(s).flatMap(format6).orNull)
    u += "to_ipv6_or_default" -> udf((s: String) =>
      parse6(s).flatMap(format6).getOrElse("::"))
    // ---- MySQL binary-16 predicates
    u += "is_ipv4_compat" -> udf((b: Array[Byte]) =>
      if (b == null || b.length != 16) null
      else {
        val last4 = ((b(12) & 0xffL) << 24) | ((b(13) & 0xffL) << 16) |
          ((b(14) & 0xffL) << 8) | (b(15) & 0xffL)
        java.lang.Boolean.valueOf(
          b.take(12).forall(_ == 0) && last4 != 0L && last4 != 1L)
      })
    u += "is_ipv4_mapped" -> udf((b: Array[Byte]) =>
      if (b == null || b.length != 16) null
      else java.lang.Boolean.valueOf(
        b.take(10).forall(_ == 0) && b(10) == -1.toByte && b(11) == -1.toByte))
    // ---- CIDR ranges (struct(min, max) of canonical strings)
    u += "ipv4_cidr_to_range" -> udf((cidr: String) => {
      val r = range4(cidr)
      if (r == null) null else (format4(r._1), format4(r._2))
    })
    u += "ipv6_cidr_to_range" -> udf((cidr: String) => {
      val r = range6(cidr)
      if (r == null) null
      else (format6(r._1).orNull, format6(r._2).orNull)
    })
    // works for both families (ClickHouse isIPAddressInRange)
    u += "is_ip_address_in_range" -> udf((addr: String, cidr: String) => {
      if (addr == null || cidr == null) null
      else if (cidr.contains('.')) {
        val r = range4(cidr)
        val n = parse4Num(addr)
        if (r == null || n == null) java.lang.Boolean.FALSE
        else java.lang.Boolean.valueOf(n >= r._1 && n <= r._2)
      } else {
        val r = range6(cidr)
        val b = parse6(addr).orNull
        if (r == null || b == null) java.lang.Boolean.FALSE
        else java.lang.Boolean.valueOf(
          cmp16(b, r._1) >= 0 && cmp16(b, r._2) <= 0)
      }
    })
    // big-endian uint128 decimal string -> 16-byte binary
    u += "ipv6_from_uint128_string_or_null" -> udf((s: String) =>
      if (s == null) null
      else try {
        val v = new java.math.BigInteger(s.trim)
        if (v.signum() < 0 || v.bitLength() > 128) null
        else {
          val raw = v.toByteArray  // may carry a sign byte / be short
          val out = new Array[Byte](16)
          val src = raw.dropWhile(_ == 0)
          System.arraycopy(src, 0, out, 16 - src.length, src.length)
          out
        }
      } catch { case _: Exception => null })
    u.result()
  }

  // ---------------------------------------------------------- ipv4 utils

  private def parse4Num(s: String): java.lang.Long =
    if (s == null) null
    else {
      val parts = s.split("\\.", -1)
      if (parts.length != 4 || parts.exists(p => p.isEmpty || p.length > 3 ||
          p.exists(!_.isDigit) || p.toInt > 255)) null
      else java.lang.Long.valueOf(
        parts.foldLeft(0L)((acc, p) => (acc << 8) | p.toInt))
    }

  private def format4(n: Long): String =
    s"${(n >> 24) & 255}.${(n >> 16) & 255}.${(n >> 8) & 255}.${n & 255}"

  private def mapped4(n: Long): Array[Byte] = {
    val b = new Array[Byte](16)
    b(10) = -1; b(11) = -1
    b(12) = ((n >> 24) & 255).toByte; b(13) = ((n >> 16) & 255).toByte
    b(14) = ((n >> 8) & 255).toByte; b(15) = (n & 255).toByte
    b
  }

  private def range4(cidr: String): (Long, Long) =
    if (cidr == null) null
    else cidr.split("/", -1) match {
      case Array(ip, len) if len.nonEmpty && len.forall(_.isDigit) && len.toInt <= 32 =>
        Option(parse4Num(ip)).map { n =>
          val mask = if (len.toInt == 0) 0L else (0xffffffffL << (32 - len.toInt)) & 0xffffffffL
          (n & mask, (n & mask) | (~mask & 0xffffffffL))
        }.orNull
      case _ => null
    }

  private def range6(cidr: String): (Array[Byte], Array[Byte]) =
    if (cidr == null) null
    else cidr.split("/", -1) match {
      case Array(ip, len) if len.nonEmpty && len.forall(_.isDigit) && len.toInt <= 128 =>
        parse6(ip).map { b =>
          val lo = b.clone(); val hi = b.clone()
          val l = len.toInt
          var bit = l
          while (bit < 128) {
            val byteIx = bit / 8; val mask = (0x80 >> (bit % 8)).toByte
            lo(byteIx) = (lo(byteIx) & ~mask).toByte
            hi(byteIx) = (hi(byteIx) | mask).toByte
            bit += 1
          }
          (lo, hi)
        }.orNull
      case _ => null
    }

  private def cmp16(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }
}
