package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Round-4 scalar tail that needs JVM logic (reference:
  * function_string_misc.cpp ngram_search; function_string_replace.h
  * replace_empty; function_levenshtein.cpp; parse_data_size (Trino-
  * style); convert_to charset encode; unicode_normalize).
  * Row-local, stateless — shards perfectly; off the codegen hot path.
  */
object MiscFunctions2 extends Serializable {

  /** ngram_search(text, pattern, gram_num): 2·|distinct common n-grams|
    * / (|distinct text grams| + |distinct pattern grams|); 0 when
    * either side is shorter than gram_num (reference
    * function_string_misc.cpp:801-880). */
  private def ngramSearch(text: String, pattern: String, n: Int): Double = {
    if (text == null || pattern == null || n <= 0) return 0d
    if (pattern.length < n || text.length < n) return 0d
    val ps = (0 to pattern.length - n).map(i => pattern.substring(i, i + n)).toSet
    val ts = (0 to text.length - n).map(i => text.substring(i, i + n)).toSet
    2.0 * ts.count(ps.contains) / (ts.size + ps.size)
  }

  /** Damerau-Levenshtein (optimal string alignment) distance. */
  private def damerau(a: String, b: String): Int = {
    val d = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 0 to a.length) d(i)(0) = i
    for (j <- 0 to b.length) d(0)(j) = j
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
      if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
        d(i)(j) = math.min(d(i)(j), d(i - 2)(j - 2) + cost)
    }
    d(a.length)(b.length)
  }

  /** Trino-style parse_data_size('2.3MB') -> bytes (binary 1024 units,
    * decimal exponent allowed). */
  private def parseDataSize(s: String): java.lang.Long = {
    if (s == null) return null
    val m = "^\\s*([0-9]*\\.?[0-9]+)\\s*([A-Za-z]*)\\s*$".r.findFirstMatchIn(s).orNull
    if (m == null) return null
    val v = m.group(1).toDouble
    val mult: Double = m.group(2) match {
      case "" | "B" => 1d
      case "kB" | "KB" | "K" | "k" => 1024d
      case "MB" | "M" => math.pow(1024, 2)
      case "GB" | "G" => math.pow(1024, 3)
      case "TB" | "T" => math.pow(1024, 4)
      case "PB" | "P" => math.pow(1024, 5)
      case "EB" | "E" => math.pow(1024, 6)
      case _ => return null
    }
    java.lang.Long.valueOf(math.floor(v * mult).toLong)
  }

  /** MurmurHash3 x64_128 lanes (the reference's murmur_hash3_128 /
    * murmur_hash3_64_v2 surface — hash_util.hpp:226-235,
    * function_hash.cpp:49-78). Delegates to commons-codec's canonical
    * hash128x64 (same algorithm the reference vendors). */
  def murmur3x64128(data: Array[Byte], seed1: Long, seed2: Long): (Long, Long) = {
    require(seed1 == seed2, "x64_128 init uses one seed for both lanes")
    val out = org.apache.commons.codec.digest.MurmurHash3.hash128x64(
      data, 0, data.length, seed1.toInt)
    (out(0), out(1))
  }

  def udfs: Seq[(String, UserDefinedFunction)] = {
    val u = Seq.newBuilder[(String, UserDefinedFunction)]
    u += "ngram_search" -> udf((t: String, p: String, n: Int) => ngramSearch(t, p, n))
    u += "edit_distance" -> udf((a: String, b: String) =>
      if (a == null || b == null) null
      else java.lang.Integer.valueOf(
        org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance.apply(a, b)))
    u += "levenshtein_distance" -> udf((a: String, b: String) =>
      if (a == null || b == null) null
      else java.lang.Integer.valueOf(
        org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance.apply(a, b)))
    u += "damerau_levenshtein_distance" -> udf((a: String, b: String) =>
      if (a == null || b == null) null else java.lang.Integer.valueOf(damerau(a, b)))
    // replace_empty: like replace, except an EMPTY search string inserts
    // the replacement before every character and at the end
    u += "replace_empty" -> udf((s: String, old: String, nw: String) =>
      if (s == null || old == null || nw == null) null
      else if (old.nonEmpty) s.replace(old, nw)
      else if (nw.isEmpty) s
      else s.map(c => nw + c).mkString + nw)
    u += "parse_data_size" -> udf(parseDataSize _)
    u += "convert_to" -> udf((s: String, charset: String) =>
      if (s == null || charset == null) null
      else try s.getBytes(charset) catch { case _: Exception => null })
    u += "unicode_normalize" -> udf((s: String, form: String) =>
      if (s == null || form == null) null
      else try java.text.Normalizer.normalize(
        s, java.text.Normalizer.Form.valueOf(form.toUpperCase))
      catch { case _: Exception => null })
    // MySQL INSERT(str, pos, len, newstr): 1-based; out-of-range pos
    // returns str unchanged; len beyond end replaces through the end
    u += "mysql_insert" -> udf((s: String, pos: Int, len: Int, nw: String) =>
      if (s == null || nw == null) null
      else if (pos < 1 || pos > s.length) s
      else {
        val start = pos - 1
        val end = if (len < 0 || start + len > s.length) s.length else start + len
        s.substring(0, start) + nw + s.substring(end)
      })
    // MySQL PASSWORD(): '*' + uppercase hex of SHA1(SHA1(pw))
    u += "password" -> udf((s: String) =>
      if (s == null) null
      else {
        val md = java.security.MessageDigest.getInstance("SHA-1")
        val h = md.digest(md.digest(s.getBytes("UTF-8")))
        "*" + h.map("%02X".format(_)).mkString
      })
    u += "normal_cdf" -> udf((mean: Double, sd: Double, x: Double) =>
      0.5 * (1.0 + org.apache.commons.math3.special.Erf.erf(
        (x - mean) / (sd * math.sqrt(2.0)))))
    // ---- encode_as_* / decode_as_varchar (function_encode_varchar.cpp:
    // string bytes land in the integer's HIGH bytes first-char-highest,
    // lowest byte stores size<<1, then the whole value >>1 with the sign
    // bit cleared — so short keys sort/join as cheap integers)
    def encode(s: String, width: Int): java.math.BigInteger = {
      if (s == null) return null
      val bytes = s.getBytes("UTF-8")
      if (bytes.length > width - 1) return null
      var acc = java.math.BigInteger.ZERO
      for (i <- bytes.indices)
        acc = acc.or(java.math.BigInteger.valueOf(bytes(i) & 0xffL)
          .shiftLeft(8 * (width - 1 - i)))
      acc = acc.or(java.math.BigInteger.valueOf((bytes.length << 1) & 0xffL))
      acc.shiftRight(1) // sign bit is already 0 for <= width-1 chars of input
    }
    u += "encode_as_smallint" -> udf((s: String) =>
      Option(encode(s, 2)).map(v => java.lang.Short.valueOf(v.shortValueExact())).orNull)
    u += "encode_as_int" -> udf((s: String) =>
      Option(encode(s, 4)).map(v => java.lang.Integer.valueOf(v.intValueExact())).orNull)
    u += "encode_as_bigint" -> udf((s: String) =>
      Option(encode(s, 8)).map(v => java.lang.Long.valueOf(v.longValueExact())).orNull)
    // ---- uuid <-> int128 (reference uuid functions return LARGEINT =
    // signed int128; our LARGEINT policy is DECIMAL(38,0) with loud
    // rejection beyond 38 digits — SURVEY §7.4)
    u += "uuid_to_int" -> udf(new org.apache.spark.sql.api.java.UDF1[String, java.math.BigDecimal] {
        override def call(s: String): java.math.BigDecimal = {
          if (s == null) return null
          val hex = s.replace("-", "")
          if (hex.length != 32 || !hex.forall(c => Character.digit(c, 16) >= 0)) return null
          val unsigned = new java.math.BigInteger(hex, 16)
          // signed int128 two's-complement view
          val signed =
            if (unsigned.testBit(127)) unsigned.subtract(java.math.BigInteger.ONE.shiftLeft(128))
            else unsigned
          if (signed.abs.toString.length > 38) null else new java.math.BigDecimal(signed)
        }
      },
      org.apache.spark.sql.types.DecimalType(38, 0))
    u += "int_to_uuid" -> udf(new org.apache.spark.sql.api.java.UDF1[java.math.BigDecimal, String] {
        override def call(v: java.math.BigDecimal): String = {
          if (v == null) return null
          val signed = v.toBigIntegerExact
          val unsigned =
            if (signed.signum() < 0) signed.add(java.math.BigInteger.ONE.shiftLeft(128))
            else signed
          val hex = ("0" * 32 + unsigned.toString(16)).takeRight(32)
          s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
            s"${hex.substring(16, 20)}-${hex.substring(20)}"
        }
      },
      org.apache.spark.sql.types.StringType)
    // ---- bitmap/quantile-state name tail (function_bitmap.cpp:
    // bitmap_empty / bitmap_not (= a MINUS b, :551-575) /
    // bitmap_from_array / to_bitmap_with_check; quantile_state codecs
    // ride the state's binary form like bitmap_to/from_base64)
    u += "bitmap_empty" -> udf(() =>
      Bitmaps.ser(new org.roaringbitmap.longlong.Roaring64NavigableMap()))
    u += "bitmap_not" -> udf((a: Array[Byte], b: Array[Byte]) => {
      val x = Bitmaps.deser(a)
      x.andNot(Bitmaps.deser(b))
      Bitmaps.ser(x)
    })
    u += "bitmap_from_array" -> udf((xs: Seq[Long]) => {
      val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
      if (xs != null) xs.foreach(bm.addLong)
      Bitmaps.ser(bm)
    })
    u += "to_bitmap_with_check" -> udf((v: Long) =>
      if (v < 0) throw new IllegalArgumentException(s"to_bitmap_with_check: negative input $v")
      else {
        val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
        bm.addLong(v)
        Bitmaps.ser(bm)
      })
    // lane views of x64_128 (chaining uses the running lanes as seeds,
    // matching the reference's update path); 128-bit forms surface as
    // the int128 decimal string = (h2 << 64) | h1 (LARGEINT policy:
    // beyond-38-digit values cannot ride DECIMAL(38,0), so the string
    // IS the canonical form here — documented)
    u += "murmur_hash3_64_v2" -> udf((s: String) =>
      if (s == null) null
      else java.lang.Long.valueOf(murmur3x64128(s.getBytes("UTF-8"), 0L, 0L)._1))
    u += "murmur_hash3_u64_v2" ->
      udf(new org.apache.spark.sql.api.java.UDF1[String, java.math.BigDecimal] {
        override def call(s: String): java.math.BigDecimal =
          if (s == null) null
          else new java.math.BigDecimal(
            new java.math.BigInteger(java.lang.Long.toUnsignedString(
              murmur3x64128(s.getBytes("UTF-8"), 0L, 0L)._1)))
      },
      org.apache.spark.sql.types.DecimalType(20, 0))
    def pack128(s: String): String =
      if (s == null) null
      else {
        val (h1, h2) = murmur3x64128(s.getBytes("UTF-8"), 0L, 0L)
        val unsigned = new java.math.BigInteger(java.lang.Long.toUnsignedString(h2))
          .shiftLeft(64)
          .or(new java.math.BigInteger(java.lang.Long.toUnsignedString(h1)))
        // signed int128 (LARGEINT) view, as its decimal string
        val signed =
          if (unsigned.testBit(127)) unsigned.subtract(java.math.BigInteger.ONE.shiftLeft(128))
          else unsigned
        signed.toString
      }
    u += "murmur_hash3_128" -> udf(pack128 _)
    u += "murmur_hash3_u128" -> udf((s: String) =>
      if (s == null) null
      else {
        val (h1, h2) = murmur3x64128(s.getBytes("UTF-8"), 0L, 0L)
        new java.math.BigInteger(java.lang.Long.toUnsignedString(h2))
          .shiftLeft(64)
          .or(new java.math.BigInteger(java.lang.Long.toUnsignedString(h1)))
          .toString
      })
    // xxhash_64 / xxhash3_64 live in FunctionRegistry as chained
    // variadic builders over XxHash3Expr (hash of arg N seeded with
    // the hash of args 1..N-1, mirroring the murmur forms)
    // multi_search_all_positions(haystack, needles): 1-based positions,
    // 0 when absent (functions_multi_string_position.cpp)
    u += "multi_search_all_positions" -> udf((s: String, pats: Seq[String]) =>
      if (s == null || pats == null) null
      else pats.map(p => if (p == null) 0L else (s.indexOf(p) + 1).toLong))
    // fresh-per-row randomness: nondeterministic, like Spark's own
    // rand()/uuid(), so subexpression elimination / filter pushdown /
    // retry re-execution never collapse or reorder calls
    u += "random_bytes" -> org.apache.spark.sql.functions.udf((n: Int) => {
        val b = new Array[Byte](math.max(0, n))
        java.util.concurrent.ThreadLocalRandom.current().nextBytes(b)
        b
      }).asNondeterministic()
    u += "uuid_numeric" -> org.apache.spark.sql.functions.udf(
        new org.apache.spark.sql.api.java.UDF0[java.math.BigDecimal] {
          override def call(): java.math.BigDecimal =
            new java.math.BigDecimal(new java.math.BigInteger(126,
              java.util.concurrent.ThreadLocalRandom.current().asInstanceOf[java.util.Random]))
        },
        org.apache.spark.sql.types.DecimalType(38, 0)).asNondeterministic()
    // bounded sleep (the reference blocks for N seconds; capped here so
    // a stray call can never stall an executor)
    u += "sleep" -> udf((secs: Double) => {
      Thread.sleep(math.min(100L, math.max(0L, (secs * 1000).toLong)))
      true
    })
    // auto_partition_name (function_string_misc.cpp:96-300): range ->
    // 'p' + unit-truncated yyyyMMddHHmmss; list -> 'p' + unicode-escaped
    // values ('_' prefix for a leading '-', non-alnum chars as {:02x}
    // code points)
    def escapeListVal(s: String): String = {
      val sb = new StringBuilder
      if (s.nonEmpty && s.charAt(0) == '-') sb.append('_')
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        if (Character.isLetterOrDigit(cp) && cp < 128) sb.append(s.charAt(i))
        else sb.append(f"$cp%02x")
        i += Character.charCount(cp)
      }
      sb.toString
    }
    u += "auto_partition_name" -> udf((typ: String, a: String, b: String) => {
      if (typ == null) null
      else if (typ.startsWith("list"))
        "p" + escapeListVal(Option(a).getOrElse("")) +
          Option(b).map(escapeListVal).getOrElse("")
      else if (typ.startsWith("range")) {
        if (a == null || b == null ||
          !b.matches("^\\d{4}-\\d{2}-\\d{2}( \\d{2}:\\d{2}:\\d{2})?$")) null
        else {
          val parts = Array(b.substring(0, 4), b.substring(5, 7), b.substring(8, 10)) ++
            (if (b.length > 10) Array(b.substring(11, 13), b.substring(14, 16), b.substring(17, 19))
             else Array("00", "00", "00"))
          val keep = a match {
            case "year" => 1; case "month" => 2; case "day" => 3
            case "hour" => 4; case "minute" => 5; case _ => 6
          }
          val norm = parts.zipWithIndex.map { case (p, i) =>
            if (i < keep) p else if (i == 1 || i == 2) "01" else "00"
          }
          "p" + norm.mkString
        }
      } else null
    })
    u += "quantile_state_empty" -> udf(() => Array.emptyByteArray)
    u += "quantile_state_to_base64" -> udf((b: Array[Byte]) =>
      if (b == null) null else java.util.Base64.getEncoder.encodeToString(b))
    u += "quantile_state_from_base64" -> udf((s: String) =>
      if (s == null) null
      else try java.util.Base64.getDecoder.decode(s) catch { case _: Exception => null })
    // explicit Decimal(38,0) — the default BigDecimal inference is
    // (38,18) which overflows for high first bytes
    u += "encode_as_largeint" ->
      udf(new org.apache.spark.sql.api.java.UDF1[String, java.math.BigDecimal] {
        override def call(s: String): java.math.BigDecimal =
          Option(encode(s, 16)).map(v => new java.math.BigDecimal(v)).orNull
      },
      org.apache.spark.sql.types.DecimalType(38, 0))
    // canonical BIGINT decode (the FE dispatches on arg type; BIGINT is
    // the documented canonical form here)
    u += "decode_as_varchar" -> udf((v: java.lang.Long) =>
      if (v == null) null
      else {
        val full = java.math.BigInteger.valueOf(v).shiftLeft(1)
        val size = full.and(java.math.BigInteger.valueOf(0xff)).intValue() >> 1
        if (size < 0 || size > 7) null
        else {
          val out = new Array[Byte](size)
          for (i <- 0 until size)
            out(i) = full.shiftRight(8 * (8 - 1 - i)).and(
              java.math.BigInteger.valueOf(0xff)).byteValue()
          new String(out, "UTF-8")
        }
      })
    u.result()
  }
}
