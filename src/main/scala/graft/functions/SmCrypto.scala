package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Chinese national-standard crypto family the reference exposes
  * (be/src/exprs/function/function_encryption.cpp sm4_encrypt/
  * sm4_decrypt, function_string_digest.cpp sm3/sm3sum). Implemented
  * from the published GB/T specs; verified against the standard test
  * vectors (SM3("abc") = 66c7f0f4..., SM4 single-block 0123..fedc ->
  * 681edf34...). ECB + PKCS7 padding, 16-byte key (the reference's
  * default SM4_128_ECB block mode); wrong-size keys -> NULL.
  */
object SmCrypto extends Serializable {

  // ------------------------------------------------------------- SM3

  private def rotl(x: Int, n: Int): Int = Integer.rotateLeft(x, n)
  private def p0(x: Int): Int = x ^ rotl(x, 9) ^ rotl(x, 17)
  private def p1(x: Int): Int = x ^ rotl(x, 15) ^ rotl(x, 23)

  def sm3(msg: Array[Byte]): Array[Byte] = {
    val bitLen = msg.length.toLong * 8
    val padLen = {
      val rem = (msg.length + 1) % 64
      if (rem <= 56) 56 - rem + 1 else 120 - rem + 1
    }
    val total = new Array[Byte](msg.length + padLen + 8)
    System.arraycopy(msg, 0, total, 0, msg.length)
    total(msg.length) = 0x80.toByte
    for (i <- 0 until 8)
      total(total.length - 1 - i) = ((bitLen >>> (8 * i)) & 0xff).toByte

    val v = Array(0x7380166f, 0x4914b2b9, 0x172442d7, 0xda8a0600,
      0xa96f30bc, 0x163138aa, 0xe38dee4d, 0xb0fb0e4e)
    val w = new Array[Int](68)
    val w1 = new Array[Int](64)
    var block = 0
    while (block < total.length / 64) {
      val off = block * 64
      for (i <- 0 until 16)
        w(i) = ((total(off + 4 * i) & 0xff) << 24) | ((total(off + 4 * i + 1) & 0xff) << 16) |
          ((total(off + 4 * i + 2) & 0xff) << 8) | (total(off + 4 * i + 3) & 0xff)
      for (i <- 16 until 68)
        w(i) = p1(w(i - 16) ^ w(i - 9) ^ rotl(w(i - 3), 15)) ^ rotl(w(i - 13), 7) ^ w(i - 6)
      for (i <- 0 until 64) w1(i) = w(i) ^ w(i + 4)
      var Array(a, b, c, d, e, f, g, h) = v
      for (j <- 0 until 64) {
        val t = if (j < 16) 0x79cc4519 else 0x7a879d8a
        val ss1 = rotl((rotl(a, 12) + e + rotl(t, j % 32)) | 0, 7)
        val ss2 = ss1 ^ rotl(a, 12)
        val ff = if (j < 16) a ^ b ^ c else (a & b) | (a & c) | (b & c)
        val gg = if (j < 16) e ^ f ^ g else (e & f) | (~e & g)
        val tt1 = ff + d + ss2 + w1(j)
        val tt2 = gg + h + ss1 + w(j)
        d = c; c = rotl(b, 9); b = a; a = tt1
        h = g; g = rotl(f, 19); f = e; e = p0(tt2)
      }
      v(0) ^= a; v(1) ^= b; v(2) ^= c; v(3) ^= d
      v(4) ^= e; v(5) ^= f; v(6) ^= g; v(7) ^= h
      block += 1
    }
    val out = new Array[Byte](32)
    for (i <- 0 until 8; j <- 0 until 4)
      out(4 * i + j) = ((v(i) >>> (24 - 8 * j)) & 0xff).toByte
    out
  }

  // ------------------------------------------------------------- SM4

  private val SBOX: Array[Int] = Array(
    0xd6, 0x90, 0xe9, 0xfe, 0xcc, 0xe1, 0x3d, 0xb7, 0x16, 0xb6, 0x14, 0xc2, 0x28, 0xfb, 0x2c, 0x05,
    0x2b, 0x67, 0x9a, 0x76, 0x2a, 0xbe, 0x04, 0xc3, 0xaa, 0x44, 0x13, 0x26, 0x49, 0x86, 0x06, 0x99,
    0x9c, 0x42, 0x50, 0xf4, 0x91, 0xef, 0x98, 0x7a, 0x33, 0x54, 0x0b, 0x43, 0xed, 0xcf, 0xac, 0x62,
    0xe4, 0xb3, 0x1c, 0xa9, 0xc9, 0x08, 0xe8, 0x95, 0x80, 0xdf, 0x94, 0xfa, 0x75, 0x8f, 0x3f, 0xa6,
    0x47, 0x07, 0xa7, 0xfc, 0xf3, 0x73, 0x17, 0xba, 0x83, 0x59, 0x3c, 0x19, 0xe6, 0x85, 0x4f, 0xa8,
    0x68, 0x6b, 0x81, 0xb2, 0x71, 0x64, 0xda, 0x8b, 0xf8, 0xeb, 0x0f, 0x4b, 0x70, 0x56, 0x9d, 0x35,
    0x1e, 0x24, 0x0e, 0x5e, 0x63, 0x58, 0xd1, 0xa2, 0x25, 0x22, 0x7c, 0x3b, 0x01, 0x21, 0x78, 0x87,
    0xd4, 0x00, 0x46, 0x57, 0x9f, 0xd3, 0x27, 0x52, 0x4c, 0x36, 0x02, 0xe7, 0xa0, 0xc4, 0xc8, 0x9e,
    0xea, 0xbf, 0x8a, 0xd2, 0x40, 0xc7, 0x38, 0xb5, 0xa3, 0xf7, 0xf2, 0xce, 0xf9, 0x61, 0x15, 0xa1,
    0xe0, 0xae, 0x5d, 0xa4, 0x9b, 0x34, 0x1a, 0x55, 0xad, 0x93, 0x32, 0x30, 0xf5, 0x8c, 0xb1, 0xe3,
    0x1d, 0xf6, 0xe2, 0x2e, 0x82, 0x66, 0xca, 0x60, 0xc0, 0x29, 0x23, 0xab, 0x0d, 0x53, 0x4e, 0x6f,
    0xd5, 0xdb, 0x37, 0x45, 0xde, 0xfd, 0x8e, 0x2f, 0x03, 0xff, 0x6a, 0x72, 0x6d, 0x6c, 0x5b, 0x51,
    0x8d, 0x1b, 0xaf, 0x92, 0xbb, 0xdd, 0xbc, 0x7f, 0x11, 0xd9, 0x5c, 0x41, 0x1f, 0x10, 0x5a, 0xd8,
    0x0a, 0xc1, 0x31, 0x88, 0xa5, 0xcd, 0x7b, 0xbd, 0x2d, 0x74, 0xd0, 0x12, 0xb8, 0xe5, 0xb4, 0xb0,
    0x89, 0x69, 0x97, 0x4a, 0x0c, 0x96, 0x77, 0x7e, 0x65, 0xb9, 0xf1, 0x09, 0xc5, 0x6e, 0xc6, 0x84,
    0x18, 0xf0, 0x7d, 0xec, 0x3a, 0xdc, 0x4d, 0x20, 0x79, 0xee, 0x5f, 0x3e, 0xd7, 0xcb, 0x39, 0x48)

  private val FK = Array(0xa3b1bac6, 0x56aa3350, 0x677d9197, 0xb27022dc)
  private val CK: Array[Int] = Array.tabulate(32) { i =>
    val b = Array.tabulate(4)(j => ((4 * i + j) * 7) % 256)
    (b(0) << 24) | (b(1) << 16) | (b(2) << 8) | b(3)
  }

  private def tau(x: Int): Int = {
    (SBOX((x >>> 24) & 0xff) << 24) | (SBOX((x >>> 16) & 0xff) << 16) |
      (SBOX((x >>> 8) & 0xff) << 8) | SBOX(x & 0xff)
  }
  private def tEnc(x: Int): Int = { val b = tau(x); b ^ rotl(b, 2) ^ rotl(b, 10) ^ rotl(b, 18) ^ rotl(b, 24) }
  private def tKey(x: Int): Int = { val b = tau(x); b ^ rotl(b, 13) ^ rotl(b, 23) }

  private def roundKeys(key: Array[Byte]): Array[Int] = {
    val mk = Array.tabulate(4)(i => ((key(4 * i) & 0xff) << 24) | ((key(4 * i + 1) & 0xff) << 16) |
      ((key(4 * i + 2) & 0xff) << 8) | (key(4 * i + 3) & 0xff))
    val k = new Array[Int](36)
    for (i <- 0 until 4) k(i) = mk(i) ^ FK(i)
    for (i <- 0 until 32) k(i + 4) = k(i) ^ tKey(k(i + 1) ^ k(i + 2) ^ k(i + 3) ^ CK(i))
    k.drop(4)
  }

  private def cryptBlock(in: Array[Byte], off: Int, rk: Array[Int]): Array[Byte] = {
    val x = new Array[Int](36)
    for (i <- 0 until 4)
      x(i) = ((in(off + 4 * i) & 0xff) << 24) | ((in(off + 4 * i + 1) & 0xff) << 16) |
        ((in(off + 4 * i + 2) & 0xff) << 8) | (in(off + 4 * i + 3) & 0xff)
    for (i <- 0 until 32)
      x(i + 4) = x(i) ^ tEnc(x(i + 1) ^ x(i + 2) ^ x(i + 3) ^ rk(i))
    val out = new Array[Byte](16)
    for (i <- 0 until 4; j <- 0 until 4)
      out(4 * i + j) = ((x(35 - i) >>> (24 - 8 * j)) & 0xff).toByte
    out
  }

  def sm4EncryptEcb(plain: Array[Byte], key: Array[Byte]): Array[Byte] = {
    if (plain == null || key == null || key.length != 16) return null
    val rk = roundKeys(key)
    val pad = 16 - (plain.length % 16)
    val padded = plain ++ Array.fill(pad)(pad.toByte)
    val out = new Array[Byte](padded.length)
    for (b <- 0 until padded.length / 16)
      System.arraycopy(cryptBlock(padded, b * 16, rk), 0, out, b * 16, 16)
    out
  }

  def sm4DecryptEcb(cipher: Array[Byte], key: Array[Byte]): Array[Byte] = {
    if (cipher == null || key == null || key.length != 16 ||
      cipher.length == 0 || cipher.length % 16 != 0) return null
    val rk = roundKeys(key).reverse
    val out = new Array[Byte](cipher.length)
    for (b <- 0 until cipher.length / 16)
      System.arraycopy(cryptBlock(cipher, b * 16, rk), 0, out, b * 16, 16)
    val pad = out.last & 0xff
    if (pad < 1 || pad > 16 || pad > out.length) null
    else out.dropRight(pad)
  }

  def udfs: Seq[(String, UserDefinedFunction)] = {
    def hexs(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    Seq(
      "sm3" -> udf((s: String) => if (s == null) null else hexs(sm3(s.getBytes("UTF-8")))),
      "sm3sum" -> udf((s: String) => if (s == null) null else hexs(sm3(s.getBytes("UTF-8")))),
      "sm4_encrypt" -> udf((s: String, key: String) =>
        if (s == null || key == null) null
        else sm4EncryptEcb(s.getBytes("UTF-8"), key.getBytes("UTF-8"))),
      "sm4_decrypt" -> udf((c: Array[Byte], key: String) =>
        if (c == null || key == null) null
        else Option(sm4DecryptEcb(c, key.getBytes("UTF-8")))
          .map(new String(_, "UTF-8")).orNull),
      // raw-block forms for the published standard vectors (no padding)
      "sm4_encrypt_block" -> udf((p: Array[Byte], key: Array[Byte]) =>
        if (p == null || key == null || key.length != 16 || p.length != 16) null
        else cryptBlock(p, 0, roundKeys(key))))
  }
}
