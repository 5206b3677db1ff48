package graft.functions

import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, Inflater}

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** compress/uncompress (reference: be/src/exprs/function/
  * function_compress.cpp — zlib codec over string columns; Doris
  * prefixes the payload with the uncompressed length, we rely on the
  * zlib stream's own framing instead).
  *
  * The compressed BYTES are deliberately never asserted cross-engine
  * (zlib output depends on library/level); the contract is the
  * roundtrip — uncompress(compress(s)) == s — plus the compressed size
  * being smaller for redundant inputs, which is what the queries check.
  */
object CodecFunctions {

  def compress(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(math.max(32, data.length / 2))
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  def uncompress(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new ByteArrayOutputStream(math.max(32, data.length * 2))
    val buf = new Array[Byte](4096)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && inf.needsInput()) return out.toByteArray // truncated input
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  def udfs: Seq[(String, UserDefinedFunction)] = Seq(
    "compress" -> udf((s: String) =>
      if (s == null) null else compress(s.getBytes("UTF-8"))),
    "uncompress" -> udf((b: Array[Byte]) =>
      if (b == null) null else new String(uncompress(b), "UTF-8")))
}
