package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-shadowing audit (round-6 verdict item 8): none of graft's
  * functions may silently shadow a Spark builtin with different
  * semantics. This spec takes every name from FunctionRegistry.entries,
  * the one list that reaches a session, and intersects it with Spark's
  * static builtin registry. The intersection must be EXACTLY the
  * reviewed exclusion list below — a new overlap fails here until it is
  * either renamed or reviewed as an intentional, documented override.
  */
class RegistryShadowSpec extends AnyFunSuite {

  /** Reviewed intentional overrides (each entry replaces the builtin, and
    * the registration site documents the semantic diff):
    *  - bitmap_count: Spark 4 counts set bits of a fixed 4KB bitmap
    *    blob; Doris semantics = cardinality of a roaring bitmap
    *    (BitmapFunctions.scala).
    *  - st_asbinary / st_geomfromwkb: Spark 4.1 builtins are
    *    GEOMETRY-typed; this engine's geometry model is WKT strings
    *    matching the reference's st_* surface (GeoFunctions.scala).
    */
  private val reviewedOverrides =
    Set("bitmap_count", "st_asbinary", "st_geomfromwkb")

  test("graft names shadow exactly the reviewed Spark builtins") {
    val builtins = org.apache.spark.sql.catalyst.analysis.FunctionRegistry
      .builtin.listFunction().map(_.funcName.toLowerCase).toSet
    val graftNames = graft.functions.FunctionRegistry.entries.map(_._1.funcName.toLowerCase).toSet
    assert(graftNames.size > 500, s"only ${graftNames.size} graft functions listed")
    val overlap = graftNames.intersect(builtins)
    assert(overlap == reviewedOverrides,
      s"unreviewed builtin shadowing: +${(overlap -- reviewedOverrides).toSeq.sorted}" +
        s" missing=${(reviewedOverrides -- overlap).toSeq.sorted}. Either rename the" +
        " function or review+document the override and add it to reviewedOverrides.")
  }

  test("reviewed overrides actually replace the builtin in a graft session") {
    import TestSpark._
    // bitmap_count on a roaring singleton must be cardinality 1 (Doris
    // semantics), not the popcount of the serialized blob's bytes.
    val r = spark.sql("SELECT bitmap_count(to_bitmap(42L)) AS c").head()
    assert(r.getLong(0) == 1L)
    // st_asbinary must accept a WKT string (the builtin takes GEOMETRY
    // and would reject a bare string with a type error).
    val wkb = spark.sql("SELECT st_asbinary('POINT (1 2)') AS b").head()
      .getAs[Array[Byte]](0)
    assert(wkb != null && wkb.length == 21)
    // and st_geomfromwkb round-trips it back to WKT.
    val df = spark.sql("SELECT st_asbinary('POINT (1 2)') AS b")
    val back = df.selectExpr("st_geomfromwkb(b) AS w").head().getString(0)
    assert(back.contains("POINT"))
  }
}
