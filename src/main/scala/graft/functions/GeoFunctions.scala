package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Geo function subset (reference: be/src/exprs/function/geo/
  * functions_geo.cpp over Google S2 — st_point/st_x/st_y/st_astext/
  * WKT parsers/st_contains/st_distance_sphere/st_angle_sphere/st_angle/
  * st_azimuth/st_length/st_area_*). Geometry representation: canonical
  * WKT strings (POINT/LINESTRING/POLYGON + the reference's CIRCLE
  * extension). Sphere math matches S2Earth: great-circle angles on the
  * unit sphere scaled by R = 6371.01 km (geo_types.cpp:624-675).
  * Spherical polygon area via Girard/l'Huilier excess — the same model
  * S2 integrates exactly; small-polygon agreement is to ~1e-9 relative.
  * Row-local scalar UDFs: no state, shards perfectly.
  */
object GeoFunctions extends Serializable {

  private val R = 6371010.0 // S2Earth radius in meters (6371.01 km)

  // ------------------------------------------------------------- parsing

  private def fmt(d: Double): String =
    if (d == math.floor(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** parse "x y" pairs from a WKT coordinate list */
  private def coords(s: String): Array[(Double, Double)] =
    s.split(",").map { p =>
      val xy = p.trim.split("\\s+")
      (xy(0).toDouble, xy(1).toDouble)
    }

  sealed private trait Geom
  private case class GPoint(x: Double, y: Double) extends Geom
  private case class GLine(pts: Array[(Double, Double)]) extends Geom
  private case class GPoly(ring: Array[(Double, Double)]) extends Geom
  private case class GCircle(x: Double, y: Double, r: Double) extends Geom

  private def parse(wkt: String): Option[Geom] = {
    if (wkt == null) return None
    val s = wkt.trim
    val u = s.toUpperCase
    try {
      if (u.startsWith("POINT")) {
        val inner = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        val c = coords(inner)
        if (c.length == 1) Some(GPoint(c(0)._1, c(0)._2)) else None
      } else if (u.startsWith("LINESTRING")) {
        val inner = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        val c = coords(inner)
        if (c.length >= 2) Some(GLine(c)) else None
      } else if (u.startsWith("POLYGON")) {
        val outer = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')')).trim
        // outer ring only (reference subset); strip its parens
        val inner = outer.substring(outer.indexOf('(') + 1,
          if (outer.indexOf(')') >= 0) outer.indexOf(')') else outer.length)
        val c = coords(inner)
        if (c.length >= 4 && c.head == c.last) Some(GPoly(c)) else None
      } else if (u.startsWith("CIRCLE")) {
        // CIRCLE ((x y), r)
        val inner = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')')).trim
        val ptPart = inner.substring(inner.indexOf('(') + 1, inner.indexOf(')'))
        val rPart = inner.substring(inner.indexOf(')') + 1).dropWhile(c => c == ',' || c == ' ')
        val c = coords(ptPart)
        Some(GCircle(c(0)._1, c(0)._2, rPart.trim.toDouble))
      } else None
    } catch { case _: Exception => None }
  }

  private def asText(g: Geom): String = g match {
    case GPoint(x, y) => s"POINT (${fmt(x)} ${fmt(y)})"
    case GLine(pts)   => s"LINESTRING (${pts.map(p => s"${fmt(p._1)} ${fmt(p._2)}").mkString(", ")})"
    case GPoly(ring)  => s"POLYGON ((${ring.map(p => s"${fmt(p._1)} ${fmt(p._2)}").mkString(", ")}))"
    case GCircle(x, y, r) => s"CIRCLE ((${fmt(x)} ${fmt(y)}), ${fmt(r)})"
  }

  // --------------------------------------------------------- sphere math

  /** central angle (radians) between two lng/lat (degrees) points —
    * haversine, the stable form of the S2 unit-vector angle */
  private def centralAngle(lng1: Double, lat1: Double, lng2: Double, lat2: Double): Double = {
    val f1 = math.toRadians(lat1); val f2 = math.toRadians(lat2)
    val dl = math.toRadians(lng2 - lng1)
    val a = math.pow(math.sin((f2 - f1) / 2), 2) +
      math.cos(f1) * math.cos(f2) * math.pow(math.sin(dl / 2), 2)
    2 * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** initial bearing (radians, clockwise from north) p1 -> p2 */
  private def bearing(lng1: Double, lat1: Double, lng2: Double, lat2: Double): Double = {
    val f1 = math.toRadians(lat1); val f2 = math.toRadians(lat2)
    val dl = math.toRadians(lng2 - lng1)
    val y = math.sin(dl) * math.cos(f2)
    val x = math.cos(f1) * math.sin(f2) - math.sin(f1) * math.cos(f2) * math.cos(dl)
    math.atan2(y, x)
  }

  /** spherical polygon area on the unit sphere (l'Huilier excess). */
  private def sphericalArea(ring: Array[(Double, Double)]): Double = {
    // sum of spherical triangle excesses from the first vertex
    var total = 0.0
    val (x0, y0) = ring(0)
    for (i <- 1 until ring.length - 2) {
      val (x1, y1) = ring(i); val (x2, y2) = ring(i + 1)
      val a = centralAngle(x0, y0, x1, y1)
      val b = centralAngle(x1, y1, x2, y2)
      val c = centralAngle(x2, y2, x0, y0)
      val s = (a + b + c) / 2
      val t = math.sqrt(math.max(0, math.tan(s / 2) * math.tan((s - a) / 2) *
        math.tan((s - b) / 2) * math.tan((s - c) / 2)))
      // signed: use planar cross product sign for orientation
      val sign = math.signum((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0))
      total += sign * 4 * math.atan(t)
    }
    math.abs(total)
  }

  /** planar ray casting (adequate for small polygons; the reference's
    * S2 polygons are geodesic — divergence only near edges) */
  private def pointInRing(x: Double, y: Double, ring: Array[(Double, Double)]): Boolean = {
    var in = false
    var j = ring.length - 2 // ring is closed: last == first
    for (i <- 0 until ring.length - 1) {
      val (xi, yi) = ring(i); val (xj, yj) = ring(j)
      if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) in = !in
      j = i
    }
    in
  }

  // --------------------------------------------- multi-geometry splitting

  /** split top-level comma-separated items, respecting paren depth */
  private def splitTop(s: String): Array[String] = {
    val out = Array.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur.append(c)
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }

  /** components of a (multi-)geometry as canonical WKT; simple
    * geometries are their own single component (functions_geo.cpp
    * StNumGeometries / FunctionStGeometries). */
  private def components(wkt: String): Option[Seq[String]] = {
    if (wkt == null) return None
    val s = wkt.trim
    val u = s.toUpperCase
    def inner = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
    try {
      if (u.startsWith("MULTIPOINT")) {
        // MULTIPOINT (1 2, 3 4) or MULTIPOINT ((1 2), (3 4))
        val parts = splitTop(inner).map(_.stripPrefix("(").stripSuffix(")").trim)
        val pts = parts.map(p => parse(s"POINT ($p)"))
        if (pts.forall(_.isDefined)) Some(pts.toIndexedSeq.map(g => asText(g.get))) else None
      } else if (u.startsWith("MULTILINESTRING")) {
        val parts = splitTop(inner).map(p => parse(s"LINESTRING $p"))
        if (parts.forall(_.isDefined)) Some(parts.toIndexedSeq.map(g => asText(g.get))) else None
      } else if (u.startsWith("MULTIPOLYGON")) {
        val parts = splitTop(inner).map(p => parse(s"POLYGON $p"))
        if (parts.forall(_.isDefined)) Some(parts.toIndexedSeq.map(g => asText(g.get))) else None
      } else if (u.startsWith("GEOMETRYCOLLECTION")) {
        val parts = splitTop(inner).map(p => parse(p))
        if (parts.forall(_.isDefined)) Some(parts.toIndexedSeq.map(g => asText(g.get))) else None
      } else parse(s).map(g => Seq(asText(g)))
    } catch { case _: Exception => None }
  }

  // ------------------------------------------------------ planar touches

  private def orient(ax: Double, ay: Double, bx: Double, by: Double,
                     cx: Double, cy: Double): Double =
    (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

  private def onSeg(px: Double, py: Double, ax: Double, ay: Double,
                    bx: Double, by: Double): Boolean =
    orient(ax, ay, bx, by, px, py) == 0 &&
      px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
      py >= math.min(ay, by) && py <= math.max(ay, by)

  /** strictly interior crossing of two segments (shared interiors) */
  private def properCross(a1: (Double, Double), a2: (Double, Double),
                          b1: (Double, Double), b2: (Double, Double)): Boolean = {
    val d1 = orient(b1._1, b1._2, b2._1, b2._2, a1._1, a1._2)
    val d2 = orient(b1._1, b1._2, b2._1, b2._2, a2._1, a2._2)
    val d3 = orient(a1._1, a1._2, a2._1, a2._2, b1._1, b1._2)
    val d4 = orient(a1._1, a1._2, a2._1, a2._2, b2._1, b2._2)
    d1 * d2 < 0 && d3 * d4 < 0
  }

  /** any intersection (incl. endpoint touch / collinear overlap) */
  private def segsIntersect(a1: (Double, Double), a2: (Double, Double),
                            b1: (Double, Double), b2: (Double, Double)): Boolean =
    properCross(a1, a2, b1, b2) ||
      onSeg(b1._1, b1._2, a1._1, a1._2, a2._1, a2._2) ||
      onSeg(b2._1, b2._2, a1._1, a1._2, a2._1, a2._2) ||
      onSeg(a1._1, a1._2, b1._1, b1._2, b2._1, b2._2) ||
      onSeg(a2._1, a2._2, b1._1, b1._2, b2._1, b2._2)

  private def onRing(x: Double, y: Double, ring: Array[(Double, Double)]): Boolean =
    (0 until ring.length - 1).exists(i =>
      onSeg(x, y, ring(i)._1, ring(i)._2, ring(i + 1)._1, ring(i + 1)._2))

  /** OGC/DE-9IM touches over the planar subset (functions_geo.cpp
    * StTouchesFunc analog): geometries meet but their interiors do not.
    *  - point/point: never (point interiors are the points)
    *  - point/line: point must be a line ENDPOINT (the line boundary)
    *  - point/polygon: point must lie ON the ring
    *  - line/line: some intersection, and no intersection point interior
    *    to BOTH lines (proper crossings and interior collinear overlaps
    *    disqualify)
    *  - polygon/polygon: boundaries meet, no vertex strictly inside the
    *    other, no proper edge crossing (simple-polygon subset)
    * Returns null for unsupported pairs (circle), like the reference's
    * null map on parse failure. */
  private def touches(a: Geom, b: Geom): java.lang.Boolean = (a, b) match {
    case (GPoint(_, _), GPoint(_, _)) => java.lang.Boolean.FALSE
    case (p: GPoint, l: GLine) => touchesPointLine(p, l)
    case (l: GLine, p: GPoint) => touchesPointLine(p, l)
    case (p: GPoint, g: GPoly) => touchesPointPoly(p, g)
    case (g: GPoly, p: GPoint) => touchesPointPoly(p, g)
    case (GLine(as), GLine(bs)) =>
      var anyMeet = false
      var interiorMeet = false
      for (i <- 0 until as.length - 1; j <- 0 until bs.length - 1) {
        if (properCross(as(i), as(i + 1), bs(j), bs(j + 1))) interiorMeet = true
        else if (segsIntersect(as(i), as(i + 1), bs(j), bs(j + 1))) {
          anyMeet = true
          // endpoint-on-segment touches: interior to both iff the meeting
          // point is interior to both polylines
          val cands = Seq(as(i), as(i + 1), bs(j), bs(j + 1))
          cands.foreach { p =>
            val onA = onLine(p, as)
            val onB = onLine(p, bs)
            if (onA && onB && lineInterior(p, as) && lineInterior(p, bs)) interiorMeet = true
          }
          // collinear overlap of positive length => interiors share
          if (collinearOverlap(as(i), as(i + 1), bs(j), bs(j + 1))) interiorMeet = true
        }
      }
      java.lang.Boolean.valueOf(anyMeet && !interiorMeet)
    case (GPoly(ra), GPoly(rb)) =>
      val vertexInside =
        ra.dropRight(1).exists { case (x, y) => pointInRing(x, y, rb) && !onRing(x, y, rb) } ||
        rb.dropRight(1).exists { case (x, y) => pointInRing(x, y, ra) && !onRing(x, y, ra) }
      val properEdgeCross = (0 until ra.length - 1).exists(i =>
        (0 until rb.length - 1).exists(j => properCross(ra(i), ra(i + 1), rb(j), rb(j + 1))))
      val boundaryMeet = (0 until ra.length - 1).exists(i =>
        (0 until rb.length - 1).exists(j => segsIntersect(ra(i), ra(i + 1), rb(j), rb(j + 1))))
      java.lang.Boolean.valueOf(boundaryMeet && !vertexInside && !properEdgeCross)
    case _ => null
  }

  private def onLine(p: (Double, Double), pts: Array[(Double, Double)]): Boolean =
    (0 until pts.length - 1).exists(i =>
      onSeg(p._1, p._2, pts(i)._1, pts(i)._2, pts(i + 1)._1, pts(i + 1)._2))

  /** point is on the line and is NOT one of its two boundary endpoints */
  private def lineInterior(p: (Double, Double), pts: Array[(Double, Double)]): Boolean =
    onLine(p, pts) && p != pts.head && p != pts.last

  private def collinearOverlap(a1: (Double, Double), a2: (Double, Double),
                               b1: (Double, Double), b2: (Double, Double)): Boolean = {
    val collinear = orient(a1._1, a1._2, a2._1, a2._2, b1._1, b1._2) == 0 &&
      orient(a1._1, a1._2, a2._1, a2._2, b2._1, b2._2) == 0
    if (!collinear) return false
    // 1-D overlap test on the dominant axis
    val useX = math.abs(a2._1 - a1._1) >= math.abs(a2._2 - a1._2)
    def key(p: (Double, Double)) = if (useX) p._1 else p._2
    val (alo, ahi) = (math.min(key(a1), key(a2)), math.max(key(a1), key(a2)))
    val (blo, bhi) = (math.min(key(b1), key(b2)), math.max(key(b1), key(b2)))
    math.min(ahi, bhi) - math.max(alo, blo) > 0
  }

  private def touchesPointLine(p: GPoint, l: GLine): java.lang.Boolean =
    java.lang.Boolean.valueOf((p.x, p.y) == l.pts.head || (p.x, p.y) == l.pts.last)

  private def touchesPointPoly(p: GPoint, g: GPoly): java.lang.Boolean =
    java.lang.Boolean.valueOf(onRing(p.x, p.y, g.ring))

  def udfs: Seq[(String, UserDefinedFunction)] = {
    val u = Seq.newBuilder[(String, UserDefinedFunction)]
    u += "st_point" -> udf((x: Double, y: Double) => asText(GPoint(x, y)))
    u += "st_x" -> udf((w: String) =>
      parse(w).collect { case GPoint(x, _) => java.lang.Double.valueOf(x) }.orNull)
    u += "st_y" -> udf((w: String) =>
      parse(w).collect { case GPoint(_, y) => java.lang.Double.valueOf(y) }.orNull)
    def canon(w: String): String = parse(w).map(asText).orNull
    u += "st_astext" -> udf(canon _)
    u += "st_aswkt" -> udf(canon _)
    u += "st_geometryfromtext" -> udf(canon _)
    u += "st_geomfromtext" -> udf(canon _)
    def lineOnly(w: String): String =
      parse(w).collect { case g: GLine => asText(g) }.orNull
    u += "st_linefromtext" -> udf(lineOnly _)
    u += "st_linestringfromtext" -> udf(lineOnly _)
    def polyOnly(w: String): String =
      parse(w).collect { case g: GPoly => asText(g) }.orNull
    u += "st_polygon" -> udf(polyOnly _)
    u += "st_polyfromtext" -> udf(polyOnly _)
    u += "st_polygonfromtext" -> udf(polyOnly _)
    u += "st_circle" -> udf((x: Double, y: Double, r: Double) => asText(GCircle(x, y, r)))
    u += "st_geometrytype" -> udf((w: String) => parse(w).map {
      case _: GPoint => "ST_Point"
      case _: GLine => "ST_LineString"
      case _: GPoly => "ST_Polygon"
      case _: GCircle => "ST_Circle"
    }.orNull)
    u += "st_numpoints" -> udf((w: String) => parse(w).map {
      case _: GPoint => java.lang.Integer.valueOf(1)
      case GLine(p) => java.lang.Integer.valueOf(p.length)
      case GPoly(r) => java.lang.Integer.valueOf(r.length)
      case _: GCircle => java.lang.Integer.valueOf(1)
    }.orNull)
    u += "st_npoints" -> udf((w: String) => parse(w).map {
      case _: GPoint => java.lang.Integer.valueOf(1)
      case GLine(p) => java.lang.Integer.valueOf(p.length)
      case GPoly(r) => java.lang.Integer.valueOf(r.length)
      case _: GCircle => java.lang.Integer.valueOf(1)
    }.orNull)
    u += "st_distance_sphere" -> udf((lng1: Double, lat1: Double, lng2: Double, lat2: Double) =>
      R * centralAngle(lng1, lat1, lng2, lat2))
    u += "st_angle_sphere" -> udf((lng1: Double, lat1: Double, lng2: Double, lat2: Double) =>
      math.toDegrees(centralAngle(lng1, lat1, lng2, lat2)))
    // st_angle(p1, p2, p3): angle at p2 from p1 to p3, clockwise,
    // radians in [0, 2pi) (geo_types.cpp:673-675)
    u += "st_angle" -> udf((p1: String, p2: String, p3: String) =>
      (parse(p1), parse(p2), parse(p3)) match {
        case (Some(GPoint(x1, y1)), Some(GPoint(x2, y2)), Some(GPoint(x3, y3))) =>
          val a = bearing(x2, y2, x3, y3)
          val b = bearing(x2, y2, x1, y1)
          val d = a - b
          java.lang.Double.valueOf(if (d < 0) d + 2 * math.Pi else d)
        case _ => null
      })
    // st_azimuth(p1, p2): initial bearing p1 -> p2, radians in [0, 2pi)
    u += "st_azimuth" -> udf((p1: String, p2: String) =>
      (parse(p1), parse(p2)) match {
        case (Some(GPoint(x1, y1)), Some(GPoint(x2, y2))) =>
          val b = bearing(x1, y1, x2, y2)
          java.lang.Double.valueOf(if (b < 0) b + 2 * math.Pi else b)
        case _ => null
      })
    u += "st_length" -> udf((w: String) => parse(w).collect {
      case GLine(pts) =>
        java.lang.Double.valueOf(
          pts.sliding(2).map { case Array((x1, y1), (x2, y2)) =>
            R * centralAngle(x1, y1, x2, y2)
          }.sum)
    }.orNull)
    u += "st_area_square_meters" -> udf((w: String) => parse(w).collect {
      case GPoly(ring) => java.lang.Double.valueOf(R * R * sphericalArea(ring))
      case GCircle(_, _, r) =>
        // spherical cap: 2*pi*R^2*(1-cos(r/R))
        java.lang.Double.valueOf(2 * math.Pi * R * R * (1 - math.cos(r / R)))
    }.orNull)
    u += "st_area_square_km" -> udf((w: String) => parse(w).collect {
      case GPoly(ring) => java.lang.Double.valueOf(R * R * sphericalArea(ring) / 1e6)
      case GCircle(_, _, r) =>
        java.lang.Double.valueOf(2 * math.Pi * R * R * (1 - math.cos(r / R)) / 1e6)
    }.orNull)
    u += "st_contains" -> udf((shape: String, pt: String) =>
      (parse(shape), parse(pt)) match {
        case (Some(GPoly(ring)), Some(GPoint(x, y))) =>
          java.lang.Boolean.valueOf(pointInRing(x, y, ring))
        case (Some(GCircle(cx, cy, r)), Some(GPoint(x, y))) =>
          java.lang.Boolean.valueOf(R * centralAngle(cx, cy, x, y) <= r)
        case (Some(GPoint(ax, ay)), Some(GPoint(x, y))) =>
          java.lang.Boolean.valueOf(ax == x && ay == y)
        case _ => null
      })
    u += "st_disjoint" -> udf((shape: String, pt: String) =>
      (parse(shape), parse(pt)) match {
        case (Some(GPoly(ring)), Some(GPoint(x, y))) =>
          java.lang.Boolean.valueOf(!pointInRing(x, y, ring))
        case (Some(GCircle(cx, cy, r)), Some(GPoint(x, y))) =>
          java.lang.Boolean.valueOf(R * centralAngle(cx, cy, x, y) > r)
        case _ => null
      })
    u += "st_intersects" -> udf((shape: String, pt: String) =>
      (parse(shape), parse(pt)) match {
        case (Some(GPoly(ring)), Some(GPoint(x, y))) =>
          java.lang.Boolean.valueOf(pointInRing(x, y, ring))
        case (Some(GCircle(cx, cy, r)), Some(GPoint(x, y))) =>
          java.lang.Boolean.valueOf(R * centralAngle(cx, cy, x, y) <= r)
        case _ => null
      })
    // ---- multi-geometry surface (functions_geo.cpp:923-1000)
    u += "st_numgeometries" -> udf((w: String) =>
      components(w).map(c => java.lang.Long.valueOf(c.length.toLong)).orNull)
    u += "st_geometries" -> udf((w: String) => components(w).orNull)
    // ---- touches (functions_geo.cpp:557, planar subset — see touches())
    u += "st_touches" -> udf((a: String, b: String) =>
      (parse(a), parse(b)) match {
        case (Some(ga), Some(gb)) => touches(ga, gb)
        case _ => null
      })
    // ---- WKB codec (little-endian; POINT=1, LINESTRING=2, POLYGON=3).
    // INTENTIONAL override of Spark 4.1's st_asbinary/st_geomfromwkb
    // builtins (GEOMETRY-typed): this engine's geometry model is WKT
    // strings, matching the reference's st_* string surface. The
    // graft entries replace the builtins (reviewed in RegistryShadowSpec).
    u += "st_asbinary" -> udf((w: String) => parse(w).collect {
      case GPoint(x, y) =>
        val bb = java.nio.ByteBuffer.allocate(21).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put(1.toByte); bb.putInt(1); bb.putDouble(x); bb.putDouble(y)
        bb.array()
      case GLine(pts) =>
        val bb = java.nio.ByteBuffer.allocate(9 + 16 * pts.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put(1.toByte); bb.putInt(2); bb.putInt(pts.length)
        pts.foreach { case (x, y) => bb.putDouble(x); bb.putDouble(y) }
        bb.array()
      case GPoly(ring) =>
        // one outer ring (the engine's polygon subset)
        val bb = java.nio.ByteBuffer.allocate(13 + 16 * ring.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put(1.toByte); bb.putInt(3); bb.putInt(1); bb.putInt(ring.length)
        ring.foreach { case (x, y) => bb.putDouble(x); bb.putDouble(y) }
        bb.array()
    }.orNull)
    def fromWkb(b: Array[Byte]): String = {
      if (b == null || b.length < 5) return null
      try {
        val order = if (b(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN
                    else java.nio.ByteOrder.BIG_ENDIAN
        val bb = java.nio.ByteBuffer.wrap(b, 1, b.length - 1).order(order)
        bb.getInt match {
          case 1 => asText(GPoint(bb.getDouble, bb.getDouble))
          case 2 =>
            val n = bb.getInt
            asText(GLine(Array.fill(n)((bb.getDouble, bb.getDouble))))
          case 3 =>
            val nRings = bb.getInt
            // The engine's polygon model is single-ring; decoding only the
            // outer ring of a holed polygon would silently change its area,
            // so unsupported multi-ring input follows the reference's
            // null-on-unparseable contract instead.
            if (nRings != 1) return null
            val n = bb.getInt
            asText(GPoly(Array.fill(n)((bb.getDouble, bb.getDouble))))
          case _ => null
        }
      } catch { case _: Exception => null }
    }
    u += "st_geometryfromwkb" -> udf(fromWkb _)
    u += "st_geomfromwkb" -> udf(fromWkb _)
    u.result()
  }
}
