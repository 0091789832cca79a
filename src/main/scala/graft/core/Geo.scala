package graft.core

import org.locationtech.jts.geom._
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}

/** Planar geometry helpers over JTS (jts-core-1.20.0, on the Spark jar
  * classpath). All geometries are WGS84 lon/lat by convention (reference:
  * srai/constants.py:6 — everything is EPSG:4326); geometry columns are WKB
  * `BinaryType`.
  *
  * JTS objects are NOT kept in DataFrames — only WKB bytes cross the
  * executor boundary, so no kryo registration or UDT is needed and parquet
  * stores plain binary.
  */
object Geo {
  // JTS readers/writers are not thread-safe; executors call these from many
  // tasks at once, so keep one per thread.
  private val factory = new GeometryFactory(new PrecisionModel(), 4326)
  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wkbWriter = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter())
  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => new WKTWriter())

  def fromWkb(b: Array[Byte]): Geometry = wkbReader.get.read(b)
  def toWkb(g: Geometry): Array[Byte] = wkbWriter.get.write(g)
  def fromWkt(s: String): Geometry = wktReader.get.read(s)
  def toWkt(g: Geometry): String = wktWriter.get.write(g)
  def wktToWkb(s: String): Array[Byte] = toWkb(fromWkt(s))

  /** One coordinate in shapely's `wkt.dumps` byte layout: C `printf
    * "%.16f"` — fixed 16 decimals, correctly rounded ties-to-even on the
    * EXACT binary value, sign preserved even when the value rounds to
    * zero. `new BigDecimal(double)` is the exact binary expansion, so
    * `setScale(16, HALF_EVEN)` reproduces glibc/fmt/CPython formatting
    * bit-for-bit (validated against CPython and DuckDB `printf` on
    * negative-zero, tiny-negative and tie-adjacent anchors). */
  private[graft] def fmt16(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite coordinate: $d")
    val s = new java.math.BigDecimal(d)
      .setScale(16, java.math.RoundingMode.HALF_EVEN).toPlainString
    val negative = d < 0.0 ||
      (d == 0.0 && java.lang.Double.doubleToRawLongBits(d) != 0L)
    if (negative && !s.startsWith("-")) "-" + s else s
  }

  private def seq16(cs: Array[Coordinate]): String =
    cs.map(c => s"${fmt16(c.x)} ${fmt16(c.y)}").mkString(", ")

  private def rings16(p: Polygon): String =
    (Seq(p.getExteriorRing) ++
      (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
      .map(r => s"(${seq16(r.getCoordinates)})").mkString(", ")

  /** WKT in the exact byte layout of shapely's `wkt.dumps(geometry)`
    * (trim=False, rounding_precision=-1 → GEOS WKTWriter fixed 16-decimal
    * coordinates), so `sha256(toWktShapely(g))` interchanges with the
    * reference's `get_geometry_hash` (srai/geometry.py:133-138) on ANY
    * coordinates, not only integer-valued ones (the round-4 q56 deviation).
    * Structure notes: 2D only (the engine is lon/lat 2D throughout).
    * MULTIPOINT uses the un-parenthesized member form
    * (`MULTIPOINT (1 1, 2 2)`) that GEOS < 3.12 emits; GEOS 3.12+ writes
    * parenthesized members, so a reference environment on a newer wheel
    * differs FOR MULTIPOINT ONLY — srai hashes regionalizer
    * polygons/multipolygons in practice, whose layout is identical across
    * GEOS versions (and to JTS). Pin-check multipoint hashes before
    * relying on them cross-system. */
  def toWktShapely(g: Geometry): String = g match {
    case p: Point =>
      if (p.isEmpty) "POINT EMPTY" else s"POINT (${seq16(p.getCoordinates)})"
    case l: LinearRing =>
      if (l.isEmpty) "LINEARRING EMPTY"
      else s"LINEARRING (${seq16(l.getCoordinates)})"
    case l: LineString =>
      if (l.isEmpty) "LINESTRING EMPTY"
      else s"LINESTRING (${seq16(l.getCoordinates)})"
    case p: Polygon =>
      if (p.isEmpty) "POLYGON EMPTY" else s"POLYGON (${rings16(p)})"
    case m: MultiPoint =>
      if (m.isEmpty) "MULTIPOINT EMPTY"
      else s"MULTIPOINT (${seq16(m.getCoordinates)})"
    case m: MultiLineString =>
      if (m.isEmpty) "MULTILINESTRING EMPTY"
      else "MULTILINESTRING (" +
        (0 until m.getNumGeometries).map(i =>
          s"(${seq16(m.getGeometryN(i).getCoordinates)})").mkString(", ") + ")"
    case m: MultiPolygon =>
      if (m.isEmpty) "MULTIPOLYGON EMPTY"
      else "MULTIPOLYGON (" +
        (0 until m.getNumGeometries).map(i =>
          s"(${rings16(m.getGeometryN(i).asInstanceOf[Polygon])})")
          .mkString(", ") + ")"
    case c: GeometryCollection =>
      if (c.isEmpty) "GEOMETRYCOLLECTION EMPTY"
      else "GEOMETRYCOLLECTION (" +
        (0 until c.getNumGeometries).map(i =>
          toWktShapely(c.getGeometryN(i))).mkString(", ") + ")"
  }

  def point(lng: Double, lat: Double): Geometry =
    factory.createPoint(new Coordinate(lng, lat))

  /** Axis-aligned box polygon (lon/lat), closed ring, CCW. */
  def box(minX: Double, minY: Double, maxX: Double, maxY: Double): Geometry = {
    val cs = Array(
      new Coordinate(minX, minY), new Coordinate(maxX, minY),
      new Coordinate(maxX, maxY), new Coordinate(minX, maxY),
      new Coordinate(minX, minY))
    factory.createPolygon(cs)
  }

  /** Polygon from (lng,lat) vertex seq; ring closed automatically. */
  def polygon(coords: Seq[(Double, Double)]): Geometry = {
    val closed = if (coords.head == coords.last) coords else coords :+ coords.head
    factory.createPolygon(closed.map { case (x, y) => new Coordinate(x, y) }.toArray)
  }

  /** Explode multi-geometries into simple parts (reference:
    * srai/regionalizers/_base.py:26-36 explode; srai/geometry.py:35-46
    * flatten_geometry — recursive). */
  def dump(g: Geometry): Seq[Geometry] = g match {
    // unwrap by TYPE, not count: a single-part MultiPolygon /
    // GeometryCollection must still yield its inner simple part like the
    // reference's recursive flatten (review finding, round 3)
    case gc: GeometryCollection =>
      (0 until gc.getNumGeometries).flatMap(i => dump(gc.getGeometryN(i)))
    case simple => Seq(simple)
  }

  /** Drop polygon interior rings (reference: srai/geometry.py:50-64). */
  def removeInteriors(g: Geometry): Geometry = g match {
    case p: Polygon if p.getNumInteriorRing > 0 =>
      factory.createPolygon(p.getExteriorRing.getCoordinateSequence)
    case mp: MultiPolygon =>
      factory.createMultiPolygon(
        (0 until mp.getNumGeometries)
          .map(i => removeInteriors(mp.getGeometryN(i)).asInstanceOf[Polygon]).toArray)
    case other => other
  }

  /** Metric buffer via azimuthal-equidistant projection around the centroid
    * (reference: srai/geometry.py:67-94 buffer_geometry — pyproj aeqd
    * round-trip; here the closed-form spherical AEQD on the mean-earth
    * sphere). */
  def bufferMeters(g: Geometry, meters: Double): Geometry = {
    val R = 6371008.8
    val c = g.getCentroid
    val lat0 = math.toRadians(c.getY); val lng0 = math.toRadians(c.getX)
    def az(lat: Double, lng: Double): Double = math.atan2(
      math.cos(lat) * math.sin(lng - lng0),
      math.cos(lat0) * math.sin(lat) -
        math.sin(lat0) * math.cos(lat) * math.cos(lng - lng0))
    def dist(lat: Double, lng: Double): Double = {
      val d = math.sin(lat0) * math.sin(lat) +
        math.cos(lat0) * math.cos(lat) * math.cos(lng - lng0)
      math.acos(math.max(-1.0, math.min(1.0, d)))
    }
    val fwd = new org.locationtech.jts.geom.util.GeometryTransformer {
      override def transformCoordinates(
          cs: CoordinateSequence, parent: Geometry): CoordinateSequence = {
        val out = (0 until cs.size()).map { i =>
          val lat = math.toRadians(cs.getY(i)); val lng = math.toRadians(cs.getX(i))
          val rho = dist(lat, lng) * R; val a = az(lat, lng)
          new Coordinate(rho * math.sin(a), rho * math.cos(a))
        }
        factory.getCoordinateSequenceFactory.create(out.toArray)
      }
    }
    val buffered = fwd.transform(g).buffer(meters)
    val inv = new org.locationtech.jts.geom.util.GeometryTransformer {
      override def transformCoordinates(
          cs: CoordinateSequence, parent: Geometry): CoordinateSequence = {
        val out = (0 until cs.size()).map { i =>
          val x = cs.getX(i); val y = cs.getY(i)
          val rho = math.sqrt(x * x + y * y) / R
          val a = math.atan2(x, y)
          // clamp like dist(): near a pole the two-term sum can round past
          // 1 and asin would return NaN
          val lat = math.asin(math.max(-1.0, math.min(1.0,
            math.sin(lat0) * math.cos(rho) +
              math.cos(lat0) * math.sin(rho) * math.cos(a))))
          val lng = lng0 + math.atan2(
            math.sin(a) * math.sin(rho) * math.cos(lat0),
            math.cos(rho) - math.sin(lat0) * math.sin(lat))
          new Coordinate(math.toDegrees(lng), math.toDegrees(lat))
        }
        factory.getCoordinateSequenceFactory.create(out.toArray)
      }
    }
    inv.transform(buffered)
  }

  /** The cells of one grid whose shape intersects the prepared geometry:
    * a BFS flood through `neighbors`, seeded from the cells of the bbox
    * center and corners and of every vertex, so thin and disconnected
    * (multi-part) shapes each get an entry point. `cellAt(lng, lat)`
    * locates a point, `shape` is a cell's planar polygon. Cells come back
    * in flood order. The cover of [[S2.cover]] and [[H3.cover]]. */
  def floodCover(prep: org.locationtech.jts.geom.prep.PreparedGeometry,
                 cellAt: (Double, Double) => Long,
                 shape: Long => Geometry, neighbors: Long => Iterable[Long]): Seq[Long] = {
    val g = prep.getGeometry
    val env = g.getEnvelopeInternal
    val seeds = (Seq(
      ((env.getMinX + env.getMaxX) / 2, (env.getMinY + env.getMaxY) / 2),
      (env.getMinX, env.getMinY), (env.getMaxX, env.getMinY),
      (env.getMinX, env.getMaxY), (env.getMaxX, env.getMaxY)) ++
      g.getCoordinates.toSeq.map(c => (c.x, c.y)))
      .map { case (lng, lat) => cellAt(lng, lat) }
    val visited = scala.collection.mutable.HashSet[Long]()
    val hits = scala.collection.mutable.LinkedHashSet[Long]()
    val queue = scala.collection.mutable.Queue[Long](seeds.distinct: _*)
    visited ++= seeds
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      if (prep.intersects(shape(c))) {
        hits += c
        neighbors(c).foreach(n => if (visited.add(n)) queue.enqueue(n))
      }
    }
    hits.toSeq
  }

  def union(gs: Iterable[Geometry]): Geometry =
    org.locationtech.jts.operation.union.UnaryUnionOp.union(
      scala.jdk.CollectionConverters.IterableHasAsJava(gs).asJavaCollection)
}
