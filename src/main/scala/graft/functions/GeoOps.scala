package graft.functions

import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.Geo

/** Static executor-side kernels behind the geometry SQL functions
  * ([[KernelCall]] rows of [[Gf]]). Codegen emits direct static calls into
  * this object, so the hot path stays inside whole-stage codegen with no
  * closure/serialization overhead.
  *
  * WKB parsing dominates predicate cost when one side repeats (the region /
  * broadcast side of the cell join), so prepared geometries are cached in a
  * small per-thread LRU keyed by the WKB bytes.
  */
object GeoOps {

  private final val CacheSize = 2048

  private final class Key(val bytes: Array[Byte]) {
    override val hashCode: Int = java.util.Arrays.hashCode(bytes)
    override def equals(o: Any): Boolean = o match {
      case k: Key => java.util.Arrays.equals(bytes, k.bytes)
      case _ => false
    }
  }

  private val prepCache =
    ThreadLocal.withInitial[java.util.LinkedHashMap[Key, PreparedGeometry]](() =>
      new java.util.LinkedHashMap[Key, PreparedGeometry](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Key, PreparedGeometry]): Boolean =
          size() > CacheSize
      })

  /** Prepared geometry for the (typically repeating) left argument. */
  def prepared(wkb: Array[Byte]): PreparedGeometry = {
    val cache = prepCache.get()
    val k = new Key(wkb)
    var p = cache.get(k)
    if (p == null) {
      p = PreparedGeometryFactory.prepare(Geo.fromWkb(wkb))
      cache.put(k, p)
    }
    p
  }

  // ---- WKB point fast path ----
  // A simple 2D OGC point is exactly 21 bytes: byte-order flag, uint32
  // type == 1, two doubles. The point-feature join paths (J4/boxFeatures)
  // call centroid/intersects on such payloads once per candidate row, and
  // the general route pays a full WKBReader parse + JTS object build each
  // time; reading the two doubles directly is semantically identical (the
  // centroid OF a point IS the point; intersects builds the same Point).
  // Anything else — EWKB, Z/M dims, non-point types, and NaN ordinates
  // (JTS serializes POINT EMPTY as a 21-byte NaN point, whose centroid
  // accessors must keep THROWING like the JTS route, not return NaN) —
  // falls through to the JTS parse unchanged.
  private def isWkbPoint(a: Array[Byte]): Boolean =
    a.length == 21 && (a(0) == 0 || a(0) == 1) && {
      if (a(0) == 1)
        a(1) == 1 && a(2) == 0 && a(3) == 0 && a(4) == 0
      else
        a(1) == 0 && a(2) == 0 && a(3) == 0 && a(4) == 1
    } && !readDouble(a, 5, a(0) == 1).isNaN &&
      !readDouble(a, 13, a(0) == 1).isNaN

  private def readDouble(a: Array[Byte], off: Int, little: Boolean): Double = {
    var bits = 0L
    if (little) {
      var i = 7
      while (i >= 0) { bits = (bits << 8) | (a(off + i) & 255L); i -= 1 }
    } else {
      var i = 0
      while (i < 8) { bits = (bits << 8) | (a(off + i) & 255L); i += 1 }
    }
    java.lang.Double.longBitsToDouble(bits)
  }

  private def pointGeom(a: Array[Byte]): Geometry = {
    val little = a(0) == 1
    Geo.point(readDouble(a, 5, little), readDouble(a, 13, little))
  }

  // ---- predicates (left side cached/prepared) ----
  def intersects(a: Array[Byte], b: Array[Byte]): Boolean =
    prepared(a).intersects(if (isWkbPoint(b)) pointGeom(b) else Geo.fromWkb(b))

  def contains(a: Array[Byte], b: Array[Byte]): Boolean =
    prepared(a).contains(if (isWkbPoint(b)) pointGeom(b) else Geo.fromWkb(b))

  def within(a: Array[Byte], b: Array[Byte]): Boolean =
    prepared(b).contains(if (isWkbPoint(a)) pointGeom(a) else Geo.fromWkb(a))

  def touches(a: Array[Byte], b: Array[Byte]): Boolean =
    prepared(a).touches(if (isWkbPoint(b)) pointGeom(b) else Geo.fromWkb(b))

  def containsCentroid(a: Array[Byte], b: Array[Byte]): Boolean =
    prepared(a).contains(
      if (isWkbPoint(b)) pointGeom(b) else Geo.fromWkb(b).getCentroid)

  // ---- constructors / converters ----
  def geomFromText(wkt: UTF8String): Array[Byte] = Geo.wktToWkb(wkt.toString)
  def asText(wkb: Array[Byte]): UTF8String =
    UTF8String.fromString(Geo.toWkt(Geo.fromWkb(wkb)))
  /** WKT in shapely `wkt.dumps` byte layout (fixed 16-decimal coordinates),
    * so sha2(st_astext_shapely(g), 256) interchanges with the reference's
    * get_geometry_hash (srai/geometry.py:133-138). */
  def asTextShapely(wkb: Array[Byte]): UTF8String =
    UTF8String.fromString(Geo.toWktShapely(Geo.fromWkb(wkb)))
  def makePoint(lng: Double, lat: Double): Array[Byte] = Geo.toWkb(Geo.point(lng, lat))

  /** Axis-aligned box polygon — the footprint hot path (no WKT round-trip). */
  def makeBox(minX: Double, minY: Double, maxX: Double, maxY: Double): Array[Byte] =
    Geo.toWkb(Geo.box(minX, minY, maxX, maxY))

  // ---- scalar geometry ops ----
  def intersection(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    Geo.toWkb(Geo.fromWkb(a).intersection(Geo.fromWkb(b)))

  def area(a: Array[Byte]): Double = Geo.fromWkb(a).getArea

  /** Drop interior rings (reference srai/geometry.py:50-64). */
  def removeInteriors(a: Array[Byte]): Array[Byte] =
    Geo.toWkb(Geo.removeInteriors(Geo.fromWkb(a)))

  /** Metric buffer via spherical AEQD round-trip (reference
    * srai/geometry.py:67-94). */
  def bufferMeters(a: Array[Byte], meters: Double): Array[Byte] =
    Geo.toWkb(Geo.bufferMeters(Geo.fromWkb(a), meters))

  def centroidX(a: Array[Byte]): Double =
    if (isWkbPoint(a)) readDouble(a, 5, a(0) == 1)
    else Geo.fromWkb(a).getCentroid.getX
  def centroidY(a: Array[Byte]): Double =
    if (isWkbPoint(a)) readDouble(a, 13, a(0) == 1)
    else Geo.fromWkb(a).getCentroid.getY

  def startPoint(a: Array[Byte]): Array[Byte] = {
    val g = Geo.fromWkb(a)
    Geo.toWkb(Geo.point(g.getCoordinates.head.x, g.getCoordinates.head.y))
  }

  def endPoint(a: Array[Byte]): Array[Byte] = {
    val g = Geo.fromWkb(a)
    Geo.toWkb(Geo.point(g.getCoordinates.last.x, g.getCoordinates.last.y))
  }

  def length(a: Array[Byte]): Double = Geo.fromWkb(a).getLength

  def dump(a: Array[Byte]): ArrayData =
    new GenericArrayData(Geo.dump(Geo.fromWkb(a)).map(Geo.toWkb).toArray[Any])

  /** Envelope corners for the patch lexsort (P12: orderBy(desc(st_ymax),
    * asc(st_xmin)) — reference s2vec/s2_utils.py:60-72). */
  def xmin(a: Array[Byte]): Double = Geo.fromWkb(a).getEnvelopeInternal.getMinX
  def ymax(a: Array[Byte]): Double = Geo.fromWkb(a).getEnvelopeInternal.getMaxY
}
