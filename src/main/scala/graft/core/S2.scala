package graft.core

/** S2 cell-id math implemented from the public S2 geometry spec
  * (s2geometry.io; quadratic ST projection, Hilbert curve on 6 cube faces).
  * Pure Scala, no data tables beyond the algorithmically-generated 4-level
  * Hilbert lookup. Reference semantics consumed by the engine:
  * srai/regionalizers/s2_regionalizer.py:54-102 (fixed-level polygon cover +
  * planar `intersects`/`within` refinement, token region ids) and
  * srai/embedders/s2vec/s2_utils.py:31-45 (children expansion, cell polygons).
  *
  * Cell ids are `Long` carrying the standard 64-bit layout
  * (3 face bits | 2*level Hilbert position bits | 1 marker bit).
  */
object S2 {
  final val MaxLevel = 30
  final val LookupBits = 4
  final val SwapMask = 1
  final val InvertMask = 2
  final val MaxSize = 1 << MaxLevel // 2^30

  // kPosToIJ / kPosToOrientation from the public spec.
  private val posToIJ: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2), // canonical
    Array(0, 2, 3, 1), // axes swapped
    Array(3, 2, 0, 1), // bits inverted
    Array(3, 1, 0, 2)) // swapped & inverted
  private val posToOrientation = Array(SwapMask, 0, 0, InvertMask | SwapMask)

  private val lookupPos = new Array[Int](1 << (2 * LookupBits + 2))
  private val lookupIj = new Array[Int](1 << (2 * LookupBits + 2))

  private def initLookup(level: Int, i: Int, j: Int, origOrient: Int,
                         pos: Int, orient: Int): Unit = {
    if (level == LookupBits) {
      val ij = (i << LookupBits) + j
      lookupPos((ij << 2) + origOrient) = (pos << 2) + orient
      lookupIj((pos << 2) + origOrient) = (ij << 2) + orient
    } else {
      val l = level + 1; val i2 = i << 1; val j2 = j << 1; val p2 = pos << 2
      val r = posToIJ(orient)
      var sub = 0
      while (sub < 4) {
        val ij = r(sub)
        initLookup(l, i2 + (ij >> 1), j2 + (ij & 1), origOrient,
          p2 + sub, orient ^ posToOrientation(sub))
        sub += 1
      }
    }
  }
  initLookup(0, 0, 0, 0, 0, 0)
  initLookup(0, 0, 0, SwapMask, 0, SwapMask)
  initLookup(0, 0, 0, InvertMask, 0, InvertMask)
  initLookup(0, 0, 0, SwapMask | InvertMask, 0, SwapMask | InvertMask)

  // ---- UV <-> ST (quadratic projection) ----
  def stToUv(s: Double): Double =
    if (s >= 0.5) (1.0 / 3.0) * (4 * s * s - 1)
    else (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s))

  def uvToSt(u: Double): Double =
    if (u >= 0) 0.5 * math.sqrt(1 + 3 * u)
    else 1 - 0.5 * math.sqrt(1 - 3 * u)

  def stToIj(s: Double): Int =
    math.max(0, math.min(MaxSize - 1, math.floor(MaxSize * s).toInt))

  // ---- face projections ----
  def faceUvToXyz(face: Int, u: Double, v: Double): (Double, Double, Double) =
    face match {
      case 0 => (1, u, v)
      case 1 => (-u, 1, v)
      case 2 => (-u, -v, 1)
      case 3 => (-1, -v, -u)
      case 4 => (v, -1, -u)
      case 5 => (v, u, -1)
    }

  def xyzToFace(x: Double, y: Double, z: Double): Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    val f = if (ax > ay) { if (ax > az) 0 else 2 } else { if (ay > az) 1 else 2 }
    if ((f == 0 && x < 0) || (f == 1 && y < 0) || (f == 2 && z < 0)) f + 3 else f
  }

  def faceXyzToUv(face: Int, x: Double, y: Double, z: Double): (Double, Double) =
    face match {
      case 0 => (y / x, z / x)
      case 1 => (-x / y, z / y)
      case 2 => (-x / z, -y / z)
      case 3 => (z / x, y / x)
      case 4 => (z / y, -x / y)
      case 5 => (-y / z, -x / z)
    }

  def lngLatToXyz(lngDeg: Double, latDeg: Double): (Double, Double, Double) = {
    val lat = math.toRadians(latDeg); val lng = math.toRadians(lngDeg)
    val cosLat = math.cos(lat)
    (math.cos(lng) * cosLat, math.sin(lng) * cosLat, math.sin(lat))
  }

  def xyzToLngLat(x: Double, y: Double, z: Double): (Double, Double) = {
    val lat = math.atan2(z, math.sqrt(x * x + y * y))
    val lng = math.atan2(y, x)
    (math.toDegrees(lng), math.toDegrees(lat))
  }

  // ---- cell id construction ----
  def fromFaceIJ(face: Int, i: Int, j: Int): Long = {
    var n: Long = face.toLong << 60 // kPosBits - 1
    var bits: Int = face & SwapMask
    var k = 7
    while (k >= 0) {
      val mask = (1 << LookupBits) - 1
      bits += ((i >> (k * LookupBits)) & mask) << (LookupBits + 2)
      bits += ((j >> (k * LookupBits)) & mask) << 2
      bits = lookupPos(bits)
      n |= (bits >> 2).toLong << (k * 2 * LookupBits)
      bits &= (SwapMask | InvertMask)
      k -= 1
    }
    n * 2 + 1
  }

  /** Leaf cell id containing (lng, lat). */
  def lngLatToLeaf(lng: Double, lat: Double): Long = {
    val (x, y, z) = lngLatToXyz(lng, lat)
    val face = xyzToFace(x, y, z)
    val (u, v) = faceXyzToUv(face, x, y, z)
    fromFaceIJ(face, stToIj(uvToSt(u)), stToIj(uvToSt(v)))
  }

  def lngLatToCell(lng: Double, lat: Double, level: Int): Long =
    parent(lngLatToLeaf(lng, lat), level)

  def level(id: Long): Int = MaxLevel - (java.lang.Long.numberOfTrailingZeros(id) >> 1)

  def lsb(id: Long): Long = id & -id

  def lsbForLevel(l: Int): Long = 1L << (2 * (MaxLevel - l))

  def parent(id: Long, l: Int): Long = {
    val newLsb = lsbForLevel(l)
    (id & -newLsb) | newLsb
  }

  def face(id: Long): Int = (id >>> 61).toInt

  def isLeaf(id: Long): Boolean = (id & 1) != 0

  /** Direct 4 children (level+1). */
  def children(id: Long): Array[Long] = {
    require(!isLeaf(id), "leaf cell has no children")
    val newLsb = lsb(id) >> 2
    Array.tabulate(4)(p => id + (2L * p - 3L) * newLsb)
  }

  /** All descendants at `targetLevel` in Hilbert order (reference analogue:
    * s2_utils.py:31-37 BFS through CellId.children()). */
  def childrenAtLevel(id: Long, targetLevel: Int): Array[Long] = {
    val curLevel = level(id)
    require(targetLevel >= curLevel && targetLevel <= MaxLevel,
      s"target level $targetLevel out of range [$curLevel, $MaxLevel]")
    require(targetLevel - curLevel <= 15,
      s"level gap ${targetLevel - curLevel} would enumerate 4^${targetLevel - curLevel} children")
    val n = 1L << (2 * (targetLevel - curLevel))
    val childLsb = lsbForLevel(targetLevel)
    val start = id - lsb(id) + childLsb
    val out = new Array[Long](n.toInt)
    var k = 0
    while (k < n) { out(k) = start + 2L * k * childLsb; k += 1 }
    out
  }

  /** (face, i, j) of the leaf corner + orientation; for any cell returns the
    * i,j of its Hilbert-traversal leaf (standard ToFaceIJOrientation). */
  def toFaceIJ(id: Long): (Int, Int, Int) = {
    val f = face(id)
    var bits: Int = f & SwapMask
    var i = 0; var j = 0
    var k = 7
    while (k >= 0) {
      val nbits = if (k == 7) MaxLevel - 7 * LookupBits else LookupBits
      bits += (((id >>> (k * 2 * LookupBits + 1)).toInt & ((1 << (2 * nbits)) - 1)) << 2)
      bits = lookupIj(bits)
      i += (bits >> (LookupBits + 2)) << (k * LookupBits)
      j += ((bits >> 2) & ((1 << LookupBits) - 1)) << (k * LookupBits)
      bits &= (SwapMask | InvertMask)
      k -= 1
    }
    (f, i, j)
  }

  /** Cell center (lng, lat). */
  def cellCenterLngLat(id: Long): (Double, Double) = {
    val (f, i, j) = toFaceIJ(id)
    val delta =
      if (isLeaf(id)) 1
      else if (((i ^ (id >>> 2).toInt) & 1) != 0) 2
      else 0
    val si = 2L * i + delta
    val ti = 2L * j + delta
    val u = stToUv(si.toDouble / (2.0 * MaxSize))
    val v = stToUv(ti.toDouble / (2.0 * MaxSize))
    val (x, y, z) = faceUvToXyz(f, u, v)
    xyzToLngLat(x, y, z)
  }

  /** 4 cell corners as (lng, lat), CCW in (u,v) space. */
  def cellVertices(id: Long): Array[(Double, Double)] = {
    val l = level(id)
    val (f, i, j) = toFaceIJ(id)
    val size = 1 << (MaxLevel - l)
    val i0 = i & -size; val j0 = j & -size
    val uLo = stToUv(i0.toDouble / MaxSize)
    val uHi = stToUv((i0 + size).toDouble / MaxSize)
    val vLo = stToUv(j0.toDouble / MaxSize)
    val vHi = stToUv((j0 + size).toDouble / MaxSize)
    Array((uLo, vLo), (uHi, vLo), (uHi, vHi), (uLo, vHi)).map { case (u, v) =>
      val (x, y, z) = faceUvToXyz(f, u, v)
      xyzToLngLat(x, y, z)
    }
  }

  /** Planar lon/lat quad polygon of the cell (matches the reference's
    * 4-vertex shapely polygon from s2_to_geo_boundary, s2_regionalizer.py:98-102).
    * Invalid across the antimeridian — callers keep geometries within
    * (-180, 180), same planar limitation as the reference. */
  def cellGeometry(id: Long): org.locationtech.jts.geom.Geometry =
    Geo.polygon(cellVertices(id).toSeq.map { case (lng, lat) => (lng, lat) })

  // ---- tokens ----
  def toToken(id: Long): String = {
    if (id == 0) return "X"
    val hex = f"$id%016x"
    val t = hex.replaceAll("0+$", "")
    if (t.isEmpty) "X" else t
  }

  def fromToken(token: String): Long =
    // "X" is toToken's sentinel for the none cell (id 0) — round-trip it
    if (token == "X" || token == "x") 0L
    else java.lang.Long.parseUnsignedLong(token.padTo(16, '0'), 16)

  // ---- neighbors (for BFS covering) ----
  /** FromFaceIJ with wrap across face boundaries (standard FromFaceIJWrap:
    * linear uv used consistently in both directions). */
  private def fromFaceIJWrap(face: Int, iIn: Int, jIn: Int): Long = {
    val i = math.max(-1, math.min(MaxSize, iIn))
    val j = math.max(-1, math.min(MaxSize, jIn))
    val kScale = 1.0 / MaxSize
    val kLimit = 1.0 + 2.2204460492503131e-16
    var u = math.max(-kLimit, math.min(kLimit, kScale * (2.0 * (i - MaxSize / 2) + 1)))
    var v = math.max(-kLimit, math.min(kLimit, kScale * (2.0 * (j - MaxSize / 2) + 1)))
    val (x, y, z) = faceUvToXyz(face, u, v)
    val f2 = xyzToFace(x, y, z)
    val uv2 = faceXyzToUv(f2, x, y, z)
    u = uv2._1; v = uv2._2
    fromFaceIJ(f2, stToIj(0.5 * (u + 1)), stToIj(0.5 * (v + 1)))
  }

  private def fromFaceIJSame(face: Int, i: Int, j: Int, samFace: Boolean): Long =
    if (samFace) fromFaceIJ(face, i, j) else fromFaceIJWrap(face, i, j)

  /** 4 edge neighbors at the same level (standard GetEdgeNeighbors). */
  def edgeNeighbors(id: Long): Array[Long] = {
    val l = level(id)
    val (f, iLeaf, jLeaf) = toFaceIJ(id)
    val size = 1 << (MaxLevel - l)
    val i = iLeaf & -size; val j = jLeaf & -size
    Array(
      parent(fromFaceIJSame(f, i, j - size, j - size >= 0), l),
      parent(fromFaceIJSame(f, i + size, j, i + size < MaxSize), l),
      parent(fromFaceIJSame(f, i, j + size, j + size < MaxSize), l),
      parent(fromFaceIJSame(f, i - size, j, i - size >= 0), l))
  }

  /** All level-`level` cells whose planar lon/lat quad intersects `g` (JTS),
    * flooded through edge neighbors ([[Geo.floodCover]]). Combined with
    * exact refinement this equals the reference's polyfill + sjoin pipeline
    * (s2_regionalizer.py:69-102): polyfill ∩ refine(intersects) == all
    * intersecting cells. */
  def cover(g: org.locationtech.jts.geom.Geometry, level: Int): Seq[Long] = {
    require(level >= 0 && level <= MaxLevel, s"level must be in [0, $MaxLevel], got $level")
    Geo.floodCover(org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(g),
      lngLatToCell(_, _, level), cellGeometry, c => edgeNeighbors(c))
  }
}
