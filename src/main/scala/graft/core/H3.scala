package graft.core

/** H3 hexagonal hierarchical index implemented from the public H3 spec
  * (h3geo.org; icosahedral gnomonic projection, aperture-7 hex grid,
  * class II/III alternation, 122 res-0 base cells, 12 pentagons).
  *
  * Table-minimal design: only the face geometry constants and the 122-entry
  * base-cell table are data; the face-neighbor table follows the published
  * structural pattern; the (face,ijk)→(baseCell,rotation) lookup is DERIVED
  * geometrically at init (nearest res-0 center + frame-azimuth quantization),
  * and neighbor traversal (gridDisk/gridRing) is geometric (edge-midpoint
  * reflection + latLngToCell) instead of the digit-rewrite tables.
  * Correctness is pinned by round-trip properties and the reference's golden
  * cell ids (FIXTURES.md §4, §6, §7; srai tests cited there).
  *
  * Reference consumers: srai/regionalizers/h3_regionalizer.py:52-87,
  * srai/h3.py:41-285, srai/neighbourhoods/h3_neighbourhood.py.
  */
object H3 {

  final val MaxRes = 15

  // ---------------- geometry constants (public spec) ----------------

  /** Icosahedron face centers (lat, lng in radians), faces 0-19. */
  private val faceCenterGeo: Array[(Double, Double)] = Array(
    (0.803582649718989942, 1.248397419617396099),
    (1.307747883455638156, 2.536945009877921159),
    (1.054751253523952054, -1.347517358900396623),
    (0.600191595538186799, -0.450603909469755746),
    (0.491715428198773866, 0.401988202911306943),
    (0.172745327415618701, 1.678146885280433686),
    (0.605929321571350690, 2.953923329812411617),
    (0.427370518328979641, -1.888876200336285401),
    (-0.079066118549212831, -0.733429513380867741),
    (-0.230961644455383637, 0.506495587332349035),
    (0.079066118549212831, 2.408163140208925497),
    (0.230961644455383637, -2.635097066257444203),
    (-0.172745327415618701, -1.463445768309359553),
    (-0.605929321571350690, -0.187669323777381622),
    (-0.427370518328979641, 1.252716453253507838),
    (-0.600191595538186799, 2.690988744120037492),
    (-0.491715428198773866, -2.739604450678486295),
    (-0.803582649718989942, -1.893195233972397139),
    (-1.307747883455638156, -0.604647643711872080),
    (-1.054751253523952054, 1.794075294689396615))

  /** Azimuth (rad) from each face center to its class II i-axis. */
  private val faceAxesAzClassII: Array[Double] = Array(
    5.619958268523939882, 5.760339081714187279, 0.780213654393430055,
    0.430469363979999913, 6.130269123335111400, 2.692877706530642877,
    2.982963003477243874, 3.532912002790141181, 3.494305004259568154,
    3.003214169499538391, 5.930472956509811562, 0.138378484090254847,
    0.448714947059150361, 0.158629650112549365, 5.891865957979238535,
    2.711123289609793325, 3.294508837434268316, 3.804819692245439833,
    3.664438879055192436, 2.361378999196363184)

  private val M_SQRT7 = math.sqrt(7.0)
  private val M_SIN60 = math.sqrt(3.0) / 2.0
  private val M_AP7_ROT_RADS = math.asin(math.sqrt(3.0 / 28.0))
  private val RES0_U_GNOMONIC = 0.38196601125010500003
  private val EPSILON = 1e-16

  def isClassIII(res: Int): Boolean = (res % 2) == 1

  // ---------------- base cell data (public spec table) ----------------

  /** (homeFace, i, j, k, isPentagon, cwOffsetFace1, cwOffsetFace2). */
  private[core] val baseCellData: Array[(Int, Int, Int, Int, Boolean, Int, Int)] = Array(
    (1, 1, 0, 0, false, 0, 0), (2, 1, 1, 0, false, 0, 0), (1, 0, 0, 0, false, 0, 0),
    (2, 1, 0, 0, false, 0, 0), (0, 2, 0, 0, true, -1, -1), (1, 1, 1, 0, false, 0, 0),
    (1, 0, 0, 1, false, 0, 0), (2, 0, 0, 0, false, 0, 0), (0, 1, 0, 0, false, 0, 0),
    (2, 0, 1, 0, false, 0, 0), (1, 0, 1, 0, false, 0, 0), (1, 0, 1, 1, false, 0, 0),
    (3, 1, 0, 0, false, 0, 0), (3, 1, 1, 0, false, 0, 0), (11, 2, 0, 0, true, 2, 6),
    (4, 1, 0, 0, false, 0, 0), (0, 0, 0, 0, false, 0, 0), (6, 0, 1, 0, false, 0, 0),
    (0, 0, 0, 1, false, 0, 0), (2, 0, 1, 1, false, 0, 0), (7, 0, 0, 1, false, 0, 0),
    (2, 0, 0, 1, false, 0, 0), (0, 1, 1, 0, false, 0, 0), (6, 0, 0, 1, false, 0, 0),
    (10, 2, 0, 0, true, 1, 5), (6, 0, 0, 0, false, 0, 0), (3, 0, 0, 0, false, 0, 0),
    (11, 1, 0, 0, false, 0, 0), (4, 1, 1, 0, false, 0, 0), (3, 0, 1, 0, false, 0, 0),
    (0, 0, 1, 1, false, 0, 0), (4, 0, 0, 0, false, 0, 0), (5, 0, 1, 0, false, 0, 0),
    (0, 0, 1, 0, false, 0, 0), (7, 0, 1, 0, false, 0, 0), (11, 1, 1, 0, false, 0, 0),
    (7, 0, 0, 0, false, 0, 0), (10, 1, 0, 0, false, 0, 0), (12, 2, 0, 0, true, 3, 7),
    (6, 1, 0, 1, false, 0, 0), (7, 1, 0, 1, false, 0, 0), (4, 0, 0, 1, false, 0, 0),
    (3, 0, 0, 1, false, 0, 0), (3, 0, 1, 1, false, 0, 0), (4, 0, 1, 0, false, 0, 0),
    (6, 1, 0, 0, false, 0, 0), (11, 0, 0, 0, false, 0, 0), (8, 0, 0, 1, false, 0, 0),
    (5, 0, 0, 1, false, 0, 0), (14, 2, 0, 0, true, 0, 9), (5, 0, 0, 0, false, 0, 0),
    (12, 1, 0, 0, false, 0, 0), (10, 1, 1, 0, false, 0, 0), (4, 0, 1, 1, false, 0, 0),
    (12, 1, 1, 0, false, 0, 0), (7, 1, 0, 0, false, 0, 0), (11, 0, 1, 0, false, 0, 0),
    (10, 0, 0, 0, false, 0, 0), (13, 2, 0, 0, true, 4, 8), (10, 0, 0, 1, false, 0, 0),
    (11, 0, 0, 1, false, 0, 0), (9, 0, 1, 0, false, 0, 0), (8, 0, 1, 0, false, 0, 0),
    (6, 2, 0, 0, true, 11, 15), (8, 0, 0, 0, false, 0, 0), (9, 0, 0, 1, false, 0, 0),
    (14, 1, 0, 0, false, 0, 0), (5, 1, 0, 1, false, 0, 0), (16, 0, 1, 1, false, 0, 0),
    (8, 1, 0, 1, false, 0, 0), (5, 1, 0, 0, false, 0, 0), (12, 0, 0, 0, false, 0, 0),
    (7, 2, 0, 0, true, 12, 16), (12, 0, 1, 0, false, 0, 0), (10, 0, 1, 0, false, 0, 0),
    (9, 0, 0, 0, false, 0, 0), (13, 1, 0, 0, false, 0, 0), (16, 0, 0, 1, false, 0, 0),
    (15, 0, 1, 1, false, 0, 0), (15, 0, 1, 0, false, 0, 0), (16, 0, 1, 0, false, 0, 0),
    (14, 1, 1, 0, false, 0, 0), (13, 1, 1, 0, false, 0, 0), (5, 2, 0, 0, true, 10, 19),
    (8, 1, 0, 0, false, 0, 0), (14, 0, 0, 0, false, 0, 0), (9, 1, 0, 1, false, 0, 0),
    (14, 0, 0, 1, false, 0, 0), (17, 0, 0, 1, false, 0, 0), (12, 0, 0, 1, false, 0, 0),
    (16, 0, 0, 0, false, 0, 0), (17, 0, 1, 1, false, 0, 0), (15, 0, 0, 1, false, 0, 0),
    (16, 1, 0, 1, false, 0, 0), (9, 1, 0, 0, false, 0, 0), (15, 0, 0, 0, false, 0, 0),
    (13, 0, 0, 0, false, 0, 0), (8, 2, 0, 0, true, 13, 17), (13, 0, 1, 0, false, 0, 0),
    (17, 1, 0, 1, false, 0, 0), (19, 0, 1, 0, false, 0, 0), (14, 0, 1, 0, false, 0, 0),
    (19, 0, 1, 1, false, 0, 0), (17, 0, 1, 0, false, 0, 0), (13, 0, 0, 1, false, 0, 0),
    (17, 0, 0, 0, false, 0, 0), (16, 1, 0, 0, false, 0, 0), (9, 2, 0, 0, true, 14, 18),
    (15, 1, 0, 1, false, 0, 0), (15, 1, 0, 0, false, 0, 0), (18, 0, 1, 1, false, 0, 0),
    (18, 0, 0, 1, false, 0, 0), (19, 0, 0, 1, false, 0, 0), (17, 1, 0, 0, false, 0, 0),
    (19, 0, 0, 0, false, 0, 0), (18, 0, 1, 0, false, 0, 0), (18, 1, 0, 1, false, 0, 0),
    (19, 2, 0, 0, true, -1, -1), (19, 1, 0, 0, false, 0, 0), (18, 0, 0, 0, false, 0, 0),
    (19, 1, 0, 1, false, 0, 0), (18, 1, 0, 0, false, 0, 0))

  def isPentagon(baseCell: Int): Boolean = baseCellData(baseCell)._5

  private def isCwOffset(baseCell: Int, face: Int): Boolean = {
    val d = baseCellData(baseCell)
    d._6 == face || d._7 == face
  }

  // ---------------- 3D / spherical helpers ----------------

  private def geoToVec3(lat: Double, lng: Double): (Double, Double, Double) = {
    val c = math.cos(lat)
    (math.cos(lng) * c, math.sin(lng) * c, math.sin(lat))
  }

  private val faceCenterPoint: Array[(Double, Double, Double)] =
    faceCenterGeo.map { case (lat, lng) => geoToVec3(lat, lng) }

  private def sqDist(a: (Double, Double, Double), b: (Double, Double, Double)): Double = {
    val dx = a._1 - b._1; val dy = a._2 - b._2; val dz = a._3 - b._3
    dx * dx + dy * dy + dz * dz
  }

  private def posAngle(a: Double): Double = {
    val t = if (a < 0) a + 2 * math.Pi else a
    if (t >= 2 * math.Pi) t - 2 * math.Pi else t
  }

  private def geoAzimuth(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double =
    math.atan2(
      math.cos(lat2) * math.sin(lng2 - lng1),
      math.cos(lat1) * math.sin(lat2) -
        math.sin(lat1) * math.cos(lat2) * math.cos(lng2 - lng1))

  private def constrainLng(l: Double): Double = {
    var lng = l
    while (lng > math.Pi) lng -= 2 * math.Pi
    while (lng < -math.Pi) lng += 2 * math.Pi
    lng
  }

  /** Destination point at (azimuth, angular distance) from (lat, lng). */
  private def geoAzDistance(lat: Double, lng: Double, azIn: Double,
                            dist: Double): (Double, Double) = {
    if (dist < EPSILON) return (lat, lng)
    val az = posAngle(azIn)
    if (az < EPSILON || math.abs(az - math.Pi) < EPSILON) {
      val lat2 = if (az < EPSILON) lat + dist else lat - dist
      if (math.abs(lat2 - math.Pi / 2) < EPSILON) (math.Pi / 2, 0.0)
      else if (math.abs(lat2 + math.Pi / 2) < EPSILON) (-math.Pi / 2, 0.0)
      else (lat2, constrainLng(lng))
    } else {
      val sinLat2 = math.max(-1.0, math.min(1.0,
        math.sin(lat) * math.cos(dist) + math.cos(lat) * math.sin(dist) * math.cos(az)))
      val lat2 = math.asin(sinLat2)
      if (math.abs(lat2 - math.Pi / 2) < EPSILON) (math.Pi / 2, 0.0)
      else if (math.abs(lat2 + math.Pi / 2) < EPSILON) (-math.Pi / 2, 0.0)
      else {
        val sinLng = math.max(-1.0, math.min(1.0,
          math.sin(az) * math.sin(dist) / math.cos(lat2)))
        val cosLng = math.max(-1.0, math.min(1.0,
          (math.cos(dist) - math.sin(lat) * sinLat2) / (math.cos(lat) * math.cos(lat2))))
        (lat2, constrainLng(lng + math.atan2(sinLng, cosLng)))
      }
    }
  }

  // ---------------- IJK coordinate algebra ----------------

  final case class IJK(i: Int, j: Int, k: Int) {
    def +(o: IJK): IJK = IJK(i + o.i, j + o.j, k + o.k)
    def -(o: IJK): IJK = IJK(i - o.i, j - o.j, k - o.k)
    def *(s: Int): IJK = IJK(i * s, j * s, k * s)
    def sum: Int = i + j + k
  }

  /** digit → unit ijk (CENTER,K,J,JK,I,IK,IJ). */
  private val unitVecs = Array(
    IJK(0, 0, 0), IJK(0, 0, 1), IJK(0, 1, 0), IJK(0, 1, 1),
    IJK(1, 0, 0), IJK(1, 0, 1), IJK(1, 1, 0))

  def normalize(c: IJK): IJK = {
    var i = c.i; var j = c.j; var k = c.k
    if (i < 0) { j -= i; k -= i; i = 0 }
    if (j < 0) { i -= j; k -= j; j = 0 }
    if (k < 0) { i -= k; j -= k; k = 0 }
    val m = math.min(i, math.min(j, k))
    if (m > 0) { i -= m; j -= m; k -= m }
    IJK(i, j, k)
  }

  private def unitIjkToDigit(c: IJK): Int = {
    val n = normalize(c)
    unitVecs.indexWhere(_ == n)
  }

  // lround semantics: n/7 is never exactly .5, so round-half-up is safe
  private def upAp7(c: IJK): IJK = {
    val i = c.i - c.k; val j = c.j - c.k
    normalize(IJK(math.round((3 * i - j) / 7.0).toInt,
      math.round((i + 2 * j) / 7.0).toInt, 0))
  }

  private def upAp7r(c: IJK): IJK = {
    val i = c.i - c.k; val j = c.j - c.k
    normalize(IJK(math.round((2 * i + j) / 7.0).toInt,
      math.round((3 * j - i) / 7.0).toInt, 0))
  }

  private def downAp7(c: IJK): IJK =
    normalize(IJK(3, 0, 1) * c.i + IJK(1, 3, 0) * c.j + IJK(0, 1, 3) * c.k)

  private def downAp7r(c: IJK): IJK =
    normalize(IJK(3, 1, 0) * c.i + IJK(0, 3, 1) * c.j + IJK(1, 0, 3) * c.k)

  private def downAp3(c: IJK): IJK =
    normalize(IJK(2, 0, 1) * c.i + IJK(1, 2, 0) * c.j + IJK(0, 1, 2) * c.k)

  private def downAp3r(c: IJK): IJK =
    normalize(IJK(2, 1, 0) * c.i + IJK(0, 2, 1) * c.j + IJK(1, 0, 2) * c.k)

  private def rotate60ccw(c: IJK): IJK =
    normalize(IJK(1, 1, 0) * c.i + IJK(0, 1, 1) * c.j + IJK(1, 0, 1) * c.k)

  private def neighborIjk(c: IJK, digit: Int): IJK = normalize(c + unitVecs(digit))

  // digit rotations (coordijk.c _rotate60ccw/cw)
  private val digitRotCcw = Array(0, 5, 3, 1, 6, 4, 2) // K→IK, J→JK, JK→K, I→IJ, IK→I, IJ→J
  private val digitRotCw = Array(0, 3, 6, 2, 5, 1, 4)  // K→JK, J→IJ, JK→J, I→IK, IK→K, IJ→I

  // ---------------- hex2d <-> ijk / geo ----------------

  private def ijkToHex2d(c: IJK): (Double, Double) = {
    val i = c.i - c.k; val j = c.j - c.k
    (i - 0.5 * j, j * M_SIN60)
  }

  /** Quantize 2D hex-plane coords to ijk+ (coordijk.c _hex2dToCoordIJK). */
  def hex2dToIjk(x: Double, y: Double): IJK = {
    val a1 = math.abs(x); val a2 = math.abs(y)
    val x2 = a2 / M_SIN60
    val x1 = a1 + x2 / 2.0
    val m1 = x1.toInt; val m2 = x2.toInt
    val r1 = x1 - m1; val r2 = x2 - m2
    var i = 0; var j = 0
    if (r1 < 0.5) {
      if (r1 < 1.0 / 3.0) {
        if (r2 < (1.0 + r1) / 2.0) { i = m1; j = m2 }
        else { i = m1; j = m2 + 1 }
      } else {
        j = if (r2 < (1.0 - r1)) m2 else m2 + 1
        i = if ((1.0 - r1) <= r2 && r2 < (2.0 * r1)) m1 + 1 else m1
      }
    } else {
      if (r1 < 2.0 / 3.0) {
        j = if (r2 < (1.0 - r1)) m2 else m2 + 1
        i = if ((2.0 * r1 - 1.0) < r2 && r2 < (1.0 - r1)) m1 else m1 + 1
      } else {
        if (r2 < (r1 / 2.0)) { i = m1 + 1; j = m2 }
        else { i = m1 + 1; j = m2 + 1 }
      }
    }
    // fold across the axes if x or y is negative
    if (x < 0) {
      if (j % 2 == 0) {
        val axisi = j / 2
        val diff = i - axisi
        i = i - 2 * diff
      } else {
        val axisi = (j + 1) / 2
        val diff = i - axisi
        i = i - (2 * diff + 1)
      }
    }
    if (y < 0) {
      i = i - (2 * j + 1) / 2
      j = -j
    }
    normalize(IJK(i, j, 0))
  }

  /** geo (radians) → (face, hex2d) at `res` (faceijk.c _geoToHex2d). */
  private def geoToHex2d(lat: Double, lng: Double, res: Int): (Int, Double, Double) = {
    val p = geoToVec3(lat, lng)
    var face = 0; var sq = sqDist(faceCenterPoint(0), p)
    var f = 1
    while (f < 20) {
      val d = sqDist(faceCenterPoint(f), p)
      if (d < sq) { sq = d; face = f }
      f += 1
    }
    var r = math.acos(1 - sq / 2)
    if (r < EPSILON) return (face, 0.0, 0.0)
    var theta = posAngle(faceAxesAzClassII(face) -
      posAngle(geoAzimuth(faceCenterGeo(face)._1, faceCenterGeo(face)._2, lat, lng)))
    if (isClassIII(res)) theta = posAngle(theta - M_AP7_ROT_RADS)
    r = math.tan(r) / RES0_U_GNOMONIC
    var i = 0
    while (i < res) { r *= M_SQRT7; i += 1 }
    (face, r * math.cos(theta), r * math.sin(theta))
  }

  /** (face, hex2d) at `res` → geo radians (faceijk.c _hex2dToGeo). */
  private def hex2dToGeo(face: Int, x: Double, y: Double, res: Int,
                         substrate: Boolean): (Double, Double) = {
    var r = math.sqrt(x * x + y * y)
    if (r < EPSILON) return faceCenterGeo(face)
    var theta = math.atan2(y, x)
    var i = 0
    while (i < res) { r /= M_SQRT7; i += 1 }
    if (substrate) {
      r /= 3.0
      if (isClassIII(res)) r /= M_SQRT7
    }
    r *= RES0_U_GNOMONIC
    r = math.atan(r)
    if (!substrate && isClassIII(res)) theta = posAngle(theta + M_AP7_ROT_RADS)
    theta = posAngle(faceAxesAzClassII(face) - theta)
    geoAzDistance(faceCenterGeo(face)._1, faceCenterGeo(face)._2, theta, r)
  }

  private def faceIjkToGeo(face: Int, c: IJK, res: Int): (Double, Double) = {
    val (x, y) = ijkToHex2d(c)
    hex2dToGeo(face, x, y, res, substrate = false)
  }

  // ---------------- derived lookup: (face, ijk at res 0) → (baseCell, rot) --

  private val baseCellCenter: Array[(Double, Double, Double)] =
    baseCellData.map { d => val (lat, lng) = faceIjkToGeo(d._1, IJK(d._2, d._3, d._4), 0)
      geoToVec3(lat, lng) }

  private def nearestBaseCell(lat: Double, lng: Double): Int = {
    val p = geoToVec3(lat, lng)
    var best = 0; var bd = sqDist(baseCellCenter(0), p)
    var b = 1
    while (b < 122) {
      val d = sqDist(baseCellCenter(b), p)
      if (d < bd) { bd = d; best = b }
      b += 1
    }
    best
  }

  /** Frame rotation (ccw 60° steps for hexagons, ccw 72° face-steps for
    * pentagons) between `face`'s class II frame and the base cell's home
    * frame, measured via azimuths at the shared cell center. */
  private def measureRotation(face: Int, c: IJK, baseCell: Int): Int = {
    val d = baseCellData(baseCell)
    val homeFace = d._1
    if (face == homeFace) return 0
    val (lat, lng) = faceIjkToGeo(face, c, 0)
    // azimuth of this face's +x (i-axis) direction at the cell center:
    // displace slightly along +x in this face's hex2d space
    def frameAz(f: Int, cc: IJK): Double = {
      val (x, y) = ijkToHex2d(cc)
      val (lat2, lng2) = hex2dToGeo(f, x + 1e-7, y, 0, substrate = false)
      val (lat0, lng0) = hex2dToGeo(f, x, y, 0, substrate = false)
      geoAzimuth(lat0, lng0, lat2, lng2)
    }
    val azHere = frameAz(face, c)
    val azHome = frameAz(homeFace, IJK(d._2, d._3, d._4))
    // ccw rotations taking this face's frame into the home frame
    val diff = posAngle(azHome - azHere)
    val step = if (d._5) 2 * math.Pi / 5 else math.Pi / 3
    ((diff / step).round.toInt) % (if (d._5) 5 else 6)
  }

  /** (face, normalized ijk with coords 0..2) → (baseCell, ccwRot60). */
  private val faceIjkBaseCellLookup: Map[(Int, Int, Int, Int), (Int, Int)] = {
    val m = scala.collection.mutable.Map[(Int, Int, Int, Int), (Int, Int)]()
    for (face <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2) {
      val n = normalize(IJK(i, j, k))
      if (n.i <= 2 && n.j <= 2 && n.k <= 2) {
        val key = (face, n.i, n.j, n.k)
        if (!m.contains(key)) {
          val (lat, lng) = faceIjkToGeo(face, n, 0)
          val bc = nearestBaseCell(lat, lng)
          m(key) = (bc, measureRotation(face, n, bc))
        }
      }
    }
    m.toMap
  }

  private def faceIjkToBaseCell(face: Int, c: IJK): (Int, Int) = {
    val n = normalize(c)
    lookup((face, n.i, n.j, n.k))
  }

  /** Final lookup: geometric derivation + pentagon-rotation calibration.
    *
    * The 72°-sector rotation count for pentagon entries is not reliably
    * derivable from frame azimuths alone (the deleted-K sector shifts the
    * digit-space rotation relative to the geometric one), so pentagon
    * entries are calibrated against the decode path: for every pentagon
    * descendant at res 2, encode(center(cell)) must return the cell. Decode
    * (h3ToFaceIjk) only consumes baseCellData + faceNeighbors — never this
    * lookup — so using it as the calibration oracle is not circular; its own
    * correctness is pinned by the reference's golden cell ids in H3Spec. */
  private lazy val lookup: Map[(Int, Int, Int, Int), (Int, Int)] = {
    val m = scala.collection.mutable.Map(faceIjkBaseCellLookup.toSeq: _*)
    for (bc <- 0 until 122 if isPentagon(bc)) {
      val res0 = (1L << ModeOffset) | (bc.toLong << BaseCellOffset) | 0x1FFFFFFFFFFFL
      // group descendants by the (face, res0-ijk) key their encode path hits
      val groups = scala.collection.mutable.Map[(Int, Int, Int, Int),
        scala.collection.mutable.ArrayBuffer[(Long, Int, IJK)]]()
      for (child <- children(res0, 2)) {
        val (latD, lngD) = cellToLatLng(child)
        val lat = math.toRadians(latD); val lng = math.toRadians(lngD)
        val (face, x, y) = geoToHex2d(lat, lng, 2)
        var ijk = hex2dToIjk(x, y)
        var r = 1
        while (r >= 0) {
          ijk = if (isClassIII(r + 1)) upAp7(ijk) else upAp7r(ijk)
          r -= 1
        }
        val n = normalize(ijk)
        if (n.i <= 2 && n.j <= 2 && n.k <= 2) {
          val key = (face, n.i, n.j, n.k)
          if (m.get(key).exists(_._1 == bc))
            groups.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer()) +=
              ((child, face, hex2dToIjk(x, y)))
        }
      }
      for ((key, members) <- groups) {
        val works = (0 until 5).filter { rot =>
          members.forall { case (child, face, ijk) =>
            encodeWithRotation(face, ijk, 2, bc, rot) == child
          }
        }
        if (works.nonEmpty) m(key) = (bc, works.head)
      }
    }
    m.toMap
  }

  /** faceIjkToH3 with an explicit base-cell rotation (calibration probe). */
  private def encodeWithRotation(face: Int, cIn: IJK, res: Int,
                                 bc: Int, numRots: Int): Long = {
    var h = init(res)
    var ijk = cIn
    var r = res - 1
    while (r >= 0) {
      val last = ijk
      val lastCenter =
        if (isClassIII(r + 1)) { ijk = upAp7(ijk); downAp7(ijk) }
        else { ijk = upAp7r(ijk); downAp7r(ijk) }
      val diff = normalize(last - lastCenter)
      h = setDigit(h, r + 1, unitIjkToDigit(diff))
      r -= 1
    }
    h = setBaseCell(h, bc)
    if (leadingNonZeroDigit(h) == 1) {
      if (isCwOffset(bc, face)) h = rotate60cwIndex(h)
      else h = rotate60ccwIndex(h)
    }
    var i = 0
    while (i < numRots) { h = rotatePent60ccw(h); i += 1 }
    h
  }

  // ---------------- H3 index bit layout ----------------

  private final val ModeOffset = 59
  private final val ResOffset = 52
  private final val BaseCellOffset = 45

  def getRes(h: Long): Int = ((h >>> ResOffset) & 0xF).toInt
  def getBaseCell(h: Long): Int = ((h >>> BaseCellOffset) & 0x7F).toInt
  def getDigit(h: Long, r: Int): Int = ((h >>> ((MaxRes - r) * 3)) & 0x7).toInt

  private def setDigit(h: Long, r: Int, digit: Int): Long = {
    val shift = (MaxRes - r) * 3
    (h & ~(0x7L << shift)) | (digit.toLong << shift)
  }

  private def setBaseCell(h: Long, bc: Int): Long =
    (h & ~(0x7FL << BaseCellOffset)) | (bc.toLong << BaseCellOffset)

  private def init(res: Int): Long = {
    var h = (1L << ModeOffset) | (res.toLong << ResOffset)
    var r = 1
    while (r <= MaxRes) { h = if (r <= res) h else setDigit(h, r, 7); r += 1 }
    // digits beyond res are all 7; digits 1..res start at 0
    var r2 = res + 1
    h = h | {
      var mask = 0L
      while (r2 <= MaxRes) { mask |= 0x7L << ((MaxRes - r2) * 3); r2 += 1 }
      mask
    }
    h
  }

  private def leadingNonZeroDigit(h: Long): Int = {
    val res = getRes(h)
    var r = 1
    while (r <= res) {
      val d = getDigit(h, r)
      if (d != 0) return d
      r += 1
    }
    0
  }

  private def rotate60ccwIndex(hIn: Long): Long = {
    var h = hIn
    val res = getRes(h)
    var r = 1
    while (r <= res) { h = setDigit(h, r, digitRotCcw(getDigit(h, r))); r += 1 }
    h
  }

  private def rotate60cwIndex(hIn: Long): Long = {
    var h = hIn
    val res = getRes(h)
    var r = 1
    while (r <= res) { h = setDigit(h, r, digitRotCw(getDigit(h, r))); r += 1 }
    h
  }

  private def rotatePent60ccw(hIn: Long): Long = {
    var h = hIn
    val res = getRes(h)
    var found = false
    var r = 1
    while (r <= res) {
      h = setDigit(h, r, digitRotCcw(getDigit(h, r)))
      if (!found && getDigit(h, r) != 0) {
        found = true
        if (leadingNonZeroDigit(h) == 1) h = rotate60ccwIndex(h)
      }
      r += 1
    }
    h
  }

  // ---------------- geo → H3 ----------------

  /** latLngToCell (degrees in, standard h3 argument order lat/lng). */
  def latLngToCell(latDeg: Double, lngDeg: Double, res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"resolution must be in [0, $MaxRes], got $res")
    val lat = math.toRadians(latDeg); val lng = math.toRadians(lngDeg)
    val (face, x, y) = geoToHex2d(lat, lng, res)
    faceIjkToH3(face, hex2dToIjk(x, y), res)
  }

  private[core] def faceIjkToH3(face: Int, cIn: IJK, res: Int): Long = {
    var h = init(res)
    if (res == 0) {
      if (cIn.i > 2 || cIn.j > 2 || cIn.k > 2) return 0L
      val (bc, _) = faceIjkToBaseCell(face, cIn)
      return setBaseCell(h, bc)
    }
    // walk up to res 0, recording digits
    var ijk = cIn
    var r = res - 1
    while (r >= 0) {
      val last = ijk
      val lastCenter =
        if (isClassIII(r + 1)) { ijk = upAp7(ijk); downAp7(ijk) }
        else { ijk = upAp7r(ijk); downAp7r(ijk) }
      val diff = normalize(last - lastCenter)
      h = setDigit(h, r + 1, unitIjkToDigit(diff))
      r -= 1
    }
    if (ijk.i > 2 || ijk.j > 2 || ijk.k > 2) return 0L
    val (bc, numRots) = faceIjkToBaseCell(face, ijk)
    h = setBaseCell(h, bc)
    if (isPentagon(bc)) {
      if (leadingNonZeroDigit(h) == 1) { // K axis
        if (isCwOffset(bc, face)) h = rotate60cwIndex(h)
        else h = rotate60ccwIndex(h)
      }
      var i = 0
      while (i < numRots) { h = rotatePent60ccw(h); i += 1 }
    } else {
      var i = 0
      while (i < numRots) { h = rotate60ccwIndex(h); i += 1 }
    }
    h
  }

  // ---------------- H3 → faceIjk (with overage) → geo ----------------

  /** faceNeighbors structural pattern (faceijk.c): for each face, the
    * adjacent face + substrate translation + ccw rotations for the IJ, KI
    * and JK quadrants. */
  private case class FaceOrient(face: Int, translate: IJK, ccwRot60: Int)

  private val faceNeighbors: Array[Array[FaceOrient]] = Array.tabulate(20) { f =>
    val central = FaceOrient(f, IJK(0, 0, 0), 0)
    val (ij, ki, jk) =
      if (f < 5) (
        FaceOrient((f + 4) % 5, IJK(2, 0, 2), 1),
        FaceOrient((f + 1) % 5, IJK(2, 2, 0), 5),
        FaceOrient(f + 5, IJK(0, 2, 2), 3))
      else if (f < 10) (
        FaceOrient(f + 5, IJK(2, 2, 0), 3),
        FaceOrient((f - 6 + 5) % 5 + 10, IJK(2, 0, 2), 3),
        FaceOrient(f - 5, IJK(0, 2, 2), 3))
      else if (f < 15) (
        FaceOrient(f - 5, IJK(2, 2, 0), 3),
        FaceOrient((f - 10 + 1) % 5 + 5, IJK(2, 0, 2), 3),
        FaceOrient(f + 5, IJK(0, 2, 2), 3))
      else (
        FaceOrient((f - 15 + 1) % 5 + 15, IJK(2, 0, 2), 1),
        FaceOrient((f - 15 + 4) % 5 + 15, IJK(2, 2, 0), 5),
        FaceOrient(f - 5, IJK(0, 2, 2), 3))
    // indices: 0=central, 1=IJ, 2=KI, 3=JK (faceijk.c IJ/KI/JK constants)
    Array(central, ij, ki, jk)
  }

  private def maxDimByCIIres(res: Int): Int = 2 * math.pow(7, res / 2).toInt
  private def unitScaleByCIIres(res: Int): Int = math.pow(7, res / 2).toInt

  /** Returns (face, ijk, overage) — 0 none, 1 face edge, 2 new face. */
  private def adjustOverageClassII(face: Int, cIn: IJK, res: Int,
                                   pentLeading4: Boolean,
                                   substrate: Boolean): (Int, IJK, Int) = {
    var f = face; var c = cIn
    var overage = 0
    var maxDim = maxDimByCIIres(res)
    if (substrate) maxDim *= 3
    if (substrate && c.sum == maxDim) overage = 1
    else if (c.sum > maxDim) {
      overage = 2
      val orient =
        if (c.k > 0) {
          if (c.j > 0) faceNeighbors(f)(3) // JK quadrant
          else {
            // IK quadrant
            if (pentLeading4) {
              // rotate out of the pentagon's missing k sub-sequence
              val origin = IJK(maxDim, 0, 0)
              c = normalize(rotate60cwRaw(c - origin) + origin)
            }
            faceNeighbors(f)(2)
          }
        } else faceNeighbors(f)(1) // IJ quadrant
      f = orient.face
      var i = 0
      while (i < orient.ccwRot60) { c = rotate60ccw(c); i += 1 }
      var scale = unitScaleByCIIres(res)
      if (substrate) scale *= 3
      c = normalize(c + orient.translate * scale)
      if (substrate && c.sum == maxDim) overage = 1
    }
    (f, c, overage)
  }

  // rotate without normalize (used around a translated origin)
  private def rotate60cwRaw(c: IJK): IJK =
    IJK(1, 0, 1) * c.i + IJK(1, 1, 0) * c.j + IJK(0, 1, 1) * c.k

  /** h → (face, ijk) canonical, resolving cross-face overage. */
  private[core] def h3ToFaceIjk(hIn: Long): (Int, IJK) = {
    var h = hIn
    val baseCell = getBaseCell(h)
    if (isPentagon(baseCell) && leadingNonZeroDigit(h) == 5)
      h = rotate60cwIndex(h)
    val d = baseCellData(baseCell)
    var face = d._1
    var ijk = IJK(d._2, d._3, d._4)
    val res = getRes(h)
    // walk down the digits from the home res-0 coords
    var possibleOverage = true
    if (!isPentagon(baseCell) &&
      (res == 0 || (ijk.i == 0 && ijk.j == 0 && ijk.k == 0))) possibleOverage = false
    var r = 1
    while (r <= res) {
      ijk = if (isClassIII(r)) downAp7(ijk) else downAp7r(ijk)
      ijk = neighborIjk(ijk, getDigit(h, r))
      r += 1
    }
    if (!possibleOverage) return (face, ijk)
    val origIjk = ijk
    var adjRes = res
    if (isClassIII(res)) { ijk = downAp7r(ijk); adjRes += 1 }
    val pentLeading4 = isPentagon(baseCell) && leadingNonZeroDigit(h) == 4
    val (f1, c1, ov1) = adjustOverageClassII(face, ijk, adjRes, pentLeading4, substrate = false)
    if (ov1 != 0) {
      face = f1; ijk = c1
      if (isPentagon(baseCell)) {
        var again = true
        while (again) {
          val (f2, c2, ov2) = adjustOverageClassII(face, ijk, adjRes, pentLeading4 = false,
            substrate = false)
          face = f2; ijk = c2
          again = ov2 != 0
        }
      }
      if (adjRes != res) ijk = upAp7r(ijk)
    } else if (adjRes != res) ijk = origIjk
    (face, ijk)
  }

  /** Cell center (lat, lng degrees). */
  def cellToLatLng(h: Long): (Double, Double) = {
    val (face, ijk) = h3ToFaceIjk(h)
    val (lat, lng) = faceIjkToGeo(face, ijk, getRes(h))
    (math.toDegrees(lat), math.toDegrees(lng))
  }

  // ---------------- boundary ----------------

  // class II / class III substrate vertex offsets (faceijk.c _faceIjkToVerts)
  private val vertsCII = Array(
    IJK(2, 1, 0), IJK(1, 2, 0), IJK(0, 2, 1), IJK(0, 1, 2), IJK(1, 0, 2), IJK(2, 0, 1))
  private val vertsCIII = Array(
    IJK(5, 4, 0), IJK(1, 5, 0), IJK(0, 5, 4), IJK(0, 1, 5), IJK(4, 0, 5), IJK(5, 0, 1))

  /** Cell boundary vertices as (lat, lng) degrees, 6 for hexagons, 5 for
    * pentagons. (Extra icosa-edge crossing points of the canonical H3
    * boundary are not emitted — vertex positions themselves are exact.) */
  def cellBoundary(h: Long): Array[(Double, Double)] = {
    val res = getRes(h)
    val (face, ijk) = h3ToFaceIjk(h)
    val pent = isPentagon(getBaseCell(h)) && leadingNonZeroDigit(h) == 0
    // move to the substrate grid (aperture 3, then 3r; +7r when class III)
    var c = downAp3r(downAp3(ijk))
    var adjRes = res
    if (isClassIII(res)) { c = downAp7r(c); adjRes += 1 }
    val verts = if (isClassIII(res)) vertsCIII else vertsCII
    val out = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    val vertIdx = if (pent) Array(0, 1, 2, 3, 4) else Array(0, 1, 2, 3, 4, 5)
    for (v <- vertIdx) {
      var vf = face
      var vc = normalize(c + verts(v))
      // adjust for overage, possibly multiple times for pentagons
      var continue = true
      var guard = 0
      while (continue && guard < 4) {
        val (f2, c2, ov) = adjustOverageClassII(vf, vc, adjRes, pentLeading4 = false,
          substrate = true)
        vf = f2; vc = c2
        continue = ov == 2
        guard += 1
      }
      val (x, y) = ijkToHex2d(vc)
      val (lat, lng) = hex2dToGeo(vf, x, y, adjRes, substrate = true)
      out += ((math.toDegrees(lat), math.toDegrees(lng)))
    }
    out.toArray
  }

  /** Planar lon/lat polygon of the cell (lng,lat vertex order for JTS). */
  def cellGeometry(h: Long): org.locationtech.jts.geom.Geometry =
    Geo.polygon(cellBoundary(h).toSeq.map { case (lat, lng) => (lng, lat) })

  /** True pentagon cell (base cell pentagon and all-zero digits). */
  def isPentagonCell(h: Long): Boolean =
    isPentagon(getBaseCell(h)) && leadingNonZeroDigit(h) == 0

  // ---------------- hierarchy ----------------

  def parent(h: Long, parentRes: Int): Long = {
    val res = getRes(h)
    require(parentRes >= 0 && parentRes <= res, s"bad parent res $parentRes")
    var out = (h & ~(0xFL << ResOffset)) | (parentRes.toLong << ResOffset)
    var r = parentRes + 1
    while (r <= res) { out = setDigit(out, r, 7); r += 1 }
    out
  }

  def children(h: Long, childRes: Int): Seq[Long] = {
    val res = getRes(h)
    require(childRes >= res && childRes <= MaxRes, s"bad child res $childRes")
    if (childRes == res) return Seq(h)
    val base = (h & ~(0xFL << ResOffset)) | (childRes.toLong << ResOffset)
    val pent = isPentagonCell(h)
    def expand(prefix: Long, r: Int, pentPath: Boolean): Seq[Long] =
      if (r > childRes) Seq(prefix)
      else {
        val digits = if (pentPath) Seq(0, 2, 3, 4, 5, 6) else 0 to 6
        digits.flatMap(d => expand(setDigit(prefix, r, d), r + 1, pentPath && d == 0))
      }
    var cleared = base
    var r = res + 1
    while (r <= childRes) { cleared = setDigit(cleared, r, 0); r += 1 }
    expand(cleared, res + 1, pent)
  }

  // ---------------- neighbors / rings (geometric) ----------------

  /** The (up to 6) neighbors of a cell: reflect the center across each
    * boundary-edge midpoint on the sphere and locate the landing cell.
    * Table-free and pentagon-safe; exactness comes from latLngToCell. */
  def neighbors(h: Long): Seq[Long] = {
    val res = getRes(h)
    val (clat, clng) = cellToLatLng(h)
    val c3 = geoToVec3(math.toRadians(clat), math.toRadians(clng))
    val verts = cellBoundary(h)
    val n = verts.length
    (0 until n).map { v =>
      val a = verts(v); val b = verts((v + 1) % n)
      val a3 = geoToVec3(math.toRadians(a._1), math.toRadians(a._2))
      val b3 = geoToVec3(math.toRadians(b._1), math.toRadians(b._2))
      // edge midpoint (normalized chord midpoint), then reflect the center
      val mx = (a3._1 + b3._1) / 2; val my = (a3._2 + b3._2) / 2; val mz = (a3._3 + b3._3) / 2
      val mn = math.sqrt(mx * mx + my * my + mz * mz)
      val m = (mx / mn, my / mn, mz / mn)
      val rx = 2 * m._1 - c3._1; val ry = 2 * m._2 - c3._2; val rz = 2 * m._3 - c3._3
      val rn = math.sqrt(rx * rx + ry * ry + rz * rz)
      val lat = math.asin(rz / rn)
      val lng = math.atan2(ry / rn, rx / rn)
      latLngToCell(math.toDegrees(lat), math.toDegrees(lng), res)
    }.distinct.filterNot(_ == h)
  }

  /** All cells within k hops (grid disk, filled), including the origin, in
    * BFS order. */
  def gridDisk(h: Long, k: Int): Seq[Long] = {
    require(k >= 0, "k must be >= 0")
    gridDiskDistances(h, k).map(_._1)
  }

  /** Hollow ring at exactly distance k, in BFS order. */
  def gridRing(h: Long, k: Int): Seq[Long] = {
    require(k >= 0, "k must be >= 0")
    gridDiskDistances(h, k).collect { case (c, d) if d == k => c }
  }

  /** Grid distances from the origin out to max k: (cell, distance), in BFS
    * order — the one BFS behind gridDisk and gridRing. */
  def gridDiskDistances(h: Long, k: Int): Seq[(Long, Int)] = {
    var frontier = Set(h)
    val seen = scala.collection.mutable.LinkedHashMap(h -> 0)
    var d = 0
    while (d < k) {
      frontier = frontier.flatMap(neighbors).filterNot(seen.contains)
      d += 1
      frontier.foreach(c => seen(c) = d)
    }
    seen.toSeq
  }

  // ---------------- local IJ ----------------

  /** Local (i, j) of `cell` relative to `origin` — srai semantics
    * (srai/h3.py:164-193: `get_local_ij_index` = origin_ij − cell_ij, i.e.
    * the sign-flipped h3 cell_to_local_ij). Errors on pentagon involvement
    * for non-self pairs like the reference
    * (tests/h3/test_ij_coordinates.py:93-104). */
  def localIj(origin: Long, cell: Long): (Int, Int) = {
    require(getRes(origin) == getRes(cell), "resolution mismatch")
    if (origin == cell) return (0, 0)
    require(!isPentagon(getBaseCell(origin)) && !isPentagon(getBaseCell(cell)),
      "pentagon distortion: local ij undefined (reference error)")
    val res = getRes(origin)
    // lattice coordinates in the frame of the origin's base-cell home face
    // (H3's localIjk anchor); geometric quantization of the true cell
    // centers — exact for the local patches this API targets
    val faceO = baseCellData(getBaseCell(origin))._1
    def axialOn(face: Int, h: Long): (Int, Int) = {
      val (latDeg, lngDeg) = cellToLatLng(h)
      val lat = math.toRadians(latDeg); val lng = math.toRadians(lngDeg)
      val p = geoToVec3(lat, lng)
      val sq = sqDist(faceCenterPoint(face), p)
      var r = math.acos(1 - sq / 2)
      // gnomonic projection is only valid within the hemisphere of the
      // anchor face; past ~60° the tangent folds distant cells onto
      // plausible-looking but MEANINGLESS lattice positions. The reference
      // raises H3FailedError for such pairs — so do we, instead of
      // silently returning garbage (review finding, round 3).
      require(r < math.Pi / 3,
        f"cells too far apart for local ij (${math.toDegrees(r)}%.1f° from " +
          "the origin's home face; reference raises H3FailedError)")
      var theta = posAngle(faceAxesAzClassII(face) -
        posAngle(geoAzimuth(faceCenterGeo(face)._1, faceCenterGeo(face)._2, lat, lng)))
      if (isClassIII(res)) theta = posAngle(theta - M_AP7_ROT_RADS)
      r = math.tan(r) / RES0_U_GNOMONIC
      var i = 0
      while (i < res) { r *= M_SQRT7; i += 1 }
      val c = hex2dToIjk(r * math.cos(theta), r * math.sin(theta))
      (c.i - c.k, c.j - c.k)
    }
    val (oi, oj) = axialOn(faceO, origin)
    val (ci, cj) = axialOn(faceO, cell)
    (oi - ci, oj - cj)
  }

  // ---------------- polygon cover ----------------

  /** All res-`res` cells intersecting `g` (JTS planar, like the reference's
    * shapely-based refinement). `containsCentroid=true` keeps only cells
    * whose center lies in `g` — the two ContainmentModes of the reference
    * H3 regionalizer (srai/h3.py:78: Covers when buffer else
    * ContainsCentroid). Flooded through neighbors ([[Geo.floodCover]]). */
  def cover(g: org.locationtech.jts.geom.Geometry, res: Int,
            containsCentroid: Boolean = false): Seq[Long] = {
    require(res >= 0 && res <= MaxRes, s"resolution must be in [0, $MaxRes], got $res")
    val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(g)
    val all = Geo.floodCover(prep, (lng, lat) => latLngToCell(lat, lng, res),
      cellGeometry, neighbors)
    if (!containsCentroid) all
    else all.filter { c =>
      val (lat, lng) = cellToLatLng(c)
      prep.contains(Geo.point(lng, lat))
    }
  }

  // ---------------- string ids ----------------

  def toHexString(h: Long): String = java.lang.Long.toHexString(h)
  def fromHexString(s: String): Long = java.lang.Long.parseUnsignedLong(s, 16)
}
