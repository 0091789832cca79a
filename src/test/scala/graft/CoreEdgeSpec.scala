package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Geo, H3, S2}
import graft.functions.ImageOps

/** Edge cases the golden fixtures don't reach (round-3 core review). */
class CoreEdgeSpec extends AnyFunSuite {

  test("localIj raises for cells beyond the gnomonic validity bound") {
    // NYC → Sydney: the reference's cell_to_local_ij raises H3FailedError;
    // round-2 code silently returned a bogus lattice position
    val nyc = H3.latLngToCell(40.7128, -74.0060, 5)
    val syd = H3.latLngToCell(-33.8688, 151.2093, 5)
    val e = intercept[IllegalArgumentException](H3.localIj(nyc, syd))
    assert(e.getMessage.contains("too far apart"))
    // nearby pairs still work
    val nb = H3.neighbors(nyc).head
    assert(H3.localIj(nyc, nb) !== ((0, 0)))
  }

  test("dump unwraps single-part multi-geometries like the reference explode") {
    val single = Geo.fromWkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)))")
    val parts = Geo.dump(single)
    assert(parts.size === 1)
    assert(parts.head.getGeometryType === "Polygon")
    val gc = Geo.fromWkt("GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)))")
    assert(Geo.dump(gc).head.getGeometryType === "Polygon")
  }

  test("s2 leaf cells reject children; token sentinel X round-trips to 0") {
    val leaf = S2.lngLatToLeaf(10.0, 10.0)
    intercept[IllegalArgumentException](S2.children(leaf))
    assert(S2.fromToken(S2.toToken(0L)) === 0L)
    intercept[IllegalArgumentException](
      S2.childrenAtLevel(S2.parent(leaf, 0), 16)) // 4^16 children: refuse
  }

  test("fmt16 matches C printf %.16f on sign/tie/zero anchors (shapely parity)") {
    // golden values from CPython f"{v:.16f}" (same correctly-rounded
    // fixed formatting as glibc printf and DuckDB printf — the formatter
    // shapely's wkt.dumps coordinates go through)
    val anchors = Seq(
      0.0 -> "0.0000000000000000",
      -0.0 -> "-0.0000000000000000",
      1.0 -> "1.0000000000000000",
      0.1 -> "0.1000000000000000",
      123.456 -> "123.4560000000000031",
      -17.05 -> "-17.0500000000000007",
      1e-17 -> "0.0000000000000000",
      -1e-17 -> "-0.0000000000000000",
      2.5e-16 -> "0.0000000000000003",
      123456789.123456789 -> "123456789.1234567910432816",
      1.7976931348623157e+10 -> "17976931348.6231575012207031",
      51.1106 -> "51.1105999999999980",
      17.0297 -> "17.0296999999999983",
      -0.5 -> "-0.5000000000000000",
      3.0000000000000004 -> "3.0000000000000004")
    for ((v, want) <- anchors)
      assert(graft.core.Geo.fmt16(v) === want, s"fmt16($v)")
    intercept[IllegalArgumentException](graft.core.Geo.fmt16(Double.NaN))
    // structural layout: point, polygon with hole, multipolygon
    import graft.core.Geo
    assert(Geo.toWktShapely(Geo.point(0.1, -0.5)) ===
      "POINT (0.1000000000000000 -0.5000000000000000)")
    assert(Geo.toWktShapely(Geo.fromWkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")) ===
      "POLYGON ((0.0000000000000000 0.0000000000000000, 4.0000000000000000 0.0000000000000000, " +
      "4.0000000000000000 4.0000000000000000, 0.0000000000000000 4.0000000000000000, " +
      "0.0000000000000000 0.0000000000000000), (1.0000000000000000 1.0000000000000000, " +
      "2.0000000000000000 1.0000000000000000, 2.0000000000000000 2.0000000000000000, " +
      "1.0000000000000000 2.0000000000000000, 1.0000000000000000 1.0000000000000000))")
    assert(Geo.toWktShapely(Geo.fromWkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))")) ===
      "MULTIPOLYGON (((0.0000000000000000 0.0000000000000000, 1.0000000000000000 0.0000000000000000, " +
      "1.0000000000000000 1.0000000000000000, 0.0000000000000000 0.0000000000000000)))")
    assert(Geo.toWktShapely(Geo.fromWkt("POLYGON EMPTY")) === "POLYGON EMPTY")
  }

  test("the level-5 pole cell is one cell at every longitude, with the pole as a vertex") {
    // lat 90 is face 2's centre, (i, j) = (2^29, 2^29): Hilbert position 2
    // at level 1, then 0 — token 5004, as the reference S2CellId gives
    val pole = S2.lngLatToCell(0, 90, 5)
    assert(S2.toToken(pole) === "5004")
    for (lng <- Seq(-180.0, -90.0, 45.0, 90.0, 180.0))
      assert(S2.lngLatToCell(lng, 90, 5) === pole, s"lng $lng")
    assert(S2.cellVertices(pole).count(_._2 > 90 - 1e-9) === 1)
  }

  test("lng 180 and -180 on the equator land in the two edge-adjacent cells cornered there") {
    // (±180, 0) is face 3's centre, a corner of four cells. sin(±π) is
    // ±1.2e-16, not 0, so the two longitudes fall on either side of the
    // antimeridian edge, as in the reference's S2LatLng.ToPoint: both
    // cells hold the point as a vertex
    val east = S2.lngLatToCell(180, 0, 5)
    val west = S2.lngLatToCell(-180, 0, 5)
    assert((S2.toToken(east), S2.toToken(west)) === (("6ffc", "7004")))
    assert(S2.edgeNeighbors(east).contains(west))
    for (c <- Seq(east, west))
      assert(S2.cellVertices(c).exists { case (lng, lat) =>
        math.abs(lng) == 180.0 && lat == 0.0 })
  }

  test("the cover of POLYGON EMPTY is empty") {
    val empty = Geo.fromWkt("POLYGON EMPTY")
    assert(S2.cover(empty, 7).isEmpty)
    assert(H3.cover(empty, 7).isEmpty)
  }

  test("image dims are header-only and fail clearly on undecodable bytes") {
    val px = Array.tabulate(12)(i => i * 1000)
    val png = ImageOps.encode(px, 4, 3, "png")
    assert(ImageOps.dims(png) === ((4, 3)))
    val e = intercept[IllegalArgumentException](
      ImageOps.dims(Array[Byte](1, 2, 3, 4)))
    assert(e.getMessage.contains("undecodable"))
    // psnr rejects equal-length different-shape images
    val a = ImageOps.encode(Array.fill(16)(0x808080), 2, 8, "png")
    val b = ImageOps.encode(Array.fill(16)(0x808080), 4, 4, "png")
    intercept[IllegalArgumentException](ImageOps.psnr(a, b))
  }
}
