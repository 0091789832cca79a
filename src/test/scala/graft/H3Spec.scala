package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Geo, H3}

/** Golden-fixture tests copied from the reference's deterministic unit
  * tests (FIXTURES.md §4, §6, §7). */
class H3Spec extends AnyFunSuite {

  // --- regionalizer cover (tests/regionalizers/test_h3_regionalizer.py:22-41)
  val expectedBuffered = Set(
    "837559fffffffff", "83754efffffffff", "83754cfffffffff", "837541fffffffff",
    "83755dfffffffff", "837543fffffffff", "83754afffffffff")

  test("polygon cover res 3 buffer=true matches reference (7 cells)") {
    val cells = (H3.cover(Fixtures.p1, 3) ++ H3.cover(Fixtures.p2, 3)).distinct
    assert(cells.map(H3.toHexString).toSet === expectedBuffered)
  }

  test("polygon cover res 3 buffer=false (ContainsCentroid) matches reference (1 cell)") {
    val cells = (H3.cover(Fixtures.p1, 3, containsCentroid = true) ++
      H3.cover(Fixtures.p2, 3, containsCentroid = true)).distinct
    assert(cells.map(H3.toHexString).toSet === Set("83754efffffffff"))
  }

  test("multipolygon cover gives identical result (explode)") {
    val cells = Geo.dump(Fixtures.multi).flatMap(H3.cover(_, 3)).distinct
    assert(cells.map(H3.toHexString).toSet === expectedBuffered)
  }

  test("resolution guards") {
    intercept[IllegalArgumentException](H3.cover(Fixtures.p1, -1))
    intercept[IllegalArgumentException](H3.cover(Fixtures.p1, 16))
  }

  // --- grid disk fixture (tests/neighbourhoods/h3/test_with_regions.py:42-80)
  test("gridDisk(862bac507ffffff, 2) matches the reference's exact 19 ids") {
    val expected = Set(
      "862bac507ffffff",
      // first ring
      "862bac50fffffff", "862bac517ffffff", "862bac51fffffff",
      "862bac527ffffff", "862bac52fffffff", "862bac537ffffff",
      // second ring
      "862ba124fffffff", "862ba126fffffff", "862bac427ffffff",
      "862bac437ffffff", "862bac557ffffff", "862bac577ffffff",
      "862bac5a7ffffff", "862bac5afffffff", "862bacc8fffffff",
      "862bacc9fffffff", "862baccd7ffffff", "862baccdfffffff")
    val disk = H3.gridDisk(H3.fromHexString("862bac507ffffff"), 2)
    assert(disk.map(H3.toHexString).toSet === expected)
    val ring2 = H3.gridRing(H3.fromHexString("862bac507ffffff"), 2)
    assert(ring2.size === 12)
    val ring1 = H3.gridRing(H3.fromHexString("862bac507ffffff"), 1)
    assert(ring1.map(H3.toHexString).toSet === Set(
      "862bac50fffffff", "862bac517ffffff", "862bac51fffffff",
      "862bac527ffffff", "862bac52fffffff", "862bac537ffffff"))
  }

  test("gridDisk / gridRing from one BFS match the two-BFS forms element for element") {
    // the former implementations: a disk BFS of its own, and a ring as the
    // difference of two disks
    def diskBfs(h: Long, k: Int): Seq[Long] = {
      var frontier = Set(h)
      val seen = scala.collection.mutable.LinkedHashSet(h)
      for (_ <- 0 until k) {
        frontier = frontier.flatMap(H3.neighbors).diff(seen.toSet)
        seen ++= frontier
      }
      seen.toSeq
    }
    def ringOfDisks(h: Long, k: Int): Seq[Long] =
      if (k == 0) Seq(h) else diskBfs(h, k).filterNot(diskBfs(h, k - 1).toSet)
    // every pentagon at res 2 and 4 with its neighbours, plus a hex field
    val nearPentagons = for {
      bc <- (0 until 122).filter(H3.isPentagon)
      res <- Seq(2, 4)
      pent = H3.children((1L << 59) | (bc.toLong << 45) | 0x1FFFFFFFFFFFL, res)
        .find(H3.isPentagonCell).get
      c <- pent +: H3.neighbors(pent)
    } yield c
    val field = for (i <- 0 until 10; j <- 0 until 10)
      yield H3.latLngToCell(51.0 + i * 0.05, 16.9 + j * 0.08, 7)
    val cells = (nearPentagons ++ field).distinct
    assert(cells.size >= 200)
    for (c <- cells; k <- 0 to 3) {
      assert(H3.gridDisk(c, k) === diskBfs(c, k), s"disk ${H3.toHexString(c)} k=$k")
      assert(H3.gridRing(c, k) === ringOfDisks(c, k), s"ring ${H3.toHexString(c)} k=$k")
    }
  }

  test("neighbors of 811e3ffffffffff contain the reference's 5 named neighbours") {
    val ns = H3.neighbors(H3.fromHexString("811e3ffffffffff")).map(H3.toHexString).toSet
    val expected5 = Set("811f3ffffffffff", "811fbffffffffff", "811ebffffffffff",
      "811efffffffffff", "811e7ffffffffff")
    assert(ns.size === 6)
    assert(expected5.subsetOf(ns))
  }

  // --- local IJ fixtures (tests/h3/test_ij_coordinates.py)
  test("localIj self is (0,0) incl. pentagon base cells") {
    for (h <- Seq("891e2040d4bffff", "871e20400ffffff", "821f77fffffffff",
      "81743ffffffffff")) {
      val c = H3.fromHexString(h)
      assert(H3.localIj(c, c) === ((0, 0)))
    }
  }

  test("localIj pairs are (0,1) in srai orientation") {
    for ((o, c) <- Seq(
      ("871f53c93ffffff", "871f53c91ffffff"),
      ("861fae207ffffff", "861fae22fffffff"),
      ("81597ffffffffff", "813fbffffffffff"),
      ("84be185ffffffff", "84be181ffffffff"))) {
      assert(H3.localIj(H3.fromHexString(o), H3.fromHexString(c)) === ((0, 1)),
        s"pair ($o, $c)")
    }
  }

  test("localIj ring lists match the reference orientation") {
    val cases = Seq(
      "892a100d6d3ffff" -> Seq("892a100896fffff", "892a100d6d7ffff", "892a100d6c3ffff",
        "892a100d6dbffff", "892a1008ba7ffff", "892a100896bffff"),
      "86195da4fffffff" -> Seq("86194ad37ffffff", "86194ad17ffffff", "86194ada7ffffff",
        "86195da5fffffff", "86195da47ffffff", "86195da6fffffff"),
      "8a1e24aa5637fff" -> Seq("8a1e24aa5627fff", "8a1e24aa5607fff", "8a1e24aa5617fff",
        "8a1e24aa578ffff", "8a1e24aa57affff", "8a1e24aa571ffff"))
    val expected = Seq((0, 1), (1, 1), (1, 0), (0, -1), (-1, -1), (-1, 0))
    for ((o, cells) <- cases) {
      val got = cells.map(c => H3.localIj(H3.fromHexString(o), H3.fromHexString(c)))
      assert(got === expected, s"origin $o")
    }
  }

  test("localIj pentagon pairs error (reference H3FailedError)") {
    for ((o, c) <- Seq(
      ("83a75dfffffffff", "83a791fffffffff"),
      ("84a605bffffffff", "84a6021ffffffff"),
      ("836200fffffffff", "837400fffffffff"))) {
      intercept[IllegalArgumentException](
        H3.localIj(H3.fromHexString(o), H3.fromHexString(c)))
    }
  }

  // --- properties ---
  test("round-trip latLngToCell ∘ cellToLatLng is identity (10k samples, res 0-12)") {
    val rnd = new scala.util.Random(99L)
    for (_ <- 1 to 10000) {
      val lat = rnd.nextDouble() * 170 - 85
      val lng = rnd.nextDouble() * 360 - 180
      val res = rnd.nextInt(13)
      val h = H3.latLngToCell(lat, lng, res)
      val (clat, clng) = H3.cellToLatLng(h)
      assert(H3.latLngToCell(clat, clng, res) === h,
        s"res=$res ($lat,$lng) ${H3.toHexString(h)}")
    }
  }

  test("12 pentagons; pentagon cells have 5 neighbors and 5 boundary verts") {
    val pents = (0 until 122).filter(H3.isPentagon)
    assert(pents === Seq(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117))
    for (bc <- Seq(4, 58, 117)) {
      val h = H3.latLngToCell(0, 0, 2) // placeholder, build res-2 pentagon directly
      val res0 = (1L << 59) | (bc.toLong << 45) | 0x1FFFFFFFFFFFL
      val pent2 = H3.children(res0, 2).find(H3.isPentagonCell).get
      assert(H3.cellBoundary(pent2).length === 5)
      assert(H3.neighbors(pent2).size === 5)
      assert(H3.gridDisk(pent2, 1).size === 6)
    }
  }

  test("children partition their parent; counts 7^k (hex) / 1+5*(7^k-1)/6 (pent)") {
    val h = H3.latLngToCell(51.11, 17.03, 6)
    assert(H3.children(h, 8).size === 49)
    assert(H3.children(h, 8).forall(c => H3.parent(c, 6) == h))
    val res0 = (1L << 59) | (58L << 45) | 0x1FFFFFFFFFFFL
    assert(H3.children(res0, 2).size === 41) // 1 + 5*(7^2-1)/6 for a pentagon at +2
  }

  test("boundary vertices surround the center (sanity)") {
    val rnd = new scala.util.Random(5L)
    for (_ <- 1 to 300) {
      val lat = rnd.nextDouble() * 160 - 80
      val lng = rnd.nextDouble() * 360 - 180
      val res = 1 + rnd.nextInt(9)
      val h = H3.latLngToCell(lat, lng, res)
      val (clat, clng) = H3.cellToLatLng(h)
      val b = H3.cellBoundary(h)
      assert(b.length >= 5)
      // each vertex is within a few cell radii and the polygon contains the center
      if (math.abs(clat) < 80 && b.forall(v => math.abs(v._2 - clng) < 90)) {
        val poly = Geo.polygon(b.toSeq.map { case (la, lo) => (lo, la) })
        assert(poly.contains(Geo.point(clng, clat)), s"center outside ${H3.toHexString(h)}")
      }
    }
  }
}
