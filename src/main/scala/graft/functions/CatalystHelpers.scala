package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{S2, Slippy, Geo}

/** Catalyst-typed kernels: the static methods [[KernelCall]] rows call when
  * a value crosses the Catalyst boundary — they take and return Catalyst
  * Java types (UTF8String / ArrayData / InternalRow) so generated code calls
  * them directly without row conversion. The one-line adapters wrap the
  * Scala-typed kernels of [[ImageOps]], [[MediaOps]], [[RiffOps]] and
  * [[GeoMetrics]] that other code calls too. */
object CatalystHelpers {

  // ---- trajectories ([lat, lng] paths) ----
  private def path(d: ArrayData): Array[(Double, Double)] =
    Array.tabulate(d.numElements()) { i => val p = d.getArray(i); (p.getDouble(0), p.getDouble(1)) }
  /** Exact-DP DTW; the reference's `dtw_distance` is the fastdtw
    * approximation, [[fastDtwLatLng]] (documented deviation). */
  def dtwLatLng(a: ArrayData, b: ArrayData): Double = GeoMetrics.dtw(path(a), path(b))
  def fastDtwLatLng(a: ArrayData, b: ArrayData, radius: Int): Double =
    GeoMetrics.fastDtw(path(a), path(b), radius)

  // ---- images ----
  def imgReencode(bytes: Array[Byte], fmt: UTF8String): Array[Byte] =
    ImageOps.reencode(bytes, fmt.toString)
  def imgResize(bytes: Array[Byte], w: Int, h: Int, fmt: UTF8String): Array[Byte] =
    ImageOps.resize(bytes, w, h, fmt.toString)

  // ---- audio / video ----
  def audioRmsWindows(pcm: Array[Byte], window: Int): ArrayData =
    ArrayData.toArrayData(MediaOps.audioRmsWindows(pcm, window))
  def videoFrameSample(container: Array[Byte], stride: Int): ArrayData =
    ArrayData.toArrayData(MediaOps.videoFrameSample(container, stride))
  def wavDecode(b: Array[Byte]): InternalRow = {
    val w = RiffOps.wavDecode(b)
    InternalRow(w.sampleRate, w.channels, w.pcm)
  }
  def wavPcm(b: Array[Byte]): Array[Byte] = RiffOps.wavDecode(b).pcm
  def wavSampleRate(b: Array[Byte]): Int = RiffOps.wavDecode(b).sampleRate
  def wavChannels(b: Array[Byte]): Int = RiffOps.wavDecode(b).channels
  def aviHeader(b: Array[Byte]): InternalRow = {
    val (w, h, n) = RiffOps.aviHeader(b)
    InternalRow(w, h, n)
  }
  def aviFrames(b: Array[Byte]): ArrayData = ArrayData.toArrayData(RiffOps.aviFrames(b))
  def aviMjpegEncode(frames: ArrayData, w: Int, h: Int, fps: Int): Array[Byte] = {
    val fs = Array.tabulate(frames.numElements())(frames.getBinary)
    // null propagation guards only the top-level array — a null ELEMENT
    // must fail with a clear message, not an NPE inside the chunk writer
    val bad = fs.indexWhere(_ == null)
    if (bad >= 0) throw new IllegalArgumentException(
      s"avi_mjpeg_encode: null frame at index $bad")
    RiffOps.aviMjpegEncode(fs, w, h, fps)
  }
  def frameSynth(id: Long, f: Int, w: Int, h: Int, fmt: UTF8String): Array[Byte] =
    RiffOps.frameSynth(id, f, w, h, fmt.toString)

  // ---- S2 ----
  def s2Cell(lng: Double, lat: Double, level: Int): Long =
    S2.lngLatToCell(lng, lat, level)

  def s2Token(id: Long): UTF8String = UTF8String.fromString(S2.toToken(id))

  def s2FromToken(token: UTF8String): Long = S2.fromToken(token.toString)

  def s2Children(id: Long, level: Int): ArrayData =
    ArrayData.toArrayData(S2.childrenAtLevel(id, level))

  def s2Cover(wkb: Array[Byte], level: Int): ArrayData =
    ArrayData.toArrayData(S2.cover(Geo.fromWkb(wkb), level).toArray)

  /** Cover of the geometry's envelope DILATED by `h` degrees (Chebyshev
    * buffer): the region-side key set for the box-feature join fast path.
    * Any axis-aligned box of half-extent ≤ h that intersects the geometry
    * has its CENTER inside envelope⊕h, so matching the feature's single
    * center cell against this cover is lossless; the exact st_intersects
    * refinement trims the over-cover. */
  def s2CoverExpanded(wkb: Array[Byte], level: Int, h: Double): ArrayData = {
    val e = Geo.fromWkb(wkb).getEnvelopeInternal
    e.expandBy(h)
    ArrayData.toArrayData(
      S2.cover(Geo.box(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY), level).toArray)
  }

  def s2Boundary(id: Long): Array[Byte] = Geo.toWkb(S2.cellGeometry(id))

  /** Children of `id` at `level` in the reference's top-left → bottom-right
    * raster order: ascending (−ymax, xmin, child) over each child cell's
    * straight-edge boundary envelope (s2_utils.py:60-72). Value-identical
    * to `sort_array(transform(s2_children(...), p => struct(-st_ymax(
    * s2_boundary(p)), st_xmin(s2_boundary(p)), p)))` — the envelope of the
    * 4-vertex cell polygon is the vertex min/max, and Spark's struct
    * sort_array is the same lexicographic (double, double, signed long)
    * ordering — but in ONE kernel pass: the declarative form built and
    * re-parsed two WKB geometries per child inside an interpreted lambda. */
  def s2SortedChildren(id: Long, level: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val kids = S2.childrenAtLevel(id, level)
    val keyed = kids.map { k =>
      val vs = S2.cellVertices(k)
      var ymax = Double.NegativeInfinity
      var xmin = Double.PositiveInfinity
      var i = 0
      while (i < vs.length) {
        if (vs(i)._2 > ymax) ymax = vs(i)._2
        if (vs(i)._1 < xmin) xmin = vs(i)._1
        i += 1
      }
      (-ymax, xmin, k)
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      keyed.sortBy(t => (t._1, t._2, t._3)).map(_._3))
  }

  /** GeoVex dense-grid fill: (2k+2)×(2k+2) row-major grid with cell value v
    * at [k+i, k−j] for each {ij: [i, j], v} entry, zeros elsewhere.
    * Value-identical to the declarative aggregate-over-transform form, but
    * O(cells) instead of O(cells × side²): the fold re-built the whole
    * side² array per cell through an interpreted lambda (k = 5 → ~14k
    * lambda evaluations per anchor; this is one array fill). */
  def hexDenseGrid(cells: org.apache.spark.sql.catalyst.util.ArrayData,
                   k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val side = 2 * k + 2
    val flat = new Array[Double](side * side)
    var c = 0
    val n = cells.numElements()
    while (c < n) {
      val row = cells.getStruct(c, 2)
      require(!row.isNullAt(0) && !row.isNullAt(1),
        "hex_dense_grid: null ij or value — fill/cast values upstream " +
          "(a silent 0.0 would corrupt the tensor)")
      val ij = row.getArray(0)
      val i = ij.getInt(0); val j = ij.getInt(1)
      require(math.abs(i) <= k && math.abs(j) <= k,
        s"hex_dense_grid: ij ($i, $j) outside the k=$k disk")
      flat((k + i) * side + (k - j)) = row.getDouble(1)
      c += 1
    }
    val rows = new Array[Any](side)
    var r = 0
    while (r < side) {
      rows(r) = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        java.util.Arrays.copyOfRange(flat, r * side, (r + 1) * side))
      r += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(rows)
  }

  def s2Parent(id: Long, level: Int): Long = S2.parent(id, level)

  // ---- H3 ----
  def h3Cell(lng: Double, lat: Double, res: Int): Long =
    graft.core.H3.latLngToCell(lat, lng, res)

  def h3Str(id: Long): UTF8String = UTF8String.fromString(graft.core.H3.toHexString(id))

  def h3FromStr(s: UTF8String): Long = graft.core.H3.fromHexString(s.toString)

  def h3Cover(wkb: Array[Byte], res: Int, containsCentroid: Boolean): ArrayData =
    ArrayData.toArrayData(
      graft.core.H3.cover(Geo.fromWkb(wkb), res, containsCentroid).toArray)

  def h3Boundary(id: Long): Array[Byte] = Geo.toWkb(graft.core.H3.cellGeometry(id))

  def h3GridDisk(id: Long, k: Int): ArrayData =
    ArrayData.toArrayData(graft.core.H3.gridDisk(id, k).toArray)

  def h3GridRing(id: Long, k: Int): ArrayData =
    ArrayData.toArrayData(graft.core.H3.gridRing(id, k).toArray)

  /** One BFS for ALL (cell, min distance) pairs of the k-disk — k separate
    * gridRing calls re-run every inner disk from scratch. */
  def h3GridDiskDistances(id: Long, k: Int): ArrayData =
    new GenericArrayData(graft.core.H3.gridDiskDistances(id, k).map {
      case (c, d) => org.apache.spark.sql.catalyst.InternalRow(c, d)
    }.toArray[Any])

  def h3Parent(id: Long, res: Int): Long = graft.core.H3.parent(id, res)

  def h3Children(id: Long, res: Int): ArrayData =
    ArrayData.toArrayData(graft.core.H3.children(id, res).toArray)

  /** (i, j) as a 2-element int array (srai get_local_ij_index semantics). */
  def h3LocalIj(origin: Long, cell: Long): ArrayData = {
    val (i, j) = graft.core.H3.localIj(origin, cell)
    ArrayData.toArrayData(Array(i, j))
  }

  /** Null instead of throwing on pentagon distortion — for operators that
    * DROP affected anchors (hexTensor) rather than abort the job. */
  def h3LocalIjTry(origin: Long, cell: Long): ArrayData =
    try h3LocalIj(origin, cell)
    catch { case _: IllegalArgumentException => null }

  def h3LatLng(id: Long): ArrayData = {
    val (lat, lng) = graft.core.H3.cellToLatLng(id)
    ArrayData.toArrayData(Array(lat, lng))
  }

  /** One-pass H3 string sequence → [lat, lng] path (the per-element
    * transform lambda evaluated interpreted). */
  def h3SeqPath(seq: ArrayData): ArrayData = {
    val n = seq.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (seq.isNullAt(i)) null
        else h3LatLng(graft.core.H3.fromHexString(seq.getUTF8String(i).toString))
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Mean haversine distance between two [lat, lng] paths, zip-truncated to
    * the shorter, null pairs skipped; null when no valid pair — the exact
    * FP order of the declarative form (Gf.haversineM inside zip_with →
    * filter → aggregate → /count): Math.toRadians on the RAW difference,
    * Math.pow(·, 2.0) (not x·x — 1 ulp apart on some inputs), the
    * 2·R constant folded first, left-to-right accumulation. */
  def haversineMeanPath(a: ArrayData, b: ArrayData): Any = {
    val R2 = 2.0 * GeoMetrics.EarthRadiusM
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var count = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val p = a.getArray(i); val q = b.getArray(i)
        // ragged elements (fewer than 2 coordinates) skip like the
        // declarative getItem-returns-null path — never an index read
        if (p.numElements() >= 2 && q.numElements() >= 2 &&
            !p.isNullAt(0) && !p.isNullAt(1) && !q.isNullAt(0) && !q.isNullAt(1)) {
          val lat1 = p.getDouble(0); val lng1 = p.getDouble(1)
          val lat2 = q.getDouble(0); val lng2 = q.getDouble(1)
          val h = math.pow(math.sin(math.toRadians(lat2 - lat1) / 2), 2) +
            math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
              math.pow(math.sin(math.toRadians(lng2 - lng1) / 2), 2)
          // Spark's least() sorts NaN as the GREATEST double, so a NaN
          // coordinate clamps to 1.0 (≈ antipodal) — math.min would
          // propagate the NaN and diverge from the declarative form
          val s = math.sqrt(h)
          val clamped = if (s.isNaN || s > 1.0) 1.0 else s
          sum += R2 * math.asin(clamped)
          count += 1
        }
      }
      i += 1
    }
    if (count == 0) null else sum / count
  }

  /** Exact-match fraction between two sequences of ATOMIC elements,
    * zip-truncated; null-safe per element (None == None counts as a match,
    * like the reference); null when both are empty. Element equality
    * mirrors Spark's `<=>`: NaN equals NaN for floating types, everything
    * else by value. */
  def seqAccuracy(a: ArrayData, b: ArrayData,
                  et: org.apache.spark.sql.types.DataType): Any = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return null
    var matches = 0
    var i = 0
    while (i < n) {
      val an = a.isNullAt(i); val bn = b.isNullAt(i)
      if (an && bn) matches += 1
      else if (!an && !bn) {
        val va = a.get(i, et); val vb = b.get(i, et)
        val equal = et match {
          case org.apache.spark.sql.types.DoubleType =>
            val x = va.asInstanceOf[Double]; val y = vb.asInstanceOf[Double]
            x == y || (x.isNaN && y.isNaN)
          case org.apache.spark.sql.types.FloatType =>
            val x = va.asInstanceOf[Float]; val y = vb.asInstanceOf[Float]
            x == y || (x.isNaN && y.isNaN)
          case org.apache.spark.sql.types.BinaryType =>
            // Scala == on Array[Byte] is reference equality — by value here
            java.util.Arrays.equals(va.asInstanceOf[Array[Byte]],
              vb.asInstanceOf[Array[Byte]])
          case _ => va == vb
        }
        if (equal) matches += 1
      }
      i += 1
    }
    matches.toDouble / n
  }

  // ---- slippy ----
  def slippyCover(wkb: Array[Byte], zoom: Int): ArrayData = {
    val tiles = Slippy.cover(Geo.fromWkb(wkb), zoom)
    new GenericArrayData(tiles.map { case (x, y) =>
      org.apache.spark.sql.catalyst.InternalRow(x, y)
    }.toArray[Any])
  }

  def slippyBoundary(x: Int, y: Int, zoom: Int): Array[Byte] =
    Geo.toWkb(Slippy.tileGeometry(x, y, zoom))
}
