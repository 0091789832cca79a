package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._

/** Function registration + Column-level API.
  *
  * Functions are injected via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`) or imperatively with
  * [[Gf.register]]; the Column wrappers go through `call_function`, so the
  * same definitions serve SQL and the DataFrame API.
  */
object Gf {

  private val defs: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "st_intersects" -> (e => StIntersects(e(0), e(1))),
    "st_contains" -> (e => StContains(e(0), e(1))),
    "st_within" -> (e => StWithin(e(0), e(1))),
    "st_touches" -> (e => StTouches(e(0), e(1))),
    "st_contains_centroid" -> (e => StContainsCentroid(e(0), e(1))),
    "st_intersection" -> (e => StIntersection(e(0), e(1))),
    "st_geomfromtext" -> (e => StGeomFromText(e(0))),
    "st_astext" -> (e => StAsText(e(0))),
    "st_astext_shapely" -> (e => StAsTextShapely(e(0))),
    "st_point" -> (e => StPoint(e(0), e(1))),
    "st_box" -> (e => StBox(e(0), e(1), e(2), e(3))),
    "st_area" -> (e => StArea(e(0))),
    "st_remove_interiors" -> (e => StRemoveInteriors(e(0))),
    "st_buffer_meters" -> (e => StBufferMeters(e(0), e(1))),
    "st_centroid_x" -> (e => StCentroidX(e(0))),
    "st_xmin" -> (e => StXMin(e(0))),
    "st_ymax" -> (e => StYMax(e(0))),
    "st_centroid_y" -> (e => StCentroidY(e(0))),
    "st_dump" -> (e => StDump(e(0))),
    "st_start_point" -> (e => StStartPoint(e(0))),
    "st_end_point" -> (e => StEndPoint(e(0))),
    "st_length" -> (e => StLength(e(0))),
    "s2_cell" -> (e => S2CellId(e(0), e(1), e(2))),
    "s2_token" -> (e => S2Token(e(0))),
    "s2_from_token" -> (e => S2FromToken(e(0))),
    "s2_children" -> (e => S2Children(e(0), e(1))),
    "s2_sorted_children" -> (e => S2SortedChildren(e(0), e(1))),
    "hex_dense_grid" -> (e => HexDenseGrid(e(0), e(1))),
    "h3_seq_path" -> (e => H3SeqPath(e(0))),
    "haversine_mean_path" -> (e => HaversineMeanPath(e(0), e(1))),
    "seq_accuracy" -> (e => SeqAccuracy(e(0), e(1))),
    "s2_cover" -> (e => S2Cover(e(0), e(1))),
    "s2_cover_expanded" -> (e => S2CoverExpanded(e(0), e(1), e(2))),
    "s2_boundary" -> (e => S2Boundary(e(0))),
    "s2_parent" -> (e => S2Parent(e(0), e(1))),
    "slippy_cover" -> (e => SlippyCover(e(0), e(1))),
    "slippy_boundary" -> (e => SlippyBoundary(e(0), e(1), e(2))),
    "img_psnr" -> (e => ImgPsnr(e(0), e(1))),
    "img_phash" -> (e => ImgPhash(e(0))),
    "img_width" -> (e => ImgWidth(e(0))),
    "img_height" -> (e => ImgHeight(e(0))),
    "img_reencode" -> (e => ImgReencode(e(0), e(1))),
    "img_synth" -> (e => ImgSynth(e(0), e(1))),
    "img_synth_phash" -> (e => ImgSynthPhash(e(0), e(1))),
    "hamming64" -> (e => Hamming64(e(0), e(1))),
    "img_resize" -> (e => ImgResize(e(0), e(1), e(2), e(3))),
    "h3_cell" -> (e => H3CellExpr(e(0), e(1), e(2))),
    "h3_str" -> (e => H3Str(e(0))),
    "h3_from_str" -> (e => H3FromStr(e(0))),
    "h3_cover" -> (e => H3Cover(e(0), e(1), e(2))),
    "h3_boundary" -> (e => H3BoundaryExpr(e(0))),
    "h3_grid_disk" -> (e => H3GridDisk(e(0), e(1))),
    "h3_grid_ring" -> (e => H3GridRing(e(0), e(1))),
    "h3_grid_disk_distances" -> (e => H3GridDiskDistances(e(0), e(1))),
    "h3_parent" -> (e => H3ParentExpr(e(0), e(1))),
    "h3_children" -> (e => H3ChildrenExpr(e(0), e(1))),
    "h3_local_ij" -> (e => H3LocalIjExpr(e(0), e(1))),
    "h3_local_ij_try" -> (e => H3LocalIjTryExpr(e(0), e(1))),
    "vec_cosine" -> (e => VecCosine(e(0), e(1))),
    "simhash64" -> (e => SimHash64(e(0))),
    "word_shingles" -> (e => WordShingles(e(0), e(1))),
    "minhash_sig" -> (e => MinhashSig(e(0), e(1))),
    "hyperplane_sig" -> (e => HyperplaneSig(e(0), e(1), e(2))),
    "h3_latlng" -> (e => H3LatLng(e(0))),
    "dtw_latlng" -> (e => DtwLatLng(e(0), e(1))),
    "fastdtw_latlng" -> (e => FastDtwLatLng(e(0), e(1), e(2))),
    "synth_pcm16" -> (e => SynthPcm16(e(0), e(1))),
    "audio_rms_windows" -> (e => AudioRmsWindows(e(0), e(1))),
    "audio_zero_crossings" -> (e => AudioZeroCrossings(e(0))),
    "synth_video" -> (e => SynthVideo(e(0), e(1), e(2), e(3))),
    "video_frame_sample" -> (e => VideoFrameSample(e(0), e(1))),
    "bytes_mean" -> (e => BytesMean(e(0))),
    "wav_encode" -> (e => WavEncode(e(0), e(1), e(2))),
    "wav_decode" -> (e => WavDecode(e(0))),
    "avi_header" -> (e => AviHeader(e(0))),
    "wav_pcm" -> (e => WavPcm(e(0))),
    "wav_sample_rate" -> (e => WavSampleRate(e(0))),
    "wav_channels" -> (e => WavChannels(e(0))),
    "avi_mjpeg_encode" -> (e => AviMjpegEncode(e(0), e(1), e(2), e(3))),
    "avi_frames" -> (e => AviFrames(e(0))),
    "avi_width" -> (e => AviWidth(e(0))),
    "avi_height" -> (e => AviHeight(e(0))),
    "avi_frame_count" -> (e => AviFrameCount(e(0))),
    "frame_synth" -> (e => FrameSynth(e(0), e(1), e(2), e(3), e(4))),
    "warn_large_bucket" -> (e => {
      // threshold/tag must be non-null literals — validated here with a
      // readable error instead of an analysis-time NPE or "cannot
      // evaluate" from an eager eval() on a column reference
      require(e.length == 4 && e(2).foldable && e(3).foldable,
        "warn_large_bucket(value, bucket_count, threshold, tag): threshold and tag must be literals")
      val thr = e(2).eval(); val tag = e(3).eval()
      require(thr != null && tag != null,
        "warn_large_bucket: threshold and tag must be non-null")
      WarnLargeBucket(e(0), e(1), thr.asInstanceOf[Number].longValue(), tag.toString)
    }),
    "ivf_cells" -> (e => {
      // centroids/dim/nprobe must be non-null literals: the matrix is a
      // plan-time constant (trained on a sample) baked into the kernel, and
      // the trained dim rides along so the per-row check is EXACT (a
      // divisibility check silently mis-assigned dim-compatible vectors —
      // ADVICE round 5)
      require(e.length == 4 && e(1).foldable && e(2).foldable && e(3).foldable,
        "ivf_cells(vec, centroids, dim, nprobe): centroids, dim and nprobe must be literals")
      val cents = e(1).eval(); val d = e(2).eval(); val np = e(3).eval()
      require(cents != null && d != null && np != null,
        "ivf_cells: centroids, dim and nprobe must be non-null")
      IvfCells(e(0),
        cents.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
        d.asInstanceOf[Number].intValue(),
        np.asInstanceOf[Number].intValue())
    }),
    "topk_agg" -> (e => TopKAgg(e(0), e(1), e(2))),
    "st_union_agg" -> (e => StUnionAgg(e(0))))

  /** SparkSessionExtensions hook (used by graft.GraftExtensions). */
  def inject(ext: SparkSessionExtensions): Unit = defs.foreach { case (name, builder) =>
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", name), builder))
  }

  /** Imperative registration for an existing session (idempotent): only
    * names the session lacks are registered, so a session GraftExtensions
    * already populated — and every repeated call — is left untouched. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    defs.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  // ---- Column API ----
  def stIntersects(a: Column, b: Column): Column = call_function("st_intersects", a, b)
  def stContains(a: Column, b: Column): Column = call_function("st_contains", a, b)
  def stWithin(a: Column, b: Column): Column = call_function("st_within", a, b)
  def stTouches(a: Column, b: Column): Column = call_function("st_touches", a, b)
  def stContainsCentroid(a: Column, b: Column): Column =
    call_function("st_contains_centroid", a, b)
  def stIntersection(a: Column, b: Column): Column = call_function("st_intersection", a, b)
  def stGeomFromText(a: Column): Column = call_function("st_geomfromtext", a)
  def stAsText(a: Column): Column = call_function("st_astext", a)
  def stAsTextShapely(a: Column): Column = call_function("st_astext_shapely", a)
  def stPoint(lng: Column, lat: Column): Column =
    call_function("st_point", lng.cast("double"), lat.cast("double"))
  def stBox(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    call_function("st_box", xmin.cast("double"), ymin.cast("double"),
      xmax.cast("double"), ymax.cast("double"))
  def stArea(a: Column): Column = call_function("st_area", a)
  def stRemoveInteriors(a: Column): Column = call_function("st_remove_interiors", a)
  def stBufferMeters(a: Column, m: Column): Column =
    call_function("st_buffer_meters", a, m)
  def stCentroidX(a: Column): Column = call_function("st_centroid_x", a)
  def stXMin(a: Column): Column = call_function("st_xmin", a)
  def stYMax(a: Column): Column = call_function("st_ymax", a)
  def stCentroidY(a: Column): Column = call_function("st_centroid_y", a)
  def stDump(a: Column): Column = call_function("st_dump", a)
  def stStartPoint(a: Column): Column = call_function("st_start_point", a)
  def stEndPoint(a: Column): Column = call_function("st_end_point", a)
  def stLength(a: Column): Column = call_function("st_length", a)

  def s2Cell(lng: Column, lat: Column, level: Int): Column =
    call_function("s2_cell", lng.cast("double"), lat.cast("double"), lit(level))
  def s2Token(id: Column): Column = call_function("s2_token", id)
  def s2FromToken(t: Column): Column = call_function("s2_from_token", t)
  def s2Children(id: Column, level: Int): Column =
    call_function("s2_children", id, lit(level))
  def s2SortedChildren(id: Column, level: Int): Column =
    call_function("s2_sorted_children", id, lit(level))
  def s2Cover(geom: Column, level: Int): Column = call_function("s2_cover", geom, lit(level))
  def s2CoverExpanded(geom: Column, level: Int, h: Double): Column =
    call_function("s2_cover_expanded", geom, lit(level), lit(h))
  def s2Boundary(id: Column): Column = call_function("s2_boundary", id)
  def s2Parent(id: Column, level: Int): Column = call_function("s2_parent", id, lit(level))

  def slippyCover(geom: Column, zoom: Int): Column =
    call_function("slippy_cover", geom, lit(zoom))
  def slippyBoundary(x: Column, y: Column, zoom: Int): Column =
    call_function("slippy_boundary", x.cast("int"), y.cast("int"), lit(zoom))

  def imgPsnr(a: Column, b: Column): Column = call_function("img_psnr", a, b)
  def imgPhash(a: Column): Column = call_function("img_phash", a)
  def imgWidth(a: Column): Column = call_function("img_width", a)
  def imgHeight(a: Column): Column = call_function("img_height", a)
  def imgReencode(a: Column, fmt: Column): Column = call_function("img_reencode", a, fmt)
  def imgSynth(k: Column, patterns: Int): Column =
    call_function("img_synth", k.cast("long"), lit(patterns))
  def imgSynthPhash(k: Column, patterns: Int): Column =
    call_function("img_synth_phash", k.cast("long"), lit(patterns))
  def hamming64(a: Column, b: Column): Column = call_function("hamming64", a, b)
  def imgResize(bytes: Column, w: Int, h: Int, fmt: String): Column =
    call_function("img_resize", bytes, lit(w), lit(h), lit(fmt))
  def h3Cell(lng: Column, lat: Column, res: Int): Column =
    call_function("h3_cell", lng.cast("double"), lat.cast("double"), lit(res))
  def h3Str(id: Column): Column = call_function("h3_str", id)
  def h3FromStr(s: Column): Column = call_function("h3_from_str", s)
  def h3Cover(geom: Column, res: Int, containsCentroid: Boolean = false): Column =
    call_function("h3_cover", geom, lit(res), lit(containsCentroid))
  def h3Boundary(id: Column): Column = call_function("h3_boundary", id)
  def h3GridDisk(id: Column, k: Int): Column = call_function("h3_grid_disk", id, lit(k))
  def h3GridRing(id: Column, k: Int): Column = call_function("h3_grid_ring", id, lit(k))
  def h3GridDiskDistances(id: Column, k: Int): Column =
    call_function("h3_grid_disk_distances", id, lit(k))
  def h3Parent(id: Column, res: Int): Column = call_function("h3_parent", id, lit(res))
  def h3Children(id: Column, res: Int): Column = call_function("h3_children", id, lit(res))
  def h3LocalIj(origin: Column, cell: Column): Column =
    call_function("h3_local_ij", origin, cell)
  def h3LocalIjTry(origin: Column, cell: Column): Column =
    call_function("h3_local_ij_try", origin, cell)

  def vecCosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)
  def wordShingles(text: Column, k: Int): Column =
    call_function("word_shingles", text, lit(k))
  def minhashSig(shingles: Column, numHashes: Int): Column =
    call_function("minhash_sig", shingles, lit(numHashes))
  def hyperplaneSig(v: Column, planes: Int, seed: Long): Column =
    call_function("hyperplane_sig", v, lit(planes), lit(seed))
  def ivfCells(v: Column, centroids: Array[Double], dim: Int, nprobe: Int): Column =
    call_function("ivf_cells", v, lit(centroids), lit(dim), lit(nprobe))
  def h3LatLng(id: Column): Column = call_function("h3_latlng", id)
  def dtwLatLng(a: Column, b: Column): Column = call_function("dtw_latlng", a, b)
  def fastDtwLatLng(a: Column, b: Column, radius: Int = 1): Column =
    call_function("fastdtw_latlng", a, b, lit(radius))
  def topKAgg(score: Column, id: Column, k: Int): Column =
    call_function("topk_agg", score, id, lit(k))
  def stUnionAgg(geom: Column): Column = call_function("st_union_agg", geom)

  /** Great-circle distance in meters as pure built-in column math (haversine,
    * R = [[GeoMetrics.EarthRadiusM]]) — composes into codegen and has an
    * exact SQL mirror ([[haversineSql]]) for DuckDB oracles. */
  def haversineM(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column = {
    val a = pow(sin(radians(lat2 - lat1) / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lng2 - lng1) / 2), 2)
    lit(2.0 * GeoMetrics.EarthRadiusM) * asin(least(lit(1.0), sqrt(a)))
  }
  def haversineSql(lat1: String, lng1: String, lat2: String, lng2: String): String =
    s"2.0 * ${GeoMetrics.EarthRadiusM} * asin(least(1.0, sqrt(" +
      s"pow(sin(radians(($lat2) - ($lat1)) / 2), 2) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * " +
      s"pow(sin(radians(($lng2) - ($lng1)) / 2), 2))))"

  /** Slippy tile (x, y) for a point — pure built-in column math, fully
    * codegen'd, zero custom code in the hot path (reference math:
    * slippy_map_regionalizer.py:105-117). The formula is also directly
    * expressible in ANSI SQL for the DuckDB oracle. */
  def slippyX(lng: Column, zoom: Int): Column =
    least(lit((1 << zoom) - 1), greatest(lit(0),
      floor((lng + 180.0) / 360.0 * (1 << zoom)).cast("int")))

  def slippyY(lat: Column, zoom: Int): Column =
    least(lit((1 << zoom) - 1), greatest(lit(0),
      floor((lit(1.0) - asinh(tan(radians(lat))) / math.Pi) / 2.0 * (1 << zoom)).cast("int")))

  def slippyId(lng: Column, lat: Column, zoom: Int): Column =
    concat_ws("_", slippyX(lng, zoom), slippyY(lat, zoom), lit(zoom))
}
