package graft.functions

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.{AnalysisException, Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Function registration + Column-level API.
  *
  * `defs` is the table of every graft SQL function: its name, parameter
  * count and builder. Most rows are a [[KernelCall]] — one static kernel
  * call, named by owner object, method and result type; the rest build a
  * hand-written expression (typed aggregates, literal-validating builders,
  * analysis-time type checks, implicit input casts, nullable primitive
  * results). A call with the wrong argument count fails analysis with the
  * function name and the expected count.
  *
  * Functions are injected via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`) or imperatively with
  * [[Gf.register]]; the Column wrappers go through `call_function`, so the
  * same definitions serve SQL and the DataFrame API.
  */
object Gf {

  /** One SQL function: name, parameter count and expression builder. */
  private[graft] final case class Def(name: String, arity: Int,
                                      build: Seq[Expression] => Expression) {
    def builder(args: Seq[Expression]): Expression = {
      if (args.length != arity) throw new AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map("functionName" -> s"`$name`", "expectedNum" -> arity.toString,
          "actualNum" -> args.length.toString, "docroot" -> SPARK_DOC_ROOT))
      build(args)
    }
  }

  private def kernel(name: String, owner: AnyRef, method: String, dataType: DataType,
                     arity: Int, returnNullable: Boolean = false): Def =
    Def(name, arity, KernelCall(name, owner.getClass, method, dataType, _, returnNullable))

  private val G = GeoOps
  private val C = CatalystHelpers
  private val I = ImageOps
  private val V = VecTextOps
  private val M = MediaOps
  private val R = RiffOps
  private val longs = ArrayType(LongType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val doubles = ArrayType(DoubleType, containsNull = false)
  private val binaries = ArrayType(BinaryType, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  private[graft] val defs: Seq[Def] = Seq(
    kernel("st_intersects", G, "intersects", BooleanType, 2),
    kernel("st_contains", G, "contains", BooleanType, 2),
    kernel("st_within", G, "within", BooleanType, 2),
    kernel("st_touches", G, "touches", BooleanType, 2),
    kernel("st_contains_centroid", G, "containsCentroid", BooleanType, 2),
    kernel("st_intersection", G, "intersection", BinaryType, 2),
    kernel("st_geomfromtext", G, "geomFromText", BinaryType, 1),
    kernel("st_astext", G, "asText", StringType, 1),
    kernel("st_astext_shapely", G, "asTextShapely", StringType, 1),
    kernel("st_point", G, "makePoint", BinaryType, 2),
    kernel("st_box", G, "makeBox", BinaryType, 4),
    kernel("st_area", G, "area", DoubleType, 1),
    kernel("st_remove_interiors", G, "removeInteriors", BinaryType, 1),
    kernel("st_buffer_meters", G, "bufferMeters", BinaryType, 2),
    kernel("st_centroid_x", G, "centroidX", DoubleType, 1),
    kernel("st_xmin", G, "xmin", DoubleType, 1),
    kernel("st_ymax", G, "ymax", DoubleType, 1),
    kernel("st_centroid_y", G, "centroidY", DoubleType, 1),
    kernel("st_dump", G, "dump", binaries, 1),
    kernel("st_start_point", G, "startPoint", BinaryType, 1),
    kernel("st_end_point", G, "endPoint", BinaryType, 1),
    kernel("st_length", G, "length", DoubleType, 1),
    kernel("s2_cell", C, "s2Cell", LongType, 3),
    kernel("s2_token", C, "s2Token", StringType, 1),
    kernel("s2_from_token", C, "s2FromToken", LongType, 1),
    kernel("s2_children", C, "s2Children", longs, 2),
    kernel("s2_sorted_children", C, "s2SortedChildren", longs, 2),
    kernel("hex_dense_grid", C, "hexDenseGrid", ArrayType(doubles, containsNull = false), 2),
    kernel("h3_seq_path", C, "h3SeqPath", ArrayType(doubles, containsNull = true), 1),
    Def("haversine_mean_path", 2, e => HaversineMeanPath(e(0), e(1))),
    Def("seq_accuracy", 2, e => SeqAccuracy(e(0), e(1))),
    kernel("s2_cover", C, "s2Cover", longs, 2),
    kernel("s2_cover_expanded", C, "s2CoverExpanded", longs, 3),
    kernel("s2_boundary", C, "s2Boundary", BinaryType, 1),
    kernel("s2_parent", C, "s2Parent", LongType, 2),
    kernel("slippy_cover", C, "slippyCover",
      ArrayType(struct("x" -> IntegerType, "y" -> IntegerType), containsNull = false), 2),
    kernel("slippy_boundary", C, "slippyBoundary", BinaryType, 3),
    kernel("img_psnr", I, "psnr", DoubleType, 2),
    kernel("img_phash", I, "phash", LongType, 1),
    kernel("img_width", I, "width", IntegerType, 1),
    kernel("img_height", I, "height", IntegerType, 1),
    kernel("img_reencode", C, "imgReencode", BinaryType, 2),
    Def("img_synth", 2, e => ImgSynth(e(0), e(1))),
    Def("img_synth_phash", 2, e => ImgSynthPhash(e(0), e(1))),
    kernel("hamming64", I, "hamming", IntegerType, 2),
    kernel("img_resize", C, "imgResize", BinaryType, 4),
    kernel("h3_cell", C, "h3Cell", LongType, 3),
    kernel("h3_str", C, "h3Str", StringType, 1),
    kernel("h3_from_str", C, "h3FromStr", LongType, 1),
    kernel("h3_cover", C, "h3Cover", longs, 3),
    kernel("h3_boundary", C, "h3Boundary", BinaryType, 1),
    kernel("h3_grid_disk", C, "h3GridDisk", longs, 2),
    kernel("h3_grid_ring", C, "h3GridRing", longs, 2),
    kernel("h3_grid_disk_distances", C, "h3GridDiskDistances",
      ArrayType(struct("cell" -> LongType, "distance" -> IntegerType), containsNull = false), 2),
    kernel("h3_parent", C, "h3Parent", LongType, 2),
    kernel("h3_children", C, "h3Children", longs, 2),
    kernel("h3_local_ij", C, "h3LocalIj", ints, 2),
    // null on pentagon distortion: nullable, so downstream IsNotNull
    // guards are kept and the affected anchors are dropped
    kernel("h3_local_ij_try", C, "h3LocalIjTry", ints, 2, returnNullable = true),
    kernel("vec_cosine", V, "cosineFF", DoubleType, 2),
    kernel("simhash64", V, "simhash64", LongType, 1),
    kernel("word_shingles", V, "wordShingles", ArrayType(StringType, containsNull = false), 2),
    kernel("minhash_sig", V, "minhashSig", longs, 2),
    kernel("hyperplane_sig", V, "hyperplaneSig", LongType, 3),
    kernel("h3_latlng", C, "h3LatLng", doubles, 1),
    kernel("dtw_latlng", C, "dtwLatLng", DoubleType, 2),
    kernel("fastdtw_latlng", C, "fastDtwLatLng", DoubleType, 3),
    kernel("synth_pcm16", M, "synthPcm16", BinaryType, 2),
    kernel("audio_rms_windows", C, "audioRmsWindows", doubles, 2),
    kernel("audio_zero_crossings", M, "audioZeroCrossings", LongType, 1),
    kernel("synth_video", M, "synthVideo", BinaryType, 4),
    kernel("video_frame_sample", C, "videoFrameSample", binaries, 2),
    kernel("bytes_mean", M, "bytesMean", DoubleType, 1),
    kernel("wav_encode", R, "wavEncode", BinaryType, 3),
    kernel("wav_decode", C, "wavDecode", struct("sample_rate" -> IntegerType,
      "channels" -> IntegerType, "pcm" -> BinaryType), 1),
    kernel("avi_header", C, "aviHeader",
      struct("w" -> IntegerType, "h" -> IntegerType, "n_frames" -> IntegerType), 1),
    kernel("wav_pcm", C, "wavPcm", BinaryType, 1),
    kernel("wav_sample_rate", C, "wavSampleRate", IntegerType, 1),
    kernel("wav_channels", C, "wavChannels", IntegerType, 1),
    kernel("avi_mjpeg_encode", C, "aviMjpegEncode", BinaryType, 4),
    kernel("avi_frames", C, "aviFrames", binaries, 1),
    kernel("avi_width", R, "aviWidth", IntegerType, 1),
    kernel("avi_height", R, "aviHeight", IntegerType, 1),
    kernel("avi_frame_count", R, "aviFrameCount", IntegerType, 1),
    kernel("frame_synth", C, "frameSynth", BinaryType, 5),
    Def("warn_large_bucket", 4, e => {
      // threshold/tag must be non-null literals — validated here with a
      // readable error instead of an analysis-time NPE or "cannot
      // evaluate" from an eager eval() on a column reference
      require(e(2).foldable && e(3).foldable,
        "warn_large_bucket(value, bucket_count, threshold, tag): threshold and tag must be literals")
      val thr = e(2).eval(); val tag = e(3).eval()
      require(thr != null && tag != null,
        "warn_large_bucket: threshold and tag must be non-null")
      WarnLargeBucket(e(0), e(1), thr.asInstanceOf[Number].longValue(), tag.toString)
    }),
    Def("ivf_cells", 4, e => {
      // centroids/dim/nprobe must be non-null literals: the matrix is a
      // plan-time constant (trained on a sample) baked into the kernel, and
      // the trained dim rides along so the per-row check is EXACT (a
      // divisibility check silently mis-assigned dim-compatible vectors —
      // ADVICE round 5)
      require(e(1).foldable && e(2).foldable && e(3).foldable,
        "ivf_cells(vec, centroids, dim, nprobe): centroids, dim and nprobe must be literals")
      val cents = e(1).eval(); val d = e(2).eval(); val np = e(3).eval()
      require(cents != null && d != null && np != null,
        "ivf_cells: centroids, dim and nprobe must be non-null")
      IvfCells(e(0), cents.asInstanceOf[ArrayData].toDoubleArray(),
        d.asInstanceOf[Number].intValue(), np.asInstanceOf[Number].intValue())
    }),
    Def("topk_agg", 3, e => TopKAgg(e(0), e(1), e(2))),
    Def("st_union_agg", 1, e => StUnionAgg(e(0))))

  /** SparkSessionExtensions hook (used by graft.GraftExtensions). */
  def inject(ext: SparkSessionExtensions): Unit = defs.foreach { d =>
    ext.injectFunction((FunctionIdentifier(d.name),
      new ExpressionInfo("graft.functions", d.name), d.builder))
  }

  /** Imperative registration for an existing session (idempotent): only
    * names the session lacks are registered, so a session GraftExtensions
    * already populated — and every repeated call — is left untouched. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    defs.foreach { d =>
      if (!registry.functionExists(FunctionIdentifier(d.name)))
        registry.createOrReplaceTempFunction(d.name, d.builder, "scala_udf")
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
}
