package graft.perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Gf
import graft.operators.{Dedup, H3Regionalizer, IntersectionJoiner, Tables, Tiling}
import graft.sources.{Images, LineageSink}

/** One benchmark workload. Inputs come from the seed only; every job's
  * output is checked after the timer stops. */
trait Workload {
  /** Input rows (images or footprints) one job processes. */
  def inputRows: Long
  /** Builds the seeded inputs; set-up calls it several times. */
  def generate(): Unit
  /** Computes the untimed reference values outputs are checked against. */
  def prepareChecks(): Unit
  /** Runs one job. `traced` forces each layer's output on its own under a
    * span. Returns the output check (None = correct), run untimed. */
  def job(traced: Boolean): () => Option[String]
  /** Untimed jobs at the start of a run, for at least `WarmUpSeconds`, so
    * the timed jobs run JIT-compiled code. */
  def warmUp(): () => Option[String] = {
    val t0 = System.nanoTime()
    val checks = scala.collection.mutable.ArrayBuffer(job(traced = false))
    while ((System.nanoTime() - t0) / 1e9 < Workload.WarmUpSeconds)
      checks += job(traced = false)
    Workload.allOf(checks.toSeq)
  }
  /** Work done once per run after the timed loop; one check per extra job. */
  def afterLoop(traced: Boolean): Seq[Option[String]] = Nil
  /** Times each kernel alone over this workload's inputs (traced run). */
  def kernels(): Unit = ()
}

object Workload {
  val WarmUpSeconds = 24.0

  /** Runs every check (each releases its job's cached data); first error wins. */
  def allOf(checks: Seq[() => Option[String]]): () => Option[String] =
    () => checks.map(_()).flatten.headOption
}

/** The `graft.Main` shape: image table → footprint → cell cover → grouped
  * lineage commit → manifest compaction. Each job writes a fresh directory
  * on the local file system (no fsync) and deletes it after its check. */
final class Ingest(spark: SparkSession, seed: Long, work: String, tracer: Tracer)
    extends Workload {
  val images = 3000L
  val level = 5
  /** Commit groups per write: fewer than `writeGrouped`'s default of 8, so
    * several jobs fit in one run. */
  val groups = 1
  private val cols = Seq("image_id", Tables.RegionsIndex, "bucket")
  private var keys: DataFrame = _
  private var truth: (Long, Long) = _
  private var resumeDir: String = _

  def inputRows: Long = images

  def generate(): Unit = {
    if (keys != null) keys.unpersist()
    keys = Inputs.keys(spark, seed, images).cache()
    keys.count()
  }

  private def footprints: DataFrame =
    Images.withFootprint(Images.synthesizeKeys(keys).toDF)
      .select(col("image_id"), col(Tables.Geometry))

  private def assignments(fp: DataFrame): DataFrame =
    Tiling.assignCells(fp, level).withColumn("bucket",
      Gf.s2Token(Gf.s2Parent(Gf.s2FromToken(col(Tables.RegionsIndex)), level - 4)))

  def prepareChecks(): Unit = truth = Inputs.digest(assignments(footprints), cols)

  private def manifestRows(dir: String): Long =
    LineageSink.manifest(spark, dir).agg(coalesce(sum("rows"), lit(0L))).head().getLong(0)

  /** The committed snapshot holds the same row multiset as the assignments
    * (which have no duplicate rows: one per image and cover cell), and the
    * manifest row sum equals the snapshot count. */
  private def checkDir(dir: String): Option[String] = {
    val got = Inputs.digest(LineageSink.snapshot(spark, dir), cols)
    val listed = manifestRows(dir)
    if (got != truth) Some(s"snapshot digest $got != assignment digest $truth")
    else if (listed != got._1) Some(s"manifest rows $listed != snapshot rows ${got._1}")
    else None
  }

  /** The manifest row sum equals the assignment count: no commit lost or
    * repeated. The check of a timed job; [[checkDir]] reads the data too. */
  private def checkRows(dir: String): Option[String] = {
    val listed = manifestRows(dir)
    if (listed != truth._1) Some(s"manifest rows $listed != assignment rows ${truth._1}")
    else None
  }

  private def sinkCounters(dir: String): Seq[(String, Double)] = {
    val (files, bytes) = Inputs.dataFiles(dir)
    val rows = manifestRows(dir).toDouble
    Seq("sources.sink.files" -> files.toDouble, "sources.sink.bytes" -> bytes.toDouble,
      "sources.sink.rows_per_file" -> rows / math.max(1L, files),
      "sources.sink.stored_bytes_per_row" -> bytes / math.max(1.0, rows))
  }

  def job(traced: Boolean): () => Option[String] = run(traced, checkRows)

  private def run(traced: Boolean, check: String => Option[String]): () => Option[String] = {
    val dir = Inputs.freshDir(work)
    var cached: Seq[DataFrame] = Nil
    if (!traced) {
      LineageSink.writeGrouped(assignments(footprints), dir, "bucket", groups)
      LineageSink.compactManifest(spark, dir)
    } else {
      val fp = tracer.span("sources.images")(Inputs.forced(footprints))
      val asg = tracer.spanWith("operators.tiling")(Inputs.forced(assignments(fp)))(a =>
        Seq("operators.tiling.cells_per_image" -> a.count().toDouble / images))
      cached = Seq(fp, asg)
      tracer.spanWith("sources.sink.write")(
        LineageSink.writeGrouped(asg, dir, "bucket", groups))(_ => sinkCounters(dir))
      tracer.span("sources.sink.manifest")(LineageSink.compactManifest(spark, dir))
    }
    () => try { cached.foreach(_.unpersist()); check(dir) } finally Inputs.delete(dir)
  }

  /** Warm-up commits about half the buckets (a run cut short, which
    * [[afterLoop]] resumes), then runs one full job, whose snapshot is
    * checked in full. */
  override def warmUp(): () => Option[String] = {
    resumeDir = Inputs.freshDir(work)
    LineageSink.writeGrouped(
      assignments(footprints).where(pmod(xxhash64(col("bucket")), lit(2)) === 0),
      resumeDir, "bucket", groups)
    run(traced = false, checkDir)
  }

  /** Resume: rerun the full input over the half-committed directory. */
  override def afterLoop(traced: Boolean): Seq[Option[String]] =
    try {
      val before = manifestRows(resumeDir)
      tracer.spanWith("sources.sink.resume") {
        LineageSink.writeGrouped(assignments(footprints), resumeDir, "bucket", groups)
        LineageSink.compactManifest(spark, resumeDir)
      }(_ => Seq("sources.sink.resume_rows_rewritten" ->
        (manifestRows(resumeDir) - before).toDouble))
      Seq(checkDir(resumeDir))
    } catch { case NonFatal(e) => Seq(Some(s"resume: $e")) }
    finally Inputs.delete(resumeDir)

  override def kernels(): Unit = Kernels.run(spark, tracer, keys, level, None)
}

/** H3 hexes over five seeded boxes on the footprint hotspots, joined to
  * image footprints on the general exploded-cover path (cover explode, cell
  * join, st_intersects refine, pair dedup). Half the footprints sit on the
  * five hotspots; the region set exceeds the per-thread prepared-geometry
  * cache. Broadcast joins are off for the join, so the cell join shuffles. */
final class FootprintJoin(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload {
  val images = 5000L
  val hotPermille = 500
  val halfExtent = 0.005
  val resolution = 9
  val level = 13
  private val pairCols = Seq(Tables.RegionsIndex, Tables.FeaturesIndex)
  private val joiner = new IntersectionJoiner(cellLevel = level)
  private var keys: DataFrame = _
  private var sampleTruth: (Long, Long) = _
  private var total: Option[(Long, Long)] = None
  private var candidates: DataFrame = _

  private def noBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** One box per hotspot (Images.skewLng/skewLat), seeded margins. The
    * margins vary little, so the region count stays near the same size. */
  private val areas: DataFrame = {
    val rnd = new scala.util.Random(seed)
    val boxes = (0 until 5).map { i =>
      def m = 0.01 + rnd.nextDouble() * 0.001
      val (x, y) = (i * 30.0 - 60.0, i * 10.0 - 20.0)
      (x - m, y - m, x + 0.1 + m, y + 0.09 + m)
    }
    spark.createDataFrame(boxes).toDF("x0", "y0", "x1", "y1")
      .select(Gf.stBox(col("x0"), col("y0"), col("x1"), col("y1")).as(Tables.Geometry))
  }

  def inputRows: Long = images

  def generate(): Unit = {
    if (keys != null) keys.unpersist()
    keys = Inputs.keys(spark, seed, images).cache()
    keys.count()
  }

  private def features: DataFrame =
    Images.withFootprint(Images.synthesizeKeys(keys).toDF, halfExtent, hotPermille)
      .select(col("image_id").as(Tables.FeaturesIndex), col(Tables.Geometry))

  private def regions: DataFrame = new H3Regionalizer(resolution).transform(areas)

  private val sampled = pmod(xxhash64(col(Tables.FeaturesIndex), lit(seed)), lit(50)) === 0

  /** (pairs, Σ pair hash) over all pairs and over the sampled features. */
  private def summarize(pairs: DataFrame): Seq[Long] = {
    val h = Inputs.rowHash(pairCols)
    val r = pairs.agg(count(lit(1)), sum(h), sum(when(sampled, 1L).otherwise(0L)),
      sum(when(sampled, h).otherwise(0L))).head()
    (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Index-free reference: nested-loop st_intersects of the feature sample
    * against every region. */
  def prepareChecks(): Unit = {
    val rg = regions.select(col(Tables.RegionsIndex), col(Tables.Geometry).as("r_geom"))
    val nested = features.where(sampled).crossJoin(broadcast(rg))
      .where(Gf.stIntersects(col("r_geom"), col(Tables.Geometry)))
    sampleTruth = Inputs.digest(nested, pairCols)
  }

  def job(traced: Boolean): () => Option[String] = {
    var cached: Seq[DataFrame] = Nil
    var s: Seq[Long] = Nil
    if (!traced) s = noBroadcast(summarize(joiner.transform(regions, features)))
    else {
      val fp = tracer.span("sources.images")(Inputs.forced(features))
      val rg = tracer.spanWith("operators.regionalizer")(Inputs.forced(regions))(r =>
        Seq("operators.regionalizer.regions" -> r.count().toDouble))
      val pairs = tracer.span("operators.join")(
        noBroadcast(Inputs.forced(joiner.transform(rg, fp))))
      cached = Seq(fp, rg, pairs)
    }
    () => {
      // a traced job's pairs are counted from its cached output, untimed
      if (cached.nonEmpty) s = summarize(cached.last)
      cached.foreach(_.unpersist())
      val all = (s(0), s(1))
      if (total.isEmpty) total = Some(all)
      if ((s(2), s(3)) != sampleTruth)
        Some(s"sampled pairs ${(s(2), s(3))} != nested-loop ${sampleTruth}")
      else if (!total.contains(all)) Some(s"pairs $all != first job's ${total.get}")
      else None
    }
  }

  /** Join-layer counters, from the same cover calls the joiner makes. */
  override def afterLoop(traced: Boolean): Seq[Option[String]] = {
    if (traced) {
      val fp = Inputs.forced(features)
      val rg = Inputs.forced(regions)
      val rc = rg.select(col(Tables.RegionsIndex), col(Tables.Geometry).as("r_geom"),
        explode(Gf.s2Cover(col(Tables.Geometry), level)).as("cell"))
      val fc = fp.select(col(Tables.FeaturesIndex), col(Tables.Geometry).as("f_geom"),
        explode(Gf.s2Cover(col(Tables.Geometry), level)).as("cell"))
      val cand = fc.join(rc, "cell")
      tracer.spanWith("counters")(noBroadcast {
        val n = cand.count().toDouble
        val refined = cand.where(Gf.stIntersects(col("r_geom"), col("f_geom"))).count()
        val pairs = total.map(_._1).getOrElse(0L)
        Seq("operators.join.pairs" -> pairs.toDouble,
          "operators.join.region_cells" -> rc.count().toDouble,
          "operators.join.feature_cells" -> fc.count().toDouble,
          "operators.join.candidates" -> n,
          "operators.join.refine_yield" -> pairs / math.max(1.0, n),
          "operators.join.dup_pairs_dropped" -> (refined - pairs).toDouble)
      })(identity)
      candidates = cand.select(col("r_geom").as("a"), col("f_geom").as("b"))
        .limit(Kernels.Rows.toInt)
      fp.unpersist(); rg.unpersist()
    }
    Nil
  }

  override def kernels(): Unit =
    Kernels.run(spark, tracer, keys, level, Option(candidates))
}

/** The image table with bytes: exact md5 dedup (q13 shape) and phash
  * near-dup pairs with planted JPEG re-encoded copies (q65 shape). */
final class ImageDedup(spark: SparkSession, seed: Long, tracer: Tracer) extends Workload {
  val images = 500L
  private val patterns = Images.DefaultPatterns
  private var keys: DataFrame = _
  private var distinctPatterns = 0L
  private var planted: (Long, Long) = _

  def inputRows: Long = images

  def generate(): Unit = {
    if (keys != null) keys.unpersist()
    keys = Inputs.keys(spark, seed, images).cache()
    keys.count()
  }

  private def table: DataFrame =
    Images.synthesizeKeys(keys).toDF.select(col("image_id"), col("bytes"))

  /** (md5 groups, rows). */
  private def exact(imgs: DataFrame): (Long, Long) = {
    val r = imgs.groupBy(md5(col("bytes")).as("content_hash"))
      .agg(count(lit(1)).as("group_size"))
      .agg(count(lit(1)), coalesce(sum("group_size"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** (verified pairs, planted pairs found, Σ planted pair hash). */
  private def phash(imgs: DataFrame): (Long, Long, Long) = {
    val aug = imgs.unionAll(imgs.where(Images.key(col("image_id")) % 5 === 0)
      .select(concat(lit("re_"), col("image_id")).as("image_id"),
        Gf.imgReencode(col("bytes"), lit("jpeg")).as("bytes")))
    val isPlanted = col("id_b") === concat(lit("re_"), col("id_a"))
    val r = Dedup.phashPairsFromBytes(aug, "image_id", "bytes", maxHamming = 3)
      .agg(count(lit(1)), sum(when(isPlanted, 1L).otherwise(0L)),
        sum(when(isPlanted, Inputs.rowHash(Seq("id_a"))).otherwise(0L))).head()
    def at(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (at(0), at(1), at(2))
  }

  def prepareChecks(): Unit = {
    distinctPatterns = keys.select(pmod(col("k"), lit(patterns.toLong))).distinct().count()
    planted = Inputs.digest(keys.where(col("k") % 5 === 0)
      .select(format_string("img_%09d", col("k")).as("id_a")), Seq("id_a"))
  }

  def job(traced: Boolean): () => Option[String] = {
    var cached: Seq[DataFrame] = Nil
    val (e, p) =
      if (!traced) (exact(table), phash(table))
      else {
        val imgs = tracer.span("sources.images")(Inputs.forced(table))
        cached = Seq(imgs)
        (tracer.span("operators.dedup.exact")(exact(imgs)),
          tracer.spanWith("operators.dedup.phash")(phash(imgs))(p =>
            Seq("operators.dedup.verified_pairs" -> p._1.toDouble)))
      }
    () => {
      cached.foreach(_.unpersist())
      if (e != ((distinctPatterns, images)))
        Some(s"md5 (groups, rows) $e != (distinct patterns, images) ${(distinctPatterns, images)}")
      else if ((p._2, p._3) != planted)
        Some(s"planted pairs found ${(p._2, p._3)} != planted ${planted}")
      else None
    }
  }

}

/** The read-side analytics over one seeded image table: every job runs the
  * spatial join over all footprints, then the image dedup over the first
  * images. No sink. Kernels are timed over the join's inputs and candidates. */
final class JoinDedup(join: FootprintJoin, dedup: ImageDedup) extends Workload {
  private val parts = Seq(join, dedup)
  def inputRows: Long = join.inputRows + dedup.inputRows
  def generate(): Unit = parts.foreach(_.generate())
  def prepareChecks(): Unit = parts.foreach(_.prepareChecks())
  def job(traced: Boolean): () => Option[String] =
    Workload.allOf(parts.map(_.job(traced)))
  override def afterLoop(traced: Boolean): Seq[Option[String]] =
    parts.flatMap(_.afterLoop(traced))
  override def kernels(): Unit = join.kernels()
}

/** Each kernel alone over rows derived from the workload's own keys, every
  * pass forced through the noop sink over cached inputs. */
object Kernels {
  val Rows = 5000L
  private val Reps = 3

  def run(spark: SparkSession, tracer: Tracer, keys: DataFrame, level: Int,
          candidates: Option[DataFrame]): Unit = {
    val ks = Inputs.forced(keys.limit(Rows.toInt).repartition(
      spark.sparkContext.defaultParallelism))
    val g = col(Tables.Geometry)
    val foot = Inputs.forced(Images.withFootprint(Images.synthesizeKeys(ks).toDF)
      .select(g, col("lng"), col("lat")))
    val bytes = Inputs.forced(Images.synthesizeKeys(ks).toDF.select(col("bytes")))
    val cand = Inputs.forced(candidates.getOrElse(
      foot.select(explode(Gf.s2Cover(g, level)).as("cell"), g)
        .select(Gf.s2Boundary(col("cell")).as("a"), g.as("b"))))
    tracer.spanWith("kernels") {
      for (_ <- 1 to Reps) {
        tracer.span("functions.s2_cover")(Inputs.noop(foot.select(Gf.s2Cover(g, level))))
        tracer.span("functions.s2_cell")(Inputs.noop(
          foot.select(Gf.s2Cell(col("lng"), col("lat"), level))))
        tracer.span("functions.st_intersects")(Inputs.noop(
          cand.select(Gf.stIntersects(col("a"), col("b")))))
        tracer.span("functions.img_synth")(Inputs.noop(
          ks.select(Gf.imgSynth(col("k"), Images.DefaultPatterns))))
        tracer.span("functions.md5")(Inputs.noop(bytes.select(md5(col("bytes")))))
        tracer.span("functions.phash")(Inputs.noop(bytes.select(Gf.imgPhash(col("bytes")))))
      }
    }(_ => Seq("functions.cover_cells_per_row" ->
      foot.agg(avg(size(Gf.s2Cover(g, level)))).head().getDouble(0)))
    Seq(ks, foot, bytes, cand).foreach(_.unpersist())
  }
}
