package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ImageOps

/** One row of the graft input table — schema exactly as BASELINE.json
  * `input_hint`: (image_id string, bytes binary, w int32, h int32,
  * fmt string, caption string, phash int64). */
case class ImageRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                    fmt: String, caption: String, phash: Long)

/** Deterministic synthetic image+caption table (no external data; fixed
  * arithmetic, no RNG state). Generation is a per-column Catalyst
  * PROJECTION over the key table (round-7): each derived column — id,
  * encoded bytes, dims, fmt, caption, phash — is its own expression, so
  * column pruning reaches the synthesizer exactly like a parquet scan and
  * consumers that never read `bytes` never pay the PNG/JPEG encode (the
  * former mapPartitions closure was opaque to the optimizer and forced
  * every consumer through the full encode).
  *
  * Planted structure (all pure functions of the row number `k`):
  *  - visual pattern = k % `patterns` → images sharing a pattern are
  *    byte-identical (exact/near-dup ground truth for phash dedup);
  *  - fmt: pattern % 4 == 0 → jpeg (lossy), else png;
  *  - geotag: modular lat/lng grid — mirrored in SQL by
  *    [[Images.lngSql]]/[[latSql]] so DuckDB oracles can reproduce the
  *    geography from the numeric id;
  *  - skewed variant: `hot` fraction of images collapse onto 5 urban
  *    hotspot cells (power-law-ish) for skew-join benchmarks.
  */
object Images {

  val DefaultPatterns = 512

  private val adjectives = Array("quiet", "busy", "old", "modern", "green",
    "sunny", "rainy", "crowded", "empty", "narrow")
  private val nouns = Array("street", "plaza", "bridge", "market", "park",
    "station", "harbor", "tower", "museum", "garden")
  private val places = Array("wroclaw", "poznan", "krakow", "warsaw", "lodz",
    "gdansk", "szczecin", "lublin", "katowice", "bialystok")

  def caption(k: Long): String = {
    val a = adjectives((k % 10).toInt)
    val n = nouns(((k / 10) % 10).toInt)
    val p = places(((k / 100) % 10).toInt)
    s"image $k shows a $a $n near $p"
  }

  /** Driver-side reference derivation — kept INDEPENDENT of the img_synth
    * kernels (raster built once, encoded and hashed from the same pixels)
    * so ImageSynthProjectionSpec's equivalence test really compares two
    * implementations, not one kernel with itself. */
  def row(k: Long, patterns: Int): ImageRow = {
    require(k >= 0, s"image key must be non-negative, got $k")
    val pat = k % patterns
    val w = 32 + (pat % 3).toInt * 16
    val h = 32
    val fmt = if (pat % 4 == 0) "jpeg" else "png"
    val colorPx = ImageOps.synthPixels(pat, w, h)
    val px = if (fmt == "jpeg") ImageOps.toGray(colorPx) else colorPx
    ImageRow(f"img_$k%09d", ImageOps.encode(px, w, h, fmt), w, h, fmt,
      caption(k), ImageOps.phashOfPixels(px, w, h))
  }

  /** All derived image columns as SEPARATE expressions over the key column
    * `k` — the prunable synthesizer. Caption index math uses the identity
    * (k/10)%10 == floor((k%100)/10) (k ≥ 0) so every index is exact column
    * arithmetic; the expensive columns (bytes, phash) are the img_synth /
    * img_synth_phash kernels, byte-identical to [[row]]. Every column reads
    * the key through the same `raise_error` guard as [[row]]'s `require`,
    * so a negative key fails whichever columns survive pruning. */
  private def projected(keys: DataFrame, patterns: Int): DataFrame = {
    graft.functions.Gf.register(keys.sparkSession)
    val k = when(col("k") < 0, raise_error(concat(
      lit("image key must be non-negative, got "), col("k").cast("string"))))
      .otherwise(col("k"))
    val pat = k % patterns
    keys.select(
      format_string("img_%09d", k).as("image_id"),
      graft.functions.Gf.imgSynth(k, patterns).as("bytes"),
      (lit(32) + (pat % 3).cast("int") * lit(16)).as("w"),
      lit(32).as("h"),
      when(pat % 4 === 0, lit("jpeg")).otherwise(lit("png")).as("fmt"),
      concat(lit("image "), k.cast("string"), lit(" shows a "),
        element_at(typedlit(adjectives.toSeq), (k % 10).cast("int") + 1),
        lit(" "),
        element_at(typedlit(nouns.toSeq),
          floor((k % 100) / 10.0).cast("int") + 1),
        lit(" near "),
        element_at(typedlit(places.toSeq),
          floor((k % 1000) / 100.0).cast("int") + 1)).as("caption"),
      graft.functions.Gf.imgSynthPhash(k, patterns).as("phash"))
  }

  /** The input table at size `n`. */
  def synthesize(spark: SparkSession, n: Long,
                 patterns: Int = DefaultPatterns): Dataset[ImageRow] = {
    import spark.implicits._
    projected(spark.range(n).select(col("id").as("k")), patterns).as[ImageRow]
  }

  /** Input table keyed by an explicit key column `k` (so a SQL oracle can
    * regenerate the same key set from the source tables). */
  def synthesizeKeys(keys: DataFrame, patterns: Int = DefaultPatterns): Dataset[ImageRow] = {
    import keys.sparkSession.implicits._
    // The key table is typically one tiny parquet split; without this the
    // whole encode pipeline would run in ONE task. Shuffling bare longs is
    // free next to per-row image encoding — always spread across all cores.
    val slices = keys.sparkSession.sparkContext.defaultParallelism
    projected(keys.select(col("k").cast("long").as("k")).repartition(slices),
      patterns).as[ImageRow]
  }

  /** Standard derived image set for the driver testdata: 4 images per part
    * row, keys = p_partkey*4 + i (SQL mirror in [[keysSql]]). */
  def forTestdata(spark: SparkSession, sfDir: String): Dataset[ImageRow] = {
    val keys = spark.read.parquet(s"$sfDir/part.parquet")
      .select(explode(array(lit(0), lit(1), lit(2), lit(3))).as("i"), col("p_partkey"))
      .select((col("p_partkey") * 4 + col("i")).as("k"))
    synthesizeKeys(keys)
  }

  val keysSql: String =
    "SELECT p_partkey * 4 + v AS k FROM part, (VALUES (0), (1), (2), (3)) t(v)"

  /** Numeric key back out of the id (for geotag derivation in both engines).
    * `img_%09d` does NOT truncate above 10⁹-1, so take the whole digit tail
    * (up to Long.MaxValue's 19 digits) instead of a fixed 9-char slice. */
  def key(imageId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(imageId, 5, 19).cast("long")

  /** Uniform geotag columns (SQL mirrors below). */
  def lng(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (k * 13 % 3600) / 10.0 - 180.0 + 0.05
  def lat(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((k * 29) % 1200) / 10.0 - 60.0 + 0.05
  def lngSql(k: String): String = s"($k * 13 % 3600) / 10.0 - 180.0 + 0.05"
  def latSql(k: String): String = s"(($k * 29) % 1200) / 10.0 - 60.0 + 0.05"

  /** Skewed geotags: `hotPermille`/1000 of rows collapse onto 5 hotspots
    * ("dense urban tiles", BASELINE.json north_star) with a small jitter;
    * the rest stay uniform. */
  def skewLng(k: org.apache.spark.sql.Column, hotPermille: Int): org.apache.spark.sql.Column =
    when(k % 1000 < hotPermille, (k % 5) * 30.0 - 60.0 + (k % 97) / 1000.0)
      .otherwise(lng(k))
  def skewLat(k: org.apache.spark.sql.Column, hotPermille: Int): org.apache.spark.sql.Column =
    when(k % 1000 < hotPermille, (k % 5) * 10.0 - 20.0 + (k % 89) / 1000.0)
      .otherwise(lat(k))
  def skewLngSql(k: String, hotPermille: Int): String =
    s"CASE WHEN $k % 1000 < $hotPermille THEN ($k % 5) * 30.0 - 60.0 + ($k % 97) / 1000.0 ELSE ${lngSql(k)} END"
  def skewLatSql(k: String, hotPermille: Int): String =
    s"CASE WHEN $k % 1000 < $hotPermille THEN ($k % 5) * 10.0 - 20.0 + ($k % 89) / 1000.0 ELSE ${latSql(k)} END"

  /** Images with geotag + WKB footprint box (half-extent in degrees) —
    * the raster footprint for the polygon join path. */
  def withFootprint(images: DataFrame, halfExtent: Double = 0.02,
                    skewHotPermille: Int = 0): DataFrame = {
    import graft.functions.Gf
    val k = key(col("image_id"))
    val lngC = if (skewHotPermille > 0) skewLng(k, skewHotPermille) else lng(k)
    val latC = if (skewHotPermille > 0) skewLat(k, skewHotPermille) else lat(k)
    images
      .withColumn("lng", lngC)
      .withColumn("lat", latC)
      .withColumn(graft.operators.Tables.Geometry,
        Gf.stBox(col("lng") - halfExtent, col("lat") - halfExtent,
          col("lng") + halfExtent, col("lat") + halfExtent))
  }
}
