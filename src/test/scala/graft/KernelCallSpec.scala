package graft

import scala.util.Try

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Gf, KernelCall}

/** The contract of the [[KernelCall]] rows of `Gf.defs`: each keeps its SQL
  * name in plans and generated column names, and generated code and
  * interpreted eval give the same results, nulls included. Also: a call
  * with the wrong argument count fails analysis naming the function. */
class KernelCallSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** Input columns, each derived from `id` (1, 2, and a null row), so
    * every input of the null row is null. Later columns may use earlier
    * ones. */
  private val inputs: Seq[(String, String)] = Seq(
    "rid" -> "coalesce(id, 0L)",
    "lng" -> "17.0D + id * 0.013D",
    "lat" -> "51.1D + id * 0.007D",
    "lng2" -> "lng + 0.02D",
    "lat2" -> "lat + 0.02D",
    "g" -> "st_box(lng, lat, lng2, lat2)",
    "g2" -> "st_box(lng + 0.005D, lat + 0.005D, lng2 + 0.01D, lat2 + 0.01D)",
    "p" -> "st_point(lng + 0.005D, lat + 0.005D)",
    "wkt" -> "st_astext(g)",
    "meters" -> "id * 100.0D",
    "deg" -> "id * 0.001D",
    "lvl" -> "cast(id + 9 AS int)",
    "lvl2" -> "cast(id + 12 AS int)",
    "s2" -> "s2_cell(lng, lat, 12)",
    "tok" -> "s2_token(s2)",
    "zoom" -> "cast(id + 9 AS int)",
    "tx" -> "cast(id + 3 AS int)",
    "ty" -> "cast(id + 5 AS int)",
    "res" -> "cast(id + 6 AS int)",
    "cres" -> "cast(id + 8 AS int)",
    "k" -> "cast(id AS int)",
    "cc" -> "id % 2 = 0",
    "h3" -> "h3_cell(lng, lat, 8)",
    "h3n" -> "element_at(h3_grid_ring(h3, 1), 1)",
    "h3s" -> "h3_str(h3)",
    "seq" -> "CASE WHEN id IS NOT NULL THEN array(h3s, h3_str(h3n)) END",
    "cells" -> ("CASE WHEN id IS NOT NULL THEN array(named_struct('ij', array(0, 0), 'v', 1.5D), " +
      "named_struct('ij', array(1, -1), 'v', cast(id AS double))) END"),
    "path" -> "CASE WHEN id IS NOT NULL THEN array(h3_latlng(h3), h3_latlng(h3n), array(lat, lng)) END",
    "path2" -> "CASE WHEN id IS NOT NULL THEN array(array(lat2, lng2), h3_latlng(h3)) END",
    "img" -> "img_synth(id, 4)",
    "img2" -> "img_synth(id + 1, 4)",
    "ph1" -> "img_phash(img)",
    "ph2" -> "img_phash(img2)",
    "fmt" -> "CASE id WHEN 1 THEN 'png' WHEN 2 THEN 'jpeg' END",
    "px" -> "cast(id * 4 + 4 AS int)",
    "vec" -> ("CASE WHEN id IS NOT NULL THEN array(cast(id AS float), cast(1 AS float), " +
      "cast(-2 AS float), cast(3 AS float)) END"),
    "vec2" -> ("CASE WHEN id IS NOT NULL THEN array(cast(3 AS float), cast(2 AS float), " +
      "cast(1 AS float), cast(id AS float)) END"),
    "planes" -> "cast(id + 6 AS int)",
    "seed" -> "id * 7",
    "text" -> "concat('the quick brown fox ', cast(id AS string), ' jumps over the lazy dog')",
    "toks" -> "split(text, ' ')",
    "shingles" -> "word_shingles(text, 2)",
    "n" -> "cast(id * 32 AS int)",
    "win" -> "cast(id * 4 AS int)",
    "pcm" -> "synth_pcm16(id, 64)",
    "rate" -> "cast(id * 8000 AS int)",
    "ch" -> "cast(id AS int)",
    "wav" -> "wav_encode(pcm, 8000, 1)",
    "four" -> "cast(id * 0 + 4 AS int)",
    "vid" -> "synth_video(id, 4, 4, 5)",
    "fr" -> "cast(id - 1 AS int)",
    "sixteen" -> "cast(id * 0 + 16 AS int)",
    "fps" -> "cast(id + 7 AS int)",
    "frames" -> ("CASE WHEN id IS NOT NULL THEN array(frame_synth(id, 0, 16, 16, 'jpeg'), " +
      "frame_synth(id, 1, 16, 16, 'jpeg')) END"),
    "avi" -> "avi_mjpeg_encode(frames, 16, 16, 8)")

  /** Argument columns of every KernelCall row of `Gf.defs`. */
  private val args: Map[String, Seq[String]] = Seq(
    "st_intersects" -> "g, p", "st_contains" -> "g, p", "st_within" -> "p, g",
    "st_touches" -> "g, p", "st_contains_centroid" -> "g, p", "st_intersection" -> "g, g2",
    "st_geomfromtext" -> "wkt", "st_astext" -> "g", "st_astext_shapely" -> "g",
    "st_point" -> "lng, lat", "st_box" -> "lng, lat, lng2, lat2", "st_area" -> "g",
    "st_remove_interiors" -> "g", "st_buffer_meters" -> "g, meters", "st_centroid_x" -> "g",
    "st_xmin" -> "g", "st_ymax" -> "g", "st_centroid_y" -> "g", "st_dump" -> "g",
    "st_start_point" -> "g", "st_end_point" -> "g", "st_length" -> "g",
    "s2_cell" -> "lng, lat, lvl", "s2_token" -> "s2", "s2_from_token" -> "tok",
    "s2_children" -> "s2, lvl2", "s2_sorted_children" -> "s2, lvl2",
    "hex_dense_grid" -> "cells, k", "h3_seq_path" -> "seq", "s2_cover" -> "g, lvl",
    "s2_cover_expanded" -> "g, lvl, deg", "s2_boundary" -> "s2", "s2_parent" -> "s2, lvl",
    "slippy_cover" -> "g, zoom", "slippy_boundary" -> "tx, ty, zoom",
    "img_psnr" -> "img, img", "img_phash" -> "img", "img_width" -> "img",
    "img_height" -> "img", "img_reencode" -> "img, fmt", "hamming64" -> "ph1, ph2",
    "img_resize" -> "img, px, px, fmt",
    "h3_cell" -> "lng, lat, res", "h3_str" -> "h3", "h3_from_str" -> "h3s",
    "h3_cover" -> "g, res, cc", "h3_boundary" -> "h3", "h3_grid_disk" -> "h3, k",
    "h3_grid_ring" -> "h3, k", "h3_grid_disk_distances" -> "h3, k", "h3_parent" -> "h3, res",
    "h3_children" -> "h3, cres", "h3_local_ij" -> "h3, h3n", "h3_local_ij_try" -> "h3, h3n",
    "vec_cosine" -> "vec, vec2", "simhash64" -> "toks", "word_shingles" -> "text, k",
    "minhash_sig" -> "shingles, planes", "hyperplane_sig" -> "vec, planes, seed",
    "h3_latlng" -> "h3", "dtw_latlng" -> "path, path2", "fastdtw_latlng" -> "path, path2, k",
    "synth_pcm16" -> "id, n", "audio_rms_windows" -> "pcm, win",
    "audio_zero_crossings" -> "pcm", "synth_video" -> "id, four, four, k",
    "video_frame_sample" -> "vid, k", "bytes_mean" -> "pcm",
    "wav_encode" -> "pcm, rate, ch", "wav_decode" -> "wav", "avi_header" -> "avi",
    "wav_pcm" -> "wav", "wav_sample_rate" -> "wav", "wav_channels" -> "wav",
    "avi_mjpeg_encode" -> "frames, sixteen, sixteen, fps", "avi_frames" -> "avi",
    "avi_width" -> "avi", "avi_height" -> "avi", "avi_frame_count" -> "avi",
    "frame_synth" -> "id, fr, sixteen, sixteen, fmt"
  ).map { case (f, a) => f -> a.split(", ").toSeq }.toMap

  /** Names of the table rows that build a KernelCall. */
  private lazy val kernelNames: Seq[String] = Gf.defs.filter { d =>
    Try(d.build(Seq.fill(d.arity)(Literal(null)))).toOption.exists(_.isInstanceOf[KernelCall])
  }.map(_.name)

  /** The inputs, materialized once: the kernels under test read plain
    * columns, never literals the optimizer could fold. */
  private lazy val table: DataFrame = {
    val base = spark.range(0, 3).select(when(col("id") > 0, col("id")).as("id"))
    val derived = inputs.foldLeft(base) { case (df, (c, e)) => df.withColumn(c, expr(e)) }
    val dir = java.nio.file.Files.createTempDirectory("kernelcall").resolve("t").toString
    derived.repartition(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (key, _) => key -> spark.conf.getOption(key) }
    kv.foreach { case (key, v) => spark.conf.set(key, v) }
    try f finally old.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  /** Comparable form of a collected value: bytes by content, floating
    * point by bit pattern (NaN equals NaN). */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case o => o
  }

  test("every KernelCall row has arguments here, and only those rows") {
    assert(kernelNames.size >= 75, kernelNames)
    assert(kernelNames.toSet === args.keySet)
  }

  test("KernelCall rows keep their SQL name in plans and column names") {
    for (name <- kernelNames) {
      val call = s"$name(${args(name).mkString(", ")})"
      val df = table.selectExpr(call)
      assert(df.columns.toSeq === Seq(call))
      val k = df.queryExecution.analyzed.expressions.flatMap(_.collect {
        case k: KernelCall => k
      }).head
      assert(k.prettyName === name)
      assert(k.sql === s"$name(${k.children.map(_.sql).mkString(", ")})")
      assert(k.toString === s"$name(${k.children.mkString(", ")})")
    }
  }

  test("KernelCall rows: generated code and interpreted eval agree, nulls included") {
    def run(name: String): Seq[Any] = table.orderBy("rid")
      .selectExpr(s"$name(${args(name).mkString(", ")})").collect().toSeq.map(norm)
    for (name <- kernelNames) {
      val codegen = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run(name))
      val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(run(name))
      assert(codegen === interpreted, name)
      assert(codegen.size === 3 && codegen.head === Seq(null), s"$name on the null row")
      assert(codegen.tail.forall(_ != Seq(null)), s"$name on non-null rows: $codegen")
    }
  }

  test("a call with the wrong argument count fails analysis naming the function") {
    for ((query, name, expected, actual) <- Seq(
        ("SELECT st_box(1D, 2D)", "st_box", 4, 2),
        ("SELECT h3_cell(17D, 51D, 9, 1)", "h3_cell", 3, 4),
        ("SELECT topk_agg(1D)", "topk_agg", 3, 1))) {
      val e = intercept[AnalysisException](spark.sql(query))
      assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", query)
      assert(e.getMessage.contains(
        s"`$name` requires $expected parameters but the actual number is $actual"), e.getMessage)
    }
  }
}
