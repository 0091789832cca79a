package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Images

/** Round-7 optimization guard: the Images table became a per-column
  * Catalyst projection (img_synth / img_synth_phash) so column pruning can
  * drop the PNG/JPEG encode for key-only consumers. Two contracts:
  *
  *  1. EQUIVALENCE — every column of the projected table is identical to
  *     the historical driver-side Images.row derivation (bytes compared
  *     byte-for-byte; jpeg + all three widths + caption digit carries all
  *     exercised, plus a key above the img_%09d 9-digit range).
  *  2. PRUNING — a consumer that only reads image_id plans WITHOUT the
  *     img_synth / img_synth_phash kernels (the whole point of the change).
  */
class ImageSynthProjectionSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("projected synthesis is identical to Images.row on every column") {
    val keys = ((0L until 40L) ++ Seq(97L, 511L, 512L, 513L, 999L, 1000L,
      123456L, 1234567890123L)).toArray
    import spark.implicits._
    val got = Images.synthesizeKeys(keys.toSeq.toDF("k")).toDF()
      .collect().map(r => (r.getString(0), r)).toMap
    assert(got.size === keys.length)
    keys.foreach { k =>
      val exp = Images.row(k, Images.DefaultPatterns)
      val r = got(exp.image_id)
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("bytes"), exp.bytes),
        s"bytes differ for k=$k")
      assert(r.getAs[Int]("w") === exp.w, s"w differs for k=$k")
      assert(r.getAs[Int]("h") === exp.h, s"h differs for k=$k")
      assert(r.getAs[String]("fmt") === exp.fmt, s"fmt differs for k=$k")
      assert(r.getAs[String]("caption") === exp.caption, s"caption differs for k=$k")
      assert(r.getAs[Long]("phash") === exp.phash, s"phash differs for k=$k")
    }
  }

  test("synthetic bytes are pinned to their historical md5 anchors") {
    // captured from the round-6 derivation before any encoder change: the
    // dataset's IDENTITY must survive optimization (row/projection specs
    // compare the two paths against each other, which would miss a drift
    // that hits both)
    val anchors = Map(
      0L -> ("8895d21ac1c9c98afe256ca17672c855", 69816832441344L),
      1L -> ("db8f7889511c7c9df9cf88a957e557d8", 9151595286450086912L),
      2L -> ("c4ca86cf2e0c77d25669e8fce17b07da", -144004141092372481L),
      3L -> ("682fca016063d119a344b515a6b4f9d6", -71494128689020864L),
      4L -> ("c4010b4f150d2639103e33b3ddde3e22", -8725723188297757L),
      5L -> ("c2a094522665f2ebcacc338ba5b65f13", -15668040695568L),
      97L -> ("7392cd58be3d5152fbaab275a8caa8a3", -14073746570608892L),
      511L -> ("7b7eeace5e350a827a021cd3a9f1ff8e", -53871774792953L))
    val md = java.security.MessageDigest.getInstance("MD5")
    anchors.foreach { case (k, (hash, ph)) =>
      md.reset()
      val got = md.digest(graft.functions.ImageOps.synthBytes(k, 512))
        .map("%02x".format(_)).mkString
      assert(got === hash, s"bytes drifted for k=$k")
      assert(graft.functions.ImageOps.synthPhash(k, 512) === ph,
        s"phash drifted for k=$k")
    }
  }

  test("key-only consumers prune the encode kernels out of the plan") {
    val df = Images.synthesize(spark, 100L).toDF().select(col("image_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("img_synth"), s"encode kernel not pruned:\n$plan")
    // and the full table still carries them
    val full = Images.synthesize(spark, 100L).toDF()
    val fullPlan = full.queryExecution.executedPlan.toString
    assert(fullPlan.contains("img_synth"))
  }

  test("a negative key fails loudly, also on a pruned image_id/caption read") {
    import spark.implicits._
    for (k <- Seq(-1L, -25L)) {
      val df = Images.synthesizeKeys(Seq(k).toDF("k")).toDF()
        .select(col("image_id"), col("caption"))
      // the guard must not cost the pruning
      assert(!df.queryExecution.executedPlan.toString.contains("img_synth"))
      val e = intercept[Exception](df.collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(messages.contains(s"image key must be non-negative, got $k"), messages)
    }
  }
}
