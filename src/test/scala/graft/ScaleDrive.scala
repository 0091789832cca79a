package graft

import org.apache.spark.sql.functions._

/** Scale probe (not a test): runs the image pipeline on a synthesized table
  * N× the bench volume to show throughput HOLDS as data grows — the
  * plan has no term that scales worse than linearly (generator →
  * per-row encode → broadcast cell join → partial agg). Prints one JSON
  * line per pass and one for the total.
  *
  *   sbt "Test/runMain graft.ScaleDrive [nImages] [cpus]"
  */
object ScaleDrive {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 320000L
    val cpus = if (args.length > 1) args(1).toInt else 32
    val spark = GraftSession.local(cpus, "graft-scale")
    import graft.sources.{DerivedGeo, Images}

    // warm-up
    Images.synthesize(spark, 4000).toDF.select(md5(col("bytes"))).distinct().count()

    def run(name: String)(f: => Long): Double = {
      val (rows, sec) = Drive.timed(name)(f)
      Drive.report("scale", "op" -> name, "n" -> n, "rows" -> rows, "sec" -> sec,
        "imgs/s" -> n / sec)
      sec
    }

    val img = Images.synthesize(spark, n).toDF
    val k = Images.key(col("image_id"))
    val t1 = run("tile_counts") {
      img.select(concat_ws("_",
        DerivedGeo.tileX(Images.lng(k), 8).cast("string"),
        DerivedGeo.tileY(Images.lat(k), 8).cast("string"), lit("8")).as("tile_id"))
        .groupBy("tile_id").agg(count(lit(1))).count()
    }
    val t2 = run("footprint_join") {
      val feats = Images.withFootprint(img)
        .select(col("image_id").as(graft.operators.Tables.FeaturesIndex),
          col(graft.operators.Tables.Geometry))
      new graft.operators.IntersectionJoiner(cellLevel = 6,
        broadcastRegions = Some(true), boxFeatures = Some(0.02))
        .transform(DerivedGeo.rectRegions(spark, "/root/testdata/sf0.1"), feats)
        .groupBy(graft.operators.Tables.RegionsIndex).agg(count(lit(1))).count()
    }
    val t3 = run("exact_dedup") {
      img.groupBy(md5(col("bytes"))).agg(count(lit(1))).count()
    }
    Drive.report("scale", "op" -> "TOTAL", "n" -> n, "passes" -> 3,
      "images/sec" -> n * 3 / (t1 + t2 + t3))
    spark.stop()
  }
}
