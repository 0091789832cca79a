package graft

import org.apache.spark.sql.functions._
import graft.functions.Gf
import graft.operators._
import graft.sources.{DerivedGeo, Images, LineageSink}

/** spark-submit entry point (north rule: "ships as a spark-submit
  * application … resumable from checkpoint with per-partition lineage").
  *
  * Runs the image→cell pipeline end-to-end: synthesize/read the image+caption
  * table, assign every image to its covering cells (footprint spatial join),
  * and write the assignment bucketed by coarse parent cell through the
  * lineage sink — re-running after a failure resumes from the manifest,
  * skipping completed buckets.
  *
  *   spark-submit --class graft.Main app.jar <sfDir> <outDir> [cellLevel]
  *
  * On a cluster, drop the local[] master: GraftSession only fills defaults
  * when no master is set by spark-submit.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Main <sfDir> <outDir> [cellLevel]")
    val sfDir = args(0)
    val outDir = args(1)
    val cellLevel = if (args.length > 2) args(2).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.submit("graft-main", fallbackCpus = cpus)

    val images = Images.withFootprint(Images.forTestdata(spark, sfDir).toDF)
      .select(col("image_id"), col(Tables.Geometry))
    val assignments = Tiling.assignCells(images, cellLevel)
      // bucket by the coarse parent cell: partition pruning for spatial
      // predicates + locality for k-ring queries + resume granularity
      .withColumn("bucket",
        Gf.s2Token(Gf.s2Parent(Gf.s2FromToken(col(Tables.RegionsIndex)),
          math.max(0, cellLevel - 4))))

    // grouped commits: a crash loses at most one bucket-group; the rerun
    // anti-joins the manifest and redoes only the missing groups
    LineageSink.writeGrouped(assignments, outDir, "bucket")
    // one manifest snapshot over the grouped commits; manifest reads still read
    // the covered commit files until retired 10+ min later (ROADMAP direction 1)
    val manifest = LineageSink.compactManifest(spark, outDir)
    val rows = manifest.agg(sum("rows")).collect()(0).getLong(0)
    val buckets = manifest.count()
    println(s"""{"assignments":$rows,"buckets":$buckets,"out":"$outDir"}""")
    spark.stop()
  }
}
