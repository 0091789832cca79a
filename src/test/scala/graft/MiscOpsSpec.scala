package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class EvaluatorSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("regression metrics match hand-computed values") {
    val labels = Seq(("a", 2.0), ("b", 4.0), ("c", 6.0))
      .toDF(Tables.RegionsIndex, "label")
    val preds = Seq(("a", 3.0), ("b", 4.0), ("c", 5.0), ("d", 99.0))
      .toDF(Tables.RegionsIndex, "pred")
    // "d" is skipped by the inner-join alignment (reference :93-101)
    val m = Evaluator.regressionMetrics(preds, labels).collect()(0)
    // tolerance 1e-9: sums are decimal(30,10)-truncated by design (engine
    // parity), so per-term error is bounded by 1e-10
    assert(m.getAs[Long]("n") === 3)
    assert(math.abs(m.getAs[Double]("mse") - 2.0 / 3) < 1e-9)
    assert(math.abs(m.getAs[Double]("mae") - 2.0 / 3) < 1e-9)
    assert(math.abs(m.getAs[Double]("rmse") - math.sqrt(2.0 / 3)) < 1e-9)
    // mape = (1/2 + 0 + 1/6)/3 ; smape = (2/5 + 0 + 2/11)/3
    assert(math.abs(m.getAs[Double]("mape") - (0.5 + 1.0 / 6) / 3) < 1e-9)
    assert(math.abs(m.getAs[Double]("smape") - (0.4 + 2.0 / 11) / 3) < 1e-9)
    // ss_tot = 8, ss_res = 2 → r2 = 0.75
    assert(math.abs(m.getAs[Double]("r2") - 0.75) < 1e-9)
  }

  test("trajectory regression evaluator mirrors the reference evaluate() flow") {
    // goldens from numpy with the reference's epsilon formulas
    // (_custom_metrics.py:14-44; trip 99 has no test label → skipped)
    val test = Seq((1L, 10.0), (2L, 20.0), (3L, 0.0), (4L, 40.0))
      .toDF("trip_id", "duration")
    val preds = Seq((1L, 12.0), (2L, 18.0), (3L, 1.0), (4L, 45.0), (99L, 7.0))
      .toDF("trip_id", "pred")
    val m = Evaluator.trajectoryRegression(test, preds).collect()(0)
    assert(m.getAs[Long]("n") === 4)
    assert(math.abs(m.getAs[Double]("mse") - 8.5) < 1e-9)
    assert(math.abs(m.getAs[Double]("rmse") - 2.9154759474226504) < 1e-9)
    assert(math.abs(m.getAs[Double]("mae") - 2.5) < 1e-9)
    // y=0 term is |1/(0+1e-10)|*100/4 = 2.5e11 — the epsilon semantics
    assert(math.abs(m.getAs[Double]("mape_pct") - 250000000010.62497) < 1e3)
    assert(math.abs(m.getAs[Double]("smape_pct") - 60.118209958380156) < 1e-6)
    // no alignment at all → the reference raises; mirrored
    intercept[IllegalArgumentException] {
      Evaluator.trajectoryRegression(test,
        Seq((99L, 7.0)).toDF("trip_id", "pred"))
    }
  }

  test("mobility prediction evaluator: trip alignment, k-truncation, fastdtw") {
    val h3a = "881e2040897ffff" // reference anchor cell (res 8 near Wrocław)
    val nb = graft.core.H3.neighbors(graft.core.H3.fromHexString(h3a))
      .map(graft.core.H3.toHexString)
    val t1 = Seq(h3a, nb(0), nb(1), nb(2))
    val p1Good = Seq(h3a, nb(0), nb(1), nb(2)) // perfect
    val p1Off = Seq(h3a, nb(0), nb(3), nb(4)) // diverges after element 2
    val test = Seq((1L, t1)).toDF("trip_id", "h3_sequence_y")

    val perfect = Evaluator.mobilityPrediction(test,
      Seq((1L, p1Good), (42L, p1Off)).toDF("trip_id", "pred_sequence"))
      .collect()(0)
    assert(perfect.getAs[Long]("n_trips") === 1) // trip 42 skipped (no label)
    assert(perfect.getAs[Double]("sequence_accuracy") === 1.0)
    assert(perfect.getAs[Double]("mean_haversine_m") === 0.0)
    assert(perfect.getAs[Double]("mean_dtw") === 0.0)

    val off = Evaluator.mobilityPrediction(test,
      Seq((1L, p1Off)).toDF("trip_id", "pred_sequence")).collect()(0)
    assert(math.abs(off.getAs[Double]("sequence_accuracy") - 0.5) < 1e-12)
    assert(off.getAs[Double]("mean_dtw") > 0.0)

    // k=2 truncates BOTH sequences before the metrics (reference :130-136)
    val k2 = Evaluator.mobilityPrediction(test,
      Seq((1L, p1Off)).toDF("trip_id", "pred_sequence"), k = Some(2))
      .collect()(0)
    assert(k2.getAs[Double]("sequence_accuracy") === 1.0)
    assert(k2.getAs[Double]("mean_dtw") === 0.0)
    // k larger than the sequence → full sequences (condition k <= len)
    val k9 = Evaluator.mobilityPrediction(test,
      Seq((1L, p1Off)).toDF("trip_id", "pred_sequence"), k = Some(9))
      .collect()(0)
    assert(math.abs(k9.getAs[Double]("sequence_accuracy") - 0.5) < 1e-12)

    intercept[IllegalArgumentException] {
      Evaluator.mobilityPrediction(test,
        Seq((42L, p1Off)).toDF("trip_id", "pred_sequence"))
    }
  }
}

class SpatialSplitSpec extends AnyFunSuite {
  import SparkTestSession.spark

  lazy val points = graft.sources.DerivedGeo.points(spark, "/root/testdata/sf0.001")

  test("split assigns every point, ratios approximately honored, deterministic") {
    val splitter = new SpatialSplit(parentCellLevel = 4,
      ratios = Seq("train" -> 0.7, "test" -> 0.3), seed = 7L)
    val out = splitter.split(points).cache()
    val total = out.count()
    assert(out.where(col("split").isNull).count() === 0)
    val frac = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble / total).toMap
    assert(math.abs(frac("train") - 0.7) < 0.15, s"train frac ${frac("train")}")
    // spatial coherence: each parent cell maps to exactly one split
    val multi = out.groupBy("cell").agg(countDistinct("split").as("k"))
      .where(col("k") > 1)
    assert(multi.count() === 0)
    // determinism
    val out2 = splitter.split(points)
    assert(out.select("point_id", "split").exceptAll(
      out2.select("point_id", "split")).count() === 0)
  }

  test("s2_sorted_children kernel == declarative boundary-sort formula") {
    import spark.implicits._
    import graft.functions.Gf
    // anchors scattered over faces/hemispheres; levels crossing 1 and 2
    // subdivision steps
    val anchors = Seq((-170.0, -40.0), (-30.0, 60.0), (0.05, 0.05),
      (120.0, -75.0), (179.0, 20.0), (45.0, 45.0))
    for ((lng, lat) <- anchors; (lvl, plvl) <- Seq((8, 10), (12, 13))) {
      val df = Seq((lng, lat)).toDF("lng", "lat")
        .select(Gf.s2Cell(col("lng"), col("lat"), lvl).as("c"))
      val got = df.select(Gf.s2SortedChildren(col("c"), plvl).as("p"))
        .collect()(0).getSeq[Long](0)
      val want = df.select(sort_array(transform(Gf.s2Children(col("c"), plvl),
          p => {
            val g = Gf.s2Boundary(p)
            struct((-Gf.stYMax(g)).as("negymax"), Gf.stXMin(g).as("xmin"),
              p.as("patch"))
          })).as("s"))
        .select(col("s.patch").as("p")).collect()(0).getSeq[Long](0)
      assert(got === want, s"anchor ($lng,$lat) $lvl→$plvl")
    }
  }

  test("hex_dense_grid kernel == declarative aggregate/transform fill") {
    import spark.implicits._
    val k = 2
    val side = 2 * k + 2
    // every IJ position of a complete k=2 disk plus the center, values
    // distinguishable per position
    val ij = for (i <- -k to k; j <- -k to k
                  if math.max(math.max(math.abs(i), math.abs(j)),
                    math.abs(i - j)) <= k) yield (i, j)
    val df = Seq(1)
      .toDF("one")
      .select(array(ij.map { case (i, j) =>
        struct(array(lit(i), lit(j)).as("ij"),
          lit((i * 10 + j + 100).toDouble).as("v"))
      }: _*).as("cells"))
    val got = df.select(call_function("hex_dense_grid", col("cells"), lit(k)))
      .collect()(0).getSeq[Seq[Double]](0)
    val want = df.select(
      aggregate(
        transform(col("cells"), c =>
          struct(((lit(k) + c.getField("ij").getItem(0)) * side +
            (lit(k) - c.getField("ij").getItem(1))).as("pos"),
            c.getField("v").as("v"))),
        array_repeat(lit(0.0), side * side),
        (acc, e) => transform(acc, (x, i) =>
          when(i === e.getField("pos"), e.getField("v")).otherwise(x))).as("flat"))
      .select(transform(sequence(lit(0), lit(side - 1)), r =>
        slice(col("flat"), r * side + 1, lit(side))).as("rows"))
      .collect()(0).getSeq[Seq[Double]](0)
    assert(got === want)
    // the center sits at [k, k] and zeros fill the unused border
    assert(got(k)(k) === 100.0)
    assert(got(side - 1).forall(_ === 0.0))
  }

  test("bucketedStats == global ntile, with NO partition-less window in the plan") {
    import spark.implicits._
    // skewed counts with heavy ties — the case where rank alignment across
    // range partitions must be exact
    val stats = (0 until 500).map(i => (i.toLong, (i % 7).toLong * (i % 3)))
      .toDF("cell", "n")
    val splitter = new SpatialSplit(parentCellLevel = 4, nBins = 4)
    val got = splitter.bucketedStats(stats)
    val want = stats.withColumn("bucket",
      ntile(4).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("n"), col("cell"))))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // fewer rows than bins
    val tiny = (0 until 3).map(i => (i.toLong, i.toLong)).toDF("cell", "n")
    val gotTiny = splitter.bucketedStats(tiny).orderBy("cell").collect()
    assert(gotTiny.map(_.getInt(2)).toSeq === Seq(1, 2, 3))
    // the plan's windows are all partitioned (no single-task global sort);
    // inspect the optimized logical plan — AQE hides the physical one
    val wins = got.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty)
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "global (partition-less) window found in SpatialSplit plan")
  }
}

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** The file stream source needs a directory — stage the single parquet
    * file into a temp dir. */
  lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming hourly counts equal the batch aggregation") {
    val dir = "/root/testdata/sf0.001"
    val stream = graft.streaming.Streams.readEvents(spark, streamDir)
    val q = graft.streaming.Streams.hourlyCounts(stream)
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hourly_out")
      .select("hour", "event_type", "n")
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
  }

  test("streaming lineage sink is exactly-once under batch replay") {
    val sinkDir = java.nio.file.Files.createTempDirectory("stream_lineage").toString
    val ckpt1 = java.nio.file.Files.createTempDirectory("ckpt1").toString
    val stream = graft.streaming.Streams.readEvents(spark, streamDir)
      .withColumn("bucket", concat(lit("b"), pmod(col("user_id"), lit(4))))
    val q = graft.streaming.Streams.lineageSink(stream, sinkDir, "bucket", ckpt1)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val expected = spark.read.parquet(streamDir).count()
    assert(spark.read.parquet(s"$sinkDir/data").count() === expected)

    // restart with a fresh checkpoint over the SAME source content: batch 0
    // is re-planned with the same batchId and identical data; the idempotent
    // manifest check must make the replay a no-op. (A lost checkpoint with
    // NEW data arrived meanwhile is outside the foreachBatch contract —
    // documented on Streams.lineageSink.)
    val ckpt2 = java.nio.file.Files.createTempDirectory("ckpt2").toString
    val q2 = graft.streaming.Streams.lineageSink(stream, sinkDir, "bucket", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val data = spark.read.parquet(s"$sinkDir/data")
    assert(data.count() === expected)
    assert(data.select("event_id").distinct().count() === expected)
    // exactly one committed job in the manifest
    assert(graft.sources.LineageSink.manifest(spark, sinkDir)
      .select("job_id").distinct().count() === 1)

    // wiped sink dir: the manifest is gone, so a rerun RE-commits instead
    // of silently skipping batch ids committed to the old sink
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(sinkDir)).iterator()
      .asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    val ckpt3 = java.nio.file.Files.createTempDirectory("ckpt3").toString
    val q3 = graft.streaming.Streams.lineageSink(stream, sinkDir, "bucket", ckpt3)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q3.awaitTermination()
    assert(spark.read.parquet(s"$sinkDir/data").count() === expected)
  }

  test("streaming tile assignment produces tiles per window") {
    val stream = graft.streaming.Streams.readEvents(spark, streamDir)
    val q = graft.streaming.Streams.tileCounts(stream, 7)
      .writeStream.format("memory").queryName("tiles_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("tiles_out")
    assert(out.count() > 0)
    assert(out.where(!col("tile_id").rlike("^\\d+_\\d+_7$")).count() === 0)
  }
}

class ScalingSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._
  import graft.operators.Scaling

  test("standardize: z-scores from train stats, near-constant columns masked") {
    val train = Seq((1.0, 5.0), (3.0, 5.0), (5.0, 5.0)).toDF("a", "b")
    val out = Scaling.standardize(train, train, Seq("a", "b")).collect()
    val as = out.map(_.getAs[Double]("a")).sorted
    // μ=3, σ_pop=sqrt(8/3)
    val sd = math.sqrt(8.0 / 3.0)
    assert(math.abs(as(0) - (-2.0 / sd)) < 1e-12)
    assert(math.abs(as(1)) < 1e-12)
    assert(out.forall(_.getAs[Double]("b") === 0.0)) // σ=0 → masked
  }

  test("minMax: train-ranged [0,1] with clipping on apply data") {
    val train = Seq(10.0, 20.0, 30.0).toDF("v")
    val apply = Seq(5.0, 10.0, 20.0, 35.0).toDF("v")
    val got = Scaling.minMax(train, apply, "v").as[Double].collect().sorted
    assert(got === Array(0.0, 0.0, 0.5, 1.0))
  }
}

class RoadGraphSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._
  import graft.core.Geo
  import graft.operators.{RoadGraph, Tables}

  test("ways -> shared-endpoint node/edge frames with lengths") {
    // a path a-b-c plus a spur b-d: 4 nodes, 3 edges, b shared by 3 edges
    val ways = Seq(
      ("w1", "LINESTRING(0 0, 1 0)"),
      ("w2", "LINESTRING(1 0, 1 1)"),
      ("w3", "LINESTRING(1 0, 2 0)"))
      .map { case (id, wkt) => (id, Geo.wktToWkb(wkt)) }
      .toDF(Tables.FeaturesIndex, Tables.Geometry)
    val (nodes, edges) = RoadGraph.fromWays(ways)
    assert(nodes.count() === 4)
    assert(edges.count() === 3)
    val e = edges.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
    assert(e.forall(_._4 === 1.0))
    // the shared endpoint (1,0) gets ONE id: w1.v == w2.u == w3.u
    val byId = e.map(x => x._1 -> x).toMap
    assert(byId("w1")._3 === byId("w2")._2)
    assert(byId("w2")._2 === byId("w3")._2)
    // all node ids in edges exist in the node frame
    val nodeIds = nodes.select("node_id").as[String].collect().toSet
    assert(e.flatMap(x => Seq(x._2, x._3)).toSet === nodeIds)
  }
}
