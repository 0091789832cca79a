package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Geo
import graft.operators._

/** 3×3 unit-square grid fixture — reference
  * tests/neighbourhoods/test_adjacency_neighbourhood.py:24-88: vertex
  * touching counts as adjacent (CENTER has 8 neighbours). */
class NeighbourhoodSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  val names = Seq(
    ("SW", 0, 0), ("S", 1, 0), ("SE", 2, 0),
    ("W", 0, 1), ("CENTER", 1, 1), ("E", 2, 1),
    ("NW", 0, 2), ("N", 1, 2), ("NE", 2, 2))

  lazy val grid = names.map { case (n, i, j) =>
    (n, Geo.toWkb(Geo.box(i, j, i + 1, j + 1)))
  }.toDF(Tables.RegionsIndex, Tables.Geometry)

  lazy val edges = Neighbourhoods.adjacencyEdges(grid, cellLevel = 8).cache()

  test("adjacency: vertex-touching squares are neighbours (8/5/3 pattern)") {
    val counts = edges.groupBy("region_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("CENTER") === 8)
    assert(Seq("SW", "SE", "NW", "NE").forall(counts(_) === 3))
    assert(Seq("S", "W", "E", "N").forall(counts(_) === 5))
    // symmetry
    val asym = edges.select(col("region_id").as("a"), col("neighbour_id").as("b"))
      .exceptAll(edges.select(col("neighbour_id"), col("region_id")))
    assert(asym.count() === 0)
  }

  test("distance closure: SW reaches {S,W,CENTER} at 1 and the rest at 2") {
    val closure = Neighbourhoods.distanceClosure(edges, 2)
    val sw = closure.where(col("region_id") === "SW")
      .collect().map(r => r.getString(1) -> r.getInt(2)).toMap
    assert(sw.filter(_._2 == 1).keySet === Set("S", "W", "CENTER"))
    assert(sw.filter(_._2 == 2).keySet === Set("SE", "NW", "E", "N", "NE"))
  }

  test("center-handling matrix (reference _base.py:139-167)") {
    val closure = Neighbourhoods.distanceClosure(edges, 2)
    val seeds = Seq("SW").toDF(Tables.RegionsIndex)
    val upTo = Neighbourhoods.neighboursUpToDistance(closure, seeds, 1, includeCenter = false)
    assert(upTo.select("neighbour_id").as[String].collect().toSet === Set("S", "W", "CENTER"))
    val upToC = Neighbourhoods.neighboursUpToDistance(closure, seeds, 1, includeCenter = true)
    assert(upToC.select("neighbour_id").as[String].collect().toSet ===
      Set("SW", "S", "W", "CENTER"))
    val at2 = Neighbourhoods.neighboursAtDistance(closure, seeds, 2, includeCenter = false)
    assert(at2.select("neighbour_id").as[String].collect().toSet ===
      Set("SE", "NW", "E", "N", "NE"))
    val at0 = Neighbourhoods.neighboursAtDistance(closure, seeds, 0, includeCenter = true)
    assert(at0.select("neighbour_id").as[String].collect().toSet === Set("SW"))
    val at0n = Neighbourhoods.neighboursAtDistance(closure, seeds, 0, includeCenter = false)
    assert(at0n.count() === 0)
  }
}

class ContextualCountEmbedderSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // A—B—C chain
  val closure = Seq(
    ("A", "B", 1), ("B", "A", 1), ("B", "C", 1), ("C", "B", 1),
    ("A", "C", 2), ("C", "A", 2))
    .toDF("region_id", "neighbour_id", "distance")
  val emb = Seq(("A", 2), ("B", 4), ("C", 8)).toDF(Tables.RegionsIndex, "f")

  test("squashed: base + avg_d/(d+1)^2, missing distances contribute zero") {
    val out = new ContextualCountEmbedder(closure, 2).transform(emb)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("A") - (2 + 4.0 / 4 + 8.0 / 9)) < 1e-12)
    assert(math.abs(out("B") - (4 + 5.0 / 4 + 0.0)) < 1e-12)
    assert(math.abs(out("C") - (8 + 4.0 / 4 + 2.0 / 9)) < 1e-12)
  }

  test("concatenated: {col}_{d} blocks, zeros for empty neighbour sets") {
    val out = new ContextualCountEmbedder(closure, 2, concatenate = true).transform(emb)
    assert(out.columns.toSeq === Seq(Tables.RegionsIndex, "f_0", "f_1", "f_2"))
    val rows = out.collect().map(r => r.getString(0) ->
      (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows("A") === ((2.0, 4.0, 8.0)))
    assert(rows("B") === ((4.0, 5.0, 0.0)))
    assert(rows("C") === ((8.0, 4.0, 2.0)))
  }

  test("sum / min / max aggregations") {
    val out = new ContextualCountEmbedder(closure, 1, concatenate = true,
      aggregation = "sum").transform(emb)
    val rows = out.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rows("B") === 10.0) // A + C
    val outMin = new ContextualCountEmbedder(closure, 1, concatenate = true,
      aggregation = "min").transform(emb)
    assert(outMin.where(col(Tables.RegionsIndex) === "B")
      .collect()(0).getDouble(2) === 2.0)
  }
}

class LineageSinkSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._
  import graft.sources.LineageSink

  test("write commits per-bucket manifest; resume skips completed buckets") {
    val dir = java.nio.file.Files.createTempDirectory("lineage").toString
    val full = (0 until 1000).map(i => (i.toLong, s"b${i % 10}")).toDF("id", "bucket")

    // simulate a partial job: only 4 buckets got written before a "crash"
    val partial = full.where(col("bucket").isin("b0", "b1", "b2", "b3"))
    val m1 = LineageSink.write(partial, dir, "bucket")
    assert(m1.count() === 4)
    assert(m1.agg(sum("rows")).collect()(0).getLong(0) === 400)

    // resume with the FULL input: only the 6 missing buckets are written
    val m2 = LineageSink.resumeWrite(full, dir, "bucket")
    assert(m2.count() === 10)
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() === 1000)
    assert(data.select("id").distinct().count() === 1000) // no duplicates

    // resuming again is a no-op
    val m3 = LineageSink.resumeWrite(full, dir, "bucket")
    assert(m3.count() === 10)
    assert(spark.read.parquet(s"$dir/data").count() === 1000)
  }

  test("crash recovery: staged + mid-move wrecks roll back; readers see exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("lineage2").toString
    val a = (0 until 100).map(i => (i.toLong, s"b${i % 2}")).toDF("id", "bucket")
    LineageSink.write(a, dir, "bucket")
    val m1 = LineageSink.manifest(spark, dir)
    // every committed file appears in exactly one manifest row's file list
    val registered = m1.select(explode(col("files"))).distinct().count()
    assert(registered > 0)

    // job A died mid staging write (no marker yet); job B died mid-MOVE
    // (marker written, about half its files already renamed into data/)
    val b = (100 until 150).map(i => (i.toLong, s"b${i % 2}")).toDF("id", "bucket")
    LineageSink.injectCrashMidStaging(b, dir, "bucket")
    LineageSink.injectCrashMidCommit(b, dir, "bucket")
    // the half-moved files ARE visible before recovery — the wreck is real —
    // and only some of B's files moved: the injector's unclustered write
    // leaves several files per bucket, so the wreck stays half-moved
    val visible = spark.read.parquet(s"$dir/data").count()
    assert(visible > 100 && visible < 150, s"$visible rows visible before recovery")

    // next write recovers first → totals stay exact, every row exactly once
    val c = (150 until 200).map(i => (i.toLong, s"b${i % 2}")).toDF("id", "bucket")
    LineageSink.write(c, dir, "bucket")
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() === 150)
    assert(data.select("id").distinct().count() === 150)
    val m2 = LineageSink.manifest(spark, dir)
    assert(m2.agg(sum("rows")).collect()(0).getLong(0) === 150)
    assert(m2.select("job_id").distinct().count() === 2)
    // staging + pending are fully retired
    val staging = new java.io.File(s"$dir/staging")
    val pending = new java.io.File(s"$dir/pending")
    assert(!staging.exists() || staging.listFiles().isEmpty)
    assert(!pending.exists() || pending.listFiles().isEmpty)
  }

  test("cleanOrphans is explicit maintenance: foreign files removed, committed kept") {
    val dir = java.nio.file.Files.createTempDirectory("lineage4").toString
    val a = (0 until 100).map(i => (i.toLong, s"b${i % 2}")).toDF("id", "bucket")
    LineageSink.write(a, dir, "bucket")
    val bucketDir = new java.io.File(s"$dir/data/bucket=b0")
    val victim = bucketDir.listFiles().find(_.getName.endsWith(".parquet")).get
    val foreign = new java.io.File(bucketDir, "part-foreign.parquet")
    java.nio.file.Files.copy(victim.toPath, foreign.toPath)
    // default retention: a file younger than the stale horizon is NEVER an
    // orphan (it could be a live writer's in-flight move)
    assert(LineageSink.cleanOrphans(spark, dir) === 0)
    assert(foreign.exists())
    spark.conf.set("graft.lineage.staleMs", "0")
    try {
      assert(LineageSink.cleanOrphans(spark, dir) === 1)
      assert(!foreign.exists())
      assert(spark.read.parquet(s"$dir/data").count() === 100)
      // idempotent: committed files are never misidentified as orphans
      assert(LineageSink.cleanOrphans(spark, dir) === 0)
    } finally spark.conf.unset("graft.lineage.staleMs")
  }

  test("bucket values that URI-escape round-trip (manifest keys == disk paths)") {
    val dir = java.nio.file.Files.createTempDirectory("lineage5").toString
    val df = Seq((1L, "has space"), (2L, "pct%40"), (3L, "plain"))
      .toDF("id", "bucket")
    LineageSink.write(df, dir, "bucket")
    val m = LineageSink.manifest(spark, dir)
    assert(m.count() === 3)
    // file-identity keys in the manifest point at real on-disk files
    val keys = m.select(explode(col("files"))).collect().map(_.getString(0))
    keys.foreach(k => assert(new java.io.File(k).exists(), s"missing: $k"))
    // manifest bucket values are the UNESCAPED originals
    val buckets = m.select("bucket").collect().map(_.getString(0)).toSet
    assert(buckets === Set("has space", "pct%40", "plain"))
    // resume skips all three buckets; maintenance deletes nothing
    LineageSink.resumeWrite(df, dir, "bucket")
    assert(spark.read.parquet(s"$dir/data").count() === 3)
    assert(LineageSink.cleanOrphans(spark, dir) === 0)
  }

  test("null buckets commit once and resume is still a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("lineage6").toString
    val df = Seq((1L, Option("b0")), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("id", "bucket")
    LineageSink.write(df, dir, "bucket")
    assert(spark.read.parquet(s"$dir/data").count() === 3)
    // null rows landed in Hive's default partition with a manifest row
    val buckets = LineageSink.manifest(spark, dir)
      .select("bucket").collect().map(_.getString(0)).toSet
    assert(buckets === Set("b0", "__HIVE_DEFAULT_PARTITION__"))
    // resume must NOT re-commit the null bucket (null === name is never true
    // under a plain equi-join — the coalesce'd key makes it match)
    LineageSink.resumeWrite(df, dir, "bucket")
    assert(spark.read.parquet(s"$dir/data").count() === 3)
    assert(LineageSink.manifest(spark, dir)
      .agg(sum("rows")).collect()(0).getLong(0) === 3)
  }

  test("writeGrouped commits in bucket groups and resumes at group granularity") {
    val dir = java.nio.file.Files.createTempDirectory("lineage3").toString
    val full = (0 until 400).map(i => (i.toLong, s"b${i % 8}")).toDF("id", "bucket")
    val m = LineageSink.writeGrouped(full, dir, "bucket", groups = 4)
    assert(m.count() === 8)
    assert(m.select("job_id").distinct().count() >= 2) // multiple commits
    assert(spark.read.parquet(s"$dir/data").count() === 400)
    // rerun is a no-op at bucket granularity
    LineageSink.writeGrouped(full, dir, "bucket", groups = 4)
    assert(spark.read.parquet(s"$dir/data").count() === 400)
  }
}
