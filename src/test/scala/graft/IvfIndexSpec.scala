package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.LineageSink

/** Round-5 persisted IVF index: the corpus written through the lineage sink
  * BUCKETED BY quantizer cell, so the partition layout IS the index — a
  * search probes `nprobe` cells and the manifest prunes the scan to those
  * buckets' files. This is the piece that turns ivfTopK from "assign every
  * search" into "assign once, prune forever": at 100 TB a search reads
  * nprobe/nlist of the corpus and never lists the rest. */
class IvfIndexSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val Dim = 16

  private def vec(id: Long, salt: Long): Array[Float] =
    Array.tabulate(Dim) { i =>
      var x = id * 0x9E3779B97F4A7C15L + salt * 0xC2B2AE3D27D4EB4FL +
        i.toLong * 0x165667B19E3779F9L
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
      x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
      x ^= x >>> 33
      (x.toDouble / Long.MaxValue.toDouble).toFloat
    }

  private def clusterVec(id: Long): Array[Float] = {
    val base = vec(id % 8, 99L)
    val jit = vec(id, 3L)
    Array.tabulate(Dim)(i => base(i) + 0.05f * jit(i))
  }

  lazy val corpus = (0L until 600L).map(i => (i, clusterVec(i)))
    .toDF("vec_id", "embedding").cache()
  lazy val queries = (0L until 16L).map(i => (1000L + i, clusterVec(i)))
    .toDF("vec_id", "embedding").cache()
  lazy val model = Similarity.trainIvf(corpus, nlist = 8, iters = 5)

  private def freshDir(): String =
    Files.createTempDirectory("ivf_index").toString

  private def key(df: org.apache.spark.sql.DataFrame) = df
    .select(col("query_id"), col("neighbor_id"),
      round(col("cosine"), 9).as("c"), col("rank"))
    .collect().map(_.toSeq).sortBy(_.toString).toSeq

  test("search over the persisted index equals ivfTopKWith on the raw corpus") {
    val dir = freshDir()
    Similarity.writeIvfIndex(corpus, dir, model, groups = 2)
    for (np <- Seq(1, 2, 8)) {
      val fromIndex = key(Similarity.searchIvfIndex(queries, dir, 5, nprobe = np))
      val direct = key(Similarity.ivfTopKWith(model, corpus, queries, 5, nprobe = np))
      assert(fromIndex === direct, s"index search diverged at nprobe=$np")
    }
    // nprobe = nlist over the index is EXACT
    assert(key(Similarity.searchIvfIndex(queries, dir, 5, nprobe = 8)) ===
      key(Similarity.bruteForceTopK(corpus, queries, 5)))
  }

  test("maxQueryBatch bound is loud, and under it results are unchanged") {
    val dir = freshDir()
    Similarity.writeIvfIndex(corpus, dir, model, groups = 1)
    // the probe side is queries × nprobe rows: 16 × 2 = 32 > 31 must abort
    // loudly BEFORE an unbounded driver materialization
    val e = intercept[IllegalArgumentException](
      Similarity.searchIvfIndex(queries, dir, 5, nprobe = 2,
        maxQueryBatch = 31).collect())
    assert(e.getMessage.contains("maxQueryBatch"))
    // exactly at the bound the search is unchanged
    assert(key(Similarity.searchIvfIndex(queries, dir, 5, nprobe = 2,
      maxQueryBatch = 32)) ===
      key(Similarity.searchIvfIndex(queries, dir, 5, nprobe = 2)))
  }

  test("manifest pruning: a search plans only the probed buckets' files") {
    val dir = freshDir()
    Similarity.writeIvfIndex(corpus, dir, model, groups = 1)
    val allFiles = LineageSink.snapshot(spark, dir).inputFiles.toSet
    val pruned = LineageSink.snapshotWhere(spark, dir,
      col("bucket").isin("0", "1")).inputFiles.toSet
    assert(pruned.subsetOf(allFiles) && pruned.nonEmpty)
    assert(pruned.size < allFiles.size,
      s"pruned read planned every file (${allFiles.size})")
    // the recovered partition column matches the pruned buckets exactly
    val cells = LineageSink.snapshotWhere(spark, dir,
      col("bucket").isin("0", "1"))
      .select(Similarity.IvfCellCol).distinct()
      .collect().map(_.get(0).toString).toSet
    assert(cells.subsetOf(Set("0", "1")))
    // layout is clustered: at most one file per (cell, group)
    val m = LineageSink.manifest(spark, dir)
    val maxFiles = m.select(size(col("files")).as("n"))
      .agg(max(col("n"))).collect()(0).getInt(0)
    assert(maxFiles <= 1, s"a bucket committed $maxFiles files in one group")
  }

  test("resume: a second writeIvfIndex with the same model is exactly-once; a different model refuses") {
    val dir = freshDir()
    Similarity.writeIvfIndex(corpus, dir, model, groups = 2)
    val n1 = LineageSink.snapshot(spark, dir).count()
    Similarity.writeIvfIndex(corpus, dir, model, groups = 2) // resume no-op
    assert(LineageSink.snapshot(spark, dir).count() === n1)
    assert(n1 === 600L)
    val other = Similarity.trainIvf(corpus, nlist = 4, iters = 3)
    val e = intercept[IllegalArgumentException](
      Similarity.writeIvfIndex(corpus, dir, other))
    assert(e.getMessage.contains("DIFFERENT quantizer"))
  }

  test("point-in-time search: asOfSeq reproduces the pre-append answer exactly") {
    val dir = freshDir()
    val first = corpus.where(col("vec_id") < 400L)
    val second = corpus.where(col("vec_id") >= 400L)
    Similarity.writeIvfIndex(first, dir, model, groups = 2)
    val buildSeq = LineageSink.latestSeq(spark, dir).get
    val preAppend = key(Similarity.searchIvfIndex(queries, dir, 5, nprobe = 8))
    Similarity.appendIvfIndex(second, dir)

    // current search sees the union; the boundary search is EXACTLY the
    // answer this index gave before the append (quantizer frozen, so cell
    // assignment is identical at every boundary)
    assert(key(Similarity.searchIvfIndex(queries, dir, 5, nprobe = 8)) ===
      key(Similarity.bruteForceTopK(corpus, queries, 5)))
    val asOf = key(Similarity.searchIvfIndex(queries, dir, 5, nprobe = 8,
      asOfSeq = Some(buildSeq)))
    assert(asOf === preAppend)
    assert(asOf === key(Similarity.bruteForceTopK(first, queries, 5)))
    // the boundary at the latest seq is the current answer
    val top = LineageSink.latestSeq(spark, dir).get
    assert(key(Similarity.searchIvfIndex(queries, dir, 5, nprobe = 8,
      asOfSeq = Some(top))) ===
      key(Similarity.searchIvfIndex(queries, dir, 5, nprobe = 8)))
    // pruning composes with the boundary: a historical pruned search plans
    // a strict subset of the historical snapshot's files
    val histAll = LineageSink.snapshotAsOfSeq(spark, dir, buildSeq)
      .inputFiles.toSet
    val histPruned = Similarity.searchIvfIndex(queries.limit(1), dir, 5,
      nprobe = 2, asOfSeq = Some(buildSeq)).inputFiles.toSet
    assert(histPruned.nonEmpty && histPruned.subsetOf(histAll))
    assert(histPruned.size < histAll.size)
  }

  test("appendIvfIndex grows the index; search stays exact over the union") {
    val dir = freshDir()
    val first = corpus.where(col("vec_id") < 400L)
    val second = corpus.where(col("vec_id") >= 400L)
    Similarity.writeIvfIndex(first, dir, model, groups = 2)
    Similarity.appendIvfIndex(second, dir)
    assert(LineageSink.snapshot(spark, dir).count() === 600L)
    // exact over the UNION at nprobe = nlist — nothing appended was lost
    assert(key(Similarity.searchIvfIndex(queries, dir, 5, nprobe = 8)) ===
      key(Similarity.bruteForceTopK(corpus, queries, 5)))
    // appends compose: a second append batch lands too
    Similarity.appendIvfIndex(
      second.select((col("vec_id") + 10000L).as("vec_id"), col("embedding")), dir)
    assert(LineageSink.snapshot(spark, dir).count() === 800L)

    // the trap appendIvfIndex exists to avoid, pinned as documented
    // behavior: the grouped BUILD write's resume unit is the cell, so
    // re-BUILDING over new data drops every row landing in an
    // already-committed cell (here: all of them — build-once semantics)
    val dir2 = freshDir()
    Similarity.writeIvfIndex(first, dir2, model, groups = 2)
    Similarity.writeIvfIndex(second, dir2, model, groups = 2)
    assert(LineageSink.snapshot(spark, dir2).count() === 400L,
      "grouped build write must keep per-cell exactly-once (resume) semantics")
  }

  test("an as-of search before the first commit has the schema of a non-empty search") {
    val dir = freshDir()
    val intIds = corpus.select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    val intQueries = queries.select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    Similarity.writeIvfIndex(intIds, dir, model, groups = 1)
    val empty = Similarity.searchIvfIndex(intQueries, dir, 5, asOfSeq = Some(0))
    val full = Similarity.searchIvfIndex(intQueries, dir, 5)
    assert(empty.collect().isEmpty && full.collect().nonEmpty)
    def fields(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(fields(empty) === fields(full))
  }

  test("model round-trips exactly through the persisted file") {
    val dir = freshDir()
    Similarity.writeIvfIndex(corpus.limit(50), dir, model, groups = 1)
    val back = Similarity.readIvfModel(spark, dir)
    assert(back.nlist === model.nlist && back.dim === model.dim)
    assert(back.centroids.toSeq === model.centroids.toSeq)
  }

  test("null embeddings land in the null bucket and searches never probe it") {
    val dir = freshDir()
    val withNulls = corpus.unionAll(
      Seq((9001L, null.asInstanceOf[Array[Float]]), (9002L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"))
    Similarity.writeIvfIndex(withNulls, dir, model, groups = 1)
    assert(LineageSink.snapshot(spark, dir).count() === 602L)
    val res = Similarity.searchIvfIndex(queries, dir, 5, nprobe = 8)
    assert(!res.select("neighbor_id").collect().exists(r => r.getLong(0) >= 9000L))
    // exactness still holds with the null rows present
    assert(key(res) === key(Similarity.bruteForceTopK(corpus, queries, 5)))
  }
}
