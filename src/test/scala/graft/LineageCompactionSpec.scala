package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LineageSink

/** Manifest log compaction (round-4 lock-free scheme): the commit log
  * collapses into uniquely-named snapshot dirs; reads are the dedup'd union
  * of flat commit files + complete snapshots, so every crash / concurrency
  * window leaves only harmless duplicates; covered items are retired only
  * once their covering snapshot has been complete for the stale horizon. */
class LineageCompactionSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def flatCommitFiles(d: String): Seq[java.io.File] = {
    val f = new java.io.File(s"$d/manifest")
    if (!f.exists()) Nil
    else f.listFiles().toSeq.filter(x => x.isFile && x.getName.endsWith(".parquet"))
  }

  private def snapshotDirs(d: String): Seq[java.io.File] = {
    val f = new java.io.File(s"$d/manifest")
    if (!f.exists()) Nil
    else f.listFiles().toSeq.filter(x => x.isDirectory && x.getName.startsWith("v-"))
  }

  test("compaction: one snapshot; commits and resume keep composing") {
    // horizon 0: covered items are retireable immediately (sequential test)
    spark.conf.set("graft.lineage.staleMs", "0")
    try {
      val dir = java.nio.file.Files.createTempDirectory("lineage-compact").toString
      def slice(k: Int) =
        (k * 50 until (k + 1) * 50).map(i => (i.toLong, s"b${i / 10}"))
          .toDF("id", "bucket")
      for (k <- 0 until 5) LineageSink.write(slice(k), dir, "bucket")
      assert(flatCommitFiles(dir).size === 5) // flat log grew

      val before = LineageSink.manifest(spark, dir)
        .agg(sum("rows"), count(lit(1))).collect()(0)
      LineageSink.compactManifest(spark, dir)
      assert(snapshotDirs(dir).size === 1)
      val after = LineageSink.manifest(spark, dir)
        .agg(sum("rows"), count(lit(1))).collect()(0)
      assert(after === before)
      // the covering snapshot is brand new — the SECOND compaction retires
      // what it covers (horizon 0 ⇒ immediately eligible)
      LineageSink.compactManifest(spark, dir)
      assert(flatCommitFiles(dir).isEmpty, "covered flat files retired")

      // new commits land flat next to the snapshot; resume still skips
      LineageSink.write(slice(5), dir, "bucket")
      assert(flatCommitFiles(dir).size === 1)
      LineageSink.resumeWrite(slice(5), dir, "bucket") // no-op
      assert(spark.read.parquet(s"$dir/data").count() === 300)
      assert(LineageSink.manifest(spark, dir)
        .agg(sum("rows")).collect()(0).getLong(0) === 300)
      assert(LineageSink.snapshot(spark, dir).count() === 300)

      // compactions converge back to a single snapshot + nothing flat
      LineageSink.compactManifest(spark, dir)
      LineageSink.compactManifest(spark, dir)
      assert(flatCommitFiles(dir).isEmpty)
      assert(snapshotDirs(dir).size === 1)
      assert(LineageSink.manifest(spark, dir)
        .agg(sum("rows")).collect()(0).getLong(0) === 300)
    } finally spark.conf.unset("graft.lineage.staleMs")
  }

  test("overlapping snapshots and commit files never double-count (dedup)") {
    spark.conf.set("graft.lineage.staleMs", "0")
    try {
      val dir = java.nio.file.Files.createTempDirectory("lineage-compact2").toString
      val df = (0 until 100).map(i => (i.toLong, s"b${i % 4}")).toDF("id", "bucket")
      LineageSink.write(df, dir, "bucket")
      LineageSink.compactManifest(spark, dir)

      // fabricate the crash/concurrency window: a SECOND complete snapshot
      // duplicating the first, while the flat commit file also still exists
      val v1 = snapshotDirs(dir).head
      val v2 = new java.io.File(s"$dir/manifest/v-deadbeef-cafe")
      v2.mkdirs()
      v1.listFiles().foreach { f =>
        java.nio.file.Files.copy(f.toPath, v2.toPath.resolve(f.getName))
      }
      assert(snapshotDirs(dir).size === 2)

      assert(LineageSink.manifest(spark, dir)
        .agg(sum("rows")).collect()(0).getLong(0) === 100)
      // resume over the duplicated view stays a no-op
      LineageSink.resumeWrite(df, dir, "bucket")
      assert(spark.read.parquet(s"$dir/data").count() === 100)
      // compaction folds the duplicates away (second call retires covered)
      LineageSink.compactManifest(spark, dir)
      LineageSink.compactManifest(spark, dir)
      assert(snapshotDirs(dir).size === 1)
      assert(LineageSink.manifest(spark, dir)
        .agg(sum("rows")).collect()(0).getLong(0) === 100)
    } finally spark.conf.unset("graft.lineage.staleMs")
  }

  test("default horizon: fresh snapshot does NOT retire covered items yet") {
    val dir = java.nio.file.Files.createTempDirectory("lineage-compact3").toString
    val df = (0 until 40).map(i => (i.toLong, s"b${i % 2}")).toDF("id", "bucket")
    LineageSink.write(df, dir, "bucket")
    LineageSink.compactManifest(spark, dir)
    LineageSink.compactManifest(spark, dir)
    // covering snapshots are seconds old < 10-min horizon → nothing retired,
    // and the duplicated view still reads exactly once
    assert(flatCommitFiles(dir).nonEmpty)
    assert(LineageSink.manifest(spark, dir)
      .agg(sum("rows")).collect()(0).getLong(0) === 40)
  }

  test("a key shared by a snapshot and a commit it covers lands once in the next snapshot") {
    // default horizon: the first snapshot retires nothing, so the second
    // compaction reads it next to the commit files it covers
    val dir = java.nio.file.Files.createTempDirectory("lineage-compact-shared").toString
    def slice(k: Int) =
      (k * 30 until (k + 1) * 30).map(i => (i.toLong, s"b${i % 3}")).toDF("id", "bucket")
    LineageSink.write(slice(0), dir, "bucket")
    LineageSink.write(slice(1), dir, "bucket")
    LineageSink.compactManifest(spark, dir)
    LineageSink.write(slice(2), dir, "bucket")
    val first = snapshotDirs(dir).toSet
    assert(first.size === 1 && flatCommitFiles(dir).size === 3)
    LineageSink.compactManifest(spark, dir)

    val snap = (snapshotDirs(dir).toSet -- first).toSeq
    assert(snap.size === 1)
    val keys = spark.read.parquet(snap.head.getPath).select("job_id", "bucket")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(keys.size === 9 && keys.distinct.size === 9, s"snapshot keys: $keys")
    assert(LineageSink.manifest(spark, dir).agg(sum("rows")).collect()(0).getLong(0) === 90L)
  }
}
