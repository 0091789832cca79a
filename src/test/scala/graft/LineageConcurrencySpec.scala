package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LineageSink

/** Multi-writer safety (round-4): two concurrent jobs committing into ONE
  * sink directory must never sweep each other's in-flight state, never lose
  * or duplicate rows, and crashed jobs must still be rolled back once their
  * lease is dead. */
class LineageConcurrencySpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def slice(lo: Int, hi: Int, tag: String) =
    (lo until hi).map(i => (i.toLong, s"$tag${i % 3}")).toDF("id", "bucket")

  test("recover() skips a live-leased job's staging and marker") {
    val dir = java.nio.file.Files.createTempDirectory("lineage-lease").toString
    // a committed base so recover has a manifest to consult
    LineageSink.write(slice(0, 30, "base"), dir, "bucket")

    // fabricate an IN-FLIGHT job exactly as stageAndCommit lays it out:
    // the marker is named by JOB, the lease and staging dir by ATTEMPT
    val job = "inflight-job"
    val attempt = s"$job--attempt-1"
    new java.io.File(s"$dir/leases").mkdirs()
    new java.io.File(s"$dir/leases/$attempt").createNewFile()
    val stg = new java.io.File(s"$dir/staging/$attempt/bucket=x0")
    stg.mkdirs()
    java.nio.file.Files.write(stg.toPath.resolve("part-0.parquet"), Array[Byte](1))
    new java.io.File(s"$dir/pending").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/pending/$job"),
      s"#attempt=$attempt\n$dir/data/bucket=x0/part-0.parquet".getBytes("UTF-8"))

    LineageSink.recover(spark, dir) // default 10-min horizon: job is LIVE
    assert(new java.io.File(s"$dir/staging/$attempt").exists(), "live staging swept")
    assert(new java.io.File(s"$dir/pending/$job").exists(), "live marker swept")

    // horizon 0: every lease is instantly stale → the dead job is reaped,
    // including the ATTEMPT-named lease the marker points at
    spark.conf.set("graft.lineage.staleMs", "0")
    try {
      LineageSink.recover(spark, dir)
      assert(!new java.io.File(s"$dir/staging/$attempt").exists(), "dead staging kept")
      assert(!new java.io.File(s"$dir/pending/$job").exists(), "dead marker kept")
      assert(!new java.io.File(s"$dir/leases/$attempt").exists(), "dead lease kept")
    } finally spark.conf.unset("graft.lineage.staleMs")
    // the base commit was never disturbed
    assert(spark.read.parquet(s"$dir/data").count() === 30)
  }

  test("two interleaved writers with injected crashes: exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("lineage-two").toString

    // crashed jobs from "previous" runs (no lease → reaped by any recover)
    LineageSink.injectCrashMidStaging(slice(900, 930, "a"), dir, "bucket")
    LineageSink.injectCrashMidCommit(slice(950, 980, "c"), dir, "bucket")

    // writer A commits slices tagged a*, writer B tagged b* — concurrently
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(tag: String, lo: Int): Thread = new Thread(() =>
      try {
        for (k <- 0 until 3)
          LineageSink.write(slice(lo + k * 40, lo + (k + 1) * 40, tag), dir, "bucket")
      } catch { case t: Throwable => errs.add(t) })
    val a = writer("a", 0); val b = writer("b", 200)
    a.start(); b.start(); a.join(); b.join()
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")

    // the mid-commit crash's half-moved files are rolled back by recover
    LineageSink.recover(spark, dir)

    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() === 240)
    assert(data.select("id").distinct().count() === 240, "duplicate rows")
    assert(data.where(col("id") >= 900).count() === 0, "crashed rows leaked")
    assert(LineageSink.manifest(spark, dir)
      .agg(sum("rows")).collect()(0).getLong(0) === 240)
    // the exact committed view agrees with the data tree after recovery
    assert(LineageSink.snapshot(spark, dir).count() === 240)
  }

  test("concurrent duplicate-jobId committers: the pending marker is the mutex") {
    val dir = java.nio.file.Files.createTempDirectory("lineage-dup").toString
    val df = slice(0, 60, "d")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    def committer(): Thread = new Thread(() =>
      try { gate.await(); LineageSink.commitBatch(df, dir, "bucket", "batch-7") }
      catch { case t: Throwable => errs.add(t) })
    val a = committer(); val b = committer()
    a.start(); b.start(); gate.countDown(); a.join(); b.join()

    // at most one side may fail (the marker-create loser); rows land once
    assert(errs.size() <= 1, s"both committers failed: ${errs.peek()}")
    LineageSink.recover(spark, dir)
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() === 60)
    assert(data.select("id").distinct().count() === 60, "duplicate rows")
    // a replay of the same batch id is a no-op
    LineageSink.commitBatch(df, dir, "bucket", "batch-7")
    assert(spark.read.parquet(s"$dir/data").count() === 60)
  }

  test("LATE duplicate-jobId loser aborts at the marker re-check (no clobber)") {
    val dir = java.nio.file.Files.createTempDirectory("lineage-late").toString
    val df = slice(0, 60, "l")
    LineageSink.commitBatch(df, dir, "bucket", "batch-9") // winner commits fully
    val before = spark.read.parquet(s"$dir/data").count()
    // a late second attempt that slipped past the manifest pre-check (the
    // race commitBatch's check cannot close): call the commit path directly.
    // It must re-check under the marker and abort WITHOUT touching data/
    // or the winner's manifest commit file.
    LineageSink.stageAndCommit(df, dir, "bucket", "batch-9")
    assert(spark.read.parquet(s"$dir/data").count() === before)
    assert(spark.read.parquet(s"$dir/data").select("id").distinct().count() === 60)
    assert(LineageSink.manifest(spark, dir)
      .where(col("job_id") === "batch-9").count() === 3) // one row per bucket, once
    assert(!new java.io.File(s"$dir/pending/batch-9").exists(), "marker left behind")
    assert(new java.io.File(s"$dir/staging").listFiles() == null ||
      new java.io.File(s"$dir/staging").listFiles().isEmpty, "staging left behind")
  }

  test("a headerless (mid-write) marker is not reaped until stale") {
    val dir = java.nio.file.Files.createTempDirectory("lineage-midwrite").toString
    LineageSink.write(slice(0, 30, "m"), dir, "bucket")
    // an exclusive-create marker is visible EMPTY before its content lands
    new java.io.File(s"$dir/pending").mkdirs()
    val marker = new java.io.File(s"$dir/pending/some-job")
    marker.createNewFile()
    LineageSink.recover(spark, dir) // fresh + headerless → possibly mid-write
    assert(marker.exists(), "mid-write marker swept")
    spark.conf.set("graft.lineage.staleMs", "0")
    try {
      LineageSink.recover(spark, dir) // stale + headerless → dead legacy
      assert(!marker.exists(), "stale headerless marker kept")
    } finally spark.conf.unset("graft.lineage.staleMs")
  }

  test("compaction concurrent with writers loses nothing") {
    val dir = java.nio.file.Files.createTempDirectory("lineage-compact-conc").toString
    LineageSink.write(slice(0, 30, "w"), dir, "bucket")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val w = new Thread(() =>
      try {
        for (k <- 1 until 5)
          LineageSink.write(slice(k * 30, (k + 1) * 30, "w"), dir, "bucket")
      } catch { case t: Throwable => errs.add(t) })
    val c = new Thread(() =>
      try { for (_ <- 0 until 3) LineageSink.compactManifest(spark, dir) }
      catch { case t: Throwable => errs.add(t) })
    w.start(); c.start(); w.join(); c.join()
    assert(errs.isEmpty, s"concurrent failure: ${errs.peek()}")
    assert(spark.read.parquet(s"$dir/data").count() === 150)
    assert(LineageSink.manifest(spark, dir)
      .agg(sum("rows")).collect()(0).getLong(0) === 150)
    // convergence after the dust settles (horizon 0 retire)
    spark.conf.set("graft.lineage.staleMs", "0")
    try {
      LineageSink.compactManifest(spark, dir)
      LineageSink.compactManifest(spark, dir)
      assert(LineageSink.manifest(spark, dir)
        .agg(sum("rows")).collect()(0).getLong(0) === 150)
    } finally spark.conf.unset("graft.lineage.staleMs")
  }
}
