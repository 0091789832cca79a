package graft

import org.apache.spark.sql.SparkSession

import graft.sources.LineageSink

/** Manifest-scale drive: ONE sink through thousands of commits with a
  * `compactManifest` every `compactEvery` commits. It records
  * (a) the commitBatch latency (recover + manifest idempotence check +
  * staged two-phase commit) summed per tenth of the run, `window_ms`;
  * (b) the time of each `compactManifest` and of the manifest count after
  * it (the count must equal the rows committed so far);
  * (c) `recover` against 8 injected crashed commits, and `cleanOrphans`;
  * (d) that the committed table reads back exactly, and that a replayed
  * job id is a no-op.
  *
  * Commit latency is not flat in the sink's age today: every commit reads
  * each manifest file not yet retired, and a compacted `commit-*` file is
  * retired only 10 minutes after the snapshot that covers it, so
  * compaction does not bound those reads within that window. ROADMAP
  * direction 1 is the change that would make `window_ms` flat; this drive
  * is its measurement.
  *
  * Usage: `sbt "Test/runMain graft.LineageScaleDrive 2000 200"`
  * (commits, compactEvery). Prints one JSON line.
  */
object LineageScaleDrive {

  def main(args: Array[String]): Unit = {
    val commits: Int = args.headOption.map(_.toInt).getOrElse(2000)
    val compactEvery: Int = args.drop(1).headOption.map(_.toInt).getOrElse(200)

    val spark: SparkSession = SparkSession.builder()
      .master("local[8]")
      .appName("graft-lineage-scale")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("lineage-scale").toString
    val rowsPerCommit = 4

    def slice(c: Int) = (0 until rowsPerCommit)
      .map(i => (c.toLong * rowsPerCommit + i, s"b${i % 2}"))
      .toDF("id", "bucket")

    // commit latency summed per tenth of the run
    val windows = 10
    val perWindow = math.max(1, commits / windows)
    val windowMs = Array.fill(windows)(0L)
    val manifestCountMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val compactMs = scala.collection.mutable.ArrayBuffer.empty[Long]

    val (_, totalCommitS) = Drive.timed("commits") {
      var c = 0
      while (c < commits) {
        val (_, commitS) = Drive.timed("commit")(
          LineageSink.commitBatch(slice(c), dir, "bucket", f"job-$c%06d"))
        windowMs(math.min(windows - 1, c / perWindow)) += Drive.ms(commitS)
        c += 1
        if (c % compactEvery == 0) {
          compactMs += Drive.ms(Drive.timed("compact")(
            LineageSink.compactManifest(spark, dir))._2)
          val (n, countS) = Drive.timed("manifest")(
            LineageSink.manifest(spark, dir).count())
          manifestCountMs += Drive.ms(countS)
          require(n == 2L * c, s"manifest rows $n != ${2L * c} at commit $c")
        }
      }
    }

    // crash debris: recover must stay O(markers), independent of history
    for (k <- 0 until 8)
      LineageSink.injectCrashMidCommit(slice(100000 + k), dir, "bucket")
    spark.conf.set("graft.lineage.staleMs", "0")
    val (_, recoverS) = Drive.timed("recover")(LineageSink.recover(spark, dir))
    spark.conf.unset("graft.lineage.staleMs")

    val (orphans, orphanS) = Drive.timed("cleanOrphans")(
      LineageSink.cleanOrphans(spark, dir))

    val (snapRows, snapshotS) = Drive.timed("snapshot")(
      LineageSink.snapshot(spark, dir).count())
    require(snapRows == commits.toLong * rowsPerCommit,
      s"snapshot rows $snapRows != ${commits.toLong * rowsPerCommit}")

    // a replayed (already-committed) id must be a no-op (manifest check)
    val (_, replayS) = Drive.timed("replay")(
      LineageSink.commitBatch(slice(1), dir, "bucket", "job-000001"))

    val firstW = windowMs.take(2).sum / (2.0 * perWindow)
    val lastW = windowMs.takeRight(2).sum / (2.0 * perWindow)
    Drive.report("lineage-scale", "commits" -> commits,
      "compact_every" -> compactEvery, "total_s" -> Drive.ms(totalCommitS) / 1000.0,
      "per_commit_ms_first" -> math.rint(firstW * 10) / 10,
      "per_commit_ms_last" -> math.rint(lastW * 10) / 10,
      "window_ms" -> windowMs, "compact_ms" -> compactMs,
      "manifest_count_ms" -> manifestCountMs,
      "recover8_ms" -> Drive.ms(recoverS), "clean_orphans_ms" -> Drive.ms(orphanS),
      "orphans" -> orphans, "snapshot_ms" -> Drive.ms(snapshotS),
      "snapshot_rows" -> snapRows, "replay_ms" -> Drive.ms(replayS))
    spark.stop()
  }
}
