package graft

import org.apache.spark.sql.SparkSession

import graft.sources.LineageSink

/** Round-5 manifest-scale rehearsal: drive ONE sink through thousands of
  * commits with periodic compaction + orphan cleaning, and measure that
  * (a) per-commit latency stays FLAT in stream age (the commitBatch path:
  * recover + manifest idempotence check + staged two-phase commit),
  * (b) manifest read cost stays bounded (compaction keeps the listing at
  * `compactEvery` flats + snapshots, never O(all commits)),
  * (c) recover stays O(markers) — timed against injected crashed commits,
  * (d) the committed table reads back exactly.
  *
  * Usage: `sbt "Test/runMain graft.LineageScaleDrive 2000 200"`
  * (commits, compactEvery). Prints one JSON line for BASELINE.md.
  */
object LineageScaleDrive {

  private def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000

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

    // window latency stats: flat-in-age is the claim under test
    val windows = 10
    val perWindow = math.max(1, commits / windows)
    val windowMs = Array.fill(windows)(0L)
    val manifestProbes = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val compactMs = scala.collection.mutable.ArrayBuffer.empty[Long]

    val t0 = System.nanoTime()
    var c = 0
    while (c < commits) {
      val tC = System.nanoTime()
      LineageSink.commitBatch(slice(c), dir, "bucket", f"job-$c%06d")
      windowMs(math.min(windows - 1, c / perWindow)) += ms(tC)
      c += 1
      if (c % compactEvery == 0) {
        val tK = System.nanoTime()
        LineageSink.compactManifest(spark, dir)
        compactMs += ms(tK)
        val tM = System.nanoTime()
        val n = LineageSink.manifest(spark, dir).count()
        manifestProbes += ((c, ms(tM)))
        require(n == 2L * c, s"manifest rows $n != ${2L * c} at commit $c")
      }
    }
    val totalCommitMs = ms(t0)

    // crash debris: recover must stay O(markers), independent of history
    for (k <- 0 until 8)
      LineageSink.injectCrashMidCommit(slice(100000 + k), dir, "bucket")
    spark.conf.set("graft.lineage.staleMs", "0")
    val tR = System.nanoTime()
    LineageSink.recover(spark, dir)
    val recoverMs = ms(tR)
    spark.conf.unset("graft.lineage.staleMs")

    val tO = System.nanoTime()
    val orphans = LineageSink.cleanOrphans(spark, dir)
    val orphanMs = ms(tO)

    val tS = System.nanoTime()
    val snapRows = LineageSink.snapshot(spark, dir).count()
    val snapshotMs = ms(tS)
    require(snapRows == commits.toLong * rowsPerCommit,
      s"snapshot rows $snapRows != ${commits.toLong * rowsPerCommit}")

    // a replayed (already-committed) id must be a no-op (manifest check)
    val tDup = System.nanoTime()
    LineageSink.commitBatch(slice(1), dir, "bucket", "job-000001")
    val replayMs = ms(tDup)

    val firstW = windowMs.take(2).sum / (2.0 * perWindow)
    val lastW = windowMs.takeRight(2).sum / (2.0 * perWindow)
    println(s"""{"drive":"lineage-scale","commits":$commits,""" +
      s""""compact_every":$compactEvery,"total_s":${totalCommitMs / 1000.0},""" +
      s""""per_commit_ms_first":${f"$firstW%.1f"},"per_commit_ms_last":${f"$lastW%.1f"},""" +
      s""""window_ms":[${windowMs.mkString(",")}],""" +
      s""""compact_ms":[${compactMs.mkString(",")}],""" +
      s""""manifest_count_ms":[${manifestProbes.map(_._2).mkString(",")}],""" +
      s""""recover8_ms":$recoverMs,"clean_orphans_ms":$orphanMs,"orphans":$orphans,""" +
      s""""snapshot_ms":$snapshotMs,"snapshot_rows":$snapRows,"replay_ms":$replayMs}""")
    spark.stop()
  }
}
