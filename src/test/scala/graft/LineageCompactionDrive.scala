package graft

import org.apache.spark.sql.functions._

import graft.sources.LineageSink

/** Round-6 rehearsal for VERDICT next-round #1's measured failure shape:
  * snapshot() over THOUSANDS of small files is listing/planning-bound
  * (round-5 LineageScaleDrive: 15.9 s for 8k rows across 4.7k files).
  * Build that state directly — one commit capped at two rows per file
  * lands `tasks` files per bucket (the staged write clusters each bucket
  * into one writer task, so only the file cap can fan a commit out) — then
  * measure snapshot plan+read before and after [[LineageSink.compactData]].
  *
  * The IVF-append rehearsal (IvfAppendDrive) measures the same maintenance
  * against a data-heavy index; THIS drive isolates the listing term the
  * compaction exists to kill (tiny rows, so file count is the only
  * variable that moves).
  *
  * Usage: `sbt "Test/runMain graft.LineageCompactionDrive [tasks] [buckets]"`
  * (defaults 1100, 4 → ~4,400 files). Prints one JSON line for BASELINE.md.
  */
object LineageCompactionDrive {
  def main(args: Array[String]): Unit = {
    val tasks = args.headOption.map(_.toInt).getOrElse(1100)
    val buckets = args.drop(1).headOption.map(_.toInt).getOrElse(4)

    val spark = GraftSession.local(8, "graft-lineage-compaction")
    spark.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("compact-drive").toString
    val rows = tasks.toLong * buckets * 2
    val df = spark.range(0, rows)
      .select(col("id"), pmod(col("id"), lit(buckets)).cast("string").as("bucket"))
    // 2 × tasks rows per bucket at 2 rows per file → tasks × buckets files
    LineageSink.stageAndCommit(df, dir, "bucket", maxRecordsPerFile = 2L)

    def probe(): (Int, Long, Long, Long) = {
      // fresh plans each call: plan (driver file-listing term) vs read
      val (files, planS) = Drive.timed("plan")(
        LineageSink.snapshot(spark, dir).inputFiles.length)
      val (n, readS) = Drive.timed("read")(LineageSink.snapshot(spark, dir).count())
      (files, Drive.ms(planS), Drive.ms(readS), n)
    }

    val (files0, plan0, read0, n0) = probe()
    require(n0 == rows, s"row count $n0 != $rows before compaction")

    val (compacted, compactS) = Drive.timed("compact")(
      LineageSink.compactData(spark, dir))
    val (files1, plan1, read1, n1) = probe()
    require(n1 == rows, s"row count $n1 != $rows after compaction")
    require(compacted == buckets, s"compacted $compacted != $buckets buckets")

    spark.conf.set("graft.lineage.staleMs", "0")
    val deleted = LineageSink.expireSuperseded(spark, dir, olderThanMs = 0L)
    spark.conf.unset("graft.lineage.staleMs")
    val (files2, plan2, read2, n2) = probe()
    require(n2 == rows, s"row count $n2 != $rows after expiry")

    Drive.report("lineage-compaction", "tasks" -> tasks,
      "buckets" -> buckets, "rows" -> rows,
      "files_before" -> files0, "plan_before_ms" -> plan0, "read_before_ms" -> read0,
      "compacted_buckets" -> compacted, "compact_ms" -> Drive.ms(compactS),
      "files_after" -> files1, "plan_after_ms" -> plan1, "read_after_ms" -> read1,
      "expired_files" -> deleted,
      "files_post_expiry" -> files2, "plan_post_expiry_ms" -> plan2,
      "read_post_expiry_ms" -> read2)
    spark.stop()
  }
}
