package graft

import org.apache.spark.sql.functions._

import graft.sources.LineageSink
import graft.streaming.Streams

/** Round-6 engine-level drive for the streaming lineage sink at testdata
  * scale (VERDICT #7's rehearsal shape): the sf0.1 events table flows
  * through the REAL micro-batch engine (file source, one file per
  * trigger → real batch boundaries) into [[Streams.lineageSink]], then the
  * last checkpoint commit marker is deleted and a restarted query replays
  * the final batch — the sink's idempotent jobId commit must land it
  * exactly once.
  *
  * Checks: streamed snapshot == the batch read (row count, distinct ids,
  * per-bucket event_id sums), duplicate-free after the forced replay.
  *
  * Usage: `sbt "Test/runMain graft.StreamSinkDrive [files] [sfDir]"`
  * (defaults 16, /root/testdata/sf0.1). Prints one JSON line.
  */
object StreamSinkDrive {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(16)
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")

    val spark = GraftSession.local(8, "graft-stream-sink-drive")
    spark.sparkContext.setLogLevel("ERROR")

    // lay the source out as nFiles files → nFiles real micro-batches
    val srcDir = java.nio.file.Files.createTempDirectory("stream-src").toString
    spark.read.parquet(s"$sfDir/events.parquet")
      .repartition(nFiles).write.mode("overwrite").parquet(srcDir)
    val sinkDir = java.nio.file.Files.createTempDirectory("stream-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-ckpt").toString

    def start() = Streams.lineageSink(
      spark.readStream.schema(Streams.eventsSchema)
        .option("maxFilesPerTrigger", "1") // source option: 1 file = 1 batch
        .parquet(srcDir)
        .withColumn("bucket", pmod(col("user_id"), lit(8)).cast("string")),
      sinkDir, "bucket", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

    val (_, streamS) = Drive.timed("stream")(start().awaitTermination())

    val batches = new java.io.File(s"$ckpt/commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).map(_.getName.toLong).sorted
    require(batches.length >= nFiles / 2,
      s"expected many micro-batches, engine ran ${batches.length}")

    def state(): (Long, Long, Map[String, Long]) = {
      val snap = LineageSink.snapshot(spark, sinkDir)
      (snap.count(), snap.select("event_id").distinct().count(),
        snap.groupBy("bucket").agg(sum("event_id").as("s"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    val truthDf = spark.read.parquet(s"$sfDir/events.parquet")
    val truthN = truthDf.count()
    val truthSums = truthDf
      .groupBy(pmod(col("user_id"), lit(8)).cast("string").as("bucket"))
      .agg(sum("event_id").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (n1, d1, sums1) = state()
    require(n1 == truthN && d1 == truthN,
      s"streamed snapshot $n1 rows / $d1 distinct != batch $truthN")
    require(sums1 == truthSums, "per-bucket streamed sums != batch truth")

    // forced replay: drop the last commit marker (and its local-FS crc
    // sibling), restart from the same checkpoint
    val last = new java.io.File(s"$ckpt/commits/${batches.max}")
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    if (crc.exists()) require(crc.delete())
    require(last.delete())
    val (_, replayS) = Drive.timed("replay")(start().awaitTermination())
    val (n2, d2, sums2) = state()
    require(n2 == truthN && d2 == truthN && sums2 == truthSums,
      s"replayed batch duplicated or lost rows: $n2 rows / $d2 distinct")

    Drive.report("stream-sink", "rows" -> truthN, "batches" -> batches.length,
      "stream_ms" -> Drive.ms(streamS), "replay_ms" -> Drive.ms(replayS),
      "exactly_once" -> true)
    spark.stop()
  }
}
