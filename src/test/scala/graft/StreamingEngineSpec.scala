package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimits
import org.scalatest.concurrent.Signaler
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.streaming.Streams
import graft.streaming.Streams.{SessEventTs, SessionRow}

/** Round-5: end-to-end ENGINE evidence for event-time sessionization — the
  * real flatMapGroupsWithState micro-batch query (MemoryStream →
  * processAllAvailable → memory sink), not just the TestGroupState-driven
  * transition function. Earlier rounds documented a state-store hang on
  * this host; [[StreamEngineDrive]] showed both the RocksDB and the default
  * HDFS-backed providers drain in a fresh session, so this spec runs the
  * query in the SHARED test session (where the original hang was seen)
  * under a hard failAfter — a regression of the hang fails loudly with a
  * stack instead of wedging the suite. */
class StreamingEngineSpec extends AnyFunSuite with TimeLimits {
  import SparkTestSession.spark

  private implicit val signaler: Signaler =
    org.scalatest.concurrent.ThreadSignaler

  private val Gap = 1800000L
  // strictly above the engine's initial watermark (epoch 0): a row whose
  // ts EQUALS the watermark is dropped as late by the stateful operator's
  // filter — an epoch artifact, not a session bug
  private val Base = 1600000000000L

  private val events = for {
    u <- 0L until 4L
    j <- 0 until 64
  } yield SessEventTs(u,
    new java.sql.Timestamp(Base + j * 600000L + (j / 8) * 3600000L + u * 137L),
    u * 1000 + j)

  private lazy val batchTruth: Set[SessionRow] = {
    import spark.implicits._
    val df = events.map(e => (e.user_id, e.ts.getTime, e.event_id))
      .toDF("user_id", "tsMs", "event_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tsMs"), col("event_id"))
    df.withColumn("prev", lag(col("tsMs"), 1).over(w))
      .withColumn("new_s", when(col("prev").isNull ||
        col("tsMs") - col("prev") > Gap, 1).otherwise(0))
      .withColumn("session_seq", sum("new_s").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_seq")
      .agg(min("tsMs").as("session_start_ms"), count(lit(1)).as("n_events"))
      .collect()
      .map(r => SessionRow(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  private def runEngine(queryName: String,
                        provider: Option[String]): Set[SessionRow] = {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    provider.foreach(spark.conf.set(providerKey, _))
    try {
      // deterministic disorder: ±15-min arrival jitter crossing batch
      // boundaries; watermark delay 2 h ≫ jitter so nothing is truly late
      val arrival = events.sortBy(e =>
        (e.ts.getTime + ((e.event_id * 2654435761L % 3) - 1) * 900000L, e.event_id))
      val checkpoint =
        java.nio.file.Files.createTempDirectory(s"engine-$queryName").toString
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val source = MemoryStream[SessEventTs]
      val query = Streams.sessionizeEventTime(source.toDS())
        .writeStream.queryName(queryName).outputMode("append")
        .format("memory").option("checkpointLocation", checkpoint).start()
      try {
        for (batch <- arrival.grouped(40))
          { source.addData(batch: _*); query.processAllAvailable() }
        // a far-future sentinel advances the watermark past end+gap for
        // every real user (watermarks only move with data); the second one
        // gives EventTimeTimeout a no-data batch to fire in
        val flushTs = events.map(_.ts.getTime).max + Gap + 7200000L + 3600000L
        source.addData(SessEventTs(9999L, new java.sql.Timestamp(flushTs), 999999L))
        query.processAllAvailable()
        source.addData(SessEventTs(9999L,
          new java.sql.Timestamp(flushTs + 600000L), 999998L))
        query.processAllAvailable()
        spark.table(queryName).as[SessionRow].collect()
          .filter(_.user_id != 9999L).toSet
      } finally query.stop()
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("engine (RocksDB state store): shuffled micro-batches == batch q09 sessions") {
    failAfter(Span(300, Seconds)) {
      val got = runEngine("sess_engine_rocksdb", Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      assert(got === batchTruth)
      assert(got.size === 32)
    }
  }

  test("engine (default HDFS state store): shuffled micro-batches == batch q09 sessions") {
    failAfter(Span(300, Seconds)) {
      val got = runEngine("sess_engine_hdfs", None)
      assert(got === batchTruth)
    }
  }

  test("engine: lineage sink over real micro-batches; a forced checkpoint replay lands exactly once") {
    failAfter(Span(300, Seconds)) {
      import graft.sources.LineageSink
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("engine-sink").toString
      val checkpoint =
        java.nio.file.Files.createTempDirectory("engine-sink-ckpt").toString
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val source = MemoryStream[SessEventTs]
      def start() = Streams.lineageSink(
        source.toDF().withColumn("bucket",
          pmod(col("user_id"), lit(4)).cast("string")),
        dir, "bucket", checkpoint).start()

      val q1 = start()
      try
        for (batch <- events.grouped(64))
          { source.addData(batch: _*); q1.processAllAvailable() }
      finally q1.stop()

      def state(): (Long, Map[String, Long]) = {
        val snap = LineageSink.snapshot(spark, dir)
        (snap.count(), snap.groupBy("bucket")
          .agg(sum("event_id").as("s")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
      }
      val (n1, sums1) = state()
      assert(n1 === events.size.toLong, "stream total != batch total")
      val want = events.groupBy(e => (e.user_id % 4).toString)
        .view.mapValues(_.map(_.event_id).sum).toMap
      assert(sums1 === want, "per-bucket streamed content != batch truth")

      // FORCE a replay of the last committed micro-batch: drop its commit
      // marker from the checkpoint (exactly the state a crash between
      // foreachBatch and checkpoint-commit leaves), restart from the same
      // checkpoint — the batch re-fires and the sink's idempotent jobId
      // commit (its manifest check) must swallow it
      val commits = new java.io.File(s"$checkpoint/commits")
        .listFiles().filter(_.getName.forall(_.isDigit))
      assert(commits.nonEmpty)
      val last = commits.maxBy(_.getName.toLong)
      // local ChecksumFs keeps a sibling .N.crc — a real HDFS/S3 checkpoint
      // has no such file; leaving it behind would block the re-commit with
      // FileAlreadyExists on the crc, a test-harness artifact not part of
      // the crash shape under test
      val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
      if (crc.exists()) assert(crc.delete())
      assert(last.delete())
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()

      assert(state() === ((n1, sums1)),
        "replayed micro-batch duplicated rows — exactly-once broken")
    }
  }
}
