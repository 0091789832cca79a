package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LineageSink, ParquetFiles}
import graft.sources.LineageSink.Lease

/** Round-5 lease lifecycle: a live commit heartbeats its lease so no single
  * long step can make it look dead to a concurrent recover(), and ownership
  * is re-verified at the phase boundaries so a genuinely reaped attempt
  * aborts loudly instead of registering manifest rows for deleted files. */
class LineageLeaseSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("heartbeat keeps a lease live across many horizons; stopping lets it expire") {
    val dir = java.nio.file.Files.createTempDirectory("lease-hb").toString
    val f = fs(dir)
    val attempt = "job--hb-attempt"
    // 8 s horizon / 2 s beat: ~6 s of slack for this host's documented
    // multi-second CPU-steal stalls (a 3 s horizon flaked on paper)
    val horizon = 8000L
    val lease = Lease.acquire(f, dir, attempt, "commit", horizon)
    val hb = lease.heartbeat(horizon)
    try {
      Thread.sleep(horizon + 1500)
      assert(Lease.live(f, dir, attempt, horizon),
        "heartbeat failed to keep the lease fresh past the horizon")
    } finally { hb.interrupt(); hb.join(2000) }
    Thread.sleep(horizon + 500)
    assert(!Lease.live(f, dir, attempt, horizon),
      "lease stayed live after the heartbeat stopped")
  }

  test("verifyOwned aborts when the lease or the pending marker was reaped") {
    val dir = java.nio.file.Files.createTempDirectory("lease-own").toString
    val f = fs(dir)
    val attempt = "job--own-attempt"
    val marker = new Path(s"$dir/pending/job")
    f.mkdirs(marker.getParent)
    f.create(marker, false).close()
    val lease = Lease.acquire(f, dir, attempt, "commit", 600000L)
    // both present: no abort
    LineageSink.verifyOwned(f, lease, marker)
    // lease reaped
    f.delete(new Path(s"$dir/leases/$attempt"), false)
    val e1 = intercept[IllegalStateException] {
      LineageSink.verifyOwned(f, lease, marker)
    }
    assert(e1.getMessage.contains("ownership lost"))
    // marker reaped (lease back)
    val lease2 = Lease.acquire(f, dir, attempt, "commit", 600000L)
    f.delete(marker, false)
    intercept[IllegalStateException] {
      LineageSink.verifyOwned(f, lease2, marker)
    }
  }

  test("a completed commit leaves no heartbeat thread behind") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lease-clean").toString
    val df = (0 until 40).map(i => (i.toLong, s"b${i % 3}")).toDF("id", "bucket")
    LineageSink.write(df, dir, "bucket")
    val live = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith("graft-lease-heartbeat-"))
    assert(live.isEmpty, s"leaked heartbeat threads: ${live.map(_.getName).toSeq}")
    // and the committed table reads back whole
    assert(LineageSink.snapshot(spark, dir).count() === 40)
  }

  test("recover reaps a dead attempt's manifest temp, file or dir, and keeps a live one's") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lease-mtmp").toString
    LineageSink.write((0 until 20).map(i => (i.toLong, s"b${i % 2}")).toDF("id", "bucket"),
      dir, "bucket")
    val f = fs(dir)
    val row = org.apache.spark.sql.Row("b9", 1L, Seq("/x"), "job", new java.sql.Timestamp(0L),
      9L, null)
    def mtmp(attempt: String) = new Path(s"$dir/manifest/.mtmp-$attempt")
    // a driver-written temp file whose attempt's lease went stale
    val staleFile = "job-a--stale"
    ParquetFiles.write(spark, mtmp(staleFile), LineageSink.manifestSchema, Seq(row))
    f.create(new Path(s"$dir/leases/$staleFile"), false).close()
    f.setTimes(new Path(s"$dir/leases/$staleFile"), System.currentTimeMillis() - 3600000L, -1)
    // a Spark-written temp dir from a crash of an older version, no lease
    val deadDir = "job-b--dead"
    spark.createDataFrame(java.util.List.of(row), LineageSink.manifestSchema)
      .write.parquet(mtmp(deadDir).toString)
    // a live attempt's temp file
    val live = "job-c--live"
    val lease = Lease.acquire(f, dir, live, "commit", 600000L)
    ParquetFiles.write(spark, mtmp(live), LineageSink.manifestSchema, Seq(row))
    assert(f.getFileStatus(mtmp(staleFile)).isFile && f.getFileStatus(mtmp(deadDir)).isDirectory)

    LineageSink.recover(spark, dir)
    assert(!f.exists(mtmp(staleFile)), "stale attempt's temp file kept")
    assert(!f.exists(mtmp(deadDir)), "dead attempt's temp dir kept")
    assert(f.exists(mtmp(live)), "live attempt's temp file reaped")
    lease.verify()
    // the temps never read as commits
    assert(LineageSink.manifest(spark, dir).count() === 2L)
  }
}
