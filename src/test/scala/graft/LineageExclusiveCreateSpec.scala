package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LineageSink

/** `LineageSink.createExclusive` is the one mutex under every lease, pending
  * marker and commit-sequence claim: of any number of callers racing to
  * create one path, exactly one wins. Hadoop's local create(overwrite =
  * false) is check-then-create and lets two threads released together both
  * "win" in most rounds of the race below, so local paths are created with
  * O_EXCL. Other filesystems take the Hadoop create; `counted://` (a
  * RawLocalFileSystem, itself check-then-create) pins that branch's
  * sequential contract only — its atomicity is the store's. */
class LineageExclusiveCreateSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def fsOf(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body(t)` on `threads` threads started together; rethrows the
    * first failure. */
  private def race(threads: Int)(body: Int => Unit): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map(t => new Thread(() =>
      try body(t) catch { case e: Throwable => errs.add(e) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  test("two threads racing to create one path: exactly one wins, every round") {
    val dir = tmpDir("excl-race")
    val fs = fsOf(dir)
    val rounds = 500
    val won = Array.fill(2)(new Array[Boolean](rounds))
    val barrier = new CyclicBarrier(2)
    race(2) { t =>
      for (r <- 0 until rounds) {
        barrier.await(60, TimeUnit.SECONDS)
        won(t)(r) = LineageSink.createExclusive(fs, new Path(s"$dir/$r"), s"thread-$t")
      }
    }
    val winners = (0 until rounds).map(r => won.count(_(r)))
    assert(winners.count(_ != 1) === 0,
      s"rounds without exactly one winner: ${winners.count(_ == 2)} double, " +
        s"${winners.count(_ == 0)} none, of $rounds")
    // the file holds the winner's text, whole
    for (r <- 0 until rounds) {
      val body = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/$r")), StandardCharsets.UTF_8)
      assert(body === s"thread-${won.indexWhere(_(r))}")
    }
  }

  test("4 threads x 50 sequence claims on one sink: 200 distinct numbers") {
    val dir = tmpDir("excl-seq")
    val fs = fsOf(dir)
    val claims = Array.fill(4)(new Array[Long](50))
    val barrier = new CyclicBarrier(4)
    race(4) { t =>
      barrier.await(60, TimeUnit.SECONDS)
      for (i <- 0 until 50) claims(t)(i) = LineageSink.claimSeq(fs, dir, s"job-$t-$i")
    }
    val all = claims.flatten
    assert(all.distinct.length === 200, "two claimants got one sequence number")
    // a claim is max+1 of the visible claims, so nothing is skipped
    assert(all.toSet === (1L to 200L).toSet)
    // each claimant's own claims only ever go up
    claims.foreach(c => assert(c.toSeq === c.sorted.toSeq))
  }

  test("a non-local filesystem takes the Hadoop create: first wins, the rest see false") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.counted.impl", classOf[CountingFileSystem].getName)
    val local = tmpDir("excl-counted")
    val dir = s"counted://$local"
    val fs = fsOf(dir)
    CountingFileSystem.created.clear()
    val p = new Path(s"$dir/leases/x")
    fs.mkdirs(p.getParent)
    assert(LineageSink.createExclusive(fs, p, "first"))
    assert(!LineageSink.createExclusive(fs, p, "second"))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$local/leases/x")), StandardCharsets.UTF_8) === "first")
    assert((1 to 5).map(i => LineageSink.claimSeq(fs, dir, s"job-$i")) === (1L to 5L))
    import scala.jdk.CollectionConverters._
    val created = CountingFileSystem.created.asScala.toList
    assert(created.contains(s"$local/leases/x"), s"no Hadoop create of the lease: $created")
    assert(created.exists(_.startsWith(s"$local/manifest/seq/")),
      s"no Hadoop create of a seq claim: $created")
  }
}
