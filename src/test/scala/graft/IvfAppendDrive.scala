package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.LineageSink

/** Round-6 rehearsal (VERDICT next-round #6): drive the PERSISTED IVF index
  * through its real lifecycle at rehearsal scale — build at N/2 vectors,
  * append the second half in `appends` composing batches, search after
  * every append — then run the round-6 data compaction + expiry against the
  * exact file-growth shape the append path creates (one file per cell per
  * batch) and prove the searches don't move.
  *
  * Checks per append batch:
  *  - EXACTNESS at nprobe = nlist: the index search equals brute force over
  *    the same corpus-so-far (top-1 id + all cosines for 20 fixed queries);
  *  - PRUNING at nprobe = 8: the search plans only the probed buckets'
  *    files (inputFiles ratio vs the full snapshot);
  *  - FILE GROWTH: current-snapshot file count (the compaction motivation).
  *
  * Then: `compactData` bin-packs every cell, searches must be IDENTICAL and
  * the file count drops to ~nlist; `expireSuperseded(0)` retires the
  * superseded bytes; a below-watermark `snapshotAsOfSeq` must refuse.
  *
  * Usage: `sbt "Test/runMain graft.IvfAppendDrive [N] [appends] [nlist]"`
  * (defaults 256000, 16, 256). Prints one JSON line for BASELINE.md.
  */
object IvfAppendDrive {

  /** Deterministic unit-free pseudo-random vectors: dim-64 floats in
    * [-1, 1) keyed by (id, dim) — no Date.now, no RNG state, so every run
    * and every slice is reproducible. */
  private def vecs(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 32).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (pmod(xxhash64(col("id"), j), lit(2000L)).cast("double") / lit(1000.0)
          - lit(1.0)).cast("float")).as("embedding"))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(256000L)
    val appends = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val nlist = args.drop(2).headOption.map(_.toInt).getOrElse(256)

    val spark = GraftSession.local(32, "graft-ivf-append")
    spark.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("ivf-append").toString
    val base = n / 2
    val batch = (n - base) / appends
    val queries = vecs(spark, 1000000L, 1000020L) // disjoint ids from corpus

    def topOf(df: DataFrame): Seq[(Long, Long, Double)] =
      df.select("query_id", "neighbor_id", "cosine").where(col("rank") === 1)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9) / 1e9)).toSeq.sortBy(_._1)

    // ---- build at N/2 ----
    val (model, trainS) = Drive.timed("train")(Similarity.trainIvf(
      vecs(spark, 0L, base), nlist, iters = 5, sampleSize = 16384))
    val (_, buildS) = Drive.timed("build")(
      Similarity.writeIvfIndex(vecs(spark, 0L, base), dir, model, groups = 4))

    val fileCounts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val searchMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pruneRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
    var exactRounds = 0

    def afterState(upTo: Long): Unit = {
      val total = LineageSink.snapshot(spark, dir).inputFiles.length
      fileCounts += total
      // pruned search: nprobe 8 of nlist — must plan O(nprobe/nlist) files.
      // The batched 20-query search amortizes; the RATIO is measured on a
      // 2-query slice (a 20-query × 8-probe union can legitimately touch
      // most of a small cell space — that is batching, not a pruning miss)
      searchMs += Drive.ms(Drive.timed("search")(
        Similarity.searchIvfIndex(queries, dir, 10, nprobe = 8).count())._2)
      val planned = Similarity.searchIvfIndex(queries.limit(2), dir, 10,
        nprobe = 8).inputFiles.length
      pruneRatios += planned.toDouble / total
      // exactness: nprobe = nlist reads everything and must equal brute
      // force over the identical corpus-so-far
      val exact = topOf(
        Similarity.searchIvfIndex(queries, dir, 10, nprobe = nlist))
      val truth = topOf(
        Similarity.bruteForceTopK(vecs(spark, 0L, upTo), queries, 10))
      require(exact == truth,
        s"index search at nprobe=$nlist diverged from brute force at $upTo")
      exactRounds += 1
    }

    afterState(base)
    val (_, appendTotalS) = Drive.timed("append")(
      for (b <- 0 until appends) {
        Similarity.appendIvfIndex(
          vecs(spark, base + b * batch, base + (b + 1) * batch), dir)
        afterState(base + (b + 1) * batch)
      })

    // ---- round-6 maintenance against the append-grown shape ----
    // the VERDICT #1 "Done =" measurement: full-snapshot read time at the
    // many-small-files state vs after compaction (>= 5x drop expected)
    val (snapRowsBefore, snapshotBeforeS) = Drive.timed("snapshot")(
      LineageSink.snapshot(spark, dir).count())
    val before = topOf(Similarity.searchIvfIndex(queries, dir, 10, nprobe = 8))
    val beforeExact = topOf(
      Similarity.searchIvfIndex(queries, dir, 10, nprobe = nlist))
    val (compacted, compactS) = Drive.timed("compact")(
      LineageSink.compactData(spark, dir))
    val filesAfterCompact = LineageSink.snapshot(spark, dir).inputFiles.length
    val (after, searchAfterCompactS) = Drive.timed("search")(
      topOf(Similarity.searchIvfIndex(queries, dir, 10, nprobe = 8)))
    val plannedAfter = Similarity.searchIvfIndex(queries.limit(2), dir, 10,
      nprobe = 8).inputFiles.length
    require(after == before, "compaction changed the pruned search")
    require(topOf(Similarity.searchIvfIndex(queries, dir, 10,
      nprobe = nlist)) == beforeExact, "compaction changed the exact search")

    val (snapRowsAfter, snapshotAfterS) = Drive.timed("snapshot")(
      LineageSink.snapshot(spark, dir).count())
    require(snapRowsAfter == snapRowsBefore && snapRowsAfter == n,
      s"compaction changed the row count: $snapRowsBefore -> $snapRowsAfter")

    spark.conf.set("graft.lineage.staleMs", "0")
    val deleted = LineageSink.expireSuperseded(spark, dir, olderThanMs = 0L)
    spark.conf.unset("graft.lineage.staleMs")
    require(topOf(Similarity.searchIvfIndex(queries, dir, 10,
      nprobe = nlist)) == beforeExact, "expiry changed the exact search")
    val refused =
      try { LineageSink.snapshotAsOfSeq(spark, dir, 1L); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("expiry watermark") }

    Drive.report("ivf-append", "n" -> n, "appends" -> appends,
      "nlist" -> nlist, "train_ms" -> Drive.ms(trainS),
      "build_ms" -> Drive.ms(buildS),
      "append_total_ms" -> Drive.ms(appendTotalS), "exact_rounds" -> exactRounds,
      "file_counts" -> fileCounts, "search_ms" -> searchMs,
      "prune_ratios" -> pruneRatios.map(r => math.rint(r * 1e4) / 1e4),
      "snapshot_before_ms" -> Drive.ms(snapshotBeforeS),
      "snapshot_after_ms" -> Drive.ms(snapshotAfterS),
      "compacted_buckets" -> compacted, "compact_ms" -> Drive.ms(compactS),
      "files_after_compact" -> filesAfterCompact,
      "planned_after_compact" -> plannedAfter,
      "search_after_compact_ms" -> Drive.ms(searchAfterCompactS),
      "expired_files" -> deleted, "below_watermark_refused" -> refused)
    spark.stop()
  }
}
