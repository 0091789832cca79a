package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Gf, ImageOps}
import graft.operators.Dedup
import graft.sources.Images

/** Round-6 image NEAR-dup (phash hamming banding) — the re-encoded-copy
  * detector the md5 exact pass cannot express. Ground truth comes from the
  * deterministic synthetic corpus: images sharing a pattern are
  * byte-identical (phash hamming 0), a jpeg re-encode moves the phash by at
  * most 1 bit on every one of the 512 patterns (the "PhashProbe ground
  * truth" test below), and distinct patterns differ visually. */
class ImagePhashSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def images(n: Int, patterns: Int = 64) =
    Images.synthesize(spark, n.toLong, patterns).toDF()

  test("phashPairsFromBytes finds every planted re-encoded copy at hamming <= 3") {
    val base = images(120).select(col("image_id"), col("bytes"))
    val aug = base.unionAll(
      base.where(Images.key(col("image_id")) % 3 === 0)
        .select(concat(lit("re_"), col("image_id")).as("image_id"),
          Gf.imgReencode(col("bytes"), lit("jpeg")).as("bytes")))
    val out = Dedup.phashPairsFromBytes(aug, "image_id", "bytes", maxHamming = 3)
      .where(col("id_b") === concat(lit("re_"), col("id_a")))
      .collect()
    val expected = (0 until 120).filter(_ % 3 == 0)
    assert(out.length === expected.size)
    assert(out.map(_.getString(0)).sorted.toSeq ===
      expected.map(k => f"img_$k%09d"))
    // every planted pair is within 1 bit (the PhashProbe ground truth)
    assert(out.forall(_.getInt(2) <= 1))
  }

  test("phashPairs on the precomputed column matches the bytes path exactly") {
    val withHash = images(90)
      .select(col("image_id"), col("bytes"), col("phash"))
    val fromBytes = Dedup.phashPairsFromBytes(withHash, "image_id", "bytes",
        maxHamming = 2).collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val fromCol = Dedup.phashPairs(withHash, "image_id", "phash",
        maxHamming = 2).collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(fromBytes.sorted.toSeq === fromCol.sorted.toSeq)
    assert(fromCol.nonEmpty, "pattern-sharing images must pair at hamming 0")
  }

  /** Brute-force (id_a, id_b) pairs at hamming <= maxHamming, id_a < id_b. */
  private def bruteForce(rows: Seq[(String, Long)], maxHamming: Int) =
    (for {
      i <- rows.indices; j <- (i + 1) until rows.length
      if java.lang.Long.bitCount(rows(i)._2 ^ rows(j)._2) <= maxHamming
    } yield {
      val (a, b) = if (rows(i)._1 < rows(j)._1) (rows(i), rows(j)) else (rows(j), rows(i))
      (a._1, b._1)
    }).toSet

  test("far pairs are rejected and pigeonhole recall is exhaustive vs brute force") {
    val n = 80
    val df = images(n, patterns = 40).select(col("image_id"), col("phash"))
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val truth = bruteForce(rows, 3)
    val byId = rows.toMap
    for (bands <- Seq(4, 8)) {
      val hs = Dedup.phashPairs(df, "image_id", "phash", maxHamming = 3,
        bands = bands).collect()
      val got = hs.map(r => (r.getString(0), r.getString(1)))
      assert(got.toSet === truth,
        s"bands=$bands: banded pairs must equal brute-force hamming<=3 truth")
      // pattern twins share EVERY chunk: each pair must still come out once
      assert(got.length === got.distinct.length,
        s"bands=$bands: ${got.length - got.distinct.length} duplicate pair rows")
      // and the emitted hamming is the true distance
      hs.foreach { r =>
        assert(r.getInt(2) ===
          java.lang.Long.bitCount(byId(r.getString(0)) ^ byId(r.getString(1))))
      }
    }
  }

  test("capped: a pair whose EARLIEST shared chunk bucket is capped is found later, once") {
    import spark.implicits._
    val a = 0x123456789ABCDEF0L
    val b = a ^ (1L << 40) // 1 bit apart in chunk 2: shares chunks 0, 1 and 3
    // fillers share only chunk 0 with the pair (their upper 48 bits are
    // splitmix-scrambled), so the chunk-0 bucket holds 7 rows
    val fillers = (1 to 5).map { i =>
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (f"f$i", ((z ^ (z >>> 31)) & ~0xFFFFL) | (a & 0xFFFFL))
    }
    val rows = Seq(("a", a), ("b", b)) ++ fillers
    assert(bruteForce(rows, 3) === Set(("a", "b")), "fillers must be far apart")
    val df = rows.toDF("id", "phash")
    val capped = Dedup.phashPairs(df, "id", "phash", maxBucketSize = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // chunk 0 (7 rows) is capped; chunks 1 and 3 both hold only the pair
    assert(capped.toSeq === Seq(("a", "b", 1)))
    val uncapped = Dedup.phashPairs(df, "id", "phash")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(uncapped.toSeq === Seq(("a", "b", 1)))
  }

  test("null hashes pair with nothing; the non-null rows' pairs are unchanged") {
    val df = images(80, patterns = 40)
      .select(col("image_id"),
        when(Images.key(col("image_id")) % 4 =!= 0, col("phash")).as("phash"))
    val nonNull = df.where(col("phash").isNotNull)
    assert(df.count() - nonNull.count() === 20)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      Dedup.phashPairs(d, "image_id", "phash").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted.toSeq
    val got = pairs(df)
    assert(got === pairs(nonNull))
    assert(got.map(p => (p._1, p._2)).toSet === bruteForce(
      nonNull.collect().map(r => (r.getString(0), r.getLong(1))).toSeq, 3))
  }

  test("bands=0 volume-aware width still finds identical-hash pairs") {
    val df = images(60, patterns = 30).select(col("image_id"), col("phash"))
    // identical-copy recall is width-independent: pattern twins share the
    // hash, hence every chunk at every width
    val got = Dedup.phashPairs(df, "image_id", "phash", maxHamming = 0,
      bands = 0, nHint = 60L).collect()
    val twins = (0 until 30).count(p => true) // 60 rows, 30 patterns → 30 twin pairs
    assert(got.length >= twins)
    assert(got.forall(_.getInt(2) === 0))
  }

  test("jpeg re-encode changes bytes (md5-invisible) while phash stays near") {
    val r = Images.row(7L, 64)
    val re = ImageOps.reencode(r.bytes, "jpeg")
    assert(!java.util.Arrays.equals(r.bytes, re))
    assert(java.lang.Long.bitCount(r.phash ^ ImageOps.phash(re)) <= 1)
  }

  test("PhashProbe ground truth: a jpeg re-encode moves the phash <= 1 bit on all 512 patterns") {
    // q65 and the benchmark's planted-pair check rely on this bound
    val dist = (0 until 512).map { pat =>
      val r = Images.row(pat.toLong, 512)
      pat -> java.lang.Long.bitCount(r.phash ^
        ImageOps.phash(ImageOps.reencode(r.bytes, "jpeg")))
    }
    assert(dist.filter(_._2 > 1) === Seq.empty, "patterns moved by more than 1 bit")
    assert(dist.groupBy(_._2).map { case (d, ps) => d -> ps.size } ===
      Map(0 -> 493, 1 -> 19))
  }
}
