package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Gf
import graft.operators.{Dedup, Similarity, TextOps}
import graft.sources.Images

/** Each pair of the banded near-dup generators comes out once, capped or
  * not, and a pair whose earliest shared buckets are capped is still found
  * through a later band. A repeated id fails loudly instead of repeating
  * its pairs. */
class PairExactlyOnceSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
    "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  /** Messages of an exception and all its causes, joined. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("minhashPairs: a pair whose EARLIEST shared buckets are capped is found once, later") {
    // minhashPairs' default banding: 64 hashes in 16 bands of 4
    val sig = Gf.minhashSig(TextOps.shingles(col("text"), 3), 64)
    def bandKeys(df: DataFrame) = df.select(col("doc_id") +: (0 until 3).map(b =>
        xxhash64(lit(b), slice(sig, b * 4 + 1, 4))): _*)
      .collect().map(r => r.getLong(0) -> (1 to 3).map(r.getLong)).toMap
    // a superset of the pair's text keeps the pair's minimum of a hash
    // unless one of the 4 added shingles beats it; Jaccard to the pair is
    // 22/26 < 0.9, so no filler verifies
    val cands = (0 until 400).map(i =>
      (1000L + i, s"$base w$i x$i y$i z$i")).toDF("doc_id", "text")
    val pk = bandKeys(Seq((200L, base)).toDF("doc_id", "text"))(200L)
    // fillers share bands 0 and 1 with the pair, not band 2
    val fillers = bandKeys(cands).toSeq.sortBy(_._1).collect {
      case (id, k) if k(0) == pk(0) && k(1) == pk(1) && k(2) != pk(2) => id
    }.take(5)
    assert(fillers.size === 5, s"only ${fillers.size} fillers in the pool")
    val corpus = Seq((200L, base), (201L, base)).toDF("doc_id", "text")
      .unionAll(cands.where(col("doc_id").isin(fillers: _*)))
    // bands 0 and 1 hold 7 rows each and are capped at 3; band 2 holds
    // only the pair
    for (cap <- Seq(3, 0)) {
      val got = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.9,
        maxBucketSize = cap).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSeq === Seq((200L, 201L, 1.0)), s"maxBucketSize=$cap")
    }
  }

  test("simhashJaccardPairs: a pair whose EARLIEST shared bucket is capped is found once, later") {
    // bands = 8: 8-bit chunks; fillers share chunk 0 with the pair only
    val h = Gf.simhash64(TextOps.tokens(col("text")))
    val ph = Seq(base).toDF("text").select(h).head().getLong(0)
    val cands = (0 until 4000).map(i =>
      (1000L + i, s"f$i g${i * 7} h${i * 13} k${i % 17} m${i * 31} n$i"))
      .toDF("doc_id", "text")
    val fillers = cands.select(col("doc_id"), h.as("h")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).collect {
        case (id, fh) if (fh & 0xFFL) == (ph & 0xFFL) &&
          ((fh >>> 8) & 0xFFL) != ((ph >>> 8) & 0xFFL) => id
      }.take(5).toSeq
    assert(fillers.size === 5, s"only ${fillers.size} fillers in the pool")
    val corpus = Seq((200L, base), (201L, base)).toDF("doc_id", "text")
      .unionAll(cands.where(col("doc_id").isin(fillers: _*)))
    // chunk 0 holds 7 rows and is capped at 3; chunk 1 holds only the pair
    for (cap <- Seq(3, 0)) {
      val got = Dedup.simhashJaccardPairs(corpus, "doc_id", "text",
          threshold = 0.9, bands = 8, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSeq === Seq((200L, 201L, 1.0)), s"maxBucketSize=$cap")
    }
  }

  test("every generator emits as many rows as distinct (id_a, id_b) pairs, capped or not") {
    // planted exact copies share every band; tail-mutated copies share some
    val aug = docs
      .unionAll(docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
      .unionAll(docs.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 700000L).as("doc_id"),
          concat(col("text"), lit(" tailmarker endtoken")).as("text")))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vecs = emb.unionAll(emb.where(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
    val phashed = Images.synthesize(spark, 120L, 40).toDF()
      .select(col("image_id"), col("phash"))
    val runs = Seq(
      "minhashPairs" -> Dedup.minhashPairs(aug, "doc_id", "text", threshold = 0.5),
      "minhashPairs uncapped" -> Dedup.minhashPairs(aug, "doc_id", "text",
        threshold = 0.5, maxBucketSize = 0),
      "simhashJaccardPairs" -> Dedup.simhashJaccardPairs(aug, "doc_id", "text",
        threshold = 0.5, bands = 8, maxBucketSize = 40),
      "phashPairs capped" -> Dedup.phashPairs(phashed, "image_id", "phash",
        bands = 8, maxBucketSize = 40),
      "cosineNearDupPairs" -> Similarity.cosineNearDupPairs(vecs, 0.999, tables = 8))
    for ((name, df) <- runs) {
      val pairs = df.select(col("id_a").cast("string"), col("id_b").cast("string"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(pairs.length > 50, s"$name: only ${pairs.length} pairs")
      assert(pairs.length === pairs.distinct.length,
        s"$name: ${pairs.length - pairs.distinct.length} repeated pair rows")
    }
  }

  test("a repeated id fails the query and names the id") {
    val hashes = Seq(("img_a", 0x0F0F0F0FL), ("img_dup_7", 0x123456789ABCDEFL),
      ("img_c", 0x7EDCBA9876543210L)).toDF("id", "phash")
    val e1 = intercept[Exception](Dedup.phashPairs(
      hashes.unionAll(hashes.where(col("id") === "img_dup_7")), "id", "phash").collect())
    assert(messages(e1).contains("id img_dup_7 appears in more than one input row"),
      messages(e1))
    val few = docs.where(col("doc_id") < 40)
    val e2 = intercept[Exception](Dedup.minhashPairs(
      few.unionAll(few.where(col("doc_id") === 17L)), "doc_id", "text").collect())
    assert(messages(e2).contains("id 17 appears in more than one input row"), messages(e2))
  }
}
