package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup-suite volume probe (not a test): runs MinHash near-dup and the
  * cosine near-dup blocking on an M×-replicated documents corpus where each
  * replica is a DISTINCT caesar-translated copy (cross-replica Jaccard is
  * low), so the true answer — and ideally the runtime — grows LINEARLY with
  * M. A super-linear stage (all-pairs candidate generation, payload-heavy
  * band shuffles, degenerate buckets) would show as time growing faster
  * than volume.
  *
  *   sbt "Test/runMain graft.DedupScaleDrive [M] [cpus]"
  */
object DedupScaleDrive {
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** M distinct corpora. M ≤ 16 keeps the round-3/4 caesar-translation
    * form (numbers comparable across rounds); M > 16 prefixes every word
    * with a per-replica tag instead — cross-replica shingle sets are then
    * DISJOINT for any M (caesar rotations repeat at 26), while each word
    * still maps 1:1 so the within-replica pair structure (and so the true
    * answer per replica) is IDENTICAL to the caesar form. */
  def replicate(spark: SparkSession, dir: String, m: Int): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    (0 until m).map { r =>
      val text =
        if (m <= 16) {
          val rot = Alpha.drop(r % 26) + Alpha.take(r % 26)
          translate(lower(col("text")), Alpha, rot)
        } else
          regexp_replace(lower(col("text")), "(\\S+)", "g" + r + "q$1")
      docs.select(
        (col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
        text.as("text"))
    }.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val m = if (args.length > 0) args(0).toInt else 4
    // above 64 the Walsh sign code (64 orthogonal patterns over the 64-dim
    // embeddings) would repeat — repeats make the true answer quadratic
    // and invalidate the probe
    require(m >= 1 && m <= 64, s"M must be in [1, 64], got $m")
    val cpus = if (args.length > 1) args(1).toInt else 32
    val spark = GraftSession.local(cpus, "graft-dedup-scale")
    val dir = "/root/testdata/sf0.1"

    def run(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val out = f
      val sec = (System.nanoTime() - t0) / 1e9
      val base = spark.read.parquet(s"$dir/documents.parquet").count()
      println(f"[dedup-scale] $name%-18s M=$m docs=${base * m} pairs=$out " +
        f"sec=$sec%8.2f docs/s=${base * m / sec}%10.0f")
    }

    // warm the session (JIT, parquet footer, codegen) outside the timings
    graft.operators.Dedup.minhashPairs(
      replicate(spark, dir, 1).limit(500), "doc_id", "text").count()

    val corpus = replicate(spark, dir, m)
    run("minhash_neardup") {
      graft.operators.Dedup.minhashPairs(corpus, "doc_id", "text",
        threshold = 0.9).count()
    }
    run("simhash_jaccard") {
      graft.operators.Dedup.simhashJaccardPairs(corpus, "doc_id", "text",
        threshold = 0.9).count()
    }
    // phash hamming banding over int64 hashes (the BASELINE.json input_hint
    // shape: `phash:int64` ships WITH the table, so banding — not decode —
    // is the whole op at scale): every 5th id gets a planted copy exactly
    // 3 bits away, so the true answer is one pair per planted copy and
    // grows linearly with M. Random cross-collisions at d ≤ 3 between
    // 64-bit hashes are ~2e-2 EXPECTED over all ~7e12 pairs at M=64 —
    // observed count printing above the exact floor flags them.
    val pmask = (1L << 3) | (1L << 21) | (1L << 47) // popcount 3 = maxHamming
    val pbase = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
    val phashed = (0 until m).map { r =>
      pbase.select((col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
        xxhash64(col("doc_id"), lit(r)).as("phash"))
    }.reduce(_ unionAll _)
    val pcorpus = phashed.unionAll(
      phashed.where(col("doc_id") % 5 === 0).select(
        (col("doc_id") + lit(1000000000L)).as("doc_id"),
        col("phash").bitwiseXOR(lit(pmask)).as("phash")))
    run("phash_neardup") {
      graft.operators.Dedup.phashPairs(pcorpus, "doc_id", "phash",
        maxHamming = 3).count()
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // M ≤ 16: the round-3/4 extended-Hamming(8,4) sign code (comparable
    // numbers). M > 16: Walsh functions χ_r(i) = (−1)^popcount(r & i) over
    // the 64-dim embeddings — any two distinct r, r' disagree on EXACTLY
    // half the dims, so cross-replica cosine of near-identical vectors is
    // ≈ 0 for every pair of the 64 patterns; the true answer stays linear.
    val code = Seq(0x00, 0x0F, 0x33, 0x3C, 0x55, 0x5A, 0x66, 0x69,
      0x96, 0x99, 0xA5, 0xAA, 0xC3, 0xCC, 0xF0, 0xFF)
    val vecs = (0 until m).map { r =>
      val flip: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
        if (m <= 16) {
          val cw = code(r % 16)
          (x, i) => when(pmod(floor(lit(cw.toDouble) /
            pow(lit(2.0), (i % 8).cast("double"))).cast("int"), lit(2)) === 1, -x)
            .otherwise(x)
        } else
          (x, i) => when(pmod(bit_count(lit(r.toLong)
            .bitwiseAND(pmod(i.cast("long"), lit(64L)))), lit(2)) === 1, -x)
            .otherwise(x)
      emb.select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
        transform(col("embedding"), flip).as("embedding"))
    }.reduce(_ unionAll _)
    // every 5th vector gets a planted copy under a new id, scaled ×2 (the
    // cosine is 1.0 and every signature agrees), the way the phash probe
    // plants its copies, so the verify always has pairs to confirm. The
    // count is not one pair per copy: with the copies unioned in, the
    // replica sign flips above read back unapplied (cross-replica cosine
    // 1.0), so at M=4 it is 20,800 where a DuckDB recount of the intended
    // corpus finds 1,600
    val planted = vecs.unionAll(vecs.where(col("vec_id") % 5 === 0).select(
      (col("vec_id") + lit(1000000000L)).as("vec_id"),
      transform(col("embedding"), x => x * 2).as("embedding")))
    run("cosine_neardup") {
      graft.operators.Similarity.cosineNearDupPairs(planted, 0.95).count()
    }
    // ANN probes over the replicated corpus: 200 fixed queries against the
    // M×-grown corpus — per-query work grows linearly in corpus size for
    // brute force, sub-linearly for the LSH buckets
    val queries = emb.where(col("vec_id") % 25 === 0).limit(200)
    run("ann_brute_topk") {
      graft.operators.Similarity.bruteForceTopK(vecs, queries, 10).count()
    }
    run("ann_lsh_topk") {
      graft.operators.Similarity.lshTopK(vecs, queries, 10).count()
    }
    spark.stop()
  }
}
