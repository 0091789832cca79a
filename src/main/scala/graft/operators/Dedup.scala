package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Gf

/** Document deduplication operators (training-data pipeline core).
  *
  * Scale shapes:
  *  - exact: one hash-aggregate on md5(normalized text) — same plan as any
  *    high-cardinality groupBy, no special handling needed;
  *  - MinHash+LSH: signature is a per-row projection; banding explodes each
  *    row into `bands` NARROW rows (id, band, band_hash) — no shingle/text
  *    payload rides the band shuffle. Candidates are paired inside each
  *    (band, band_hash) bucket by one aggregate ([[bucketPairs]]) — linear
  *    in bucket sizes, never all-pairs. Shingles are joined back ONCE per
  *    unique candidate pair, and exact Jaccard verification runs only on
  *    those pairs;
  *  - SimHash: same banding trick over 4×16-bit chunks of the 64-bit hash
  *    (two near-dup hashes with hamming ≤ 3 share ≥ 1 exact chunk by
  *    pigeonhole — recall 1.0 at the hamming threshold, not probabilistic).
  */
object Dedup {

  /** The signature computation is the expensive projection; a small
    * single-file input would otherwise run it in one task. Only widens —
    * never shrinks an already-parallel input (at real scale file splits
    * provide the parallelism and this is a no-op). The decision uses the
    * optimizer's size ESTIMATE (file-listing metadata) — no physical
    * planning of the query (the round-1 `df.rdd.getNumPartitions` forced a
    * full plan just to inspect partition count). */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < target.toLong * 4L * 1024 * 1024) df.repartition(target) else df
  }

  /** Exact duplicate groups by normalized-text hash: (content_hash,
    * group_size, keep_id = min id). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("group_size"), min(col(idCol)).as("keep_id"))

  /** (id, shingles) projection shared by the LSH paths. */
  private def shingled(df: DataFrame, idCol: String, textCol: String,
                       shingleK: Int): DataFrame =
    spread(df).select(
      col(idCol).as("id"),
      TextOps.shingles(col(textCol), shingleK).as("sh"))

  /** Candidate pairs of a banded frame: the one pair generator behind this
    * object and [[Similarity.cosineNearDupPairs]]. `banded` has one row per
    * (member, band): `band` in [0, bands), the bucket `key` (a null key
    * matches nothing) and the `payload` columns, "id" first. One
    * `groupBy(band, key)` lists each bucket's members — one exchange with
    * partial aggregation, so the banded input is evaluated once whatever
    * its leaf — and keeps the buckets of 2 to `maxBucketSize` (if > 0)
    * members: n identical rows yield n²/2 pairs, and such clusters are for
    * [[Dedup.exact]] upstream. A bucket's members, sorted by id, pair with
    * the ones after them: (band, key, <p>_a.., <p>_b..) rows, id_a < id_b,
    * once per shared kept bucket — the caller dedups — unless a veto emits
    * each pair only at its lowest band that both members share and the cap
    * kept:
    *  - `sameAt(t)`, uncapped only, reads off the `_a`/`_b` payload whether
    *    their band-t keys agree (capped, a later bucket cannot tell that an
    *    earlier shared one was dropped);
    *  - `keptKeys` runs that groupBy first, then a window over id gives each
    *    kept row its id's kept band keys (null for a dropped bucket), and a
    *    second groupBy pairs them: two members share a kept band t iff their
    *    band-t keys there are equal. Those two small stages cost more than
    *    one pair-dedup exchange unless candidates dwarf the banded rows:
    *    capped minhash ran q18 at 1.76 vs 1.29 s (sf0.1, local[4]) and did
    *    not gain with 61.5% of its rows planted copies, so only cosine,
    *    whose old exactly-once form ran a window and a self-join, takes it.
    * The veto is a literal-index OR chain, since higher-order functions
    * evaluate interpreted per row (15.4 s vs 1.45 s over 15.8M candidates,
    * round 4). Uncapped with `warnTag` set,
    * [[graft.functions.WarnLargeBucket]] logs a bucket over 10⁴ rows once
    * per JVM per tag. A bucket's pairs come from the one task holding its
    * group (AQE does not split an aggregate).
    *
    * Contract: one row per id — equal ids in one member list fail the
    * query, naming the id. */
  private[operators] def bucketPairs(banded: DataFrame, key: String,
                                     payload: Seq[String], bands: Int,
                                     maxBucketSize: Int, sameAt: Int => Column = null,
                                     keptKeys: Boolean = false,
                                     warnTag: String = null): DataFrame = {
    val keys = Seq(col("band"), col(key))
    val cap = if (maxBucketSize > 0) maxBucketSize else Int.MaxValue
    // sort_array orders the structs by their first field, the id
    def listed(rows: DataFrame, members: Seq[String]) = rows.groupBy(keys: _*)
      .agg(sort_array(collect_list(struct(members.map(col): _*))).as("__m"))
      .where(size(col("__m")).between(2, cap))
    val live = banded.where(col(key).isNotNull)
    val kept = (0 until bands - 1).map(t => s"__k$t")
    val (rows, members, shared) =
      if (!keptKeys) (live, payload, if (maxBucketSize > 0) null else sameAt)
      else (listed(live, payload)
        .select(keys :+ explode(col("__m")).as("__r"): _*)
        .select(keys ++ payload.map(p => col(s"__r.$p").as(p)): _*)
        .select(payload.map(col) ++ keys ++ kept.indices.map(t =>
          max(when(col("band") === t, col(key))).over(Window.partitionBy("id"))
            .as(kept(t))): _*),
        payload ++ kept,
        (t: Int) => coalesce(col(s"${kept(t)}_a") === col(s"${kept(t)}_b"), lit(false)))
    val m = col("__m")
    val n = size(m)
    val buckets =
      if (maxBucketSize > 0 || warnTag == null) listed(rows, members)
      else listed(rows, members).withColumn("__m", call_function(
        "warn_large_bucket", m, n.cast("long"), lit(10000L), lit(warnTag)))
    def side(s: String) = members.map(p => col(s"$s.$p").as(s"${p}_$s"))
    val repeated = raise_error(concat(lit("bucketPairs: id "),
      col("a.id").cast("string"), lit(" appears in more than one input row; " +
        "the near-dup operators take one row per id")))
    // slice is 1-based: the members after 0-based position p start at p + 2
    val pairs = buckets.select(keys :+ m :+ posexplode(m).as(Seq("__p", "a")): _*)
      .select(keys :+ col("a") :+ explode(slice(m, col("__p") + 2, n)).as("b"): _*)
      .where(when(col("a.id") === col("b.id"), repeated)
        .otherwise(col("a.id") < col("b.id")))
      .select(keys ++ side("a") ++ side("b"): _*)
    if (shared == null) pairs
    else pairs.where(!(0 until bands - 1).map(t => col("band") > t && shared(t))
      .foldLeft(lit(false))(_ || _))
  }

  /** The LOSSLESS size prefilter: Jaccard(A, B) ≥ t implies |A∩B| ≤ min and
    * |A∪B| ≥ max, hence min(|A|,|B|) ≥ t·max(|A|,|B|) — so the filter can
    * never drop a pair the verification would keep. Applied on candidate
    * pairs BEFORE the shingle arrays are joined back: on a clustered corpus
    * the candidate stream dwarfs the true-pair count and every surviving
    * candidate drags two multi-KB arrays through the verify join (probe:
    * 6.56M → 1.18M candidates, verify 37 s → 8 s at local[8], identical
    * output). The sizes ride the band shuffle as one int per row. */
  private def sizeCompatible(threshold: Double): Column =
    least(col("n_a"), col("n_b")).cast("double") >=
      lit(threshold) * greatest(col("n_a"), col("n_b"))

  /** Join shingle arrays back to (id_a, id_b) candidate pairs and verify
    * exact Jaccard ≥ threshold. The two id-keyed joins shuffle each shingle
    * array at most once — candidate pairs are tiny next to the corpus.
    * Shingle arrays are DISTINCT by construction, so |A∪B| = |A|+|B|−|A∩B|:
    * one intersect pass instead of intersect + union (identical values). */
  private def verifyJaccard(candidates: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame =
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("__i") / (size(col("sh_a")) + size(col("sh_b")) - col("__i")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** MinHash + LSH near-duplicate pairs with exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard) for verified pairs ≥ threshold; id_a < id_b.
    *
    * With `numHashes = bands * rowsPerBand`, a pair with Jaccard j collides
    * in ≥1 band with prob 1-(1-j^r)^b — at 64/16×4 the curve passes 0.5 near
    * j≈0.5 and is ≈1 above j≈0.8. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7,
                   maxBucketSize: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sh = shingled(df, idCol, textCol, shingleK)
    // band rows: (id, band, band_hash) — NO array payload in the shuffle
    // literal per-band hash columns, not transform(sequence(...)): the HOF
    // form evaluates interpreted per band per row (same values either way —
    // xxhash64 over the identical slice)
    val banded = sh
      .withColumn("sig", Gf.minhashSig(col("sh"), numHashes))
      .select(col("id"), size(col("sh")).as("n"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(lit(b), slice(col("sig"), lit(b * rows + 1), lit(rows)))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val candidates = bucketPairs(banded, "band_hash", Seq("id", "n"), bands,
        maxBucketSize)
      .where(sizeCompatible(threshold))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    verifyJaccard(candidates, sh, threshold)
  }

  /** Volume-aware simhash chunk count: the FINEST chunking (most bands —
    * strongest hamming sensitivity, since pigeonhole guarantees a shared
    * chunk at hamming < bands) whose RANDOM collision load stays flat —
    * expected random co-bucket partners per row, bands·n/2^(64/bands),
    * within `budgetPerRow`. The walk-down mirrors [[graft.operators.Similarity.suggestLsh]]'s
    * occupancy budget: 8-bit chunks only fit toy corpora (n ≤ 64),
    * 16-bit up to ~33k rows, 32-bit to ~4×10⁹, and past that only exact
    * simhash equality (bands = 1) blocks without a quadratic candidate
    * stage. Identical-copy recall — the only recall this family promises —
    * is width-independent: equal hashes share every chunk at every width. */
  def suggestSimhashBands(n: Long, budgetPerRow: Double = 2.0): Int =
    Seq(8, 4, 2, 1).find(b =>
      n.toDouble * b / math.pow(2.0, 64.0 / b) <= budgetPerRow).getOrElse(1)

  /** Chunk `b` of a 64-bit hash cut into `bands` equal-width chunks: the
    * ONE home of the chunk bit-math (banding and the lowest-shared-chunk
    * test of [[hammingPairs]]). */
  private def chunk(h: Column, b: Int, bands: Int): Column = {
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    shiftrightunsigned(h, b * width).bitwiseAND(lit(mask))
  }

  /** Explode a 64-bit hash column into `bands` (band, chunk) blocking rows,
    * carrying every other column of `hashed` through. Pigeonhole: any pair
    * with hamming < bands shares a chunk. */
  private def bandChunks(hashed: DataFrame, hashCol: String,
                         bands: Int): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    hashed.select(hashed.columns.toSeq.map(col) :+ posexplode(array(
      (0 until bands).map(chunk(col(hashCol), _, bands)): _*)).as(Seq("band", "chunk")): _*)
  }

  /** `bands`, or for 0 the logged [[suggestSimhashBands]] choice from
    * `nHint`, else from `df.count()` (one more pass over the input: callers
    * with an expensive derived input pass any rough row count). */
  private def chooseBands(bands: Int, nHint: Long, df: DataFrame,
                          tag: String): Int =
    if (bands > 0) bands
    else {
      val b = suggestSimhashBands(if (nHint > 0L) nHint else df.count())
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"$tag: auto-selected $b band(s) of ${64 / b} bits" +
          (if (nHint > 0L) s" from nHint=$nHint" else " from df.count()"))
      b
    }

  /** Hamming-banded near-dup pairs over ANY precomputed 64-bit hash column
    * `hashed` = (id, h), one row per id — shared by [[simhashPairs]] and the
    * phash paths. Pigeonhole recall: a pair with hamming < bands shares a
    * chunk, so at the default 4×16 bits every pair at hamming ≤ 3 is a
    * candidate — recall 1.0, not probabilistic. Bands = 0 picks the
    * volume-aware width; finer widths strengthen that bound while
    * SHRINKING the chunk key space, the trade documented on
    * [[simhashJaccardPairs]]. The one-long hash rides the band shuffle.
    * Uncapped, a pair is emitted only at its LOWEST band whose chunks
    * agree (read off `h_a XOR h_b`): exactly once per pair of rows, with no
    * pair-dedup exchange. Capped runs dedupe instead — a later bucket
    * cannot see that an earlier shared one was dropped, and the kept-key
    * plan that could costs more ([[bucketPairs]]). */
  private def hammingPairs(hashed: DataFrame, maxHamming: Int, bands: Int,
                           maxBucketSize: Int, warnTag: String,
                           nHint: Long): DataFrame = {
    val chosenBands = chooseBands(bands, nHint, hashed, warnTag)
    // the pigeonhole guarantee holds only for maxHamming < bands (and
    // uncapped buckets); wider chunks are a legitimate volume-aware
    // degraded mode (identical-copy recall survives at every width) but
    // must be observable, never silent
    if (maxHamming >= chosenBands)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"hammingPairs: maxHamming=$maxHamming >= bands=$chosenBands — the " +
          "pigeonhole recall guarantee at this threshold is void; only " +
          "pairs sharing a full chunk (e.g. identical hashes) are candidates")
    val x = col("h_a").bitwiseXOR(col("h_b"))
    val pairs = bucketPairs(bandChunks(hashed, "h", chosenBands), "chunk",
        Seq("id", "h"), chosenBands, maxBucketSize, chunk(x, _, chosenBands) === 0L,
        warnTag = warnTag)
      .select("id_a", "id_b", "h_a", "h_b")
    (if (maxBucketSize > 0) pairs.dropDuplicates("id_a", "id_b") else pairs)
      .withColumn("hamming", Gf.hamming64(col("h_a"), col("h_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-duplicate pairs: 64-bit token-vote hash, 4×16-bit band
    * blocking, hamming ≤ maxHamming verification. The hash payload is one
    * long — it rides the band shuffle (8 bytes ×4, cheaper than a join
    * back). Recall is exact by pigeonhole for maxHamming ≤ 3 — BECAUSE this
    * variant defaults to an uncapped bucket size; a corpus with a legitimate
    * >`maxBucketSize` near-identical cluster costs n² pairs inside that
    * block, which is exactly what the hamming filter must see to stay
    * exhaustive. Pass `maxBucketSize > 0` to trade that guarantee for a
    * bound on degenerate blocks (boilerplate clusters), as
    * [[simhashJaccardPairs]] does by default. Uncapped blocks beyond the
    * old 10k bound log a loud executor-side warning (round-5, see
    * [[bucketPairs]]) so the n² blowup is diagnosable, never silent.
    * Contract: one row per id — a repeated id fails the query, naming the
    * id, once its rows share a kept bucket (an exact repeat shares every one). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = 0): DataFrame =
    hammingPairs(
      spread(df).select(col(idCol).as("id"),
        Gf.simhash64(TextOps.tokens(col(textCol))).as("h")),
      maxHamming, bands = 4, maxBucketSize, warnTag = "simhashPairs",
      nHint = 0L)

  /** Image NEAR-duplicate pairs by perceptual-hash hamming banding — the
    * re-encoded / recompressed-copy detector the exact md5 pass
    * ([[exact]] / q13) structurally cannot catch: lossy re-encoding changes
    * every byte but barely moves the 64-bit average phash, so near-copies
    * sit within a few hamming bits. Same pigeonhole layout as
    * [[simhashPairs]] (4×16-bit chunks guarantee every pair at hamming ≤ 3
    * is a candidate), same volume-aware width option (`bands = 0` →
    * [[suggestSimhashBands]]), same explicit capping story. `hashCol` is a
    * precomputed int64 phash — the input contract ships one
    * (BASELINE.json input_hint `phash:int64`); use [[phashPairsFromBytes]]
    * when only bytes are at hand. Scale shape: blocking touches ONLY
    * (id, phash) — 16 bytes/row — never the image bytes, in one bucket
    * aggregate; at 10¹² images the band shuffle is the narrow one the
    * 100-TB plan needs. Rows with a null hash pair with nothing. Contract:
    * one row per id — a repeated id fails the query, naming the id, once
    * its rows share a kept bucket (an exact repeat shares every one). */
  def phashPairs(df: DataFrame, idCol: String, hashCol: String,
                 maxHamming: Int = 3, bands: Int = 4,
                 maxBucketSize: Int = 0, nHint: Long = 0L): DataFrame =
    hammingPairs(
      df.select(col(idCol).as("id"), col(hashCol).cast("long").as("h")),
      maxHamming, bands, maxBucketSize, warnTag = "phashPairs", nHint = nHint)

  /** [[phashPairs]] computing the phash from an image-bytes column (one
    * codegen decode+hash projection — [[graft.functions.Gf.imgPhash]]);
    * [[spread]] widens a small single-file input so the decode kernel
    * parallelizes. The decode runs once per row whatever the input's leaf.
    * Contract: one row per id — a repeated id fails the query, naming the
    * id, once its rows share a kept bucket (an exact repeat shares every one). */
  def phashPairsFromBytes(df: DataFrame, idCol: String, bytesCol: String,
                          maxHamming: Int = 3, bands: Int = 4,
                          maxBucketSize: Int = 0, nHint: Long = 0L): DataFrame =
    hammingPairs(
      spread(df).select(col(idCol).as("id"),
        Gf.imgPhash(col(bytesCol)).as("h")),
      maxHamming, bands, maxBucketSize, warnTag = "phashPairs", nHint = nHint)

  /** SimHash-blocked exact-Jaccard near-dup pairs: candidates from
    * 4×16-bit simhash chunk blocking (the classic web-dedup layout),
    * verified with exact shingle Jaccard. Same output contract as
    * [[minhashPairs]] — a cheaper blocking (one 64-bit hash instead of a
    * 64-long signature) for corpora where near-dups keep most token votes
    * intact.
    *
    * Band choice is a recall/scale dial: 16-bit chunks guarantee recall at
    * hamming ≤ 3 and keep buckets sparse (2¹⁶ values per band). Finer
    * chunks (bands = 8 → 8-bit) push the pigeonhole guarantee to hamming
    * ≤ 7 but shrink the key space to 256 values, so bucket occupancy — and
    * with it candidate-pair count — grows QUADRATICALLY with corpus size
    * (measured: 4× the corpus, ~5× the wall time, DedupScaleDrive round 3;
    * at 320k docs the 16-bit space saturates outright — 1,741 s at
    * local[2] vs minhash's 118 s, round 5). The default is therefore
    * VOLUME-AWARE ([[suggestSimhashBands]], bands = 0): it widens chunks
    * as the corpus grows so the RANDOM collision mass stays linear, at the
    * price of a weaker hamming sensitivity — which this variant never
    * promised: its recall contract is identical-copy pairs (identical
    * text → identical simhash → same chunk at EVERY width) plus whatever
    * the exact-Jaccard verify confirms among candidates. Pass an explicit
    * `bands` to pin the round-3/4 behavior. Use minhashPairs when organic
    * Jaccard recall matters at scale — its banding bounds the miss
    * probability analytically; chunk blocking never did. */
  def simhashJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleK: Int = 3, threshold: Double = 0.9,
                          bands: Int = 0,
                          maxBucketSize: Int = 10000,
                          nHint: Long = 0L): DataFrame = {
    val chosenBands = chooseBands(bands, nHint, df, "simhashJaccardPairs")
    // one projection computes the simhash AND the shingle count, so the
    // lossless size prefilter can ride the band shuffle (one int per row)
    val proj = spread(df).select(col(idCol).as("id"),
      Gf.simhash64(TextOps.tokens(col(textCol))).as("hash"),
      TextOps.shingles(col(textCol), shingleK).as("sh"))
    val candidates = bucketPairs(
        bandChunks(proj.select(col("id"), col("hash"), size(col("sh")).as("n")),
          "hash", chosenBands),
        "chunk", Seq("id", "n"), chosenBands, maxBucketSize)
      .where(sizeCompatible(threshold))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    verifyJaccard(candidates, proj.select(col("id"), col("sh")), threshold)
  }
}
