package graft.sources

import org.apache.spark.sql.SparkSession
import graft.core.H3

/** Writes checked-in fixture parquet used by driver oracles.
  *
  * `fixtures/poz8_ij.parquet` — (region_id, i, j): local IJ coordinates of
  * every region in the reference's golden Poznań res-8 set
  * (tests/embedders/hex2vec/test_files/poz_8_regions.parquet), anchored at
  * the lexicographically-first region. Hex grid distance is closed-form in
  * axial IJ — d = (|di| + |dj| + |di−dj|) / 2 — which lets a plain-SQL
  * oracle (DuckDB) independently recompute k-ring neighbourhood aggregates
  * that the Spark side derives from `h3_grid_ring`.
  *
  * Soundness: before writing, the generator asserts for EVERY region pair
  * that the IJ distance equals the true H3 grid distance (from
  * gridDiskDistances BFS) — so the fixture is pinned to grid semantics, not
  * merely to the localIj implementation (which itself matches the
  * reference's h3 ij fixtures, see H3Spec).
  */
object FixtureGen {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ids = spark.read.parquet(
      ReferenceFixtures("tests/embedders/hex2vec/test_files/poz_8_regions.parquet"))
      .select("region_id").collect().map(_.getString(0)).sorted
    val origin = H3.fromHexString(ids.head)
    val cells = ids.map(H3.fromHexString)
    val ij = cells.map(c => H3.localIj(origin, c))

    // exhaustive soundness check: IJ distance == true grid distance
    def ijDist(a: (Int, Int), b: (Int, Int)): Int = {
      val di = a._1 - b._1; val dj = a._2 - b._2
      (math.abs(di) + math.abs(dj) + math.abs(di - dj)) / 2
    }
    val maxD = (for (a <- ij; b <- ij) yield ijDist(a, b)).max
    for (x <- cells.indices) {
      val byBfs = H3.gridDiskDistances(cells(x), maxD).toMap
      for (y <- cells.indices) {
        val d = ijDist(ij(x), ij(y))
        val bfs = byBfs.getOrElse(cells(y),
          sys.error(s"${ids(y)} not within $maxD of ${ids(x)}"))
        require(d == bfs, s"IJ dist $d != grid dist $bfs for ${ids(x)}→${ids(y)}")
      }
    }
    println(s"IJ==grid distance verified for ${cells.length}^2 pairs (max d=$maxD)")

    // translation consistency: the PAIRWISE local IJ (what hexTensor uses)
    // must equal the fixture-coordinate difference for every near pair —
    // i.e. one consistent hex frame covers the whole region set, so a SQL
    // oracle can recompute tensor positions from the fixture alone.
    for (x <- cells.indices; y <- cells.indices
         if ijDist(ij(x), ij(y)) <= 3 && x != y) {
      val rel = H3.localIj(cells(x), cells(y))
      val diff = (ij(y)._1 - ij(x)._1, ij(y)._2 - ij(x)._2)
      require(rel == diff,
        s"frame mismatch ${ids(x)}→${ids(y)}: localIj=$rel fixture-diff=$diff")
    }
    println("pairwise localIj == fixture difference verified for all near pairs")

    import spark.implicits._
    val tmp = "/tmp/graft_fixture_poz8_ij"
    ids.zip(ij).map { case (r, (i, j)) => (r, i, j) }.toSeq
      .toDF("region_id", "i", "j")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    // single flat file so DuckDB's read_parquet takes the path verbatim
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("fixtures"))
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get("fixtures/poz8_ij.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println("wrote fixtures/poz8_ij.parquet")
    spark.stop()
  }
}
