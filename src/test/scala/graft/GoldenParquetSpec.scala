package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Geo, H3}
import graft.operators._
import graft.sources.ReferenceFixtures

/** Cross-checks against the reference's golden parquet snapshots
  * (tests/embedders/hex2vec/test_files — real OSM data over Poznań res-8
  * and Wrocław res-9 H3 regions; SURVEY.md §5 category 2). These pin the
  * whole pipeline — H3 boundaries, the cell-indexed spatial join — against
  * outputs produced by the actual reference implementation. */
class GoldenParquetSpec extends AnyFunSuite {
  import SparkTestSession.spark

  def hex2vec(name: String): String =
    ReferenceFixtures(s"tests/embedders/hex2vec/test_files/$name")

  def regions(prefix: String): DataFrame =
    spark.read.parquet(hex2vec(s"${prefix}_regions.parquet"))
      .select(col("region_id"), col("geometry").as(Tables.Geometry))
  def features(prefix: String): DataFrame =
    spark.read.parquet(hex2vec(s"${prefix}_features.parquet"))
      .select(col("feature_id"), col("geometry").as(Tables.Geometry))
  def goldenJoint(prefix: String): Set[(String, String)] =
    spark.read.parquet(hex2vec(s"${prefix}_joint.parquet"))
      .select("region_id", "feature_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  test("wro_s2_14: stored S2 region geometries match our from-scratch boundaries") {
    val rows = spark.read.parquet(
      ReferenceFixtures("tests/embedders/s2vec/test_files/wro_s2_14_regions.parquet"))
      .select("region_id", "geometry").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = graft.core.S2.fromToken(r.getString(0))
      assert(graft.core.S2.level(id) === 14)
      val golden = Geo.fromWkb(r.getAs[Array[Byte]](1))
      val ours = graft.core.S2.cellGeometry(id)
      val d = org.locationtech.jts.algorithm.distance.DiscreteHausdorffDistance
        .distance(golden, ours)
      assert(d < 1e-6, s"cell ${r.getString(0)} boundary off by $d deg")
    }
  }

  for ((prefix, res) <- Seq("poz_8" -> 8, "wro_9" -> 9)) {
    test(s"$prefix: stored H3 region geometries match our from-scratch boundaries") {
      val rows = regions(prefix).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val id = H3.fromHexString(r.getString(0))
        assert(H3.getRes(id) === res)
        val golden = Geo.fromWkb(r.getAs[Array[Byte]](1))
        val ours = H3.cellGeometry(id)
        val d = org.locationtech.jts.algorithm.distance.DiscreteHausdorffDistance
          .distance(golden, ours)
        assert(d < 1e-6, s"cell ${r.getString(0)} boundary off by $d deg")
      }
    }

    test(s"$prefix: IntersectionJoiner reproduces the reference's joint pair set") {
      val got = new IntersectionJoiner(cellLevel = 13)
        .transform(regions(prefix), features(prefix))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val want = goldenJoint(prefix)
      val missing = want -- got
      val extra = got -- want
      assert(missing.isEmpty && extra.isEmpty,
        s"missing=${missing.take(5)} extra=${extra.take(5)} " +
          s"(got ${got.size}, want ${want.size})")
    }
  }
}
