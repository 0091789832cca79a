package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GeoParquet, ReferenceFixtures}

/** CRS guard on (Geo)Parquet reads — VERDICT r2 "missing" #6. */
class GeoParquetSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("real GeoParquet fixtures with WGS84 metadata load (EPSG:4326 + OGC:CRS84)") {
    val files = Seq(
      "tests/embedders/hex2vec/test_files/poz_8_regions.parquet",
      "tests/embedders/geovex/test_files/wro_9_regions.parquet",
      "tests/loaders/test_files/example.parquet").map(ReferenceFixtures(_)) // last: OGC:CRS84
    for (f <- files) assert(GeoParquet.read(spark, f).count() > 0, f)
  }

  test("plain parquet without the geo key is accepted by convention") {
    assert(GeoParquet.read(spark,
      "/root/testdata/sf0.001/documents.parquet").count() > 0)
  }

  test("a projected CRS fails loudly instead of joining garbage cells") {
    val meta2180 =
      """{"version":"1.0.0","primary_column":"geometry","columns":{
        |"geometry":{"encoding":"WKB","crs":{"id":{"authority":"EPSG","code":2180}}}}}""".stripMargin
    val e = intercept[IllegalArgumentException](
      GeoParquet.validateGeoMeta(meta2180))
    assert(e.getMessage.contains("2180") && e.getMessage.contains("WGS84-only"))
    // null crs = spec default OGC:CRS84 → accepted
    GeoParquet.validateGeoMeta(
      """{"columns":{"geometry":{"encoding":"WKB","crs":null}}}""")
  }

  test("PROJJSON without the optional id is accepted when the name says WGS84") {
    GeoParquet.validateGeoMeta(
      """{"columns":{"geometry":{"crs":{"type":"GeographicCRS","name":"WGS 84 (CRS84)"}}}}""")
    val e = intercept[IllegalArgumentException](GeoParquet.validateGeoMeta(
      """{"columns":{"geometry":{"crs":{"type":"ProjectedCRS","name":"ETRS89 / Poland CS92"}}}}"""))
    assert(e.getMessage.contains("WGS84-only"))
  }

  test("'WGS 84 / UTM' projected derivatives are rejected despite the name") {
    // meter coordinates wearing a WGS 84 name — the exact silent-garbage case
    intercept[IllegalArgumentException](GeoParquet.validateGeoMeta(
      """{"columns":{"geometry":{"crs":{"type":"ProjectedCRS","name":"WGS 84 / UTM zone 33N"}}}}"""))
    intercept[IllegalArgumentException](GeoParquet.validateGeoMeta(
      """{"columns":{"geometry":{"crs":{"type":"GeographicCRS","name":"WGS 84 / odd derived"}}}}"""))
  }

  test("legacy textual crs: geographic WGS84 WKT accepted, projected rejected") {
    GeoParquet.validateGeoMeta(
      """{"columns":{"geometry":{"crs":"GEOGCRS[\"WGS 84\",DATUM[...]]"}}}""")
    GeoParquet.validateGeoMeta("""{"columns":{"geometry":{"crs":"EPSG:4326"}}}""")
    intercept[IllegalArgumentException](GeoParquet.validateGeoMeta(
      """{"columns":{"geometry":{"crs":"PROJCRS[\"WGS 84 / UTM zone 33N\",...]"}}}"""))
    // a TOWGS84 datum-shift clause inside a non-WGS84 geographic WKT must
    // NOT pass the substring check — only the CRS NAME counts
    intercept[IllegalArgumentException](GeoParquet.validateGeoMeta(
      """{"columns":{"geometry":{"crs":"GEOGCS[\"Pulkovo 1942\",DATUM[\"P42\",SPHEROID[\"K\"],TOWGS84[23.92,-141.27,-80.9]]]"}}}"""))
    // GDAL names WGS84 feeds "unknown" but stamps the EPSG authority id
    GeoParquet.validateGeoMeta(
      """{"columns":{"geometry":{"crs":"GEOGCS[\"unknown\",DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\"]],AUTHORITY[\"EPSG\",\"4326\"]]"}}}""")
  }
}
