package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** GeoParquet-aware reader (L1; reference:
  * srai/loaders/geoparquet_loader.py:27-68 loads GeoParquet and reprojects
  * everything to WGS84). The engine's convention is WGS84-only, so instead
  * of reprojecting, reads ASSERT the file's CRS: if the parquet footer
  * carries the GeoParquet `geo` key, every geometry column must declare
  * EPSG:4326 / OGC:CRS84 (or no CRS — the spec default is CRS84), otherwise
  * the read fails loudly. A mis-CRS'd input would otherwise silently join
  * garbage cells. Plain parquet without the `geo` key is accepted by the
  * documented WGS84-by-convention stance.
  *
  * Cost: one footer read of one data file per table open — metadata only,
  * independent of table size. */
object GeoParquet {

  /** @param checkAllFooters validate every data file's footer instead of
    *        the first one listed. Default false: a table written by ONE
    *        producer carries one metadata stamp, and O(files) footer opens
    *        at table-open time is real cost on a large table. Turn on for
    *        directories assembled from multiple producers (mixed-CRS parts
    *        would otherwise slip past a lucky first listing). */
  def read(spark: SparkSession, path: String,
           checkAllFooters: Boolean = false): DataFrame = {
    assertWgs84(spark, path, checkAllFooters)
    spark.read.parquet(path)
  }

  /** Footer-level CRS assert on the data file(s) under `path`. */
  def assertWgs84(spark: SparkSession, path: String,
                  checkAllFooters: Boolean = false): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val files =
      if (status.isFile) Iterator.single(status)
      else {
        val parts = ParquetFiles.visible(fs, p)
          .filter(_.getPath.getName.endsWith(".parquet"))
        if (checkAllFooters) parts else parts.take(1)
      }
    val footers = new ParquetFiles.Footers(conf)
    for (file <- files) {
      val geo = footers(file)(_.getFooter.getFileMetaData.getKeyValueMetaData.get("geo"))
      if (geo != null) validateGeoMeta(geo, file.getPath.toString)
    }
  }

  /** Validate a GeoParquet `geo` metadata JSON document: every declared
    * geometry column's CRS must be WGS84 (EPSG:4326 / OGC:CRS84) or absent
    * (the GeoParquet spec default, OGC:CRS84). */
  private[graft] def validateGeoMeta(json: String, source: String = "<meta>"): Unit = {
    val root = new ObjectMapper().readTree(json)
    val cols = root.path("columns")
    if (cols.isMissingNode) return
    val names = cols.fieldNames()
    while (names.hasNext) {
      val name = names.next()
      val crs = cols.path(name).path("crs")
      if (!crs.isMissingNode && !crs.isNull) {
        val ok =
          if (crs.isTextual) {
            // legacy (spec <= 0.4 era) encoding: crs is a WKT/authority
            // string; accept only a GEOGRAPHIC WGS84 text. Match the CRS
            // NAME (first quoted token), not the whole body: most non-WGS84
            // geographic WKT1 strings carry a TOWGS84[...] datum-shift
            // clause whose substring would false-positive a contains check.
            val t = crs.asText()
            if (t.startsWith("EPSG:") || t.startsWith("OGC:"))
              t == "EPSG:4326" || t == "OGC:CRS84"
            else if (t.startsWith("GEOGCRS") || t.startsWith("GEOGCS")) {
              val name = "\\[\\s*\"([^\"]+)\"".r.findFirstMatchIn(t)
                .map(_.group(1)).getOrElse("")
              // name says WGS84, OR an explicit EPSG:4326 authority id —
              // GDAL writes GEOGCS["unknown",...,AUTHORITY["EPSG","4326"]]
              name.contains("WGS 84") || name.contains("WGS84") ||
                name.contains("CRS84") ||
                "(?:AUTHORITY|ID)\\[\"EPSG\",\\s*\"?4326\"?\\]".r
                  .findFirstIn(t).isDefined
            } else false
          } else {
            val id = crs.path("id")
            val auth = id.path("authority").asText("")
            val code = id.path("code").asText("")
            // PROJJSON 'id' is optional — a WGS84 CRS defined by name only
            // must still be accepted, but ONLY a geographic one: projected
            // derivatives are named like "WGS 84 / UTM zone 33N" and carry
            // meter coordinates
            val projName = crs.path("name").asText("")
            val projType = crs.path("type").asText("")
            (auth == "OGC" && code == "CRS84") ||
              (auth == "EPSG" && code == "4326") ||
              (id.isMissingNode && projType.startsWith("Geographic") &&
                !projName.contains("/") &&
                (projName.contains("WGS 84") || projName.contains("CRS84")))
          }
        require(ok, s"GeoParquet column '$name' in $source declares a " +
          s"non-WGS84 (or non-geographic) CRS: ${crs.toString.take(200)} — " +
          "this engine is WGS84-only (EPSG:4326 / OGC:CRS84); reproject " +
          "before loading (reference geoparquet_loader.py:52-60 calls " +
          "to_crs(WGS84))")
      }
    }
  }
}
