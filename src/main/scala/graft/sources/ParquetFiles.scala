package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The one recursive file listing, the one footer opener and the one
  * driver-side parquet writer behind the sink's commit, its maintenance and
  * the GeoParquet CRS check.
  *
  * The listing and the opener avoid a per-file cost that dominated a
  * driver-side commit on the local filesystem: a recursive
  * `FileSystem.listFiles` builds a `LocatedFileStatus` (one
  * `getFileBlockLocations` call) per file, which nothing here reads, and the
  * one-argument `ParquetFileReader.open` rebuilds its read options and
  * re-stats the file on every call. The walk is plain `listStatus`
  * recursion, and footers open straight from the listed status with options
  * built once per batch of reads.
  *
  * The writer lands a few rows the driver already holds as one file without
  * a Spark job: no task, no `_temporary` tree, no `_SUCCESS` (the way
  * Iceberg's committer writes its manifests). */
private[graft] object ParquetFiles {

  /** Files under `root` (or `root` itself when it is a file), depth first.
    * Files whose NAME starts with `_` or `.` (`_SUCCESS`, `.crc` sidecars)
    * are skipped; directories are always descended, whatever their name, so
    * a partition dir like `_cell=...` is walked like any other. Lazy: a
    * caller that stops early lists no further directories. A missing root
    * has no files. */
  def visible(fs: FileSystem, root: Path): Iterator[FileStatus] = {
    def walk(st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(walk)
      else {
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Iterator.empty
        else Iterator.single(st)
      }
    try walk(fs.getFileStatus(root))
    catch { case _: FileNotFoundException => Iterator.empty }
  }

  /** Footer opener for a batch of reads: the read options come from `conf`
    * once, and each file opens from its listed status. */
  final class Footers(conf: Configuration) {
    private val options = HadoopReadOptions.builder(conf).build()

    def apply[T](st: FileStatus)(f: ParquetFileReader => T): T = {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
      try f(r) finally r.close()
    }
  }

  private final class RowWriter(file: HadoopOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override protected def self(): RowWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Write `rows` of `schema` from the driver as ONE parquet file at
    * `path`, failing if it exists. Spark's own `ParquetWriteSupport` does
    * the encoding, so the file schema and the Spark footer metadata are
    * what a Spark write of the same rows produces; the write support reads
    * its format settings from the Hadoop conf, copied here from the
    * session's SQL conf as Spark's parquet write does. The codec is the
    * session's `spark.sql.parquet.compression.codec`, resolved through
    * Spark's own `ParquetOptions`. */
  def write(spark: SparkSession, path: Path, schema: StructType, rows: Seq[Row]): Unit = {
    val sql = spark.sessionState.conf
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, sql.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, sql.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, sql.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.parquetAnnotateVariantLogicalType.toString)
    ParquetWriteSupport.setSchema(schema, conf)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val internal = rows.map(r => toInternal(r).asInstanceOf[InternalRow])
    val w = new RowWriter(HadoopOutputFile.fromPath(path, conf)).withConf(conf)
      .withCompressionCodec(CompressionCodecName.valueOf(
        new ParquetOptions(Map.empty[String, String], sql).compressionCodecClassName))
      .withWriteMode(ParquetFileWriter.Mode.CREATE).build()
    try internal.foreach(w.write) finally w.close()
  }
}
