package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The one recursive file listing and the one footer opener behind the
  * sink's commit, its maintenance and the GeoParquet CRS check.
  *
  * Both avoid a per-file cost that dominated a driver-side commit on the
  * local filesystem: a recursive `FileSystem.listFiles` builds a
  * `LocatedFileStatus` (one `getFileBlockLocations` call) per file, which
  * nothing here reads, and the one-argument `ParquetFileReader.open`
  * rebuilds its read options and re-stats the file on every call. The walk is plain `listStatus`
  * recursion, and footers open straight from the listed status with options
  * built once per batch of reads. */
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
}
