package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs and the helpers every workload shares. */
object Inputs {

  /** `n` consecutive image keys from a seeded start. Keys stay below 10⁹ so
    * image ids keep their fixed nine-digit form. */
  def keys(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val base = 1000L * (new scala.util.Random(seed).nextInt(900000) + 1)
    spark.range(n).select((col("id") + base).as("k"))
  }

  /** Forces `df` through the noop sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Caches `df` and forces it, so the next layer reads a materialised input. */
  def forced(df: DataFrame): DataFrame = { val c = df.cache(); noop(c); c }

  private val HashMod = 2147483647L

  /** Order-independent 31-bit hash of one row over `cols`. */
  def rowHash(cols: Seq[String]): org.apache.spark.sql.Column =
    pmod(xxhash64(cols.map(col): _*), lit(HashMod))

  /** Order-independent digest of a row multiset: (rows, Σ row hash). */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(cols)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private val dirs = new java.util.concurrent.atomic.AtomicInteger()

  /** A directory path under `work` that does not exist yet. */
  def freshDir(work: String): String =
    Paths.get(work, s"sink-${dirs.incrementAndGet()}").toAbsolutePath.toString

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  /** (parquet data files, their bytes) committed under a sink directory. */
  def dataFiles(dir: String): (Long, Long) = {
    val root = Paths.get(dir, "data")
    if (!Files.exists(root)) return (0L, 0L)
    val s = Files.walk(root)
    try {
      val files = s.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path])
      (files.length.toLong, files.map(Files.size).sum)
    } finally s.close()
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}
