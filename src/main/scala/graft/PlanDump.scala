package graft

/** Optimization-round helper: writes `.explain("formatted")` for every
  * bench query to plans/<tag-dir>/<name>_<suffix>.txt so plan-shape claims
  * in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  *   sbt "runMain graft.PlanDump r07 before"
  *   sbt "runMain graft.PlanDump r07 before q19_embed_neardup q21_ann_lsh"
  *
  * Names after the suffix select `SparkEntry.queries` entries instead of
  * the bench's headline queries. Not part of the measured surface:
  * Bench.scala stays the only timing harness.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val round = if (args.length > 0) args(0) else "r07"
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-plandump")
    val outDir = java.nio.file.Paths.get(s"plans/$round")
    java.nio.file.Files.createDirectories(outDir)
    val names = args.drop(2)
    val queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] =
      if (names.nonEmpty) names.toSeq.map(n => n -> SparkEntry.queries(n))
      else Bench.headline
    queries.foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"wrote $name")
      } catch {
        case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
