package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import graft.GraftSession

/** Benchmark process for one run of one workload:
  *
  *   PerfBench --workload <ingest|join_dedup> --seed <n>
  *             --seconds <s> --trace <0|1> --cpus <n> --work <dir> --out <file>
  *
  * Set-up (session, seeded inputs, warm-up jobs), then a closed loop of
  * jobs, one at a time, until the timed jobs add up to `seconds` (output
  * checks run between jobs, untimed). With `--trace 1` the
  * loop alternates untraced jobs and traced jobs (each layer forced on its
  * own under a span), then times each kernel alone. Writes raw timings,
  * checks, spans and Spark listener records to `--out` as JSON; the metrics
  * are derived from them by `perfbench/run.py`.
  */
object PerfBench {

  final case class JobResult(seconds: Double, traced: Boolean, error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    Files.createDirectories(Paths.get(work))

    val spark = GraftSession.local(opt("cpus").toInt, s"perfbench-$name")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(trace)
    val recorder = new Recorder(tracer)
    if (trace) recorder.register(spark.sparkContext, spark)

    val w: Workload = name match {
      case "ingest" => new Ingest(spark, seed, work, tracer)
      case "join_dedup" =>
        new JoinDedup(new FootprintJoin(spark, seed, tracer), new ImageDedup(spark, seed, tracer))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    }

    val genS = (1 to 3).map(_ => timed(w.generate())._2)
    val (_, checksPrepS) = timed(w.prepareChecks())
    val (warmCheck, warmupS) = timed(w.warmUp())
    val setupErrors = warmCheck().map(e => s"warm-up: $e").toSeq

    val jobs = ArrayBuffer.empty[JobResult]
    def runJob(traced: Boolean): Unit = {
      val (out, dt) = timed(
        try Right(tracer.span(if (traced) "job.traced" else "job")(w.job(traced)))
        catch { case NonFatal(e) => Left(e.toString) })
      val error = out match {
        case Left(e) => Some(e)
        case Right(check) =>
          try check() catch { case NonFatal(e) => Some(s"check: $e") }
      }
      jobs += JobResult(dt, traced, error)
    }
    val loopStart = System.nanoTime()
    var i = 0
    while (i < (if (trace) 2 else 1) || jobs.map(_.seconds).sum < seconds) {
      runJob(traced = trace && i % 2 == 1)
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val extra = w.afterLoop(trace)
    if (trace) w.kernels()
    val peakRssKb = Inputs.peakRssKb()

    val result = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "input_rows" -> w.inputRows,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "gen_s" -> genS, "checks_prep_s" -> checksPrepS, "warmup_s" -> warmupS,
      "loop_s" -> loopS,
      "setup_errors" -> setupErrors,
      "jobs" -> jobs.map(j => Map("s" -> j.seconds, "traced" -> j.traced, "error" -> j.error.orNull)),
      "extra_errors" -> extra.map(_.orNull),
      "peak_rss_kb" -> peakRssKb,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)),
      "spark_jobs" -> recorder.synchronized(recorder.jobs.map(j =>
        Seq(j.span, j.startMs, j.endMs)).toList),
      "tasks" -> recorder.synchronized(recorder.tasks.map(t => Seq(t.span, t.stage,
        t.launchMs, t.finishMs, t.runMs, t.cpuNs, t.gcMs, t.shuffleWriteBytes,
        t.shuffleReadBytes, t.spillBytes)).toList),
      "queries" -> recorder.synchronized(recorder.queries.map(q =>
        Map("span" -> q.span, "name" -> q.name, "join_rows" -> q.joinRows,
          "encode_rows" -> q.encodeRows)).toList))
    Files.write(Paths.get(opt("out")), org.json4s.jackson.Serialization.write(result)(
      org.json4s.DefaultFormats).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
