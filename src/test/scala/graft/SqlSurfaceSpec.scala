package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL face of the engine: every graft function (scalars AND the
  * typed-imperative aggregates) must be callable from plain `spark.sql`,
  * because GraftExtensions injects them into the session's function registry
  * (`spark.sql.extensions=graft.GraftExtensions` on spark-submit). */
class SqlSurfaceSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("scalar geo/cell functions resolve and compute in pure SQL") {
    // note: SQL decimal literals need the D suffix — graft expressions
    // take exact runtime types (no implicit casts registered)
    val r = spark.sql(
      """SELECT
        |  h3_str(h3_cell(17.0297D, 51.1106D, 9)) AS h3,
        |  s2_token(s2_cell(17.0297D, 51.1106D, 14)) AS s2,
        |  st_area(st_box(0D, 0D, 2D, 3D)) AS area,
        |  hamming64(7L, 1L) AS ham
        |""".stripMargin).collect()(0)
    assert(r.getAs[String]("h3") === "891e2040897ffff")
    assert(r.getAs[String]("s2").nonEmpty)
    assert(r.getAs[Double]("area") === 6.0)
    assert(r.getAs[Int]("ham") === 2)
  }

  test("Gf.register is idempotent: it keeps what GraftExtensions injected") {
    val registry = spark.sessionState.functionRegistry
    def injected: Set[String] = registry.listFunction()
      .flatMap(registry.lookupFunction).filter(_.getClassName == "graft.functions")
      .map(_.getName).toSet
    val before = injected
    assert(before.contains("st_intersects") && before.contains("hamming64"))
    graft.functions.Gf.register(spark)
    assert(injected === before, "register replaced injected functions")
    // a session missing a function gets it registered
    val other = spark.newSession()
    other.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("hamming64"))
    graft.functions.Gf.register(other)
    assert(other.sql("SELECT hamming64(7L, 1L)").collect()(0).getInt(0) === 2)
  }

  test("typed-imperative aggregates work in SQL GROUP BY") {
    spark.range(100).select(
      (col("id") % 4).as("g"),
      (col("id") % 10).cast("double").as("score"),
      col("id").as("nid"))
      .createOrReplaceTempView("topk_in")
    val top = spark.sql(
      """SELECT g, topk_agg(score, nid, 3) AS top
        |FROM topk_in GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(top.length === 4)
    top.foreach { r =>
      val arr = r.getSeq[org.apache.spark.sql.Row](1)
      assert(arr.length === 3)
      // ids in group g have parity of g → even groups peak at 8, odd at 9
      val expectedBest = if (r.getLong(0) % 2 == 0) 8.0 else 9.0
      assert(arr.head.getDouble(0) === expectedBest)
    }

    import spark.implicits._
    import graft.core.Geo
    Seq(Tuple1(Geo.toWkb(Geo.box(0, 0, 1, 1))),
      Tuple1(Geo.toWkb(Geo.box(1, 0, 2, 1)))).toDF("g")
      .createOrReplaceTempView("union_in")
    val area = spark.sql(
      "SELECT st_area(st_union_agg(g)) AS a FROM union_in").collect()(0).getDouble(0)
    assert(math.abs(area - 2.0) < 1e-12)
  }

  test("stateful sessionization (flatMapGroupsWithState) matches the q09 window form") {
    import spark.implicits._
    import graft.streaming.Streams
    // deterministic event set with clear 30-min gaps; batch-mode
    // flatMapGroupsWithState exercises exactly the state-transition logic
    // the streaming query runs per micro-batch (the streaming engine's
    // plumbing is covered by StreamingSpec's memory-sink queries)
    val events = (0 until 200).map { i =>
      val user = i % 5
      val ts = i.toLong / 5 * 600000L + (if (i / 5 % 7 == 3) 7200000L * (i / 35 + 1) else 0L)
      Streams.SessEvent(user, ts, i.toLong)
    }
    val got = Streams.sessionize(events.toDS())
      .select("user_id", "session_seq", "session_start_ms", "n_events")

    // batch truth: q09's window logic over the same rows
    val df = events.toDF("user_id", "tsMs", "event_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tsMs"), col("event_id"))
    val batch = df
      .withColumn("prev", lag(col("tsMs"), 1).over(w))
      .withColumn("new_s", when(col("prev").isNull ||
        col("tsMs") - col("prev") > 1800000L, 1).otherwise(0))
      .withColumn("session_seq", sum("new_s").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_seq")
      .agg(min("tsMs").as("session_start_ms"), count(lit(1)).as("n_events"))
    // the stream only emits CLOSED sessions (append mode): every emitted
    // session must exactly match a batch session, and all but the final
    // (still-open) session per user must have been emitted
    assert(got.exceptAll(batch).count() === 0)
    val openPerUser = batch.count() - got.count()
    assert(openPerUser >= 0 && openPerUser <= 5)
    assert(got.count() > 0)
  }
}
