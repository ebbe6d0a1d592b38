package graftbench

import graft.SparkEntry

/** warehouse_sql: read-only analytic SQL over the star schema. A fixed
  * mix of the relational keys of `SparkEntry.queries`, in an order the
  * seed permutes, run in whole passes until the time is up, so every
  * query counts equally. Each operation plans one query
  * (`queryExecution.executedPlan`), then materializes it through the
  * noop sink. Set-up runs the mix once, writing each result for the
  * DuckDB oracle check, which also warms the session. */
final class WarehouseSql(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  private val order = new scala.util.Random(ctx.seed).shuffle(WarehouseSql.Mix)
  private val perQuery = scala.collection.mutable.Map.empty[String, Vector[Double]]

  def setup(): Unit = {
    val verify = s"${ctx.work}/check"
    val (_, s) = ctx.timed {
      WarehouseSql.Mix.foreach { k =>
        SparkEntry.queries(k)(spark, ctx.in).write.mode("overwrite").parquet(s"$verify/$k")
      }
    }
    Main.writeLines(s"$verify/oracle_sql.json",
      Seq(Json.value(WarehouseSql.Mix.map(k => k -> SparkEntry.oracleSql(k)).toMap)))
    ctx.out("warmup_s") = s
    ctx.out("check_dir") = verify
  }

  private def query(k: String): Unit = tracer.span("queries.query") {
    val t0 = System.nanoTime()
    val df = tracer.span("queries.plan") {
      val df = SparkEntry.queries(k)(spark, ctx.in)
      df.queryExecution.executedPlan
      df
    }
    tracer.span("queries.exec") { df.write.format("noop").mode("overwrite").save() }
    perQuery(k) = perQuery.getOrElse(k, Vector.empty) :+ (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop, one client, in whole passes over the mix. */
  def phase(seconds: Double): Phase = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) order.foreach { k =>
      val s = System.nanoTime()
      try query(k)
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: query $k failed: $e")
      }
      lat += (System.nanoTime() - s) / 1e9
    }
    Phase(lat.toVector, lat.size - failed, (System.nanoTime() - t0) / 1e9, lat.size, failed)
  }

  def layers(r: Report, traced: Phase): Map[String, Double] = {
    val qs = r.named("queries.query")
    val n = math.max(1, qs.size).toDouble
    def wallPer(name: String) = r.sum(r.named(name))(_.wallNs / 1e9) / n
    Layers.empty ++ Map(
      "queries.plan_s" -> wallPer("queries.plan"),
      "queries.exec_s" -> wallPer("queries.exec"),
      "queries.jobs" -> r.sum(qs)(r.jobsOf(_).size) / n,
      "queries.shuffle_write_bytes" -> r.counter(qs)(_.shuffleWrite) / n,
      "queries.spill_bytes" -> r.counter(qs)(_.spill) / n,
      "queries.driver_gap_s" -> r.sum(qs)(r.gapNs(_) / 1e9) / n) ++
      Layers.sources(r, qs, n)
  }

  def finish(): Unit =
    ctx.out("per_query_p50_s") = perQuery.map { case (k, v) => k -> Stats.median(v) }
}

object WarehouseSql {
  /** Aggregates, percentiles, joins, IN-subquery, windows, top-k,
    * as-of and range joins, sessionize: read-only keys only. */
  val Mix: Seq[String] = Seq(
    "q1_agg", "a6_summary", "a9_percentile", "a4_topk_freq", "j2_inner_join",
    "j3_semi_join", "q3_shipping", "w2_in_subquery", "w1_row_number",
    "w3_running_sum", "w5_rank_family", "o1_topk_limit", "j5_asof_join",
    "j6_range_join", "s_sessionize")
}
