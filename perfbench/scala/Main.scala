package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, measure a closed loop with one
  * client for the given seconds, write what the checks need, and write
  * `result.json` for perfbench/run.py, which checks the outputs and
  * prints the metrics.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --cores <N> --in <inputs> --work <scratch dir>
  *
  * `--trace 0` measures for the given seconds with tracing off.
  * `--trace 1` runs three phases of that length: untraced, traced,
  * untraced. It reports the per-layer figures of the traced phase and
  * its overhead: the traced median operation latency over the mean of
  * the two untraced medians, minus 1 (the untraced phases bracket the
  * traced one, so the JIT warming over the run cancels). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = a("cores").toInt
    val spark = graft.core.GraftSession.build("graft-perfbench", cores, cores)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    spark.sparkContext.setLogLevel("ERROR")
    val trace = a("trace") == "1"
    val ctx = new Ctx(spark, new Tracer(spark, s"${a("workload")}-${a("seed")}"),
      a("in"), a("work"), a("seconds").toDouble, trace, a("seed").toLong)
    val w: Workload = a("workload") match {
      case "weekly_credit" => new WeeklyCredit(ctx)
      case "curation_ingest" => new CurationIngest(ctx)
      case "warehouse_sql" => new WarehouseSql(ctx)
    }
    ctx.out("session_s") = sessionS
    try {
      w.setup()
      if (!trace) ctx.out("phase") = w.phase(ctx.seconds).json
      else {
        val before = w.phase(ctx.seconds)
        ctx.tracer.enable()
        val traced = w.phase(ctx.seconds)
        ctx.tracer.disable()
        val after = w.phase(ctx.seconds)
        val untracedP50 = (Stats.median(before.latencies) + Stats.median(after.latencies)) / 2
        val r = ctx.tracer.report()
        ctx.out("phase") = traced.json
        ctx.out("layers") = w.layers(r, traced) +
          ("trace.overhead_share" -> (Stats.median(traced.latencies) / untracedP50 - 1))
        writeLines(s"${ctx.work}/spans.jsonl", r.spanLines)
      }
      w.finish()
      ctx.out("peak_rss_mb") = peakRssMb()
      writeLines(s"${ctx.work}/result.json", Seq(Json.value(ctx.out)))
    } finally spark.stop()
  }

  /** VmHWM of this JVM. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def writeLines(path: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
}

/** What every workload shares: the session, the tracer, the input and
  * scratch directories, and the result being assembled. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val in: String,
                val work: String, val seconds: Double, val trace: Boolean,
                val seed: Long) {
  val out: mutable.Map[String, Any] = mutable.LinkedHashMap.empty

  /** The generator's description of the inputs (sizes, dictionaries). */
  lazy val meta: com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(s"$in/meta.json"))

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Closed loop, one client: the next operation starts only when the
    * previous one has ended, while fewer than `seconds` have passed or
    * fewer than `minOps` ran, and while `more` says inputs remain. Each
    * op returns its items (loans, docs, queries); an op that throws
    * counts as failed and the loop goes on. */
  def closedLoop(seconds: Double, minOps: Int = 1, more: => Boolean = true)
                (op: => Long): Phase = {
    val lat = mutable.ArrayBuffer.empty[Double]
    var (items, ops, failed) = (0L, 0, 0)
    val t0 = System.nanoTime()
    def fits = ops < minOps || (System.nanoTime() - t0) / 1e9 < seconds
    while (fits && more) {
      val s = System.nanoTime()
      try items += op
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: operation failed: $e")
      }
      ops += 1
      lat += (System.nanoTime() - s) / 1e9
    }
    Phase(lat.toVector, items, (System.nanoTime() - t0) / 1e9, ops, failed)
  }

  def deleteRecursively(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** One measured phase. `latencies` are per operation: a whole
  * lifecycle, a drop or a query; workloads with finer latencies (weeks)
  * replace them. */
final case class Phase(latencies: Vector[Double], items: Long, wall: Double,
                       ops: Int, failed: Int) {
  def json: Map[String, Any] = Map("latencies_s" -> latencies, "items" -> items,
    "wall_s" -> wall, "ops" -> ops, "failed" -> failed)
}

trait Workload {
  /** Set-up after the session exists: store installs, warm-up. */
  def setup(): Unit
  def phase(seconds: Double): Phase
  /** Per-layer metrics of the traced phase. */
  def layers(r: Report, traced: Phase): Map[String, Double]
  /** Write the outputs the correctness checks read. */
  def finish(): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** The per-layer metric names every traced run reports, zero where the
  * workload never enters the layer, and the `sources` figures shared by
  * all three workloads. */
object Layers {
  val names: Seq[String] = Seq(
    "pipeline.bronze.self_s", "pipeline.silver.self_s", "pipeline.gold.self_s",
    "pipeline.week.jobs", "pipeline.week.driver_gap_s",
    "pipeline.week.shuffle_write_bytes", "pipeline.week.task_cpu_s",
    "sources.parquet_write.self_s", "sources.bytes_written", "sources.scan_bytes",
    "ml.fit_predict.self_s", "ml.fit_predict.tasks", "ml.macro_f1",
    "metrics.classification.self_s", "metrics.analytics.self_s") ++
    Seq("exact", "neardup").flatMap(k => Seq("drop_s", "start_s", "add_batch_s",
      "jobs_per_drop", "driver_gap_share", "fold_drop_s").map(m => s"streaming.$k.$m")) ++
    Seq("operators.fp_install.self_s", "operators.neardup_install.self_s",
      "operators.fp_store.bytes", "operators.fp_store.files",
      "operators.neardup_store.bytes", "operators.neardup_store.files",
      "operators.neardup.shuffle_write_bytes_per_drop",
      "operators.exact.survivor_share", "operators.neardup.survivor_share",
      "operators.store_bytes_per_input_byte",
      "functions.char_gram_hashes.ns_per_row", "functions.bloom_might_contain.ns_per_row",
      "queries.plan_s", "queries.exec_s", "queries.jobs", "queries.shuffle_write_bytes",
      "queries.spill_bytes", "queries.driver_gap_s")

  def empty: Map[String, Double] = names.map(_ -> 0.0).toMap

  /** Parquet writes and scans per operation, over the given op spans. */
  def sources(r: Report, ops: Seq[Tracer.Span], n: Double): Map[String, Double] = Map(
    "sources.parquet_write.self_s" ->
      r.sum(r.named("sources.parquet_write"))(r.selfNs(_) / 1e9) / n,
    "sources.bytes_written" -> r.counter(ops)(_.bytesWritten) / n,
    "sources.scan_bytes" -> r.counter(ops)(_.bytesRead) / n)
}
