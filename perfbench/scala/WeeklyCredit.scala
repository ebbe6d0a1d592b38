package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Par
import graft.metrics.{Analytics, Classification}
import graft.ml.Training
import graft.pipeline.{Bronze, Gold, Schemas, Silver}
import graft.streaming.EventStream

/** weekly_credit: the paper's weekly lifecycle. Per week, in order:
  * raw CSV drops → bronze → silver → gold → feature and label stores,
  * each layer landed as parquet per week. Then one random-forest fit on
  * the early weeks scoring the later ones, per-week classification rows
  * into a parquet metrics store, and the analytics queries over it.
  * One operation of the closed loop is one whole lifecycle into a fresh
  * directory; its latencies are the weeks'. */
final class WeeklyCredit(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  private def strings(k: String): Seq[String] =
    ctx.meta.get(k).elements().asScala.map(_.asText).toSeq
  private val weeks = strings("weeks")
  private val trainWeeks = ctx.meta.get("train_weeks").asInt
  private val loansPerLifecycle = ctx.meta.get("loans").asLong
  private val sources = Seq("loan_terms", "demographic", "financial", "credit_history")
  private val classes = (0 to 6).map(_.toString)
  private var lifecycles = 0
  private val weekSeconds = mutable.ArrayBuffer.empty[Double]
  private val macroF1 = mutable.ArrayBuffer.empty[Double]
  private var lastComplete: Option[String] = None

  private def schema(src: String) = src match {
    case "loan_terms" => Schemas.loanTermsRaw
    case "demographic" => Schemas.demographicRaw
    case "financial" => Schemas.financialRaw
    case "credit_history" => Schemas.creditHistoryRaw
  }

  private def silverOf(src: String): DataFrame => DataFrame = src match {
    case "loan_terms" => Silver.loanTerms
    case "demographic" => Silver.demographic
    case "financial" => Silver.financial
    case "credit_history" => Silver.creditHistory
  }

  private def write(df: DataFrame, path: String): Unit =
    tracer.span("sources.parquet_write") { df.write.mode("overwrite").parquet(path) }

  /** One week from raw drop to feature and label store committed. The
    * four sources are independent, so each layer lands them through
    * `core.Par.run`, as graft's own pipeline drivers do. */
  private def processWeek(out: String, k: Int): Unit = {
    val w = weeks(k)
    def each(f: String => Unit): Unit = Par.run(sources.map(src => () => f(src)): _*)
    tracer.span("pipeline.bronze") {
      each { src =>
        Bronze.landPartitioned(
          Bronze.weekFilter(
            Bronze.scanCsv(spark, s"${ctx.in}/raw/$src/$w.csv", schema(src)), w),
          s"$out/bronze/$src/$k")
      }
    }
    tracer.span("pipeline.silver") {
      each { src =>
        val bronze = spark.read.parquet(s"$out/bronze/$src/$k").drop("week_start")
        write(silverOf(src)(bronze), s"$out/silver/$src/$k")
      }
    }
    tracer.span("pipeline.gold") {
      def silver(src: String) = spark.read.parquet(s"$out/silver/$src/$k")
      def gold(src: String) = spark.read.parquet(s"$out/gold/$src/$k")
      each { src =>
        val g = src match {
          case "loan_terms" =>
            Gold.loanTerms(silver(src), strings("purposes"), strings("statuses"))
          case "demographic" => Gold.demographic(silver(src), strings("addr_states"))
          case "financial" => Gold.financial(silver(src))
          case "credit_history" => Gold.creditHistory(silver(src))
        }
        write(g, s"$out/gold/$src/$k")
      }
      Par.run(
        () => write(Gold.featureStore(gold("loan_terms"), gold("demographic"),
          gold("financial"), gold("credit_history")), s"$out/feature_store/week=$k"),
        () => write(Gold.labelStore(silver("loan_terms")), s"$out/label_store/week=$k"))
    }
  }

  /** Fit on the first weeks, score the rest. The test label carries the
    * week (week * 10 + grade) so per-week metrics survive `assemble`,
    * which keeps only features and label; the fit never sees it. */
  private def fitPredict(out: String): Unit = tracer.span("ml.fit_predict") {
    val fs = spark.read.parquet(s"$out/feature_store")
    val featureCols = fs.columns.toSeq.filterNot(Set("id", "grade_encoded", "week"))
    val train = Training.assemble(fs.filter(col("week") < trainWeeks),
      featureCols, "grade_encoded")
    val test = Training.assemble(fs.filter(col("week") >= trainWeeks)
      .withColumn("week_grade", col("week") * 10 + col("grade_encoded")),
      featureCols, "week_grade")
    val scored = new Training.RandomForestBackend(numTrees = 20, maxDepth = 8, seed = 42L)
      .fitPredict(train, test)
      .select(floor(col("label") / 10).cast("int").as("week"),
        (col("label") % 10).cast("int").cast("string").as("grade"),
        col("prediction").cast("int").cast("string").as("prediction"))
    write(scored, s"$out/scored")
  }

  private def classify(out: String): Unit = tracer.span("metrics.classification") {
    val scored = spark.read.parquet(s"$out/scored")
    val rows = (trainWeeks until weeks.size).map { k =>
      val conf = Classification.confusion(scored.filter(col("week") === k),
        "grade", "prediction")
      val predDist = conf.groupBy("prediction").agg(sum("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Classification.metricsRow(spark, weeks(k).replace('-', '_'), "random_forest",
        "2023-06-01 00:00:00",
        Classification.summarize(conf, classes), predDist)
    }
    macroF1 += Classification.summarize(
      Classification.confusion(scored, "grade", "prediction"), classes).macroF1
    write(rows.reduce(_ unionByName _), s"$out/metrics_store")
  }

  private def analytics(out: String): Unit = tracer.span("metrics.analytics") {
    val m = spark.read.parquet(s"$out/metrics_store")
    Analytics.modelSummary(m).collect()
    Analytics.recentWeeks(m, 2).collect()
    Analytics.bestModelPerWeek(m).collect()
    Analytics.latestForWeek(m, weeks.last.replace('-', '_')).collect()
  }

  private def lifecycle(): Long = tracer.span("lifecycle") {
    val out = s"${ctx.work}/lifecycle_$lifecycles"
    lifecycles += 1
    val ledger = mutable.Set.empty[String]
    val index = weeks.zipWithIndex.toMap
    EventStream.runWeeklyOrdered(weeks, ledger) { w =>
      val (_, s) = ctx.timed(tracer.span("pipeline.week")(processWeek(out, index(w))))
      weekSeconds += s
    }
    fitPredict(out)
    classify(out)
    analytics(out)
    lastComplete.foreach(ctx.deleteRecursively)
    lastComplete = Some(out)
    loansPerLifecycle
  }

  def setup(): Unit = ()

  def phase(seconds: Double): Phase = {
    weekSeconds.clear()
    ctx.closedLoop(seconds)(lifecycle()).copy(latencies = weekSeconds.toVector)
  }

  def layers(r: Report, traced: Phase): Map[String, Double] = {
    val weeksT = r.named("pipeline.week")
    val nWeeks = math.max(1, weeksT.size).toDouble
    val nLc = math.max(1, r.named("ml.fit_predict").size).toDouble
    def selfPerWeek(n: String) = r.sum(r.named(n))(r.selfNs(_) / 1e9) / nWeeks
    def selfPerLc(n: String) = r.sum(r.named(n))(r.selfNs(_) / 1e9) / nLc
    val fits = r.named("ml.fit_predict")
    Layers.empty ++ Map(
      "pipeline.bronze.self_s" -> selfPerWeek("pipeline.bronze"),
      "pipeline.silver.self_s" -> selfPerWeek("pipeline.silver"),
      "pipeline.gold.self_s" -> selfPerWeek("pipeline.gold"),
      "pipeline.week.jobs" -> r.sum(weeksT)(r.jobsOf(_).size) / nWeeks,
      "pipeline.week.driver_gap_s" -> r.sum(weeksT)(r.gapNs(_) / 1e9) / nWeeks,
      "pipeline.week.shuffle_write_bytes" -> r.counter(weeksT)(_.shuffleWrite) / nWeeks,
      "pipeline.week.task_cpu_s" -> r.counter(weeksT)(_.cpuNs) / 1e9 / nWeeks,
      "ml.fit_predict.self_s" -> selfPerLc("ml.fit_predict"),
      "ml.fit_predict.tasks" -> r.counter(fits)(_.tasks) / nLc,
      "ml.macro_f1" -> Stats.mean(macroF1.toSeq),
      "metrics.classification.self_s" -> selfPerLc("metrics.classification"),
      "metrics.analytics.self_s" -> selfPerLc("metrics.analytics")) ++
      Layers.sources(r, r.named("lifecycle"), nWeeks)
  }

  def finish(): Unit = {
    ctx.out("lifecycle_dir") = lastComplete.orNull
    ctx.out("macro_f1") = macroF1.toSeq
    ctx.out("lifecycles") = lifecycles
  }
}
