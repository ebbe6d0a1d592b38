package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Dedup
import graft.plans.GraftFunctions
import graft.streaming.EventStream

/** curation_ingest: store-backed LLM-curation ingest. Set-up installs
  * the landed corpus into an exact-fingerprint store and a near-dup
  * store. Each operation of the closed loop lands the next drop file in
  * the stream's input directory, then runs one `Trigger.AvailableNow`
  * pass of the exact-dedup ingest and one of the near-dup ingest, each
  * appending its survivors to its store and publishing them. Both
  * loops fold their store every `CompactEvery` triggers. */
final class CurationIngest(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  private val CompactEvery = 2
  private val Threshold = 0.8
  private val landed = spark.read.parquet(s"${ctx.in}/landed.parquet")
  private val dropFiles = new java.io.File(s"${ctx.in}/drops").listFiles()
    .map(_.getName).filter(_.endsWith(".parquet")).sorted.toVector
  private val dropDocs = ctx.meta.get("drop_docs").asLong
  private val streamIn = s"${ctx.work}/stream_in"
  private val store = s"${ctx.work}/store"
  private var next = 0

  private def fpDir = s"$store/fp"
  private def ndDir = s"$store/nd"
  private def kept(kind: String) = s"${ctx.work}/kept_$kind"

  /** Generation dirs of a store table: appends add one, a fold resets. */
  private def generations(table: String): Int =
    Option(new java.io.File(table).listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.startsWith("batch="))

  private def install(): Unit = {
    tracer.span("operators.fp_install") {
      Dedup.writeFpStore(landed, "doc_id", "text", fpDir,
        expectedTotalFps = 4L * landed.count())
    }
    tracer.span("operators.neardup_install") {
      Dedup.writeNearDupStore(landed, "doc_id", "text", ndDir)
    }
  }

  def setup(): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(streamIn))
    if (ctx.trace) tracer.enable()
    ctx.out("install_s") = ctx.timed(install())._2
    if (ctx.trace) tracer.disable()
  }

  private def runQuery(kind: String): Unit = tracer.span(s"streaming.$kind.drop") {
    val table = if (kind == "exact") s"$fpDir/fps" else s"$ndDir/signatures"
    val before = generations(table)
    val docs = spark.readStream.schema(landed.schema).parquet(streamIn)
    val writer =
      if (kind == "exact")
        EventStream.streamingExactDedupIngest(docs, fpDir, kept(kind), "doc_id", "text",
          compactEvery = CompactEvery)
      else
        EventStream.streamingNearDupIngest(docs, ndDir, kept(kind), "doc_id", "text",
          threshold = Threshold, compactStoreEvery = CompactEvery)
    val t0 = System.nanoTime()
    val q = writer.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"${ctx.work}/checkpoint_$kind").start()
    tracer.bind(q.runId.toString, t0)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    if (generations(table) < before) tracer.attr("fold", 1)
  }

  /** Land the next drop, then run both ingest passes over it. */
  private def ingest(): Long = tracer.span("streaming.drop") {
    val name = dropFiles(next)
    next += 1
    val src = java.nio.file.Paths.get(s"${ctx.in}/drops/$name")
    val tmp = java.nio.file.Paths.get(s"$streamIn/.$name.tmp")
    java.nio.file.Files.copy(src, tmp)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$streamIn/$name"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    runQuery("exact")
    runQuery("neardup")
    spark.catalog.clearCache()
    dropDocs
  }

  /** At least three drops: the median is then a warm drop, and both
    * stores fold (the exact one on the second trigger, the near-dup one
    * on the third). */
  def phase(seconds: Double): Phase =
    ctx.closedLoop(seconds, minOps = 3, more = next < dropFiles.size)(ingest())

  private def dirStats(dir: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
    (files.map(java.nio.file.Files.size).sum, files.size.toLong)
  }

  private def processed: DataFrame =
    spark.read.parquet(dropFiles.take(next).map(n => s"${ctx.in}/drops/$n"): _*)

  private def textBytes(df: DataFrame): Double =
    df.agg(sum(octet_length(col("text")))).first().getLong(0).toDouble

  /** ns per row of one kernel over a cached input, median of 3 passes. */
  private def nsPerRow(input: DataFrame, expr: org.apache.spark.sql.Column): Double = {
    val rows = input.count()
    val secs = (0 until 3).map { _ =>
      ctx.timed(input.select(expr.as("k")).write.format("noop").mode("overwrite").save())._2
    }
    Stats.median(secs) * 1e9 / rows
  }

  def layers(r: Report, traced: Phase): Map[String, Double] = {
    def drops(kind: String) = r.named(s"streaming.$kind.drop")
    def wall(ss: Seq[Tracer.Span]) = ss.map(_.wallNs / 1e9)
    val streaming = Seq("exact", "neardup").flatMap { kind =>
      val ss = drops(kind)
      val n = math.max(1, ss.size).toDouble
      val prog = ss.map(s => s -> r.progress.getOrElse(s.id, Nil))
      Seq(
        s"streaming.$kind.drop_s" -> Stats.median(wall(ss)),
        s"streaming.$kind.start_s" -> Stats.median(prog.collect {
          case (s, p) if p.nonEmpty => (p.map(_.triggerStartNs).min - s.queryStartNs) / 1e9 }),
        s"streaming.$kind.add_batch_s" -> Stats.median(prog.map(_._2.map(_.addBatchNs).sum / 1e9)),
        s"streaming.$kind.jobs_per_drop" -> r.sum(ss)(r.jobsOf(_).size) / n,
        s"streaming.$kind.driver_gap_share" ->
          r.sum(ss)(r.gapNs(_).toDouble) / math.max(1.0, r.sum(ss)(_.wallNs.toDouble)),
        s"streaming.$kind.fold_drop_s" ->
          Stats.median(wall(ss.filter(_.attrs.contains("fold")))))
    }
    val nd = drops("neardup")
    val (fpBytes, fpFiles) = dirStats(fpDir)
    val (ndBytes, ndFiles) = dirStats(ndDir)
    val all = landed.unionByName(processed)
    // kernels timed over the generated text: the landed docs for the
    // gram kernel, every drop's tokens probing a filter of landed tokens
    val texts = landed.select("text").cache()
    val tokens = spark.read.parquet(s"${ctx.in}/drops")
      .select(explode(split(col("text"), " ")).as("tok")).cache()
    val bloom = landed.select(explode(split(col("text"), " ")).as("tok"))
      .stat.bloomFilter(xxhash64(col("tok")), 1000000L, 0.01)
    val layer = Map(
      "operators.fp_install.self_s" -> Stats.median(r.named("operators.fp_install").map(r.selfNs(_) / 1e9)),
      "operators.neardup_install.self_s" -> Stats.median(r.named("operators.neardup_install").map(r.selfNs(_) / 1e9)),
      "operators.fp_store.bytes" -> fpBytes.toDouble,
      "operators.fp_store.files" -> fpFiles.toDouble,
      "operators.neardup_store.bytes" -> ndBytes.toDouble,
      "operators.neardup_store.files" -> ndFiles.toDouble,
      "operators.neardup.shuffle_write_bytes_per_drop" ->
        r.counter(nd)(_.shuffleWrite) / math.max(1, nd.size),
      "operators.exact.survivor_share" -> survivorShare("exact"),
      "operators.neardup.survivor_share" -> survivorShare("neardup"),
      "operators.store_bytes_per_input_byte" -> (fpBytes + ndBytes) / textBytes(all),
      "functions.char_gram_hashes.ns_per_row" ->
        nsPerRow(texts, size(GraftFunctions.charGramHashes(spark, col("text"), 5))),
      "functions.bloom_might_contain.ns_per_row" ->
        nsPerRow(tokens, GraftFunctions.bloomMightContain(spark, xxhash64(col("tok")),
          graft.functions.BloomMightContain.toBytes(bloom))))
    texts.unpersist(); tokens.unpersist()
    Layers.empty ++ streaming ++ layer ++
      Layers.sources(r, r.named("streaming.drop"), math.max(1, traced.ops).toDouble)
  }

  private def survivorShare(kind: String): Double =
    graft.sources.Sources.readPublished(spark, kept(kind)).count().toDouble /
      math.max(1L, processed.count())

  def finish(): Unit = {
    val check = s"${ctx.work}/check"
    Seq("exact", "neardup").foreach { kind =>
      graft.sources.Sources.readPublished(spark, kept(kind)).select("doc_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$check/kept_$kind")
    }
    ctx.out("drops_processed") = next
    ctx.out("check_dir") = check
  }
}
