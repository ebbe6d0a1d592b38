package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span recorder for the traced run.
  *
  * A span is a named interval of the benchmark's own code around one
  * call into a graft layer. Spans nest on the calling thread and the
  * threads it starts; each records its parent and the run id. While a span is open, the
  * benchmark sets Spark's job group to the span's id (Spark local
  * properties are inherited by threads the layer starts, e.g.
  * `core.Par.run`), so a `SparkListener` can attribute every job, and
  * through its stages every task's counters, to the innermost span.
  * Streaming queries run their batches on their own thread under their
  * run id as the job group; `bind` maps that id to the span that
  * started the query.
  *
  * Disabled (the untraced run), `span` is a plain call: no job group is
  * set and no listener is registered. Everything is kept in memory and
  * read out when the traced phase ends. */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._
  private val sc = spark.sparkContext
  @volatile private var on = false
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  // inheritable: a layer's helper threads (core.Par.run) nest their
  // spans under the span that started them
  private val cur = new InheritableThreadLocal[Int] { override def initialValue(): Int = -1 }
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val bindings = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  // wall clock ms (listener event times) -> nanoTime domain
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val progress = mutable.ArrayBuffer.empty[Progress]
  @volatile private var lastEventNs = System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).map(_.getProperty(GroupKey)).orNull
      jobs(e.jobId) = JobRec(e.jobId, group, e.time * 1000000L + nsOffset)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endNs = e.time * 1000000L + nsOffset)
      lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      for (j <- stageJob.get(e.stageId); rec <- jobs.get(j)) {
        rec.tasks += 1
        if (m != null) {
          rec.cpuNs += m.executorCpuTime
          rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          rec.bytesRead += m.inputMetrics.bytesRead
          rec.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
      lastEventNs = System.nanoTime()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val addBatchMs = Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
        progress += Progress(p.runId.toString,
          java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + nsOffset,
          addBatchMs * 1000000L)
        lastEventNs = System.nanoTime()
      }
  }

  /** Start recording: register both listeners. */
  def enable(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stop recording: wait until the listener buses have delivered the
    * events of the work already done, then unregister. */
  def disable(): Unit = if (on) {
    quiesce()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + 15000000000L
    def settled: Boolean = synchronized {
      jobs.values.forall(_.endNs > 0) &&
        System.nanoTime() - lastEventNs > 300000000L
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Run `body` as a child span of the thread's current span. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val parent = cur.get
      val s = Span(nextId.getAndIncrement(), name, parent, System.nanoTime())
      synchronized { spanBuf += s }
      val (g, d) = (sc.getLocalProperty(GroupKey), sc.getLocalProperty(DescKey))
      sc.setJobGroup(s"$Prefix${s.id}", name, interruptOnCancel = false)
      cur.set(s.id)
      try body
      finally {
        s.endNs = System.nanoTime()
        cur.set(parent)
        sc.setLocalProperty(GroupKey, g)
        sc.setLocalProperty(DescKey, d)
      }
    }

  /** Tag the current span with a numeric attribute. */
  def attr(key: String, v: Double): Unit =
    if (on) synchronized { spanBuf.find(_.id == cur.get).foreach(_.attrs(key) = v) }

  /** Attribute the jobs of a streaming query (job group = its run id),
    * and its progress events, to the current span. */
  def bind(queryRunId: String, startNs: Long): Unit =
    if (on) {
      bindings.put(queryRunId, cur.get)
      synchronized { spanBuf.find(_.id == cur.get).foreach(_.queryStartNs = startNs) }
    }

  /** Immutable view of what was recorded, for the per-layer metrics. */
  def report(): Report = synchronized {
    val spanOf: JobRec => Option[Int] = j =>
      Option(j.group).flatMap { g =>
        if (g.startsWith(Prefix)) Some(g.stripPrefix(Prefix).toInt)
        else Option(bindings.get(g)).map(_.intValue)
      }
    val byRun = progress.groupBy(_.runId)
    val spanProgress = mutable.Map.empty[Int, Seq[Progress]]
    bindings.forEach((run, sid) => spanProgress(sid) =
      spanProgress.getOrElse(sid, Nil) ++ byRun.getOrElse(run, Nil))
    new Report(runId, spanBuf.filter(_.endNs > 0).toVector,
      jobs.values.filter(_.endNs > 0).map(j => (j, spanOf(j))).toVector,
      spanProgress.toMap)
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"
  val Prefix = "perfbench-span-"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long) {
    var endNs: Long = -1L
    var queryStartNs: Long = -1L
    val attrs: mutable.Map[String, Double] = mutable.Map.empty
    def wallNs: Long = endNs - startNs
  }

  final case class JobRec(id: Int, group: String, startNs: Long) {
    var endNs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var bytesRead = 0L
    var bytesWritten = 0L
  }

  final case class Progress(runId: String, triggerStartNs: Long, addBatchNs: Long)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (e > s) total += e - s
    total
  }
}

/** Per-span figures derived from a traced phase. A span's counters
  * cover the jobs of the span and all its descendants; self time is its
  * duration minus the part of it that child spans cover; driver gap is
  * its duration minus the union of its jobs' intervals. */
final class Report(val runId: String, val spans: Vector[Tracer.Span],
                   jobs: Vector[(Tracer.JobRec, Option[Int])],
                   val progress: Map[Int, Seq[Tracer.Progress]]) {
  import Tracer._
  private val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)
  private val ownJobs: Map[Int, Vector[JobRec]] =
    jobs.collect { case (j, Some(s)) => s -> j }.groupMap(_._1)(_._2)

  def named(name: String): Vector[Span] = spans.filter(_.name == name)

  def jobsOf(s: Span): Vector[JobRec] =
    ownJobs.getOrElse(s.id, Vector.empty) ++
      children.getOrElse(s.id, Vector.empty).flatMap(jobsOf)

  def selfNs(s: Span): Long =
    s.wallNs - unionNs(children.getOrElse(s.id, Vector.empty)
      .map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)

  def gapNs(s: Span): Long =
    s.wallNs - unionNs(jobsOf(s).map(j => (j.startNs, j.endNs)), s.startNs, s.endNs)

  def sum(ss: Seq[Span])(f: Span => Double): Double = ss.map(f).sum
  def counter(ss: Seq[Span])(f: JobRec => Long): Double =
    ss.map(s => jobsOf(s).map(f).sum.toDouble).sum

  /** JSON lines of every span, for the artifact written at run end. */
  def spanLines: Seq[String] = spans.map { s =>
    val js = jobsOf(s)
    Json.obj(Seq("run" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> selfNs(s) / 1e9, "jobs" -> js.size,
      "tasks" -> js.map(_.tasks).sum, "gap_s" -> gapNs(s) / 1e9) ++
      s.attrs.toSeq.sortBy(_._1))
  }
}

/** Minimal JSON writer for flat values, maps and sequences. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
