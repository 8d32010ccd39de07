package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Counters hold the Spark work attributed to it. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val runId: String, val start: Long) {
  var end: Long = start
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** (launch, finish) wall times of the tasks attributed to this span */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(k: String, v: Double): Unit =
    counters(k) = counters.getOrElse(k, 0.0) + v
  def wallS: Double = (end - start) / 1e9
}

/** Span recorder plus the Spark listeners that attribute jobs, tasks and
  * planning time to spans.
  *
  * A span sets a job tag (`pb<id>`) on the calling thread while open, so
  * every job the benchmark's thread submits inside it carries the tag;
  * the innermost (highest-id) tag wins.
  * Streaming jobs run on the query's own thread; they are attributed by
  * the `sql.streaming.queryId` property to the span that started the
  * query ([[bindQuery]]). Raw listener records are kept and attributed
  * only in [[finish]], after the listener bus has drained. Spans stay in
  * memory until then.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private var nextId = 1
  private val stack = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val queryOwner = mutable.Map.empty[String, Int]
  @volatile var enabled = false

  // raw listener records, guarded by `this`
  private val jobSpan = mutable.Map.empty[Int, Option[Int]]
  private val jobTagsRaw = mutable.Map.empty[Int, (Option[Int], Option[String])]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[(Int, SparkListenerTaskEnd)]
  /** (start of the first planning phase in epoch ms, planning seconds) */
  private val planning = mutable.ArrayBuffer.empty[(Long, Double)]
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  private val stagesByJob = mutable.Map.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(
        "spark.job.tags"))).toSeq.flatMap(_.split(","))
        .filter(_.matches("pb\\d+")).map(_.drop(2).toInt).maxOption
      val qid = props.flatMap(p =>
        Option(p.getProperty("sql.streaming.queryId")))
      Tracer.this.synchronized {
        jobTagsRaw(e.jobId) = (tag, qid)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        stagesByJob(e.jobId) = e.stageIds.size
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageId).foreach(j => tasks += ((j, e)))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Tracer.this.synchronized {
        planning += ((phases.map(_.startTimeMs).min,
          phases.map(_.durationMs).sum / 1e3))
      }
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  /** Attach the listeners: spans record only while enabled. */
  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    org.apache.spark.perfbench.ListenerDrain.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    enabled = false
  }

  def current: Option[Span] = stack.headOption

  /** Run `body` inside a span named `name` (a no-op when disabled). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, current.map(_.id).getOrElse(0), name, runId,
        System.nanoTime())
      nextId += 1
      spans += s
      stack.push(s)
      sc.addJobTag("pb" + s.id)
      try body
      finally {
        s.end = System.nanoTime()
        sc.removeJobTag("pb" + s.id)
        stack.pop()
      }
    }

  /** A child of the current span that runs concurrently with its
    * siblings (not pushed on this thread's stack); end it with [[close]].
    */
  def open(name: String): Span = {
    val s = new Span(nextId, current.map(_.id).getOrElse(0), name, runId,
      System.nanoTime())
    nextId += 1
    spans += s
    s
  }

  def close(s: Span): Unit = s.end = System.nanoTime()

  /** Streaming jobs of `queryId` belong to `span`. */
  def bindQuery(queryId: java.util.UUID, span: Span): Unit =
    queryOwner(queryId.toString) = span.id

  /** Drain the listener bus and attribute the raw records collected
    * since the last call to their spans.
    */
  def finish(): Unit = {
    org.apache.spark.perfbench.ListenerDrain.drain(sc)
    val byId = spans.map(s => s.id -> s).toMap
    synchronized {
      jobTagsRaw.foreach { case (job, (tag, qid)) =>
        val sid = qid.flatMap(queryOwner.get).orElse(tag)
        jobSpan(job) = sid
        sid.flatMap(byId.get).foreach { s =>
          s.add("jobs", 1); s.add("stages", stagesByJob.getOrElse(job, 0).toDouble)
        }
      }
      tasks.foreach { case (job, e) =>
        jobSpan.getOrElse(job, None).flatMap(byId.get).foreach { s =>
          val m = e.taskMetrics
          s.add("tasks", 1)
          s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          if (m != null) {
            s.add("task_cpu_s", m.executorCpuTime / 1e9)
            s.add("task_run_s", m.executorRunTime / 1e3)
            s.add("gc_s", m.jvmGCTime / 1e3)
            s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
            s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
            s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
            s.add("output_bytes", m.outputMetrics.bytesWritten)
            s.add("input_bytes", m.inputMetrics.bytesRead)
            s.add("input_records", m.inputMetrics.recordsRead)
          }
        }
      }
      // planning runs on the calling thread before any job: it belongs to
      // the innermost span open when it started
      planning.foreach { case (startMs, sec) =>
        val t = (startMs - epochOffsetMs) * 1000000L
        spans.filter(s => s.start <= t && t <= s.end)
          .maxByOption(s => (s.start, s.id)).foreach(_.add("planning_s", sec))
      }
      jobTagsRaw.clear(); tasks.clear(); planning.clear()
    }
  }

  /** Spans whose id is `id` or below it in the tree. */
  def subtree(id: Int): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(i: Int): Seq[Span] =
      spans.find(_.id == i).toSeq ++ kids.getOrElse(i, Nil).flatMap(s => go(s.id))
    go(id)
  }

  /** Spark counters summed over a span and its descendants, plus the
    * driver-only time (wall with no task of the subtree running) and the
    * share of the host's cores kept busy.
    */
  def rollup(s: Span): Map[String, Double] = {
    val all = subtree(s.id)
    val sum = mutable.Map.empty[String, Double]
    all.foreach(_.counters.foreach { case (k, v) =>
      sum(k) = sum.getOrElse(k, 0.0) + v })
    val wallMs = (s.end - s.start) / 1e6
    // union of task intervals (wall ms), clipped to the span; the task
    // clock is epoch millis, so shift the span onto it
    val epochStart = System.currentTimeMillis() -
      (System.nanoTime() - s.start) / 1000000L
    val iv = all.flatMap(_.taskIntervals).map { case (a, b) =>
      (math.max(a, epochStart), math.min(b, epochStart + wallMs.toLong))
    }.filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    val busyRun = iv.map { case (a, b) => b - a }.sum
    sum("driver_only_s") = math.max(0.0, wallMs - covered) / 1e3
    sum("core_busy_ratio") =
      if (wallMs <= 0) 0.0 else busyRun / (wallMs * Session.cores)
    sum.toMap
  }

  /** All spans, with self time, as JSON (written once, at the end). */
  def toJson: String = {
    val kids = spans.groupBy(_.parent)
    Json(spans.map { s =>
      val childWall = kids.getOrElse(s.id, Nil).map(_.wallS).sum
      mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "run_id" -> s.runId, "start_ns" -> s.start, "end_ns" -> s.end,
        "wall_s" -> s.wallS, "self_s" -> math.max(0.0, s.wallS - childWall),
        "counters" -> s.counters)
    })
  }
}
