package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** Per-layer samples of a traced run: each traced operation adds one
  * value per metric, and the run reports the median of each.
  */
final class Layers {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def add(name: String, n: Long): Unit = add(name, n.toDouble)

  /** Median of every metric's samples. */
  def medians: Map[String, Double] =
    samples.map { case (k, v) => k -> Clock.median(v.toSeq) }.toMap

  /** The Spark counters of one operation's span tree, under `spark.*`. */
  def addSpark(tracer: Tracer, op: Span): Unit = {
    val r = tracer.rollup(op)
    Seq("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
      "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
      "output_bytes", "planning_s", "driver_only_s", "core_busy_ratio")
      .foreach(k => add(s"spark.$k", r.getOrElse(k, 0.0)))
  }
}

object Layers {
  /** Force a lazy frame through its full plan with nothing written. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of `body` inside a span. */
  def timed(tracer: Tracer, name: String)(body: => Unit): Double =
    Clock.time(tracer.span(name)(body))._2
}
