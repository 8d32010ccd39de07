package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload: generated inputs, a warm-up, and a closed
  * loop of timed operations. The harness owns the session and the clock.
  */
trait Workload {
  /** Generate the measured inputs (outside every timed window). */
  def generate(spark: SparkSession): Unit
  /** Generate warm-up input number `k` (small; same shape). */
  def generateWarmup(spark: SparkSession, k: Int): Unit
  /** Run the warm-up pass over input `k`; part of set-up time. */
  def warmup(spark: SparkSession, k: Int): Unit
  /** Run the timed loop for `seconds`, tracing every second operation
    * when `traced`; fill `rec` with the operation records.
    */
  def measure(spark: SparkSession, seconds: Double, traced: Boolean,
              tracer: Tracer, rec: mutable.Map[String, Any]): Unit
}

/** Harness entry point; run.py launches it and checks what it records.
  *
  * Set-up is measured three times and reported as the median: session
  * start plus the warm-up pass, the first on a cold JVM, then twice more
  * after stopping the session. Input generation is timed separately
  * (`gen_s`) and is in no metric.
  */
object Main {
  val SetupSamples = 3

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Dirs.fresh(args.work)
    val wl: Workload = args.workload match {
      case "elt_batch" => new EltBatch(args.work, args.seed)
      case "cdc_slot" => new CdcSlot(args.work, args.seed)
      case "curate_corpus" => new CurateCorpus(args.work, args.seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other")
    }
    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec("workload") = args.workload
    rec("seed") = args.seed
    rec("trace") = args.trace
    rec("cores") = Session.cores

    val setups = mutable.ArrayBuffer.empty[Double]
    var (spark, start0) = Clock.time(Session.start())
    val (_, genS) = Clock.time {
      wl.generate(spark)
      (1 to SetupSamples).foreach(k => wl.generateWarmup(spark, k))
    }
    rec("gen_s") = genS
    setups += start0 + Clock.time(wl.warmup(spark, 1))._2
    (2 to SetupSamples).foreach { k =>
      spark.stop()
      val t0 = Clock.now()
      spark = Session.start()
      wl.warmup(spark, k)
      setups += Clock.secs(t0, Clock.now())
    }
    rec("setup_samples_s") = setups.toSeq
    rec("setup_s") = Clock.median(setups.toSeq)

    val tracer = new Tracer(spark, s"${args.workload}-${args.seed}")
    val (_, measureWall) = Clock.time(
      wl.measure(spark, args.seconds, args.trace, tracer, rec))
    rec("measure_wall_s") = measureWall
    if (args.trace) {
      tracer.finish()
      val tracePath = s"${args.work}/trace.json"
      Dirs.land(tracePath, tracer.toJson.getBytes("UTF-8"))
      rec("trace_file") = tracePath
      rec("trace_spans") = tracer.spans.size
    }
    rec("peak_rss_mb") = Rss.peakMb()
    Dirs.land(args.out, Json(rec).getBytes("UTF-8"))
    spark.stop()
  }
}
