package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sink.{DeltaMerge, MergeSink}
import graft.sources.Wal2Json
import graft.streaming.StreamingMerge

/** `cdc_slot`: LOG_BASED replication off one wal2json segment stream
  * that carries two tables. Two `StreamingMerge.startWalSlot` consumers,
  * each with its own checkpoint and slot file, drain it: table `ta` with
  * `flush = "merge"`, table `tb` with `flush = "delta"`, both hard
  * delete. The consumers start behind a backlog (the load phase); then
  * each step lands one segment, drains both consumers to the log head
  * with `Trigger.AvailableNow`, and reads both targets as a consumer
  * would.
  */
final class CdcSlot(work: String, seed: Long) extends Workload {
  import CdcSlot._

  private val main = new Env(s"$work/cdc", seed, MainLines)
  private val warms = (1 to Main.SetupSamples).map(k =>
    k -> new Env(s"$work/warm$k", seed + 1000 * k, WarmLines)).toMap
  private def warm(k: Int) = warms(k)

  def generate(spark: SparkSession): Unit =
    (1 to BacklogSegments).foreach(_ => main.gen.land())
  def generateWarmup(spark: SparkSession, k: Int): Unit = warm(k).gen.land()
  def warmup(spark: SparkSession, k: Int): Unit = {
    val w = warm(k)
    val r = w.drain(spark, None)
    require(r.failed == 0, "warm-up drain failed")
    w.read(spark)
  }

  def measure(spark: SparkSession, seconds: Double, traced: Boolean,
              tracer: Tracer, rec: mutable.Map[String, Any]): Unit = {
    val layers = new Layers
    val steps = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var opTime = 0.0
    var compactions = 0L

    def step(i: Int, events: Long, traceThis: Boolean): Unit = {
      val before = if (traceThis) Seq(main.tblA, main.tblB).map(Dirs.listing)
        else Nil
      if (traceThis) tracer.enable()
      val c0 = DeltaMerge.compactionCount.sum()
      val (r, wall) = Clock.time(tracer.span("step") {
        main.drain(spark, if (traceThis) Some(tracer) else None)
      })
      compactions += DeltaMerge.compactionCount.sum() - c0
      if (traceThis) {
        tracer.disable(); tracer.finish()
        layers.addSpark(tracer, tracer.spans.filter(_.name == "step").last)
        tracedWalls += wall
      } else if (i > 1) untracedWalls += wall
      failed += r.failed
      opTime += wall
      val (read, readS) = Clock.time(main.read(spark))
      val head = main.gen.headLsn
      steps += Map("step" -> i, "wall_s" -> wall, "read_s" -> readS,
        "events" -> events, "head_lsn" -> head, "traced" -> traceThis,
        "failed" -> r.failed, "feedback_a" -> main.feedback(main.slotA),
        "feedback_b" -> main.feedback(main.slotB), "read" -> read,
        "batches" -> r.progress.size)
      if (traceThis) {
        layers.add("sink.read_s", readS)
        val Seq((filesA, bytesA), (filesB, bytesB)) =
          Seq(main.tblA, main.tblB).zip(before).map { case (t, b) =>
            Dirs.written(b, Dirs.listing(t)) }
        layers.add("sink.bytes_written", bytesA + bytesB)
        layers.add("sink.files_written", filesA + filesB)
        streamingLayers(layers, r)
        layers.add("sources.slot_lag_lsn", math.max(
          head - main.feedback(main.slotA), head - main.feedback(main.slotB)))
        stepLayers(spark, tracer, layers, read, bytesA)
      }
    }

    // load phase: both consumers start behind the backlog
    step(0, main.gen.eventsLanded, traceThis = false)
    rec("backlog_events") = main.gen.eventsLanded
    rec("backlog_s") = steps.head("wall_s")
    var i = 1
    while (i <= MinSteps || opTime < seconds) {
      val before = main.gen.eventsLanded
      main.gen.land()
      step(i, main.gen.eventsLanded - before, traced && i % 2 == 0)
      i += 1
    }
    rec("steps") = steps.toSeq
    rec("failed_ops") = failed
    rec("attempted") = steps.size
    rec("wal_dir") = main.walDir
    rec("slot_files") = Seq(main.slotA, main.slotB)
    val finalB = s"${main.dir}/final_tb"
    DeltaMerge.readMerged(spark, main.tblB, Pks, "_sdc_lsn", hardDelete = true)
      .write.mode("overwrite").parquet(finalB)
    rec("targets") = Map("ta" -> main.tblA, "tb" -> finalB)
    rec("compactions") = compactions
    if (traced) {
      val tw = Clock.median(tracedWalls.toSeq)
      val uw = Clock.median(untracedWalls.toSeq)
      layers.add("sink.compactions", compactions)
      layers.add("trace.overhead_s", tw - uw)
      layers.add("trace.overhead_ratio", if (uw > 0) (tw - uw) / uw else 0.0)
      rec("layers") = layers.medians
    }
  }

  /** Micro-batch durations from `StreamingQueryProgress.durationMs`. */
  private def streamingLayers(layers: Layers, r: Drained): Unit = {
    def total(k: String) = r.progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3
    layers.add("streaming.batches", r.progress.size)
    layers.add("streaming.add_batch_s", total("addBatch"))
    layers.add("streaming.query_planning_s", total("queryPlanning"))
    layers.add("streaming.latest_offset_s", total("latestOffset"))
    layers.add("streaming.wal_commit_s", total("walCommit"))
    layers.add("streaming.trigger_p50_s", Clock.median(r.progress.toSeq.map(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue / 1e3)
        .getOrElse(0.0))))
    layers.add("streaming.start_s", Clock.median(r.startS))
  }

  /** Isolated, forced calls of one step's layers on the segment it
    * landed: decode per table, then the merge flush and the delta flush
    * of the materialised batch into copies of the two targets.
    */
  private def stepLayers(spark: SparkSession, tracer: Tracer, layers: Layers,
                         read: Map[String, Seq[Long]],
                         bytesWrittenA: Long): Unit = {
    tracer.enable()
    val seg = main.gen.lastSegment
    val lines = spark.read.text(seg).select(
      split(col("value"), "\t", 2).getItem(0).cast("long").as("lsn"),
      split(col("value"), "\t", 2).getItem(1).as("payload"))
    def decoded(table: String): DataFrame =
      Wal2Json.decode(lines, "payload", "lsn", "public", table, RowSchema)
    val decodeS = Layers.timed(tracer, "sources.wal_decode") {
      Layers.noop(decoded("ta")); Layers.noop(decoded("tb"))
    }
    val nLines = main.gen.lastSegmentLines
    var rowsA = 0L; var rowsB = 0L
    tracer.span("sources.wal_count") {
      rowsA = decoded("ta").count(); rowsB = decoded("tb").count()
    }
    layers.add("sources.wal_decode_s", decodeS)
    layers.add("sources.wal_lines", nLines)
    layers.add("sources.wal_rows_decoded", rowsA + rowsB)
    layers.add("sources.wal_select_ratio", (rowsA + rowsB).toDouble / (2 * nLines))

    val batchA = StreamingMerge.applyEnvelope(decoded("ta")).cache()
    val batchB = StreamingMerge.applyEnvelope(decoded("tb")).cache()
    batchA.count(); batchB.count()
    tracer.span("sink.touched") {
      layers.add("sink.touched_bucket_ratio", batchA.select(
        MergeSink.pkBucket(Pks, Partitions)).distinct().count().toDouble / Partitions)
    }
    val copyA = s"${main.dir}/isolated/ta"
    val copyB = s"${main.dir}/isolated/tb"
    Dirs.copyTree(main.tblA, copyA)
    Dirs.copyTree(main.tblB, copyB)
    layers.add("sink.merge_flush_s", Layers.timed(tracer, "sink.merge_flush")(
      MergeSink.flushPartitioned(spark, batchA, copyA, Pks, "_sdc_lsn",
        Partitions, hardDelete = true)))
    layers.add("sink.delta_flush_s", Layers.timed(tracer, "sink.delta_flush")(
      DeltaMerge.flushAuto(spark, batchB, copyB, Pks, "_sdc_lsn",
        hardDelete = true)))
    batchA.unpersist(); batchB.unpersist()
    Dirs.deleteTree(s"${main.dir}/isolated")
    tracer.disable(); tracer.finish()
    val deltaDir = DeltaMerge.deltaPath(main.tblB)
    layers.add("sink.delta_files", Dirs.listing(deltaDir).keys
      .count(_.endsWith(".parquet")))
    // merge table: bytes written ÷ the bytes the step's changed rows
    // occupy in its layout
    val rowsTa = read("ta").head.toDouble
    val changed = if (rowsTa > 0) Dirs.bytes(main.tblA) * rowsA / rowsTa else 0.0
    layers.add("sink.write_amplification",
      if (changed > 0) bytesWrittenA / changed else 0.0)
  }
}

object CdcSlot {
  /** Row events per segment (both tables); B/C wrappers come on top. */
  val MainLines = 1500
  val WarmLines = 300
  val BacklogSegments = 2
  val MinSteps = 4
  val Partitions = 16
  val MaxFilesPerTrigger = 2
  val Pks = Seq("id")
  val RowSchema: StructType = StructType.fromDDL("id BIGINT, v STRING, n BIGINT")

  final case class Drained(failed: Int,
                           progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                           startS: Seq[Double])

  /** Deterministic wal2json v2 segment writer over two tables: I/U/D
    * events (~4 % deletes) over a growing keyspace, in transactions
    * wrapped by B/C lines. LSNs ascend; segment names sort in LSN order.
    */
  final class WalGen(dir: String, seed: Long, events: Int) {
    private val rnd = new java.util.Random(seed)
    private val live = Map("ta" -> mutable.ArrayBuffer.empty[Long],
      "tb" -> mutable.ArrayBuffer.empty[Long])
    private val nextKey = mutable.Map("ta" -> 1L, "tb" -> 1L)
    private var lsn = 0L
    private var segments = 0
    var eventsLanded = 0L
    var headLsn = 0L
    var lastSegment = ""
    var lastSegmentLines = 0L

    private def row(table: String, action: String, id: Long): String = {
      val v = s"v${rnd.nextInt(1 << 30)}-$table-$id"
      val n = rnd.nextInt(100000)
      s"""{"action":"$action","schema":"public","table":"$table","columns":[""" +
        s"""{"name":"id","type":"bigint","value":$id},""" +
        s"""{"name":"v","type":"text","value":"$v"},""" +
        s"""{"name":"n","type":"bigint","value":$n}]}"""
    }

    def land(): Unit = {
      val sb = new java.lang.StringBuilder(events * 200)
      var lines = 0L
      def emit(payload: String): Unit = {
        lsn += 1 + rnd.nextInt(8)
        sb.append(lsn).append('\t').append(payload).append('\n')
        lines += 1
      }
      var n = 0
      while (n < events) {
        emit("""{"action":"B"}""")
        val txn = math.min(events - n, 1 + rnd.nextInt(8))
        (0 until txn).foreach { _ =>
          val table = if (rnd.nextBoolean()) "ta" else "tb"
          val keys = live(table)
          val p = rnd.nextInt(100)
          if (keys.isEmpty || p < 30) {
            val id = nextKey(table); nextKey(table) = id + 1
            keys += id
            emit(row(table, "I", id))
          } else if (p < 34) {
            val j = rnd.nextInt(keys.size)
            val id = keys(j)
            keys(j) = keys.last; keys.remove(keys.size - 1)
            emit(s"""{"action":"D","schema":"public","table":"$table","identity":[{"name":"id","type":"bigint","value":$id}]}""")
          } else emit(row(table, "U", keys(rnd.nextInt(keys.size))))
        }
        emit("""{"action":"C"}""")
        n += txn
      }
      segments += 1
      lastSegment = f"$dir/wal_$segments%08d.log"
      lastSegmentLines = lines
      Dirs.land(lastSegment, sb.toString.getBytes("UTF-8"))
      eventsLanded += n
      headLsn = lsn
    }
  }

  final class Env(val dir: String, seed: Long, events: Int) {
    val walDir = s"$dir/wal"
    val tblA = s"$dir/ta"
    val tblB = s"$dir/tb"
    val slotA = s"$dir/slot_ta"
    val slotB = s"$dir/slot_tb"
    val gen = new WalGen(walDir, seed, events)

    /** Drain both consumers to the log head. They run concurrently, as
      * two independent slot consumers would; the step ends when both have
      * stopped at the head.
      */
    def drain(spark: SparkSession, tracer: Option[Tracer]): Drained = {
      val consumers = Seq(("ta", tblA, slotA, "merge"), ("tb", tblB, slotB, "delta"))
        .map { case (table, tbl, slot, flush) =>
          val span = tracer.map(_.open(s"consumer:$table:$flush"))
          val (q, startS) = Clock.time(StreamingMerge.startWalSlot(spark,
            walDir, "public", table, RowSchema, tbl, s"$dir/ckpt_$table", Pks,
            hardDelete = true, targetPartitions = Partitions,
            maxFilesPerTrigger = Some(MaxFilesPerTrigger), flush = flush,
            slotFile = Some(slot)))
          for (t <- tracer; sp <- span) t.bindQuery(q.id, sp)
          (table, q, startS, span)
        }
      var failed = 0
      val progress = consumers.flatMap { case (table, q, _, span) =>
        try q.awaitTermination()
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] consumer $table failed: $e")
        }
        finally q.stop()
        for (t <- tracer; sp <- span) t.close(sp)
        if (q.exception.isDefined) failed += 1
        q.recentProgress.toSeq
      }
      Drained(failed, progress, consumers.map(_._3))
    }

    def feedback(slot: String): Long = {
      val p = Paths.get(slot)
      if (Files.exists(p)) Files.readString(p).trim.toLong else -1L
    }

    /** Consumer reads: plain parquet for the merge table, the merged view
      * for the delta table; count and sums of `id` and `n`.
      */
    def read(spark: SparkSession): Map[String, Seq[Long]] = {
      def agg(df: DataFrame): Seq[Long] = {
        val r = df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
          coalesce(sum(col("n")), lit(0L))).head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      }
      Map("ta" -> agg(spark.read.parquet(tblA)),
        "tb" -> agg(DeltaMerge.readMerged(spark, tblB, Pks, "_sdc_lsn",
          hardDelete = true)))
    }
  }
}
