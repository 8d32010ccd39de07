package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.planner.Planner
import graft.sink.MergeSink
import graft.sources.Sources
import graft.spec._
import graft.state.Bookmarks
import graft.transform.{Masking, Metadata}

/** `elt_batch`: the scheduled `run_tap` path. A 4-stream pipeline (three
  * INCREMENTAL streams on `updated_at`, one FULL_TABLE) is snapshotted
  * with `Planner.run` on empty state, then synced for epochs, each
  * after one change file per stream has landed (outside the timed
  * window).
  *
  * Keys are unique per source file and every change carries a strictly
  * larger `updated_at`, so the last-write-wins target is deterministic.
  */
final class EltBatch(work: String, seed: Long) extends Workload {
  import EltBatch._

  private val main = new Env(s"$work/elt", seed, MainSize)
  private val warmSrc = new Env(s"$work/warm", seed + 1, WarmSize)
  /** The warm-up syncs one keyed INCREMENTAL stream and the FULL_TABLE
    * stream, the two paths through `Planner.runStream`, at the cost of
    * two streams.
    */
  private def warm(k: Int) = warmSrc.withTarget(s"$work/warm$k",
    Streams.filter(s => Set("customer", "supplier")(s.table)))

  def generate(spark: SparkSession): Unit = main.snapshot()
  def generateWarmup(spark: SparkSession, k: Int): Unit =
    if (k == 1) warmSrc.snapshot()

  /** A snapshot of the tiny pipeline, then a read. */
  def warmup(spark: SparkSession, k: Int): Unit = {
    val w = warm(k)
    val errs = new Failures
    Planner.run(spark, w.pipeline, w.src, errs.onError)
    w.read(spark)
    errs.require()
  }

  def measure(spark: SparkSession, seconds: Double, traced: Boolean,
              tracer: Tracer, rec: mutable.Map[String, Any]): Unit = {
    val layers = new Layers
    val errs = new Failures
    val epochs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var opTime = 0.0

    // phase 1: snapshot on empty state
    val (_, snapS) = Clock.time(
      Planner.run(spark, main.pipeline, main.src, errs.onError))
    val (snapRead, snapReadS) = Clock.time(main.read(spark))
    opTime += snapS
    rec("snapshot_s") = snapS
    rec("snapshot_read_s") = snapReadS
    rec("snapshot_rows") = main.landedRows(0).values.sum
    rec("snapshot_read") = snapRead
    if (traced) snapshotLayers(spark, tracer, layers)

    // phase 2: epochs, closed loop
    var e = 1
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    while (e <= MinEpochs || opTime < seconds) {
      main.land(e)
      val traceThis = traced && e % 2 == 0
      val before = Bookmarks.load(main.pipeline.statePath)
      val listBefore = if (traceThis) Dirs.listing(main.tgt) else Map.empty[String, (Long, Long)]
      val failedBefore = errs.count
      var op: Span = null
      val wall =
        if (traceThis) {
          tracer.enable()
          val w = Clock.time(tracer.span("epoch") {
            op = tracer.current.get
            tracedRun(spark, tracer, errs)
          })._2
          tracer.disable()
          tracer.finish()
          layers.addSpark(tracer, op)
          tracedWalls += w
          w
        } else {
          val w = Clock.time(
            Planner.run(spark, main.pipeline, main.src, errs.onError))._2
          // the first epoch after the snapshot runs slow in every run, so
          // the untraced baseline of the tracing overhead starts after it
          if (e > 1) untracedWalls += w
          w
        }
      opTime += wall
      val (read, readS) = Clock.time(main.read(spark))
      if (traceThis) {
        layers.add("sink.read_s", readS)
        val (files, bytes) = Dirs.written(listBefore, Dirs.listing(main.tgt))
        layers.add("sink.bytes_written", bytes)
        layers.add("sink.files_written", files)
        epochLayers(spark, tracer, layers, op, before, e, read, bytes)
      }
      epochs += Map("epoch" -> e, "wall_s" -> wall, "read_s" -> readS,
        "traced" -> traceThis, "failed_streams" -> (errs.count - failedBefore),
        "rows" -> main.landedRows(e).values.sum, "read" -> read)
      e += 1
    }
    rec("epochs") = epochs.toSeq
    rec("failed_streams") = errs.count
    rec("attempted") = Streams.size * (1 + epochs.size)
    rec("work_dir") = main.dir
    rec("state_path") = main.pipeline.statePath
    rec("sources") = Streams.map(s => s.table -> main.src(s.table)).toMap
    rec("targets") = Streams.map(s => s.table -> s"${main.tgt}/${s.table}").toMap
    if (traced) {
      val tw = Clock.median(tracedWalls.toSeq)
      val uw = Clock.median(untracedWalls.toSeq)
      layers.add("planner.failed_streams", errs.count)
      layers.add("trace.overhead_s", tw - uw)
      layers.add("trace.overhead_ratio", if (uw > 0) (tw - uw) / uw else 0.0)
      rec("layers") = layers.medians
    }
  }

  /** The traced epoch: Planner.run's stream loop spelled with its public
    * pieces, so each stream and the state write get their own span.
    */
  private def tracedRun(spark: SparkSession, tracer: Tracer,
                        errs: Failures): Unit = {
    var state = Bookmarks.load(main.pipeline.statePath)
    tracer.span("planner.run") {
      main.pipeline.streams.foreach { s =>
        tracer.span(s"planner.stream:${s.name}") {
          try state = Planner.runStream(spark, main.pipeline, s,
            main.src(s.table), state)
          catch { case e: Throwable => errs.onError(s.name, e) }
        }
      }
      tracer.span("state.save")(state.save(main.pipeline.statePath))
    }
  }

  /** Isolated, forced calls of the snapshot's lazy layers. */
  private def snapshotLayers(spark: SparkSession, tracer: Tracer,
                             layers: Layers): Unit = {
    tracer.enable()
    var scan = 0.0; var mask = 0.0
    Streams.foreach { s =>
      val df = Sources.fullTable(spark, main.src(s.table))
      val sc = Layers.timed(tracer, s"snapshot.sources.scan:${s.table}")(Layers.noop(df))
      val sm = Layers.timed(tracer, s"snapshot.transform.mask:${s.table}")(
        Layers.noop(Masking.applyAll(df, s.transformations)))
      scan += sc; mask += sm - sc
    }
    tracer.disable()
    layers.add("sources.snapshot_scan_s", scan)
    layers.add("transform.snapshot_mask_s", mask)
  }

  /** Isolated, forced calls of one epoch's layers, against the inputs
    * the epoch just synced: scan, scan plus masking, the merge flush of
    * the materialised batch into a copy of each target, the full-table
    * publish, and the counters derived from them.
    */
  private def epochLayers(spark: SparkSession, tracer: Tracer,
                          layers: Layers, op: Span, before: Bookmarks, e: Int,
                          read: Map[String, Seq[Long]],
                          bytesWritten: Long): Unit = {
    tracer.enable()
    val scratch = s"${main.dir}/isolated"
    var scan = 0.0; var mask = 0.0; var flush = 0.0; var rows = 0L
    var rescanned = 0L
    var touched = 0.0; var keyed = 0; var changedBytes = 0.0
    val scanSpans = mutable.ArrayBuffer.empty[Span]
    Streams.foreach { s =>
      val src = main.src(s.table)
      val df = s.replicationMethod match {
        case ReplicationMethod.Incremental =>
          Sources.incremental(spark, src, "updated_at",
            bookmark(before, s))
        case _ => Sources.fullTable(spark, src)
      }
      val sc = Layers.timed(tracer, s"sources.scan:${s.table}") {
        scanSpans += tracer.current.get; Layers.noop(df)
      }
      val sm = Layers.timed(tracer, s"transform.mask:${s.table}")(
        Layers.noop(Masking.applyAll(df, s.transformations)))
      scan += sc; mask += sm - sc
      tracer.span(s"sources.count:${s.table}") {
        rows += df.count()
        bookmark(before, s).foreach { b =>
          rescanned += df.filter(col("updated_at") === lit(b)).count()
        }
      }
      val batch = Metadata.withSystemColumns(
        Masking.applyAll(df, s.transformations)).cache()
      batch.count()
      val copy = s"$scratch/${s.table}"
      Dirs.copyTree(s"${main.tgt}/${s.table}", copy)
      if (s.replicationMethod == ReplicationMethod.FullTable) {
        layers.add("sink.publish_s", Layers.timed(tracer, "sink.publish")(
          MergeSink.publish(MergeSink.dedupLastWins(batch, s.keyProperties,
            "updated_at"), copy)))
      } else {
        keyed += 1
        tracer.span(s"sink.touched:${s.table}") {
          touched += df.select(MergeSink.pkBucket(s.keyProperties,
            Partitions)).distinct().count().toDouble / Partitions
        }
        flush += Layers.timed(tracer, s"sink.merge_flush:${s.table}")(
          MergeSink.flushPartitioned(spark, batch, copy, s.keyProperties,
            "updated_at", Partitions))
        val tgtRows = read(s.table).head.toDouble
        if (tgtRows > 0)
          changedBytes += Dirs.bytes(s"${main.tgt}/${s.table}") *
            main.landedRows(e)(s.table) / tgtRows
      }
      batch.unpersist()
      Dirs.deleteTree(copy)
    }
    tracer.disable()
    tracer.finish()
    layers.add("sources.scan_s", scan)
    layers.add("transform.mask_s", mask)
    layers.add("transform.columns_masked",
      Streams.map(_.transformations.size).sum)
    layers.add("sources.rows_scanned", rows)
    layers.add("sources.input_bytes",
      scanSpans.map(_.counters.getOrElse("input_bytes", 0.0)).sum)
    layers.add("sources.rescan_ratio", if (rows > 0) rescanned.toDouble / rows else 0.0)
    layers.add("sink.merge_flush_s", flush)
    layers.add("sink.touched_bucket_ratio", if (keyed > 0) touched / keyed else 0.0)
    layers.add("sink.write_amplification",
      if (changedBytes > 0) bytesWritten / changedBytes else 0.0)
    val opSpans = tracer.subtree(op.id)
    def wall(prefix: String) = opSpans.filter(_.name.startsWith(prefix)).map(_.wallS)
    layers.add("planner.run_s", wall("planner.run").sum)
    layers.add("planner.stream_s", Clock.median(wall("planner.stream:")))
    layers.add("state.save_s", wall("state.save").sum)
    layers.add("state.bytes", Files.size(Paths.get(main.pipeline.statePath)))
  }

  private def bookmark(state: Bookmarks, s: StreamSpec): Option[Long] =
    state.replicationKeyValue(s.name).map {
      case org.json4s.JInt(v) => v.toLong
      case org.json4s.JLong(v) => v
      case other => throw new IllegalStateException(s"bookmark $other")
    }
}

object EltBatch {
  final case class Size(orders: Long, customers: Long, suppliers: Long)
  val MainSize = Size(5000, 2000, 200)
  val WarmSize = Size(500, 100, 20)
  val MinEpochs = 3
  /** PK-hash buckets of each target: ~10 changed customers touch about
    * half of them (per-bucket swap), orders and line items all of them
    * (whole-layout rewrite).
    */
  val Partitions = 16
  /** An epoch's `updated_at` values lie in (e*Step, e*Step + 1000]. */
  val Step = 1000000L

  val Streams: Seq[StreamSpec] = Seq(
    StreamSpec("public-orders", "orders", Seq("o_orderkey"),
      ReplicationMethod.Incremental, Some("updated_at"),
      transformations = Seq(Transformation("o_clerk", "HASH-SKIP-FIRST-6"))),
    StreamSpec("public-lineitem", "lineitem", Seq("l_orderkey", "l_linenumber"),
      ReplicationMethod.Incremental, Some("updated_at"),
      transformations = Seq(Transformation("l_comment", "MASK-HIDDEN"))),
    StreamSpec("public-customer", "customer", Seq("c_custkey"),
      ReplicationMethod.Incremental, Some("updated_at"),
      transformations = Seq(
        Transformation("c_name", "HASH"),
        Transformation("c_phone", "HASH-SKIP-FIRST-3"),
        Transformation("c_acctbal", "MASK-NUMBER",
          Seq(TransformCondition("c_mktsegment", equals = Some("AUTOMOBILE")))))),
    StreamSpec("public-supplier", "supplier", Seq("s_suppkey"),
      ReplicationMethod.FullTable,
      transformations = Seq(Transformation("s_address", "MASK-HIDDEN"),
        Transformation("s_phone", "HASH"))))

  val Columns: Map[String, Seq[Parquet.Col]] = {
    def cols(spec: String) = spec.split(",").toSeq.map { c =>
      val Array(n, k) = c.trim.split(" "); Parquet.Col(n, k) }
    Map(
      "orders" -> cols("o_orderkey long, o_custkey long, o_orderstatus string, " +
        "o_totalprice double, o_orderdate string, o_clerk string, updated_at long"),
      "lineitem" -> cols("l_orderkey long, l_linenumber int, l_partkey long, " +
        "l_suppkey long, l_quantity double, l_extendedprice double, " +
        "l_discount double, l_returnflag string, l_comment string, updated_at long"),
      "customer" -> cols("c_custkey long, c_name string, c_address string, " +
        "c_phone string, c_acctbal double, c_mktsegment string, updated_at long"),
      "supplier" -> cols("s_suppkey long, s_name string, s_address string, " +
        "s_phone string, s_acctbal double, updated_at long"))
  }

  /** Counts stream failures that `Planner.run` reports through `onError`
    * instead of throwing: a failed stream must not read as a fast epoch.
    */
  final class Failures {
    var count = 0
    val onError: (String, Throwable) => Unit = { (s, e) =>
      count += 1
      System.err.println(s"[perfbench] stream $s failed: $e")
    }
    def require(): Unit =
      if (count > 0) throw new IllegalStateException(s"$count stream(s) failed")
  }

  /** One pipeline instance: its sources, target, state and generator. */
  final class Env(val dir: String, seed: Long, size: Size,
                  srcDir: Option[String] = None,
                  streams: Seq[StreamSpec] = Streams) {
    val tgt = s"$dir/tgt"
    def src(table: String): String = s"${srcDir.getOrElse(dir)}/src/$table"
    val pipeline = PipelineSpec("perfbench", streams, tgt, s"$dir/state.json",
      targetPartitions = Partitions)
    /** rows landed per epoch and table */
    val landedRows = mutable.Map.empty[Int, Map[String, Long]]
    private var orders = size.orders
    // a supplier's version is the last epoch that changed it
    private val supplierVersion = Array.fill(size.suppliers.toInt + 1)(0)

    /** Same sources, own target and state. */
    def withTarget(d: String, only: Seq[StreamSpec]): Env =
      new Env(d, seed, size, Some(dir), only)

    private def h(parts: Any*): Long = Mix(seed +: parts: _*)
    private def pick(xs: Seq[String], hv: Long): String = xs((hv % xs.size).toInt)
    private def updatedAt(v: Int, hv: Long): Long =
      if (v == 0) hv % Step + 1 else v * Step + hv % 1000 + 1
    private def pad(n: Long, w: Int) = s"%0${w}d".format(n)
    def lines(k: Long): Int = (h(k, "lc") % 7 + 1).toInt
    private val Day0 = java.time.LocalDate.of(1992, 1, 1)

    private def orderRow(k: Long, v: Int): Array[Any] = Array(k,
      h(k, v, "c") % size.customers + 1, pick(Seq("O", "F", "P"), h(k, v, "s")),
      (h(k, v, "p") % 50000000L) / 100.0,
      Day0.plusDays(h(k, "d") % 2400).toString,
      "Clerk#" + pad(h(k, v, "k") % 1000, 9), updatedAt(v, h(k, v, "u")))

    private def lineRow(k: Long, n: Int, v: Int): Array[Any] = Array(k, n,
      h(k, n, "pk") % 20000 + 1, h(k, n, "sk") % size.suppliers + 1,
      (h(k, n, v, "q") % 50 + 1).toDouble, (h(k, n, v, "x") % 10000000L) / 100.0,
      (h(k, n, v, "ds") % 11) / 100.0, pick(Seq("R", "A", "N"), h(k, n, v, "rf")),
      s"note ${h(k, n, v, "cm")}", updatedAt(v, h(k, n, v, "u")))

    private def phone(k: Long, v: Int): String =
      Seq(h(k, v, "p1") % 25 + 10, h(k, v, "p2") % 900 + 100,
        h(k, v, "p3") % 900 + 100, h(k, v, "p4") % 9000 + 1000).mkString("-")

    private def customerRow(k: Long, v: Int): Array[Any] = Array(k,
      "Customer#" + pad(k, 9), f"${h(k, v, "a")}%024x".take(24), phone(k, v),
      (h(k, v, "b") % 1100000L - 100000) / 100.0,
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        h(k, v, "m")), updatedAt(v, h(k, v, "u")))

    private def supplierRow(k: Long, v: Int): Array[Any] = Array(k,
      "Supplier#" + pad(k, 9), f"${h(k, v, "a")}%024x".take(24), phone(k, v),
      (h(k, v, "b") % 1100000L - 100000) / 100.0, updatedAt(v, h(k, v, "u")))

    private def write(table: String, e: Int, rows: Iterator[Array[Any]]): Long =
      Parquet.write(f"${src(table)}/e$e%04d.parquet", Columns(table), rows)

    private def lineKeys(orderKeys: Iterator[Long]): Iterator[(Long, Int)] =
      orderKeys.flatMap(k => (1 to lines(k)).iterator.map(n => (k, n)))

    /** Epoch 0: the initial source tables. */
    def snapshot(): Unit = {
      val o = (1L to size.orders)
      landedRows(0) = Map(
        "orders" -> write("orders", 0, o.iterator.map(orderRow(_, 0))),
        "lineitem" -> write("lineitem", 0,
          lineKeys(o.iterator).map { case (k, n) => lineRow(k, n, 0) }),
        "customer" -> write("customer", 0,
          (1L to size.customers).iterator.map(customerRow(_, 0))),
        "supplier" -> write("supplier", 0,
          (1L to size.suppliers).iterator.map(supplierRow(_, 0))))
    }

    /** Land epoch `e`'s change files: ~1 % updated and ~0.2 % new
      * orders (with all their line items), ~1 % updated line items, ~10
      * changed customers, and a new full supplier extract with ~5
      * changed suppliers.
      */
    def land(e: Int): Unit = {
      val existing = orders
      val fresh = math.max(1L, size.orders / 500)
      orders += fresh
      val okeys = (1L to existing).iterator.filter(k => h(k, e, "sel") % 100 == 0) ++
        (existing + 1 to orders).iterator
      val lkeys = lineKeys((1L to existing).iterator)
        .filter { case (k, n) => h(k, n, e, "sel") % 100 == 0 } ++
        lineKeys((existing + 1 to orders).iterator)
      val every = math.max(1L, size.customers / 10)
      val ckeys = (1L to size.customers).iterator.filter(k => h(k, e, "sel") % every == 0)
      val everyS = math.max(1L, size.suppliers / 5)
      (1 to size.suppliers.toInt).foreach { k =>
        if (h(k.toLong, e, "sel") % everyS == 0) supplierVersion(k) = e }
      val prevSupplier = Dirs.listing(src("supplier")).keys
      landedRows(e) = Map(
        "orders" -> write("orders", e, okeys.map(orderRow(_, e))),
        "lineitem" -> write("lineitem", e, lkeys.map { case (k, n) => lineRow(k, n, e) }),
        "customer" -> write("customer", e, ckeys.map(customerRow(_, e))),
        "supplier" -> write("supplier", e, (1 to size.suppliers.toInt).iterator
          .map(k => supplierRow(k.toLong, supplierVersion(k)))))
      // a full-table source is one extract: the new one replaces the old
      prevSupplier.foreach(f => Files.delete(Paths.get(src("supplier"), f)))
    }

    /** What a consumer reads after a sync: per target table, the row
      * count and the sums of the key and of `updated_at`.
      */
    def read(spark: SparkSession): Map[String, Seq[Long]] =
      streams.map { s =>
        val df = spark.read.parquet(s"$tgt/${s.table}")
        val r = df.agg(count(lit(1)), sum(col(s.keyProperties.head)),
          sum(col("updated_at"))).head()
        s.table -> Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      }.toMap
  }
}
