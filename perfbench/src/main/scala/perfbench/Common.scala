package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments of the harness (see run.py for the driver). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, out: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", req("--work"), req("--out"))
  }
}

/** Wall-clock helpers and the ordered record every workload fills in. */
object Clock {
  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  def time[T](body: => T): (T, Double) = {
    val t0 = now(); val r = body; (r, secs(t0, now()))
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** JSON for the result record and the trace (Scala maps, sequences and
  * options included).
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Session {
  /** One local session sized to the host, as a scheduled pipeline run
    * would start it.
    */
  def start(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def cores: Int = Runtime.getRuntime.availableProcessors
}

/** Local directory helpers (listings feed the sink byte counters). */
object Dirs {
  def path(s: String): Path = Paths.get(s)

  def deleteTree(s: String): Unit = {
    val p = path(s)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally st.close()
    }
  }

  def fresh(s: String): String = {
    deleteTree(s); Files.createDirectories(path(s)); s
  }

  /** Data files under a directory: relative name -> (size, mtime). */
  def listing(s: String): Map[String, (Long, Long)] = {
    val p = path(s)
    if (!Files.exists(p)) Map.empty
    else {
      val st = Files.walk(p)
      try {
        val out = mutable.Map.empty[String, (Long, Long)]
        st.forEach { x =>
          if (Files.isRegularFile(x) && !x.getFileName.toString.startsWith(".")
              && !x.getFileName.toString.startsWith("_"))
            out(p.relativize(x).toString) =
              (Files.size(x), Files.getLastModifiedTime(x).toMillis)
        }
        out.toMap
      } finally st.close()
    }
  }

  def bytes(s: String): Long = listing(s).values.map(_._1).sum

  /** Files present after but not before (new name, size or mtime). */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): (Long, Long) = {
    val fresh = after.filter { case (k, v) => !before.get(k).contains(v) }
    (fresh.size.toLong, fresh.values.map(_._1).sum)
  }

  def copyTree(src: String, dst: String): Unit = {
    deleteTree(dst)
    val s = path(src); val d = path(dst)
    val st = Files.walk(s)
    try st.forEach { x =>
      val t = d.resolve(s.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(t)
      else Files.copy(x, t)
    } finally st.close()
  }

  /** Atomically land one file: write a hidden stage, then rename. */
  def land(dst: String, bytes: Array[Byte]): Unit = {
    val d = path(dst)
    Files.createDirectories(d.getParent)
    val stage = d.getParent.resolve("." + d.getFileName + ".stage")
    Files.write(stage, bytes)
    Files.move(stage, d, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Peak resident memory of this process, from /proc (Linux). */
object Rss {
  def peakMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else {
      val line = scala.io.Source.fromFile(p.toFile).getLines()
        .find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }
  }
}
