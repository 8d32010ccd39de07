package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.operators.{Dedup, Sampling, TextAnalysis}

/** `curate_corpus`: the registry query `pipeline_curate_corpus` (lang-id,
  * gopher, exact dedup, minhash LSH, connected components, keep
  * canonical, domain cap, hash split) over a generated `documents` table,
  * run repeatedly; each run writes the curated split, which is then read
  * back as a consumer would.
  */
final class CurateCorpus(work: String, seed: Long) extends Workload {
  import CurateCorpus._

  private val corpus = s"$work/curate/corpus"
  private def warmCorpus(k: Int) = s"$work/warm$k/corpus"
  private val query = SparkEntry.allDefs("pipeline_curate_corpus")

  def generate(spark: SparkSession): Unit = {
    synthesize(spark, seed, MainDocs).write.parquet(s"$corpus/documents.parquet")
    Dirs.land(s"$work/curate/oracle.sql", query.oracle.get.getBytes("UTF-8"))
  }
  def generateWarmup(spark: SparkSession, k: Int): Unit =
    synthesize(spark, seed + 1000 * k, WarmDocs)
      .write.parquet(s"${warmCorpus(k)}/documents.parquet")
  def warmup(spark: SparkSession, k: Int): Unit = {
    val out = s"$work/warm$k/out"
    query.fn(spark, warmCorpus(k)).write.mode("overwrite").parquet(out)
    read(spark, out)
  }

  private def read(spark: SparkSession, out: String): Seq[Long] = {
    val r = spark.read.parquet(out).agg(count(lit(1)),
      coalesce(sum(col("doc_id")), lit(0L)),
      sum(when(col("split") === "train", 1L).otherwise(0L))).head()
    Seq(r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def measure(spark: SparkSession, seconds: Double, traced: Boolean,
              tracer: Tracer, rec: mutable.Map[String, Any]): Unit = {
    val layers = new Layers
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var opTime = 0.0
    var i = 1
    while (i <= MinRuns || opTime < seconds) {
      val out = s"$work/curate/out/run-$i"
      val traceThis = traced && i % 2 == 0
      if (traceThis) tracer.enable()
      val (ok, wall) = Clock.time(tracer.span("curate") {
        try {
          query.fn(spark, corpus).write.mode("overwrite").parquet(out); true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] curate run $i failed: $e"); false
        }
      })
      if (traceThis) {
        tracer.disable(); tracer.finish()
        layers.addSpark(tracer, tracer.spans.filter(_.name == "curate").last)
        tracedWalls += wall
      } else if (i > 1) untracedWalls += wall
      if (!ok) failed += 1
      opTime += wall
      val (r, readS) =
        if (ok) Clock.time(read(spark, out)) else (Seq(0L, 0L, 0L), 0.0)
      runs += Map("run" -> i, "wall_s" -> wall, "read_s" -> readS,
        "ok" -> ok, "out" -> out, "read" -> r, "traced" -> traceThis)
      if (traceThis) {
        layers.add("sink.read_s", readS)
        stageLayers(spark, tracer, layers)
      }
      i += 1
    }
    rec("runs") = runs.toSeq
    rec("docs") = MainDocs
    rec("failed_ops") = failed
    rec("attempted") = runs.size
    rec("corpus") = s"$corpus/documents.parquet"
    rec("oracle_sql") = s"$work/curate/oracle.sql"
    if (traced) {
      val tw = Clock.median(tracedWalls.toSeq)
      val uw = Clock.median(untracedWalls.toSeq)
      layers.add("trace.overhead_s", tw - uw)
      layers.add("trace.overhead_ratio", if (uw > 0) (tw - uw) / uw else 0.0)
      rec("layers") = layers.medians
    }
  }

  /** The curate chain stage by stage through the operators' public
    * functions, each stage materialised and timed on its own, with the
    * survivor count after it and the LSH candidate/verified pair counts.
    */
  private def stageLayers(spark: SparkSession, tracer: Tracer,
                          layers: Layers): Unit = {
    tracer.enable()
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String, df: => DataFrame): (DataFrame, Long, Double) = {
      var out: DataFrame = null; var n = 0L
      val s = Layers.timed(tracer, s"operators.$name") {
        out = df.persist(StorageLevel.MEMORY_AND_DISK); n = out.count()
      }
      cached += out
      (out, n, s)
    }
    val (base, nBase, filterS) = stage("filter", docs.filter(
      TextAnalysis.langId(col("text")) === "en" &&
        TextAnalysis.gopherKeep(col("text"), minWords = GopherMinWords)))
    val (edocs, nExact, exactS) = stage("exact", base.join(
      Dedup.exact(base.select(col("doc_id"),
        TextAnalysis.normalizeForHash(col("text")).as("__norm")),
        "doc_id", "__norm").select(col("keep_id").as("doc_id")), "doc_id"))
    val (pairs, nPairs, minhashS) = stage("minhash", Dedup.minhashNearDups(
      edocs, "doc_id", "text", ShingleK, NumHashes, RowsPerBand, Threshold))
    val (labels, _, componentsS) = stage("components",
      Dedup.connectedComponents(pairs, "id_a", "id_b"))
    val (canon, nCanon, canonicalS) = stage("canonical",
      Dedup.keepCanonical(edocs, "doc_id", labels))
    val (_, nCap, capS) = stage("cap_split", Sampling.hashSplit(
      Sampling.capPerGroup(canon, "source", "doc_id", col("n_chars"), DomainCap),
      "doc_id", Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05)))
    var candidates = 0L
    tracer.span("operators.lsh_candidates") {
      candidates = lshCandidates(edocs)
    }
    cached.foreach(_.unpersist())
    tracer.disable(); tracer.finish()
    layers.add("operators.filter_s", filterS)
    layers.add("operators.exact_s", exactS)
    layers.add("operators.minhash_s", minhashS)
    layers.add("operators.components_s", componentsS)
    layers.add("operators.canonical_s", canonicalS)
    layers.add("operators.cap_split_s", capS)
    layers.add("operators.filter_survivors", nBase)
    layers.add("operators.exact_survivors", nExact)
    layers.add("operators.canonical_survivors", nCanon)
    layers.add("operators.cap_survivors", nCap)
    layers.add("operators.lsh_candidates", candidates)
    layers.add("operators.lsh_verified", nPairs)
    layers.add("operators.lsh_precision",
      if (candidates > 0) nPairs.toDouble / candidates else 0.0)
  }

  /** Distinct doc pairs that share at least one LSH band bucket, banded
    * the way `Dedup.minhashNearDups` bands the public signatures.
    */
  private def lshCandidates(docs: DataFrame): Long = {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", ShingleK, NumHashes)
    val bands = (0 until NumHashes / RowsPerBand).map { b =>
      sigs.select(col("doc_id"), lit(b).as("band"), concat_ws("_",
        (0 until RowsPerBand).map(r => col(s"sig_${b * RowsPerBand + r}")): _*)
        .as("bk"))
    }.reduce(_ union _)
    val a = bands.select(col("doc_id").as("a"), col("band"), col("bk"))
    val b = bands.select(col("doc_id").as("b"), col("band"), col("bk"))
    a.join(b, Seq("band", "bk")).filter(col("a") < col("b"))
      .select("a", "b").distinct().count()
  }
}

object CurateCorpus {
  val MainDocs = 2000L
  val WarmDocs = 400L
  val MinRuns = 3
  // the registry query's recipe constants
  val GopherMinWords = 20
  val ShingleK = 3
  val NumHashes = 12
  val RowsPerBand = 3
  val Threshold = 0.5
  val DomainCap = 10

  private val EnVocab: Seq[String] = Seq(
    "the", "of", "and", "to", "in", "that", "is", "with", "market", "system",
    "people", "report", "water", "science", "music", "history", "company",
    "service", "project", "world", "group", "house", "family", "school",
    "student", "research", "city", "model", "table", "range", "energy",
    "signal", "figure", "method", "result", "value", "change", "study",
    "growth", "policy", "health", "record", "number", "public", "member",
    "season", "review", "design", "process", "travel", "garden", "window",
    "silver", "bridge", "forest", "stream", "engine", "letter", "moment",
    "camera", "branch", "island", "office", "player", "ground", "corner",
    "animal", "doctor")

  private val DeVocab: Seq[String] = Seq(
    "der", "die", "und", "das", "ist", "nicht", "ein", "eine", "mit", "von",
    "zu", "den", "auf", "im", "dem", "sich", "des", "auch", "werden", "aus",
    "wurde", "sind", "einer", "wird", "bei", "einem", "nach", "als", "wie")

  /** Seeded corpus: ~10 % German (dropped by lang-id), ~5 % too short
    * (dropped by gopher), ~15 % exact duplicates of a basis doc, ~10 %
    * near duplicates (basis text plus one salt word), 20 sources with a
    * skewed size mix. Every column derives from (seed, doc_id).
    */
  def synthesize(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val vocabEn = array(EnVocab.map(lit): _*)
    val vocabDe = array(DeVocab.map(lit): _*)
    def h(cs: org.apache.spark.sql.Column*) = abs(xxhash64((lit(seed) +: cs): _*))
    val base = spark.range(n).toDF("doc_id")
      .withColumn("cls", pmod(h(col("doc_id")), lit(100)))
      .withColumn("basis",
        when(col("cls").between(15, 39), pmod(h(col("doc_id"), lit("b")), lit(n / 10)))
          .otherwise(col("doc_id")))
      .withColumn("n_words",
        when(col("cls").between(10, 14), (pmod(h(col("doc_id"), lit("w")), lit(15)) + 5)
          .cast("int"))
          .otherwise((pmod(h(col("basis"), lit("w")), lit(120)) + 40).cast("int")))
      .withColumn("is_de", col("cls") < 10)
      .withColumn("source", concat(lit("src_"), floor(sqrt(
        pmod(h(col("doc_id"), lit("s")), lit(400)).cast("double"))).cast("int")))
    val words = transform(sequence(lit(0), col("n_words") - 1), i =>
      when(col("is_de"), element_at(vocabDe,
        (pmod(h(col("basis"), i), lit(DeVocab.size)) + 1).cast("int")))
        .otherwise(element_at(vocabEn,
          (pmod(h(col("basis"), i), lit(EnVocab.size)) + 1).cast("int"))))
    base.withColumn("text0", array_join(words, " "))
      .withColumn("text", when(col("cls").between(30, 39),
        concat(col("text0"), lit(" variant"), pmod(col("doc_id"), lit(5)).cast("string")))
        .otherwise(col("text0")))
      .withColumn("lang", when(col("is_de"), lit("de")).otherwise(lit("en")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(4)
  }
}
