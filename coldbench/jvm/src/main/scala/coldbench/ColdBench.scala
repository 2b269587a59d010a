package coldbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}
import graft.infra.{Caches, Staging}
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** One checked stage output: the artifact as read back after the chain, and
  * the SparkEntry query whose DuckDB oracle SQL must give the same rows when run
  * over the documents table in `sfDir`. */
final case class Out(name: String, df: DataFrame, oracle: Option[(String, String)] = None)

/** The cold production-order benchmark: one JVM per run.
  *
  * Starts a local[cpus] session, then runs the program's public operator
  * functions stage by stage over a corpus written by `gen.py`, with every
  * stage's artifact materialized inside the timed chain. Each chain works in
  * a fresh directory, so no staged artifact is ever reused, and the first
  * chain runs in a cold JVM. Stage outputs stay on disk for the checks that
  * `run.py` makes after this JVM exits.
  *
  * Usage: coldbench.ColdBench --workload W --corpus DIR --work DIR
  *          --seconds N --trace 0|1 --out FILE --launched-ms EPOCH_MS
  *          --stream-warm FILES --stream-interval-ms MS */
object ColdBench {

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val launchedMs = arg(args, "--launched-ms").toLong
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val setupS = (System.currentTimeMillis() - launchedMs) / 1000.0
    val b = new Bench(spark, arg(args, "--workload"), Paths.get(arg(args, "--corpus")).toAbsolutePath,
      work, arg(args, "--seconds").toDouble, arg(args, "--trace") == "1",
      arg(args, "--stream-warm").toInt, arg(args, "--stream-interval-ms").toLong)
    val result = b.run()
    Files.writeString(Paths.get(arg(args, "--out")), Json.obj((("setup_s" -> setupS) +: result): _*))
    spark.stop()
  }
}

final class Bench(spark: SparkSession, workload: String, corpus: Path, work: Path,
                  seconds: Double, traced: Boolean, streamWarm: Int, streamIntervalMs: Long) {

  private val trace = new Trace(spark.sparkContext)

  private def write(df: DataFrame, p: Path): DataFrame = {
    df.write.mode("overwrite").parquet(p.toString)
    spark.read.parquet(p.toString)
  }

  /** Runs `body`, which declares stages in order; each stage's outputs are
    * produced inside its span. */
  private def stages(body: (String => (=> Seq[Out]) => Unit) => Unit): Seq[(String, Seq[Out])] = {
    val done = ArrayBuffer[(String, Seq[Out])]()
    body(name => outs => done += name -> trace.span(name)(outs))
    done.toSeq
  }

  /** ingest → filter → sentences → abbreviations → concepts → cooccurrence
    * units/counts/metrics → relation sentences → exports → KG. Stages after
    * the filter read the filtered documents table, as the production order
    * feeds them; each is the composition of the SparkEntry query it is checked
    * against. */
  private def pipelineChain(dir: Path, fmt: String, curate: Boolean): Seq[(String, Seq[Out])] = stages { stage =>
    val ingestDir = dir.resolve("ingest")
    val filtDir = dir.resolve("filtered")
    stage("ingest") {
      val xml = spark.read.parquet(corpus.resolve(fmt).toString)
      val parsed = if (fmt == "medline") XmlIngest.parseMedline(xml) else XmlIngest.parseBioc(xml)
      // Medline joins the title to the abstract with a blank line and the
      // abstract sections with a newline; the corpus text is single-spaced
      val text = regexp_replace(col("doc_text"), "\n\n?", " ")
      val meta = spark.read.parquet(corpus.resolve("meta.parquet").toString)
      write(parsed.select(col("doc_id"), text.as("text")).join(meta, "doc_id")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars")),
        ingestDir.resolve("documents.parquet"))
      Seq(Out("ingest", Tables.documents(spark, ingestDir.toString)))
    }
    stage("filter") {
      val docs = Tables.documents(spark, ingestDir.toString)
      val f = write(TextOps.filterUnactionable(docs), dir.resolve("filter"))
      write(f.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .select(col("doc_id"), col("actionable_text").as("text"), col("lang"), col("source"),
          col("n_chars_actionable").as("n_chars")),
        filtDir.resolve("documents.parquet"))
      Seq(Out("filter", f, Some("doc_filter" -> ingestDir.toString)))
    }
    val d = filtDir.toString
    lazy val docs = Tables.documents(spark, d)
    stage("sentences") {
      Seq(Out("sentences", write(TextOps.sentences(docs), dir.resolve("sentences")), Some("sentences" -> d)))
    }
    stage("abbrev") {
      Seq(Out("abbrev", write(Abbreviations.detect(docs, "doc_id", "text"), dir.resolve("abbrev"))))
    }
    var pp, units, metrics: DataFrame = null
    stage("concepts") {
      pp = Concepts.stagedPostProcessed(docs, d)
      Seq(Out("concepts", pp, Some("concepts_pp" -> d)))
    }
    stage("cooccur_units") {
      units = Cooccurrence.stagedUnitConcepts(pp, d, "document", Seq("doc_id"))
      Seq(Out("cooccur_units", units))
    }
    stage("cooccur_counts") {
      val pairs = Cooccurrence.stagedPairCounts(units, d, "document", Seq("doc_id"))
      Seq(Out("cooccur_counts", pairs.select("concept1", "concept2", "pair_count"),
        Some("cooccur_counts_doc" -> d)))
    }
    stage("cooccur_metrics") {
      metrics = Cooccurrence.stagedMetrics(units, d, "document", Seq("doc_id"))
      Seq(Out("cooccur_metrics", metrics, Some("cooccur_metrics_doc" -> d)))
    }
    stage("relations") {
      Seq(Out("relations", write(SentencePairs.extractWithBlinded(docs, pp), dir.resolve("relations")),
        Some("sentence_pairs" -> d)))
    }
    stage("exports") {
      Seq(Out("export_flat", write(Exports.flat(docs, pp), dir.resolve("export_flat")), Some("export_flat" -> d)))
    }
    stage("kg") {
      Seq(Out("kg_edges", write(KnowledgeGraph.edgesFromMetrics(metrics), dir.resolve("kg_edges")),
        Some("kg_edges" -> d)))
    }
    if (curate) curation(stage, dir, d)
  }

  /** The training-data stages over the filtered documents in `d`: language
    * and quality gates, exact and normalized dedup, MinHash candidates,
    * near-dup clusters with keep-best, eval decontamination (bigram and
    * fuzzy), then packing and shards. Each is the composition of the SparkEntry
    * query it is checked against. */
  private def curation(stage: String => (=> Seq[Out]) => Unit, dir: Path, d: String): Unit = {
    val docs = Tables.documents(spark, d)
    def out(name: String, df: => DataFrame, query: String) =
      Out(name, write(df, dir.resolve(name)), Some(query -> d))
    stage("lang_quality") {
      Seq(out("lang_id", TextStats.langId(docs), "lang_id"),
        out("quality_filter", TextStats.qualityFilter(docs), "quality_filter"))
    }
    stage("dedup_exact") {
      Seq(out("dedup_exact", Dedup.exact(docs), "dedup_exact"),
        out("dedup_norm", Dedup.normalized(docs), "dedup_norm"))
    }
    stage("minhash") {
      Seq(out("minhash", Dedup.minhashCandidates(docs), "dedup_minhash"))
    }
    stage("clusters") {
      val cl = Dedup.stagedClusters(docs, d)
      Seq(Out("clusters", cl, Some("dedup_clusters" -> d)),
        out("keep_best", Dedup.clusterKeepBestFrom(docs, cl), "dedup_keep_best"))
    }
    stage("decontam") {
      // the eval suite is a versioned artifact: the title sentence of every
      // 50th document, staged once, as the SparkEntry queries stage it
      val evalSents = Staging.stageOnce("eval_sentences", d,
        TextOps.sentences(docs).where(col("sent_id") === 0 && pmod(col("doc_id"), lit(50L)) === 0)
          .select(col("doc_id").as("eval_id"), col("sent_text")), spark)
      val evalBg = Staging.stageOnce("eval_bigrams", d,
        TextStats.evalBigrams(evalSents, "eval_id", "sent_text"), spark)
      Seq(out("decontaminate", TextStats.decontaminateFromBigrams(TextStats.docBigrams(docs), evalBg),
          "decontaminate"),
        out("decontaminate_fuzzy", Dedup.fuzzyDecontaminate(docs, evalSents, "eval_id", "sent_text"),
          "decontaminate_fuzzy"))
    }
    stage("packing") {
      Seq(out("token_packing", TextStats.tokenPacking(docs), "token_packing"),
        out("shard_manifest", TextStats.shardManifest(docs), "shard_manifest"))
    }
  }

  private val layers = LinkedHashMap[String, Double]()
  private val chainCpus = ArrayBuffer[Double]()
  private val outputs = ArrayBuffer[String]()

  /** One cold chain in the fresh directory `iter-k`; returns its wall time.
    * Afterwards (untimed) its outputs are hard-linked under `keep/`, so they
    * outlive the program's exit-time cleanup of its staging dirs. */
  private def chain(k: Int): Double = {
    trace.iter = k
    val dir = work.resolve(s"iter-$k")
    val gc0 = Stats.gcMs()
    val cpu0 = Stats.cpuNs()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val done = trace.span("chain", "") {
      workload match {
        case "pipeline_abstracts" => pipelineChain(dir, "medline", curate = true)
        case "pipeline_fulltext" => pipelineChain(dir, "bioc", curate = false)
      }
    }
    val wall = (System.nanoTime() - n0) / 1e9
    chainCpus += (Stats.cpuNs() - cpu0) / 1e9
    if (trace.listener.isDefined && k == 1) recordLayers(t0, (Stats.gcMs() - gc0) / 1000.0, dir)
    // operator-internal caches would stand in for the artifact files below
    Caches.unpersistManaged()
    done.foreach { case (stage, outs) => outs.foreach { o =>
      val keep = work.resolve("keep").resolve(s"iter-$k").resolve(o.name)
      Files.createDirectories(keep)
      o.df.select("*").inputFiles.map(f => Paths.get(new java.net.URI(f))).foreach(f =>
        Files.createLink(keep.resolve(f.getFileName), f))
      outputs += Json.obj("iter" -> k, "stage" -> stage, "name" -> o.name, "dir" -> keep.toString,
        "columns" -> o.df.columns.toSeq,
        "floats" -> o.df.schema.fields.toSeq.collect {
          case f if f.dataType == DoubleType || f.dataType == FloatType => f.name },
        "query" -> o.oracle.map(_._1).orNull, "sf_dir" -> o.oracle.map(_._2).orNull,
        "sql" -> o.oracle.map(q => SparkEntry.oracleSql(q._1)).orNull)
    } }
    wall
  }

  /** Per-stage wall, driver-only, CPU and shuffle numbers of the traced
    * chain, plus its engine and staging totals. */
  private def recordLayers(t0: Long, gcS: Double, dir: Path): Unit = {
    val l = trace.listener.get
    l.drain(spark.sparkContext)
    val jobs = l.jobs.asScala.toSeq
    val spans = trace.spans.filter(_.iter == trace.iter)
    spans.filter(_.parent == "chain").foreach { s =>
      val t = Option(l.totals.get(s.name)).getOrElse(new StageTotals)
      layers(s"${s.name}.wall_s") = s.wallS
      layers(s"${s.name}.driver_s") = trace.driverS(s, jobs)
      layers(s"${s.name}.cpu_s") = t.cpuNs / 1e9
      layers(s"${s.name}.shuffle_mb") = t.shuffleWriteBytes / 1e6
    }
    val all = l.totals.asScala.filter { case (k, _) => k.nonEmpty && !k.startsWith(Trace.Fence) }.values
    layers("engine.spill_mb") = all.map(_.spillBytes).sum / 1e6
    layers("engine.gc_s") = gcS
    layers("engine.tasks") = all.map(_.tasks).sum.toDouble
    layers("engine.jobs") = jobs.count(j => j._1.nonEmpty && !j._1.startsWith(Trace.Fence)).toDouble
    val (bytes, n) = Stats.artifacts(Seq(dir, Paths.get(sys.props("java.io.tmpdir"))), t0)
    layers("staging.write_mb") = bytes / 1e6
    layers("staging.artifacts") = n.toDouble
    val chainSpan = spans.find(_.name == "chain").get
    layers("trace.chain_wall_s") = chainSpan.wallS
    layers("trace.uncovered_s") = chainSpan.wallS - spans.filter(_.parent == "chain").map(_.wallS).sum
  }

  /** Cold chains back to back until `seconds` are measured (at least one).
    * A traced run traces every chain and takes its layer numbers from the
    * first, cold one; then, when the corpus has stream files, it runs the
    * stream phase. */
  def run(): Seq[(String, Any)] = {
    if (traced) trace.enableListener()
    val walls = ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (walls.isEmpty || System.nanoTime() < deadline) walls += chain(walls.size + 1)
    val peakRssMb = Stats.peakRssMb()
    val streamSrc = corpus.resolve("stream")
    val stream = if (!traced || !Files.isDirectory(streamSrc)) Nil
      else Seq("stream" -> Json.Raw(Json.obj(trace.span("stream", "") {
        new StreamPhase(spark, streamSrc, work.resolve("stream"), streamWarm, streamIntervalMs).run()
      }: _*)))
    stream ++ Seq("chain_walls_s" -> walls.toSeq, "chain_cpu_s" -> chainCpus.toSeq,
      "spans" -> trace.spans.toSeq.map(s => Json.Raw(Json.obj("iter" -> s.iter, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS))),
      "outputs" -> outputs.toSeq.map(Json.Raw),
      "layers" -> Json.Raw(Json.obj(layers.toSeq: _*)),
      "peak_rss_mb" -> peakRssMb)
  }
}

object Stats {
  /** CPU time of every thread of this JVM: tasks, driver, JIT and GC. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Bytes and count (one per _SUCCESS marker) of the parquet artifacts
    * written since `sinceMs` under `roots`. */
  def artifacts(roots: Seq[Path], sinceMs: Long): (Long, Int) = {
    var bytes = 0L
    var n = 0
    roots.filter(Files.exists(_)).foreach { r =>
      val w = Files.walk(r)
      try w.iterator().asScala.foreach { p =>
        val name = p.getFileName.toString
        if (Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= sinceMs - 1000) {
          if (name == "_SUCCESS") n += 1
          else if (!name.endsWith(".crc")) bytes += Files.size(p)
        }
      } finally w.close()
    }
    (bytes, n)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
