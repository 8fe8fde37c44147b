package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, PipelineJson, Tables}
import graft.dedup.NearDup
import graft.ops.Sampling
import graft.plans.SequencePacking
import graft.sim.Similarity
import graft.sources.Csv
import graft.text.{Chunker, Decontaminate, QualityFilters}
import graft.util.CacheHygiene

/** The JVM half of the benchmark: one process per run, one closed-loop
  * client (this thread), Spark `local[cpus]`.
  *
  * {{{
  * Main --workload W --inputs DIR --out DIR --seconds S --trace 0|1
  *      --result FILE
  * }}}
  * Writes raw measurements (per-operation wall times, attempted/failed,
  * per-layer totals) as JSON to FILE; run.py turns them into metrics and
  * checks the outputs left under `--out`.
  */
object Main {

  final case class Opts(workload: String, inputs: String, out: String,
      seconds: Double, trace: Boolean, result: String)

  def parseArgs(args: Array[String]): Opts = {
    val m = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    Opts(m("workload"), m("inputs"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("result"))
  }

  def session(out: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (256L << 10).toString)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The workload of one run, bound to a session. */
  def workload(spark: SparkSession, o: Opts): Workload = o.workload match {
    case "clean_requests" => new CleanRequests(spark, o)
    case "corpus_prep" => new CorpusPrep(spark, o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.out)
    val w = workload(spark, o)
    w.makeVisible()
    // set-up: process start to a session with the inputs visible
    w.res("setup_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    w.run()
    w.res("persisted_rdds") = CacheHygiene.persistedCount(spark)
    w.res("peak_rss_mb") = peakRssMb()
    Files.write(Paths.get(o.result), Json.render(w.res).getBytes(UTF_8))
    spark.stop()
  }

  /** Resident high-water mark of this process (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON rendering for the result file (no dependency needed). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case Some(x) => render(x)
    case other => render(other.toString)
  }
}

/** Shared skeleton: timing loop, failure accounting, tracing, hygiene. */
abstract class Workload(val spark: SparkSession, val o: Main.Opts) {
  val res = mutable.LinkedHashMap.empty[String, Any]
  val in: String = o.inputs
  val out: String = o.out
  val tracer: Option[Tracer] = if (o.trace) Some(new Tracer(spark)) else None
  protected var traced = false
  /** Operations of warm-up rounds are run but not counted. */
  protected var counting = true
  private var attempted = 0L
  private var failed = 0L
  /** Wall times of the counted, untraced operations that succeeded. */
  private val opWalls = mutable.ArrayBuffer.empty[Double]
  private val errors = mutable.ArrayBuffer.empty[String]

  def makeVisible(): Unit
  def run(): Unit

  /** Time `body` as a layer phase when this operation is traced. */
  def ph[T](name: String)(body: => T): T =
    if (traced) tracer.get.phase(name)(body) else body

  /** Run one operation: counted, timed, failure-isolated, and with every
    * RDD it leaves persisted released afterwards. Returns the wall time
    * in seconds and whether it succeeded. */
  def operation(name: String, counted: Boolean)(body: => Unit): (Double, Boolean) = {
    val before = CacheHygiene.snapshot(spark)
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case NonFatal(e) =>
        if (errors.size < 5) errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(600)
        false
    }
    val wall = (System.nanoTime() - t0) / 1e9
    CacheHygiene.releaseNew(spark, before)
    System.err.println(f"[harness] $name%-14s $wall%8.3f s${if (ok) "" else " FAILED"}")
    if (counted) { attempted += 1; if (!ok) failed += 1 }
    if (counted && ok && !traced) opWalls += wall
    (wall, ok)
  }

  /** Repeat `round` (one whole round of operations) until `o.seconds`
    * have passed, and at least `least` times. */
  def rounds(least: Int)(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var r = 0
    while (r < least || (System.nanoTime() - t0) / 1e9 < o.seconds) { round(r); r += 1 }
  }

  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def readText(p: String): String = new String(Files.readAllBytes(Paths.get(p)), UTF_8)

  /** Fill the result record; per-layer values are per traced operation. */
  def finish(measured: Map[String, Any], tracedOps: Int,
      layerPhases: Map[String, Set[String]]): Unit = {
    res ++= measured
    res("op_s") = opWalls.toSeq
    res("attempted") = attempted
    res("failed") = failed
    res("errors") = errors.toSeq
    tracer.foreach { t =>
      t.drain()
      val n = math.max(tracedOps, 1).toDouble
      val all = t.sync.keySet.toSet
      val layers = mutable.LinkedHashMap.empty[String, Double]
      layerPhases.foreach { case (metric, phases) =>
        layers(metric) = phases.toSeq.map(t.wall).sum / n
      }
      val jobs = t.jobsOf(all)
      val pipelineJobs = jobs.filter(_.site.underPipeline)
      layers("pipeline.jobs") = pipelineJobs.size / n
      Trace.OpKeys.map(_._2).foreach { op =>
        val js = pipelineJobs.filter(_.site.op.contains(op))
        layers(s"ops.$op.jobs") = js.size / n
        layers(s"ops.$op.job_s") =
          js.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum / 1e3 / n
      }
      val tot = t.totalsOf(all)
      layers("spark.jobs") = tot.jobs / n
      layers("spark.stages") = tot.stages / n
      layers("spark.tasks") = tot.tasks / n
      layers("spark.task_s") = tot.taskNs / 1e9 / n
      layers("spark.planning_s") = t.planningS(all) / n
      layers("spark.codegen_s") = all.toSeq.map(p => t.sync(p)(1)).sum / n
      layers("spark.codegen_classes") = all.toSeq.map(p => t.sync(p)(2)).sum / n
      layers("spark.shuffle_write_bytes") = tot.shuffleWrite / n
      layers("spark.spill_bytes") = tot.spill / n
      layers("spark.gc_s") = all.toSeq.map(p => t.sync(p)(3)).sum / n
      res("layers") = layers
      res("jobs_by_module") = jobs.groupBy(_.site.module).map { case (k, v) => k -> v.size / n }
      res("overfull_phases") = t.overfullPhases()
    }
  }

  def setTraced(on: Boolean): Unit = {
    if (on && !traced) tracer.get.attach()
    if (!on && traced) tracer.get.detach()
    traced = on
  }
}

/** A stream of CSV uploads through `Csv.cleanCsv`, one after another.
  * Recurring requests keep their column names, so their shape (columns and
  * config) repeats; every other request gets column names of its own in
  * every round, so its shape is one the process has not seen before. */
final class CleanRequests(spark: SparkSession, o: Main.Opts) extends Workload(spark, o) {
  final case class Req(file: String, recurring: Boolean, repeats: Int, cfg: String)

  private val reqs: IndexedSeq[Req] =
    readText(s"$in/requests.tsv").linesIterator.filter(_.nonEmpty).map { l =>
      val Array(f, rec, rep, cfg) = l.split("\t", 4)
      Req(f, rec == "1", rep.toInt, cfg)
    }.toIndexedSeq

  def makeVisible(): Unit =
    reqs.foreach(r => require(Files.isRegularFile(Paths.get(s"$in/${r.file}")), r.file))

  /** The upload and config of request `i` in round `round`. */
  private def prepare(i: Int, round: Int): (String, String) = {
    val r = reqs(i)
    val sfx = s"_r${round}_$i"
    if (r.recurring) (s"$in/${r.file}", r.cfg)
    else {
      val src = Paths.get(s"$in/${r.file}")
      val text = readText(src.toString)
      val nl = text.indexOf('\n')
      val names = text.substring(0, nl).split(",").map(_.stripPrefix("\"").stripSuffix("\""))
      val header = names.map(n => "\"" + n + sfx + "\"").mkString(",")
      val dst = Paths.get(s"$out/uploads/${r.file}")
      Files.createDirectories(dst.getParent)
      Files.write(dst, (header + text.substring(nl)).getBytes(UTF_8))
      val cfg = names.foldLeft(r.cfg)((c, n) =>
        c.replace("\"" + n + "\"", "\"" + n + sfx + "\""))
      (dst.toString, cfg)
    }
  }

  /** Upload `i` of round `round`: (wall seconds, succeeded). A traced
    * request calls the steps of `Csv.cleanCsv` one by one, to time each. */
  private def request(i: Int, round: Int): (Double, Boolean) = {
    val (path, cfg) = prepare(i, round)
    val dst = f"$out/results/req-$i%03d"
    operation("request", counting) {
      val report =
        if (!traced) Csv.cleanCsv(spark, path, cfg, dst)._2
        else {
          val raw = ph("read") { Csv.read(spark, path) }
          val c = ph("parse") { PipelineJson.parse(cfg) }
          val (cleaned, report) = ph("run") { Pipeline.run(raw, c) }
          ph("write") { Csv.write(cleaned, dst) }
          report
        }
      require(report.errors.isEmpty, report.errors.mkString("; "))
    }
  }

  def run(): Unit = {
    // warm-up: the first upload (the nine-operator table) of round 0, uncounted
    counting = false
    request(0, 0)
    counting = true
    val lat = mutable.ArrayBuffer.empty[Double]
    val latReq = mutable.ArrayBuffer.empty[Int]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    var lastRound = 0
    rounds(1) { r =>
      lastRound = r + 1
      reqs.indices.foreach { i =>
        // an untraced run sends the largest upload several times in a row; a
        // traced run times each upload once untraced and once traced,
        // alternating which goes first so warmer caches favour neither
        val turns = if (tracer.isEmpty) Seq.fill(reqs(i).repeats)(false)
          else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        turns.foreach { tr =>
          setTraced(tr)
          val (w, ok) = request(i, r + 1)
          if (ok && tr) tracedLat += w
          if (ok && !tr) { lat += w; latReq += i }
        }
      }
    }
    setTraced(false)
    finish(Map("latency_s" -> lat.toSeq, "latency_req" -> latReq.toSeq,
      "traced_latency_s" -> tracedLat.toSeq,
      "last_round" -> lastRound), tracedLat.size, Map(
      "sources.read_s" -> Set("read"), "sources.write_s" -> Set("write"),
      "pipeline.parse_s" -> Set("parse"), "pipeline.run_s" -> Set("run")))
  }
}

/** LLM training-data preparation over a generated document corpus, each
  * stage checkpointed to parquet, then an IVF index build and a batch of
  * top-10 queries over a generated embedding corpus. */
final class CorpusPrep(spark: SparkSession, o: Main.Opts) extends Workload(spark, o) {
  /** Operator parameters, written by the input generator beside the inputs. */
  private val params: Map[String, String] =
    readText(s"$in/params.tsv").linesIterator.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t", 2)
      k -> v
    }.toMap
  private def num(k: String): Double = params(k).toDouble

  def makeVisible(): Unit =
    Seq("documents", "bench", "embeddings", "queries")
      .foreach(t => Tables.load(spark, in, t).schema)

  private def ck(stage: String): String = s"$out/corpus/$stage"
  private def read(stage: String): DataFrame = spark.read.parquet(ck(stage))
  /** One stage: its own counted, failure-isolated operation. */
  private def stage(name: String)(body: => Unit): Boolean =
    operation(name, counting)(ph(name)(body))._2

  private def docsPass(): Boolean = Seq(
    () => stage("quality") {
      write(QualityFilters.gopherRepetitionFilter(Tables.load(spark, in, "documents"), "text"),
        ck("quality"))
    },
    () => stage("exact") {
      write(NearDup.exactDedup(read("quality"), "text", "doc_id"), ck("exact"))
    },
    () => stage("minhash") {
      val p = NearDup.minhashPairs(read("exact"), "text", "doc_id",
        threshold = num("neardup_threshold"))
      write(p, ck("pairs"))
    },
    () => stage("clusters") {
      val cl = NearDup.clusters(read("pairs"))
      write(cl, ck("clusters"))
      val dropped = read("clusters").where(col("cluster") =!= col("id"))
        .select(col("id").as("doc_id"))
      write(read("exact").join(dropped, Seq("doc_id"), "left_anti"), ck("representatives"))
    },
    () => stage("decontaminate") {
      val bench = Tables.load(spark, in, "bench")
      write(Decontaminate.flagContaminatedBloom(read("representatives"), bench,
        "text", "doc_id", n = num("contam_n").toInt).where(!col("contaminated")).drop("contaminated"),
        ck("decontaminated"))
    },
    () => stage("cap") {
      write(Sampling.capPerGroup(read("decontaminated"), "lang", "doc_id", num("cap_per_lang").toInt),
        ck("capped"))
    },
    () => stage("shuffle") {
      write(Sampling.shufflePositions(read("capped").select("doc_id", "text"), "doc_id"),
        ck("shuffled"))
    },
    () => stage("chunk") {
      write(Chunker.chunk(read("shuffled"), "shuffle_pos", "text",
        num("chunk_tokens").toInt, num("chunk_overlap").toInt)
        .select((col("shuffle_pos") * 1000000L + col("chunk_id")).as("chunk_key"),
          col("n_chunk_tokens"), split(col("chunk_text"), " ").as("toks")),
        ck("chunks"))
    },
    () => stage("pack") {
      write(SequencePacking.gather(read("chunks"), "chunk_key", "toks", num("pack_window").toLong),
        ck("packed"))
    }
  ).forall(_())  // a failed stage stops the pass: later stages read its output

  private def annPass(): Boolean = {
    val corpus = Tables.load(spark, in, "embeddings")
    val queries = Tables.load(spark, in, "queries")
    var idx: Option[Similarity.IvfIndex] = None
    stage("ann_index") { idx = Some(Similarity.fitIvfIndex(corpus, num("ann_nlist").toInt)) } &&
    stage("ann_query") {
      write(Similarity.ivfTopK(corpus, queries, num("ann_k").toInt,
        nlist = num("ann_nlist").toInt, nprobe = num("ann_nprobe").toInt, index = idx),
        ck("ann_topk"))
    }
  }

  /** A corpus preparation job runs as a fresh process, so every run of it
    * pays the cold first pass: that pass is what is measured. A traced
    * run warms up first, then alternates untraced and traced passes. */
  def run(): Unit = {
    if (tracer.isDefined) {
      counting = false
      docsPass(); annPass()
      counting = true
    }
    val docWalls = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Double]
    // traced: untraced, traced, untraced passes, so the overhead compares
    // the traced pass with untraced ones on both sides of it
    rounds(if (tracer.isDefined) 3 else 1) { r =>
      val tr = tracer.isDefined && r % 2 == 1
      setTraced(tr)
      val t0 = System.nanoTime()
      val ok = docsPass()
      val w = (System.nanoTime() - t0) / 1e9
      annPass()
      if (ok) (if (tr) tracedPasses else docWalls) += w
    }
    setTraced(false)
    finish(Map("docs_pass_s" -> docWalls.toSeq, "traced_docs_pass_s" -> tracedPasses.toSeq),
      tracedPasses.size, Map(
      "text.quality_s" -> Set("quality"), "text.decontaminate_s" -> Set("decontaminate"),
      "dedup.exact_s" -> Set("exact"), "dedup.minhash_s" -> Set("minhash"),
      "dedup.clusters_s" -> Set("clusters"), "sampling.cap_s" -> Set("cap"),
      "sampling.shuffle_s" -> Set("shuffle"), "text.chunk_s" -> Set("chunk"),
      "plans.layout_s" -> Set("pack"), "sim.ivf_fit_s" -> Set("ann_index"),
      "sim.ivf_query_s" -> Set("ann_query")))
  }
}

