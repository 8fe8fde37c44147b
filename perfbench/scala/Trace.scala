package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from outside the program.
  *
  * The harness wraps each of its calls into the engine in a named phase
  * ([[Tracer.phase]]); the phase name rides the submitting thread's local
  * properties into every Spark job it causes, so asynchronous listener
  * events can be attributed without guessing by time. Each job is also
  * attributed to a `graft.*` module by its call site: the innermost
  * `graft.` frame of the long call-site form names the module, and a job
  * issued under `Pipeline.run` goes to the cleaning operator whose class
  * is on that stack. SQL jobs take the call site of their SQL execution
  * (recorded when the execution starts on the caller's thread), because
  * broadcast and adaptive jobs are submitted from Spark's own threads.
  */
object Trace {
  val PhaseKey = "perfbench.phase"

  /** Cleaning operator classes → the metric key of each op. */
  val OpKeys: Seq[(String, String)] = Seq(
    "TypeConvert" -> "typeconvert", "TextClean" -> "textclean",
    "DatetimeParse" -> "datetime", "MissingValues" -> "missing",
    "Dedup" -> "dedup", "Outliers" -> "outliers", "TypoFix" -> "typofix",
    "Encode" -> "encode", "Normalize" -> "normalize")

  private val OpFrame =
    ("""^graft\.ops\.(""" + OpKeys.map(_._1).mkString("|") + """)[.$]""").r
  private val GraftFrame = """^graft\.([A-Za-z]+)[.$]""".r

  final case class Site(module: String, op: Option[String],
      underPipeline: Boolean)

  /** Attribute one long-form call site (one frame per line). */
  def attribute(longForm: String): Site = {
    val frames = longForm.linesIterator.map(_.trim).toVector
    val underPipeline = frames.exists(_.startsWith("graft.Pipeline$.run"))
    val op =
      if (!underPipeline) None
      else frames.iterator.flatMap(f => OpFrame.findPrefixMatchOf(f))
        .map(m => OpKeys.find(_._1 == m.group(1)).get._2).nextOption()
    val module = frames.iterator.collectFirst {
      case f if f.startsWith("graft.") =>
        GraftFrame.findPrefixMatchOf(f).map(_.group(1)) match {
          case Some(pkg) if pkg.head.isLower => pkg
          case Some("Pipeline") | Some("PipelineJson") => "pipeline"
          case Some("Tables") => "sources"
          case other => other.getOrElse("graft").toLowerCase
        }
    }.orElse(frames.find(_.startsWith("perfbench.")).map(_ => "bench"))
      .getOrElse("unknown")
    Site(module, op, underPipeline)
  }

  final class Job(val phase: String, val site: Site, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }

  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskNs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
}

/** Listener state plus the synchronous per-phase counters (wall time,
  * codegen, GC) the harness thread reads around each phase. */
final class Tracer(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val execSites = new ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val perPhase = new ConcurrentHashMap[String, Totals]()
  private val planningMs = new ConcurrentHashMap[String, java.lang.Long]()
  private val windows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  /** synchronous counters: phase → (wall ns, codegen ns, classes, gc ms) */
  val sync = mutable.LinkedHashMap.empty[String, Array[Double]]

  private def totals(p: String): Totals = perPhase.computeIfAbsent(p, _ => new Totals)

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId, s.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("(none)")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(s => Option(execSites.get(s.toLong)))
      val site = exec.orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details))
        .getOrElse("")
      val j = new Job(phase, attribute(site), e.time)
      e.stageIds.foreach(stagePhase.put(_, phase))
      jobs.put(e.jobId, j)
      totals(phase).synchronized { totals(phase).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val phase = Option(stagePhase.get(e.stageInfo.stageId)).getOrElse("(none)")
      val m = e.stageInfo.taskMetrics
      val t = totals(phase)
      t.synchronized {
        t.stages += 1
        t.tasks += e.stageInfo.numTasks
        if (m != null) {
          t.taskNs += m.executorRunTime * 1000000L
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(s => s.endTimeMs - s.startTimeMs).sum
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      val phase = windows.asScala.find { case (_, a, b) => start >= a && start <= b }
        .map(_._1).getOrElse("(none)")
      planningMs.merge(phase, ms, (a, b) => a + b)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def codegenClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Run `body` as phase `name`: tag its jobs, time it, and take the
    * codegen and GC deltas. */
  def phase[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    val cg0 = codegenNs(); val cc0 = codegenClasses(); val gc0 = gcMs()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      windows.add((name, w0, System.currentTimeMillis()))
      val acc = sync.getOrElseUpdate(name, new Array[Double](4))
      acc(0) += wall / 1e9
      acc(1) += (codegenNs() - cg0) / 1e9
      acc(2) += (codegenClasses() - cc0).toDouble
      acc(3) += (gcMs() - gc0) / 1e3
      sc.setLocalProperty(PhaseKey, prev)
    }
  }

  /** Summed wall time of phase `name` over every call. */
  def wall(name: String): Double = sync.get(name).map(_(0)).getOrElse(0.0)

  /** Jobs of the given phases (after [[drain]]). */
  def jobsOf(phases: Set[String]): Seq[Job] =
    jobs.values.asScala.filter(j => phases(j.phase)).toSeq

  def totalsOf(phases: Set[String]): Totals = {
    val out = new Totals
    phases.flatMap(p => Option(perPhase.get(p))).foreach { t =>
      out.jobs += t.jobs; out.stages += t.stages; out.tasks += t.tasks
      out.taskNs += t.taskNs; out.shuffleWrite += t.shuffleWrite
      out.spill += t.spill
    }
    out
  }

  def planningS(phases: Set[String]): Double =
    phases.toSeq.flatMap(p => Option(planningMs.get(p))).map(_.longValue).sum / 1e3

  /** Phases whose attributed job time exceeds their wall time — must be
    * empty (jobs of one phase are issued by one thread, one at a time). */
  def overfullPhases(): Seq[String] = sync.keys.toSeq.filter { p =>
    val jobS = jobsOf(Set(p)).filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum / 1e3
    // job times are whole milliseconds; allow one per job for rounding
    jobS > wall(p) + 0.001 * jobsOf(Set(p)).size
  }
}
