package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlBridge

/** Spans around the benchmark's calls into the engine, and the Spark
  * work attributed to them.
  *
  * A span is one call into a public engine function, named
  * `<module>.<function>`; request roots (`ann`, `batch`, ...) parent
  * them. While a span is open its instance id sits in a job-local
  * property, so every Spark job it launches (AQE sub-jobs inherit the
  * property) is attributed to the innermost open span. A job without
  * the property falls back to the span of its SQL execution root.
  * Task metrics fold into their job; scan and write node metrics come
  * from the executed plan attached to each SQL execution's end event.
  *
  * Inclusive stats: `wall_ms` and `driver_ms` (wall minus the union of
  * job intervals inside the span, children included). Exclusive stats
  * (work of the innermost span only): `jobs`, `job_ms`, `cpu_ms`,
  * `input_bytes`, `files_read`, `shuffle_bytes`, `output_bytes`,
  * `output_files`. `self_ms` is wall minus the children's wall.
  *
  * The listener is registered from [[start]] to [[stop]]; while
  * `active` is false, [[span]] only runs its body and sets no property.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val execModule = new ConcurrentHashMap[java.lang.Long, String]()
  private val execRoot = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val execIo = new ConcurrentHashMap[java.lang.Long, Io]()
  private def spanOfExec(e: Long): Option[Long] = Option(execSpan.get(e)).map(_.longValue)
  private def rootOf(e: Long): Long = Option(execRoot.get(e)).map(_.longValue).getOrElse(e)
  private val events = new AtomicLong(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      val root = prop("spark.sql.execution.root.id").map(_.toLong).getOrElse(exec)
      if (exec >= 0) execRoot.putIfAbsent(exec, root)
      val span = prop(SpanKey).map(_.toLong)
        .orElse(spanOfExec(root)).getOrElse(-1L)
      if (span >= 0 && root >= 0) execSpan.putIfAbsent(root, span)
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val rec = new JobRec(e.jobId, span, root, e.time, site)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) Option(jobs.get(stageJob.getOrDefault(e.stageId, -1))).foreach { j =>
        j.synchronized {
          j.cpuNs += m.executorCpuTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        events.incrementAndGet()
        val root = s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(s.executionId)
        execRoot.putIfAbsent(s.executionId, root)
        moduleOf(s.details).foreach(execModule.putIfAbsent(s.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        events.incrementAndGet()
        SqlBridge.queryExecution(end).foreach(qe => execIo.put(end.executionId, ioOf(qe.executedPlan)))
      case _ => ()
    }
  }

  /** Spans are recorded only while active. */
  var active = false

  /** Record from now on. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    started = true
  }
  private var started = false

  /** Run `body` inside a span called `name`. */
  def span[T](name: String)(body: => T): T = {
    if (!active) return body
    val rec = new SpanRec(nextId.getAndIncrement(), name,
      stack.headOption.map(_.id).getOrElse(-1L), System.currentTimeMillis())
    spans += rec
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    stack = rec :: stack
    sc.setLocalProperty(SpanKey, rec.id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      rec.wallNs = System.nanoTime() - t0
      rec.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Wait until the listener bus has gone quiet, then detach. */
  def stop(): Unit = if (started) {
    active = false
    started = false
    var last = -1L
    var quiet = 0
    val deadline = System.currentTimeMillis() + 10000L
    while (quiet < 4 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val n = events.get()
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Per span name: every stat it has. Spans of `processBatch` are also
    * split by the engine module whose source line launched each job.
    */
  def report(): Map[String, Map[String, Double]] = {
    val jobList = jobs.values.asScala.toSeq.filter(_.end >= 0)
    // a job lacking the span property inherits its execution root's span
    jobList.filter(_.span < 0).foreach { j =>
      spanOfExec(j.exec).foreach(s => j.span = s)
    }
    val jobsOf = jobList.groupBy(_.span)
    val children = spans.groupBy(_.parent)
    def subtree(s: SpanRec): Seq[SpanRec] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree).toSeq
    val ioOf: Map[Long, Io] = execIo.asScala.toSeq.flatMap { case (exec, io) =>
      spanOfExec(rootOf(exec)).map(s => (s, io))
    }.groupBy(_._1).map { case (s, ios) => s -> ios.map(_._2).foldLeft(new Io)(_ + _) }

    val out = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]
    def add(name: String, k: String, v: Double): Unit = {
      val m = out.getOrElseUpdate(name, mutable.LinkedHashMap.empty)
      m(k) = m.getOrElse(k, 0.0) + v
    }
    def addJobs(name: String, js: Seq[JobRec]): Unit = {
      add(name, "jobs", js.size)
      add(name, "job_ms", js.map(j => j.end - j.start).sum)
      add(name, "cpu_ms", js.map(_.cpuNs).sum / 1e6)
      add(name, "input_bytes", js.map(_.inputBytes).sum)
      add(name, "shuffle_bytes", js.map(_.shuffleBytes).sum)
      add(name, "output_bytes", js.map(_.outputBytes).sum)
    }
    spans.foreach { s =>
      val wall = s.wallNs / 1e6
      add(s.name, "calls", 1)
      add(s.name, "wall_ms", wall)
      add(s.name, "self_ms", wall - children.getOrElse(s.id, Nil).map(_.wallNs / 1e6).sum)
      val inner = subtree(s).flatMap(c => jobsOf.getOrElse(c.id, Nil))
      add(s.name, "driver_ms", math.max(0.0, wall - covered(inner, s.startMs, s.endMs)))
      val own = jobsOf.getOrElse(s.id, Nil)
      addJobs(s.name, own)
      val io = ioOf.getOrElse(s.id, new Io)
      add(s.name, "files_read", io.filesRead)
      add(s.name, "output_files", io.outputFiles)
      if (s.name == SplitSpan) own.groupBy(j => moduleOfJob(j)).foreach { case (mod, js) =>
        addJobs(s"$SplitSpan.$mod", js)
        val mio = js.map(_.exec).distinct.flatMap(e => execIo.asScala.collect {
          case (x, io) if rootOf(x) == e => io
        }).foldLeft(new Io)(_ + _)
        add(s"$SplitSpan.$mod", "files_read", mio.filesRead)
      }
    }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }

  private def moduleOfJob(j: JobRec): String =
    Option(execModule.get(j.exec)).orElse(moduleOf(j.site)).getOrElse("spark")
}

object Tracer {

  /** Files scanned and written by one executed plan. */
  def ioOf(plan: SparkPlan): Io = {
    val io = new Io
    Plans.walk(plan).foreach {
      case s: FileSourceScanExec =>
        io.filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case b: BatchScanExec =>
        io.filesRead += b.inputPartitions.collect { case f: FilePartition => f.files.length.toLong }.sum
      case w: DataWritingCommandExec =>
        io.outputFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ => ()
    }
    io
  }

  val SpanKey = "perfbench.span"
  val SplitSpan = "pipeline.processBatch"

  final class SpanRec(val id: Long, val name: String, val parent: Long, val startMs: Long) {
    var endMs: Long = -1L
    var wallNs: Long = 0L
  }

  final class JobRec(val id: Int, var span: Long, val exec: Long, val start: Long, val site: String) {
    var end: Long = -1L
    var cpuNs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
  }

  final class Io {
    var filesRead = 0L
    var outputFiles = 0L
    def +(o: Io): Io = { val r = new Io; r.filesRead = filesRead + o.filesRead
      r.outputFiles = outputFiles + o.outputFiles; r }
  }

  private val Frame = """(?:^|\s)(?:at\s+)?(graft\.[A-Za-z_$][\w$.]*|org\.apache\.spark\.sql\.graftbridge\.[\w$.]*)""".r

  /** Engine module of the innermost engine frame in a call-site stack:
    * `graft.<module>.X` gives `<module>`, the Spark bridge package
    * gives `graftbridge`.
    */
  def moduleOf(site: String): Option[String] =
    site.linesIterator.flatMap(l => Frame.findFirstMatchIn(l)).map(_.group(1)).toSeq.headOption.map { fq =>
      if (fq.startsWith("org.")) "graftbridge"
      else fq.split('.') match {
        case Array(_, m, _, _*) if m.headOption.exists(_.isLower) => m
        case _ => "graft"
      }
    }

  /** Milliseconds of [lo, hi] covered by the union of the jobs' intervals. */
  def covered(js: Seq[JobRec], lo: Long, hi: Long): Double = {
    val iv = js.map(j => (math.max(lo, j.start), math.min(hi, j.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}

/** Plan walking that sees through AQE and command wrappers. */
private object Plans extends AdaptiveSparkPlanHelper {
  def walk(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case x => x }.flatMap {
      case c: CommandResultExec => c +: walk(c.commandPhysicalPlan)
      case x => Seq(x)
    }
}
