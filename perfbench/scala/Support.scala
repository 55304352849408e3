package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Minimal JSON writer for the raw result file the Python runner reads. */
object Json {
  def render(v: Any): String = v match {
    case null                   => "null"
    case s: String              => quote(s)
    case b: Boolean             => b.toString
    case d: Double              => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                 => n.toString
    case n: Long                => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]        => xs.map(render).mkString("[", ",", "]")
    case other                  => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }
}

/** `key=value` plan written by the runner. */
final class Plan(path: String) {
  private val props = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(path)
    try p.load(new java.io.InputStreamReader(in, "UTF-8")) finally in.close()
    p
  }
  def str(k: String): String =
    Option(props.getProperty(k)).getOrElse(sys.error(s"plan misses '$k'"))
  def int(k: String): Int = str(k).toInt
  def dbl(k: String): Double = str(k).toDouble
  def bool(k: String): Boolean = str(k) == "1"
  /** Tab-separated rows of a plan-referenced file. */
  def rows(k: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(str(k), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t")).toVector
    finally src.close()
  }
}

/** Failure accounting shared by every client thread: an exception is
  * caught and counted, so the thread keeps running. */
final class Ops {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val errors = new ConcurrentLinkedQueue[String]

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (errors.size < 20) errors.add(what)
  }

  /** Run one operation; false (and counted) when it throws or `body`
    * reports a wrong result. */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted.incrementAndGet()
    val ok =
      try body
      catch { case e: Throwable => fail(s"$what: $e"); return false }
    if (!ok) fail(s"$what: wrong result")
    ok
  }

  /** Detail for the error list without counting another failure. */
  def note(what: String): Unit = if (errors.size < 20) errors.add(what)

  def errorList: Seq[String] = errors.asScala.toSeq
}

/** Heap the program retains once an operation phase is over: in use
  * right after one full collection, taken after the timed phase so that
  * the timed operations run with the program's own collections. */
object Heap {
  def retainedMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }
}

final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long)

/** Span recorder for the traced run. Spans stay in memory and are written
  * once at the end. The active span's name travels with every Spark job
  * the thread submits (a local property), so job and task counters can
  * be attributed to the layer call that caused them. */
object Trace {
  @volatile var on = false
  @volatile var sc: SparkContext = _
  val SpanProp = "perfbench.span"
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def now: Long = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val prevProp = if (sc != null) sc.getLocalProperty(SpanProp) else null
      if (sc != null) sc.setLocalProperty(SpanProp, name)
      val t0 = now
      try body
      finally {
        spans.add(Span(id, name, outer.headOption.getOrElse(0L), t0, now))
        stack.set(outer)
        if (sc != null) sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** A span that ended now and lasted `seconds`, under the caller's
    * current span: how a callback that reports only durations (the
    * pipeline's phase hook) enters the trace. */
  def record(name: String, seconds: Double): Unit =
    if (on) {
      val end = now
      spans.add(Span(ids.incrementAndGet(), name, stack.get.headOption.getOrElse(0L),
        end - (seconds * 1e9).toLong, end))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def json: Seq[Map[String, Any]] = all.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start" -> s.start, "end" -> s.end)
  }
}

final case class JobRec(timeMs: Long, span: String, stream: Boolean)
final case class TaskRec(stageId: Int, span: String, stream: Boolean,
                         finishMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, schedDelayMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         input: Long, output: Long, fetchWaitMs: Long)

/** Job and task counters from Spark's public listener API. */
final class SparkCounters extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val stageInfo =
    new java.util.concurrent.ConcurrentHashMap[Int, (String, Boolean)]

  private def tags(p: java.util.Properties): (String, Boolean) =
    if (p == null) ("", false)
    else (Option(p.getProperty(Trace.SpanProp)).getOrElse(""),
      p.getProperty("sql.streaming.queryId") != null)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (span, stream) = tags(e.properties)
    jobs.add(JobRec(e.time, span, stream))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageInfo.put(e.stageInfo.stageId, tags(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val (span, stream) = Option(stageInfo.get(e.stageId)).getOrElse(("", false))
    val i = e.taskInfo
    val sched = math.max(0L, i.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    tasks.add(TaskRec(e.stageId, span, stream, i.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, sched, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.shuffleReadMetrics.fetchWaitTime))
  }

  def jobsIn(t0: Long, t1: Long): Seq[JobRec] =
    jobs.asScala.filter(j => j.timeMs >= t0 && j.timeMs <= t1).toSeq
  def tasksIn(t0: Long, t1: Long): Seq[TaskRec] =
    tasks.asScala.filter(t => t.finishMs >= t0 && t.finishMs <= t1).toSeq
}

/** Rows produced by the parquet scans of an executed query (AQE-aware). */
object ScanRows extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def of(qe: org.apache.spark.sql.execution.QueryExecution): Long =
    collect(qe.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}

/** Hadoop FileSystem byte counters of the local (`file`) scheme. */
object FsStats {
  final case class Snap(bytesRead: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  @annotation.nowarn("cat=deprecation")
  def snap(): Snap = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Snap(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** Counts the warning classes that signal a degraded plan, through a
  * log4j appender attached to the root logger. */
object LogCounter {
  val codegenFallback = new AtomicLong
  val unpartitionedWindow = new AtomicLong

  def install(): Unit = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-warnings", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("falling back to interpreter mode")) codegenFallback.incrementAndGet()
        if (msg.contains("No Partition Defined for Window operation"))
          unpartitionedWindow.incrementAndGet()
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }
}

/** Directory byte totals (what a workload left on disk). */
object Disk {
  def bytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  }

  def count(dir: String, suffix: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.count(p =>
        java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(suffix)).toLong
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists)
      finally s.close()
    }
  }
}

object Stat {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val v = xs.sorted
    val n = v.length
    if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
  }
}
