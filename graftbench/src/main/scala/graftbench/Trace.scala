package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters of one span: jobs, stages and tasks, and the task
  * metrics summed over the span's tasks.
  */
final class Counters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  def taskCpuS: Double = cpuNs.get / 1e9
  def gcS: Double = gcMs.get / 1e3
  def shuffleWriteMb: Double = shuffleWriteBytes.get / 1e6
  def spillMb: Double = spillBytes.get / 1e6
}

/** One stage's task-level shape: how many tasks ran and the longest. */
final case class StageShape(tasks: Long, maxTaskS: Double)

/** Attributes Spark jobs, stages and tasks to the benchmark span that
  * caused them. The span is read from a local property the benchmark
  * sets on the calling thread ([[Trace.SpanKey]]); Spark copies local
  * properties into every job it submits, including the broadcast jobs
  * SQL runs on its own threads. Streaming jobs are attributed by the
  * micro-batch id Spark sets itself, which wins over an inherited span.
  */
final class Recorder extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]
  private val counters = new ConcurrentHashMap[String, Counters]
  private val stageTasks = new ConcurrentHashMap[Int, AtomicLong]
  private val stageMaxMs = new ConcurrentHashMap[Int, AtomicLong]
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong

  def of(span: String): Counters = counters.computeIfAbsent(span, _ => new Counters)

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty("streaming.sql.batchId")).map(Recorder.StreamSpan + _)
        .orElse(Option(p.getProperty(Trace.SpanKey)))
    }.getOrElse("unattributed")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    of(span).jobs.incrementAndGet()
    jobsStarted.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(of(_).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(Option(stageSpan.get(e.stageId)).getOrElse("unattributed"))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
    }
    stageTasks.computeIfAbsent(e.stageId, _ => new AtomicLong).incrementAndGet()
    stageMaxMs.computeIfAbsent(e.stageId, _ => new AtomicLong)
      .accumulateAndGet(e.taskInfo.duration, (a, b) => math.max(a, b))
  }

  /** Stages of `span`'s jobs, oldest first. */
  def stages(span: String): Seq[StageShape] =
    stageSpan.asScala.toSeq.filter(_._2 == span).map(_._1).sorted.map { s =>
      StageShape(Option(stageTasks.get(s)).map(_.get).getOrElse(0L),
        Option(stageMaxMs.get(s)).map(_.get / 1e3).getOrElse(0.0))
    }

  def spans: Map[String, Counters] = counters.asScala.toMap

  /** The listener bus is asynchronous: wait (bounded) until every job
    * that started has ended and the counters have stopped moving, so
    * a span's tail events are not charged to the next one.
    */
  def quiesce(): Unit = {
    def snap = (jobsStarted.get, jobsEnded.get, counters.values.asScala.map(_.tasks.get).sum)
    val deadline = System.nanoTime() + 3000000000L
    var prev = snap
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(25)
      val cur = snap
      if (cur == prev && cur._1 == cur._2) stable += 1 else { stable = 0; prev = cur }
    }
  }
}

object Recorder {
  /** Span prefix of the traced stream phase's micro-batches. */
  val StreamSpan = "ingest/stream/batch-"
}

/** In-memory span tree of one traced run, written out at the end. */
final class Trace(val sc: SparkContext, val recorder: Option[Recorder]) {
  final case class Span(path: String, wallS: Double)

  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]

  def enabled: Boolean = recorder.isDefined

  /** Run `body` as span `path` ("workload/pass/row/phase"). The path is
    * set as the thread's span property for the jobs `body` submits and
    * restored afterwards. Untraced runs only time the body.
    */
  def span[T](path: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Trace.SpanKey)
    if (enabled) sc.setLocalProperty(Trace.SpanKey, path)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(path, (System.nanoTime() - t0) / 1e9))
      if (enabled) sc.setLocalProperty(Trace.SpanKey, prev)
    }
  }

  def record(path: String, wallS: Double): Unit = done.add(Span(path, wallS))

  def spans: Seq[Span] = done.asScala.toSeq

  /** Wall of a span minus the wall of its direct children. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(k => k.path.startsWith(s.path + "/") &&
      !k.path.stripPrefix(s.path + "/").contains('/'))
    s.wallS - kids.map(_.wallS).sum
  }

  def toJson(extra: Seq[(String, String)]): String = {
    val rec = recorder.map(_.spans).getOrElse(Map.empty)
    val spanJson = spans.map { s =>
      val c = rec.get(s.path)
      val counts = c.map(c =>
        s""","jobs":${c.jobs.get},"stages":${c.stages.get},"tasks":${c.tasks.get},""" +
          s""""task_cpu_s":${Json.num(c.taskCpuS)},"gc_s":${Json.num(c.gcS)},""" +
          s""""shuffle_write_mb":${Json.num(c.shuffleWriteMb)},"spill_mb":${Json.num(c.spillMb)}""").getOrElse("")
      s"""{"path":${Json.str(s.path)},"wall_s":${Json.num(s.wallS)},"self_s":${Json.num(selfS(s))}$counts}"""
    }
    (extra.map { case (k, v) => s"${Json.str(k)}:$v" } :+
      s""""spans":[\n${spanJson.mkString(",\n")}\n]""").mkString("{\n", ",\n", "\n}\n")
  }
}

object Trace {
  val SpanKey = "graftbench.span"
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
