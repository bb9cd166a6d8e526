package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.sources.ParquetLake
import graft.streaming.LogStream

/** The `ingest` workload's stream phase: the generator's records
  * arrive as parquet files in a directory, released by one thread
  * (open loop). A file-source stream runs `LogStream.parse` → `FlowLogs.parseLine` →
  * `LogStream.matviewBatchWriter` (staged append, batch-marked manifest
  * commit, live per-(action, protocol) rollup).
  *
  * Before the stream starts, its lake is given the committed history of
  * an earlier stream, because the sink reads the headers of every
  * manifest version on every batch: its cost depends on how long the
  * lake has been written to, and a fresh lake would hide it. One stream
  * then runs for the whole phase, in parts: warm-up files released as
  * soon as the previous one is committed (set-up), then files released
  * on a fixed schedule — the measured part and, in a traced run, a
  * traced part between two untraced ones.
  *
  * A file's latency runs from its due time to the return of the sink
  * call that committed it. Files are mapped to micro-batches after the
  * run, from the file source's checkpoint log, so measuring adds no
  * job to the stream.
  */
object IngestStream {
  // one file every 3 s, about 1.8 times a trigger's time on the 4-vCPU
  // host the benchmark was built on: each file is its own micro-batch,
  // so its latency is the pipeline's, not a queue's, also while
  // neighbours on a shared host slow it by a third
  val RecordsPerFile = 34
  val PeriodMs = 3000L
  val WarmFiles = 3
  // the lake's history: one committed version per micro-batch of an
  // earlier stream that ran for HistoryVersions periods. The sink's
  // call time grows with it (graftbench/README.md), and this is about
  // as many as the stream can take at PeriodMs and stay below capacity.
  val HistoryVersions = 40
  val View = "by_action_protocol"
  val Keys = Seq("action", "protocol")
  val Measures = Seq("bytes", "packets")
  private val schema = StructType(Seq(StructField("data", BinaryType)))

  /** What the stream did for one phase's files. */
  final case class Phase(
      latencyMs: Seq[Double], batchIds: Seq[Long], sinkMs: Seq[Double],
      filesPerBatch: Seq[Double], lateMaxMs: Double, events: Long, files: Int, failedFiles: Int)

  private def typedRows(records: DataFrame): DataFrame =
    Ingest.typed(LogStream.parse(records)).withColumn("p_date", to_date(timestamp_millis(col("timestamp_ms"))))

  /** file name → micro-batch, from the file source's metadata log. */
  def fileBatches(checkpoint: String): Map[String, Long] = {
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    Option(new File(checkpoint, "sources/0").listFiles).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
      .collect { case Entry(path, id) => new File(new java.net.URI(path).getPath).getName -> id.toLong }
      .toMap
  }

  /** Give the lake the history of an earlier stream: one manifest
    * version per file, each adding that file's rows under a batch
    * marker of the earlier stream's sink, as the sink's own commits do.
    * One Spark job writes the rows and the commits touch only the
    * manifest, so set-up stays short. The live rollup is then brought
    * up to date.
    */
  def history(spark: SparkSession, ctx: Ctx, lake: String, files: Seq[(Int, File)]): Unit = {
    val aside = new File(ctx.dir("history"), "rows")
    typedRows(spark.read.schema(schema).parquet(files.map(_._2.getPath): _*))
      .withColumn("history_file", substring(col("log_id"), 1, 6).cast("int"))
      .write.partitionBy("history_file", "p_date").parquet(aside.getPath)
    val marker = s"stream_batch_${LogStream.matviewSinkId(new File(ctx.work, "history-checkpoint").getPath)}"
    var listed = Vector.empty[String]
    files.zipWithIndex.foreach { case ((i, _), batch) =>
      val dirs = Option(new File(aside, s"history_file=$i").listFiles).toSeq.flatten.filter(_.isDirectory)
      listed ++= dirs.flatMap { d =>
        d.listFiles.filter(_.getName.startsWith("part-")).map { f =>
          val dst = new File(new File(lake, d.getName), s"part-h$i-${f.getName.stripPrefix("part-")}")
          dst.getParentFile.mkdirs()
          Files.move(f.toPath, dst.toPath)
          s"${d.getName}/${dst.getName}"
        }
      }
      ParquetLake.commitManifest(spark, lake, listed, headers = Map(marker -> batch.toString))
    }
    ParquetLake.matviewRefresh(spark, lake, View, Keys, Measures)
    Main.deleteTree(aside.getParentFile)
  }

  /** The run's one stream, and what it recorded per micro-batch. */
  final class Run(spark: SparkSession, ctx: Ctx, lake: String, progress: Boolean) {
    val in = ctx.dir("stream-in")
    val checkpoint = new File(ctx.work, "stream-checkpoint").getPath
    val sinkEnd = new ConcurrentHashMap[Long, java.lang.Long]
    val sinkEndMs = new ConcurrentHashMap[Long, java.lang.Long]
    val sinkMs = new ConcurrentHashMap[Long, java.lang.Double]
    val due = new ConcurrentHashMap[Int, java.lang.Long]
    val late = new ConcurrentHashMap[Int, java.lang.Double]
    val progresses = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    @volatile var warmEnd = 0L

    /** Stream `warm` (closed loop) and then `phases` (on schedule),
      * calling `atPhase(k)` at the due time of phase k's first file,
      * before it is released. Returns when every file is committed and
      * the stream has stopped.
      */
    def go(warm: Seq[(Int, File)], phases: Seq[Seq[(Int, File)]], atPhase: Int => Unit): Unit = {
      val writer = LogStream.matviewBatchWriter(lake, View, Keys, Measures, Some("p_date"),
        LogStream.matviewSinkId(checkpoint))
      def release(f: File, i: Int): Unit =
        Files.move(f.toPath, new File(in, f"f-$i%06d.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) progresses.add(e.progress)
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      if (progress) spark.streams.addListener(listener)
      // the stream thread inherits local properties: start it outside any span
      spark.sparkContext.setLocalProperty(Trace.SpanKey, null)
      val query = typedRows(spark.readStream.schema(schema).parquet(in)).writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          writer(df, id)
          val t1 = System.nanoTime()
          sinkEndMs.put(id, System.currentTimeMillis())
          sinkMs.put(id, (t1 - t0) / 1e6)
          sinkEnd.put(id, t1)
          ()
        }
        .option("checkpointLocation", checkpoint)
        .start()
      val gen = new Thread(() => {
        // warm-up: the next file as soon as the stream has committed
        // the previous one, so each is its own micro-batch
        warm.zipWithIndex.foreach { case ((i, f), k) =>
          release(f, i)
          while (sinkEnd.size < k + 1 && query.isActive) Thread.sleep(5)
        }
        warmEnd = System.nanoTime()
        // the stream is idle again well before then: a trigger commits
        // within ≈ 50 ms of its sink call
        val t0 = warmEnd + 500000000L
        val starts = phases.scanLeft(0)(_ + _.size).init
        phases.flatten.zipWithIndex.foreach { case ((i, f), k) =>
          val d = t0 + k * PeriodMs * 1000000L
          val wait = d - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          if (starts.contains(k)) atPhase(starts.indexOf(k))
          release(f, i)
          due.put(i, d)
          late.put(i, (System.nanoTime() - d) / 1e6)
        }
      }, "graftbench-generator")
      gen.start()
      gen.join()
      query.processAllAvailable()
      query.stop()
      if (progress) {
        // progress events arrive on the listener bus after the batch:
        // wait (bounded) for one per sink call
        val deadline = System.nanoTime() + 2000000000L
        while (progresses.size < sinkMs.size && System.nanoTime() < deadline) Thread.sleep(20)
        spark.streams.removeListener(listener)
      }
    }

    /** What the stream did for `files`; `failed` are the files the
      * check found wrong.
      */
    def phase(files: Seq[(Int, File)], exp: IndexedSeq[Gen.Totals], failed: Set[Int]): Phase = {
      val batchOf = fileBatches(checkpoint)
      val ids = files.flatMap { case (i, _) => batchOf.get(f"f-$i%06d.parquet") }
      val batchIds = ids.distinct.sorted
      val latency = files.flatMap { case (i, _) =>
        for {
          d <- Option(due.get(i))
          b <- batchOf.get(f"f-$i%06d.parquet")
          end <- Option(sinkEnd.get(b))
        } yield (end - d) / 1e6
      }
      val perBatch = batchOf.values.groupBy(identity).map { case (b, fs) => b -> fs.size.toDouble }
      Phase(latency, batchIds, batchIds.flatMap(b => Option(sinkMs.get(b)).map(_.doubleValue)),
        batchIds.map(perBatch), files.flatMap { case (i, _) => Option(late.get(i)).map(_.doubleValue) }
          .foldLeft(0.0)(math.max), files.map(f => exp(f._1).events).sum, files.size,
        files.count(f => failed(f._1)))
    }
  }

  /** The released files whose events did not land exactly once in the
    * lake. If the lake holds events of a file neither in its history
    * nor released, or its rows or its live rollup differ from the
    * generator's per-(action, protocol) totals over both, every
    * released file counts as failed.
    */
  def check(
      spark: SparkSession, lake: String, history: Seq[Int], released: Seq[Int],
      exp: IndexedSeq[Gen.Totals]): Set[Int] = {
    val (perFile, groups) = Ingest.summary(Seq(ParquetLake.readManifested(spark, lake))).head
    val all = history ++ released
    val want = all.map(exp).foldLeft(Gen.Totals.empty)(_ + _)
    val view = ParquetLake.matviewRead(spark, lake, View).collect().map { r =>
      (r.getAs[String]("action"), r.getAs[Integer]("protocol")) ->
        Gen.Agg(r.getAs[Long]("n_rows"), Option(r.getAs[java.lang.Long]("sum_bytes")).map(_.toLong).getOrElse(0L),
          Option(r.getAs[java.lang.Long]("sum_packets")).map(_.toLong).getOrElse(0L))
    }.toMap
    if (view != want.groups || groups != want.groups || (perFile.keySet -- all).nonEmpty) released.toSet
    else released.filterNot(i => perFile.get(i).contains((exp(i).events, exp(i).events, exp(i).seqSum))).toSet
  }

  /** What the stream phase measured: the measured phase's file
    * latencies, and set-up (history and warm-up).
    */
  final case class Result(
      latencyMs: Seq[Double], attempted: Long, failed: Long, setupS: Double,
      layer: Map[String, Double], info: Seq[(String, String)])

  /** Files per part: untraced, the measured part (`seconds` of files,
    * at least four, so that the median is not set by one slow file).
    * Traced, one untraced file, a traced part of eight
    * (so that its first and last quarters are two batches each) and
    * another untraced file.
    */
  def phaseFiles(ctx: Ctx): Seq[Int] =
    if (ctx.traced) Seq(1, 8, 1) else Seq(math.max(4, math.ceil(ctx.seconds * 1000 / PeriodMs).toInt))

  def config(ctx: Ctx): Gen.Config =
    Gen.Config(ctx.seed, HistoryVersions + WarmFiles + phaseFiles(ctx).sum, RecordsPerFile, truncated = false)

  /** `staged` holds one parquet file per file of `gen`, in order. */
  def run(ctx: Ctx, spark: SparkSession, t: Trace, gen: Gen.Output, staged: IndexedSeq[File]): Result = {
    val setup0 = System.nanoTime()
    val exp = gen.files.map(_.expected)
    val lake = ctx.dir("lake")
    val (past, rest) = staged.zipWithIndex.map(_.swap).splitAt(HistoryVersions)
    history(spark, ctx, lake, past)
    val historyS = Stats.secs(setup0)
    val (warm, scheduled) = rest.splitAt(WarmFiles)
    val phaseSizes = phaseFiles(ctx)
    val phases = phaseSizes.scanLeft(0)(_ + _).zip(phaseSizes).map { case (a, n) => scheduled.slice(a, a + n) }

    // traced: the recorder listens from the traced phase's first file
    // to the next phase's, and the stream's micro-batches are
    // attributed by batch id
    t.recorder.foreach(spark.sparkContext.removeSparkListener)
    val run = new Run(spark, ctx, lake, progress = t.enabled)
    run.go(warm, phases, {
      case 1 => t.recorder.foreach(spark.sparkContext.addSparkListener)
      case 2 => t.recorder.foreach(spark.sparkContext.removeSparkListener)
      case _ =>
    })
    val setupS = (run.warmEnd - setup0) / 1e9
    val failed = check(spark, lake, past.map(_._1), rest.map(_._1), exp)
    val warmPhase = run.phase(warm, exp, failed)
    val m = run.phase(phases(0), exp, failed)
    val attempted = rest.size.toLong
    val info = Seq(
      "stream_setup" -> (f"history $historyS%.2f s ($HistoryVersions versions), " +
        f"warm-up ${setupS - historyS}%.2f s (sink ms ${warmPhase.sinkMs.map(x => f"$x%.0f").mkString(",")})"),
      "stream_rate" -> f"${1000.0 / PeriodMs}%.3f files/s, ${m.events * 1000.0 / PeriodMs / m.files}%.0f events/s",
      "stream_sink_capacity_per_s" -> f"${m.events / (m.sinkMs.sum / 1e3)}%.0f events/s",
      "stream_latency_samples" -> s"${m.latencyMs.size} of ${m.files} files",
      "stream_latency_p50_ms" -> f"${Stats.median(m.latencyMs)}%.1f",
      "stream_latency_max_ms" -> f"${m.latencyMs.max}%.1f",
      "stream_batches" -> (s"${m.sinkMs.size}, sink ms ${m.sinkMs.map(x => f"$x%.0f").mkString(",")}, " +
        s"file latency ms ${m.latencyMs.map(x => f"$x%.0f").mkString(",")}"),
      "stream_gen_late_ms_max" -> f"${m.lateMaxMs}%.1f")
    if (!t.enabled) return Result(m.latencyMs, attempted, failed.size, setupS, Map.empty, info)

    // tracing overhead: the traced phase sits between two untraced
    // ones, so the sink's growth with the lake's versions and the JIT
    // warm-up still under way shift both sides alike
    val rec = t.recorder.get
    val tw = run.phase(phases(1), exp, failed)
    val u2 = run.phase(phases(2), exp, failed)
    val untracedP50 = (Stats.median(m.latencyMs) + Stats.median(u2.latencyMs)) / 2
    tw.batchIds.zip(tw.sinkMs).foreach { case (id, ms) => t.record(s"${Recorder.StreamSpan}$id", ms / 1e3) }
    val tracedIds = tw.batchIds.toSet
    def dur(key: String) = {
      val ms = run.progresses.asScala.toSeq.filter(p => tracedIds(p.batchId))
        .flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))
      if (ms.isEmpty) 0.0 else Stats.median(ms)
    }
    val q = math.max(1, tw.sinkMs.size / 4)
    val batchCounters = tw.batchIds.flatMap(id => rec.spans.get(s"${Recorder.StreamSpan}$id"))
    val tracedP50 = Stats.median(tw.latencyMs)
    val tracedEndMs = tw.batchIds.map(b => run.sinkEndMs.get(b).longValue).max
    val layer = Map(
      "stream.sink_ms_p50" -> Stats.median(tw.sinkMs),
      "stream.trigger_ms_p50" -> dur("triggerExecution"),
      "stream.add_batch_ms_p50" -> dur("addBatch"),
      "stream.get_batch_ms_p50" -> dur("getBatch"),
      "stream.planning_ms_p50" -> dur("queryPlanning"),
      "stream.wal_commit_ms_p50" -> dur("walCommit"),
      "stream.batches" -> tw.sinkMs.size.toDouble,
      "stream.files_per_batch_mean" -> Stats.mean(tw.filesPerBatch),
      "stream.jobs_per_batch" -> Stats.mean(batchCounters.map(_.jobs.get.toDouble)),
      "stream.task_cpu_s" -> batchCounters.map(_.taskCpuS).sum,
      "stream.sink_ms_first_q" -> Stats.mean(tw.sinkMs.take(q)),
      "stream.sink_ms_last_q" -> Stats.mean(tw.sinkMs.takeRight(q)),
      "stream.manifest_versions" -> ParquetLake.manifestLog(spark, lake).count(_._2 <= tracedEndMs).toDouble,
      "stream.gen_late_ms_max" -> tw.lateMaxMs,
      "stream.latency_samples" -> tw.latencyMs.size.toDouble,
      "trace.latency_overhead_pct" -> (tracedP50 - untracedP50) / untracedP50 * 100)
    Result(m.latencyMs, attempted, failed.size, setupS, layer, info :+ ("stream_trace_overhead" ->
      f"latency p50 untraced $untracedP50%.1f ms (phases before and after), traced $tracedP50%.1f ms"))
  }
}
