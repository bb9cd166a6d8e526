package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What one run of a workload reports. `layer` holds the per-layer
  * metrics of a traced run; `info` is printed for people, not parsed.
  */
final case class Outcome(
    attempted: Long, failed: Long,
    e2e: Map[String, Double], layer: Map[String, Double],
    info: Seq[(String, String)] = Nil, trace: Option[Trace] = None)

/** Everything a workload needs from the harness. */
final class Ctx(val seed: Long, val seconds: Double, val traced: Boolean, val work: File) {
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getPath
  }

  /** A local Spark session whose scratch (shuffle, spill, warehouse)
    * lives in the run's work directory.
    */
  def session(cores: Int): SparkSession = {
    val s = graft.GraftSession.builder(cores)
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Attach a [[Recorder]] to the session when the run is traced. */
  def trace(spark: SparkSession): Trace = {
    val rec = if (traced) Some(new Recorder) else None
    rec.foreach(spark.sparkContext.addSparkListener)
    new Trace(spark.sparkContext, rec)
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Main {
  val Workloads: Seq[String] = Seq("ingest", "analytics_suite")

  /** The end-to-end metrics every workload reports (see README). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms", "setup_s" -> "s")

  /** Every per-layer metric a traced run reports, with its unit. A
    * workload that does not exercise a layer reports it as 0.
    */
  val PerLayer: Seq[(String, String)] =
    Seq("scan", "gunzip", "decode", "typed", "write", "commit").map(l => s"ingest.${l}_s" -> "s") ++
      Seq(
        "ingest.write_tasks" -> "count", "ingest.write_max_task_s" -> "s",
        "ingest.jobs" -> "count", "ingest.task_cpu_s" -> "s", "ingest.gc_s" -> "s",
        "ingest.shuffle_write_mb" -> "MB", "ingest.spill_mb" -> "MB",
        "ingest.events_out_per_in" -> "ratio", "ingest.events_in" -> "count",
        "ingest.events_per_s_local1" -> "1/s", "ingest.events_per_s_local4" -> "1/s",
        "stream.sink_ms_p50" -> "ms", "stream.trigger_ms_p50" -> "ms",
        "stream.add_batch_ms_p50" -> "ms", "stream.get_batch_ms_p50" -> "ms",
        "stream.planning_ms_p50" -> "ms", "stream.wal_commit_ms_p50" -> "ms",
        "stream.batches" -> "count", "stream.files_per_batch_mean" -> "count",
        "stream.jobs_per_batch" -> "count", "stream.task_cpu_s" -> "s",
        "stream.sink_ms_first_q" -> "ms", "stream.sink_ms_last_q" -> "ms",
        "stream.manifest_versions" -> "count", "stream.gen_late_ms_max" -> "ms",
        "stream.latency_samples" -> "count") ++
      Suite.Groups.keys.toSeq.sorted.flatMap(g => Seq(
        s"suite.$g.wall_s" -> "s",
        s"suite.$g.construction_s" -> "s", s"suite.$g.construction_jobs" -> "count",
        s"suite.$g.action_jobs" -> "count", s"suite.$g.driver_bound_s" -> "s",
        s"suite.$g.action_s" -> "s", s"suite.$g.tasks" -> "count",
        s"suite.$g.task_cpu_s" -> "s", s"suite.$g.gc_s" -> "s",
        s"suite.$g.shuffle_write_mb" -> "MB", s"suite.$g.spill_mb" -> "MB")) ++
      Suite.Rows.flatMap(r => Seq(s"suite.row.$r.wall_s" -> "s", s"suite.row.$r.jobs" -> "count")) ++
      Seq("jvm.heap_after_gc_mb" -> "MB", "trace.overhead_pct" -> "%", "trace.latency_overhead_pct" -> "%")

  /** Heap in use after the most recent collection, summed over the
    * heap pools that report it.
    */
  def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val root = new File(opts.getOrElse("root", "."))
    val work = new File(opts.getOrElse("work", ".bench_build/work"), s"$workload-${ProcessHandle.current.pid}")
    deleteTree(work)
    val ctx = new Ctx(opts.getOrElse("seed", "1").toLong, opts.getOrElse("seconds", "10").toDouble,
      opts.getOrElse("trace", "0") == "1", work)
    val out = try workload match {
      case "ingest" => Ingest.run(ctx)
      case "analytics_suite" => Suite.run(ctx, new File(root, "graftbench/data/sf0.01").getPath,
        new File(root, "graftbench/suite_digests.tsv"), opts.get("pin").contains("1"))
    } finally deleteTree(work)

    out.info.foreach { case (k, v) => println(s"[graftbench] $k: $v") }
    out.trace.foreach { t =>
      val dir = new File(opts.getOrElse("trace-dir", ".bench_build/traces"))
      dir.mkdirs()
      val f = new File(dir, s"$workload-seed${ctx.seed}-${System.currentTimeMillis()}.json")
      val layers = out.layer.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      java.nio.file.Files.writeString(f.toPath, t.toJson(Seq(
        "workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
        "metrics" -> layers.mkString("{", ",", "}"))))
      println(s"[graftbench] trace: ${f.getPath}")
    }
    val metrics =
      if (ctx.traced) PerLayer.map { case (k, u) => k -> (out.layer.getOrElse(k, 0.0), u) }
      else EndToEnd.map { case (k, u) => k -> (out.e2e(k), u) }
    metrics.foreach { case (k, (v, u)) => println(f"[graftbench] $k%-34s ${Json.num(v)} $u") }
    if (!ctx.traced) println(s"[graftbench] failed_share: ${out.failed.toDouble / out.attempted}")
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},"metrics":$m}""")
    System.out.flush()
  }
}
