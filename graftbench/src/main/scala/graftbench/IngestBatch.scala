package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Reader
import graft.sources.ParquetLake

/** The `ingest` workload's batch phase: the reference path, closed
  * loop. Gzipped
  * CWL records (parquet, one binary `data` column) →
  * `Reader.readLogs(permissive = true)` → `FlowLogs.parseLine` →
  * `ParquetLake.writePartitioned` → `ParquetLake.snapshotManifest`.
  * Each pass writes a fresh lake; its output is read back through the
  * manifest and checked against the generator's totals after the
  * timed span.
  */
object IngestBatch {
  val InputFiles = 8
  val RecordsPerFile = 260

  def config(seed: Long): Gen.Config = Gen.Config(seed, InputFiles, RecordsPerFile)

  def flat(spark: SparkSession, input: String): DataFrame =
    Reader.readLogs(spark.read.parquet(input), permissive = true)

  /** The timed span: readLogs through the manifest commit. */
  def pass(spark: SparkSession, t: Trace, span: String, input: String, lake: String): Double = {
    val t0 = System.nanoTime()
    t.span(span) {
      val rows = Ingest.typed(flat(spark, input))
      t.span(s"$span/write") {
        ParquetLake.writePartitioned(rows, lake, "timestamp_ms", Seq("timestamp_ms"))
      }
      t.span(s"$span/commit")(ParquetLake.snapshotManifest(spark, lake))
    }
    Stats.secs(t0)
  }

  /** Per lake, the events it holds and whether they are exactly the
    * expected ones, once each, with the expected per-(action, protocol)
    * sums. One job reads every lake.
    */
  def check(spark: SparkSession, lakes: Seq[String], exp: Gen.Totals): Seq[(Long, Boolean)] =
    Ingest.summary(lakes.map(ParquetLake.readManifested(spark, _))).map { case (files, groups) =>
      val (n, distinct, seqSum) = files.values.foldLeft((0L, 0L, 0L)) {
        case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z)
      }
      (n, n == exp.events && distinct == n && seqSum == exp.seqSum && groups == exp.groups)
    }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** What the batch phase measured. `walls` are the untraced passes. */
  final case class Result(
      walls: Seq[Double], attempted: Long, failed: Long, setupS: Double,
      layer: Map[String, Double], info: Seq[(String, String)])

  /** Lakes the phase wrote, checked together in one job when a part of
    * the phase ends, outside every timed span.
    */
  private final class Checks(spark: SparkSession, ctx: Ctx, exp: Gen.Totals, name: String) {
    private var lakes = 0
    private val unchecked = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var landed = 0L
    def lake(): String = { lakes += 1; val l = ctx.dir(s"$name-$lakes"); unchecked += l; l }
    def now(): Unit = if (unchecked.nonEmpty) {
      val results = check(spark, unchecked.toSeq, exp)
      attempted += results.size
      failed += results.count(!_._2)
      landed = results.last._1
      unchecked.foreach(l => Main.deleteTree(new java.io.File(l)))
      unchecked.clear()
    }
  }

  /** Warm-up passes (set-up), then either the measured passes or,
    * traced, untraced and traced passes in turn and the pipeline's
    * cumulative prefixes.
    */
  def run(ctx: Ctx, spark: SparkSession, t: Trace, gen: Gen.Output, input: String): Result = {
    val exp = gen.expected
    val events = exp.events.toDouble
    val checks = new Checks(spark, ctx, exp, "lake")
    val untraced = new Trace(spark.sparkContext, None)
    // warm-up (JIT, codegen): with two passes, the first measured pass
    // was the slowest of most runs
    val setup0 = System.nanoTime()
    (1 to 3).foreach(_ => pass(spark, untraced, "ingest/batch/warmup", input, checks.lake()))
    val setupS = Stats.secs(setup0)
    val inputInfo = "batch_input" -> (s"records=${gen.records} data=${gen.dataRecords} control=${gen.controlRecords} " +
      s"truncated=${gen.truncatedRecords} non_json=${gen.nonJsonRecords} events_in=${gen.eventsIn} " +
      s"events_out=${exp.events} gz_mb=${gen.gzBytes / 1e6} json_mb=${gen.jsonBytes / 1e6} " +
      s"p_dates=${gen.pDates.toSeq.sorted.mkString(",")} digest=${gen.digest.take(16)}")
    def info(walls: Seq[Double]) = Seq(inputInfo,
      "batch_setup" -> f"warm-up passes $setupS%.2f s",
      "ingest_events_per_s" -> (events / Stats.median(walls)).toString,
      "batch_passes" -> walls.map(w => f"$w%.3f").mkString(","))

    if (!t.enabled) {
      val t0 = System.nanoTime()
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (walls.size < 5 || Stats.secs(t0) < ctx.seconds)
        walls += pass(spark, untraced, s"ingest/batch/pass-${walls.size}", input, checks.lake())
      checks.now()
      return Result(walls.toSeq, checks.attempted, checks.failed, setupS, Map.empty, info(walls.toSeq))
    }

    // tracing overhead: untraced and traced passes alternate, so the
    // JIT warm-up still under way shifts both alike
    val rec = t.recorder.get
    val (untracedWalls, tracedWalls) = (0 until 2).map { i =>
      spark.sparkContext.removeSparkListener(rec)
      val u = pass(spark, untraced, s"ingest/batch/untraced-$i", input, checks.lake())
      spark.sparkContext.addSparkListener(rec)
      val w = pass(spark, t, s"ingest/batch/traced-$i", input, checks.lake())
      rec.quiesce()
      (u, w)
    }.unzip
    val passes = tracedWalls.indices.map(i => s"ingest/batch/traced-$i")
    def perPass(f: Counters => Double): Double = Stats.median(passes.map { p =>
      rec.spans.filter { case (k, _) => k == p || k.startsWith(p + "/") }.values.map(f).sum
    })
    val writeStages = passes.map(p => rec.stages(s"$p/write").last)
    def prefix(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      t.span(s"ingest/batch/prefix/$name")(body)
      Stats.secs(t0)
    }
    val records = spark.read.parquet(input)
    val rounds = (1 to 2).map { _ =>
      val scan = prefix("scan")(noop(records))
      val gunzip = prefix("gunzip")(noop(records.select(graft.functions.graft_try_gunzip(col("data")))))
      val decode = prefix("decode")(noop(flat(spark, input)))
      val typed = prefix("typed")(noop(Ingest.typed(flat(spark, input))))
      val l = checks.lake()
      val write = prefix("write")(
        ParquetLake.writePartitioned(Ingest.typed(flat(spark, input)), l, "timestamp_ms", Seq("timestamp_ms")))
      val commit = prefix("commit")(ParquetLake.snapshotManifest(spark, l))
      Seq("scan" -> scan, "gunzip" -> (gunzip - scan), "decode" -> (decode - gunzip),
        "typed" -> (typed - decode), "write" -> (write - typed), "commit" -> commit)
    }
    checks.now()
    val selfTimes = rounds.head.map(_._1).map(n => n -> Stats.median(rounds.map(_.toMap.apply(n))))
    val tracedP50 = Stats.median(tracedWalls)
    val untracedP50 = Stats.median(untracedWalls)
    val layer = selfTimes.map { case (n, v) => s"ingest.${n}_s" -> v }.toMap ++ Map(
      "ingest.write_tasks" -> Stats.median(writeStages.map(_.tasks.toDouble)),
      "ingest.write_max_task_s" -> Stats.median(writeStages.map(_.maxTaskS)),
      "ingest.jobs" -> perPass(_.jobs.get.toDouble),
      "ingest.task_cpu_s" -> perPass(_.taskCpuS),
      "ingest.gc_s" -> perPass(_.gcS),
      "ingest.shuffle_write_mb" -> perPass(_.shuffleWriteMb),
      "ingest.spill_mb" -> perPass(_.spillMb),
      "ingest.events_out_per_in" -> checks.landed.toDouble / gen.eventsIn,
      "ingest.events_in" -> gen.eventsIn.toDouble,
      "ingest.events_per_s_local4" -> events / untracedP50,
      "trace.overhead_pct" -> (tracedP50 - untracedP50) / untracedP50 * 100)
    Result(untracedWalls, checks.attempted, checks.failed, setupS, layer,
      info(untracedWalls) :+ ("batch_trace_overhead" -> f"pass p50 untraced $untracedP50%.3f s, traced $tracedP50%.3f s"))
  }

  /** The same input at `local[1]`, in a session of its own (the
    * caller's is stopped; the JIT and the codegen cache are warm): one
    * pass. Returns events per second and the check's (attempted,
    * failed).
    */
  def local1(ctx: Ctx, gen: Gen.Output, input: String): (Double, Long, Long) = {
    val spark = ctx.session(1)
    try {
      val checks = new Checks(spark, ctx, gen.expected, "lake-local1")
      val single = new Trace(spark.sparkContext, None)
      val w = pass(spark, single, "ingest/batch/local1", input, checks.lake())
      checks.now()
      (gen.expected.events / w, checks.attempted, checks.failed)
    } finally spark.stop()
  }
}
