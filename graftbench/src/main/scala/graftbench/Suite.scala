package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

import graft.{BlockHygiene, SparkEntry}

/** `analytics_suite`: fixed `SparkEntry.queries` rows over the tables
  * in `data/sf0.01`, closed loop, each through the noop sink. Rows are
  * split in two groups: `rounds` (most Spark jobs spent building the
  * DataFrame) and `compute` (most task CPU and shuffle). A row's wall
  * is its construction plus its action.
  */
object Suite {
  val Groups: Map[String, Seq[String]] = Map(
    "rounds" -> Seq("t35_bpe_encode", "d7_dup_clusters"),
    "compute" -> Seq("q47_mad_outliers", "d12_span_dedup"))

  /** Run order: the groups interleaved, fixed for every seed. */
  val Rows: Seq[String] = Groups("rounds").zip(Groups("compute")).flatMap { case (a, b) => Seq(a, b) }

  /** Row count and an order-independent digest of a result: each row's
    * columns, in name order, normalised as the oracle compare does
    * (NULL, full-precision doubles, hex bytes), hashed, and the hashes
    * summed.
    */
  def digest(df: DataFrame): (Long, String) = {
    val names = df.columns.toSeq.zipWithIndex.sortBy(_._1).map(_._2)
    def norm(v: Any): String = v match {
      case null => "NULL"
      case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
      case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
      case x => x.toString
    }
    var n = 0L
    var acc = BigInt(0)
    df.collect().foreach { r =>
      val line = names.map(i => norm(r.get(i))).mkString("\u0001")
      val h = MessageDigest.getInstance("SHA-256").digest(line.getBytes(UTF_8))
      acc += BigInt(1, h.take(16))
      n += 1
    }
    (n, (acc mod BigInt(2).pow(128)).toString(16))
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def run(ctx: Ctx, dataDir: String, pinFile: File, pin: Boolean): Outcome = {
    val setup0 = System.nanoTime()
    require(new File(dataDir, "lineitem.parquet").exists, s"suite tables not found under $dataDir")
    // `SparkEntry` runs these rows in the session's own configuration:
    // none of them is one it runs under a bounded object-aggregation
    // buffer
    require(!Rows.exists(SparkEntry.boundedObjectAggQueries), "a suite row needs withBoundedObjectAgg")
    val spark = ctx.session(4)
    val queries = SparkEntry.queries
    val pinned: Map[String, (Long, String)] =
      if (pin || !pinFile.exists) Map.empty
      else scala.io.Source.fromFile(pinFile, "UTF-8").getLines()
        .filterNot(_.startsWith("#")).map(_.split('\t'))
        .map(a => a(0) -> (a(1).toLong, a(2))).toMap
    // warm-up and check in one pass: every row built and collected, and
    // compared with its pinned count and digest. Rows run all at once,
    // since first executions are bound by JIT and codegen on the
    // driver, not by the four task slots, and the check pass is most of
    // set-up.
    val checkS = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]
    def checkRow(r: String): (Long, String) = {
      val c0 = System.nanoTime()
      val d = try digest(queries(r)(spark, dataDir)) catch {
        case e: Exception => System.err.println(s"[graftbench] $r: $e"); (-1L, "error")
      }
      checkS.put(r, Stats.secs(c0))
      d
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Rows.size)
    val got = (try {
      Rows.map(r => r -> pool.submit(() => checkRow(r))).map { case (r, f) => r -> f.get() }
    } finally pool.shutdown()).toMap
    BlockHygiene.freeBlocks(spark)
    val failedRows = if (pin) Set.empty[String] else got.collect { case (r, d) if !pinned.get(r).contains(d) => r }.toSet
    if (pin) {
      java.nio.file.Files.writeString(pinFile.toPath,
        "# row\tcount\tdigest (graftbench/README.md: re-pin only when a row's output is meant to change)\n" +
          Rows.map { r => val (n, d) = got(r); s"$r\t$n\t$d" }.mkString("", "\n", "\n"))
    }
    val setupS = Stats.secs(setup0)

    def passOnce(t: Trace, label: String): Map[String, Double] = Rows.map { r =>
      val t0 = System.nanoTime()
      t.span(s"analytics_suite/$label/$r") {
        val df = t.span(s"analytics_suite/$label/$r/construction")(queries(r)(spark, dataDir))
        t.span(s"analytics_suite/$label/$r/action")(noop(df))
      }
      val w = Stats.secs(t0)
      BlockHygiene.freeBlocks(spark)
      r -> w
    }.toMap
    def measure(t: Trace, label: String): Seq[Map[String, Double]] = {
      val t0 = System.nanoTime()
      val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      while (passes.size < 2 || Stats.secs(t0) < ctx.seconds) passes += passOnce(t, s"$label-${passes.size}")
      passes.toSeq
    }
    val untraced = new Trace(spark.sparkContext, None)
    val passes = measure(untraced, "pass")
    // best of the passes: interference on a shared host only ever slows
    // a pass down, and later passes sit further along the JIT warm-up
    // (the second pass after the check pass ran ≈ 30% faster than the
    // first)
    val perRow = Rows.map(r => r -> passes.map(_(r)).min).toMap
    val passWall = passes.map(_.values.sum).min
    def groupWall(ps: Seq[Map[String, Double]], g: String) = ps.map(p => Groups(g).map(p).sum).min
    val e2e = Map(
      "throughput_per_s" -> Rows.size / passWall,
      "latency_p50_ms" -> Stats.median(perRow.values.toSeq) * 1e3,
      "setup_s" -> setupS)
    val info = Seq(
      "suite_rounds_wall_s" -> f"${groupWall(passes, "rounds")}%.3f",
      "suite_compute_wall_s" -> f"${groupWall(passes, "compute")}%.3f",
      "passes" -> passes.map(p => f"${p.values.sum}%.2f").mkString(","),
      "check pass" -> Rows.map(r => f"$r=${checkS.get(r).doubleValue}%.2f").mkString(" "),
      "failed_rows" -> failedRows.toSeq.sorted.mkString(","),
      "rows (construction+action, last pass)" -> Rows.map { r =>
        def w(ph: String) = untraced.spans.filter(_.path.endsWith(s"/$r/$ph")).last.wallS
        f"$r=${w("construction")}%.2f+${w("action")}%.2f"
      }.mkString(" "))
    val attempted = Rows.size.toLong
    if (!ctx.traced) {
      spark.stop()
      return Outcome(attempted, failedRows.size, e2e, Map.empty, info)
    }

    val t = ctx.trace(spark)
    val rec = t.recorder.get
    val traced = passOnce(t, "traced")
    rec.quiesce()
    val c = rec.spans
    def sum(rows: Seq[String], phase: String, f: Counters => Double): Double =
      rows.flatMap(r => c.get(s"analytics_suite/traced/$r/$phase")).map(f).sum
    def wall(path: String): Double = t.spans.find(_.path == path).map(_.wallS).getOrElse(0.0)
    val cores = 4.0
    val layer = Groups.toSeq.flatMap { case (g, rows) =>
      val phases = Seq("construction", "action")
      val w = rows.map(traced).sum
      val cpu = phases.map(p => sum(rows, p, _.taskCpuS)).sum
      Seq(
        s"suite.$g.wall_s" -> w,
        s"suite.$g.construction_s" -> rows.map(r => wall(s"analytics_suite/traced/$r/construction")).sum,
        s"suite.$g.construction_jobs" -> sum(rows, "construction", _.jobs.get.toDouble),
        s"suite.$g.action_jobs" -> sum(rows, "action", _.jobs.get.toDouble),
        s"suite.$g.driver_bound_s" -> (w - cpu / cores),
        s"suite.$g.action_s" -> rows.map(r => wall(s"analytics_suite/traced/$r/action")).sum,
        s"suite.$g.tasks" -> phases.map(p => sum(rows, p, _.tasks.get.toDouble)).sum,
        s"suite.$g.task_cpu_s" -> cpu,
        s"suite.$g.gc_s" -> phases.map(p => sum(rows, p, _.gcS)).sum,
        s"suite.$g.shuffle_write_mb" -> phases.map(p => sum(rows, p, _.shuffleWriteMb)).sum,
        s"suite.$g.spill_mb" -> phases.map(p => sum(rows, p, _.spillMb)).sum)
    }.toMap ++ Rows.flatMap { r =>
      Seq(s"suite.row.$r.wall_s" -> traced(r),
        s"suite.row.$r.jobs" -> Seq("construction", "action").map(p => sum(Seq(r), p, _.jobs.get.toDouble)).sum)
    } ++ Map(
      "jvm.heap_after_gc_mb" -> Main.heapAfterGcMb(),
      "trace.overhead_pct" -> (traced.values.sum - passWall) / passWall * 100)
    spark.stop()
    Outcome(attempted, failedRows.size, e2e, layer,
      info :+ ("trace_overhead" -> f"pass wall untraced $passWall%.3f s, traced ${traced.values.sum}%.3f s"),
      Some(t))
  }
}
