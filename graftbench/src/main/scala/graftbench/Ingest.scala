package graftbench

import java.io.File
import java.util.concurrent.CompletableFuture

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ingest`: the reference path in batch ([[IngestBatch]]), then as a
  * stream ([[IngestStream]]), in one session. The batch phase also
  * warms the decode path the stream shares.
  */
object Ingest {
  /** Flow-log lines parsed into typed columns: the query both phases
    * share.
    */
  def typed(flat: DataFrame): DataFrame =
    flat.select(col("log_id"), col("timestamp_ms"),
        graft.sources.FlowLogs.parseLine(col("message")).as("f"))
      .select(col("log_id"), col("timestamp_ms"), col("f.*"))

  /** What each ingested table holds, in one job for all of them: per
    * file (encoded in the log id, with the sequence number) its event
    * count, distinct ids and sequence sum, and per (action, protocol)
    * its rows, bytes and packets. An event's duplicates share its
    * (action, protocol), so distinct ids per file add up over the
    * groups.
    */
  def summary(dfs: Seq[DataFrame]): Seq[(Map[Int, (Long, Long, Long)], Map[(String, Integer), Gen.Agg])] = {
    val all = dfs.zipWithIndex.map { case (df, i) => df.withColumn("table", lit(i)) }.reduce(_ unionByName _)
    val rows = all.groupBy(col("table"), substring(col("log_id"), 1, 6).cast("int").as("file"),
        col("action"), col("protocol"))
      .agg(count(lit(1)), countDistinct(col("log_id")),
        sum(substring(col("log_id"), 7, 14).cast("long")), sum("bytes"), sum("packets"))
      .collect().groupBy(_.getInt(0))
    def long(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    dfs.indices.map { t =>
      val rs = rows.getOrElse(t, Array.empty[org.apache.spark.sql.Row])
      val perFile = rs.groupBy(_.getInt(1)).map { case (f, fr) =>
        f -> fr.foldLeft((0L, 0L, 0L)) { case ((a, b, c), r) => (a + r.getLong(4), b + r.getLong(5), c + long(r, 6)) }
      }
      val groups = rs.groupBy(r => (r.getString(2), if (r.isNullAt(3)) null else Integer.valueOf(r.getInt(3))))
        .map { case (k, gr) => k -> gr.map(r => Gen.Agg(r.getLong(4), long(r, 7), long(r, 8))).reduce(_ + _) }
      (perFile, groups)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val setup0 = System.nanoTime()
    val input = ctx.dir("input")
    val stagedDir = new File(ctx.dir("staged"))
    // the generator writes both phases' inputs while the session starts
    val generating = CompletableFuture.supplyAsync { () =>
      val batch = Gen.generate(IngestBatch.config(ctx.seed))
      RecordFiles.write(batch, new File(input))
      val stream = Gen.generate(IngestStream.config(ctx))
      (batch, stream, RecordFiles.write(stream, stagedDir))
    }
    val spark = ctx.session(4)
    val sessionS = Stats.secs(setup0)
    val (batchGen, streamGen, staged) = generating.join()
    val inputS = Stats.secs(setup0) - sessionS
    // traced: each phase attaches the recorder for its traced part
    val t = ctx.trace(spark)
    t.recorder.foreach(spark.sparkContext.removeSparkListener)
    val b = IngestBatch.run(ctx, spark, t, batchGen, input)
    val s = IngestStream.run(ctx, spark, t, streamGen, staged)
    val heap = Main.heapAfterGcMb()
    spark.stop()
    val setupS = sessionS + inputS + b.setupS + s.setupS
    val e2e = Map(
      "throughput_per_s" -> batchGen.expected.events / Stats.median(b.walls),
      "latency_p50_ms" -> Stats.median(s.latencyMs),
      "setup_s" -> setupS)
    val info = ("setup" -> (f"session $sessionS%.2f s, inputs (beyond the session) $inputS%.2f s, " +
      f"batch warm-up ${b.setupS}%.2f s, stream history and warm-up ${s.setupS}%.2f s")) +: (b.info ++ s.info)
    if (!ctx.traced) return Outcome(b.attempted + s.attempted, b.failed + s.failed, e2e, Map.empty, info)

    val (local1, attempted1, failed1) = IngestBatch.local1(ctx, batchGen, input)
    Outcome(b.attempted + s.attempted + attempted1, b.failed + s.failed + failed1, e2e,
      b.layer ++ s.layer ++ Map("ingest.events_per_s_local1" -> local1, "jvm.heap_after_gc_mb" -> heap),
      info, Some(t))
  }
}
