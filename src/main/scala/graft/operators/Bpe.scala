package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
  * tokenizer-fitting step of a training-data pipeline.
  *
  * Scale shape: the corpus is touched ONCE, by one Spark aggregate
  * (tokens → word-frequency relation); the merge schedule then runs
  * on the DRIVER over the collected vocabulary. The vocabulary, not
  * the corpus, must fit in driver memory: the collect is bounded by
  * `spark.driver.maxResultSize` and fails loudly past it. Each round
  * is an exact recount of adjacent pairs weighted by word frequency,
  * so a whole schedule costs one Spark aggregate, not 3–4 serial jobs
  * per merge as a distributed per-round recount does.
  *
  * Symbols are CODE POINTS: a non-BMP character (an emoji) is one
  * symbol, never two surrogate halves.
  *
  * Determinism: the best pair maximizes count, ties broken by the
  * UTF-8 bytes of `l + " " + r` ascending (unsigned, i.e. code-point
  * order — not Java's UTF-16 `String.compareTo`, which disagrees once
  * a surrogate pair meets a character in U+E000–U+FFFF). This is the
  * order Spark sorts strings in and the DuckDB replay (`bpeCtes`)
  * uses. No RNG, no partitioning sensitivity: the learned table is
  * reproducible on any cluster. The merge-apply is a left-to-right
  * non-overlapping fold (aaa + (a,a) → [aa, a]), the standard BPE
  * semantics, shared by learning and [[encodeVocab]].
  */
object Bpe {

  /** Learn `numMerges` BPE merges over the corpus' whitespace words.
    * Returns a local (merge_rank, lhs, rhs, pair_count) DataFrame —
    * rank 1 is the first (highest-count) merge. Words shorter than 2
    * code points carry no pairs and are dropped before the collect;
    * learning stops early once no word has a pair left.
    */
  def learnMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var words: Array[(Array[String], Long)] = df
      .select(explode(T.tokens(col(textCol))).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect()
      .map { case (w, f) => (symbols(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    while (merges.length < numMerges && words.nonEmpty) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + f
      }
      val ((l, r), n) = counts.reduce { (a, b) =>
        if (a._2 != b._2) { if (a._2 > b._2) a else b }
        else if (java.util.Arrays.compareUnsigned(
            tieKey(a._1), tieKey(b._1)) <= 0) a
        else b
      }
      merges += ((merges.length + 1, l, r, n))
      words = words.map { case (syms, f) => (foldPair(syms, l, r), f) }
        .filter(_._1.length >= 2)
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  private def tieKey(p: (String, String)): Array[Byte] =
    (p._1 + " " + p._2).getBytes(UTF_8)

  /** A word's initial symbolization: one symbol per code point. */
  private def symbols(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Left-to-right non-overlapping merge of adjacent (l, r) symbol
    * pairs — the one fold both learning and encoding apply.
    */
  private def foldPair(syms: Array[String], l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var pend: String = null
    for (s <- syms) {
      if (pend == null) pend = s
      else if (pend == l && s == r) { out += (l + r); pend = null }
      else { out += pend; pend = s }
    }
    if (pend != null) out += pend
    out.result()
  }

  /** The tokenizer-APPLY step: encode the corpus with a learned merge
    * table ([[learnMerges]] output). Scale shape mirrors learning —
    * the merge fold runs over the DISTINCT-WORD relation
    * (vocab-sized, imperative mapPartitions: a per-word symbol loop
    * is exactly the "genuine per-partition imperative logic" case),
    * and the corpus then pays ONE join from its words to their
    * encodings; 100 TB of text never runs through the fold. The
    * merge table is config-sized by construction (`numMerges` rows),
    * so it collects to the driver and ships in the closure, and the
    * word→encoding join is broadcast-class for real vocabularies.
    * Per word, merges apply in rank order through the learner's own
    * fold, so concatenating a word's symbols always reconstructs the
    * word (code-point mass is merge-invariant).
    */
  def encodeVocab(
      words: DataFrame, wordCol: String, merges: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    // rank order is applied on the driver: a Spark sort of the merge
    // table would cost jobs even when it is a local relation
    val ms: Array[(String, String)] = merges
      .select(col("merge_rank").cast("long"), col("lhs"), col("rhs")).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
    words.select(col(wordCol).cast("string")).distinct().as[String]
      .mapPartitions(it => it.map(w => (w, applyMerges(w, ms))))
      .toDF(wordCol, "syms")
  }

  /** Encode whole documents: (id, token) rows in document order —
    * words explode positionally, encodings join back from the
    * vocab-sized [[encodeVocab]] relation (broadcast), symbols
    * re-explode with a stable (word_pos, sym_pos) order key. The
    * only corpus-sized shuffle is the output's own.
    */
  def encode(
      df: DataFrame, textCol: String, idCol: String,
      merges: DataFrame): DataFrame = {
    val words = df.select(col(idCol),
      posexplode(T.tokens(col(textCol))).as(Seq("word_pos", "w")))
      .where(length(col("w")) > 0)
    val enc = encodeVocab(words.select("w"), "w", merges)
    words.join(broadcast(enc), Seq("w"))
      .select(col(idCol), col("word_pos"),
        posexplode(col("syms")).as(Seq("sym_pos", "token")))
      .select(col(idCol), col("word_pos"), col("sym_pos"), col("token"))
  }

  private def applyMerges(
      w: String, ms: Array[(String, String)]): Seq[String] =
    ms.foldLeft(symbols(w)) { case (syms, (l, r)) => foldPair(syms, l, r) }.toSeq
}
