package graft.ml

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training (Sennrich et al. 2016) — the
  * tokenizer-training core of an LLM data pipeline, split the way a
  * production trainer splits it:
  *
  *   1. corpus → word frequency table: the only CORPUS-sized step,
  *      one distributed explode + partial-aggregated shuffle;
  *   2. the merge loop runs DRIVER-side on the collected vocab —
  *      the vocab is Heaps-bounded (10⁵–10⁶ rows at web scale, tens
  *      of MB), the same driver model-table contract as KMeansLite
  *      centroids and ProductQuantizer codebooks, and the loop is
  *      what every production tokenizer trainer (HF tokenizers,
  *      sentencepiece) runs single-machine for exactly this reason.
  *      The earlier distributed loop was measured, not assumed, to
  *      be the wrong shape: numMerges × (argmax collect + eager
  *      checkpoint) ≈ 30 blocking driver jobs over a vocab-sized
  *      relation — 3.7 s of scheduling floor at sf1 that would
  *      serialize a 1000-executor cluster identically (the q_ivf_pq
  *      sequential-job lesson).
  *
  * Deterministic and engine-parity-exact: integer counts, (count
  * desc, pair asc) tiebreak compared on UTF-8 BYTES (Spark and
  * DuckDB binary string order — NOT java.lang.String UTF-16 order,
  * which disagrees above the BMP), words split into CODE POINTS
  * (matching Spark `substr` semantics). BpeSpec pins the merge
  * sequence against an independent reference implementation.
  */
object BpeTrainer {

  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** Vocab-collect guard: the driver model-table contract holds only
    * while the vocab is vocab-sized. ~2M types × ~32 B ≈ 64 MB —
    * far above any natural-language corpus vocabulary (Heaps' law
    * puts 100 TB of web text near 10⁶ types after tokens()'s
    * whitespace split) and far below driver trouble. */
  val MaxVocab: Int = 2000000

  /** UTF-8 byte order — the binary collation both engines sort
    * strings by. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Word → code-point tokens (parity with Spark's per-character
    * `substr`, which counts code points, not UTF-16 units). */
  private def codePointToks(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** One merge applied left-to-right, non-overlapping leftmost (the
    * standard BPE fold): scanning the token list, fuse `l`+`r` when
    * the accumulator's last token is `l` — so after a fuse the merged
    * token can itself seed the next fuse only via a FRESH match. */
  private[ml] def applyMergeLocal(toks: Vector[String], l: String,
                                  r: String): Vector[String] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[String]
    toks.foreach { t =>
      if (acc.nonEmpty && acc.last == l && t == r)
        acc(acc.length - 1) = l + r
      else acc += t
    }
    acc.toVector
  }

  /** The merge loop over an in-memory (word, freq) vocab — pure,
    * deterministic, spec-tested directly. */
  private[ml] def trainOnVocab(wordFreq: Seq[(String, Long)],
                               numMerges: Int): Seq[Merge] = {
    var vocab = wordFreq.map { case (w, f) => (f, codePointToks(w)) }.toArray
    val out = scala.collection.mutable.ListBuffer[Merge]()
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (f, toks) =>
        var i = 0
        while (i < toks.length - 1) {
          val k = (toks(i), toks(i + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (cnt.isEmpty) done = true
      else {
        // argmax with (count desc, l asc, r asc) in UTF-8 byte order
        var best: ((String, String), Long) = null
        cnt.foreach { e =>
          if (best == null || e._2 > best._2 ||
              (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
                (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2)))))
            best = e
        }
        val ((l, r), c) = best
        out += Merge(rank, l, r, c)
        vocab = vocab.map { case (f, toks) =>
          (f, applyMergeLocal(toks, l, r))
        }
        rank += 1
      }
    }
    out.toSeq
  }

  /** Distributed word-frequency table of a corpus column — the one
    * corpus-sized step (explode + map-side-combined shuffle). */
  private def wordFreq(df: DataFrame, textCol: Column): Seq[(String, Long)] = {
    val rows = df
      .select(explode(graft.functions.TextFunctions.tokens(textCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .limit(MaxVocab + 1)
      .collect()
    require(rows.length <= MaxVocab,
      s"BPE vocab exceeds the $MaxVocab-type driver model-table " +
        "contract; train on a frequency-capped vocab slice")
    rows.toSeq.map(r => (r.getString(0), r.getLong(1)))
  }

  /** Train `numMerges` merges over the whitespace words of `textCol`.
    *
    * EAGER at call time (unlike every relational operator in this
    * library): training collects the Heaps-bounded vocab — a full
    * corpus scan + shuffle — before returning, and [[mergesDF]] /
    * [[encodeWords]] inherit that. Merely CONSTRUCTING a DataFrame
    * through these entry points runs Spark jobs (plan inspection
    * included — ExplainSpec pays the training cost to
    * look at the plan). Acceptable under the model-table contract —
    * the result is a driver-sized model, same as KMeansLite/
    * ProductQuantizer codebooks — but callers composing lazy plans
    * should bind BPE queries last (round-7 advice item 2). */
  def train(df: DataFrame, textCol: Column, numMerges: Int): Seq[Merge] =
    trainOnVocab(wordFreq(df, textCol), numMerges)

  /** The merge table as a DataFrame (rank, left, right, count). */
  def mergesDF(df: DataFrame, textCol: Column, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    train(df, textCol, numMerges)
      .map(m => (m.rank.toLong, m.left, m.right, m.count))
      .toDF("rank", "left", "right", "count")
  }

  /** Apply a trained merge table to the DISTINCT words of a corpus:
    * (word, toks) where toks is the word's subword segmentation under
    * the merges, applied in rank order with the same leftmost
    * non-overlapping fold as training.
    *
    * Segmenting the distinct-word table instead of the corpus is the
    * standard trick that makes BPE application corpus-size-
    * independent; the segmentation itself is vocab-sized work and
    * runs driver-side under the same model-table contract as the
    * trainer (the corpus pays exactly one hash join against the
    * result, never a per-merge pass). */
  def encodeWords(df: DataFrame, textCol: Column,
                  merges: Seq[Merge]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .select(explode(graft.functions.TextFunctions.tokens(textCol)).as("word"))
      .distinct()
      .limit(MaxVocab + 1)
      .collect().map(_.getString(0))
    require(words.length <= MaxVocab,
      s"BPE vocab exceeds the $MaxVocab-type driver model-table contract")
    val ordered = merges.sortBy(_.rank)
    val encoded = words.toSeq.map { w =>
      var toks = codePointToks(w)
      ordered.foreach(m => toks = applyMergeLocal(toks, m.left, m.right))
      (w, toks)
    }
    // parallelize instead of a LocalRelation (round-7 advice item 2):
    // at the MaxVocab bound a LocalRelation embeds up to 2M (word,
    // token-array) rows INSIDE the logical plan — every plan copy,
    // canonicalization and explain pays for them — whereas an RDD-
    // backed frame keeps the plan node O(1) and ships rows once, as
    // task data. Same rows, same downstream hash join.
    spark.createDataset(spark.sparkContext.parallelize(encoded,
      math.max(1, encoded.size / 65536 + 1))).toDF("word", "toks")
  }
}
