package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted tokenizer artifact — the train()/apply() split for the
  * subword family ([[Bpe.trainMerges]] / [[Bpe.applyMerges]]), under the
  * same [[graft.io.VersionPointer]] commit discipline as the index
  * artifacts (create-only manifest PUTs, retention window, time-travel).
  * Training a tokenizer inside every job re-pays the merge induction per
  * invocation and — worse — lets the vocabulary DRIFT with the batch:
  * two pipeline stages tokenizing with independently-trained rules
  * produce incomparable token counts. Production freezes the merges once
  * and every consumer applies the same artifact; a retrain is a new
  * version, and time-travel answers "which tokenizer did last week's
  * counts use".
  *
  * Layout: `v<N>/params` — one row (num_merges); `v<N>/merges` — the
  * learned (merge_rank, left_tok, right_tok, pair_count) rules, a
  * driver-sized artifact by definition ([[Bpe.applyMerges]] broadcasts
  * them right back).
  */
object TokenizerIndex {

  private def index(spark: SparkSession, dir: String, name: String) =
    graft.io.VersionedIndex(spark, s"$dir/$name.tokindex",
      s"tokenizer '$name' at $dir")

  def currentVersion(
      spark: SparkSession, dir: String, name: String): Option[Int] =
    index(spark, dir, name).current

  /** Committed versions still inside the retention window. */
  def versions(
      spark: SparkSession, dir: String, name: String): Seq[Int] =
    index(spark, dir, name).versions

  /** Train the first `numMerges` BPE rules on `corpus` and commit them
    * as version 1 (or N+1 — a retrain), then apply the retention window.
    */
  def build(
      spark: SparkSession, corpus: DataFrame, dir: String, name: String,
      textCol: String, numMerges: Int, retainVersions: Int = 2): Unit = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val ix = index(spark, dir, name)
    val v = ix.current.getOrElse(0) + 1
    ix.publish(v, retainVersions) {
      val rules = Bpe.trainMerges(corpus, textCol, numMerges)
      import spark.implicits._
      Seq(numMerges).toDF("num_merges").coalesce(1)
        .write.mode("errorifexists").parquet(ix.path(v, "params"))
      rules.coalesce(1).write.mode("errorifexists")
        .parquet(ix.path(v, "merges"))
    }
  }

  /** The frozen merge rules of the current (or a retained historical)
    * version.
    */
  def merges(
      spark: SparkSession, dir: String, name: String,
      atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    ix.artifact(ix.resolve(atVersion), "merges")
  }

  /** Tokenize a DISTINCT word list (column `w`) under the artifact's
    * frozen rules — [[Bpe.applyMerges]] with the stored merges and the
    * stored merge count, so the segmentation can never drift from what
    * the artifact was trained to do. Output: (w, ts) with `ts` the
    * space-joined subword pieces; callers join back to corpus tokens
    * (the vocabulary-sized-apply property that makes corpus-wide
    * tokenization cheap).
    */
  def tokenizeWords(
      spark: SparkSession, words: DataFrame, dir: String, name: String,
      atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    require(!ix.exists(ix.path(v, "vocab")),
      s"tokenizer '$name' at $dir is a UNIGRAM artifact — " +
        "use segmentWords(), not the BPE apply")
    Bpe.applyMerges(words, ix.artifact(v, "merges"),
      ix.params(v).getAs[Int]("num_merges"))
  }

  // ---- unigram family (the [[Unigram]] trainer behind the same seam) ----

  /** Train a unigram vocabulary ([[Unigram.train]] — seed → rounds of
    * cost/Viterbi/recount/prune) and commit it as a version: `vocab` is
    * the (piece, cnt, bits) table, `uparams` freezes the DP's piece
    * length so [[segmentWords]] can never search differently than the
    * vocab was trained for.
    */
  def buildUnigram(
      spark: SparkSession, corpus: DataFrame, dir: String, name: String,
      textCol: String, rounds: Int, multiKeep: Int, maxPieceLen: Int = 4,
      maxWordLen: Int = 12, retainVersions: Int = 2): Unit = {
    val ix = index(spark, dir, name)
    val v = ix.current.getOrElse(0) + 1
    ix.publish(v, retainVersions) {
      val vocab = Unigram.train(corpus, textCol, rounds, multiKeep,
        maxPieceLen, maxWordLen)
      import spark.implicits._
      Seq((rounds, multiKeep, maxPieceLen, maxWordLen))
        .toDF("rounds", "multi_keep", "max_piece_len", "max_word_len")
        .coalesce(1).write.mode("errorifexists")
        .parquet(ix.path(v, "uparams"))
      vocab.coalesce(1).write.mode("errorifexists")
        .parquet(ix.path(v, "vocab"))
    }
  }

  /** The frozen unigram vocabulary of the current (or a retained
    * historical) version.
    */
  def vocab(
      spark: SparkSession, dir: String, name: String,
      atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    require(ix.exists(ix.path(v, "vocab")),
      s"tokenizer '$name' at $dir is a BPE artifact — it has no " +
        "unigram vocab")
    ix.artifact(v, "vocab")
  }

  /** Viterbi-segment a DISTINCT word list (column `w`) under the
    * artifact's frozen unigram vocabulary — [[Unigram.segment]] with the
    * stored (piece, bits) costs and the stored DP piece length. Output:
    * (w, seg); uncoverable words raise loudly (the [[Unigram.segment]]
    * contract).
    */
  def segmentWords(
      spark: SparkSession, words: DataFrame, dir: String, name: String,
      atVersion: Option[Int] = None): DataFrame = {
    val ix = index(spark, dir, name)
    val v = ix.resolve(atVersion)
    require(ix.exists(ix.path(v, "vocab")),
      s"tokenizer '$name' at $dir is a BPE artifact — " +
        "use tokenizeWords(), not the unigram segmenter")
    Unigram.segment(words, ix.artifact(v, "vocab"),
      ix.params(v, "uparams").getAs[Int]("max_piece_len"))
  }
}
