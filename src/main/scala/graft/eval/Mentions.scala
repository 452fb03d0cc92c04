package graft.eval

import graft.label.Biose
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mention-multiset evaluation (SURVEY §2 E1-E3) — the P/R≥0.95 gate.
  * Reference: ne_evaluate_mentions.py:53-144.
  * Mentions are multisets of (sent_id, surface, category); multiset semantics
  * are realized by an occurrence index 1..n per distinct tuple (get_ment_set,
  * :116-144). Precision/recall use −1 sentinels for empty sides (:53-81).
  */
object Mentions {

  final case class PRF(precision: Double, recall: Double, f1: Double,
                       nTrue: Long, nPred: Long, nCorrect: Long)

  /** Pure-Scala evaluation over occurrence-indexed tuples. */
  def evaluate(trueMents: Seq[(Long, String, String, Int)],
               predMents: Seq[(Long, String, String, Int)]): PRF = {
    val t = trueMents.toSet
    val p = predMents.toSet
    val correct = p.intersect(t).size.toLong
    val prec = if (p.isEmpty) -1.0 else correct.toDouble / p.size
    val rec = if (t.isEmpty) -1.0 else correct.toDouble / t.size
    val f1 = if (prec + rec == 0) -1.0 else 2 * prec * rec / (prec + rec)
    PRF(prec, rec, f1, t.size.toLong, p.size.toLong, correct)
  }

  /** The occurrence index of each key in `keys`: the n-th occurrence of a
    * key gets n. This is the multiset counting rule of get_ment_set
    * (:116-144), applied to one sentence's mentions in span order by both
    * [[sentenceMentions]] and the pipeline's span scan
    * (`Pipeline.extractMentions`). */
  def occurrences[K](keys: Seq[K]): Seq[Int] = {
    val seen = scala.collection.mutable.HashMap[K, Int]()
    keys.map { k =>
      val occ = seen.getOrElse(k, 0) + 1
      seen(k) = occ
      occ
    }
  }

  /** Sentence (tokens, labels) → occurrence-indexed mention tuples (E1+E2 fused,
    * pure form; the reference's fix_multi_tag is applied by the caller). */
  def sentenceMentions(sentId: Long, toks: IndexedSeq[String], labels: IndexedSeq[String],
                       joinChar: String = ""): Seq[(Long, String, String, Int)] = {
    val ms = Biose.mentionScan(toks, labels, joinChar)
    ms.zip(occurrences(ms)).map { case ((surface, cat), occ) => (sentId, surface, cat, occ) }
  }

  /** Distributed E3: P/R/F1 of pred vs gold mention DataFrames on exact-tuple
    * set semantics (both must carry doc_id, sent_id, surface, category, occ). */
  def evaluateDf(spark: SparkSession, gold: DataFrame, pred: DataFrame): PRF = {
    val keys = Seq("doc_id", "sent_id", "surface", "category", "occ")
    val g = gold.select(keys.map(col): _*)
    val p = pred.select(keys.map(col): _*)
    val nT = g.count(); val nP = p.count()
    val nC = p.join(g, keys, "left_semi").count()
    val prec = if (nP == 0) -1.0 else nC.toDouble / nP
    val rec = if (nT == 0) -1.0 else nC.toDouble / nT
    val f1 = if (prec + rec == 0) -1.0 else 2 * prec * rec / (prec + rec)
    PRF(prec, rec, f1, nT, nP, nC)
  }
}
