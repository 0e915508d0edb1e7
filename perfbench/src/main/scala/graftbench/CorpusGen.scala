package graftbench

import scala.collection.mutable
import scala.util.Random

/** Seeded document generator shared by the text workloads. English docs
  * draw from a small topical vocabulary plus English stopwords, the
  * distribution the engine's LM thresholds are calibrated on; the other
  * classes are planted so that each cleaning tier has known work.
  */
final class CorpusGen(seed: Long) {
  import CorpusGen._
  private val rnd = new Random(seed * 7919L + 3)

  private def pick(xs: IndexedSeq[String]) = xs(rnd.nextInt(xs.length))

  def english(): String = {
    val n = 25 + rnd.nextInt(50)
    Seq.fill(n)(if (rnd.nextDouble() < 0.10) pick(EnStop) else pick(Topic)).mkString(" ")
  }

  def foreign(): String = {
    val n = 25 + rnd.nextInt(50)
    Seq.fill(n)(if (rnd.nextDouble() < 0.3) pick(DeStop) else pick(DeTopic)).mkString(" ")
  }

  /** High-entropy tokens that still carry English stopwords, so only the
    * corpus-LM tier can tell them from prose. */
  def salad(): String = {
    val n = 25 + rnd.nextInt(50)
    Seq.fill(n)(if (rnd.nextDouble() < 0.15) pick(EnStop) else pick(saladWords)).mkString(" ")
  }
  private lazy val saladWords: IndexedSeq[String] = Vector.fill(200)(
    Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(4 + rnd.nextInt(6)).mkString)

  /** Prose over a wider vocabulary, for the streaming dedup: unrelated
    * docs then share few 3-shingles, so candidate pairs stay sparse. */
  def wideDoc(): String = {
    val n = 40 + rnd.nextInt(40)
    Seq.fill(n)(if (rnd.nextDouble() < 0.5) pick(Topic) else pick(saladWords)).mkString(" ")
  }

  def short(): String = Seq.fill(1 + rnd.nextInt(3))(pick(Topic)).mkString(" ")

  /** A doc dominated by one of a few shared boilerplate blocks. */
  def boilerplate(): String = {
    val own = Seq.fill(4 + rnd.nextInt(6))(pick(Topic)).mkString(" ")
    s"${Boilerplate(rnd.nextInt(Boilerplate.length))} $own"
  }

  /** The same doc with one or two tokens replaced: 3-shingle Jaccard
    * stays far above the 0.5 threshold for the doc lengths generated. */
  def nearCopy(text: String): String = {
    val toks = text.split(" ")
    for (_ <- 0 until 1 + rnd.nextInt(2)) toks(rnd.nextInt(toks.length)) = pick(Topic) + "x"
    toks.mkString(" ")
  }

  /** A corpus of `n` docs with planted classes, ids ascending in
    * generation order so every copy has a larger id than its original. */
  def corpus(n: Int): Seq[Doc] = {
    val docs = mutable.ArrayBuffer.empty[Doc]
    val originals = mutable.ArrayBuffer.empty[Doc]
    while (docs.size < n) {
      val id = docs.size.toLong + 1
      val r = rnd.nextDouble()
      val d =
        if (r < 0.08 && originals.nonEmpty) {
          val o = originals(rnd.nextInt(originals.size)); Doc(id, o.text, ExactDup, o.id)
        } else if (r < 0.14 && originals.nonEmpty) {
          val o = originals(rnd.nextInt(originals.size)); Doc(id, nearCopy(o.text), NearDup, o.id)
        } else if (r < 0.20) Doc(id, boilerplate(), Boiler, 0)
        else if (r < 0.26) Doc(id, foreign(), Foreign, 0)
        else if (r < 0.31) Doc(id, salad(), Salad, 0)
        else if (r < 0.34) Doc(id, short(), Short, 0)
        else { val d = Doc(id, english(), Unique, 0); originals += d; d }
      docs += d
    }
    docs.toSeq
  }
}

object CorpusGen {
  val Unique = "unique"
  val ExactDup = "exact_dup"
  val NearDup = "near_dup"
  val Boiler = "boilerplate"
  val Foreign = "foreign"
  val Salad = "salad"
  val Short = "short"

  /** A generated doc, its planted class and, for copies, the original. */
  final case class Doc(id: Long, text: String, cls: String, of: Long)

  private val EnStop = Vector("the", "a", "of", "and", "to", "in", "is")
  // Small enough that prose stays under the gate's corpus-LM thresholds.
  private val Topic = Vector("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "sort", "line", "window", "order", "data",
    "column", "join")
  private val DeStop = Vector("der", "die", "das", "und", "ist", "ein")
  private val DeTopic = Vector("tabelle", "zeile", "schnell", "langsam", "wert", "gruppe",
    "abfrage", "kunde", "daten", "spalte", "fenster", "reihe")
  private val Boilerplate = Vector(
    "cookie notice this site uses cookies to improve the experience accept all cookies " +
      "or manage your preferences in the privacy center read the policy and the terms",
    "subscribe to the newsletter to get the latest updates in your inbox every week and " +
      "follow us on social media for news offers and events in your area today",
    "all rights reserved no part of this page may be reproduced without the written " +
      "permission of the publisher contact the editor for licensing and reprint requests")

  def toJsonLine(d: Doc): String = s"""{"doc_id":${d.id},"text":${Json.str(d.text)}}"""
}
