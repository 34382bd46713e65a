package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Unigram

/** Unigram-LM tokenizer training (Kudo 2018): EM over the word table
  * must obey the EM likelihood guarantee, recover planted morphemes,
  * cover every word, and be run-to-run stable at the published
  * precision. */
class UnigramSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  /** corpus whose words are concatenations of a small morpheme set —
    * the structure a subword model exists to discover */
  private val morphemes = Seq("anti", "dis", "able", "ing", "pre")
  private def corpus = {
    import spark.implicits._
    val words = for {
      a <- morphemes; b <- morphemes if a != b
    } yield a + b
    val triples = Seq("anti" + "dis" + "able", "pre" + "dis" + "ing")
    // repeat for frequency mass; one doc per 6 words
    val toks = (words ++ triples ++ words).flatMap(w => Seq.fill(3)(w))
    toks.grouped(6).map(_.mkString(" ")).toSeq.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("EM likelihood is monotone non-decreasing within each phase") {
    val r = Unigram.train(corpus, "text", vocabSize = 40, emRounds = 3)
    val (pre, post) = r.logLikelihoods.splitAt(3)
    assert(pre.size == 3 && post.size == 3)
    pre.zip(pre.tail).foreach { case (a, b) =>
      assert(b >= a - 1e-6, s"seed-phase LL decreased: $a -> $b") }
    post.zip(post.tail).foreach { case (a, b) =>
      assert(b >= a - 1e-6, s"post-prune LL decreased: $a -> $b") }
  }

  test("planted morphemes dominate the vocabulary; Viterbi segments along them") {
    val r = Unigram.train(corpus, "text", vocabSize = 30, emRounds = 3)
    val vocab = r.pieces.map(_.piece).toSet
    morphemes.foreach(m => assert(vocab.contains(m), s"morpheme $m missing from $vocab"))
    val probs = r.pieces.map(p => p.piece -> p.logProb).toMap
    assert(Unigram.encodeWord("antidisable", probs, 6) === Seq("anti", "dis", "able"))
    assert(Unigram.encodeWord("predising", probs, 6) === Seq("pre", "dis", "ing"))
    // the doc-level encoder agrees with per-word Viterbi
    val enc = Unigram.encodeDocs(corpus, "doc_id", "text", r.pieces)
      .collect().map(row => row.getLong(0) -> row.getSeq[String](1)).toMap
    val first = corpus.collect().map(row => row.getLong(0) -> row.getString(1)).toMap
    first.foreach { case (id, t) =>
      val expect = t.split(" ").toSeq.flatMap(w => Unigram.encodeWord(w, probs, 6))
      assert(enc(id) === expect, s"doc $id encoding diverged")
    }
  }

  test("coverage: every corpus word encodes with no uncoverable fallback; OOV chars fall back verbatim") {
    val r = Unigram.train(corpus, "text", vocabSize = 30, emRounds = 2)
    val probs = r.pieces.map(p => p.piece -> p.logProb).toMap
    corpus.collect().flatMap(_.getString(1).split(" ")).foreach { w =>
      val seg = Unigram.encodeWord(w, probs, 6)
      assert(seg.mkString("") === w, s"lossy segmentation of $w: $seg")
      assert(seg.forall(probs.contains), s"uncovered piece in $seg")
    }
    // a word with a character the corpus never saw comes back verbatim
    assert(Unigram.encodeWord("zzz", probs, 6) === Seq("zzz"))
  }

  test("run-to-run determinism at the published 9dp precision") {
    val a = Unigram.train(corpus, "text", vocabSize = 30, emRounds = 2).pieces
    val b = Unigram.train(corpus, "text", vocabSize = 30, emRounds = 2).pieces
    assert(a.map(_.piece) === b.map(_.piece))
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x.logProb - y.logProb) <= 1e-8,
        s"prob drift on ${x.piece}: ${x.logProb} vs ${y.logProb}") }
  }
}
