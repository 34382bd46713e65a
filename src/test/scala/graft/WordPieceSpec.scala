package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.WordPiece

/** Gates for the WordPiece trainer/encoder: an independent single-node
  * reference trainer (the no-oracle stand-in, like BpeSpec's), the
  * likelihood-vs-count scoring law that separates WordPiece from BPE,
  * and the greedy-encode laws (longest match, losslessness, [UNK]). */
class WordPieceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)
  import spark.implicits._

  /** single-node reference: same score, same tie-break, plain maps */
  private def referenceTrain(corpus: Seq[String], numMerges: Int): Seq[(String, String)] = {
    var words: Map[Seq[String], Long] = corpus
      .flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        WordPiece.initialSymbols(w) -> ws.size.toLong
      }
    val out = Seq.newBuilder[(String, String)]
    var k = 0
    var done = false
    while (k < numMerges && !done) {
      val pairs = scala.collection.mutable.Map[(String, String), Long]()
      val units = scala.collection.mutable.Map[String, Long]()
      for ((syms, c) <- words) {
        syms.foreach(s => units(s) = units.getOrElse(s, 0L) + c)
        syms.zip(syms.tail).foreach(p => pairs(p) = pairs.getOrElse(p, 0L) + c)
      }
      if (pairs.isEmpty) done = true
      else {
        val best = pairs.toSeq.map { case ((l, r), pc) =>
          (l, r, pc, pc.toDouble / (units(l).toDouble * units(r).toDouble))
        }.minBy { case (l, r, pc, s) => (-s, -pc, l, r) }
        out += ((best._1, best._2))
        words = words.toSeq.map { case (syms, c) =>
          (WordPiece.mergePair(syms, best._1, best._2), c)
        }.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
        k += 1
      }
    }
    out.result()
  }

  test("train matches the single-node reference merge-for-merge") {
    val corpus = Seq(
      "unhappy unhappy unkind unkind unkind rethink rethink",
      "thinker thinker kindness happy happy happy think",
      "unhappy kind rethink thinker kindness unkind")
    val expect = referenceTrain(corpus, 10)
    val got = WordPiece.train(corpus.toDF("text"), "text", numMerges = 10)
      .map(m => (m.left, m.right))
    assert(got === expect, s"merge sequences diverged:\n got    $got\n expect $expect")
  }

  test("likelihood scoring prefers exclusive pairs over frequent-but-independent ones") {
    // 'q' and '##z' appear ONLY together (count 3 each, pair 3:
    // score 3/9 = 0.333); 'a' and '##b' co-occur 10 times but both
    // units also appear 20 more times apart (10/(30*30) ≈ 0.011).
    // BPE (raw count) would merge (a,##b) first; WordPiece must pick
    // (q,##z).
    val corpus = (Seq.fill(3)("qz") ++ Seq.fill(10)("ab") ++
      Seq.fill(20)("ax") ++ Seq.fill(20)("yb")).mkString(" ")
    val wp = WordPiece.train(Seq(corpus).toDF("text"), "text", numMerges = 1)
    assert(wp.head.left === "q" && wp.head.right === "##z",
      s"likelihood scoring must pick the exclusive pair: ${wp.head}")
    val bpe = graft.operators.Bpe.train(Seq(corpus).toDF("text"), "text", numMerges = 1)
    assert((bpe.head.left, bpe.head.right) !== (("q", "z")),
      s"count scoring must NOT pick the rare exclusive pair: ${bpe.head}")
  }

  test("encodeWord: greedy longest match, ## continuations, lossless, [UNK] on dead ends") {
    val vocab = Set("un", "##happi", "##ness", "##happy", "h", "##a",
      "u", "##n", "a", "b", "##c")
    // longest match first: 'unhappiness' -> un ##happi ##ness
    assert(WordPiece.encodeWord("unhappiness", vocab) ===
      Seq("un", "##happi", "##ness"))
    // losslessness: stripping ## and concatenating restores the word
    val pieces = WordPiece.encodeWord("unhappy", vocab)
    assert(pieces.map(_.stripPrefix("##")).mkString === "unhappy")
    // dead end (no ##b continuation in vocab) -> whole word [UNK]
    assert(WordPiece.encodeWord("ab", vocab) === Seq("[UNK]"))
    // unseen char -> [UNK]
    assert(WordPiece.encodeWord("xyz", vocab) === Seq("[UNK]"))
  }

  test("encodeDocs: vocabulary round-trip is lossless and [UNK]s are counted") {
    val train = Seq("the cat sat on the mat", "the cat ran").toDF("text")
    val merges = WordPiece.train(train, "text", numMerges = 8)
    val vocab = WordPiece.vocabulary(train, "text", merges)
    // every training word re-encodes losslessly (full alphabet coverage)
    val enc = WordPiece.encodeDocs(
      Seq((1L, "the cat sat on the mat"), (2L, "the dog+ ran"))
        .toDF("doc_id", "text"), "doc_id", "text", vocab)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_unk"), r.getAs[String]("pieces"))).toMap
    assert(enc(1L)._2 === 0L, "training words must never be UNK")
    assert(enc(1L)._3.split(" ").map(_.stripPrefix("##")).mkString ===
      "thecatsatonthemat")
    // 'dog+' contains chars absent from training ('+', 'd', 'g') -> UNK
    assert(enc(2L)._2 >= 1L)
    assert(enc(2L)._1 === 3L)
  }

  test("training is deterministic across runs") {
    val df = Seq("banana bandana ban banana", "bandana banana band").toDF("text")
    val a = WordPiece.train(df, "text", numMerges = 6)
    val b = WordPiece.train(df, "text", numMerges = 6)
    assert(a === b)
  }
}
