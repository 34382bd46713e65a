package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bpe

/** Distributed BPE training must produce bit-identical merges to an
  * independent single-node reference implementation of the same
  * algorithm (word-frequency BPE, leftmost-first merging, argmax
  * tie-break (count desc, left asc, right asc)). */
class BpeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  /** single-node reference: plain Scala collections, no Spark */
  private def referenceBpe(corpus: Seq[String], numMerges: Int): Seq[(String, String, Long)] = {
    var words: Map[Seq[String], Long] = corpus
      .flatMap(_.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) =>
        (w.map(_.toString) :+ "</w>", ws.size.toLong)
      }
    val out = Seq.newBuilder[(String, String, Long)]
    var i = 0
    var stop = false
    while (i < numMerges && !stop) {
      val scores = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach { p =>
          scores(p) = scores.getOrElse(p, 0L) + c
        }
      }
      if (scores.isEmpty) stop = true
      else {
        val ((l, r), sc) = scores.toSeq.minBy { case ((l0, r0), c) => (-c, l0, r0) }
        out += ((l, r, sc))
        words = words.toSeq.map { case (syms, c) =>
          (Bpe.mergePair(syms, l, r), c)
        }.groupBy(_._1).map { case (s, g) => (s, g.map(_._2).sum) }
        i += 1
      }
    }
    out.result()
  }

  private val corpus = Seq(
    "low lower lowest low low newer newest new news",
    "wider wide widest new lower low wide wide",
    "the newest lowest widest the the new low")

  test("distributed merges match the single-node reference exactly") {
    import spark.implicits._
    val df = corpus.toDF("text")
    val got = Bpe.train(df, "text", numMerges = 12)
      .map(m => (m.left, m.right, m.score))
    val want = referenceBpe(corpus, 12)
    assert(got === want)
  }

  test("training is deterministic across partitionings") {
    import spark.implicits._
    val a = Bpe.train(corpus.toDF("text").repartition(7), "text", 6)
    val b = Bpe.train(corpus.toDF("text").repartition(2), "text", 6)
    assert(a === b)
  }

  test("segmentation applies merges in rank order and compresses symbols") {
    import spark.implicits._
    val df = corpus.toDF("text")
    val merges = Bpe.train(df, "text", 12)
    val seg = Bpe.segment(df, "text", merges).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    // every word's symbols concatenate back to word + end marker
    seg.foreach { case (w, (s, n)) =>
      assert(s.split(" ").mkString == w + "</w>", s"$w -> $s")
      assert(n <= w.length + 1)
    }
    // frequent word should compress to few symbols
    assert(seg("low")._2 <= 2, s"'low' stayed ${seg("low")}")
  }

  test("doc-level encode stitches per-word segmentations in token order") {
    import spark.implicits._
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = Bpe.train(df, "text", 12)
    val seg = Bpe.segment(df, "text", merges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val enc = Bpe.encodeDocs(df, "doc_id", "text", merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byId = enc.map(e => e._1 -> e).toMap
    corpus.zipWithIndex.foreach { case (text, i) =>
      val words = text.split("\\s+").filter(_.nonEmpty)
      val expected = words.map(seg).mkString(" ")
      val (_, nw, ns, sub) = byId(i.toLong)
      assert(nw == words.length)
      assert(sub == expected, s"doc $i: $sub != $expected")
      assert(ns == expected.split(" ").length)
    }
  }
}
