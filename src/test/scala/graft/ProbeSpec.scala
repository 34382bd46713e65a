package graft

import org.scalatest.funsuite.AnyFunSuite

/** Probe's argument parsing and name selection, with no Spark session. */
class ProbeSpec extends AnyFunSuite {
  private val known = Set("q1_pricing_summary", "q9_product_profit",
    "q_bm25_topk", "q_bm25_phrase", "q_graph_pagerank")
  private def names(args: String*): Seq[String] =
    Probe.parse(args, known).toOption.get.names

  test("flags default to sf0.1, 32 cpus, 3 reps, no explain") {
    assert(Probe.parse(Seq("q9_product_profit"), known) ===
      Right(Probe.Opts(names = Seq("q9_product_profit"))))
    val o = Probe.parse(Seq("--sf", "/d", "--cpus", "4", "--reps", "0", "--explain",
      "q9_product_profit"), known).toOption.get
    assert((o.sf, o.cpus, o.reps, o.explain) === (("/d", 4, 0, true)))
  }

  test("exact names, comma and space lists, in the order given") {
    assert(names("q9_product_profit") === Seq("q9_product_profit"))
    assert(names("q_graph_pagerank,q9_product_profit", "q1_pricing_summary") ===
      Seq("q_graph_pagerank", "q9_product_profit", "q1_pricing_summary"))
  }

  test("a trailing * selects every name with that prefix, sorted") {
    assert(names("q_bm25_*") === Seq("q_bm25_phrase", "q_bm25_topk"))
    assert(names("q9_product_profit,q*") ===
      Seq("q9_product_profit") ++ (known - "q9_product_profit").toSeq.sorted)
  }

  test("no names runs the Bench headliners") {
    assert(names() === Headline.names.toSeq.sorted)
    assert(names("--reps", "1") === Headline.names.toSeq.sorted)
  }

  test("unknown names and empty prefixes are kept so the run reports them") {
    assert(names("q9_product_profit,q_nope,zz*") ===
      Seq("q9_product_profit", "q_nope", "zz*"))
  }

  test("a bad flag or value fails with the usage message") {
    Seq(Seq("--reps", "x"), Seq("--reps", "-1"), Seq("--cpus", "0"),
        Seq("--reps"), Seq("--bogus")).foreach { args =>
      val r = Probe.parse(args, known)
      assert(r.isLeft && r.left.toOption.get.contains(Probe.usage), args.mkString(" "))
    }
  }
}
