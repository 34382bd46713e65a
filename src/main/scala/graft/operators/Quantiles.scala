package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._
import graft.core.Op

/** Distributed EXACT quantiles.
  *
  * Spark's exact `percentile()` carries a value→count map as its state,
  * and every partial map funnels through ONE final reducer whose merge
  * is proportional to the global distinct count: at 100 TB of
  * high-cardinality doubles, a scale-killer (the map is the data).
  *
  * This operator computes the same interpolated quantiles (rank
  * q·(n−1)) by sketch-then-refine, two fixed-state per-key passes:
  *   1. bounds: a Greenwald–Khanna summary (SIGMOD 2001, the state of
  *      `approx_percentile`; rank error ≤ n/accuracy, exact under
  *      accuracy/2 rows) read 2n/accuracy ranks beyond each target rank;
  *   2. slice: rows below lo, equal to lo and equal to hi are counted
  *      (ties never collected), those strictly inside collected.
  * The sketch is checked, not trusted: a rank outside the slice, or a
  * slice past the cap (accuracy values), refines in the span that holds
  * it. A round serves every open rank of every key, so jobs grow with
  * the depth (one round to ~16.7M rows per key, two to ~2.8·10¹⁰), not
  * with keys or ranks. Nothing is persisted and nothing data-sized
  * crosses one thread. The price is laziness: this runs jobs NOW, where
  * `percentile()` rides inside a lazy plan.
  *
  * Each pass is an RDD `combineByKey`, which reads a summary at per-key
  * ranks in one job (AQE runs a grouped aggregate as two) but pays a Row
  * conversion per row: at 8M rows of one key it took 14.7–16.1 s, a
  * DataFrame version 14.3 s. `QuantileSummaries` and `SQLOrderingUtil` are
  * catalyst internals without a compatibility promise; AuditSpec's
  * bit-identity tests against `percentile()` check them on an upgrade.
  */
object Quantiles {

  /** Split-conformal prediction threshold (Vovk et al. 2005; the
    * finite-sample form popularized by Angelopoulos & Bates 2023):
    * given calibration nonconformity scores, the k-th smallest score
    * with k = ⌈(n+1)(1−α)⌉ guarantees P(new score ≤ threshold) ≥ 1−α
    * for exchangeable data — the coverage-GUARANTEED way to set a
    * "keep below this anomaly score" filter cutoff, where a plain
    * quantile has no finite-sample guarantee: [[exactQuantiles]] at
    * q = (k−1)/(n−1), an integer rank. Returns one row
    * `(n, k, alpha, threshold)` (threshold 6dp).
    * α must satisfy k ≤ n (n ≥ (1−α)/α calibration points). */
  def conformalThreshold(df: DataFrame, scoreCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0,1)")
    val vals = df.select(col(scoreCol).cast("double").as("__s"))
      .filter(col("__s").isNotNull)
    val n = vals.count()
    val k = math.ceil((n + 1) * (1.0 - alpha)).toLong
    require(k <= n, s"need more calibration points: k=$k > n=$n at alpha=$alpha")
    val q = if (n == 1) 0.0 else (k - 1).toDouble / (n - 1).toDouble
    val thr = exactQuantiles(vals, "__s", Seq(q)).head
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, k, alpha,
      BigDecimal(thr).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n", "k", "alpha", "threshold")
  }

  /** Exact interpolated quantiles of `valueCol` (NULLs excluded), same
    * arithmetic as `percentile(col, array(qs))` at 0-based rank
    * q·(n−1). Throws on an empty (all-NULL) input. */
  def exactQuantiles(df: DataFrame, valueCol: String,
      qs: Seq[Double]): Array[Double] =
    exactQuantilesOpt(df, valueCol, qs)
      .getOrElse(throw new IllegalArgumentException(
        s"requirement failed: no non-NULL values in $valueCol"))

  /** [[exactQuantiles]] that mirrors percentile()'s NULL-on-empty:
    * None when `valueCol` has no non-NULL values, so the exact-default
    * consumers (winsorize/madScore/psiBins/discretize) degrade to NULL
    * bounds instead of failing. */
  def exactQuantilesOpt(df: DataFrame, valueCol: String,
      qs: Seq[Double]): Option[Array[Double]] =
    exactQuantilesByKey(
      df.select(lit("").as("__k"), col(valueCol).as("__val")), "__k", "__val", qs)
      .get("")

  /** [[exactQuantiles]] for SEVERAL value populations at once: `df`
    * carries (key, value) rows — e.g. the per-signal explode of
    * [[graft.operators.Features.percentileBlend]] — and both aggregates
    * group by key (keys are a handful, never data-sized). Keys with no
    * non-NULL values are absent from the result (percentile's NULL). */
  def exactQuantilesByKey(df: DataFrame, keyCol: String, valueCol: String,
      qs: Seq[Double]): Map[String, Array[Double]] =
    exactQuantilesByKeyWithN(df, keyCol, valueCol, qs)
      .map { case (k, (vs, _)) => k -> vs }

  private val Accuracy = 10000 // the sketch's rank error is 1/Accuracy of its span
  private val Band = 2.0 / Accuracy // each bound sits Band of the span beyond its ranks

  /** `ranks` of one key's `m` rows in the open window (lo, hi) (None is
    * unbounded; `off` rows below it), read between bounds `blo` ≤ `bhi`. */
  private[graft] case class Probe(lo: Option[Double], hi: Option[Double], off: Long, m: Long,
      ranks: Seq[Long], blo: Option[Double] = None, bhi: Option[Double] = None) {
    def holds(v: Double): Boolean =
      lo.forall(compareDoubles(v, _) > 0) && hi.forall(compareDoubles(v, _) < 0)
  }

  /** [[exactQuantilesByKey]] also returning each key's non-NULL row count
    * (Theil-Sen's pair count), refining slices past `cap` values. */
  private[graft] def exactQuantilesByKeyWithN(df: DataFrame, keyCol: String, valueCol: String,
      qs: Seq[Double], cap: Int = Accuracy): Map[String, (Array[Double], Long)] = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1]: $qs")
    val rows = df.select(col(keyCol).cast("string").as("__k"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__k").isNotNull && col("__v").isNotNull)
    val first = bounds(rows, _ => Seq(Probe(None, None, 0L, 0L, Nil))) { (_, s) =>
      qs.map { q =>
        val r = q * (s.count - 1)
        bounded(Probe(None, None, 0L, s.count,
          Seq(math.floor(r).toLong, math.ceil(r).toLong).distinct), s)
      }
    }
    val found = mutable.Map.empty[(String, Long), Double]
    var (live, probes) = (rows, first)
    while (probes.nonEmpty) {
      // one round: a slice pass reads every probe of every key, and one
      // bounds pass sketches again each span that holds an unread rank
      val open = slices(live, probes, cap).flatMap { case (k, p, ends, inside) =>
        p.ranks.flatMap(t => locate(p, ends, inside, t, cap) match {
          case Right(v) => found((k, t)) = v; None
          case Left(next) => require(next.m < p.m, s"rank $t of $k not narrowed"); Some(k -> next)
        })
      }.distinct.groupMap(_._1)(_._2)
      live = rows.filter(col("__k").isin(open.keys.toSeq: _*))
      probes = if (open.isEmpty) Map.empty
        else bounds(live, open)((p, s) => Seq(bounded(p, s)))
    }
    // Spark Percentile's exact lo·(1−f) + hi·f, NOT lo + f·(hi−lo): they
    // differ in the last bit, and the specs gate bit-identity
    first.map { case (k, ps) =>
      val n = ps.head.m
      k -> (qs.map { q =>
        val r = q * (n - 1); val f = r - math.floor(r)
        found((k, math.floor(r).toLong)) * (1.0 - f) + found((k, math.ceil(r).toLong)) * f
      }.toArray, n)
    }
  }

  /** `p` bounded by its span's sketch `s`, Band of the span below its
    * lowest and above its highest rank at the sketch's 1-based rank ⌈f·m⌉
    * (none off an end; an exact sketch puts blo ON the lowest rank). */
  private def bounded(p: Probe, s: QuantileSummaries): Probe = {
    val fs = Seq((p.ranks.min - p.off + 1).toDouble / p.m - Band,
      (p.ranks.max - p.off + 1).toDouble / p.m + Band)
    val Seq(a, b) = fs.map(f => s.query(math.min(1.0, math.max(0.0, f))).get)
      .sorted(Ordering.Double.TotalOrdering)
    p.copy(blo = if (fs(0) <= 0) None else Some(a), bhi = if (fs(1) >= 1) None else Some(b))
  }

  /** Folds each key's rows into one state per probe that holds them,
    * merged per key after a shuffle: one job per pass. */
  private def perKey[S: ClassTag](rows: DataFrame, pass: String, probes: String => Seq[Probe])(
      zero: Probe => S)(add: (S, Double) => S, merge: (S, S) => S): Map[String, Seq[S]] = {
    type St = (Array[Probe], Array[S])
    def fold(st: St, v: Double): St = {
      for (i <- st._1.indices if st._1(i).holds(v)) st._2(i) = add(st._2(i), v)
      st
    }
    Op.scope(rows.sparkSession.sparkContext, pass) {
      rows.rdd.map(r => (r.getString(0), r)).combineByKey(
        (r: Row) => { val ps = probes(r.getString(0)).toArray; fold((ps, ps.map(zero)), r.getDouble(1)) },
        (st: St, r: Row) => fold(st, r.getDouble(1)),
        (a: St, b: St) => (a._1, a._2.zip(b._2).map(merge.tupled))
      ).collect().map { case (k, (_, ss)) => k -> ss.toSeq }.toMap
    }
  }

  /** Bounds pass: each key's probes, re-made by `read` from the
    * Greenwald–Khanna summary of their spans (its count is m). */
  private def bounds(rows: DataFrame, probes: String => Seq[Probe])(
      read: (Probe, QuantileSummaries) => Seq[Probe]): Map[String, Seq[Probe]] =
    perKey(rows, "quantiles:bounds", probes)(_ =>
        new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, 1.0 / Accuracy))(
      _.insert(_), (a, b) => a.compress().merge(b.compress()))
      .map { case (k, ss) => k -> probes(k).zip(ss).flatMap { case (p, s) => read(p, s.compress()) } }

  /** One probe's slice in SQL's double order: counts of the rows below
    * blo, = blo, strictly between the bounds (`inside`, complete while
    * at most `cap`, so a state never holds more), = bhi. */
  private final class Cut(p: Probe, cap: Int) extends Serializable {
    val counts = new Array[Long](4)
    val inside = mutable.ArrayBuffer.empty[Double]
    def add(v: Double): Cut = {
      val l = if (p.blo.isEmpty) 1 else compareDoubles(v, p.blo.get)
      val h = if (p.bhi.isEmpty) -1 else compareDoubles(v, p.bhi.get)
      if (l < 0) counts(0) += 1 else if (l == 0) counts(1) += 1
      else if (h < 0) { counts(2) += 1; if (counts(2) <= cap) inside += v } else if (h == 0) counts(3) += 1
      this
    }
    def merge(o: Cut): Cut = {
      (0 to 3).foreach(i => counts(i) += o.counts(i))
      if (counts(2) <= cap) inside ++= o.inside
      this
    }
  }

  /** Slice pass: each probe's [[Cut]], with the ranks where its regions end. */
  private def slices(rows: DataFrame, probes: Map[String, Seq[Probe]],
      cap: Int): Seq[(String, Probe, Seq[Long], Array[Double])] =
    perKey(rows, "quantiles:slice", probes)(new Cut(_, cap))(_.add(_), _.merge(_)).toSeq
      .flatMap { case (k, cs) =>
        probes(k).zip(cs).map { case (p, c) => (k, p, c.counts.toSeq.scanLeft(p.off)(_ + _).tail,
          c.inside.toArray.sorted(Ordering.Double.TotalOrdering)) }
      }

  /** The value at rank `t`, or the narrower span that holds it; `ends` are
    * where the rows below blo, = blo, between (`inside`) and = bhi end. */
  private[graft] def locate(p: Probe, ends: Seq[Long], inside: Array[Double], t: Long,
      cap: Int): Either[Probe, Double] = {
    val Seq(atLo, atIn, atHi, above) = ends
    if (t < atLo) Left(Probe(p.lo, p.blo, p.off, atLo - p.off, Seq(t)))
    else if (t < atIn) Right(p.blo.get)
    else if (t >= above) Left(Probe(p.bhi, p.hi, above, p.off + p.m - above, Seq(t)))
    else if (t >= atHi) Right(p.bhi.get)
    else if (atHi - atIn <= cap) Right(inside((t - atIn).toInt))
    else Left(Probe(p.blo, p.bhi, atIn, atHi - atIn, Seq(t)))
  }
}
