package graft.operators

import org.apache.spark.sql.DataFrame
import graft.plans.PairMoments

/**
 * A1/M2/M3/M4 (SURVEY.md §2.5, §2.8): correlation-clustering feature dedup
 * — `correlated_features_filter`
 * (`/root/reference/exstream/correlation_filtering.py:7-67`).
 *
 * All pairwise Pearson correlations come from ONE distributed aggregation
 * pass: the [[graft.plans.PairMoments]] aggregate sums the six moments of
 * every feature pair per group, so the collected row is 6·k(k−1)/2
 * doubles (k is the feature count, dozens at most). The division,
 * graph building and connected components run driver-side on that
 * k x k result, which is the right placement: the data-sized work is the
 * scan, the graph is O(k²).
 *
 * Deliberate divergences (SURVEY §4a quirks 4/5/7):
 *  - correlations are computed over feature columns only (the reference
 *    feeds metadata columns into `df.corr()` but never reads those entries);
 *  - the cluster representative is the member with the smallest original
 *    column index — the reference uses `set.pop()`, which is
 *    nondeterministic across processes;
 *  - the returned list is feature names only (the reference appends a
 *    nested `["type_data"]` that would crash downstream pandas);
 *  - a NaN value is summed, not dropped pair by pair as pandas'
 *    `df.corr()` drops it (batch and streaming alike): the pair's
 *    correlation is NaN, so the pair gets no edge. Only null (absent)
 *    cells are pairwise-deleted.
 */
object CorrelationFilter {

  /** The pure graph core: union-find clustering with an edge iff
    * |corr(i,j)| > threshold (NaN = undefined = no edge); each cluster's
    * representative is its smallest original column index. Shared by the
    * distributed moment path and the streaming window-local path. */
  private[graft] def selectByCorr(
      featureOrder: Seq[String],
      correlationThreshold: Double,
      pairs: IndexedSeq[(Int, Int)],
      corr: Int => Double): Seq[String] = {
    val parent = Array.tabulate(featureOrder.size)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
    def union(a: Int, b: Int): Unit = { val ra = find(a); val rb = find(b); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    pairs.zipWithIndex.foreach { case ((i, j), k) =>
      val c = corr(k)
      if (!c.isNaN && math.abs(c) > correlationThreshold) union(i, j)
    }
    featureOrder.indices.filter(i => find(i) == i).map(featureOrder)
  }

  /** Pearson correlation from pairwise-deleted moment sums; NaN when
    * undefined (zero variance or no overlap) — pandas' semantics. */
  private def corrFromMoments(n: Double, sx: Double, sy: Double,
                              sxx: Double, syy: Double, sxy: Double): Double = {
    val den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    if (den > 0.0) (n * sxy - sx * sy) / math.sqrt(den) else Double.NaN
  }

  /** Union-find over one [[graft.plans.PairMoments]] array: pair k's
    * moments are `m(6k) .. m(6k + 5)`. Moments rather than the built-in
    * `corr`: its in-aggregate division throws under ANSI on constant
    * columns, while here the division happens driver-side, where a zero
    * denominator is just "no edge" (pandas' NaN semantics). Moment-form
    * cancellation costs a couple of the 16 digits — irrelevant for an
    * |corr| > threshold decision. */
  private def selectFromMoments(
      featureOrder: Seq[String],
      correlationThreshold: Double,
      m: Array[Double]): Seq[String] = {
    val pairs = for { i <- featureOrder.indices; j <- 0 until i } yield (i, j)
    selectByCorr(featureOrder, correlationThreshold, pairs, { k =>
      val b = 6 * k
      corrFromMoments(m(b), m(b + 1), m(b + 2), m(b + 3), m(b + 4), m(b + 5))
    })
  }

  /**
   * Window-local pure variant for the streaming at-close path: the same
   * moment update ([[graft.plans.PairMoments.update]]) and union-find
   * over ONE closed window's buffered observations (the only data an
   * online operator has at close). A feature absent from a (timestamp,
   * class) row drops that row from its pairs; a NaN value is summed,
   * exactly as in the batch aggregate. Batch computes the moments over
   * every window in one distributed pass; on a single-window input the
   * two are identical, which is what the streaming/batch parity test
   * pins.
   *
   * @param rows (timestamp, type_data, feature, value) — one value per
   *             (timestamp, type_data, feature), the wide-pivot contract
   */
  def selectFeaturesLocal(
      rows: Iterable[(Long, Int, String, Double)],
      featureOrder: Seq[String],
      correlationThreshold: Double): Seq[String] = {
    val idx = featureOrder.zipWithIndex.toMap
    val m = new Array[Double](PairMoments.cells(featureOrder.size))
    // wide pivot: one (ts, class) row at a time into the shared moment update
    rows.groupBy(r => (r._1, r._2)).foreach { case (_, g) =>
      val x = new Array[Double](featureOrder.size)
      val present = new Array[Boolean](featureOrder.size)
      g.foreach(r => idx.get(r._3).foreach { i => x(i) = r._4; present(i) = true })
      PairMoments.update(m, x, present)
    }
    selectFromMoments(featureOrder, correlationThreshold, m)
  }

  /**
   * One moment array PER group value (e.g. one per instability
   * resample), all from a single aggregation pass — no per-group
   * re-execution of the upstream pivot shuffle. The group count is tiny
   * (1 + resample rounds), so the collected result is a handful of rows
   * regardless of data volume.
   *
   * @param wide      one row per observation, feature columns present
   * @param featureOrder feature columns in original (insertion) order
   * @param groupCol integer grouping column present in `wide`
   * @return group value -> selected feature names, in original column order
   */
  def selectFeaturesBy(
      wide: DataFrame,
      featureOrder: Seq[String],
      correlationThreshold: Double,
      groupCol: String): Map[Int, Seq[String]] = {
    val vec = featureOrder.map(f => s"`${f.replace("`", "``")}`").mkString("array(", ", ", ")")
    wide.groupBy(groupCol).agg(PairMoments.pairMoments(wide.sparkSession, vec)).collect()
      .map { row =>
        row.getInt(0) -> selectFromMoments(featureOrder, correlationThreshold,
          row.getSeq[Double](1).toArray)
      }.toMap
  }
}
