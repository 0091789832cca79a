package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Gf

/** Trajectory operators: sequence metrics over paired (pred, label) paths
  * (reference: srai/benchmark/_custom_metrics.py:45-100) and the HF-dataset
  * trajectory preprocessing (reference: srai/datasets/_base.py:455-525).
  *
  * A trajectory is a row with ordered array columns — built distributed via
  * groupBy(traj_id) + sort_array(collect_list(struct(order_key, payload)))
  * (one shuffle keyed by trajectory id; each group is one vehicle/user
  * track, bounded in practice). All metrics are per-row projections after
  * that — embarrassingly parallel.
  */
object Trajectory {

  /** (traj_id, seq) — ordered per-trajectory array of `payload` ordered by
    * `orderBy` columns (ties broken by the full struct comparison). */
  def collectSequence(df: DataFrame, trajId: String, orderCol: Column,
                      payload: Column): DataFrame =
    df.groupBy(col(trajId))
      .agg(sort_array(collect_list(struct(orderCol.as("o"), payload.as("p"))))
        .as("s"))
      .select(col(trajId), col("s.p").as("seq"))

  /** Element-wise mean haversine distance (meters) between two equal-length
    * [lat, lng] paths (reference `haversine_sequence`, zip semantics:
    * truncates to the shorter length; null pairs SKIPPED like the
    * reference's `if true_h3 and pred_h3` guard; no valid pair → null).
    * One kernel pass ([[graft.functions.CatalystHelpers.haversineMeanPath]]
    * — the declarative zip_with/filter/aggregate form evaluated a ~20-node
    * trig expression tree interpreted per point pair; kernel-vs-formula
    * FP equality is spec-pinned in NewOpsSpec). */
  def haversineMean(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("haversine_mean_path", a, b)

  /** The declarative formula (the kernel's spec mirror). The null guard is
    * EXPLICIT on the pair: the bare formula's `least(1.0, sqrt(null))`
    * collapses to 1.0 (least skips nulls), so a null element used to
    * become a phantom ~20,015 km antipodal distance instead of being
    * skipped — a real bug the kernel-equality spec exposed (the reference's
    * `if true_h3 and pred_h3` guard skips such pairs). */
  private[graft] def haversineMeanDeclarative(a: Column, b: Column): Column = {
    val n = least(size(a), size(b))
    // element access via get() (null out of bounds) — under ANSI mode
    // getItem THROWS on a ragged (<2-coordinate) element; a malformed
    // element must skip its pair, exactly like the kernel's length guard
    def c(e: Column, i: Int) = get(e, lit(i))
    val pairDist = filter(
      zip_with(slice(a, lit(1), n), slice(b, lit(1), n), (p, q) =>
        when(p.isNotNull && q.isNotNull &&
          c(p, 0).isNotNull && c(p, 1).isNotNull &&
          c(q, 0).isNotNull && c(q, 1).isNotNull,
          Gf.haversineM(c(p, 0), c(p, 1), c(q, 0), c(q, 1)))),
      x => x.isNotNull)
    when(size(pairDist) > 0,
      aggregate(pairDist, lit(0.0), (acc, x) => acc + x) / size(pairDist))
  }

  /** Element-wise exact-match fraction between two sequences (reference
    * `sequence_accuracy`; zip truncates to the shorter; `<=>` per element —
    * python None == None is True, None == 'x' is False). One kernel pass;
    * the declarative mirror below is its spec. */
  def sequenceAccuracy(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("seq_accuracy", a, b)

  private[graft] def sequenceAccuracyDeclarative(a: Column, b: Column): Column = {
    val n = least(size(a), size(b))
    val matches = zip_with(slice(a, lit(1), n), slice(b, lit(1), n),
      (x, y) => (x <=> y).cast("int"))
    when(size(matches) > 0,
      aggregate(matches, lit(0), (acc, x) => acc + x).cast("double") / size(matches))
  }

  /** Exact DTW distance between [lat, lng] paths (haversine point metric);
    * reference `dtw_distance` uses the fastdtw approximation — this is the
    * exact DP (documented deviation, see [[graft.functions.GeoMetrics.dtw]]). */
  def dtwDistance(a: Column, b: Column): Column = Gf.dtwLatLng(a, b)

  /** H3-sequence variants: decode cell ids to [lat, lng] centers first
    * (reference passes h3 index sequences). One kernel pass instead of a
    * per-element transform lambda. */
  def h3ToPath(seq: Column): Column =
    org.apache.spark.sql.functions.call_function("h3_seq_path", seq)

  /** HF HMP-task preprocessing (reference _base.py:502-521): split the
    * sequence at 85% (never empty y), x/y distinct-cell lengths, stratify
    * by their sum. */
  def hmpPreprocess(df: DataFrame, seqCol: String): DataFrame = {
    val n = size(col(seqCol))
    val rawIdx = floor(n.cast("double") * 0.85).cast("int")
    // n = 0: the rawIdx==n guard would give -1 and Spark's slice rejects
    // negative lengths; the reference's Python negative slicing yields
    // ([], []) — clamp to 0 for the same result
    val splitIdx = greatest(lit(0), when(rawIdx === n, n - 1).otherwise(rawIdx))
    df.withColumn("h3_sequence_x", slice(col(seqCol), lit(1), splitIdx))
      .withColumn("h3_sequence_y",
        slice(col(seqCol), splitIdx + 1, n - splitIdx))
      .withColumn("x_len", size(array_distinct(col("h3_sequence_x"))))
      .withColumn("y_len", size(array_distinct(col("h3_sequence_y"))))
      .withColumn("stratify_col", (col("x_len") + col("y_len")).cast("double"))
  }

  /** HF TTE-task preprocessing (reference _base.py:482-499): duration in
    * seconds between first and last timestamp (< 2 points → 0.0). */
  def ttePreprocess(df: DataFrame, tsSeqCol: String): DataFrame =
    df.withColumn("stratify_col",
      when(size(col(tsSeqCol)) < 2, lit(0.0))
        .otherwise((element_at(col(tsSeqCol), -1).cast("double") -
          element_at(col(tsSeqCol), 1).cast("double"))))

  /** Equal-width stratification bins over `stratify_col` (reference
    * `pd.cut(..., bins=n_bins, labels=False)`, _base.py:525). pd.cut
    * intervals are RIGHT-closed — a value exactly on an interior edge gets
    * the LOWER bin — with the first edge nudged 0.1% down so the minimum
    * lands in bin 0: bin = ceil((v−mn)/width) − 1 clamped to
    * [0, nBins−1]. (Round 2 used left-closed floor bins, which put exact
    * edge hits one bin higher than the reference — likely for the
    * integer-valued x_len+y_len column.) Stats aggregate once. */
  def stratificationBin(df: DataFrame, nBins: Int): DataFrame = {
    val r = df.agg(min(col("stratify_col")).cast("double"),
      max(col("stratify_col")).cast("double")).collect()(0)
    // empty / all-null input: no stats to bin against — null bins, like
    // pd.cut on an empty series (not a ROW_VALUE_IS_NULL crash)
    if (r.isNullAt(0) || r.isNullAt(1))
      return df.withColumn("stratification_bin", lit(null).cast("int"))
    val mn = r.getDouble(0); val mx = r.getDouble(1)
    if (mx == mn) df.withColumn("stratification_bin", lit(0))
    else {
      val width = (mx - mn) / nBins
      df.withColumn("stratification_bin",
        greatest(lit(0), least(
          (ceil((col("stratify_col") - mn) / width) - 1).cast("int"),
          lit(nBins - 1))))
    }
  }
}
