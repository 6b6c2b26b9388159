package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed order statistics WITHOUT a global sort or a
  * single-task window (SURVEY.md §2.3 P8 / §2.5 A10 at scale).
  *
  * `kthSmallest` finds the exact k-th smallest value by iterative histogram
  * refinement: each round buckets the candidate value range into B equal
  * slices with one shuffle-free aggregate (map-side combine on B counters),
  * walks the B counts on the driver to find the bucket containing rank k,
  * and narrows to it. The candidate set shrinks ~B× per round, so a 10^10-row
  * column resolves in 3-4 column-pruned scans; the final ≤`collectCap`
  * survivors are sorted driver-side. No row ever moves — only B counters per
  * partition — which is the shape the reference's percentile-clip
  * normalisation (scripts/make_maps.py:208-215) needs at lake scale.
  */
object Quantiles {

  /** exact k-th smallest (1-indexed) of a non-null double column */
  def kthSmallest(df: DataFrame, valueCol: Column, k: Long,
                  buckets: Int = 2048, collectCap: Int = 65536): Double = {
    require(k >= 1, s"k must be >= 1, got $k")
    var cur = df.select(valueCol.cast("double").as("__v")).where(col("__v").isNotNull)
    var rank = k // rank of the target within `cur`
    var iter = 0
    while (iter < 64) {
      iter += 1
      val head = cur.agg(count(lit(1)), min("__v"), max("__v")).collect().head
      val n = head.getLong(0)
      require(rank <= n, s"rank $rank out of range (n=$n)")
      val lo = head.getDouble(1); val hi = head.getDouble(2)
      if (lo == hi) return lo
      if (n <= collectCap) {
        val sorted = cur.collect().map(_.getDouble(0)).sorted
        return sorted((rank - 1).toInt)
      }
      // bucket index: same expression for counting and for narrowing, so
      // float boundary rows land identically in both passes
      val width = (hi - lo) / buckets
      val b = least(floor((col("__v") - lo) / width), lit(buckets - 1L)).cast("int")
      val histo = cur.groupBy(b.as("__b")).agg(count(lit(1)).as("__c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      var cum = 0L; var target = -1
      var i = 0
      while (i < buckets && target < 0) {
        val c = histo.getOrElse(i, 0L)
        if (cum + c >= rank) target = i else cum += c
        i += 1
      }
      rank -= cum
      cur = cur.where(b === target)
    }
    // numerically-degenerate range (won't refine): fall back to exact sort
    // of what's left — bounded because each round strictly shrank the set
    val sorted = cur.collect().map(_.getDouble(0)).sorted
    sorted((rank - 1).toInt)
  }

  /** SEVERAL exact quantiles in ONE sweep (round-8, guide §1.2): the count
    * / min-max pass and the first histogram pass are shared by every
    * requested fraction — 2 column-pruned scans serve all of them — and
    * the per-fraction narrowing collects the union of the (tiny) target
    * buckets in a single extra pass when it fits `collectCap`, falling
    * back to the per-k refinement loop otherwise. The quantile at fraction
    * p is the order statistic k = ceil(p * n) (1-indexed, type-1 /
    * discontinuous — pins one unambiguous semantic both engines can
    * express), value-for-value equal to `kthSmallest(k)`.
    */
  def exactQuantiles(df: DataFrame, valueCol: Column, ps: Seq[Double],
                     buckets: Int = 2048, collectCap: Int = 65536): Seq[(Double, Double)] = {
    val vals = df.select(valueCol.cast("double").as("__v")).where(col("__v").isNotNull)
    val head = vals.agg(count(lit(1)), min("__v"), max("__v")).collect().head
    val n = head.getLong(0)
    require(n > 0, "empty input")
    val lo = head.getDouble(1); val hi = head.getDouble(2)
    val ks = ps.map(p => math.max(1L, math.ceil(p * n).toLong))
    if (lo == hi) return ps.map(p => (p, lo))
    if (n <= collectCap) {
      val sorted = vals.collect().map(_.getDouble(0)).sorted
      return ps.zip(ks).map { case (p, k) => (p, sorted((k - 1).toInt)) }
    }
    // identical bucket expression to kthSmallest so boundary rows land the
    // same way — the fused path must be value-for-value equal to the
    // one-at-a-time path
    val width = (hi - lo) / buckets
    val b = least(floor((col("__v") - lo) / width), lit(buckets - 1L)).cast("int")
    val histo = vals.groupBy(b.as("__b")).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // per fraction: the bucket holding rank k and the residual rank inside it
    val targets = ks.map { k =>
      var cum = 0L; var t = -1; var i = 0
      while (i < buckets && t < 0) {
        val c = histo.getOrElse(i, 0L)
        if (cum + c >= k) t = i else cum += c
        i += 1
      }
      (t, k - cum)
    }
    val distinctBuckets = targets.map(_._1).distinct
    val survivorRows = distinctBuckets.map(t => histo.getOrElse(t, 0L)).sum
    if (survivorRows <= collectCap) {
      // ONE collect of every target bucket, tagged; sort per bucket driver-side
      val byBucket = vals.select(b.as("__b"), col("__v"))
        .where(b.isin(distinctBuckets.map(Int.box): _*))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (t, rows) => t -> rows.map(_.getDouble(1)).sorted }
      ps.zip(targets).map { case (p, (t, rank)) => (p, byBucket(t)((rank - 1).toInt)) }
    } else
      // pathological density in a target bucket: fall back to the exact
      // per-k refinement (rare; bounded exactly like kthSmallest)
      ps.zip(targets).map { case (p, (t, rank)) =>
        (p, kthSmallest(vals.where(b === t), col("__v"), rank, buckets, collectCap))
      }
  }
}
