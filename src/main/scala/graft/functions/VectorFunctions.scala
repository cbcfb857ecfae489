package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector (embedding) column functions for similarity search and
  * near-duplicate detection over `array<float>` embedding columns.
  *
  * Exactness design: embeddings are quantized to BIGINT milliunits
  * (`round(x*1000)`) once, after which every dot product, norm, and
  * threshold test is EXACT integer arithmetic — identical in Spark and
  * DuckDB, immune to float-summation-order drift, and cheap (64-dim
  * dot = 64 long multiply-adds inside one codegen'd `aggregate`).
  *
  * Cosine thresholding never divides: cos(a,b) ≥ t (t = tPct/100) is
  * evaluated as `dot > 0 AND 10000·dot² ≥ tPct²·|a|²·|b|²`. Both sides
  * can exceed int64 inside the documented domain (64-dim |x| ≤ 1.0
  * milliunit vectors: dot ≤ 6.4e7 ⇒ 10^4·dot² ≤ 4.1e19 > 2^63), so the
  * comparison runs in 128-bit-capable exact integer types: Spark
  * DECIMAL(38,0), DuckDB HUGEINT — still exact, no wraparound. Safe up
  * to ~4096-dim unit-norm milliunit vectors (10^4·dot² ≤ 1.7e23 ≪ 10^38).
  */
object VectorFunctions {

  /** Quantize array<float> to array<bigint> milliunits. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000).cast("long"))

  /** Exact integer dot product of two quantized vectors — a native
    * codegen'd [[VectorDotQ]] expression (the zip_with+aggregate
    * formulation runs on the interpreted HOF path; this is the
    * candidate-pair inner loop, so it must stay in codegen). */
  def dotQ(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(VectorDotQ(toExpression(a), toExpression(b)))
  }

  /** Exact integer squared L2 norm of a quantized vector. */
  def normSqQ(a: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(VectorDotQ(toExpression(a), toExpression(a)))
  }

  /** Id of the row of `tables(part)` nearest to `vec` by exact integer
    * L2², ties to the smaller id (native [[NearestL2]]); null for a null
    * vector or an empty table. */
  def nearest(vec: Column, part: Column, tables: Seq[L2Table]): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(NearestL2(toExpression(vec), toExpression(part), tables))
  }

  /** The width of each of `numSub` PQ subvectors of a `width`-wide
    * vector (native [[PqSubDim]]); a width not divisible by `numSub`
    * fails, naming it. */
  def pqSubDim(width: Column, numSub: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(PqSubDim(toExpression(width), numSub))
  }

  /** Element-wise SUM aggregate over quantized vectors (native
    * [[ArrayLongSumAgg]]): the per-dimension sums of a group's member
    * vectors as one hash aggregate with map-side combine — the Lloyd
    * centroid-mean numerator without the explode + per-dim aggregation
    * + reassembly-sort detour (one exchange per training round instead
    * of two). */
  def arraySumAgg(a: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(graft.functions.ArrayLongSumAgg(toExpression(a)).toAggregateExpression())
  }

  /** cos(a,b) ≥ tPct/100, exact. `dot`, `na`, `nb` are the quantized
    * dot and squared norms. Widened to DECIMAL(38,0) before the
    * multiplies: 10^4·dot² wraps int64 for large/unnormalized inputs
    * (see class doc); the DuckDB twin widens to HUGEINT the same way. */
  def cosineGePct(dot: Column, na: Column, nb: Column, tPct: Int): Column = {
    val wide = org.apache.spark.sql.types.DecimalType(38, 0)
    dot > 0 &&
      dot.cast(wide) * dot * lit(10000L) >= na.cast(wide) * nb * lit(tPct.toLong * tPct)
  }

  /** Sign-LSH bucket: one bit per dimension starting at `offset`
    * (axis-aligned random-hyperplane LSH). `bits` ≤ 16. Vectors whose
    * chosen coordinates share signs land in the same bucket; at
    * cluster scale this turns an O(n²) all-pairs search into
    * per-bucket searches. Distinct `offset`s give INDEPENDENT bucket
    * tables — the multi-table trick that recovers recall lost to
    * pairs straddling one table's hyperplanes (see
    * [[graft.operators.Similarity.lshTopKMulti]]). */
  def signBucket(vec: Column, bits: Int, offset: Int = 0): Column =
    (0 until bits).map { i =>
      when(element_at(vec, offset + i + 1) >= 0f, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Bucket-bit count sized to the corpus: 2^bits ≈ n/targetBucketSize,
    * clamped to [1, maxBits]. A FIXED bit count makes per-bucket
    * all-pairs work O(n²/2^bits) — quadratic again at 10^12 rows; bits
    * must grow with n so the expected bucket stays ~targetBucketSize
    * and per-bucket work stays ~n·targetBucketSize (linear in n). */
  def lshBitsFor(n: Long, targetBucketSize: Long = 4096L, maxBits: Int = 16): Int = {
    val buckets = math.max(1.0, n.toDouble / math.max(1L, targetBucketSize))
    math.min(maxBits, math.max(1, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }
}
