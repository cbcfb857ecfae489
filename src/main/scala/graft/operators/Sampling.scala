package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Mixture re-balancing samplers for training-corpus curation.
  *
  * [[temperatureSample]] is the multilingual / multi-domain α-sampling
  * rule (Conneau et al. 2020 "Unsupervised Cross-lingual Representation
  * Learning at Scale" §3.1 — sample group g with probability ∝ n_g^α;
  * the GPT-3 dataset-mixture table, Brown et al. 2020 Table 2.2, is the
  * same shape with hand-set weights): dominant groups are downsampled
  * so the kept mixture follows n_g^α instead of n_g, at α = 1/2.
  *
  * Exactness design — NO floating point anywhere: the keep rule
  * "keep doc d of group g iff u(d) < (n_min / n_g)^(1/2)" (the α = 1/2
  * rate that keeps the smallest group whole and keeps n_g^(1/2)·n_min^(1/2)
  * of every other) is evaluated with u(d) = h(d)/1000 (h = the first 4
  * md5 nibbles of doc_id mod 1000 — the same replayable hash family the
  * stratified sampler uses) by squaring both sides:
  *
  *   h² · n_g  <  n_min · 10⁶
  *
  * — an exact integer predicate both engines evaluate identically; no
  * sqrt, no rounding policy to pin. Widened to DECIMAL(38,0) (DuckDB
  * twin: HUGEINT) so h²·n_g cannot wrap at 10^12-row group counts.
  *
  * Shape at 100 TB: one tiny hash aggregation over the group column
  * (#groups rows), its min as a one-row frame, both broadcast back into
  * a single map-side filtered scan of the corpus — the corpus itself
  * never shuffles. Deterministic under re-runs and resume: the keep
  * decision is a pure function of (doc_id, group counts). */
object Sampling {

  /** The replayable per-doc sampling hash shared by the temperature
    * and stratified samplers (and their DuckDB twins): the first 4
    * md5 nibbles of the id's decimal string, mod 1000. */
  def permilleHash(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long") % 1000

  /** Keep rows so the kept mixture follows n_g^(1/2) per group in
    * `byCol`; the smallest group is kept whole. Output: (doc_id,
    * byCol, n_group, h) for kept rows. Rows with a NULL group are
    * dropped (NULL joins no count row) — `coalesce` the column
    * upstream to keep them as their own group. At 100 TB a
    * mostly-NULL group column would silently shred the corpus, so
    * pass `observer` to make the silence VISIBLE: after any action on
    * the result it carries `kept` + `dropped_by_rule` +
    * `dropped_null_group`, which sum to the input row count (the
    * observed subtree has exactly one consumer — the round-4 max_df
    * re-execution lesson does not bite). */
  def temperatureSample(docs: DataFrame, byCol: String,
      observer: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // materialize the tiny per-group counts ONCE: deriving n_min from
    // the lazy aggregation frame would re-instantiate its corpus scan
    // (the exact-substring round-6 lesson) — with the checkpoint the
    // corpus is read once for counts and once for the filtered scan
    val counts = Rounds.defaultTruncate(
      docs.groupBy(byCol).agg(count(lit(1)).as("n_group")))
    val nMin = counts.agg(min(col("n_group")).as("n_min"))
    val wide = DecimalType(38, 0)
    val kept = col("h").cast(wide) * col("h") * col("n_group") <
      col("n_min").cast(wide) * lit(1000000L)
    // LEFT join so NULL-group rows survive to the observation point
    // (they match no count row; the filter below drops them exactly
    // like the previous inner join did — the kept set is unchanged)
    val tagged = docs.select(col("doc_id"), col(byCol))
      .withColumn("h", permilleHash(col("doc_id")))
      .join(broadcast(counts), Seq(byCol), "left")
      .crossJoin(broadcast(nMin))
    // a NULL doc_id makes the keep predicate NULL (its hash is NULL):
    // the filter drops the row, so the accounting must too — without
    // the coalesce it would land in NEITHER bucket and the three
    // counters would under-report the input count
    val keptB = coalesce(kept, lit(false))
    val observed = observer match {
      case Some(obs) => tagged.observe(obs,
        sum(when(col(byCol).isNull, 1L).otherwise(0L)).as("dropped_null_group"),
        sum(when(col(byCol).isNotNull && keptB, 1L).otherwise(0L)).as("kept"),
        sum(when(col(byCol).isNotNull && !keptB, 1L).otherwise(0L)).as("dropped_by_rule"))
      case None => tagged
    }
    observed
      .where(col(byCol).isNotNull && keptB)
      .select(col("doc_id"), col(byCol), col("n_group"), col("h"))
  }
}
