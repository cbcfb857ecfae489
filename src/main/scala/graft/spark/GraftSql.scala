package graft.spark

import org.apache.spark.sql.SparkSession
import graft.operators.{Dedup, Similarity}

/** Pure-SQL surface for the COMPOSED operators.
  *
  * The eight native scalar/aggregate expressions are already
  * SQL-callable (registered by [[graft.spark.GraftExtensions]]); the
  * composed multi-stage operators (star pairs, containment, connected
  * components, ANN top-k) were Scala-only. This registers them as
  * TVF-style TEMPORARY VIEWS over caller-named source views, so a SQL
  * console user reaches every composed operator with plain
  * `SELECT * FROM graft_minhash_star_pairs` — the recipes in
  * README.md §SQL show the round-trip.
  *
  * Laziness contract: pair/sketch views are LAZY (each query
  * re-derives from the current content of the source view — normal
  * view semantics). The components views are EAGER at registration
  * (`CREATE TABLE AS` semantics): iterative-checkpoint construction
  * executes its rounds while building the frame, so registering the
  * view runs the rounds then; the registered view reads the
  * materialized result. Both behaviors are named here and in README.
  *
  * Knobs are the library defaults; a SQL user needing different
  * shingle/band/threshold knobs re-registers via this API — the knobs
  * are deliberately NOT persisted into SQL state, so the view names
  * always mean "the committed default configuration".
  */
object GraftSql {

  /** Register the dedup-operator views over `docsView(doc_id, text)`.
    * Views created (all prefixed, default `graft_`):
    * exact_groups, minhash_pairs, minhash_star_pairs,
    * jaccard_capped_pairs, containment_pairs, simhash_star_pairs,
    * exact_substring_spans, dup_coverage, seq_pack, components,
    * components_star, components_star_adaptive (labels +
    * `rounds_used`), keep_best (one row per near-dup cluster). */
  def registerDedupViews(spark: SparkSession, docsView: String,
      prefix: String = "graft_"): Unit = {
    val docs = spark.table(docsView)
    Dedup.exactGroups(docs).createOrReplaceTempView(s"${prefix}exact_groups")
    Dedup.exactSubstringSpans(docs)
      .createOrReplaceTempView(s"${prefix}exact_substring_spans")
    graft.operators.Packing.sequencePack(docs, seqLen = 128, nShards = 8)
      .createOrReplaceTempView(s"${prefix}seq_pack")
    Dedup.minhashLshPairs(docs).createOrReplaceTempView(s"${prefix}minhash_pairs")
    val star = Dedup.minhashLshStarPairs(docs)
    star.createOrReplaceTempView(s"${prefix}minhash_star_pairs")
    Dedup.ngramJaccardPairs(docs, minPermille = 500, maxDf = 64)
      .createOrReplaceTempView(s"${prefix}jaccard_capped_pairs")
    Dedup.ngramContainmentPairs(docs, minPermille = 800, maxDf = 64)
      .createOrReplaceTempView(s"${prefix}containment_pairs")
    Dedup.simhashStarPairs(docs).createOrReplaceTempView(s"${prefix}simhash_star_pairs")
    // EAGER (see scaladoc): rounds execute now, the view reads results
    // (checkpointRounds = true so components truncates per round like
    // componentsStar — both views freeze at registration time)
    Dedup.components(star, checkpointRounds = true)
      .createOrReplaceTempView(s"${prefix}components")
    Dedup.componentsStar(star).createOrReplaceTempView(s"${prefix}components_star")
    // adaptive variant: rounds run to the fixpoint at registration and
    // the data-dependent count rides every row as `rounds_used`
    val (adaptive, roundsUsed) = Dedup.componentsStarAdaptive(star)
    adaptive.withColumn("rounds_used", org.apache.spark.sql.functions.lit(roundsUsed))
      .createOrReplaceTempView(s"${prefix}components_star_adaptive")
    // cluster resolution over the eager components labels: quality-
    // then-token-count score, the library default (lazy like the pair
    // views — re-derives docs and coverage per query)
    import org.apache.spark.sql.functions.{col, size, split}
    import graft.functions.{TextFunctions => TF}
    Dedup.keepBestPerCluster(docs, spark.table(s"${prefix}components"),
        TF.qualityBucket(col("text")).cast("long") * 100000L +
          size(split(col("text"), " ")))
      .createOrReplaceTempView(s"${prefix}keep_best")
    Dedup.dupSpanCoverage(docs)
      .createOrReplaceTempView(s"${prefix}dup_coverage")
  }

  /** Register the ANN views over `embView(vec_id, embedding)`:
    * `<prefix>topk_brute`, `<prefix>topk_lsh`, `<prefix>topk_ivf`
    * plus `<prefix>topk_pq` (IVF-ADC product quantization) and
    * `<prefix>topk_pq_rerank` (PQ shortlist, exact re-rank)
    * score every vector of `queriesWhere` (SQL predicate over
    * `embView` columns selecting the query side, e.g. "vec_id < 8")
    * against the full table. The IVF and PQ views read the index's
    * small side (centroids, codebooks, query vectors) once, when they
    * are registered, and keep that snapshot, while their item scan
    * reads `embView` when queried: after the embeddings change, such a
    * view scores the new items against the old small side until it is
    * registered again. */
  def registerSimilarityViews(spark: SparkSession, embView: String,
      queriesWhere: String, k: Int = 5, prefix: String = "graft_"): Unit = {
    val emb = spark.table(embView)
    val queries = emb.where(queriesWhere)
    Similarity.bruteForceTopK(queries, emb, k)
      .createOrReplaceTempView(s"${prefix}topk_brute")
    Similarity.lshTopK(queries, emb, k)
      .createOrReplaceTempView(s"${prefix}topk_lsh")
    Similarity.ivfTopK(queries, emb, k)
      .createOrReplaceTempView(s"${prefix}topk_ivf")
    Similarity.ivfPqTopK(queries, emb, k)
      .createOrReplaceTempView(s"${prefix}topk_pq")
    Similarity.ivfPqTopKRerank(queries, emb, k, shortlist = 4 * k)
      .createOrReplaceTempView(s"${prefix}topk_pq_rerank")
    Similarity.ivfPqTopKKmeans(queries, emb, k)
      .createOrReplaceTempView(s"${prefix}topk_pq_kmeans")
  }

  /** Register the MEDIA views over `mediaView(doc_id, media_ref,
    * payload)`: `<prefix>image_hashes` (real-decode perceptual hashes
    * as two 32-bit halves; non-images absent) and
    * `<prefix>image_phash_pairs` (banded near-dup candidates verified
    * at `maxHamming`). */
  def registerMediaViews(spark: SparkSession, mediaView: String,
      maxHamming: Int = 3, prefix: String = "graft_"): Unit = {
    val media = spark.table(mediaView)
    graft.operators.Multimodal.imageHashes(spark, media).toDF()
      .createOrReplaceTempView(s"${prefix}image_hashes")
    graft.operators.Multimodal.imagePhashPairs(spark, media, maxHamming)
      .createOrReplaceTempView(s"${prefix}image_phash_pairs")
  }

  /** Register `<prefix>pagerank` and `<prefix>pagerank_adaptive`
    * (fixpoint rounds + dangling redistribution, `rounds_used`
    * column) over `edgesView(src, dst)`: integer fixed-point damped
    * PageRank ([[graft.operators.Graphs]]), EAGER at registration
    * like the components views (the rank table is the round ladder's
    * fixed output, not a re-derivable view). */
  def registerGraphViews(spark: SparkSession, edgesView: String,
      iterations: Int = 3, prefix: String = "graft_"): Unit = {
    graft.operators.Graphs.pageRank(spark.table(edgesView), iterations)
      .localCheckpoint()
      .createOrReplaceTempView(s"${prefix}pagerank")
    // registration is EAGER: bound the adaptive ladder so a slow
    // spectrum cannot turn view setup into 40 checkpointed rounds
    val (ranks, used) = graft.operators.Graphs.pageRankAdaptive(
      spark.table(edgesView), maxIterations = 8, redistributeDangling = true)
    ranks.withColumn("rounds_used", org.apache.spark.sql.functions.lit(used))
      .localCheckpoint()
      .createOrReplaceTempView(s"${prefix}pagerank_adaptive")
  }
}
