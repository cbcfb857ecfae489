package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.io.Parquet
import graft.spark.Sessions

/** Retrieval-QUALITY probe for the approximate operators — the
  * complement of the driver's exactness oracle. Every approximate
  * operator (sign-LSH top-k, IVF, minhash star pairs) is hash-exact
  * against a DuckDB replay of the same algorithm, so a bad knob sizing
  * (`lshBitsFor`, band count, nProbe) that silently tanks RECALL stays
  * green there; this probe measures recall against exact ground truth
  * and reports it, so a sizing regression is a visible number, not an
  * invisible quality cliff.
  *
  *  - ANN recall@k: fraction of [[Similarity.bruteForceTopK]]'s exact
  *    top-k that each approximate searcher returns, averaged over
  *    queries (the standard recall@k of the ANN literature, e.g.
  *    Johnson/Douze/Jégou, "Billion-scale similarity search").
  *  - Star-pair cluster recall: fraction of EXACT n-gram-Jaccard
  *    near-dup pairs (≥ threshold, uncapped all-pairs ground truth)
  *    whose two docs land in the same [[Dedup.componentsStar]]
  *    component of the minhash star-pair graph — the end-to-end
  *    "does the sketch pipeline find the real duplicates" number.
  *    Expected value is governed by the banding S-curve
  *    1-(1-s^r)^b (MMDS ch.3): ≈0.98 per pair at s=0.8 with the
  *    default r=2,b=4, higher still cluster-wise via transitivity.
  *
  * `runMain graft.tools.RecallProbe` (env SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS); prints one JSON line.
  */
object RecallProbe {

  /** recall@k of `approx` vs exact `truth`, both (query_id, item_id,
    * dot, rnk) with ≤ k rows per query: |approx ∩ truth| / |truth|.
    * Ties in `dot` are broken identically (item_id asc) on both sides,
    * so 1.0 is reachable and brute-vs-brute IS 1.0. */
  def recallAtK(truth: DataFrame, approx: DataFrame): Double = {
    val t = truth.select(col("query_id"), col("item_id"))
    val a = approx.select(col("query_id"), col("item_id"))
    val hit = t.join(a, Seq("query_id", "item_id"), "left_semi").count()
    val total = t.count()
    if (total == 0) 1.0 else hit.toDouble / total
  }

  /** Fraction of ground-truth pairs whose endpoints share a predicted
    * component. `truthPairs`: (a_id, b_id); `labels`: (doc_id,
    * component). A truth endpoint ABSENT from `labels` (sketch never
    * paired it) counts as a miss — absence is exactly the recall
    * failure being measured. */
  def pairClusterRecall(truthPairs: DataFrame, labels: DataFrame): Double = {
    val la = labels.select(col("doc_id").as("a_id"), col("component").as("ca"))
    val lb = labels.select(col("doc_id").as("b_id"), col("component").as("cb"))
    val joined = truthPairs.select("a_id", "b_id")
      .join(la, Seq("a_id"), "left").join(lb, Seq("b_id"), "left")
    val total = joined.count()
    val hit = joined.where(col("ca").isNotNull && col("ca") === col("cb")).count()
    if (total == 0) 1.0 else hit.toDouble / total
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus, "graft-recallprobe")

    val emb = Parquet.read(spark, s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 64)
    val nQueries = queries.count()
    val k = 10
    val truth = Similarity.bruteForceTopK(queries, emb, k).localCheckpoint()

    // the committed queries' default knobs — the thing being watched
    val ann: Seq[(String, DataFrame)] = Seq(
      "brute_self" -> Similarity.bruteForceTopK(queries, emb, k),
      "lsh" -> Similarity.lshTopK(queries, emb, k, lshBits = 4),
      "lsh_multi" -> Similarity.lshTopKMulti(queries, emb, k, lshBits = 4, tables = 2),
      "ivf" -> Similarity.ivfTopK(queries, emb, k, numCentroids = 8, nProbe = 2),
      "ivf_kmeans" -> Similarity.ivfTopKKmeans(queries, emb, k,
        numCentroids = 8, nProbe = 2, iterations = 2),
      "ivf_pq" -> Similarity.ivfPqTopK(queries, emb, k,
        numCentroids = 8, nProbe = 2, numSub = 4, codebookSize = 16),
      "ivf_pq_rerank" -> Similarity.ivfPqTopKRerank(queries, emb, k,
        shortlist = 4 * k, numCentroids = 8, nProbe = 2,
        numSub = 4, codebookSize = 16),
      "ivf_pq_kmeans" -> Similarity.ivfPqTopKKmeans(queries, emb, k,
        numCentroids = 8, nProbe = 2, numSub = 4, codebookSize = 16,
        iterations = 2))
    val annRecall = ann.map { case (n, df) => n -> recallAtK(truth, df) }

    val docs = Parquet.read(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // exact ground truth: uncapped all-pairs Jaccard at 0.8 — viable
    // at probe scale precisely because this corpus fits; the sketch
    // path is what ships
    val truthPairs = Dedup.ngramJaccardPairs(docs, minPermille = 800)
      .localCheckpoint()
    val starLabels = Dedup.componentsStar(Dedup.minhashLshStarPairs(docs))
    val starRecall = pairClusterRecall(truthPairs, starLabels)
    // and the non-star pair generator, same banding: direct pair
    // recall (materialize ONCE — the LSH pipeline is the probe's
    // dominant cost, symmetrize from the materialized pairs)
    val lshOnce = Dedup.minhashLshPairs(docs)
      .select(col("a_id"), col("b_id")).localCheckpoint()
    val lshPairs = lshOnce
      .unionAll(lshOnce.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val pairHit = truthPairs.select("a_id", "b_id")
      .join(lshPairs, Seq("a_id", "b_id"), "left_semi").count()
    val pairTotal = truthPairs.count()
    val lshPairRecall = if (pairTotal == 0) 1.0 else pairHit.toDouble / pairTotal

    // simhash star family, same exact-Jaccard ground truth
    val simhashLabels = Dedup.componentsStar(Dedup.simhashStarPairs(docs))
    val simhashStarRecall = pairClusterRecall(truthPairs, simhashLabels)

    // embedding near-dup family: exact quantized-cosine ground truth
    // (all-pairs — probe-scale only), flat pair recall + star cluster
    // recall at the committed knobs
    import graft.functions.{VectorFunctions => VF}
    val q = emb.select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      .withColumn("nsq", VF.normSqQ(col("qv"))).localCheckpoint()
    val embTruth = q.as("l").join(q.as("r"), col("l.vec_id") < col("r.vec_id"))
      .withColumn("dot", VF.dotQ(col("l.qv"), col("r.qv")))
      .where(VF.cosineGePct(col("dot"), col("l.nsq"), col("r.nsq"), 80))
      .select(col("l.vec_id").as("a_id"), col("r.vec_id").as("b_id"))
      .localCheckpoint()
    val embTruthN = embTruth.count()
    val flatOnce = Dedup.embeddingNearDupPairs(emb, tPct = 80, lshBits = 4)
      .select(col("a_id"), col("b_id")).localCheckpoint()
    val flatSym = flatOnce
      .unionAll(flatOnce.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val embFlatRecall =
      if (embTruthN == 0) 1.0
      else embTruth.join(flatSym, Seq("a_id", "b_id"), "left_semi").count()
        .toDouble / embTruthN
    val embStarLabels = Dedup.components(
      Dedup.embeddingNearDupStarPairs(emb, tPct = 80, lshBits = 10)
        .select(col("a_id"), col("b_id")),
      iterations = 3)
    val embStarRecall = pairClusterRecall(embTruth, embStarLabels)

    val annJson = annRecall.map { case (n, r) => s""""$n":${f"$r%.4f"}""" }.mkString(",")
    println(s"""{"metric":"recall","sf_dir":"$sfDir","k":$k,"n_queries":$nQueries,""" +
      s""""ann_recall_at_k":{$annJson},""" +
      s""""jaccard_truth_pairs":$pairTotal,""" +
      s""""minhash_lsh_pair_recall":${f"$lshPairRecall%.4f"},""" +
      s""""minhash_star_cluster_recall":${f"$starRecall%.4f"},""" +
      s""""simhash_star_cluster_recall":${f"$simhashStarRecall%.4f"},""" +
      s""""embedding_truth_pairs":$embTruthN,""" +
      s""""embedding_pair_recall":${f"$embFlatRecall%.4f"},""" +
      s""""embedding_star_cluster_recall":${f"$embStarRecall%.4f"}}""")
    spark.stop()
  }
}
