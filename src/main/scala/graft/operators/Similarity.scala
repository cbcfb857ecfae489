package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{IvfFold, IvfScan, L2Table, VectorFunctions => VF}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, same ranking function (exact integer dot product over
  * milliunit-quantized vectors — see [[graft.functions.VectorFunctions]]):
  *
  *  - [[bruteForceTopK]]: every query × every item — the correctness
  *    baseline, O(Q·N), broadcast the (small) query side;
  *  - [[lshTopK]]: sign-LSH bucket join — each query only scores items
  *    in its bucket. At 10^12 items with B buckets the scored set
  *    shrinks ×B; recall is tuned by `lshBits` (fewer bits = bigger
  *    buckets = higher recall).
  *
  * Ranking is by integer dot (MIPS ordering), tie-broken by item id —
  * fully deterministic, so top-k sets are stable across engines/runs.
  */
object Similarity {

  private def prep(emb: DataFrame, idCol: String) =
    emb.select(col(idCol), VF.quantize(col("embedding")).as("qv"))

  /** Each query's top `k` rows of `scored` by `score` desc, ties to the
    * smaller item id: (query_id, item_id, `score`, rnk). */
  private def topK(scored: DataFrame, score: String, k: Int): DataFrame =
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col(score).desc, col("item_id"))))
      .where(col("rnk") <= k)
      .select("query_id", "item_id", score, "rnk")

  /** Exact top-k by dot product for each query vector. `queries` and
    * `items` both have (vec_id, embedding). Output:
    * (query_id, item_id, dot, rank). Self-matches excluded. */
  def bruteForceTopK(queries: DataFrame, items: DataFrame, k: Int): DataFrame = {
    val q = prep(queries, "vec_id").withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("qv", "q_qv")
    val it = prep(items, "vec_id").withColumnRenamed("vec_id", "item_id")
    val scored = broadcast(q).crossJoin(it)
      .where(col("query_id") =!= col("item_id"))
      .withColumn("dot", VF.dotQ(col("q_qv"), col("qv")))
    topK(scored, "dot", k)
  }

  /** LSH-bucketed top-k: queries only score items in their sign-LSH
    * bucket. Approximate (bucket-local recall); the 10^12-scale path.
    * Size `lshBits` with [[VF.lshBitsFor]] so buckets stay ~constant as
    * the corpus grows; use [[lshTopKMulti]] when single-table recall is
    * not enough (a neighbor differing in sign on ONE bucketed dim is
    * invisible to a single table). */
  def lshTopK(queries: DataFrame, items: DataFrame, k: Int, lshBits: Int = 4): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      VF.signBucket(col("embedding"), lshBits).as("bucket"),
      VF.quantize(col("embedding")).as("q_qv"))
    val it = items.select(col("vec_id").as("item_id"),
      VF.signBucket(col("embedding"), lshBits).as("bucket"),
      VF.quantize(col("embedding")).as("qv"))
    val scored = broadcast(q).join(it, Seq("bucket"))
      .where(col("query_id") =!= col("item_id"))
      .withColumn("dot", VF.dotQ(col("q_qv"), col("qv")))
    topK(scored, "dot", k)
  }

  /** IVF (inverted-file) top-k — the other standard ANN scale path
    * next to LSH: items are assigned to their nearest coarse centroid
    * (exact integer L2² over quantized vectors, ties to the smaller
    * centroid id) forming inverted lists; each query probes only its
    * `nProbe` nearest lists. Centroids here are deterministic seeds (the
    * first `numCentroids` item vectors) so the DuckDB oracle can
    * reproduce the exact partition — a production deployment would run
    * k-means and persist the centroid table; everything downstream is
    * unchanged.
    *
    * The index's small side (centroids, codebooks and query vectors —
    * metadata at any scale) is read to the driver in one job when the
    * operator is called, and folded there into each centroid's probing
    * queries and each query's ADC table ([[graft.functions.IvfFold]]).
    * One broadcast of the fold serves ONE map-side item pass
    * ([[graft.functions.IvfScan]]) that assigns each item's list, encodes
    * it and emits a scored row only for the queries probing that list;
    * the per-query top-k window is the only exchange. At 10^12 items the
    * pass scores ~nProbe/numCentroids of the corpus per query.
    *
    * Degenerate input: an empty query set or centroid table yields no
    * rows, and a row with a null vector is as if it were absent (no
    * centroid, codeword, list member or query). A query id given to two
    * query rows fails when the operator is called, naming the id: the
    * per-query window would merge their top-k. The same holds for every
    * IVF and IVF-PQ operator below. */
  def ivfTopK(queries: DataFrame, items: DataFrame, k: Int,
      numCentroids: Int = 8, nProbe: Int = 2): DataFrame =
    coarseTopK(queries, items, seedCentroids(items, numCentroids), k, nProbe)

  /** IVF with LEARNED centroids: seeded Lloyd k-means over the
    * quantized integer vectors, a FIXED number of iterations, fully
    * deterministic (floor-of-mean integer centroids, ties to the
    * smaller centroid id) so an external engine can replay the exact
    * iterations. Initial centroids are the deterministic seeds of
    * [[ivfTopK]]; each iteration reassigns all items map-side against
    * the previous centroids, read to the driver, and recomputes
    * centroids as the element-wise floored mean of their members. A
    * cluster that loses all members drops out (same semantics both
    * engines). At 10^12 items each iteration is one map + partial-agg
    * shuffle over the centroid id — the centroid table stays tiny. */
  def ivfTopKKmeans(queries: DataFrame, items: DataFrame, k: Int,
      numCentroids: Int = 8, nProbe: Int = 2, iterations: Int = 2): DataFrame = {
    val it = items.select(col("vec_id").as("item_id"), VF.quantize(col("embedding")).as("qv"))
    coarseTopK(queries, items, lloydCentroids(it, seedCentroids(items, numCentroids), iterations),
      k, nProbe)
  }

  private def coarseTopK(queries: DataFrame, items: DataFrame, cent: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val small = collectSmall(asQueries(queries), centroidRows(cent))
    scanAndRank(items, new IvfFold(queryTable(small), L2Table(small(Cent)), nProbe, Nil,
      exact = true), k)
  }

  /** `iterations` lazy coarse Lloyd rounds from `seed` over
    * `it(item_id, qv)`. A null vector is no member. */
  private[operators] def lloydCentroids(it: DataFrame, seed: DataFrame,
      iterations: Int): DataFrame =
    Rounds.iterate(seed, cent => floorMeans(assignNearestQ(it, cent, "item_id", "qv"),
      Seq("cid"), "qv", "cv"), iterations, identity, None)._1

  /** One Lloyd recompute: each group's element-wise floored mean, the
    * per-dim sums riding ONE array-sum hash aggregate (native
    * [[graft.functions.ArrayLongSumAgg]], map-side combine; a null
    * vector is skipped, so the divisor counts only non-null vectors).
    * floor(sum/cnt) stays double division then floor, bit-identical
    * across engines for BIGINT sums (both use IEEE double division),
    * and the sums array preserves dim order by construction. */
  private def floorMeans(asg: DataFrame, keys: Seq[String], v: String, out: String): DataFrame =
    asg.groupBy(keys.map(col): _*)
      .agg(VF.arraySumAgg(col(v)).as("s"), count(col(v)).as("cnt"))
      .select(keys.map(col) :+
        transform(col("s"), x => floor(x / col("cnt")).cast("long")).as(out): _*)

  /** Deterministic seed centroids (cid, cv): the first `numCentroids`
    * item vectors (a production deployment would persist k-means
    * output — see [[ivfTopKKmeans]]). */
  private[operators] def seedCentroids(items: DataFrame, numCentroids: Int): DataFrame =
    items.where(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cid"), VF.quantize(col("embedding")).as("cv"))

  /** Nearest-centroid assignment as a MAP-SIDE expression: the centroid
    * table `cent(cid, cv)` is read to the driver and each vector takes
    * its nearest centroid ([[graft.functions.L2Table]]: exact integer
    * L2², ties to the smaller centroid id) — no exchange, assignment
    * stays in the scan's partitions. An EMPTY centroid table, or a null
    * vector, assigns nothing. */
  private[operators] def assignNearestQ(v: DataFrame, cent: DataFrame,
      idName: String, qvName: String): DataFrame = {
    val t = L2Table(collectSmall(centroidRows(cent))(Cent))
    v.select(col(idName), VF.nearest(col(qvName), lit(0), Seq(t)).as("cid"), col(qvName))
      .where(col("cid").isNotNull)
  }

  // the parts of the index's small side: query vectors, centroids
  // (seed or trained); a part m >= 0 is a codeword of PQ subspace m
  private final val Query = -1
  private final val Cent = -2

  private def asQueries(queries: DataFrame): DataFrame =
    queries.select(lit(Query), col("vec_id").cast("long"), VF.quantize(col("embedding")))

  /** A centroid table `(cid, cv)` as `(part, id, vector)` rows. */
  private def centroidRows(cent: DataFrame): DataFrame =
    cent.select(lit(Cent), col("cid").cast("long"), col("cv"))

  /** `(part, id, vector)` frames read to the driver in ONE job, grouped
    * by part; a row with a null id or vector is dropped. */
  private def collectSmall(parts: DataFrame*): Map[Int, Seq[(Long, Array[Long])]] =
    parts.reduce(_ union _).collect().toSeq
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .groupBy(_.getInt(0))
      .map { case (p, rs) => p -> rs.map(r => r.getLong(1) -> r.getSeq[Long](2).toArray) }
      .withDefaultValue(Nil)

  /** The query vectors of `small`; an id given twice fails, naming it. */
  private def queryTable(small: Map[Int, Seq[(Long, Array[Long])]]): L2Table = {
    val ids = small(Query).map(_._1)
    val dups = ids.diff(ids.distinct).distinct.sorted
    require(dups.isEmpty, s"duplicate query id ${dups.mkString(", ")}: each query row needs its own id")
    L2Table(small(Query))
  }

  /** Scores every item against `fold` in one map-side pass and keeps
    * each query's top `k`: by `adot` when the fold has codebooks, else
    * by the exact `dot`; a `shortlist` re-ranks the top `shortlist` by
    * `adot` on `dot`. */
  private def scanAndRank(items: DataFrame, fold: IvfFold, k: Int, shortlist: Int = 0): DataFrame = {
    val it = items.select(col("vec_id").cast("long"), VF.quantize(col("embedding")))
    val scored = it.select(IvfScan.of(it, fold))
    if (!fold.adc) topK(scored, "dot", k)
    else if (shortlist == 0) topK(scored, "adot", k)
    else topK(scored.withColumn("srk", row_number().over(Window.partitionBy("query_id")
      .orderBy(col("adot").desc, col("item_id")))).where(col("srk") <= shortlist), "dot", k)
  }

  /** IVF-ADC product-quantization top-k (Jégou, Douze, Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011) —
    * the memory-compressed 10^12-scale ANN path: after the coarse IVF
    * partition, each item is stored as `numSub` small codebook CODES
    * (here 4 codes of 4 bits each vs 64×8-byte quantized coordinates —
    * a ~100× shrink), and queries score items via an
    * asymmetric-distance lookup table (ADC) instead of a full dot
    * product. Everything is exact integer arithmetic so an external
    * engine can replay it:
    *
    *  - coarse stage: identical to [[ivfTopK]] (deterministic seed
    *    centroids, exact integer L2² assignment, `nProbe` probing);
    *  - codebooks: subspace `m` covers dims `[m·subDim, (m+1)·subDim)`;
    *    its `codebookSize` codewords are the subvectors of the first
    *    `codebookSize` item vectors (deterministic seeds — a production
    *    deployment would persist per-subspace k-means output, exactly
    *    like the coarse stage of [[ivfTopKKmeans]]);
    *  - encoding: nearest codeword per (item, subspace) by exact
    *    integer L2², ties to the smaller code;
    *  - scoring: approx_dot(q, item) = Σ_m LUT_q[m][code_m(item)]
    *    where LUT_q[m][c] = q_sub(m)·codeword(m,c).
    *
    * Seeds, codebooks and queries are read in one job and the LUTs are
    * built on the driver; the item pass (see [[ivfTopK]]) encodes each
    * probed item and sums its M table entries per probing query. A
    * vector width not divisible by `numSub` fails, naming the width.
    * Ranking is by (approx_dot desc, item_id) — deterministic, replayed
    * exactly by the DuckDB twin. */
  def ivfPqTopK(queries: DataFrame, items: DataFrame, k: Int,
      numCentroids: Int = 8, nProbe: Int = 2,
      numSub: Int = 4, codebookSize: Int = 16): DataFrame =
    pqTopK(queries, items, k, numCentroids, nProbe, numSub, codebookSize, 0, 0)

  /** [[ivfPqTopK]] with LEARNED per-subspace codebooks: `iterations`
    * deterministic Lloyd rounds refine each subspace's codewords from
    * the seed subvectors (exact integer L2² assignment with ties to
    * the smaller code, element-wise floor-of-mean recompute — the
    * same replayable k-means recipe as the coarse [[ivfTopKKmeans]]),
    * so codewords adapt to the data distribution instead of echoing
    * whatever the first `codebookSize` items happened to be. A
    * codeword that loses every member drops out (both engines). The
    * trained codebook is read to the driver ONCE, with the coarse seeds
    * and the queries, so the scoring plan holds no training lineage;
    * training cost at 10^12 items is `iterations` map + partial-agg
    * passes over (item, sub). */
  def ivfPqTopKKmeans(queries: DataFrame, items: DataFrame, k: Int,
      numCentroids: Int = 8, nProbe: Int = 2,
      numSub: Int = 4, codebookSize: Int = 16, iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    pqTopK(queries, items, k, numCentroids, nProbe, numSub, codebookSize, iterations, 0)
  }

  /** The IVF-PQ family's one body: `iterations` Lloyd rounds refine the
    * seed codebooks (none: the seeds themselves); the codebook, the
    * coarse seeds and the queries are read in one job; the item pass
    * scores, and a `shortlist` re-ranks by exact dot. */
  private def pqTopK(queries: DataFrame, items: DataFrame, k: Int, numCentroids: Int,
      nProbe: Int, numSub: Int, codebookSize: Int, iterations: Int, shortlist: Int): DataFrame = {
    require(numSub >= 1, s"numSub must be >= 1, got $numSub")
    require(codebookSize >= 1, s"codebookSize must be >= 1, got $codebookSize")
    val it = items.select(col("vec_id").as("item_id"), VF.quantize(col("embedding")).as("qv"))
    val subs = it.select(subVecs("qv", numSub))
    def parts(cb: DataFrame) = cb.select(col("sub"), col("code").cast("long"), col("scv"))
    val (cb, _) = Rounds.iterate(seedCodebooks(it, numSub, codebookSize), { cb =>
      val books = collectSmall(parts(cb))
      val asg = subs.select(col("sub"),
        VF.nearest(col("sv"), col("sub"), (0 until numSub).map(m => L2Table(books(m))))
          .cast("int").as("code"), col("sv"))
      floorMeans(asg.where(col("code").isNotNull), Seq("sub", "code"), "sv", "scv")
    }, iterations, identity, None)
    val small = collectSmall(asQueries(queries), centroidRows(seedCentroids(items, numCentroids)),
      parts(cb))
    scanAndRank(items, new IvfFold(queryTable(small), L2Table(small(Cent)), nProbe,
      (0 until numSub).map(m => L2Table(small(m))), exact = shortlist > 0), k, shortlist)
  }

  /** Subspace splitter: subspace m covers dims [m·subDim, (m+1)·subDim);
    * subDim is derived from the vector width. The width-divisibility
    * contract is ENFORCED per row (a violating width would silently
    * drop the trailing dims from every codeword and score otherwise). */
  private def subVecs(qvName: String, numSub: Int): Column = {
    val subDim = VF.pqSubDim(size(col(qvName)), numSub)
    posexplode(array((0 until numSub).map(m =>
      slice(col(qvName), lit(m) * subDim + 1, subDim)): _*)).as(Seq("sub", "sv"))
  }

  /** Seed per-subspace codebooks (code, sub, scv): codewords =
    * subvectors of the first `codebookSize` item vectors. */
  private def seedCodebooks(it: DataFrame, numSub: Int, codebookSize: Int): DataFrame =
    it.where(col("item_id") < codebookSize)
      .select(col("item_id").cast("int").as("code"), subVecs("qv", numSub))
      .withColumnRenamed("sv", "scv")

  /** Two-stage retrieval: PQ SHORTLIST then EXACT re-rank — the
    * standard production composition (Jégou et al. 2011 §V evaluate
    * exactly this: ADC shortlist, exact distances on the survivors).
    * Stage 1 ranks by [[ivfPqTopK]]'s ADC score with a `shortlist`-deep
    * k; stage 2 re-ranks the shortlist by exact integer dot. The item
    * pass holds each probed item's full vector while it encodes it, so
    * the exact dot rides the same scored row and both rankings share
    * the one per-query window exchange (a deployment that stores codes
    * only would fetch the shortlist rows from the primary-key store).
    * The price is one full-width dot per probed (query, item) pair, not
    * per shortlist row; next to encoding the item it is small while few
    * queries probe each list.
    * Output ranking is exact within the shortlist — recall equals
    * stage 1's recall@shortlist, which dominates its recall@k. */
  def ivfPqTopKRerank(queries: DataFrame, items: DataFrame, k: Int,
      shortlist: Int, numCentroids: Int = 8, nProbe: Int = 2,
      numSub: Int = 4, codebookSize: Int = 16): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    pqTopK(queries, items, k, numCentroids, nProbe, numSub, codebookSize, 0, shortlist)
  }


  /** Multi-table LSH top-k: `tables` independent sign-LSH bucket
    * tables (table t hashes dims [t·lshBits, (t+1)·lshBits)); a
    * candidate is any item sharing a bucket with the query in ANY
    * table, scored once. Recall recovery: a true neighbor straddling a
    * hyperplane of one table (one sign flipped among its dims) still
    * collides in the other tables — single-table LSH misses it
    * deterministically. Cost: ~tables× the candidate volume of one
    * table — still per-bucket, never all-pairs. */
  def lshTopKMulti(queries: DataFrame, items: DataFrame, k: Int,
      lshBits: Int = 4, tables: Int = 2): DataFrame = {
    def withBuckets(df: DataFrame, idName: String) =
      df.select(col("vec_id").as(idName),
        VF.quantize(col("embedding")).as(s"${idName}_qv"),
        posexplode(array((0 until tables).map(t =>
          VF.signBucket(col("embedding"), lshBits, offset = t * lshBits)): _*))
          .as(Seq("tbl", "bucket")))
    val q = withBuckets(queries, "query_id")
    val it = withBuckets(items, "item_id")
    // a pair colliding in several tables must score once: dedup on ids
    // (dup rows are identical, so the kept row is deterministic)
    val cands = broadcast(q).join(it, Seq("tbl", "bucket"))
      .where(col("query_id") =!= col("item_id"))
      .select(col("query_id"), col("item_id"),
        col("query_id_qv").as("q_qv"), col("item_id_qv").as("qv"))
      .dropDuplicates("query_id", "item_id")
    val scored = cands.withColumn("dot", VF.dotQ(col("q_qv"), col("qv")))
    topK(scored, "dot", k)
  }
}
