package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

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
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("item_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("query_id", "item_id", "dot", "rnk")
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
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("item_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("query_id", "item_id", "dot", "rnk")
  }

  /** IVF (inverted-file) top-k — the other standard ANN scale path
    * next to LSH: items are assigned to their nearest coarse centroid
    * (exact integer L2² over quantized vectors, ties to the smaller
    * centroid id) forming inverted lists — ONE shuffle on the centroid
    * id; each query probes only its `nProbe` nearest lists. Centroids
    * here are deterministic seeds (the first `numCentroids` item
    * vectors) so the DuckDB oracle can reproduce the exact partition —
    * a production deployment would run k-means and persist the
    * centroid table; everything downstream is unchanged.
    *
    * At 10^12 items: assignment is a broadcast (centroids are small)
    * + map + one shuffle; probing scores ~nProbe/numCentroids of the
    * corpus per query instead of all of it. */
  def ivfTopK(queries: DataFrame, items: DataFrame, k: Int,
      numCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    val cent = seedCentroids(items, numCentroids)
    val lists = assignNearest(items, cent, "item_id", "qv") // inverted lists
    val probes = assignProbes(queries, cent, "query_id", "q_qv", nProbe)
    probeAndRank(probes, lists, k)
  }

  /** IVF with LEARNED centroids: seeded Lloyd k-means over the
    * quantized integer vectors, a FIXED number of iterations, fully
    * deterministic (floor-of-mean integer centroids, ties to the
    * smaller centroid id) so an external engine can replay the exact
    * iterations. Initial centroids are the deterministic seeds of
    * [[ivfTopK]]; each iteration reassigns all items (broadcast
    * centroids + min_by aggregation — map-side combine, no window)
    * and recomputes centroids as the element-wise floored mean of
    * their members. A cluster that loses all members drops out (same
    * semantics both engines). At 10^12 items each iteration is one
    * broadcast + map + partial-agg shuffle over (cid, dim) — the
    * centroid table stays tiny; persist it between iterations in a
    * real deployment instead of re-deriving the lineage. */
  def ivfTopKKmeans(queries: DataFrame, items: DataFrame, k: Int,
      numCentroids: Int = 8, nProbe: Int = 2, iterations: Int = 2): DataFrame = {
    val it = items.select(col("vec_id").as("item_id"), VF.quantize(col("embedding")).as("qv"))
    val cent = lloydCentroids(it, seedCentroids(items, numCentroids), iterations)
    val lists = assignNearestQ(it, cent, "item_id", "qv")
    val probes = assignProbes(queries, cent, "query_id", "q_qv", nProbe)
    probeAndRank(probes, lists, k)
  }

  /** `iterations` lazy coarse Lloyd rounds from `seed` over
    * `it(item_id, qv)`. A null vector is no member: the array sum skips
    * it, so the divisor counts only non-null vectors. */
  private[operators] def lloydCentroids(it: DataFrame, seed: DataFrame,
      iterations: Int): DataFrame =
    Rounds.iterate(seed, { cent =>
      val asg = assignNearestQ(it, cent, "item_id", "qv")
      // element-wise floored mean per centroid: the per-dim sums ride
      // ONE array-sum hash aggregate (native [[graft.functions
      // .ArrayLongSumAgg]], map-side combine) instead of a posexplode
      // + per-(cid, dim) aggregation + collect_list reassembly — one
      // exchange per training round instead of two. floor(sum/cnt)
      // stays double division then floor, bit-identical across engines
      // for BIGINT sums (both use IEEE double division), and the sums
      // array preserves dim order by construction.
      asg
        .groupBy("cid")
        .agg(VF.arraySumAgg(col("qv")).as("s"), count(col("qv")).as("cnt"))
        .select(col("cid"),
          transform(col("s"), x => floor(x / col("cnt")).cast("long")).as("cv"))
        .withColumn("cn", VF.normSqQ(col("cv")))
    }, iterations, identity, None)._1

  /** Deterministic seed centroids: the first `numCentroids` item
    * vectors (a production deployment would persist k-means output —
    * see [[ivfTopKKmeans]]). */
  private[operators] def seedCentroids(items: DataFrame, numCentroids: Int): DataFrame =
    items.where(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cid"), VF.quantize(col("embedding")).as("cv"))
      .withColumn("cn", VF.normSqQ(col("cv")))

  /** exact integer L2²: |v-c|² = |v|² - 2·v·c + |c|² (the |v|² term is
    * constant per vector, kept so distances are true L2² values). */
  private def d2Col(qvName: String): Column =
    col("vn") - lit(2L) * VF.dotQ(col(qvName), col("cv")) + col("cn")

  /** The centroid table folded to ONE broadcastable row — the shape
    * that makes nearest-centroid assignment a map-side expression.
    * `coalesce(1)` first: a single-partition child satisfies the
    * global aggregation's distribution, so the fold runs inside the
    * (tiny — centroid tables are metadata at any scale) scan stage
    * with NO exchange of its own; element order is irrelevant to the
    * downstream array_min. */
  private def centArr(cent: DataFrame): DataFrame =
    cent.coalesce(1)
      .agg(collect_list(struct(col("cid"), col("cv"), col("cn"))).as("cents"))

  /** Nearest-centroid assignment as a MAP-SIDE expression (round 9):
    * the centroid table is folded to one array row, broadcast, and
    * each vector computes `array_min` over per-centroid (d2, cid)
    * structs — exact integer L2², ties to the smaller centroid id by
    * struct ordering, identical to the retired min_by aggregation.
    * No exchange AT ALL: the previous form generated n×C candidate
    * rows and, although the partial min_by collapsed them map-side,
    * still shuffled one row per vector to finalize the aggregation —
    * a full corpus shuffle at 10^12 items for what is a pure per-row
    * function of (vector, centroid table). Assignment output now
    * stays in the scan's partitions. (History: the row_number-window
    * form before THAT sorted all n×C rows through unsplittable
    * per-vector partitions.) An EMPTY centroid table folds to an
    * empty array whose array_min is null: no vector has a nearest
    * centroid, so the assignment is empty (a map-side filter, no job). */
  private[operators] def assignNearestQ(v: DataFrame, cent: DataFrame,
      idName: String, qvName: String): DataFrame =
    v.withColumn("vn", VF.normSqQ(col(qvName)))
      .crossJoin(broadcast(centArr(cent)))
      .select(col(idName),
        array_min(transform(col("cents"), c =>
          struct((col("vn") - lit(2L) * VF.dotQ(col(qvName), c.getField("cv")) +
            c.getField("cn")).as("d2"),
            c.getField("cid").as("cid")))).getField("cid").as("cid"),
        col(qvName))
      .where(col("cid").isNotNull)

  private def assignNearest(df: DataFrame, cent: DataFrame,
      idName: String, qvName: String): DataFrame =
    assignNearestQ(
      df.select(col("vec_id").as(idName), VF.quantize(col("embedding")).as(qvName)),
      cent, idName, qvName)

  /** nProbe-nearest-centroid assignment for the QUERY side — window
    * top-n is fine here: the query set is small by contract (it is
    * broadcast into the probe join). Reads the FOLDED centroid table
    * and explodes it back per query row (round 9), so the one
    * [[centArr]] broadcast serves the item assignment AND the probe
    * ranking (broadcast-stage reuse) instead of shipping the raw
    * table a second time. */
  private def assignProbes(queries: DataFrame, cent: DataFrame,
      idName: String, qvName: String, nProbe: Int): DataFrame = {
    val v = queries.select(col("vec_id").as(idName), VF.quantize(col("embedding")).as(qvName))
      .withColumn("vn", VF.normSqQ(col(qvName)))
    val w = Window.partitionBy(idName).orderBy(col("d2"), col("cid"))
    v.crossJoin(broadcast(centArr(cent)))
      .select(col(idName), col(qvName), col("vn"), explode(col("cents")).as("c"))
      .select(col(idName), col(qvName), col("vn"),
        col("c.cid").as("cid"), col("c.cv").as("cv"), col("c.cn").as("cn"))
      .withColumn("d2", d2Col(qvName))
      .withColumn("crk", row_number().over(w))
      .where(col("crk") <= nProbe)
      .select(col(idName), col("cid"), col(qvName))
  }

  private def probeAndRank(probes: DataFrame, lists: DataFrame, k: Int): DataFrame = {
    val scored = broadcast(probes).join(lists, Seq("cid"))
      .where(col("query_id") =!= col("item_id"))
      .withColumn("dot", VF.dotQ(col("q_qv"), col("qv")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("item_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("query_id", "item_id", "dot", "rnk")
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
    *    integer L2², ties to the smaller code — ONE hash aggregation
    *    with map-side combine (never a window over the n·K candidate
    *    rows);
    *  - scoring: approx_dot(q, item) = Σ_m LUT_q[m][code_m(item)]
    *    where LUT_q[m][c] = q_sub(m)·codeword(m,c) — the LUT is
    *    (queries × numSub × codebookSize) rows, broadcast; items in
    *    probed lists join it by (query, subspace, code) and one hash
    *    aggregation sums the M partial dots. No full-width vector is
    *    touched at scan time.
    *
    * At 10^12 items the scan side carries only (item_id, cid, sub,
    * code); the probed fraction is nProbe/numCentroids; and the per-row
    * work is a broadcast-hash lookup + a long add. Ranking is by
    * (approx_dot desc, item_id) — deterministic, replayed exactly by
    * the DuckDB twin. */
  def ivfPqTopK(queries: DataFrame, items: DataFrame, k: Int,
      numCentroids: Int = 8, nProbe: Int = 2,
      numSub: Int = 4, codebookSize: Int = 16): DataFrame = {
    require(numSub >= 1, s"numSub must be >= 1, got $numSub")
    require(codebookSize >= 1, s"codebookSize must be >= 1, got $codebookSize")
    val it = items.select(col("vec_id").as("item_id"), VF.quantize(col("embedding")).as("qv"))
    pqScoreAndRank(queries, it, items, k, numCentroids, nProbe, numSub,
      seedCodebooks(it, numSub, codebookSize))
  }

  /** [[ivfPqTopK]] with LEARNED per-subspace codebooks: `iterations`
    * deterministic Lloyd rounds refine each subspace's codewords from
    * the seed subvectors (exact integer L2² assignment with ties to
    * the smaller code, element-wise floor-of-mean recompute — the
    * same replayable k-means recipe as the coarse [[ivfTopKKmeans]]),
    * so codewords adapt to the data distribution instead of echoing
    * whatever the first `codebookSize` items happened to be. A
    * codeword that loses every member drops out (both engines). The
    * trained codebook is materialized ONCE (it feeds both the encoder
    * and the ADC LUT — unmaterialized, the whole Lloyd lineage would
    * execute twice); training cost at 10^12 items is `iterations`
    * broadcast+partial-agg passes over (item, sub) — the same shape
    * as one encode pass. */
  def ivfPqTopKKmeans(queries: DataFrame, items: DataFrame, k: Int,
      numCentroids: Int = 8, nProbe: Int = 2,
      numSub: Int = 4, codebookSize: Int = 16, iterations: Int = 2): DataFrame = {
    require(numSub >= 1, s"numSub must be >= 1, got $numSub")
    require(codebookSize >= 1, s"codebookSize must be >= 1, got $codebookSize")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val it = items.select(col("vec_id").as("item_id"), VF.quantize(col("embedding")).as("qv"))
    val sub = it.select(col("item_id"), subVecs("qv", numSub))
      .withColumn("svn", VF.normSqQ(col("sv")))
    val (cb, _) = Rounds.iterate(seedCodebooks(it, numSub, codebookSize), { cb =>
      // MAP-SIDE nearest-codeword assignment (round 9 — the
      // [[assignNearestQ]] recipe): no per-(item, sub) aggregation
      // exchange per training round
      val asg = sub.join(broadcast(subCodebookArr(cb)), Seq("sub"))
        .select(col("sub"), codeArgmin("sv", "svn").as("code"), col("sv"))
      // per-(subspace, code) floored mean via ONE array-sum hash
      // aggregate — same recipe (and rationale) as the coarse
      // [[lloydCentroids]] round
      asg
        .groupBy("sub", "code")
        .agg(VF.arraySumAgg(col("sv")).as("s"), count(col("sv")).as("cnt"))
        .select(col("sub"), col("code"),
          transform(col("s"), x => floor(x / col("cnt")).cast("long")).as("scv"))
        .withColumn("scn", VF.normSqQ(col("scv")))
    }, iterations, identity, None)
    pqScoreAndRank(queries, it, items, k, numCentroids, nProbe, numSub,
      Rounds.defaultTruncate(cb))
  }

  /** Subspace splitter: subspace m covers dims [m·subDim, (m+1)·subDim);
    * subDim is derived from the vector width. The width-divisibility
    * contract is ENFORCED per row (a violating width would silently
    * drop the trailing dims from every codeword and score otherwise). */
  private def subVecs(qvName: String, numSub: Int): Column = {
    val width = size(col(qvName))
    val subDim = when(pmod(width, lit(numSub)) === 0, width / numSub)
      .otherwise(raise_error(concat(
        lit(s"PQ: vector width not divisible by numSub=$numSub, got "),
        width.cast("string"))))
      .cast("int")
    posexplode(array((0 until numSub).map(m =>
      slice(col(qvName), lit(m) * subDim + 1, subDim)): _*)).as(Seq("sub", "sv"))
  }

  /** Seed per-subspace codebooks: codewords = subvectors of the first
    * `codebookSize` item vectors. */
  private def seedCodebooks(it: DataFrame, numSub: Int, codebookSize: Int): DataFrame =
    it.where(col("item_id") < codebookSize)
      .select(col("item_id").cast("int").as("code"), subVecs("qv", numSub))
      .withColumnRenamed("sv", "scv")
      .withColumn("scn", VF.normSqQ(col("scv")))

  /** The (sub, code, scv, scn) codebook folded to one row PER
    * SUBSPACE — the broadcastable shape that makes encoding a
    * map-side expression. */
  private def subCodebookArr(cb: DataFrame): DataFrame =
    cb.coalesce(1) // exchange-free fold, as [[centArr]]
      .groupBy("sub")
      .agg(collect_list(struct(col("code"), col("scv"), col("scn"))).as("cbs"))

  /** Nearest-codeword argmin over a folded `cbs` array for a row
    * carrying subvector `svName` and its norm `svnName` — exact
    * integer L2², ties to the smaller code (struct ordering),
    * identical to the retired min_by aggregation. */
  private def codeArgmin(svName: String, svnName: String): Column =
    array_min(transform(col("cbs"), c =>
      struct((col(svnName) - lit(2L) * VF.dotQ(col(svName), c.getField("scv")) +
        c.getField("scn")).as("d2"),
        c.getField("code").as("code")))).getField("code")

  /** The shared IVF-ADC tail: coarse assignment, encode against `cb`,
    * broadcast ADC LUT (derived from the RAW query side, not from
    * `probes`, so the probe-ranking window subtree is instantiated
    * once), score, rank. */
  private def pqScoreAndRank(queries: DataFrame, it: DataFrame,
      items: DataFrame, k: Int, numCentroids: Int, nProbe: Int,
      numSub: Int, cb: DataFrame): DataFrame = {
    val cent = seedCentroids(items, numCentroids)
    val lists = assignNearestQ(it, cent, "item_id", "qv") // (item_id, cid, qv)

    // encode: nearest codeword per (item, subspace) as a MAP-SIDE
    // argmin expression over the per-subspace codeword array (round 9
    // — the [[assignNearestQ]] recipe): no K-row fan-out, no
    // per-(item, sub) aggregation exchange; encoding stays in the
    // scan's partitions
    val cbA = subCodebookArr(cb) // ONE folded broadcast serves encoder + LUT
    val enc = lists.select(col("item_id"), col("cid"), subVecs("qv", numSub))
      .withColumn("svn", VF.normSqQ(col("sv")))
      .join(broadcast(cbA), Seq("sub"))
      .select(col("item_id"), col("cid"), col("sub"),
        codeArgmin("sv", "svn").as("code"))

    val probes = assignProbes(queries, cent, "query_id", "q_qv", nProbe)
    // ADC lookup table: q_sub(m) · codeword(m, c) per query — reads
    // the same folded broadcast as the encoder (broadcast-stage
    // reuse) and explodes it back per tiny query-side row
    val lut = queries
      .select(col("vec_id").as("query_id"), VF.quantize(col("embedding")).as("q_qv"))
      .select(col("query_id"), subVecs("q_qv", numSub))
      .join(broadcast(cbA), Seq("sub"))
      .select(col("query_id"), col("sub"), col("sv"), explode(col("cbs")).as("c"))
      .select(col("query_id"), col("sub"), col("c.code").as("code"),
        VF.dotQ(col("sv"), col("c.scv")).as("pdot"))

    val scored = enc
      .join(broadcast(probes.select("query_id", "cid")), Seq("cid"))
      .where(col("query_id") =!= col("item_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "item_id")
      .agg(sum(col("pdot")).as("adot"))
    val w = Window.partitionBy("query_id").orderBy(col("adot").desc, col("item_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("query_id", "item_id", "adot", "rnk")
  }

  /** Two-stage retrieval: PQ SHORTLIST then EXACT re-rank — the
    * standard production composition (Jégou et al. 2011 §V evaluate
    * exactly this: ADC shortlist, exact distances on the survivors).
    * Stage 1 runs [[ivfPqTopK]] with a `shortlist`-deep k (cheap,
    * compressed codes); stage 2 fetches ONLY the shortlist rows' full
    * vectors and re-ranks by exact integer dot. At 10^12 items the
    * exact stage touches Q·shortlist rows, not the corpus: the
    * shortlist broadcasts into a hash join against the item table
    * (point lookups a real deployment serves from the primary-key
    * store). Output ranking is exact within the shortlist —
    * recall equals stage 1's recall@shortlist, which dominates its
    * recall@k. */
  def ivfPqTopKRerank(queries: DataFrame, items: DataFrame, k: Int,
      shortlist: Int, numCentroids: Int = 8, nProbe: Int = 2,
      numSub: Int = 4, codebookSize: Int = 16): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cands = ivfPqTopK(queries, items, shortlist,
      numCentroids, nProbe, numSub, codebookSize).select("query_id", "item_id")
    val q = queries.select(col("vec_id").as("query_id"),
      VF.quantize(col("embedding")).as("q_qv"))
    val it = items.select(col("vec_id").as("item_id"),
      VF.quantize(col("embedding")).as("qv"))
    val scored = broadcast(cands).join(it, Seq("item_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("dot", VF.dotQ(col("q_qv"), col("qv")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("item_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("query_id", "item_id", "dot", "rnk")
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
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("item_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("query_id", "item_id", "dot", "rnk")
  }
}
