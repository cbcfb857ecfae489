package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, IntegerType, LongType, ShortType}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Deduplication operators for web-scale training corpora, over a
  * `documents(doc_id, text, ...)` table. Each returns a DataFrame with
  * deterministic output (stable ordering keys, integer/string-exact
  * values) so the driver's DuckDB oracle can hash-compare it.
  *
  * Algorithms are the published standards, re-expressed relationally:
  * MinHash resemblance sketches (Broder, SEQUENCES 1997) with LSH
  * banding (Leskovec/Rajaraman/Ullman, MMDS ch.3), SimHash with the
  * block-permutation index (Charikar, STOC 2002; Manku et al., WWW
  * 2007), sign-random-projection LSH for cosine (Charikar 2002).
  *
  * Scale notes (the 100 TB plan, not just the sf0.01 test):
  *  - exact dedup is one hash-aggregate — a single shuffle on the
  *    fingerprint, map-side partial aggregation applies;
  *  - MinHash/LSH never materializes all pairs: docs are shuffled once
  *    on (band, signature) and only same-bucket candidates pair up —
  *    the standard way all-pairs similarity survives 10^12 rows;
  *  - n-gram Jaccard/containment key shingles by their 16-byte md5
  *    digests, build member lists per shingle with a map-side combine
  *    and one sorted merge ([[ShingleMembers]]), then count each
  *    document's partners in one sorted pass grouped by document — no
  *    (a, b) pair row is shuffled or hashed, the pass yields |A| itself
  *    and only |B| rides a join onto the per-document sizes; a hot
  *    shingle still costs df²/2 partner longs, so run the df cap (or
  *    watch the max_df observation) at scale;
  *  - embedding near-dup buckets by sign-LSH before pairing.
  */
object Dedup {

  /** Exact dedup by content fingerprint. One row per duplicate group
    * with the kept (minimum) doc_id and group size. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))

  /** Candidate near-duplicate pairs by MinHash + LSH banding.
    *
    * `numHashes` minhash values per doc (hash k = min over shingles of
    * md5(k:shingle) — md5-string min is engine-portable), grouped into
    * `bands` bands of numHashes/bands rows; docs agreeing on ALL rows
    * of any band become a candidate pair. Output: (a_id, b_id) with
    * a_id < b_id, distinct. */
  def minhashLshPairs(docs: DataFrame, shingleN: Int = 3,
      numHashes: Int = 8, bands: Int = 4): DataFrame = {
    val banded = bandedSignatures(docs, shingleN, numHashes, bands)
    // bucket members via ONE pass (groupBy + sorted collect_list, then
    // pairs unfolded from the member array) — a self-join on (band,sig)
    // computes the dominant shingle/minhash aggregation once PER SIDE
    // (broadcast and shuffle exchanges never reuse each other). A
    // mega-bucket collects into one row here, but all-pairs output is
    // quadratic in bucket size regardless — the linear-output
    // [[minhashLshStarPairs]] is the 10^12 path either way.
    val members = banded.groupBy("band", "sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ms"))
      .where(size(col("ms")) >= 2)
    members
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .distinct()
  }

  /** (doc_id, band, sig) rows shared by the LSH variants: `numHashes`
    * minhash values (hash k = min over shingles of md5(k:shingle) —
    * md5-string min is engine-portable) in `bands` bands.
    *
    * The signature is computed MAP-SIDE by the native
    * [[graft.functions.MinHashSigs]] expression — a per-row pure
    * function needs no explode and no aggregation shuffle; the first
    * exchange in any LSH plan is the bucket shuffle itself. (History:
    * the union-of-per-band-selects form re-executed a shingle explode
    * + minhash hash-agg once per band; the posexplode-over-one-agg
    * form fixed the recompute but still paid the explode + agg
    * exchange.) */
  private def bandedSignatures(docs: DataFrame, shingleN: Int,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val mh = {
      import org.apache.spark.sql.GraftColumnBridge._
      toColumn(graft.functions.MinHashSigs(toExpression(col("text")), shingleN, numHashes))
    }
    // docs shorter than one shingle produce a null signature (no rows
    // in the exploded formulation either); filter on the EQUIVALENT
    // cheap token-count predicate (null ⟺ fewer than shingleN tokens
    // by construction; GramTokenCount is the signature's own tokenizer,
    // without split's per-token strings) — a filter on mh.isNotNull gets pushed below
    // the projection and evaluates the interpreted minhash expression
    // TWICE per row (CodegenFallback has no subexpression elimination)
    // the explicit isNotNull matches the constraint the star variant's
    // doc_id =!= canon post-join filter infers onto the MEMBER side
    // only: with it stated on both consumers the two exchange subtrees
    // canonicalize equal and ReuseExchange serves them from one
    // shuffle (doc_id is never null in any corpus; min/groupBy would
    // drop nulls anyway, so results are unchanged)
    val tokens = {
      import org.apache.spark.sql.GraftColumnBridge._
      toColumn(graft.functions.GramTokenCount(toExpression(col("text"))))
    }
    val sigs = docs.where(col("doc_id").isNotNull && tokens >= shingleN)
      .select(col("doc_id"), mh.as("mh"))
    // band signature = md5 of its concatenated minhash values
    val bandSig = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => element_at(col("mh"), k + 1))
      md5(concat_ws("|", cols: _*))
    }
    sigs.select(col("doc_id"), posexplode(array(bandSig: _*)).as(Seq("band", "sig")))
  }

  /** Linear-output variant of [[minhashLshPairs]]: each doc pairs with
    * its bucket's CANONICAL (minimum) doc_id instead of every other
    * member. All-pairs output is quadratic in duplicate-cluster size —
    * a 10k-member cluster emits 5·10^7 pairs per band — while the star
    * form stays linear and still connects every cluster for the
    * downstream union-find/keep-min pass. This is the 10^12-doc path;
    * [[minhashLshPairs]] remains for pairwise-similarity consumers. */
  def minhashLshStarPairs(docs: DataFrame, shingleN: Int = 3,
      numHashes: Int = 8, bands: Int = 4): DataFrame = {
    // ONE explicit exchange on the bucket key, shared by both
    // consumers: the canon aggregation's clustering requirement and
    // the member-side join requirement are both satisfied by this
    // partitioning, so ReuseExchange serves the agg AND the join probe
    // from a single shuffle of the banded rows — the signature
    // expression (the dominant per-row cost: 8 md5 chains per shingle)
    // and the corpus scan now run ONCE instead of once per side
    // (round-8 shape; measured 1.95 → 1.2 s executor CPU at sf0.1).
    val banded = bandedSignatures(docs, shingleN, numHashes, bands)
      .repartition(col("band"), col("sig"))
    // bucket canonical member via min aggregation + join back — the
    // same shape as the simhash/embedding star siblings. A mega-bucket
    // concentrates its member rows in one partition, but that was
    // always true of the JOIN side (members must co-locate with their
    // canon); the agg and join over it both stay hash-based and
    // spillable. (History: min("doc_id").over(Window.partitionBy(band,
    // sig)) evaluated the signature subtree once but serialized a
    // mega-bucket into ONE unsplittable window task — the same
    // scale-killer class as the round-2 jaccard window-df.)
    val canon = banded.groupBy("band", "sig").agg(min("doc_id").as("canon"))
    banded.join(canon, Seq("band", "sig"))
      .where(col("doc_id") =!= col("canon"))
      .select(col("canon").as("a_id"), col("doc_id").as("b_id"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for every doc pair sharing at
    * least one shingle, in permille: floor(1000·|A∩B|/|A∪B|). Pairs
    * below `minPermille` are dropped. Integer-exact.
    *
    * When `maxDf` is finite this is the DF-CAPPED variant — the
    * standard hot-shingle defense: shingles whose document frequency
    * exceeds `maxDf` are dropped from the computation entirely (both
    * intersection AND set sizes, so the Jaccard is exact over the
    * surviving shingle sets). Without a cap, one shingle shared by d
    * docs carries d²/2 partner longs into the pair stage — a single
    * common 3-gram in 10^6 docs is 5·10^11 longs, the all-pairs
    * scale-killer; capped, the per-shingle fan-out is bounded by
    * maxDf²/2. Intersections are counted per document (see
    * [[pairIntersections]]); a pair is emitted there only if its
    * intersection can reach `minPermille` — floor(1000·I/U) ≥ m ⇔
    * 1000·I ≥ m·U and U ≥ |A|, so I ≥ ceil(m·|A|/1000) is necessary
    * and the pre-filter drops no passing pair.
    *
    * Degenerate ids (see [[ShingleMembers]]): rows with a null doc_id
    * are dropped before df is counted (a null id belongs to no pair,
    * and counted into df it could push a shingle over the cap that the
    * non-null members share); a doc_id repeated in rows that SHARE a
    * shingle fails the query with an IllegalArgumentException naming
    * the id (its pairs would be self-pairs and permilles above 1000);
    * a doc_id repeated in rows that share no shingle is one document
    * whose shingle set is the union of the rows' sets.
    *
    * Pass `maxDfObs` (an [[org.apache.spark.sql.Observation]]) to get
    * a `max_df` metric from the run — the UNCAPPED variant's
    * hot-shingle exposure is otherwise invisible until the d²/2
    * partner lists hit, so at any real scale run capped, or run
    * uncapped WITH the observation and alert on max_df. */
  def ngramJaccardPairs(docs: DataFrame, shingleN: Int = 3,
      minPermille: Int = 200, maxDf: Int = Int.MaxValue,
      maxDfObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // Member-list memory: the CAPPED variant's lists stop at maxDf ids
    // in every partial row, so a capped-out hot shingle costs O(maxDf)
    // anywhere before it is dropped. The UNCAPPED variant must build the
    // full list by contract (exact all-pairs output) — one row per
    // shingle, linear in df vs the d²/2 join rows the self-join form
    // emits — and surfaces its exposure through the max_df observation.
    val kept = shingleMemberBuckets(docs, shingleN, maxDf, maxDfObs)
    val (inter, sizes) = pairIntersections(kept, minPermille)
    val pairs = inter
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jaccard_pm",
        floor(col("inter") * 1000L / (col("na") + col("nb") - col("inter"))).cast("long"))
      .where(col("jaccard_pm") >= minPermille)
      .select("a_id", "b_id", "jaccard_pm")
    settled(pairs, "a_id")
  }

  /** Exact n-gram CONTAINMENT pairs: containment of A in B is
    * |A∩B| / |A| — the ASYMMETRIC near-dup signal symmetric Jaccard
    * misses (a short document quoted wholesale inside a long one
    * scores 1000 permille here but a low Jaccard, because the union is
    * dominated by the long side). One output row per ordered pair
    * (src contained in dst) at ≥ `minPermille`; same shingle member
    * lists and df-cap semantics as
    * [[ngramJaccardPairs]] (the cap drops a shingle from BOTH sides,
    * so containment stays exact over the surviving shingle sets) and
    * the same degenerate-id contract. The pair stage keeps every pair
    * sharing a shingle: the b→a direction needs |B|, which the pass
    * over a's partners does not see. The a→b direction needs only |A|,
    * which the pass yields, so only b→a rides a join (onto the
    * per-document sizes, by b). */
  def ngramContainmentPairs(docs: DataFrame, shingleN: Int = 3,
      minPermille: Int = 800, maxDf: Int = Int.MaxValue): DataFrame = {
    val kept = shingleMemberBuckets(docs, shingleN, maxDf, None)
    val (inter, sizes) = pairIntersections(kept, 0)
    // each unordered intersection row unfolds into its two ordered
    // containment directions (normalized by the SOURCE size)
    val pairs = inter
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .select(explode(array(
        struct(col("a_id").as("src_id"), col("b_id").as("dst_id"),
          floor(col("inter") * 1000L / col("na")).cast("long").as("containment_pm")),
        struct(col("b_id").as("src_id"), col("a_id").as("dst_id"),
          floor(col("inter") * 1000L / col("nb")).cast("long").as("containment_pm"))))
        .as("r"))
      .select(col("r.src_id").as("src_id"), col("r.dst_id").as("dst_id"),
        col("r.containment_pm").as("containment_pm"))
      .where(col("containment_pm") >= minPermille)
    settled(pairs, "src_id")
  }

  /** The result rows of the Jaccard/containment family exchanged once,
    * by `key`. A sort over the result (every `Queries` entry orders it)
    * samples its input in a job of its own; with no exchange between,
    * that job re-ran the stage holding the partner pass and read the
    * tail exchange again. These rows are the filtered answer, so the
    * exchange is the cheapest place to cut the stage. */
  private def settled(pairs: DataFrame, key: String): DataFrame = pairs.repartition(col(key))

  /** Each document's distinct `n`-gram md5 digests as `binary(16)` — the
    * distinct elements of [[TF.shingles]], deduplicated by the
    * expression's own hash set (`array_distinct` compares binary
    * elements pairwise). */
  private def distinctShingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(graft.functions.ShingleKeys(toExpression(text), n, distinct = true))
  }

  /** The shared subtree of the Jaccard/containment family: one row
    * `(sh, df, ms)` per shingle of `docs(doc_id, text)` with df ≤
    * `maxDf`, ms its sorted members in the doc_id type; see
    * [[ShingleMembers]] for the combine, exchange and merge. The
    * exchange by `sh` is the one shuffle of the corpus side, and
    * ReuseExchange serves it to both consumers in [[pairIntersections]].
    * History: (a) count().over(Window.partitionBy(sh)) forced ALL rows
    * of a hot shingle into one unsplittable task before the cap could
    * drop it — the 10^12-doc scale-killer; (b) groupBy(sh).count joined
    * back onto the exploded rows paid the shingle explode once per
    * consumer; (c) groupBy(sh) with collect_list planned an
    * ObjectHashAggregate that fell back to sort past 128 keys a task. */
  private def shingleMemberBuckets(docs: DataFrame, shingleN: Int, maxDf: Int,
      maxDfObs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val idType = docs.schema("doc_id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"doc_id must be an integral column, got ${idType.catalogString}")
    val buckets0 = ShingleMembers(docs, shingleN, maxDf)
      .select(col("sh"), col("df"), col("ms").cast(ArrayType(idType, containsNull = false)).as("ms"))
    // max-only metric: the buckets subtree has TWO consumers (sizes +
    // intersections), so if the physical plan executes it twice a sum/
    // count-style metric would double-count — max is re-execution-
    // idempotent
    val buckets = maxDfObs match {
      case Some(obs) => buckets0.observe(obs, max(col("df")).as("max_df"))
      case None => buckets0
    }
    if (maxDf == Int.MaxValue) buckets else buckets.where(col("df") <= maxDf)
  }

  /** Pairwise shingle-intersection counts + per-doc surviving set
    * sizes from the shingle member lists.
    *
    * Intersections are counted PER DOCUMENT, never per pair: every
    * (shingle, member a) emits one row (a, t), t = the members after a
    * in the sorted list (empty for the last member and for a df = 1
    * shingle). The rows are clustered and sorted by a, and one pass
    * over each run of equal a ([[PartnerCounts]]) counts the partners
    * in its tails: the count of b is |A∩B|, and the run length is |A|.
    * A pair is emitted when its count reaches
    * max(1, ceil(minPermille·|A|/1000)) — pass 0 to keep
    * every pair sharing a shingle — as (a_id, b_id, inter, na), na =
    * |A| from the run, so the callers join `sizes` for |B| only. At
    * sf0.1 this shuffles 0.49M tail rows (5.2M longs) where the (a, b)
    * unfold shuffled and hash-aggregated 4.8M pair rows to keep 6,024
    * — the pair hash map was larger than cache and dominated the
    * query. A groupBy(a) aggregate loses too: it allocates more
    * (ObjectHashAggregate falls back to sort above 128 keys per task
    * and serializes partial buffers).
    *
    * The pass runs once per query. The pair rows are hinted never to
    * be a broadcast build side (the static plan at sf0.1 broadcast
    * them, so AQE planned around a broadcast of the pass output), and
    * `sizes`, one row per document, is not forced to broadcast either:
    * the join stays a runtime choice. Each caller then ends in
    * [[settled]], so a sort above it samples an exchange, not the
    * pass.
    *
    * Scale: a viral shingle of df D still carries D²/2 partner longs,
    * as the unfold did, but grouped by a they spread across the a
    * partitions and the sort spills; one document's partner table
    * holds its distinct partners. The df cap bounds D.
    *
    * Both consumers read the same shingle exchange, so ReuseExchange
    * serves BOTH from ONE scan+shingle+combine subtree; a second copy of
    * the dominant scan+md5-shingle pass cost ~19 s → ~10 s executor CPU
    * on the sf0.1 jaccard/containment pair when it last ran twice. */
  private def pairIntersections(members: DataFrame,
      minPermille: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.GraftColumnBridge.noBroadcast
    val sizes = members
      .select(explode(col("ms")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    // the pass counts integral ids as bigint; the output keeps the id type
    val idType = members.schema("ms").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    // posexplode + slice is codegen'd, unlike a nested-transform HOF;
    // slice clamps past the end, so the last member gets an empty tail
    val inter = members
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "a")))
      .select(col("a"), slice(col("ms"), col("i") + lit(2), size(col("ms"))).as("t"))
      .repartition(col("a"))
      .sortWithinPartitions("a")
      .as(Encoders.product[Tail])
      .mapPartitions(rows => new PartnerCounts(rows, minPermille))(Encoders.product[PairCount])
      .select(col("a_id").cast(idType).as("a_id"), col("b_id").cast(idType).as("b_id"),
        col("inter"), col("na"))
    (noBroadcast(inter), sizes)
  }

  /** One (shingle, member) row of the pair stage: member `a` and the
    * sorted members after it. */
  private[graft] final case class Tail(a: Long, t: Array[Long])
  private[graft] final case class PairCount(a_id: Long, b_id: Long, inter: Long, na: Long)

  /** The per-partition partner pass of [[pairIntersections]] over
    * [[Tail]] rows clustered and sorted by `a`. Each run of equal `a`
    * counts its partners in one open-addressing long → int table, reused
    * by every run: a partner costs one probe where a sort of the
    * concatenated tails cost a log factor, and a run needs room for its
    * distinct partners, not for every repeat. Only the pairs that reach
    * the threshold are sorted, so a run's pairs come out by ascending `b`.
    * A tail that starts with `a` itself means `a` appeared twice in one
    * shingle's member list — a duplicate doc_id — and fails the task. */
  private[graft] final class PartnerCounts(rows: Iterator[Tail], minPermille: Int)
      extends Iterator[PairCount] {
    private var pending: Tail = if (rows.hasNext) rows.next() else null
    // the table: a slot is empty while its count is 0; `used` lists the
    // occupied slots, so a run clears only what it filled
    private var bits = 10
    private var keys = new Array[Long](1 << bits)
    private var counts = new Array[Int](1 << bits)
    private var used = new Array[Int](1 << (bits - 1))
    private var filled = 0
    private var outB = new Array[Long](256)
    private var outC = new Array[Long](256)
    private var outA = 0L
    private var outNa = 0L
    private var outN = 0
    private var outI = 0

    def hasNext: Boolean = {
      while (outI == outN && pending != null) countRun()
      outI < outN
    }

    def next(): PairCount = {
      if (!hasNext) throw new NoSuchElementException("no more pair counts")
      val r = PairCount(outA, outB(outI), outC(outI), outNa)
      outI += 1
      r
    }

    // Fibonacci hashing: the high bits of the product spread dense ids
    private def home(b: Long): Int = ((b * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt

    private def slot(b: Long): Int = {
      val mask = keys.length - 1
      var i = home(b)
      while (counts(i) != 0 && keys(i) != b) i = (i + 1) & mask
      i
    }

    /** Adds `c` to `b`'s count, growing the table past half full. */
    private def add(b: Long, c: Int): Unit = {
      if (2 * (filled + 1) > keys.length) grow()
      val i = slot(b)
      if (counts(i) == 0) { keys(i) = b; used(filled) = i; filled += 1 }
      counts(i) += c
    }

    private def grow(): Unit = {
      val (oldKeys, oldCounts, oldUsed, n) = (keys, counts, used, filled)
      bits += 1
      keys = new Array[Long](1 << bits)
      counts = new Array[Int](1 << bits)
      used = new Array[Int](1 << (bits - 1))
      filled = 0
      var j = 0
      while (j < n) { val s = oldUsed(j); add(oldKeys(s), oldCounts(s)); j += 1 }
    }

    private def countRun(): Unit = {
      val a = pending.a
      var n = 0L
      while (pending != null && pending.a == a) {
        val t = pending.t
        if (t.length > 0 && t(0) == a)
          throw new IllegalArgumentException(
            s"doc_id $a occurs more than once in one shingle's member list: " +
              "duplicate doc_id rows sharing a shingle have no pairwise answer")
        var k = 0
        while (k < t.length) { add(t(k), 1); k += 1 }
        n += 1
        pending = if (rows.hasNext) rows.next() else null
      }
      val need = if (minPermille <= 0) 1L else math.max(1L, (minPermille * n + 999) / 1000)
      outA = a
      outNa = n
      outN = 0
      outI = 0
      var j = 0
      while (j < filled) {
        val s = used(j)
        if (counts(s) >= need) {
          if (outN == outB.length) {
            outB = java.util.Arrays.copyOf(outB, 2 * outN)
            outC = java.util.Arrays.copyOf(outC, 2 * outN)
          }
          outB(outN) = keys(s)
          outN += 1
        }
        j += 1
      }
      java.util.Arrays.sort(outB, 0, outN)
      var i = 0
      while (i < outN) { outC(i) = counts(slot(outB(i))); i += 1 }
      j = 0
      while (j < filled) { counts(used(j)) = 0; j += 1 }
      filled = 0
    }
  }

  /** Per-doc 32-bit SimHash sketch plus near-dup pairs at Hamming
    * distance ≤ maxHamming, paired within 8-bit LSH blocks (any pair
    * with ≤ maxHamming differing bits agrees exactly on at least one
    * of the 4 blocks when maxHamming < 4 — the classic simhash
    * block-permutation index, no all-pairs join; 8-bit keys keep the
    * candidate count ~n²/256 per block instead of n²/16). For corpora
    * with giant duplicate clusters, apply the star-pairs pattern of
    * [[minhashLshStarPairs]] here too (pair members with the block
    * bucket's canonical doc) to keep output linear. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "4-block index covers hamming < 4")
    val sketch = docs.select(col("doc_id"), TF.simhash32(col("text")).as("sh"))
    // ONE evaluation of the 32-term sketch expression per doc: the 4
    // block keys ride a posexplode'd array (the union-of-selects form
    // recomputed the sketch once per block; CollapseProject does not
    // inline `sh` into the array because it is referenced 5×) — and
    // ONE evaluation per CORPUS, not per join side: the explicit
    // (block, key) exchange satisfies both sides of the self-join, so
    // ReuseExchange reads the scan + sketch + explode once (the
    // isNotNull filter states the constraints the join's inequality
    // predicates would otherwise infer asymmetrically; doc ids and
    // sketches are never null, so results are unchanged)
    val blocks = sketch
      .where(col("doc_id").isNotNull && col("sh").isNotNull)
      .select(col("doc_id"), col("sh"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sh"), b * 8).bitwiseAND(lit(255L))): _*)).as(Seq("block", "key")))
      .repartition(col("block"), col("key"))
    def keyAt(sh: Column, b: Int): Column = shiftright(sh, b * 8).bitwiseAND(lit(255L))
    // first-match restriction: emit a pair ONLY from its smallest
    // matching block (for every earlier block the keys must differ) —
    // each pair is generated exactly once, so no distinct pass is
    // needed and a hamming-0 pair no longer rides the shuffle 4×
    val firstMatch = (0 until 3).map { b =>
      col("l.block") <= b || keyAt(col("l.sh"), b) =!= keyAt(col("r.sh"), b)
    }.reduce(_ && _)
    blocks.as("l")
      .join(blocks.as("r"),
        col("l.block") === col("r.block") && col("l.key") === col("r.key") &&
          col("l.doc_id") < col("r.doc_id") && firstMatch)
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
        TF.hammingDist(col("l.sh"), col("r.sh")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Linear-output variant of [[simhashPairs]] (the star pattern):
    * each doc is tested ONLY against its 8-bit block bucket's
    * canonical (minimum-id) member — hamming computed exactly — so a
    * giant duplicate cluster emits O(members) rows per block instead
    * of O(members²). The canon side is ≤ 4·256 rows of metadata per
    * corpus → broadcast, no self-join shuffle. A member connects to
    * EACH of its 4 block-buckets' canons that passes the hamming test;
    * a pair surfacing in several blocks is deduplicated explicitly —
    * the pairwise first-match trick of [[simhashPairs]] does not
    * compose with canon-pairing (suppressing a later-block canon pair
    * because the two docs share an EARLIER block can orphan a member
    * whose earlier-block canon is hamming-far). Downstream
    * components/keep-min reconnects clusters as with the other star
    * forms. */
  def simhashStarPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "4-block index covers hamming < 4")
    val sketch = docs.select(col("doc_id"), TF.simhash32(col("text")).as("sh"))
    val blocks = sketch.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh"), b * 8).bitwiseAND(lit(255L))): _*)).as(Seq("block", "key")))
    // block-bucket canonical member via min_by aggregation (map-side
    // combine; ≤ 1024 result rows) — broadcast back onto the members
    val canon = blocks.groupBy("block", "key")
      .agg(min_by(struct(col("doc_id").as("cid"), col("sh").as("csh")),
        col("doc_id")).as("c"))
      .select(col("block"), col("key"), col("c.cid"), col("c.csh"))
    blocks.join(broadcast(canon), Seq("block", "key"))
      .where(col("doc_id") =!= col("cid"))
      .select(col("cid").as("a_id"), col("doc_id").as("b_id"),
        TF.hammingDist(col("csh"), col("sh")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** 64-bit SimHash near-dup pairs at Hamming ≤ maxHamming, paired
    * within 16-bit LSH blocks (4 blocks over the two 32-bit halves —
    * pigeonhole covers hamming < 4). The 64-bit/16-bit-block index is
    * the DENSE-corpus scale path: 16-bit keys spread candidates 256×
    * wider than the 8-bit blocks of [[simhashPairs]] (measured 15×
    * fewer candidate probes at sf0.1), and a 64-bit hamming≤3 match is
    * far more discriminative. Same first-match trick: each pair emits
    * exactly once, no distinct pass. */
  def simhash64Pairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "4-block index covers hamming < 4")
    // project the struct ONCE, then split fields (CollapseProject
    // won't inline a multi-referenced non-cheap expression)
    val sketch = docs.select(col("doc_id"), TF.simhash64Struct(col("text")).as("sh64"))
      .select(col("doc_id"), col("sh64.lo").as("lo"), col("sh64.hi").as("hi"))
    def keyAt(loC: Column, hiC: Column, b: Int): Column =
      if (b < 2) shiftright(loC, b * 16).bitwiseAND(lit(65535L))
      else shiftright(hiC, (b - 2) * 16).bitwiseAND(lit(65535L))
    // one sketch evaluation per corpus, not per join side — the same
    // explicit shared (block, key) exchange as [[simhashPairs]]
    val blocks = sketch
      .where(col("doc_id").isNotNull && col("lo").isNotNull && col("hi").isNotNull)
      .select(col("doc_id"), col("lo"), col("hi"),
        posexplode(array((0 until 4).map(b => keyAt(col("lo"), col("hi"), b)): _*))
          .as(Seq("block", "key")))
      .repartition(col("block"), col("key"))
    val firstMatch = (0 until 3).map { b =>
      col("l.block") <= b ||
        keyAt(col("l.lo"), col("l.hi"), b) =!= keyAt(col("r.lo"), col("r.hi"), b)
    }.reduce(_ && _)
    blocks.as("l")
      .join(blocks.as("r"),
        col("l.block") === col("r.block") && col("l.key") === col("r.key") &&
          col("l.doc_id") < col("r.doc_id") && firstMatch)
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
        (TF.hammingDist(col("l.lo"), col("r.lo")) +
          TF.hammingDist(col("l.hi"), col("r.hi"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Linear-output variant of [[embeddingNearDupPairs]] (the star
    * pattern of [[minhashLshStarPairs]] applied to the embedding
    * family): each vector is tested ONLY against its sign-LSH bucket's
    * canonical (minimum-id) member — exact integer cosine — so output
    * is linear in bucket size instead of quadratic, and the canon side
    * is one row per bucket → it BROADCASTS (no self-join shuffle at
    * all). The downstream components/keep-min pass reconnects clusters
    * exactly as with the minhash star pairs. */
  def embeddingNearDupStarPairs(emb: DataFrame, tPct: Int = 80,
      lshBits: Int = 4): DataFrame =
    embeddingNearDupStarPairsQ(
      emb.select(col("vec_id"),
        VF.signBucket(col("embedding"), lshBits).as("bucket"),
        VF.quantize(col("embedding")).as("qv")),
      tPct)

  /** [[embeddingNearDupStarPairs]] over an already-prepared
    * `(vec_id, bucket, qv)` frame — the composition point for callers
    * that derive buckets/quantization differently (e.g. synthetic
    * mutants injected post-quantize). */
  def embeddingNearDupStarPairsQ(prepared: DataFrame, tPct: Int): DataFrame = {
    val q = prepared.withColumn("nsq", VF.normSqQ(col("qv")))
    // bucket canonical via min_by aggregation: map-side combine, one
    // metadata-small result
    val canon = q.groupBy("bucket")
      .agg(min_by(struct(col("vec_id").as("cid"), col("qv").as("cqv"),
        col("nsq").as("cnsq")), col("vec_id")).as("c"))
      .select(col("bucket"), col("c.cid"), col("c.cqv"), col("c.cnsq"))
    q.join(broadcast(canon), Seq("bucket"))
      .where(col("vec_id") =!= col("cid"))
      .withColumn("dot", VF.dotQ(col("qv"), col("cqv")))
      .where(VF.cosineGePct(col("dot"), col("nsq"), col("cnsq"), tPct))
      .select(col("cid").as("a_id"), col("vec_id").as("b_id"), col("dot"))
  }

  /** Connected-component labeling over near-duplicate pairs — the
    * union-find/keep-min pass every pair generator above feeds (the
    * cluster label IS the kept doc of [[exactGroups]], generalized to
    * transitive near-dup chains): iterative min-label propagation,
    * a FIXED number of BSP rounds so the result is a pure function of
    * (edges, iterations) and an external engine can replay it. Each
    * round is one join + one hash aggregation (map-side partial min) —
    * the standard relational form; after round k every node holds the
    * min label within distance k, so `iterations` ≥ the component
    * diameter labels exactly. At 10^12 edges use the same shape with
    * alternating large-star/small-star rounds (Kiveris et al., SoCC
    * 2014) to cut the round count to O(log n) — each round here IS the
    * large-star primitive (the full alternation is implemented as
    * [[componentsStar]]). Plan note: each round references the
    * previous labels twice (self ∪ propagated) — ReuseExchange
    * collapses the duplicate subtrees within the one query, so the
    * default declarative form is right at moderate iteration counts
    * and keeps the plan introspectable; set `checkpointRounds = true`
    * to truncate the edges and every round's labels with `truncate`
    * ([[Rounds]] — IDENTICAL values, measured 1.6× faster at sf0.1)
    * so a deep iteration count cannot re-derive the pair generation
    * per round.
    *
    * Input: (a_id, b_id) pairs. Output: (doc_id, component) for every
    * doc appearing in any pair, component = min doc_id reachable
    * within `iterations` hops. */
  def components(pairs: DataFrame, iterations: Int = 3,
      checkpointRounds: Boolean = false,
      truncate: DataFrame => DataFrame = Rounds.defaultTruncate): DataFrame = {
    val ck: DataFrame => DataFrame = if (checkpointRounds) truncate else identity
    val edges = ck(pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst"))))
    val init = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
    val (labels, _) = Rounds.iterate(init, { labels =>
      val propagated = edges
        .join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("component"))
      labels.unionAll(propagated)
        .groupBy("id").agg(min("component").as("component"))
    }, iterations, ck, None)
    labels.select(col("id").as("doc_id"), col("component"))
  }

  /** One large-star + small-star round over an (a, b) edge set.
    *
    * Each star operation consumes its symmetrized edge view twice —
    * once under the per-node min aggregation, once as the join probe —
    * and both consumers cluster on `u`, so `sym` ends in ONE explicit
    * exchange on `u` that ReuseExchange serves to both (the agg and
    * the join add no exchange of their own): two shuffles per star
    * operation become one, and the symmetrize union is evaluated once
    * instead of once per consumer. The explicit isNotNull filters
    * state the constraints the join/inequality predicates would infer
    * onto the PROBE side only, keeping the two subtrees
    * canonically equal (node ids are never null; groupBy/min would
    * drop nulls anyway, so values are unchanged). */
  private def starRound(edges: DataFrame): DataFrame = {
    def sym(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
        .where(col("u").isNotNull && col("v").isNotNull)
        .repartition(col("u"))
    def mins(s: DataFrame): DataFrame =
      s.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
    val s1 = sym(edges)
    val large = s1.join(mins(s1), "u")
      .where(col("v") > col("u") && col("m") =!= col("v"))
      .select(col("m").as("a"), col("v").as("b")).distinct()
    val s2 = sym(large)
    val m2 = mins(s2)
    s2.join(m2, "u").where(col("v") < col("u"))
      .select(col("m"), col("v"))
      .unionAll(m2.select(col("m"), col("u").as("v")))
      .where(col("m") =!= col("v"))
      .select(col("m").as("a"), col("v").as("b")).distinct()
  }

  /** Read component labels off a (converged-or-not) star edge set. */
  private def starLabels(edges: DataFrame): DataFrame =
    edges.select(col("b").as("doc_id"), col("a").as("component"))
      .unionAll(edges.select(col("a").as("doc_id"), col("a").as("component")))
      .groupBy("doc_id").agg(min("component").as("component"))

  /** Connected components by ALTERNATING LARGE-STAR/SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the O(log n)-round upgrade path named in
    * [[components]]'s scaladoc. Per round:
    *
    *  - large-star: every node u hangs its strictly-LARGER neighbors
    *    onto m(u) = min(Γ(u) ∪ {u});
    *  - small-star: u hangs its not-larger neighbors and itself onto
    *    m(u).
    *
    * Each operation is one symmetrize → groupBy-min (map-side partial
    * min) → join — the same splittable relational shape as a
    * [[components]] round — but the edge set CONTRACTS toward
    * min-rooted stars, so the required round count is O(log n) in the
    * component size instead of O(diameter): the difference between 40
    * rounds and 4 on a 10^12-edge web graph with long chains. Output
    * is deterministic for a fixed `rounds` (the DuckDB twin replays
    * the identical schedule); once converged, the edge set IS the
    * star forest and labels read directly off it.
    *
    * Unlike [[components]], truncation is PART OF this operator: the
    * input edge set and every round's output pass through `truncate`
    * (see [[Rounds]] for why). Truncating the input matters too: with
    * an unmaterialized input each of round 1's references re-derives
    * the whole pair-generation plan — for the LSH star pairs that is
    * the corpus scan + signature expression per reference (measured:
    * 4.6 → 2.1 s executor CPU on sf0.1 dedup_components_star).
    *
    * Input: (a_id, b_id) pairs. Output: (doc_id, component) for every
    * doc appearing in any pair. */
  def componentsStar(pairs: DataFrame, rounds: Int = 3,
      truncate: DataFrame => DataFrame = Rounds.defaultTruncate): DataFrame =
    starComponents(pairs, rounds, truncate, adaptive = false)._1

  /** CONVERGENCE-ADAPTIVE [[componentsStar]]: rounds run until the
    * edge set reaches a FIXPOINT — a converged min-rooted star forest
    * reproduces itself exactly under a large-star/small-star round, so
    * "this round changed nothing" is the exact termination test (the
    * edge count, taken by the round's own truncation, plus one
    * left-anti probe per round over the already-truncated edge sets —
    * cheap next to the round itself; `truncate` must run an action, see
    * [[Rounds]]).
    * Use when the graph's diameter is unknown (the production case);
    * keep the fixed-`rounds` [[componentsStar]] where a deterministic
    * replayable schedule is needed (the DuckDB oracle twin).
    *
    * Returns (labels, roundsExecuted) — the caller's
    * lineage/metrics surface; roundsExecuted INCLUDES the final
    * confirming no-op round, so a graph that arrives pre-converged
    * still reports 1. `maxRounds` bounds a pathological input (log2 of
    * the largest component size is the expected need; 40 covers any
    * conceivable 10^12-node graph). */
  def componentsStarAdaptive(pairs: DataFrame, maxRounds: Int = 40,
      truncate: DataFrame => DataFrame = Rounds.defaultTruncate): (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    starComponents(pairs, maxRounds, truncate, adaptive = true)
  }

  /** The one star-components body; `adaptive` stops at the fixpoint.
    * Only the adaptive input is made distinct (rounds already end in
    * distinct), since its test counts edges; fixed-schedule labels
    * ignore multiplicity. */
  private def starComponents(pairs: DataFrame, maxRounds: Int,
      truncate: DataFrame => DataFrame, adaptive: Boolean): (DataFrame, Int) = {
    val edges = pairs.select(col("a_id").as("a"), col("b_id").as("b"))
    val (last, used) =
      if (!adaptive) Rounds.iterate(truncate(edges), starRound, maxRounds, truncate, None)
      else {
        val t = new Rounds.Observed(truncate, count(lit(1)).as("n"))
        val init = t(edges.distinct())
        Rounds.iterate(init, starRound, maxRounds, t, Some(starFixpoint(t)))
      }
    (starLabels(last), used)
  }

  /** Star fixpoint test. Edge rows are DISTINCT, so multiset equality
    * ≡ equal count + one left-anti containment probe on (a, b) — one
    * job over the two materialized frames. Each frame's count comes
    * from its own truncation (`t`, which has truncated the initial
    * frame already) and is carried to the next round as `prev`'s. */
  private def starFixpoint(t: Rounds.Observed): (DataFrame, DataFrame) => Boolean = {
    var prevCount = t.last.getAs[Long]("n")
    (prev, next) => {
      val nextCount = t.last.getAs[Long]("n")
      val same = nextCount == prevCount
      prevCount = nextCount
      same && next.join(prev, Seq("a", "b"), "left_anti").isEmpty
    }
  }

  /** CONTENT-DEFINED-CHUNKING dedup: duplicate chunks across the
    * corpus, where chunk boundaries depend only on LOCAL content (a
    * token whose 32-bit hash ≡ 0 mod `divisor` ends a chunk — CDC with
    * a 1-token window, the Rabin/gear family's shift-resilience
    * property): inserting or deleting text early in a document moves
    * NO later boundary, so two documents sharing a long run of text
    * share its chunks verbatim even at different offsets — the
    * partial-overlap signal whole-doc fingerprints and fixed-size
    * chunking both miss (fixed chunks misalign after one inserted
    * token). This is the storage-dedup / training-data-decontamination
    * shape (LBFS, Muthitacharoen et al., SOSP 2001).
    *
    * Plan (the 100 TB shape): chunking is entirely MAP-SIDE — the
    * native [[graft.functions.CdcChunks]] expression walks each doc's
    * intact `text` once and emits `array<struct<chunk_fp, n_tokens>>`
    * (the [[graft.functions.ShingleMd5s]] pattern, same md5-nibble
    * token hash), so the tokenized corpus never shuffles, never sorts,
    * and holds no Window state; one explode then the single inherent
    * shuffle (the global chunk-fp aggregation, map-side partials).
    * Expected chunk length ≈ `divisor` tokens (geometric); no min/max
    * clamp, so boundaries are a pure function of content and the
    * DuckDB twin replays them exactly.
    *
    * Output: one row per chunk occurring in ≥2 docs —
    * (chunk_fp, n_tokens, n_docs, n_occurrences, keep_doc). */
  def cdcChunkDuplicates(docs: DataFrame, divisor: Int = 16): DataFrame = {
    // divisor 0 would (in the hash % 0 formulation) NULL every flag and
    // silently collapse each doc into one chunk — whole-doc dedup in
    // CDC clothing; CdcChunks also rejects it at construction
    require(divisor >= 1, s"divisor must be >= 1, got $divisor")
    val chunks = docs.select(col("doc_id"),
      explode(TF.cdcChunks(col("text"), divisor)).as("c"))
      .select(col("doc_id"), col("c.chunk_fp").as("chunk_fp"),
        col("c.n_tokens").as("n_tokens"))
    chunks.groupBy("chunk_fp")
      .agg(max(col("n_tokens")).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("keep_doc"))
      .where(col("n_docs") >= 2)
  }

  /** k md5-derived Bloom bit positions for a fingerprint — the
    * CROSS-ENGINE-REPLAYABLE hash family (j-salted md5 prefixes, the
    * same 32-bit nibble convention as the sketches), so a DuckDB twin
    * reproduces the exact bit layout, false positives included. */
  private def bloomBits(fp: Column, mBits: Int, k: Int): Column =
    array((0 until k).map(j =>
      conv(substring(md5(concat(lit(s"$j:"), fp)), 1, 8), 16, 10)
        .cast("long") % mBits): _*)

  /** BLOOM-membership incremental dedup: the 10^12-corpus answer to
    * "is this new document's fingerprint already in the corpus?" when
    * even the DISTINCT fingerprint set is too big to broadcast — the
    * corpus collapses to a FIXED-SIZE bit set (`mBits` positions, ≤
    * mBits rows after one distinct aggregation, broadcastable at any
    * corpus size), and each batch document is flagged iff ALL `k` of
    * its salted-hash bits are occupied. One-sided by construction:
    * no false negatives (a true duplicate's bits are always set),
    * deterministic false positives at ≈ occupancy^k — this operator
    * is the cheap PRE-FILTER; the flagged minority then pays the
    * exact membership check ([[bloomIncrementalExact]]) instead of
    * the whole batch.
    *
    * Output: (doc_id, bloom_hit) for every batch doc. The plan
    * contains NO join against the corpus fingerprint set — ONLY the
    * fixed-size bit set crosses to the batch side (one broadcast
    * outer join below one hash aggregation); that absence is exactly
    * this operator's reason to exist and is plan-pinned. Ground
    * truth for the false-positive band lives in the opt-in
    * [[bloomIncrementalExact]]. */
  def bloomIncrementalFlags(corpus: DataFrame, batch: DataFrame,
      mBits: Int = 4096, k: Int = 3): DataFrame = {
    require(mBits >= 2 && k >= 1, s"bad bloom shape mBits=$mBits k=$k")
    val bits = corpus.select(TF.fingerprint(col("text")).as("fp"))
      .select(explode(bloomBits(col("fp"), mBits, k)).as("bit")).distinct()
      .withColumn("occupied", lit(1))
    // bloom_hit = every salted bit occupied = min over the k probes;
    // duplicate probe positions cannot change a min, so no
    // array_distinct / probe-count bookkeeping is needed
    batch.select(col("doc_id"),
        explode(bloomBits(TF.fingerprint(col("text")), mBits, k)).as("bit"))
      .join(broadcast(bits), Seq("bit"), "left")
      .groupBy("doc_id")
      .agg(min(coalesce(col("occupied"), lit(0))).as("bloom_hit"))
  }

  /** The exact-membership companion of [[bloomIncrementalFlags]]:
    * ONLY the bloom-flagged minority pays the exact fingerprint
    * semi-join against the corpus — the non-flagged majority is
    * guaranteed novel by the filter's one-sided error, so
    * `exact_dup = 0` for it by construction. The corpus-fp join is
    * deliberately NOT a forced broadcast: at the 10^12-doc design
    * point the distinct fingerprint set exceeds broadcast limits and
    * AQE falls back to a shuffle semi-join of the (already
    * bloom-thinned) flagged stream — the scale shape this operator
    * family exists for. Rows with `bloom_hit = 1, exact_dup = 0`
    * WITNESS the false-positive band; the DuckDB twin reproduces
    * each one bit-exactly.
    *
    * Output: (doc_id, bloom_hit, exact_dup) for every batch doc. */
  def bloomIncrementalExact(corpus: DataFrame, batch: DataFrame,
      mBits: Int = 4096, k: Int = 3): DataFrame = {
    // materialize the flags frame ONCE: it feeds both the flagged
    // filter and the final left join — unmaterialized, the corpus
    // bloom-bit aggregation subtree would execute twice (the PQ-LUT
    // double-instantiation class); the frame is batch-sized
    val flags = Rounds.defaultTruncate(bloomIncrementalFlags(corpus, batch, mBits, k))
    val flaggedFp = flags.where(col("bloom_hit") === 1)
      .join(batch.select(col("doc_id"), TF.fingerprint(col("text")).as("fp")),
        Seq("doc_id"))
    val exact = flaggedFp
      .join(corpus.select(TF.fingerprint(col("text")).as("fp")).distinct(),
        Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(1).as("exact_dup"))
    flags.join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        coalesce(col("exact_dup"), lit(0)).as("exact_dup"))
  }

  /** EXACT-SUBSTRING duplicate spans (the ExactSubstr criterion of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022 — re-expressed relationally): every MAXIMAL
    * run of consecutive tokens, at least `minTokens` long, whose text
    * appears somewhere else in the corpus (another doc OR another
    * position of the same doc). A token position is covered iff its
    * `minTokens`-gram occurs ≥ 2 times corpus-wide counting
    * POSITIONS; consecutive covered positions merge into maximal runs
    * `[start_pos, end_pos]` (end extends `minTokens-1` past the last
    * covered gram start). This is the span-level signal whole-doc /
    * chunk dedup misses: the exact duplicated text to cut, with its
    * location.
    *
    * Plan (the 100 TB shape): grams are map-side
    * ([[graft.functions.ShingleKeys]] + posexplode) and the corpus is
    * scanned + shingled ONCE — a single per-gram aggregation carries
    * BOTH consumers' needs (the corpus-wide frequency AND the
    * occurrence positions), so the ≥2 filter and the covered-position
    * explode read the same shuffled stream instead of re-scanning the
    * corpus for a semi-join (the round-6 plan paid a second full
    * corpus read + shingle pass here). Run-merging is a window
    * PARTITIONED BY doc_id over only the COVERED positions —
    * per-entity, parallel across docs, and sparse (duplicated grams
    * only), unlike the retired CDC token-window which sorted every
    * token of every doc. Skew posture: the per-gram occurrence buffer
    * is O(df(gram)) — the same inherent tail every positional
    * duplicate finder has (the occurrences ARE the output); the hash
    * aggregate's sort-based fallback spills it rather than OOM.
    *
    * Output: (doc_id, start_pos, end_pos, n_grams, n_tokens), one row
    * per maximal duplicated run.
    *
    * `maxDf` (opt-in) bounds the per-gram occurrence buffer: a hot
    * boilerplate gram (a 15-token license header across millions of
    * docs) concentrates O(df) structs in ONE aggregation-buffer key —
    * the OOM class the df cap bounds for jaccard; the hash
    * aggregate's sort-based fallback spills BETWEEN keys, not within
    * one. With `maxDf` set, a cheap count-only pre-aggregation finds
    * grams with 2 ≤ df ≤ maxDf and the positional aggregation runs
    * only over them (semi-join BEFORE collect, so buffers are bounded
    * by construction). DECLARED truncation: spans witnessed only by
    * grams hotter than maxDf are not reported — at that frequency
    * the text is boilerplate for a hot-list/rule pass, not span
    * surgery. The price is a second scan+shingle pass (count-only);
    * the default None keeps the single-scan plan. */
  def exactSubstringSpans(docs: DataFrame, minTokens: Int = 15,
      maxDf: Option[Int] = None): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    require(maxDf.forall(_ >= 2), s"maxDf must be >= 2, got $maxDf")
    import org.apache.spark.sql.expressions.Window
    val grams = docs.select(col("doc_id"),
      posexplode(TF.shingles(col("text"), minTokens)).as(Seq("pos", "gh")))
    val covered = maxDf match {
      case None =>
        grams.groupBy("gh")
          .agg(count(lit(1)).as("n"),
            collect_list(struct(col("doc_id"), col("pos"))).as("occ"))
          .where(col("n") >= 2)
          .select(explode(col("occ")).as("o"))
          .select(col("o.doc_id").as("doc_id"), col("o.pos").as("pos"))
      case Some(cap) =>
        val eligible = grams.groupBy("gh").agg(count(lit(1)).as("n"))
          .where(col("n") >= 2 && col("n") <= cap)
          .select("gh")
        grams.join(eligible, Seq("gh"), "left_semi")
          .select(col("doc_id"), col("pos"))
    }
    val w = Window.partitionBy("doc_id").orderBy("pos")
    covered.withColumn("island", col("pos") - row_number().over(w))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) + lit(minTokens - 1)).as("end_pos"),
        count(lit(1)).as("n_grams"))
      .withColumn("n_tokens", col("end_pos") - col("start_pos") + 1)
      .select("doc_id", "start_pos", "end_pos", "n_grams", "n_tokens")
  }

  /** Benchmark DECONTAMINATION: training documents sharing any
    * n-token shingle with an evaluation set — the 13-gram-overlap
    * standard of the LM literature (GPT-3, Brown et al. 2020,
    * appendix C; PaLM's contamination analysis). The published
    * scale shape: an eval set is metadata-small next to a training
    * corpus, so its distinct shingle hashes BROADCAST; the corpus
    * side is one map-side shingle expansion joined against that
    * broadcast and aggregated per doc — the corpus text is never
    * shuffled and there is no corpus self-join, so the plan survives
    * a 10^12-doc training table unchanged.
    *
    * Output: (doc_id, contaminated_ngrams) for every training doc
    * with ≥1 eval shingle — the removal list a cleaning pipeline
    * anti-joins against. */
  def benchmarkContamination(corpus: DataFrame, evalSet: DataFrame,
      shingleN: Int = 13): DataFrame = {
    // shingleN 0 makes every shingle md5("") and flags everything
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    val evalSh = evalSet
      .select(explode(distinctShingles(col("text"), shingleN)).as("sh"))
      .distinct()
    val corpusSh = corpus
      .select(col("doc_id"), explode(distinctShingles(col("text"), shingleN)).as("sh"))
    corpusSh.join(broadcast(evalSh), Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("contaminated_ngrams"))
  }

  /** CLUSTER RESOLUTION — keep the BEST member of every near-dup
    * cluster (the step after candidate pairs + connected components:
    * Lee et al. 2022 and the CCNet/RefinedWeb pipelines keep one
    * representative per duplicate cluster, by quality, not by
    * arbitrary min-id). `labels` is a (doc_id, component) frame from
    * [[components]] / [[componentsStar]]; docs absent from it (never
    * in any candidate pair) are singleton clusters of themselves.
    * `score` is an integer-exact quality expression over `docs`'
    * columns; the kept member is the max score, ties broken toward
    * the SMALLEST doc_id (deterministic, engine-replayable).
    *
    * Plan (the 100 TB shape): one left join docs→labels (both sides
    * shuffle on doc_id — or broadcast when the label side is the
    * post-dedup minority) and ONE hash aggregation per cluster whose
    * argmax rides a struct max — map-side partial maxes collapse a
    * mega-cluster's rows BEFORE the shuffle, so a 10k-member
    * duplicate cluster costs one combined row per map partition. A
    * `row_number().over(Window.partitionBy(cluster))` formulation
    * would serialize that cluster into ONE unsplittable window task —
    * the same scale-killer class as the retired jaccard window-df.
    *
    * Output: (cluster, keep_id, best_score, n_members), one row per
    * cluster (singletons included: n_members = 1, keep_id = itself). */
  def keepBestPerCluster(docs: DataFrame, labels: DataFrame,
      score: Column): DataFrame = {
    val scored = docs.select(col("doc_id"), score.cast("long").as("score"))
    val labeled = scored
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("score"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
    // argmax via struct max: (score, -doc_id) orders lexicographically
    // to (max score, then MIN doc_id) — associative/commutative, so
    // map-side combine applies; negation is exact on doc_id longs
    labeled.groupBy("cluster")
      .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), (-col("best.nid")).as("keep_id"),
        col("best.score").as("best_score"), col("n_members"))
  }

  /** Per-document DUPLICATED-TOKEN COVERAGE from the exact-substring
    * spans of [[exactSubstringSpans]] — the doc-level decision signal
    * ExactSubstr pipelines filter on (Lee et al. 2022 cut the spans;
    * corpus curators ALSO drop docs that are mostly duplicated text).
    * Adjacent maximal runs can OVERLAP in token space (each run
    * extends `minTokens-1` past its last covered gram start, and two
    * islands of gram starts can sit closer than that), so coverage is
    * the exact INTERVAL-UNION length per doc: spans sorted by
    * start_pos, each contributing `end - max(start-1, max prev end)`
    * when positive — the classic running-max sweep. The window is
    * PARTITIONED BY doc_id over only that doc's SPAN rows (sparse:
    * duplicated runs only, typically a handful per doc), so the sweep
    * is per-entity-parallel and never sees the token stream — the
    * same posture as the island merge inside the span operator
    * itself.
    *
    * Output: (doc_id, n_tokens, dup_tokens, dup_permille, keep) for
    * EVERY doc — span-free docs report 0 coverage, keep = 1 iff
    * dup_permille ≤ maxPermille. */
  def dupSpanCoverage(docs: DataFrame, minTokens: Int = 15,
      maxPermille: Int = 300): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = exactSubstringSpans(docs, minTokens)
    val w = Window.partitionBy("doc_id").orderBy("start_pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = spans
      .withColumn("prev_end", max(col("end_pos")).over(w))
      .withColumn("gain",
        greatest(lit(0L), col("end_pos") -
          greatest(col("start_pos") - 1, coalesce(col("prev_end"), lit(-1L)))))
      .groupBy("doc_id")
      .agg(sum(col("gain")).as("dup_tokens"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_permille",
        floor(col("dup_tokens") * 1000L / col("n_tokens")).cast("long"))
      .withColumn("keep",
        (col("dup_permille") <= maxPermille).cast("int"))
  }

  /** Embedding near-duplicates: pairs with cosine ≥ tPct/100, exact
    * integer test over milliunit-quantized vectors, bucketed by
    * sign-LSH so the pair join is per-bucket, not all-pairs. Sign-LSH
    * is approximate — a pair straddling a hyperplane of one table is
    * missed deterministically; `tables > 1` unions independent bucket
    * tables over disjoint dim ranges (same recall mechanism as
    * [[Similarity.lshTopKMulti]]), deduping candidates before the
    * exact cosine verify. Size `lshBits` with
    * [[graft.functions.VectorFunctions.lshBitsFor]]: fixed bits make
    * per-bucket work O(n²/2^bits) — quadratic again at 10^12 rows. */
  def embeddingNearDupPairs(emb: DataFrame, tPct: Int = 80,
      lshBits: Int = 4, tables: Int = 1): DataFrame =
    embeddingNearDupPairsQ(
      emb.select(col("vec_id"),
        posexplode(array((0 until tables).map(t =>
          VF.signBucket(col("embedding"), lshBits, offset = t * lshBits)): _*))
          .as(Seq("tbl", "bucket")),
        VF.quantize(col("embedding")).as("qv")),
      tPct, tables)

  /** [[embeddingNearDupPairs]] over an already-prepared
    * `(vec_id, tbl, bucket, qv)` frame of `tables` bucket tables — the
    * composition point for callers that derive buckets/quantization
    * differently (as [[embeddingNearDupStarPairsQ]] is for the star
    * pattern). */
  def embeddingNearDupPairsQ(prepared: DataFrame, tPct: Int, tables: Int = 1): DataFrame = {
    // one quantize/signBucket evaluation per corpus, not per join
    // side: explicit shared (tbl, bucket) exchange (simhashPairs
    // recipe; the isNotNull filter keeps the two subtrees canonically
    // equal under the join's inferred constraints)
    val q = prepared
      .withColumn("nsq", VF.normSqQ(col("qv")))
      .where(col("vec_id").isNotNull && col("bucket").isNotNull)
      .repartition(col("tbl"), col("bucket"))
    val cands = q.as("l").join(q.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("a_id"), col("r.vec_id").as("b_id"),
        col("l.qv").as("a_qv"), col("r.qv").as("b_qv"),
        col("l.nsq").as("a_nsq"), col("r.nsq").as("b_nsq"))
    val deduped = if (tables == 1) cands else cands.dropDuplicates("a_id", "b_id")
    deduped
      .withColumn("dot", VF.dotQ(col("a_qv"), col("b_qv")))
      .where(VF.cosineGePct(col("dot"), col("a_nsq"), col("b_nsq"), tPct))
      .select(col("a_id"), col("b_id"), col("dot"))
  }
}
