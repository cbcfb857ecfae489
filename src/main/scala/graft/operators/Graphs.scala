package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph-centrality operators over edge tables — the link-graph
  * quality signals corpus curation weights documents by (Common Crawl
  * publishes its host ranking from exactly this family of centrality
  * computations over the crawl's link graph; PageRank: Page, Brin,
  * Motwani, Winograd 1999).
  *
  * Exactness design: ranks are integer micro-units (initial rank
  * 10^6 per node) and every update is floor arithmetic —
  * `contribution = rank div outdeg`, `rank' = (1000−d)·10³ +
  * (d·inflow) div 10³` with damping d in permille — so an external
  * engine replays the exact integers; no float summation order, no
  * convergence epsilon to pin. (Floor division leaks a few
  * micro-units per step — fine: the DETERMINISTIC fixed-point ladder
  * is the contract, not stochastic-matrix conservation.)
  *
  * Shape at 100 TB (Pregel's vertex state, Malewicz et al. SIGMOD
  * 2010): the rank frame is (id, pr, dsts, prev) — each node carries
  * its own out-edge list, so a round needs NO edge join. One round =
  * the frame's one self row per node ∪ its exploded contribution rows
  * (dst, pr div size(dsts)), then ONE aggregation on id (sum of
  * contributions, the old rank, the edge list). One shuffle per round;
  * a hot in-degree node is one group key whose rows the partial
  * aggregation merges map-side. The edge lists are built once, by one
  * aggregation. Rank frames are truncated per round ([[Rounds]]) so
  * the logical plan stays O(1) — the componentsStar lesson. Dangling
  * nodes (no out-edge, `dsts` null) absorb rank and contribute none,
  * declared. Edges with a null endpoint are dropped: a null is no node
  * id. */
object Graphs {

  private val wide = DecimalType(38, 0)

  /** The initial rank frame (id, pr, dsts, prev), one row per node
    * of an edge with no null endpoint: rank 10^6, `dsts` the node's
    * out-edge list (duplicate edges kept, so size(dsts) is the
    * out-degree; null for a dangling node), `prev` null. Each edge
    * emits its src with its dst and its dst with no dst, so ONE
    * aggregation on id builds the node set and the lists together. */
  private def initFrame(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .select(explode(array(
        struct(col("src").as("id"), col("dst").as("d")),
        struct(col("dst").as("id"), lit(null).cast("long").as("d")))).as("v"))
      .groupBy(col("v.id").as("id"))
      .agg(collect_list(col("v.d")).as("dsts"))
      .select(col("id"), lit(1000000L).as("pr"),
        when(size(col("dsts")) > 0, col("dsts")).as("dsts"), lit(null).cast("long").as("prev"))

  /** One damped update: pr' = (1000−d)·10³ + (d·(inflow + share)) div
    * 10³, all DECIMAL(38,0)-widened (the hub-node inflow sum AND the
    * d·inflow product would wrap a long near 2^63 total contribution —
    * within 10× of the 10^12-node design point; the DuckDB twin's
    * BIGINT-into-HUGEINT sum is exact the same way). Inflow comes from
    * the contribution rows `pr div size(dsts)`; the node's self row
    * carries its edge list and its rank into `prev`. `share` is the
    * per-node dangling redistribution, 0 when disabled. */
  private def rankRound(ranks: DataFrame, base: Long, dampingPermille: Int,
      share: Long): DataFrame = {
    val self = ranks.select(col("id"), lit(null).cast("long").as("c"),
      col("dsts"), col("pr").as("prev"))
    val contrib = ranks.select(explode(col("dsts")).as("id"),
      expr("pr div size(dsts)").as("c"),
      lit(null).cast("array<bigint>").as("dsts"), lit(null).cast("long").as("prev"))
    self.unionAll(contrib).groupBy("id")
      .agg(sum(col("c").cast(wide)).as("inflow"), max(col("dsts")).as("dsts"),
        max(col("prev")).as("prev"))
      .select(col("id"),
        (lit(base) + floor((coalesce(col("inflow"), lit(0L).cast(wide)) +
          lit(share).cast(wide)) * dampingPermille / 1000).cast("long")).as("pr"),
        col("dsts"), col("prev"))
  }

  /** `iterations` rounds of damped integer PageRank over
    * `edges(src, dst)`. Output: (id, pr) for every node appearing as
    * src or dst of an edge with no null endpoint. */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      dampingPermille: Int = 850,
      truncate: DataFrame => DataFrame = Rounds.defaultTruncate): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    rank(edges, iterations, dampingPermille, redistributeDangling = false,
      truncate, adaptive = false)._1
  }

  /** CONVERGENCE-ADAPTIVE [[pageRank]] with optional DANGLING-MASS
    * redistribution — the two standard knobs the fixed-rounds ladder
    * declares out:
    *
    *  - rounds run until the rank vector reaches an exact FIXPOINT
    *    (integer ranks make "this round changed nothing" an equality
    *    test, not an epsilon — counted by the round's own truncation as
    *    the rows with pr <> prev); `maxIterations`
    *    bounds a slow spectrum (contraction is ×d/1000 per round, so
    *    micro-unit ranks converge in ≲ log(10⁶)/log(1000/d) rounds);
    *  - with `redistributeDangling`, each round sums the rank held by
    *    dangling nodes (outdeg 0 — they absorb mass in the plain
    *    ladder) and hands every node `floor(danglingSum / n)` extra
    *    inflow before damping: the standard stochastic-matrix repair
    *    (Page et al. 1999 §2.6), floor-exact so the DuckDB twin
    *    replays it.
    *
    * `truncate` must run an action (the round metrics ride it, see
    * [[Rounds]]). Returns (ranks(id, pr), roundsExecuted);
    * roundsExecuted INCLUDES the final confirming no-op round — a
    * pre-converged input (a permutation graph at the uniform fixpoint)
    * or an empty graph reports 1. */
  def pageRankAdaptive(edges: DataFrame, maxIterations: Int = 40,
      dampingPermille: Int = 850, redistributeDangling: Boolean = false,
      truncate: DataFrame => DataFrame = Rounds.defaultTruncate): (DataFrame, Int) = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    rank(edges, maxIterations, dampingPermille, redistributeDangling, truncate,
      adaptive = true)
  }

  /** The one PageRank body: `maxRounds` rounds, or fewer when
    * `adaptive` and a round changed no rank. Only the adaptive ladder
    * reads round metrics (and redistributes dangling mass), so the
    * fixed one stays lazy under a lazy `truncate`. */
  private def rank(edges: DataFrame, maxRounds: Int, dampingPermille: Int,
      redistributeDangling: Boolean, truncate: DataFrame => DataFrame,
      adaptive: Boolean): (DataFrame, Int) = {
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      s"dampingPermille must be in [0,1000], got $dampingPermille")
    val base = (1000L - dampingPermille) * 1000L
    val (last, used) =
      if (!adaptive)
        Rounds.iterate(initFrame(edges), ranks => rankRound(ranks, base, dampingPermille, 0L),
          maxRounds, truncate, None)
      else {
        // every frame holds EXACTLY one row per node, so "the rank
        // vector is unchanged" is `changed == 0`
        val t = new Rounds.Observed(truncate,
          count(when(col("pr") =!= col("prev"), 1)).as("changed"),
          coalesce(sum(when(col("dsts").isNull, col("pr").cast(wide))), lit(0).cast(wide))
            .as("dang"),
          count(lit(1)).as("n"))
        // floor(danglingSum / n) over the frame truncated last
        def share(): Long = {
          val n = t.last.getAs[Long]("n")
          if (!redistributeDangling || n == 0) 0L
          else t.last.getAs[java.math.BigDecimal]("dang").toBigInteger
            .divide(java.math.BigInteger.valueOf(n)).longValueExact
        }
        Rounds.iterate(t(initFrame(edges)),
          ranks => rankRound(ranks, base, dampingPermille, share()),
          maxRounds, t, Some((_, _) => t.last.getAs[Long]("changed") == 0))
      }
    (last.select("id", "pr"), used)
  }
}
