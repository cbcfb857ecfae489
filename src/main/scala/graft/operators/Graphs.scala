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
  * Shape at 100 TB: one iteration = one join of the edge table with
  * the rank table on src (both partitioned by the join key — at scale
  * co-partition/bucket both by id and the join is shuffle-free), one
  * hash aggregation on dst (map-side partials collapse hot in-degree
  * nodes before the shuffle — the skew path), one left join back to
  * the node set. O(iterations) rounds, each shuffle-once; rank frames
  * are truncated per round ([[Rounds]]) so the logical plan stays
  * O(1) — the componentsStar lesson. Dangling nodes (outdeg 0) absorb
  * rank and contribute none, declared. Edges with a null endpoint are
  * dropped: a null is no node id (it would never match the fixpoint
  * probe, so the adaptive ladder could never converge). */
object Graphs {

  private val wide = DecimalType(38, 0)

  /** The loop-invariant frames every PageRank variant shares, each
    * truncated ONCE: the cast edge table (referenced by every round's
    * join — an untruncated upstream would re-execute per round), the
    * node set and the out-degrees. */
  private def prepGraph(edges: DataFrame,
      truncate: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val e = truncate(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull))
    val nodes = truncate(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    val outdeg = truncate(e.groupBy("src").agg(count(lit(1)).as("outdeg")))
    (e, nodes, outdeg)
  }

  /** One damped update: pr' = (1000−d)·10³ + (d·(inflow + share)) div
    * 10³, all DECIMAL(38,0)-widened (the hub-node inflow sum AND the
    * d·inflow product would wrap a long near 2^63 total contribution —
    * within 10× of the 10^12-node design point; the DuckDB twin's
    * BIGINT-into-HUGEINT sum is exact the same way). `share` is the
    * optional per-node dangling redistribution (a broadcast one-row
    * frame), 0 when disabled. */
  private def rankRound(e: DataFrame, nodes: DataFrame, outdeg: DataFrame,
      ranks: DataFrame, base: Long, dampingPermille: Int,
      share: Option[DataFrame]): DataFrame = {
    val contrib = e
      .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
      .join(outdeg, Seq("src"))
      .select(col("dst").as("id"), expr("pr div outdeg").as("c"))
    val inflow = contrib.groupBy("id")
      .agg(sum(col("c").cast(wide)).as("inflow"))
    val withShare = share match {
      case Some(sh) => nodes.join(inflow, Seq("id"), "left").crossJoin(broadcast(sh))
      case None => nodes.join(inflow, Seq("id"), "left").withColumn("share", lit(0L))
    }
    withShare.select(col("id"),
      (lit(base) + floor((coalesce(col("inflow"), lit(0L).cast(wide)) +
        col("share").cast(wide)) * dampingPermille / 1000).cast("long")).as("pr"))
  }

  /** `iterations` rounds of damped integer PageRank over
    * `edges(src, dst)`. Output: (id, pr) for every node appearing as
    * src or dst of an edge with no null endpoint. */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      dampingPermille: Int = 850,
      truncate: DataFrame => DataFrame = Rounds.defaultTruncate): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    rank(edges, iterations, dampingPermille, redistributeDangling = false,
      truncate, None)._1
  }

  /** CONVERGENCE-ADAPTIVE [[pageRank]] with optional DANGLING-MASS
    * redistribution — the two standard knobs the fixed-rounds ladder
    * declares out:
    *
    *  - rounds run until the rank vector reaches an exact FIXPOINT
    *    (integer ranks make "this round changed nothing" an equality
    *    test, not an epsilon — one left-anti probe per round over the
    *    already-truncated frames); `maxIterations`
    *    bounds a slow spectrum (contraction is ×d/1000 per round, so
    *    micro-unit ranks converge in ≲ log(10⁶)/log(1000/d) rounds);
    *  - with `redistributeDangling`, each round sums the rank held by
    *    dangling nodes (outdeg 0 — they absorb mass in the plain
    *    ladder) and hands every node `floor(danglingSum / n)` extra
    *    inflow before damping: the standard stochastic-matrix repair
    *    (Page et al. 1999 §2.6), floor-exact so the DuckDB twin
    *    replays it.
    *
    * Returns (ranks(id, pr), roundsExecuted); roundsExecuted INCLUDES
    * the final confirming no-op round — a pre-converged input (a
    * permutation graph at the uniform fixpoint) reports 1. */
  def pageRankAdaptive(edges: DataFrame, maxIterations: Int = 40,
      dampingPermille: Int = 850, redistributeDangling: Boolean = false,
      truncate: DataFrame => DataFrame = Rounds.defaultTruncate): (DataFrame, Int) = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    // every rank frame holds EXACTLY one row per node (initial ranks
    // project the node set; rankRound is nodes left-join inflow with
    // inflow unique per id), so multiset equality reduces to one
    // left-anti containment probe on (id, pr)
    rank(edges, maxIterations, dampingPermille, redistributeDangling, truncate,
      Some((prev, next) => next.join(prev, Seq("id", "pr"), "left_anti").isEmpty))
  }

  /** The one PageRank body: `maxRounds` rounds, or fewer when `stop`
    * detects the fixpoint. */
  private def rank(edges: DataFrame, maxRounds: Int, dampingPermille: Int,
      redistributeDangling: Boolean, truncate: DataFrame => DataFrame,
      stop: Option[(DataFrame, DataFrame) => Boolean]): (DataFrame, Int) = {
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      s"dampingPermille must be in [0,1000], got $dampingPermille")
    val (e, nodes, outdeg) = prepGraph(edges, truncate)
    val base = (1000L - dampingPermille) * 1000L
    // only the dangling path reads the node count — don't pay its
    // eager materialization otherwise
    lazy val nCount = truncate(nodes.agg(count(lit(1)).as("n_nodes")))
    def share(ranks: DataFrame): Option[DataFrame] =
      if (!redistributeDangling) None
      else Some(ranks
        .join(outdeg.select(col("src").as("id")), Seq("id"), "left_anti")
        .agg(coalesce(sum(col("pr").cast(wide)), lit(0L).cast(wide)).as("dang"))
        .crossJoin(broadcast(nCount))
        .select(expr("dang div n_nodes").cast("long").as("share")))
    val uniform = nodes.select(col("id"), lit(1000000L).as("pr"))
    // the fixpoint probe reads round 1's input, so only then is it
    // materialized
    Rounds.iterate(if (stop.isDefined) truncate(uniform) else uniform,
      ranks => rankRound(e, nodes, outdeg, ranks, base, dampingPermille, share(ranks)),
      maxRounds, truncate, stop)
  }
}
