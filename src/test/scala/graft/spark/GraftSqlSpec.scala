package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

/** Round-trip of the pure-SQL surface: every composed operator view
  * registered by [[GraftSql]] must return exactly what the Scala API
  * returns — a SQL-console user and a library user see one engine. */
class GraftSqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private lazy val docs = {
    val base = Seq(
      "the quick brown fox jumps over the lazy dog tonight",
      "pack my box with five dozen liquor jugs right now",
      "how vexingly quick daft zebras jump around here")
    val rows = base.zipWithIndex.flatMap { case (t, i) =>
      Seq((i * 10L, t), (i * 10L + 1L, t + " extra"), (i * 10L + 2L, t))
    }
    rows.toDF("doc_id", "text")
  }

  test("dedup views round-trip: SQL SELECT ≡ Scala operator output") {
    docs.createOrReplaceTempView("docs_sql")
    GraftSql.registerDedupViews(spark, "docs_sql")
    def rows(sql: String) = spark.sql(sql).collect().map(_.toSeq).toSet

    assert(rows("SELECT * FROM graft_exact_groups") ==
      Dedup.exactGroups(docs).collect().map(_.toSeq).toSet)
    assert(rows("SELECT * FROM graft_minhash_star_pairs") ==
      Dedup.minhashLshStarPairs(docs).collect().map(_.toSeq).toSet)
    assert(rows("SELECT * FROM graft_containment_pairs") ==
      Dedup.ngramContainmentPairs(docs, minPermille = 800, maxDf = 64)
        .collect().map(_.toSeq).toSet)
    assert(rows("SELECT * FROM graft_components_star") ==
      Dedup.componentsStar(Dedup.minhashLshStarPairs(docs))
        .collect().map(_.toSeq).toSet)
    assert(rows("SELECT * FROM graft_exact_substring_spans") ==
      Dedup.exactSubstringSpans(docs).collect().map(_.toSeq).toSet)
    assert(rows("SELECT * FROM graft_seq_pack") ==
      graft.operators.Packing.sequencePack(docs, seqLen = 128, nShards = 8)
        .collect().map(_.toSeq).toSet)
    // adaptive view: labels ≡ the fixed-round fixpoint, and every row
    // carries the data-dependent round count (star pairs are
    // near-stars — converges in 1 productive round + the confirm)
    val adaptiveRows = spark.sql(
      "SELECT doc_id, component, rounds_used FROM graft_components_star_adaptive")
      .collect()
    assert(adaptiveRows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Dedup.componentsStar(Dedup.minhashLshStarPairs(docs))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val ru = adaptiveRows.map(_.getInt(2)).distinct
    assert(ru.length == 1 && ru.head >= 1 && ru.head <= 3,
      s"expected a small adaptive round count on a near-star graph, got ${ru.toSeq}")
    // keep-best view: one row per cluster, SQL ≡ Scala
    import org.apache.spark.sql.functions.{col, size, split}
    import graft.functions.{TextFunctions => TF}
    val labels = Dedup.components(Dedup.minhashLshStarPairs(docs),
      checkpointRounds = true)
    assert(rows("SELECT * FROM graft_keep_best") ==
      Dedup.keepBestPerCluster(docs, labels,
          TF.qualityBucket(col("text")).cast("long") * 100000L +
            size(split(col("text"), " ")))
        .collect().map(_.toSeq).toSet)
    assert(rows("SELECT * FROM graft_dup_coverage") ==
      Dedup.dupSpanCoverage(docs).collect().map(_.toSeq).toSet)
    // views COMPOSE with plain SQL (join a view against the source)
    val joined = spark.sql(
      """SELECT c.component, count(*) AS n
        |FROM graft_components c JOIN docs_sql d ON d.doc_id = c.doc_id
        |GROUP BY c.component ORDER BY component""".stripMargin).collect()
    assert(joined.nonEmpty && joined.map(_.getLong(1)).sum ==
      Dedup.components(Dedup.minhashLshStarPairs(docs)).count())
  }

  test("similarity views round-trip and compose in SQL") {
    val rnd = new scala.util.Random(11)
    val emb = Seq.tabulate(40)(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    emb.createOrReplaceTempView("emb_sql")
    GraftSql.registerSimilarityViews(spark, "emb_sql", "vec_id < 4", k = 3)
    val viaSql = spark.sql("SELECT * FROM graft_topk_brute").collect().map(_.toSeq).toSet
    val direct = Similarity.bruteForceTopK(emb.where("vec_id < 4"), emb, 3)
      .collect().map(_.toSeq).toSet
    assert(viaSql == direct)
    val lsh = spark.sql(
      "SELECT query_id, count(*) AS n FROM graft_topk_lsh GROUP BY query_id").collect()
    assert(lsh.forall(_.getLong(1) <= 3))
    val pq = spark.sql(
      "SELECT query_id, count(*) AS n FROM graft_topk_pq GROUP BY query_id").collect()
    assert(pq.nonEmpty && pq.forall(_.getLong(1) <= 3))
    val pqk = spark.sql(
      "SELECT query_id, count(*) AS n FROM graft_topk_pq_kmeans GROUP BY query_id").collect()
    assert(pqk.nonEmpty && pqk.forall(_.getLong(1) <= 3))
  }

  test("media views: image hashes + phash pairs round-trip in SQL") {
    import spark.implicits._
    def png(shift: Int): Array[Byte] = {
      val rgba = new Array[Byte](16 * 16 * 4)
      for (y <- 0 until 16; x <- 0 until 16) {
        val g = (x * 11 + y * 5 + shift) % 180
        val p = (y * 16 + x) * 4
        rgba(p) = g.toByte; rgba(p + 1) = g.toByte
        rgba(p + 2) = g.toByte; rgba(p + 3) = -1
      }
      graft.pdf.PdfImages.encodePng(16, 16, rgba)
    }
    Seq(("d1", "a.png", png(0)), ("d2", "b.png", png(0)),
        ("d3", "c.png", png(90)))
      .toDF("doc_id", "media_ref", "payload")
      .createOrReplaceTempView("media_sql")
    GraftSql.registerMediaViews(spark, "media_sql")
    val hashes = spark.sql("SELECT img_id FROM graft_image_hashes")
      .as[String].collect().toSet
    assert(hashes == Set("2:d1:a.png", "2:d2:b.png", "2:d3:c.png"))
    val pairs = spark.sql(
      "SELECT a_id, b_id, hamming FROM graft_image_phash_pairs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(pairs.toSeq == Seq(("2:d1:a.png", "2:d2:b.png", 0)), s"got ${pairs.toSeq}")
  }

  test("graph view: pagerank round-trips in SQL and matches the direct call") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 0L)).toDF("src", "dst")
    edges.createOrReplaceTempView("edges_sql")
    GraftSql.registerGraphViews(spark, "edges_sql", iterations = 2)
    val viaSql = spark.sql("SELECT id, pr FROM graft_pagerank ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == Seq((0L, 1127500L), (1L, 1722500L), (2L, 150000L)))
    // adaptive view over a SINK-bearing graph (node 2 has in-edges
    // but no out-edge): dangling redistribution on, rounds_used
    // present and constant, and the sink's rank must EXCEED the plain
    // ladder's no-inflow floor of 150000 + d*share
    Seq((0L, 1L), (0L, 2L), (1L, 0L)).toDF("src", "dst")
      .createOrReplaceTempView("edges_dang_sql")
    GraftSql.registerGraphViews(spark, "edges_dang_sql", iterations = 2)
    val ad = spark.sql(
      "SELECT id, pr, rounds_used FROM graft_pagerank_adaptive ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(ad.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(ad.map(_._3).distinct.length == 1 && ad.head._3 >= 1)
    assert(ad.find(_._1 == 2L).get._2 > 150000L,
      s"dangling share must reach the no-outdeg sink: ${ad.toSeq}")
  }

  test("graph view: an empty edges view registers empty rank views") {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("src", "dst").createOrReplaceTempView("edges_empty_sql")
    GraftSql.registerGraphViews(spark, "edges_empty_sql")
    assert(spark.sql("SELECT * FROM graft_pagerank").count() == 0)
    assert(spark.sql("SELECT * FROM graft_pagerank_adaptive").count() == 0)
  }
}
