package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.spark.TaskMeter

class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // ---- text functions -------------------------------------------------

  test("tokenCount / distinct / stopword permille are integer-exact") {
    val df = docs((1L, "the cat sat on the mat"))
      .select(
        TF.tokenCount($"text").as("n"),
        TF.distinctTokenCount($"text").as("d"),
        TF.stopRatioPermille($"text").as("s"))
    val r = df.head()
    assert(r.getInt(0) == 6)
    assert(r.getInt(1) == 5) // 'the' twice
    assert(r.getLong(2) == 333L) // floor(2*1000/6)
  }

  test("fingerprint is order- and duplication-invariant") {
    val df = docs((1L, "b a b c"), (2L, "c b a"), (3L, "a b d"))
      .select($"doc_id", TF.fingerprint($"text").as("fp")).collect()
    val fp = df.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("shingles: n-grams with md5, empty below n tokens") {
    val r = docs((1L, "a b c d"), (2L, "a b"))
      .select($"doc_id", size(TF.shingles($"text", 3)).as("n")).collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(r(1L) == 2) // "a b c", "b c d"
    assert(r(2L) == 0)
  }

  test("shingles: one document of 30,000 distinct tokens keys its shingles in linear time") {
    // distinct binary keys come from the expression's own hash set:
    // array_distinct compares binary elements pairwise (5 s for 32,000)
    val big = (0 until 30000).map(i => s"t$i").mkString(" ")
    val t0 = System.nanoTime
    val pairs = Dedup.ngramJaccardPairs(docs((1L, big), (2L, big)), 3, minPermille = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert((System.nanoTime - t0) / 1e9 < 5.0, "a large document must not cost a scan per shingle")
    assert(pairs.toSeq == Seq((1L, 2L, 1000L)))
  }

  test("simhash32: deterministic, in range, near for near-duplicate docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.split(" ").drop(1).mkString(" ")
    val far = "completely different words about spark shuffles and catalyst plans"
    val r = docs((1L, base), (2L, near), (3L, far), (4L, base))
      .select($"doc_id", TF.simhash32($"text").as("sh")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.values.foreach(v => assert(v >= 0 && v <= 0xffffffffL))
    assert(r(1L) == r(4L)) // deterministic
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(r(1L), r(2L)) < ham(r(1L), r(3L)),
      s"near doc should be closer: ${ham(r(1L), r(2L))} vs ${ham(r(1L), r(3L))}")
  }

  test("langId picks the language with most marker hits") {
    val r = docs(
      (1L, "the cat is of the house"),
      (2L, "el gato es de la casa"),
      (3L, "der hund und die katze"),
      (4L, "xyz qqq www"))
      .select($"doc_id", TF.langIdHeuristic($"text").as("l")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "unknown"))
  }

  // ---- vector functions ----------------------------------------------

  test("quantized dot / norm / cosine threshold are exact") {
    val df = Seq((1L, Seq(1.0f, 0.0f, 0.5f)), (2L, Seq(0.5f, 0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    val q = df.select($"vec_id", VF.quantize($"embedding").as("qv"))
    val a = q.where($"vec_id" === 1).select($"qv").as[Seq[Long]].head()
    assert(a == Seq(1000L, 0L, 500L))
    val pair = q.as("l").crossJoin(q.as("r"))
      .where($"l.vec_id" === 1 && $"r.vec_id" === 2)
      .select(VF.dotQ($"l.qv", $"r.qv").as("dot"),
        VF.normSqQ($"l.qv").as("na"), VF.normSqQ($"r.qv").as("nb"))
      .head()
    assert(pair.getLong(0) == 1000L * 500 + 500L * 250) // 625000
    assert(pair.getLong(1) == 1250000L)
  }

  test("sign-LSH bucket = sign bits of leading dims") {
    val df = Seq((1L, Seq(1.0f, -1.0f, 1.0f, -1.0f)), (2L, Seq(-0.1f, 0.1f, 0.1f, 0.1f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", VF.signBucket($"embedding", 4).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df(1L) == (1 + 4)) // dims 1,3 non-negative
    assert(df(2L) == (2 + 4 + 8))
  }

  test("VectorDotQ native expression: codegen and interpreted paths agree") {
    import graft.functions.VectorDotQ
    import org.apache.spark.sql.GraftColumnBridge._
    val df = Seq((Seq(3L, -2L, 7L), Seq(10L, 4L, 2L))).toDF("a", "b")
    val expected = 3L * 10 - 2L * 4 + 7L * 2 // 36
    // codegen path (whole-stage)
    val viaPlan = df.select(toColumn(VectorDotQ(toExpression($"a"), toExpression($"b"))))
      .head().getLong(0)
    assert(viaPlan == expected)
    // interpreted path (eval)
    val expr = VectorDotQ(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Seq(3L, -2L, 7L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(Seq(10L, 4L, 2L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
    assert(expr.eval(null) == expected)
    // null propagation
    val nulled = df.select(toColumn(VectorDotQ(
      toExpression(lit(null).cast("array<bigint>")), toExpression($"b"))))
    assert(nulled.head().isNullAt(0))
  }

  test("dot_q is registered for SQL use") {
    graft.functions.GraftFunctions.register(spark)
    Seq((Seq(2L, 3L), Seq(4L, 5L))).toDF("a", "b").createOrReplaceTempView("vecs")
    assert(spark.sql("SELECT dot_q(a, b) FROM vecs").head().getLong(0) == 23L)
    assert(spark.sql("SELECT token_simhash64('').lo").head().getLong(0) == 0xd41d8cd9L)
  }

  test("GraftExtensions installs the native functions via SparkSessionExtensions") {
    // a SEPARATE session built with .withExtensions over the same
    // SparkContext — the application-level install path
    // (spark.sql.extensions=graft.spark.GraftExtensions). getOrCreate
    // returns the default session if one is set (ignoring extensions),
    // so clear it first and restore after; never stop() here — the
    // context is shared by the whole JVM's suites.
    import org.apache.spark.sql.SparkSession
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]").appName("graft-ext-spec")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.spark.GraftExtensions)
        .getOrCreate()
      assert(s2.sql("SELECT dot_q(array(2L, 3L), array(4L, 5L))").head().getLong(0) == 23L)
      assert(s2.sql("SELECT token_simhash64('').hi").head().getLong(0) == 0x8f00b204L)
      assert(s2.sql("SELECT size(shingle_md5s('a b c d', 2))").head().getInt(0) == 3)
      assert(s2.sql("SELECT size(minhash_sigs('a b c d', 2, 4))").head().getInt(0) == 4)
      assert(s2.sql("SELECT rolling_fp('A')").head().getLong(0) == 65L)
      assert(s2.sql(
        "SELECT array_min_agg(a) FROM VALUES (array('b','z')), (array('c','a')) t(a)")
        .head().getSeq[String](0).toList == List("b", "a"))
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prev.foreach(SparkSession.setDefaultSession)
    }
  }

  // ---- dedup operators ------------------------------------------------

  test("exactGroups groups identical token-sets and keeps min doc_id") {
    val d = docs((5L, "x y z"), (9L, "z y x"), (7L, "totally other text"))
    val g = Dedup.exactGroups(d).where($"dup_count" >= 2).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("keep_id") == 5L)
    assert(g(0).getAs[Long]("dup_count") == 2L)
  }

  test("minhashLshPairs finds near-duplicates, not unrelated docs") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val near = (1 to 30).filter(_ != 7).map(i => s"tok$i").mkString(" ")
    val far = (100 to 130).map(i => s"w$i").mkString(" ")
    val pairs = Dedup.minhashLshPairs(docs((1L, base), (2L, near), (3L, far)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH and star pairs: a null doc_id row yields no pair, the other pairs are unchanged") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val near = (1 to 30).filter(_ != 7).map(i => s"tok$i").mkString(" ")
    val far = (100 to 130).map(i => s"w$i").mkString(" ")
    val rows = Seq((Some(1L), base), (Some(2L), near), (Some(3L), far))
    // the null row shares every band with doc 1
    val withNull = (rows :+ ((None, base))).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1))).toSet
    Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "minhashLshPairs" -> (d => Dedup.minhashLshPairs(d)),
      "minhashLshStarPairs" -> (d => Dedup.minhashLshStarPairs(d))).foreach { case (op, f) =>
      val got = pairs(f(withNull))
      assert(got == pairs(f(rows.toDF("doc_id", "text"))), op)
      assert(got == Set((1L, 2L)), op)
    }
  }

  test("ngramJaccardPairs computes exact permille jaccard") {
    // A: shingles of "a b c d e" = {abc, bcd, cde}; B: "a b c d" = {abc, bcd}
    // J = 2/3 -> 666 permille
    val pairs = Dedup.ngramJaccardPairs(
      docs((1L, "a b c d e"), (2L, "a b c d")), shingleN = 3, minPermille = 100)
      .collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("jaccard_pm") == 666L)
  }

  test("capped jaccard (bounded buffers) matches the unbounded-collect reference output") {
    val d = docs(
      (1L, "a b c d e f"), (2L, "a b c d x y"), (3L, "a b c q r s"),
      (4L, "m n o p q r"), (5L, "m n o p q z"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("jaccard_pm"))).toSet
    val capped = pairs(Dedup.ngramJaccardPairs(d, 3, minPermille = 100, maxDf = 3))
    // reference: replicate the cap by filtering shingles with df>3 out of
    // the uncapped computation — "a b c" has df 3, kept; no shingle
    // exceeds 3, so capped must equal uncapped exactly
    val uncapped = pairs(Dedup.ngramJaccardPairs(d, 3, minPermille = 100))
    assert(capped == uncapped)
  }

  test("ngramContainmentPairs: asymmetric permille containment, hand-computed") {
    // A = "a b c d e f": shingles {abc,bcd,cde,def} (4)
    // B = "x a b c d e f y": 6 shingles, superset of A's 4
    // containment(A in B) = 4/4 = 1000; containment(B in A) = floor(4000/6) = 666
    val pairs = Dedup.ngramContainmentPairs(
      docs((1L, "a b c d e f"), (2L, "x a b c d e f y")), shingleN = 3, minPermille = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("containment_pm")).toMap
    assert(pairs((1L, 2L)) == 1000L)
    assert(pairs((2L, 1L)) == 666L)
  }

  test("jaccard/containment: a doc_id repeated in rows sharing a shingle fails, naming the id") {
    // parent answer: jaccard (1,1,333) and (1,2,2000) — above 1000
    // permille — and containment (1,1,500) twice
    val d = docs((1L, "a b c d"), (1L, "a b c d"), (2L, "a b c d"))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" | ")
    Seq[() => Any](
      () => Dedup.ngramJaccardPairs(d, 3, minPermille = 0).collect(),
      () => Dedup.ngramJaccardPairs(d, 3, minPermille = 0, maxDf = 10).collect(),
      () => Dedup.ngramContainmentPairs(d, 3, minPermille = 0).collect()).foreach { run =>
      val e = intercept[Exception](run())
      assert(messages(e).contains("IllegalArgumentException: doc_id 1 occurs more than once"),
        messages(e))
    }
    // a doc_id repeated in rows that share NO shingle is one document
    // whose set is the union: {abc, bcd} ∪ {wxy, xyz} against 6 shingles
    val u = docs((1L, "a b c d"), (1L, "w x y z"), (2L, "a b c d w x y z"))
    assert(Dedup.ngramJaccardPairs(u, 3, minPermille = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == Set((1L, 2L, 666L)))
    assert(Dedup.ngramContainmentPairs(u, 3, minPermille = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 2L, 1000L), (2L, 1L, 666L)))
  }

  test("jaccard/containment: a null doc_id row is dropped before df is counted (capped answer unchanged)") {
    // parent: the null row counted toward df, so "a b c" (df 3 > 2) was
    // capped out and the capped query returned nothing
    val withNull = Seq((Some(1L), "a b c d"), (Some(2L), "a b c e"), (None, "a b c f"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Seq(2, Int.MaxValue).foreach { cap =>
      assert(rows(Dedup.ngramJaccardPairs(withNull, 3, minPermille = 0, maxDf = cap)) ==
        Set((1L, 2L, 333L)), s"maxDf $cap")
      assert(rows(Dedup.ngramContainmentPairs(withNull, 3, minPermille = 0, maxDf = cap)) ==
        Set((1L, 2L, 500L), (2L, 1L, 500L)), s"maxDf $cap")
    }
  }

  test("jaccard/containment: one shingle's members over 8 partitions give the single-partition answer, capped and uncapped") {
    // doc i = "a b c p_k q_k r_k s_i", k = i % 3: "a b c" has df 24, each
    // class shingle df 8. Over 8 partitions every partition holds 3 of
    // "a b c"'s members, so a cap of 20 drops it only when the cap is
    // applied to the merged df
    val rows = (1L to 24L).map(i => (i, s"a b c p${i % 3} q${i % 3} r${i % 3} s$i"))
    def input(parts: Int) = spark.sparkContext.parallelize(rows, parts).toDF("doc_id", "text")
    def answer(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def jaccard(parts: Int, cap: Int) =
      answer(Dedup.ngramJaccardPairs(input(parts), 3, minPermille = 0, maxDf = cap))
    def containment(parts: Int, cap: Int) =
      answer(Dedup.ngramContainmentPairs(input(parts), 3, minPermille = 0, maxDf = cap))
    Seq(Int.MaxValue, 30, 20, 5).foreach { cap =>
      assert(jaccard(8, cap) == jaccard(1, cap), s"jaccard, maxDf $cap")
      assert(containment(8, cap) == containment(1, cap), s"containment, maxDf $cap")
    }
    // same class: 4 of 6 shingles shared, or 3 of 5 once "a b c" is capped out
    assert(jaccard(8, 30).contains((1L, 4L, 666L)) && jaccard(8, 30).contains((1L, 2L, 111L)))
    assert(jaccard(8, 20) == jaccard(8, 30).collect { case (a, b, _) if a % 3 == b % 3 => (a, b, 600L) })
    assert(containment(8, 20).contains((1L, 4L, 750L)))
    assert(jaccard(8, 5).isEmpty && containment(8, 5).isEmpty)
  }

  test("shingle member lists: flushing the combine at a small limit gives the unflushed lists") {
    val rows = (1L to 40L).map(i => (i, s"a b c p${i % 5} q${i % 5} r${i % 7} s$i t"))
    val d = spark.sparkContext.parallelize(rows, 2).toDF("doc_id", "text")
    def lists(partials: DataFrame, cap: Int) = ShingleMembers.merged(partials, cap).collect()
      .map(r => (r.getAs[Array[Byte]]("sh").toSeq, r.getLong(1), r.getSeq[Long](2))).toSet
    Seq(Int.MaxValue, 6).foreach { cap =>
      val flushed = ShingleMembers.combined(d, 3, cap, flushIds = 4)
      val whole = ShingleMembers.combined(d, 3, cap, flushIds = Int.MaxValue)
      assert(flushed.count() > whole.count(), s"maxDf $cap: the small limit never flushed")
      assert(lists(flushed, cap) == lists(whole, cap), s"maxDf $cap")
    }
  }

  test("shingle member lists: empty input yields no rows") {
    val empty = docs()
    assert(ShingleMembers(empty, 3, Int.MaxValue).count() == 0)
    assert(ShingleMembers(empty, 3, 10).count() == 0)
    assert(Dedup.ngramJaccardPairs(empty, 3, minPermille = 0).count() == 0)
  }

  test("jaccard/containment: the partner pass runs once per query") {
    // a partner pass is a stage holding the MapPartitions node; it ran
    // twice when the pair rows were a broadcast build side AQE re-planned,
    // or when the query's sort sampled a stage that held the pass
    val sf = "/root/testdata/sf0.01"
    val sc = spark.sparkContext
    val passes = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.scope.exists(_.name == "MapPartitions")))
          passes.incrementAndGet()
    }
    def passesOf(df: org.apache.spark.sql.DataFrame): Int = {
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      val p0 = passes.get()
      df.collect()
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      passes.get() - p0
    }
    sc.addSparkListener(listener)
    try {
      val got = Seq("dedup_jaccard" -> graft.spark.Queries.dedupJaccard(spark, sf),
          "dedup_jaccard_capped" -> graft.spark.Queries.dedupJaccardCapped(spark, sf),
          "dedup_containment" -> graft.spark.Queries.dedupContainment(spark, sf))
        .map { case (q, df) => q -> passesOf(df) }
      assert(got.forall(_._2 == 1), s"partner pass stages per query: $got")
    } finally sc.removeSparkListener(listener)
  }

  test("IVF and IVF-PQ top-k: at most 7 Spark jobs per query, index fold included") {
    // the index's small side is read once on the driver; the item scan,
    // the per-query window and the caller's order are the rest (over the
    // benchmark's copy of the sf0.01 embeddings)
    val sf = "perfbench/data/sf0.01"
    def jobsOf(q: (SparkSession, String) => DataFrame): Long =
      TaskMeter.around(spark.sparkContext)(q(spark, sf).collect())._2.jobs
    val got = Seq("sim_topk_pq" -> jobsOf(graft.spark.Queries.simTopkPq),
        "sim_topk_ivf" -> jobsOf(graft.spark.Queries.simTopkIvf))
    info(s"Spark jobs per query: $got")
    assert(got.forall(_._2 <= 7), s"Spark jobs per query: $got")
  }

  test("bottomKDistinct: k smallest DISTINCT values ascending, across shuffled partials") {
    val rnd = new scala.util.Random(5)
    val values = Vector.fill(500)(rnd.nextInt(80).toLong) // heavy duplication
    val got = values.toDF("v").repartition(8)
      .agg(TF.bottomKDistinct($"v", 10).as("bk"))
      .head().getSeq[Long](0).toList
    assert(got == values.distinct.sorted.take(10).toList)
    // fewer distinct than k: buffer IS the distinct set
    val small = Seq(3L, 1L, 3L, 2L, 1L).toDF("v").repartition(3)
      .agg(TF.bottomKDistinct($"v", 10).as("bk"))
      .head().getSeq[Long](0).toList
    assert(small == List(1L, 2L, 3L))
  }

  test("KMV estimate: within 25% of the exact distinct count on the documents tokens") {
    val r = graft.spark.Queries.textDistinctKmv(spark, "/root/testdata/sf0.001").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val est = row.getLong(1); val exact = row.getLong(2)
      assert(est > 0 && exact > 0)
      assert(math.abs(est - exact).toDouble / exact < 0.25,
        s"bucket ${row.getLong(0)}: est=$est exact=$exact")
    }
  }

  test("uncapped jaccard surfaces hot-shingle exposure via the max_df observation") {
    val obs = new org.apache.spark.sql.Observation("jaccard-maxdf")
    val d = docs((1L, "a b c d"), (2L, "a b c e"), (3L, "a b c f"))
    Dedup.ngramJaccardPairs(d, 3, minPermille = 0, maxDfObs = Some(obs)).collect()
    assert(obs.get("max_df") == 3L) // "a b c" appears in all three docs
  }

  test("simhashPairs finds hamming<=3 pairs via block index") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).filter(_ != 3).map(i => s"tok$i").mkString(" ")
    val pairs = Dedup.simhashPairs(docs((1L, base), (2L, near)), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("embeddingNearDupPairs: identical vectors pair, orthogonal do not") {
    val e = Seq(
      (1L, Seq(0.6f, 0.8f, 0.0f, 0.1f)),
      (2L, Seq(0.6f, 0.8f, 0.0f, 0.1f)),   // same bucket, cos=1
      (3L, Seq(0.8f, -0.6f, 0.0f, 0.1f))) // different sign pattern
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(e, tPct = 95, lshBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhashStarPairs: members pair only with the block-bucket canon, deduped across blocks") {
    val d = docs((4L, "alpha beta gamma delta"), (7L, "alpha beta gamma delta"),
      (9L, "alpha beta gamma delta"), (2L, "totally different words here"))
    val pairs = Dedup.simhashStarPairs(d, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // identical docs share every block bucket; canon=4 → exactly the
    // star edges (4,7),(4,9) at hamming 0, each emitted once, no (7,9)
    assert(pairs.toSet == Set((4L, 7L, 0), (4L, 9L, 0)))
    assert(pairs.length == 2) // cross-block duplicates removed
  }

  test("embeddingNearDupStarPairs: members pair only with the bucket canon, linear output") {
    val e = Seq(
      (1L, Seq(0.3f, 0.4f, 0.0f, 0.1f)),  // bucket canon (min id)
      (2L, Seq(0.6f, 0.8f, 0.0f, 0.1f)),  // same bucket, cos≈1 vs canon
      (5L, Seq(0.6f, 0.8f, 0.0f, 0.1f)),  // same again — pairs with canon, NOT with 2
      (3L, Seq(0.8f, -0.6f, 0.0f, 0.1f))) // different bucket, alone -> no pair
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupStarPairs(e, tPct = 95, lshBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 5L))) // star: no (2,5) — linear in bucket size
  }

  test("ArrayMinAgg: element-wise min across a shuffled group; nulls ignored; empty group null") {
    val df = Seq(
      (1L, Some(Seq("m", "a", "z"))),
      (1L, Some(Seq("b", "x", "y"))),
      (1L, None: Option[Seq[String]]), // ignored like built-in min
      (2L, Some(Seq("q", "q", "q"))))
      .toDF("k", "arr").repartition(4) // forces partial/merge/serialize path
    val got = df.groupBy("k").agg(TF.arrayMinAgg($"arr").as("m"))
      .collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[scala.collection.Seq[String]]("m").toList)
      .toMap
    assert(got(1L) == List("b", "a", "y"))
    assert(got(2L) == List("q", "q", "q"))
  }

  test("ArrayLongSumAgg: element-wise sum across a shuffled group; null inputs ignored") {
    val df = Seq(
      (1L, Some(Seq(1L, 10L, 100L))),
      (1L, Some(Seq(2L, 20L, 200L))),
      (1L, None: Option[Seq[Long]]), // ignored like built-in sum
      (2L, Some(Seq(-5L, 0L, 7L))))
      .toDF("k", "arr").repartition(4) // forces partial/merge/serialize path
    val got = df.groupBy("k")
      .agg(graft.functions.VectorFunctions.arraySumAgg($"arr").as("s"))
      .collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[scala.collection.Seq[Long]]("s").toList)
      .toMap
    assert(got(1L) == List(3L, 30L, 300L))
    assert(got(2L) == List(-5L, 0L, 7L))
  }

  test("ArrayLongSumAgg ≡ the explode + per-dim sum formulation (the Lloyd mean numerator)") {
    // the kmeans operators replaced groupBy(g, d).sum + reassembly with
    // this aggregate; pin the equivalence the swap relies on
    val df = Seq(
      (0L, Seq(3L, -1L, 4L)), (0L, Seq(1L, 5L, 9L)), (0L, Seq(2L, 6L, 5L)),
      (1L, Seq(7L, 7L, 7L)))
      .toDF("g", "v").repartition(3)
    val viaAgg = df.groupBy("g")
      .agg(graft.functions.VectorFunctions.arraySumAgg($"v").as("s"))
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("s").toList).toMap
    val viaExplode = df
      .select($"g", posexplode($"v").as(Seq("d", "x")))
      .groupBy("g", "d").agg(sum($"x").as("m"))
      .groupBy("g")
      .agg(transform(array_sort(collect_list(struct($"d", $"m"))),
        p => p.getField("m")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("s").toList).toMap
    assert(viaAgg == viaExplode)
  }

  test("ArrayMinAgg: null ELEMENTS are skipped; all-null positions stay null; shuffled merge path") {
    val df = Seq(
      (1L, Seq(Some("m"), None, None)),
      (1L, Seq(Some("b"), Some("x"), None)))
      .toDF("k", "arr").repartition(4)
    val got = df.groupBy("k").agg(TF.arrayMinAgg($"arr").as("m"))
      .collect().map(r => r.getAs[scala.collection.Seq[String]]("m").toList).head
    assert(got == List("b", "x", null))
  }

  test("array_min_agg: non-array SQL argument is an ANALYSIS error, not a runtime ClassCastException") {
    import org.apache.spark.sql.SparkSession
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]").appName("graft-amg-spec")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.spark.GraftExtensions)
        .getOrCreate()
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT array_min_agg(x) FROM VALUES (1), (2) t(x)").collect()
      }
      assert(e.getMessage.contains("array<string>"))
      // and null ELEMENTS are handled (skipped), not NPE
      assert(s2.sql(
        "SELECT array_min_agg(a) FROM VALUES (array('b', CAST(NULL AS STRING))), (array('c','a')) t(a)")
        .head().getSeq[String](0).toList == List("b", "a"))
      // the round-4 aggregates are SQL-registered through the same extensions
      assert(s2.sql(
        "SELECT bottom_k_distinct(CAST(x AS BIGINT), 2) FROM VALUES (5), (1), (5), (3) t(x)")
        .head().getSeq[Long](0).toList == List(1L, 3L))
      // malformed parameterized calls fail with a CLEAR message at
      // resolution time, not a raw internal IndexOutOfBounds/NPE
      val missing = intercept[Exception] {
        s2.sql("SELECT bottom_k_distinct(CAST(x AS BIGINT)) FROM VALUES (1) t(x)").collect()
      }
      assert(missing.getMessage.contains("k (argument 2) is missing"), missing.getMessage)
      val nonLit = intercept[Exception] {
        s2.sql("SELECT bottom_k_distinct(CAST(x AS BIGINT), x) FROM VALUES (1) t(x)").collect()
      }
      assert(nonLit.getMessage.contains("integer literal"), nonLit.getMessage)
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prev.foreach(SparkSession.setDefaultSession)
    }
  }

  test("components: min-label propagation merges transitive chains within the iteration radius") {
    // chain 1-2-3-4 plus isolated pair (10,11): 3 rounds reach radius 3,
    // enough for the diameter-3 chain
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val got = Dedup.components(pairs, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // 1 round only reaches distance-1 neighbors (initial labels): node 4
    // sees 3's initial label, node 3 sees 2's, node 2 reaches 1
    val one = Dedup.components(pairs, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(4L) == 3L && one(3L) == 2L && one(2L) == 1L)
  }

  test("components: agrees with brute-force union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val n = 60
    val edges = Vector.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    // brute-force union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> find(v.toInt).toLong).toMap
    // 10 BSP rounds >= any component diameter at this size
    val got = Dedup.components(edges.toDF("a_id", "b_id"), iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // min-label propagation labels with the component MIN, which the
    // min-union find above also converges to
    assert(got == expected)
  }

  test("components: checkpointRounds (production lineage truncation) yields IDENTICAL labels") {
    val rnd = new scala.util.Random(31)
    val edges = Vector.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).toDF("a_id", "b_id")
    val plain = Dedup.components(edges, iterations = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ckpt = Dedup.components(edges, iterations = 5, checkpointRounds = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain == ckpt)
  }

  test("bloomIncrementalFlags: ONE-SIDED error — every true duplicate flagged, rejects exist") {
    val corpus = (0 until 300).map(i => (i.toLong, s"corpus doc $i alpha beta gamma$i"))
      .toDF("doc_id", "text")
    val dups = (0 until 40).map(i => (1000L + i, s"corpus doc $i alpha beta gamma$i"))
    val novel = (0 until 40).map(i => (2000L + i, s"novel doc $i delta epsilon zeta$i"))
    val batch = (dups ++ novel).toDF("doc_id", "text")
    val out = Dedup.bloomIncrementalExact(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.length == 80)
    // no false negatives, ever: exact_dup = 1 implies bloom_hit = 1
    assert(out.forall { case (_, b, e) => e == 0 || b == 1 },
      "a true duplicate escaped the bloom filter")
    assert(out.count(_._3 == 1) == 40, "ground truth must mark exactly the 40 dups")
    // the filter actually rejects most novel docs (occupancy^k FP rate)
    val rejected = out.count { case (_, b, e) => e == 0 && b == 0 }
    assert(rejected >= 30, s"bloom rejected only $rejected/40 novel docs")
    // the production pre-filter agrees with the witness path's flags
    val flagsOnly = Dedup.bloomIncrementalFlags(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out.forall { case (id, b, _) => flagsOnly(id) == b },
      "flags-only path disagrees with the witness path")
  }

  test("sequencePack: boundary-crossing docs split across sequences, shards independent, tokens conserved") {
    // shard 0 (even ids): 5 + 10 + 3 tokens at offsets 0/5/15, seqLen 8
    val docs = Seq(
      (0L, "a b c d e"), (1L, "x y z"),
      (2L, (1 to 10).map("t" + _).mkString(" ")),
      (3L, "p q"), (4L, "m n o")).toDF("doc_id", "text")
    val got = graft.operators.Packing.sequencePack(docs, seqLen = 8, nShards = 2)
      .orderBy("shard", "seq_idx", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (0L, 0L, 0L, 0L, 4L, 5L), // doc 0 fills seq 0 positions 0-4
      (0L, 0L, 2L, 5L, 7L, 3L), // doc 2 starts at 5, CROSSES into seq 1
      (0L, 1L, 2L, 0L, 6L, 7L),
      (0L, 1L, 4L, 7L, 7L, 1L), // doc 4 takes the last slot, crosses again
      (0L, 2L, 4L, 0L, 1L, 2L),
      (1L, 0L, 1L, 0L, 2L, 3L), // shard 1 offsets restart at 0
      (1L, 0L, 3L, 3L, 4L, 2L)))
    // conservation: every document's manifest spans sum to its tokens
    val perDoc = got.groupBy(_._3).view.mapValues(_.map(_._6).sum).toMap
    assert(perDoc == Map(0L -> 5L, 1L -> 3L, 2L -> 10L, 3L -> 2L, 4L -> 3L))
  }

  test("exactSubstringSpans: maximal duplicated runs with positions; self-repeats count; unique docs emit nothing") {
    val aToks = (0 until 30).map(i => s"w$i")
    // doc 2 embeds doc 1's tokens 5..24 at offset 2
    val bToks = Seq("x0", "x1") ++ aToks.slice(5, 25) ++ Seq("y0")
    // doc 3 repeats ITS OWN 6-token phrase at 0 and at 10 (filler between)
    val rep = (0 until 6).map(i => s"r$i")
    val cToks = rep ++ (0 until 4).map(i => s"f$i") ++ rep
    // doc 4: all-unique tokens — no output rows
    val dToks = (0 until 20).map(i => s"u$i")
    val docs = Seq(
      (1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")),
      (3L, cToks.mkString(" ")), (4L, dToks.mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(docs, minTokens = 5)
      .orderBy("doc_id", "start_pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
    assert(got.toSeq == Seq(
      // doc 1: shared region tokens 5..24 -> gram starts 5..20, one maximal run
      (1L, 5, 24, 16L, 20),
      // doc 2: same 20 tokens at offset 2 -> gram starts 2..17
      (2L, 2, 21, 16L, 20),
      // doc 3: the 6-token phrase at 0 (starts 0,1) and at 10 (starts 10,11)
      (3L, 0, 5, 2L, 6),
      (3L, 10, 15, 2L, 6)))
  }

  test("exactSubstringSpans maxDf: hot grams declared-truncated; within-cap result equals the default plan") {
    val aToks = (0 until 30).map(i => s"w$i")
    val bToks = Seq("x0", "x1") ++ aToks.slice(5, 25) ++ Seq("y0")
    val docs2 = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")))
      .toDF("doc_id", "text")
    // every shared gram has df = 2 <= cap: bounded path = default path
    val dflt = Dedup.exactSubstringSpans(docs2, minTokens = 5)
      .collect().map(_.toSeq).toSet
    val capped = Dedup.exactSubstringSpans(docs2, minTokens = 5, maxDf = Some(2))
      .collect().map(_.toSeq).toSet
    assert(capped == dflt && dflt.nonEmpty)
    // a boilerplate 5-gram stamped across 4 docs (df = 4 > cap = 3)
    // is EXCLUDED by the declared truncation; the df-2 pair stays
    val boiler = (0 until 5).map(i => s"b$i").mkString(" ")
    val hot = (10L until 14L).map(id => (id, s"$boiler tail$id"))
    val docs3 = (Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" "))) ++ hot)
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(docs3, minTokens = 5, maxDf = Some(3))
      .collect().map(r => r.getLong(0)).toSet
    assert(got == Set(1L, 2L), s"hot-gram docs must be truncated out, got $got")
  }

  test("componentsStarAdaptive: early-stop on a star graph, full schedule on a diameter-31 chain, labels exact") {
    // pre-converged star forest: fixpoint after the 1 confirming round
    val star = Seq.tabulate(20)(i => (0L, i + 1L)).toDF("a_id", "b_id")
    val (starLbl, starRounds) = Dedup.componentsStarAdaptive(star)
    assert(starRounds == 1, s"star graph must stop after the confirming round, ran $starRounds")
    assert(starLbl.where(col("component") =!= 0L).count() == 0)
    assert(starLbl.count() == 21)
    // diameter-31 chain: star-contraction needs its full log-round
    // schedule (5 changing rounds) before the confirming round
    val chain = Seq.tabulate(31)(i => (i.toLong, i + 1L)).toDF("a_id", "b_id")
    val (chainLbl, chainRounds) = Dedup.componentsStarAdaptive(chain)
    assert(chainRounds >= 5 && chainRounds <= 7,
      s"expected ~5 changing rounds + confirmation, ran $chainRounds")
    assert(chainLbl.where(col("component") =!= 0L).count() == 0)
    assert(chainLbl.count() == 32)
    // labels equal the fixed-rounds twin's
    val fixed = Dedup.componentsStar(chain, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adaptive = chainLbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(adaptive == fixed)
  }

  test("componentsStar: equals brute-force union-find on seeded random graphs (alt-star rounds)") {
    for (seed <- Seq(7, 19, 23)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Vector.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      // 6 alternating rounds cover log2(60) with margin
      val got = Dedup.componentsStar(edges.toDF("a_id", "b_id"), rounds = 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("keepBestPerCluster: max score wins, ties break to min doc_id, absent docs are singletons") {
    val d = docs(
      (1L, "aaaa"), (2L, "bbbbbb"), (3L, "cccc"), // cluster 1: 2 wins on length
      (5L, "xx"), (6L, "xx"),                     // cluster 5: tie -> min id 5
      (4L, "zzz"))                                // never paired -> singleton
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "component")
    val got = Dedup.keepBestPerCluster(d, labels, length($"text"))
      .orderBy("cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 6L, 3L), // best_score = len("bbbbbb")
      (4L, 4L, 3L, 1L), // singleton keeps itself
      (5L, 5L, 2L, 2L))) // tie at score 2 -> smaller id
  }

  test("dupSpanCoverage: interval-UNION coverage — overlapping spans are not double-counted") {
    // docX's covered gram starts are {0} and {3} (two islands): spans
    // [0,4] and [3,7] OVERLAP in token space; union = all 8 tokens,
    // the naive per-span sum would claim 10
    val tx = (0 until 8).map(i => s"t$i")
    val d = docs(
      (1L, tx.mkString(" ")),                   // docX
      (2L, tx.take(5).mkString(" ")),           // = gram start 0 of docX
      (3L, tx.slice(3, 8).mkString(" ")),       // = gram start 3 of docX
      (9L, (0 until 10).map(i => s"u$i").mkString(" "))) // span-free
    val got = Dedup.dupSpanCoverage(d, minTokens = 5, maxPermille = 300)
      .orderBy("doc_id")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(got.toSeq == Seq(
      (1L, 8L, 8L, 1000L, 0),  // union 8, NOT 10
      (2L, 5L, 5L, 1000L, 0),
      (3L, 5L, 5L, 1000L, 0),
      (9L, 10L, 0L, 0L, 1)))   // no spans -> zero coverage, kept
  }

  test("audioPitch: autocorrelation argmax recovers a square wave's period; non-WAV skipped") {
    import spark.implicits._
    val media = Seq(4, 6, 8, 10).zipWithIndex.map { case (p, i) =>
      val samples = Array.tabulate(240)(k =>
        (if ((k / (p / 2)) % 2 == 0) 1000 else -1000).toShort)
      (s"pw$p", s"pw_$p.wav", graft.media.Wav.encodePcm16(8000, 1, samples))
    } :+ (("junk", "x.bin", "not audio at all".getBytes("US-ASCII")))
    val got = Multimodal.audioPitch(spark, media.toDF("doc_id", "media_ref", "payload"))
      .collect().map(r => r.doc_id -> r).toMap
    assert(!got.contains("junk"))
    for (p <- Seq(4, 6, 8, 10)) {
      assert(got(s"pw$p").best_lag == p, s"period $p detected as ${got(s"pw$p").best_lag}")
      // clean square wave: R(p) = A^2 * (n - p) exactly
      assert(got(s"pw$p").best_corr == 1000L * 1000L * (240 - p))
      assert(got(s"pw$p").energy == 1000L * 1000L * 240)
    }
  }

  test("audioFrames: windowed ZCR/energy/peak, channel-0 only, trailing partial window dropped") {
    import spark.implicits._
    // stereo payload: channel 0 = alternating +500/-500 (full-rate
    // sign flips), channel 1 = loud constant decoy that must not leak
    // into any number; 25 frames -> 2 full 10-sample windows, the
    // 5-frame tail dropped
    val inter = Array.tabulate(50) { j =>
      (if (j % 2 == 0) { if ((j / 2) % 2 == 0) 500 else -500 } else 30000).toShort
    }
    val media = Seq(("st", "s.wav", graft.media.Wav.encodePcm16(8000, 2, inter)),
      ("junk", "x.bin", "nope".getBytes("US-ASCII")))
      .toDF("doc_id", "media_ref", "payload")
    val got = Multimodal.audioFrames(spark, media, frameLen = 10)
      .collect().sortBy(_.frame_idx)
    assert(got.map(_.doc_id).toSet == Set("st"))
    assert(got.length == 2) // 25 ch-0 samples -> 2 full windows
    got.foreach { f =>
      assert(f.n == 10 && f.zcr == 9)          // every adjacent pair flips
      assert(f.energy == 10L * 500 * 500)      // decoy channel absent
      assert(f.peak == 500)
    }
  }

  test("imagePhashPairs: real decode; odd-pixel edit is Hamming 0; non-images skipped; band recall structural") {
    import spark.implicits._
    def png(edit: (Int, Int, Int)*): Array[Byte] = {
      val rgba = new Array[Byte](16 * 16 * 4)
      for (y <- 0 until 16; x <- 0 until 16) {
        val g = edit.find(e => e._1 == x && e._2 == y).map(_._3)
          .getOrElse((x * 11 + y * 5) % 180)
        val p = (y * 16 + x) * 4
        rgba(p) = g.toByte; rgba(p + 1) = g.toByte
        rgba(p + 2) = g.toByte; rgba(p + 3) = -1
      }
      graft.pdf.PdfImages.encodePng(16, 16, rgba)
    }
    val media = Seq(
      ("d", "base.png", png()),
      ("d", "odd.png", png((3, 5, 250))),    // odd coords: never sampled
      ("d", "inv.png", png((0 until 16).flatMap(x =>
        (0 until 16).map(y => (x, y, 199 - (x * 11 + y * 5) % 180))): _*)),
      ("d", "noise.bin", Array.tabulate[Byte](64)(_.toByte))) // not an image: skipped
      .toDF("doc_id", "media_ref", "payload")
    val pairs = graft.operators.Multimodal.imagePhashPairs(spark, media, maxHamming = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // base vs odd-pixel edit: identical after the 2x resize
    assert(pairs.contains(("1:d:base.png", "1:d:odd.png", 0)), s"got ${pairs.toSeq}")
    // the inverted image is maximally distant — never a pair; the
    // non-image payload contributes nothing at all
    assert(pairs.forall(p => !p._1.contains("inv") && !p._2.contains("inv")))
    assert(pairs.forall(p => !p._1.contains("noise") && !p._2.contains("noise")))
    // structural recall: a 3-bit perturbation of a hash MUST share a
    // band (pigeonhole over 4 disjoint 16-bit bands) — verified via
    // the hashes themselves
    val h = graft.operators.Multimodal.imageHashes(spark, media).collect()
      .find(_.img_id == "1:d:base.png").get
    val bands = Seq(h.lo & 0xFFFF, (h.lo >> 16) & 0xFFFF, h.hi & 0xFFFF, (h.hi >> 16) & 0xFFFF)
    val fl = h.lo ^ 7L // flip 3 bits in band 0
    val fBands = Seq(fl & 0xFFFF, (fl >> 16) & 0xFFFF, h.hi & 0xFFFF, (h.hi >> 16) & 0xFFFF)
    assert(bands.zip(fBands).count { case (a, b) => a == b } >= 3)
  }

  test("audioGoertzel: the probe matching the tone's fundamental dominates the off-bin probes") {
    import spark.implicits._
    // pure period-6 square wave (fundamental at omega = pi/3 = the
    // c=1 probe); the c=0 (pi/2) and c=-1 (2pi/3) bins are not
    // harmonics of a period-6 square and must read near-zero
    val samples = Array.tabulate(120)(k => (if (k % 6 < 3) 1000 else -1000).toShort)
    val media = Seq(("d0", "t.wav",
      graft.media.Wav.encodePcm16(8000, 1, samples))).toDF("doc_id", "media_ref", "payload")
    val rows = graft.operators.Multimodal.audioGoertzel(spark, media, frameLen = 60)
      .collect().filter(_.frame_idx == 0).map(r => r.coef -> r.power).toMap
    assert(rows.keySet == Set(1, 0, -1))
    assert(rows(1) > 5L * math.max(rows(0), rows(-1)),
      s"on-bin power must dominate: $rows")
    // and the recurrence states match the closed-form periodic-kernel
    // derivation (u for c=1 has period 6: 1,1,0,-1,-1,0)
    val u = Array(1, 1, 0, -1, -1, 0)
    def sCf(last: Int) =
      (0 to last).map(j => samples(j).toLong * u((last - j) % 6)).sum
    val r1 = graft.operators.Multimodal.audioGoertzel(spark, media, frameLen = 60)
      .collect().find(r => r.frame_idx == 0 && r.coef == 1).get
    assert(r1.s1 == sCf(59) && r1.s2 == sCf(58),
      s"recurrence (${r1.s1},${r1.s2}) vs closed form (${sCf(59)},${sCf(58)})")
  }

  test("funnel: strict ordering — out-of-order events are not progress; drop-outs stay NULL") {
    import spark.implicits._
    val ev = Seq(
      // user 1: click BEFORE the first view must not count; the
      // purchase before the qualifying click must not count either
      (1L, "click", 5L), (1L, "view", 10L), (1L, "purchase", 15L),
      (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 2L),                         // no view: stage 0
      (3L, "view", 1L), (3L, "click", 2L))       // no purchase: stage 2
      .toDF("user_id", "event_type", "tms")
    val got = graft.operators.Funnel.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map { r =>
        def g(n: String) = if (r.isNullAt(r.fieldIndex(n))) -1L else r.getAs[Long](n)
        r.getAs[Long]("user_id") -> ((g("t1"), g("t2"), g("t3"), r.getAs[Int]("stage")))
      }.toMap
    assert(got(1L) == ((10L, 20L, 30L, 3)))
    assert(got(2L) == ((-1L, -1L, -1L, 0)))
    assert(got(3L) == ((1L, 2L, -1L, 2)))
  }

  test("funnel conversion window: boundary-inclusive gap; out-of-gap events are not progress") {
    import spark.implicits._
    val ev = Seq(
      // user 1: click in gap (150 <= 100+100), purchase OUT of gap
      // from t2=150 (500 > 250) -> stage 2
      (1L, "view", 100L), (1L, "click", 150L), (1L, "purchase", 500L),
      // user 2: only click is out of gap (300 > 200) -> stage 1
      (2L, "view", 100L), (2L, "click", 300L),
      // user 3: click EXACTLY at the boundary (200 = 100+100) counts
      (3L, "view", 100L), (3L, "click", 200L),
      // user 4: first-qualifying UNDER the constraint — the early
      // in-gap click wins even though a later out-of-gap one exists
      (4L, "view", 100L), (4L, "click", 400L), (4L, "click", 150L))
      .toDF("user_id", "event_type", "tms")
    val got = graft.operators.Funnel.funnel(ev, Seq("view", "click", "purchase"),
        maxGapMs = Some(100L))
      .collect().map { r =>
        def g(n: String) = if (r.isNullAt(r.fieldIndex(n))) -1L else r.getAs[Long](n)
        r.getAs[Long]("user_id") -> ((g("t1"), g("t2"), g("t3"), r.getAs[Int]("stage")))
      }.toMap
    assert(got(1L) == ((100L, 150L, -1L, 2)))
    assert(got(2L) == ((100L, -1L, -1L, 1)))
    assert(got(3L) == ((100L, 200L, -1L, 2)))
    assert(got(4L) == ((100L, 150L, -1L, 2)))
  }

  test("retention: cohort by first-event period; offset counts hand-computed; re-activity dedupes per period") {
    import spark.implicits._
    // period 100ms. u1: first at 50 (cohort 0), active periods 0,2
    // (two events in period 2 count once); u2: first at 150 (cohort
    // 1), active 1 only; u3: first at 20 (cohort 0), active 0,1
    val ev = Seq((1L, 50L), (1L, 250L), (1L, 299L),
      (2L, 150L), (3L, 20L), (3L, 130L)).toDF("user_id", "tms")
    val got = graft.operators.Funnel.retention(ev, periodMs = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 0L, 2L), (0L, 1L, 1L), (0L, 2L, 1L), (1L, 0L, 1L)),
      s"got $got")
  }

  test("pageRank: hand-computed integer fixed-point ladder on a 3-node graph") {
    import spark.implicits._
    // edges 0->1, 1->0, 2->0 (all outdeg 1):
    // r1 = (1850000, 1000000, 150000); r2 = (1127500, 1722500, 150000)
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 0L)).toDF("src", "dst")
    val got = graft.operators.Graphs.pageRank(edges, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1127500L, 1L -> 1722500L, 2L -> 150000L))
    // a uniform cycle is PageRank's fixed point: ranks stay put
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val stable = graft.operators.Graphs.pageRank(cyc, iterations = 3)
      .collect().map(_.getLong(1)).toSet
    assert(stable == Set(1000000L))
  }

  test("componentsStar: a 32-node path labels in 5 alt-star rounds (min-propagation would need 31)") {
    // the worst case for per-hop min propagation: diameter = n-1; the
    // contracting star rounds close it in O(log n)
    val chain = (0L until 32L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("a_id", "b_id")
    val got = Dedup.componentsStar(chain, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until 32L).map(v => (v, 0L)).toSet)
  }

  test("cdcChunkDuplicates: shift-resilient — an inserted leading token leaves later chunks shared") {
    val base = (1 to 60).map(i => s"w${i * 7 % 23}x$i").mkString(" ")
    val two = Seq((1L, base), (2L, "inserted " + base)).toDF("doc_id", "text")
    val rows = Dedup.cdcChunkDuplicates(two).collect()
    // the content-defined property: boundaries after the insertion
    // point are unmoved, so chunks past the first boundary match
    // verbatim (fixed-size chunking would misalign ALL of them)
    assert(rows.nonEmpty, "CDC must find shared chunks despite the 1-token shift")
    assert(rows.forall(_.getAs[Long]("n_docs") == 2))
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    assert(total >= 30, s"most of the 60-token doc should be in shared chunks, got $total")
    // determinism
    val again = Dedup.cdcChunkDuplicates(two).collect().map(_.toSeq).toSet
    assert(again == rows.map(_.toSeq).toSet)
    // disjoint docs share nothing
    val disjoint = Seq((1L, base), (3L, (1 to 50).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.cdcChunkDuplicates(disjoint).count() == 0)
  }

  test("benchmarkContamination: planted eval passage flags exactly its host doc with the exact count") {
    val evalText = (1 to 20).map(i => s"ev$i").mkString(" ") // 20 tokens → 8 distinct 13-grams
    val corpus = Seq(
      (1L, (1 to 40).map(i => s"clean$i").mkString(" ")),
      (2L, (1 to 10).map(i => s"pre$i").mkString(" ") + " " + evalText + " " +
        (1 to 10).map(i => s"post$i").mkString(" ")),
      (3L, (1 to 15).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val evalSet = Seq((100L, evalText)).toDF("doc_id", "text")
    val got = Dedup.benchmarkContamination(corpus, evalSet)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // only doc 2 is contaminated; matches = the 8 interior 13-grams of
    // the planted passage (surrounding tokens break longer matches)
    assert(got == Map(2L -> 8L), s"got $got")
    // broadcast shape: the eval side must be the broadcast build side
    val plan = Dedup.benchmarkContamination(corpus, evalSet)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "eval shingles must broadcast")
  }

  test("componentsStar/components: reliable checkpoint() when a checkpoint dir is set (cluster seam)") {
    // Rounds.defaultTruncate must switch from executor-local localCheckpoint
    // to reliable checkpoint() the moment the session has a checkpoint
    // dir — the multi-executor deployment path, where executor loss
    // must not discard a round's materialized edges. Labels must be
    // identical either way, and the dir must actually receive blocks.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "test expects no pre-set checkpoint dir")
    val chain = (0L until 32L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("a_id", "b_id")
    val local = Dedup.componentsStar(chain, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    sc.setCheckpointDir(dir.getAbsolutePath)
    try {
      val reliable = Dedup.componentsStar(chain, rounds = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(reliable == local)
      assert(reliable == (0L until 32L).map(v => (v, 0L)).toSet)
      val chain8 = (0L until 8L).sliding(2).map(s => (s.head, s.last)).toSeq
        .toDF("a_id", "b_id")
      val bsp = Dedup.components(chain8, iterations = 7, checkpointRounds = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bsp == (0L until 8L).map(v => (v, 0L)).toSet)
      def countFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(countFiles).sum else 1
      assert(countFiles(dir) > 0, "reliable checkpoint wrote no blocks to the dir")
      // explicit-strategy seam: a caller-supplied truncate overrides the
      // default (forcing executor-local even though a reliable dir is
      // set). NOTE the strategy must actually truncate the LOGICAL plan
      // (checkpoint/localCheckpoint); a bare persist() leaves the
      // geometrically-growing plan in place and stalls the optimizer.
      val custom = Dedup.componentsStar(chain, rounds = 5,
        truncate = _.localCheckpoint())
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(custom == local)
    } finally {
      // SparkContext has no unsetCheckpointDir; restore via the conf field
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm); x.delete(); ()
      }
      rm(dir)
    }
  }

  test("native TokenSimHash64: single-token sketch IS the token's md5 bits (hand pin)") {
    // one token => every bit voted once => sketch == the token value;
    // md5("") = d41d8cd98f00b204e9800998ecf8427e, so lo = 0xd41d8cd9
    // (nibbles 1-8) and hi = 0x8f00b204 (nibbles 9-16)
    val r = docs((1L, ""))
      .select(TF.simhash64Struct($"text").as("s"))
      .select($"s.lo", $"s.hi").head()
    assert(r.getLong(0) == 0xd41d8cd9L)
    assert(r.getLong(1) == 0x8f00b204L)
    // and simhash32 is exactly the lo half
    assert(docs((1L, "")).select(TF.simhash32($"text")).head().getLong(0) == 0xd41d8cd9L)
  }

  // ---- similarity -----------------------------------------------------

  test("bruteForceTopK ranks by integer dot, ties by item id, excludes self") {
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.5f, 0.5f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(e.where($"vec_id" === 0), e, k = 2)
      .orderBy("rnk").collect()
    assert(top.map(_.getAs[Long]("item_id")).toSeq == Seq(1L, 2L))
    assert(top.map(_.getAs[Int]("rnk")).toSeq == Seq(1, 2))
  }

  test("lshTopK only scores same-bucket items (scale path semantics)") {
    val e = Seq(
      (0L, Seq(1.0f, 1.0f, 1.0f, 1.0f)),
      (1L, Seq(0.9f, 0.9f, 0.9f, 0.9f)),   // same bucket
      (2L, Seq(-1.0f, 1.0f, 1.0f, 1.0f)))  // different bucket: excluded
      .toDF("vec_id", "embedding")
    val got = Similarity.lshTopK(e.where($"vec_id" === 0), e, k = 5, lshBits = 4)
      .select("item_id").as[Long].collect().toSet
    assert(got == Set(1L))
  }

  test("lshTopKMulti recovers a straddling pair single-table LSH provably misses") {
    // vec 1 is vec 0's true nearest neighbor but differs in the SIGN of
    // dim 1 — invisible to the single table over dims 1-4; table 2
    // (dims 5-8, all positive for both) catches it. vec 2 is a worse
    // same-bucket-everywhere neighbor; vec 3 is near-orthogonal.
    val e = Seq(
      (0L, Seq(0.01f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (1L, Seq(-0.01f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Seq(0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f)),
      (3L, Seq(0.9f, -0.9f, -0.9f, 0.9f, -0.9f, 0.9f, -0.9f, -0.9f)))
      .toDF("vec_id", "embedding")
    val q = e.where($"vec_id" === 0)
    val single = Similarity.lshTopK(q, e, k = 2, lshBits = 4)
      .select("item_id").as[Long].collect().toSet
    assert(!single.contains(1L), "fixture must make single-table LSH miss vec 1")
    val multi = Similarity.lshTopKMulti(q, e, k = 2, lshBits = 4, tables = 2)
      .orderBy("rnk").collect()
    val brute = Similarity.bruteForceTopK(q, e, k = 2).orderBy("rnk").collect()
    // multi-table recall on this fixture equals brute force (k=2): the
    // straddling pair is recovered AND ranks identically
    assert(multi.map(r => (r.getAs[Long]("item_id"), r.getAs[Int]("rnk"))).toSeq ==
      brute.map(r => (r.getAs[Long]("item_id"), r.getAs[Int]("rnk"))).toSeq)
    assert(multi.head.getAs[Long]("item_id") == 1L)
  }

  test("embeddingNearDupPairs tables=2 recovers a straddling near-dup single-table misses") {
    // vecs 0/1 are near-identical but differ in dim-1 sign (invisible
    // to table 0 over dims 1-4); dims 5-8 agree -> table 1 catches it
    val e = Seq(
      (0L, Seq(0.01f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (1L, Seq(-0.01f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val single = Dedup.embeddingNearDupPairs(e, tPct = 95, lshBits = 4).collect()
    assert(single.isEmpty, "fixture must straddle table 0")
    val multi = Dedup.embeddingNearDupPairs(e, tPct = 95, lshBits = 4, tables = 2)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(multi.toSeq == Seq((0L, 1L)))
  }

  test("ivfTopK scores ONLY the probed inverted lists (IVF semantics)") {
    // centroids = first 2 items: c0=[1,0], c1=[0,1]; item 2 joins list
    // c0, item 3 joins list c1. A query at c0 with nProbe=1 must score
    // list c0 only — items 1 and 3 are invisible even though their
    // dot products are computable.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(e.where($"vec_id" === 0), e, k = 5,
        numCentroids = 2, nProbe = 1)
      .select("item_id").as[Long].collect().toSet
    assert(got == Set(2L))
    // nProbe=2 probes both lists -> everything scored
    val all = Similarity.ivfTopK(e.where($"vec_id" === 0), e, k = 5,
        numCentroids = 2, nProbe = 2)
      .select("item_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L))
  }

  test("ivfPqTopK: probed-lists-only, ADC-exact on codeword-aligned items, deterministic code-tie order") {
    // dim=4, 2 subspaces of 2 dims; coarse centroids = items 0,1;
    // codebooks = subvectors of items 0,1. Item 100 is a DUPLICATE of
    // seed 0, so it encodes to (code 0, code 0) and its ADC score for
    // a query equal to item 0 is the EXACT dot |q|^2 = 1000^2. Item 2
    // quantizes to the same code tuple -> identical adot, tie broken
    // by item_id. Items 1,3 live in the un-probed list at nProbe=1.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 0.0f, 0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)), (3L, Seq(0.0f, 0.0f, 0.1f, 0.9f)),
      (100L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val one = Similarity.ivfPqTopK(e.where($"vec_id" === 0), e, k = 5,
        numCentroids = 2, nProbe = 1, numSub = 2, codebookSize = 2)
      .orderBy("rnk")
      .collect().map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("adot")))
    assert(one.toSeq == Seq((2L, 1000000L), (100L, 1000000L)),
      s"probed-list scoring: got ${one.toSeq}")
    val both = Similarity.ivfPqTopK(e.where($"vec_id" === 0), e, k = 5,
        numCentroids = 2, nProbe = 2, numSub = 2, codebookSize = 2)
      .collect().map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("adot"))).toMap
    assert(both.keySet == Set(1L, 2L, 3L, 100L))
    // items encoding to the other codebook tuple score q.cw(1) = 0
    assert(both(1L) == 0L && both(3L) == 0L)
  }

  test("ivfPqTopKRerank: exact stage separates what quantization collapsed") {
    // same fixture as the PQ test: items 2 and 100 encode to the SAME
    // code tuple, so PQ ties them (adot 1e6 each, id order). The exact
    // re-rank must flip them: item 100 is a true duplicate of the
    // query (dot 1e6), item 2 only quantizes equal (dot 9e5).
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 0.0f, 0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)), (3L, Seq(0.0f, 0.0f, 0.1f, 0.9f)),
      (100L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfPqTopKRerank(e.where($"vec_id" === 0), e, k = 2,
        shortlist = 2, numCentroids = 2, nProbe = 1, numSub = 2, codebookSize = 2)
      .orderBy("rnk")
      .collect().map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("dot")))
    assert(got.toSeq == Seq((100L, 1000000L), (2L, 900000L)),
      s"exact re-rank must beat the code tie: got ${got.toSeq}")
  }

  test("pageRankAdaptive: uniform cycle converges in the confirming round; dangling mass hand-computed") {
    import spark.implicits._
    // 4-cycle, all outdeg 1: uniform 10^6 is the EXACT fixpoint, so
    // round 1 reproduces r0 and the loop stops with rounds_used = 1
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val (cr, cu) = graft.operators.Graphs.pageRankAdaptive(cyc, maxIterations = 6)
    assert(cu == 1, s"pre-converged cycle must stop after the confirming round, ran $cu")
    assert(cr.collect().forall(_.getLong(1) == 1000000L))
    // dangling redistribution, one hand-computed round: edges 0->1,
    // 0->2, 1->0; node 2 is a SINK holding 10^6 -> share = 10^6 div 3
    // = 333333; pr'(0) = 150000 + (850*(1000000+333333)) div 1000 =
    // 1283333; pr'(1) = pr'(2) = 150000 + (850*(500000+333333)) div
    // 1000 = 858333
    val dg = Seq((0L, 1L), (0L, 2L), (1L, 0L)).toDF("src", "dst")
    val (dr, du) = graft.operators.Graphs.pageRankAdaptive(dg,
      maxIterations = 1, redistributeDangling = true)
    assert(du == 1)
    val got = dr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1283333L, 1L -> 858333L, 2L -> 858333L), s"got $got")
    // without redistribution the sink absorbs: same round, share = 0
    val (pr, _) = graft.operators.Graphs.pageRankAdaptive(dg, maxIterations = 1)
    val plain = pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == Map(0L -> 1000000L, 1L -> 575000L, 2L -> 575000L), s"got $plain")
  }

  test("pageRank: a null edge endpoint is dropped — the adaptive ladder still converges") {
    val cyc = Seq[(Long, Option[Long])]((0L, Some(1L)), (1L, Some(2L)), (2L, Some(0L)))
    val withNull = (cyc :+ ((1L, None: Option[Long]))).toDF("src", "dst")
    val (cr, cu) = graft.operators.Graphs.pageRankAdaptive(cyc.toDF("src", "dst"), maxIterations = 6)
    val (nr, nu) = graft.operators.Graphs.pageRankAdaptive(withNull, maxIterations = 6)
    assert(nu == cu, s"null endpoint changed rounds_used: $nu vs $cu")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1)).toMap
    assert(ranks(nr) == ranks(cr))
    val fixed = graft.operators.Graphs.pageRank(withNull, iterations = 2)
    assert(ranks(fixed).keySet == Set(Some(0L), Some(1L), Some(2L)), s"got ${ranks(fixed)}")
  }

  test("Lloyd centroids: a null vector is no member — centroids are floored means of the non-null members") {
    // seeds are ids 0 and 1; id 4 has no embedding
    val items = Seq[(Long, Option[Seq[Double]])](
      (0L, Some(Seq(1.0, 0.0))), (1L, Some(Seq(0.0, 1.0))),
      (2L, Some(Seq(0.9, 0.1))), (3L, Some(Seq(0.1, 0.9))), (4L, None))
      .toDF("vec_id", "embedding")
    val it = items.select($"vec_id".as("item_id"), VF.quantize($"embedding").as("qv"))
    val got = Similarity.lloydCentroids(it, Similarity.seedCentroids(items, 2), 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == Map(0L -> Seq(950L, 50L), 1L -> Seq(50L, 950L)), s"got $got")
  }

  test("nearest-centroid assignment: an empty centroid table assigns no item (no null cid)") {
    val items = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(0.9, 0.1)))
      .toDF("vec_id", "embedding")
    val it = items.select($"vec_id".as("item_id"), VF.quantize($"embedding").as("qv"))
    val none = Similarity.seedCentroids(items, 0)
    // Lloyd over no centroids has no cluster to update
    val lloyd = Similarity.lloydCentroids(it, none, 1).collect()
    assert(lloyd.isEmpty, s"got ${lloyd.toSeq}")
    assert(Similarity.assignNearestQ(it, none, "item_id", "qv").count() == 0)
    assert(Similarity.assignNearestQ(it, Similarity.seedCentroids(items, 1), "item_id", "qv")
      .collect().map(_.getLong(1)).toSeq == Seq(0L, 0L, 0L))
  }

  // the IVF/PQ family's degenerate-input contracts, on 4-dim milliunit
  // vectors; each call reads the index's small side when it is made
  private val ivfFixture: Seq[(Long, Option[Seq[Float]])] = Seq(
    0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 0f, 0f, 1f), 2L -> Seq(1f, 1f, 0f, 0f),
    3L -> Seq(0f, 0f, 1f, 1f), 4L -> Seq(1f, 0f, 1f, 0f), 5L -> Seq(0f, 1f, 0f, 1f),
    6L -> Seq(1f, 1f, 1f, 0f)).map { case (id, v) => id -> Some(v) }
  private def ivfFamily(q: DataFrame, it: DataFrame,
      numCentroids: Int = 2): Seq[(String, () => DataFrame)] = Seq(
    "ivfTopK" -> (() => Similarity.ivfTopK(q, it, 3, numCentroids, 1)),
    "ivfTopKKmeans" -> (() => Similarity.ivfTopKKmeans(q, it, 3, numCentroids, 1, 2)),
    "ivfPqTopK" -> (() => Similarity.ivfPqTopK(q, it, 3, numCentroids, 1, 2, 3)),
    "ivfPqTopKKmeans" -> (() => Similarity.ivfPqTopKKmeans(q, it, 3, numCentroids, 1, 2, 3, 2)),
    "ivfPqTopKRerank" -> (() => Similarity.ivfPqTopKRerank(q, it, 3, 5, numCentroids, 1, 2, 3)))

  test("IVF/PQ family: an empty query set yields no rows") {
    val it = ivfFixture.toDF("vec_id", "embedding")
    for ((name, df) <- ivfFamily(it.where("false"), it)) assert(df().count() == 0, name)
  }

  test("IVF/PQ family: an empty centroid table assigns no item — no rows, no error") {
    val it = ivfFixture.toDF("vec_id", "embedding")
    for ((name, df) <- ivfFamily(it.where("vec_id < 2"), it, numCentroids = 0))
      assert(df().count() == 0, name)
  }

  test("IVF/PQ family: a row with a null embedding is as if it were absent") {
    // id 1 is a centroid and a codeword seed, id 7 a plain item; 1 and
    // 7 are queries too
    val kept = ivfFixture.filterNot(_._1 == 1L)
    val it = (kept ++ Seq(1L -> None, 7L -> None)).toDF("vec_id", "embedding")
    val without = kept.toDF("vec_id", "embedding")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    for (((name, got), (_, want)) <- ivfFamily(it.where("vec_id in (0, 1, 3, 7)"), it)
        .zip(ivfFamily(without.where("vec_id in (0, 3)"), without)))
      assert(rows(got()) == rows(want()), name)
  }

  test("IVF/PQ family: a query id given twice fails loudly, naming the id") {
    // two entries for id 3 would share one per-query window: one merged
    // top-k, or a top-k holding the same item twice
    val it = ivfFixture.toDF("vec_id", "embedding")
    val q = it.where("vec_id in (0, 3, 4)")
      .select(when($"vec_id" === 4, 3L).otherwise($"vec_id").as("vec_id"), $"embedding")
    for ((name, df) <- ivfFamily(q, it)) {
      val e = intercept[IllegalArgumentException](df())
      assert(e.getMessage.contains("duplicate query id 3"), s"$name: ${e.getMessage}")
    }
  }

  test("PQ: a vector width not divisible by numSub fails loudly, naming the width") {
    val it = ivfFixture.map { case (id, v) => id -> v.map(_ :+ 0f) } // 5 dims, numSub 2
      .toDF("vec_id", "embedding")
    for ((name, df) <- ivfFamily(it.where("vec_id < 2"), it).filter(_._1.contains("Pq"))) {
      val e = intercept[Exception](df().collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("numSub=2") && m.contains("got 5")),
        s"$name: ${e.getMessage}")
    }
  }

  test("pageRankAdaptive: an empty graph (no edges, or only null endpoints) has no ranks and stops after one round") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val allNull = Seq[(Option[Long], Option[Long])]((Some(1L), None), (None, Some(2L)), (None, None))
      .toDF("src", "dst")
    for ((name, edges) <- Seq("empty" -> empty, "all-null" -> allNull);
         dangling <- Seq(true, false)) {
      val (ranks, used) = Graphs.pageRankAdaptive(edges, maxIterations = 6,
        redistributeDangling = dangling)
      assert(ranks.count() == 0 && used == 1,
        s"$name graph, redistributeDangling=$dangling: ${ranks.count()} ranks, $used rounds")
    }
    assert(Graphs.pageRank(empty, iterations = 2).count() == 0)
  }

  test("pageRankAdaptive: one aggregation per round — at most 3 Spark jobs per extra round") {
    // a sink (3) and a source (4) keep the ladder moving past round 4
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (2L, 3L), (4L, 0L))
      .toDF("src", "dst")
    assert(Graphs.pageRankAdaptive(edges, maxIterations = 40,
      redistributeDangling = true)._2 > 4, "the budget graph must not converge by round 4")
    def jobsAt(rounds: Int): Long = TaskMeter.around(spark.sparkContext) {
      val (ranks, used) = Graphs.pageRankAdaptive(edges, maxIterations = rounds,
        redistributeDangling = true)
      assert(used == rounds)
      ranks.collect()
    }._2.jobs
    val (j2, j4) = (jobsAt(2), jobsAt(4))
    assert((j4 - j2) / 2.0 <= 3.0, s"jobs per round: maxIterations 2 -> $j2, 4 -> $j4")
  }

  test("Rounds.Observed: metrics ride the truncating action; a truncate that runs no action fails loudly") {
    // the observed row arrives on the listener bus after the action
    // returns — read it many times in a row, never a stale or zero row
    val t = new Rounds.Observed(Rounds.defaultTruncate, count(lit(1)).as("n"), sum($"x").as("s"))
    for (n <- 1 to 20) {
      val out = t(spark.range(n).toDF("x"))
      assert(t.last.getAs[Long]("n") == n && t.last.getAs[Long]("s") == n * (n - 1L) / 2)
      assert(out.count() == n)
    }
    val lazyT = new Rounds.Observed(identity, count(lit(1)).as("n"))
    val err = intercept[IllegalStateException](lazyT(spark.range(3).toDF("x")))
    assert(err.getMessage.contains("must run an action"), err.getMessage)
    intercept[IllegalStateException](Graphs.pageRankAdaptive(
      Seq((0L, 1L)).toDF("src", "dst"), truncate = identity))
  }

  test("temperatureSample: smallest group kept whole; dominant group follows the exact sqrt rule") {
    // group g0: 64 docs, g1: 4 docs -> n_min = 4; keep d in g0 iff
    // h(d)^2 * 64 < 4e6 i.e. h < 250 (exactly the alpha=1/2 rate)
    val rows = (0L until 64L).map(i => (i, "g0")) ++ (100L until 104L).map(i => (i, "g1"))
    val df = rows.toDF("doc_id", "grp")
    val kept = graft.operators.Sampling.temperatureSample(df, byCol = "grp")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("grp"),
        r.getAs[Long]("h"))).toSeq
    assert(kept.count(_._2 == "g1") == 4, "smallest group must be kept whole")
    // independent replay of the hash rule (MessageDigest, not Spark)
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(2).map(b => f"${b & 0xff}%02x").mkString, 16) % 1000
    }
    val expectG0 = (0L until 64L).filter(i => h(i) * h(i) * 64 < 4000000L).toSet
    assert(kept.filter(_._2 == "g0").map(_._1).toSet == expectG0)
    assert(kept.forall(k => h(k._1) == k._3), "h column must be the replayable hash")
  }

  test("temperatureSample: observer surfaces kept + dropped_by_rule + dropped_null_group = input count") {
    // null-bearing corpus: 64 g0 + 4 g1 + 8 NULL-group rows + one
    // NULL doc_id (its hash is NULL -> keep predicate NULL -> dropped
    // by rule). Every drop must be VISIBLE, never silently shred
    val rows = (0L until 64L).map(i => (Some(i), Some("g0"))) ++
      (100L until 104L).map(i => (Some(i), Some("g1"))) ++
      (200L until 208L).map(i => (Some(i), None: Option[String])) :+
      ((None: Option[Long], Some("g0")))
    val df = rows.toDF("doc_id", "grp")
    val obs = new org.apache.spark.sql.Observation("temp-sample")
    val res = graft.operators.Sampling.temperatureSample(df, byCol = "grp",
      observer = Some(obs))
    val keptRows = res.collect()
    val m = obs.get
    val (k, dr, dn) = (m("kept").asInstanceOf[Long],
      m("dropped_by_rule").asInstanceOf[Long],
      m("dropped_null_group").asInstanceOf[Long])
    assert(dn == 8L, s"all 8 NULL-group rows must be counted, got $dn")
    assert(k == keptRows.length.toLong, s"kept metric $k vs result ${keptRows.length}")
    assert(k + dr + dn == rows.length.toLong,
      s"counts must sum to input: $k + $dr + $dn != ${rows.length}")
    // and the kept set is unchanged by the observation plumbing
    val plain = graft.operators.Sampling.temperatureSample(
      df.where(col("grp").isNotNull), byCol = "grp").collect()
    assert(keptRows.map(_.getAs[Long]("doc_id")).toSet ==
      plain.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("lshBitsFor grows with corpus size and is clamped") {
    assert(VF.lshBitsFor(1000L, targetBucketSize = 4096L) == 1)
    assert(VF.lshBitsFor(4096L * 16, targetBucketSize = 4096L) == 4)
    assert(VF.lshBitsFor(1000000000000L) == 16) // 10^12 clamps at maxBits
    assert(VF.lshBitsFor(4096L * 16, targetBucketSize = 4096L, maxBits = 3) == 3)
  }

  test("asOf join: latest right row at-or-before each left row, per key, null when none") {
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (1L, 5L, "l0"), (2L, 50L, "m1"))
      .toDF("k", "tms", "tag")
    val right = Seq((1L, 10L, 100L), (1L, 15L, 101L), (2L, 60L, 102L))
      .toDF("k", "tms", "pay")
    val got = AsOfJoin.asOf(left, right, keys = Seq("k"), timeCol = "tms",
        payloadCols = Seq("pay"))
      .collect().map(r => (r.getAs[String]("tag"),
        if (r.isNullAt(r.fieldIndex("pay"))) -1L else r.getAs[Long]("pay"))).toMap
    assert(got("l0") == -1L)  // before any right row -> null
    assert(got("l1") == 100L) // tie: right row AT the left time is visible
    assert(got("l2") == 101L) // latest prior wins
    assert(got("m1") == -1L)  // key 2: right row is in the future
  }

  test("asOf join: ALL payload columns come from the single latest right row (null payload values included)") {
    // the latest right row (t=15) carries a NULL pay: the left row must
    // see (NULL, 'y') from THAT row — per-column forward-fill would mix
    // pay=100 from the older row with note='y' from the newer one
    val left = Seq((1L, 20L, "l")).toDF("k", "tms", "tag")
    val right = Seq((1L, 10L, Some(100L), "x"), (1L, 15L, None, "y"))
      .toDF("k", "tms", "pay", "note")
    val row = AsOfJoin.asOf(left, right, keys = Seq("k"), timeCol = "tms",
      payloadCols = Seq("pay", "note")).collect().head
    assert(row.isNullAt(row.fieldIndex("pay")), "stale pay from an older right row")
    assert(row.getAs[String]("note") == "y")
  }

  // ---- multimodal plumbing -------------------------------------------

  test("SniffDecoder: REAL pixel decode for image payloads; deterministic stub fallback for non-images") {
    val w = 10; val h = 6
    val rgb = Array.tabulate(w * h * 3)(i => (((i / 3) * 5) % 256).toByte)
    val rgba = new Array[Byte](w * h * 4)
    (0 until w * h).foreach { i =>
      rgba(i * 4) = rgb(i * 3); rgba(i * 4 + 1) = rgb(i * 3 + 1)
      rgba(i * 4 + 2) = rgb(i * 3 + 2); rgba(i * 4 + 3) = -1
    }
    val png = graft.pdf.PdfImages.encodePng(w, h, rgba)
    val bmp = graft.pdf.ImageCodec.encodeBmpRgb(w, h, rgb)
    val junk = "definitely not an image payload".getBytes("UTF-8")
    val media = Seq(("d1", "a.png", png), ("d1", "b.bmp", bmp), ("d1", "c.bin", junk))
      .toDF("doc_id", "media_ref", "payload")
    val feats = Multimodal.extractFeatures(spark, media)
      .collect().map(f => f.media_ref -> f).toMap
    assert(feats("a.png").format == "png" && feats("a.png").width == w && feats("a.png").height == h)
    assert(feats("b.bmp").format == "bmp" && feats("b.bmp").width == w && feats("b.bmp").height == h)
    // same pixels in two containers → same average-hash: the
    // fingerprint is derived from DECODED pixels, not payload bytes
    assert(feats("a.png").phash == feats("b.bmp").phash)
    // non-image → exact stub features (fallback path unchanged)
    assert(feats("c.bin") == new Multimodal.StubDecoder("d1").decode("c.bin", junk))
  }

  test("multimodal stub features are deterministic and schema-typed") {
    val media = Multimodal.syntheticMedia(spark, nDocs = 5, perDoc = 2)
    val f1 = Multimodal.extractFeatures(spark, media).collect()
      .map(f => (f.doc_id, f.media_ref) -> f).toMap
    val f2 = Multimodal.extractFeatures(spark, media).collect()
    assert(f1.size == 10)
    f2.foreach { f =>
      val g = f1((f.doc_id, f.media_ref))
      assert(g == f, "decode must be a pure function of payload")
      assert(f.width % 16 == 0 && f.height % 16 == 0 && f.phash.length == 16)
    }
  }
}
