package graft.spark

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** What a long-lived session reuses across queries: the table schemas,
  * read without a Spark job, and the compiled code, kept by a codegen
  * cache that holds the query surface. The cache is sized once per JVM,
  * by the session that compiles first, so these hold whatever suite runs
  * first only because the build starts the test JVM at the size
  * `Sessions.Shared` sets (SparkConf reads `spark.*` system properties). */
class SessionReuseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, "graft-session-reuse-spec")
  private val sf = "/root/testdata/sf0.001"
  // the benchmark's four operator queries
  private val ops = Seq("dedup_minhash_star", "dedup_jaccard", "graph_pagerank_adaptive", "sim_topk_pq")

  test("the test JVM starts every session at the codegen cache size of Sessions.Shared") {
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(sys.props.get(key) == Sessions.Shared.get(key))
  }

  test("reading a table through Queries runs no Spark job before the query's action") {
    val (df, before) = TaskMeter.around(spark.sparkContext)(Queries.all("dedup_jaccard")(spark, sf))
    assert(before.jobs == 0, "jobs before the action")
    val (n, action) = TaskMeter.around(spark.sparkContext)(df.count())
    assert(n > 0 && action.jobs > 0)
  }

  test("a second pass of the benchmark queries compiles no class") {
    def pass(): Unit = ops.foreach { q =>
      Queries.all(q)(spark, sf).queryExecution.executedPlan.execute().count()
    }
    pass()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0)
  }
}
