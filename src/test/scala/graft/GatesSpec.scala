package graft

import org.apache.spark.sql.functions.col

import graft.queries.QueryMemo

/** The mains' gate runner: the receipt's wall split adds up, jobs are
  * recorded, the free empties the CacheManager but spares memo-pinned
  * RDDs, and an unknown gate name fails loudly.
  */
class GatesSpec extends SparkSpec {

  test("Gates.run: busy + idle is wall, jobs recorded, free empties the " +
    "CacheManager and keeps QueryMemo pins; select rejects unknown names") {
    QueryMemo.clear()
    try {
      val seeded = QueryMemo.seed("gates_spec", "dir", spark.range(10).toDF("id"))
      val pinned = spark.sparkContext.getPersistentRDDs.keySet
        .filter(QueryMemo.isPinned)
      assert(pinned.nonEmpty)
      val cached = spark.range(1000).toDF("id").cache()
      val r = Gates.run(spark, "unused", "cached" -> ((_, _) =>
        cached.groupBy((col("id") % 7).as("k")).count()))(Gates.noop)
      assert(r.error.isEmpty)
      assert(math.abs(r.busy + r.idle - r.wall) < 1e-9)
      assert(r.busy > 0 && r.busy <= r.wall)
      assert(r.jobs.size >= 1 && r.tasks >= 1)
      assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.isEmpty)
      assert(pinned.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
      assert(seeded.count() == 10)
      val e = intercept[IllegalArgumentException](
        Gates.select(Seq("q1_pricing_summary", "no_such_gate")))
      assert(e.getMessage.contains("no_such_gate"))
    } finally {
      QueryMemo.clear()
      Gates.free(spark)
    }
  }
}
