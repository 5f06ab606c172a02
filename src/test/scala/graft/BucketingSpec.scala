package graft

import org.apache.spark.sql.functions._
import graft.catalog.Tables

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val p = java.nio.file.Paths.get("spark-warehouse", name)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    dropTable("b_orders"); dropTable("b_items")
    val orders = (1L to 500L).map(k => (k, s"o$k")).toDF("k", "o")
    val items = (1L to 2000L).map(i => (i % 500 + 1, i.toDouble)).toDF("k", "v")
    Tables.saveBucketed(orders, "b_orders", 4, "k")
    Tables.saveBucketed(items, "b_items", 4, "k")

    val joined = spark.table("b_items").join(spark.table("b_orders"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed join, got:\n$plan")

    val n = joined.count()
    assert(n == 2000)

    // same join on unbucketed frames DOES shuffle (sanity of the assertion)
    val plain = items.join(orders, "k")
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange") ||
      plain.queryExecution.executedPlan.toString.contains("Broadcast"))
  }

  test("bucketed ingest works for a data dir with upper-case letters") {
    // the catalog lower-cases a managed table's warehouse directory; the
    // fingerprint stamp must land in that same directory
    val dir = java.nio.file.Files.createTempDirectory("bkt").resolve("SfMixed").toString
    for ((name, key) <- Tables.bucketSpecs)
      (1L to 20L).map(k => (k, k % 3)).toDF(key, "v")
        .write.parquet(s"$dir/$name.parquet")
    def ours = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_bkt_") && n.contains("sfmixed"))
    try {
      Tables.ensureBucketed(spark, dir, buckets = 2)
      Tables.ensureBucketed(spark, dir, buckets = 2) // re-attach is a no-op
      assert(ours.length == Tables.bucketSpecs.size)
      for ((name, key) <- Tables.bucketSpecs)
        assert(Tables.load(spark, dir, name).agg(sum(key)).head().getLong(0) == 210L)
    } finally {
      Tables.clearBucketed()
      ours.foreach(dropTable)
    }
  }

  test("bench join queries run shuffle-free on the bucketed fact tables") {
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    // disable auto-broadcast so the lineitem⋈orders edge manifests as a
    // join that would NEED a shuffle without the bucketed layout (explicit
    // broadcast() hints on the dimension tables still apply — those are
    // BroadcastExchange, not shuffles)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.ensureBucketed(spark, dir)
      for (q <- Seq("q03_topk_revenue", "q35_regional_volume", "q36_returned_items",
                    "q04_semi_join")) {
        val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"$q: expected a non-broadcast fact join in:\n$plan")
        for (key <- Seq("l_orderkey", "o_orderkey"))
          assert(!plan.contains(s"Exchange hashpartitioning($key"),
            s"$q: shuffle exchange on bucketed key $key:\n$plan")
        // rows still flow (plan isn't degenerate)
        assert(SparkEntry.queries(q)(spark, dir).count() > 0)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      Tables.clearBucketed()
    }
  }
}
