package graft

import org.apache.spark.sql.functions._

/** Bucketing co-locates the fact join: both sides pre-hashed into the
  * same bucket layout on the join key join WITHOUT a shuffle — the
  * cluster-scale answer to "the lineitem⋈orders shuffle is the biggest
  * cost in every crunch". The assertion reads the pre-adaptive physical
  * plan: zero Exchange operators. */
class BucketingSpec extends SparkSpec {

  test("bucketed fact tables join with no exchange") {
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    // the in-memory catalog resets per JVM but the warehouse dir persists;
    // remove stale physical locations from prior runs (the warehouse is
    // per test group, so read it from the session)
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    for (t <- Seq("li_bucketed", "ord_bucketed")) {
      val dir = java.nio.file.Paths.get(warehouse, t)
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Tables.lineitem(spark, sf)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(spark, sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))

    val plan = joined.queryExecution.sparkPlan.toString
    // the join itself is exchange-free; the only shuffle permitted is the
    // 3-group final aggregation
    val joinSection = plan.split("HashAggregate").last
    assert(!joinSection.contains("Exchange"), s"unexpected shuffle:\n$plan")

    // and it computes the same thing as the unbucketed join
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .collect().map(_.mkString("|")).toSet
    assert(joined.collect().map(_.mkString("|")).toSet == expected)
  }
}
