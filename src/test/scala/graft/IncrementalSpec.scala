package graft

import graft.operators.Merge
import graft.streaming.IncrementalCruncher
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The streaming worker loop must land on the same point table as the
  * one-shot aggregate of everything it consumed — the reference's
  * "incremental upserts converge to the batch truth" property. */
class IncrementalSpec extends SparkSpec {

  test("foreachBatch incremental merge equals one-shot aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")
    val rows = li.as[(Long, Double, Double, String, String)].collect()

    val stream = MemoryStream[(Long, Double, Double, String, String)]
    // three uneven "queue deliveries"
    val (b1, rest) = rows.splitAt(rows.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    stream.addData(b1); stream.addData(b2); stream.addData(b3)

    val dir = Files.createTempDirectory("graft_state").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val cruncher = new IncrementalCruncher(spark, dir)
    val q = cruncher.run(
      stream.toDF.toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"),
      ckpt)
    q.awaitTermination()

    val got = cruncher.result().get.collect().map(_.mkString("|")).toSet
    val oneShot = Merge.finish(Merge.merge(Seq(Merge.pointAgg(li))))
      .collect().map(_.mkString("|")).toSet
    assert(got == oneShot)
  }

  test("re-delivered batch ids are no-ops, including across compaction") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_state3").toString
    // compactEvery=1: every batch immediately compacts, so the SECOND
    // delivery of id 0 arrives after its delta name left the manifest —
    // the store's tag ledger (its `#tag:b0` line) must still dedupe it
    val c = new IncrementalCruncher(spark, dir, compactEvery = 1)
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")
    c.mergeBatch(li.filter(col("l_orderkey") % 2 === 0), 0L)
    c.mergeBatch(li.filter(col("l_orderkey") % 2 === 0), 0L) // immediate retry
    c.mergeBatch(li.filter(col("l_orderkey") % 2 =!= 0), 1L)
    c.mergeBatch(li.filter(col("l_orderkey") % 2 === 0), 0L) // late re-delivery
    assert(c.committedBatches == Set(0L, 1L))
    val got = c.result().get.collect().map(_.mkString("|")).toSet
    val oneShot = Merge.finish(Merge.merge(Seq(Merge.pointAgg(li))))
      .collect().map(_.mkString("|")).toSet
    assert(got == oneShot)
  }

  test("a batch already committed through the store's tag ledger is a no-op") {
    val dir = Files.createTempDirectory("graft_state5").toString
    var observed = Vector.empty[(Long, Long)]
    val c = new IncrementalCruncher(spark, dir,
      onCommit = (id, v) => observed :+= ((id, v)))
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")
    // b0 commits straight through the store, as a crash between the
    // manifest flip and the notify leaves it
    val store = new graft.sources.PointStore(spark, dir,
      keys = Seq("game_mode", "role"),
      sums = Seq("played", "wins", "time_spent_d", "gold_d"),
      maxes = Seq("last_match"))
    assert(store.appendTagged("b0", Merge.pointAgg(li)))
    c.mergeBatch(li, 0L)
    assert(observed.isEmpty)
    assert(c.committedBatches == Set(0L))
    val got = c.result().get.collect().map(_.mkString("|")).toSet
    val oneShot = Merge.finish(Merge.merge(Seq(Merge.pointAgg(li))))
      .collect().map(_.mkString("|")).toSet
    assert(got == oneShot)
  }

  test("a consumer observes each committed batch exactly once") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_state4").toString
    var observed = Vector.empty[(Long, Long)]
    val c = new IncrementalCruncher(spark, dir, compactEvery = 1,
      onCommit = (id, v) => observed :+= ((id, v)))
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")
    c.mergeBatch(li.filter(col("l_orderkey") % 2 === 0), 0L)
    c.mergeBatch(li.filter(col("l_orderkey") % 2 === 0), 0L) // retry: no re-notify
    c.mergeBatch(li.filter(col("l_orderkey") % 2 =!= 0), 1L)
    c.mergeBatch(li.filter(col("l_orderkey") % 2 === 0), 0L) // late re-delivery
    // one notification per COMMIT, versions strictly ascending
    assert(observed.map(_._1) == Vector(0L, 1L))
    assert(observed.map(_._2) == Vector(1L, 2L))
    // a restarted cruncher re-notifies nothing for already-committed ids
    var observed2 = Vector.empty[(Long, Long)]
    val c2 = new IncrementalCruncher(spark, dir, compactEvery = 1,
      onCommit = (id, v) => observed2 :+= ((id, v)))
    c2.mergeBatch(li.filter(col("l_orderkey") % 2 === 0), 0L)
    c2.mergeBatch(li.filter(col("l_orderkey") % 2 =!= 0), 2L) // genuinely new
    assert(observed2 == Vector((2L, 3L)))
  }

  test("versioned state survives a second cruncher attach (restart)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_state2").toString
    val c1 = new IncrementalCruncher(spark, dir)
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")
    c1.mergeBatch(li.filter(col("l_orderkey") % 2 === 0), 0L)

    val c2 = new IncrementalCruncher(spark, dir) // fresh attach, same state dir
    c2.mergeBatch(li.filter(col("l_orderkey") % 2 =!= 0), 1L)
    val got = c2.result().get.collect().map(_.mkString("|")).toSet
    val oneShot = Merge.finish(Merge.merge(Seq(Merge.pointAgg(li))))
      .collect().map(_.mkString("|")).toSet
    assert(got == oneShot)
  }
}
