package graft

import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** `Tables.load` resolves a table's schema once per session and reuses it
  * only while the file and the inference confs are unchanged. */
class TablesSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Writes `df` as one parquet FILE at `target`, replacing what is there. */
  private def writeFile(df: DataFrame, target: String): Unit = {
    val staging = tmpDir("graft_tables_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, java.nio.file.Paths.get(target),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("a parquet file rewritten in place loads with its new schema and rows") {
    import spark.implicits._
    val dir = tmpDir("graft_tables_file")
    val path = s"$dir/t.parquet"
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    assert(rows(Tables.load(spark, dir, "t")) == Seq("1|a", "2|b"))

    writeFile(Seq((3L, "c", 30.5), (4L, "d", 40.5), (5L, "e", 50.5))
      .toDF("k", "v", "w"), path)
    val after = Tables.load(spark, dir, "t")
    assert(after.columns.toSeq == Seq("k", "v", "w"))
    assert(rows(after) == Seq("3|c|30.5", "4|d|40.5", "5|e|50.5"))
  }

  test("a parquet directory overwritten with an added column loads the new schema") {
    import spark.implicits._
    val dir = tmpDir("graft_tables_dir")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((2L, "b", true)).toDF("k", "v", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.load(spark, dir, "t")
    assert(after.columns.toSeq == Seq("k", "v", "flag"))
    assert(rows(after) == Seq("2|b|true"))
  }

  test("a second session does not reuse the first session's handle") {
    val path = s"$sf/nation.parquet"
    Tables.nation(spark, sf).schema
    assert(Tables.memoizedSchema(spark, path).isDefined)
    val other = spark.newSession()
    assert(Tables.memoizedSchema(other, path).isEmpty)
    assert(Tables.nation(other, sf).schema == Tables.nation(spark, sf).schema)
    assert(Tables.memoizedSchema(other, path).isDefined)
  }

  test("two loads of one table join to each other unambiguously") {
    Tables.nation(spark, sf).schema // the loads below reuse the handle
    val a = Tables.nation(spark, sf)
    val b = Tables.nation(spark, sf)
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    val joined = a.join(b, a("n_regionkey") === b("n_regionkey"))
      .select(a("n_nationkey"), b("n_nationkey"))
    val expected = a.groupBy("n_regionkey").count().collect()
      .map(r => r.getLong(1) * r.getLong(1)).sum
    assert(joined.count() == expected)
    assert(joined.filter(a("n_nationkey") =!= b("n_nationkey")).count() ==
      expected - a.count())
  }

  test("LONG-nanosecond events.ts converts on every load") {
    import spark.implicits._
    val dir = tmpDir("graft_tables_events")
    val ns = (0L until 200L).map(i => (i, 1704067199999999001L + i * 999999937L))
    ns.toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    (1 to 2).foreach { _ =>
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      val got = ev.select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ns.map { case (id, t) => id -> t / 1000L }.toMap)
    }
  }
}
