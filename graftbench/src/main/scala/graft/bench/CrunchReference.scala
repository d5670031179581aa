package graft.bench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The analyst's view: seeded, shuffled passes over the reference query
  * set, each query built through `SparkEntry.queries` and collected. */
final class CrunchReference(spark: SparkSession, o: Main.Opts) extends Workload {
  private val star = s"${o.data}/star"
  private val last = new java.util.concurrent.ConcurrentHashMap[String, (StructType, Array[Row])]()

  private def runQuery(rec: Recorder, q: String, traced: Boolean = true): Unit =
    rec.op("query", q, withCounters = true, traced = traced) { op =>
      val df = rec.span(s"operators.$q.plan") { SparkEntry.queries(q)(spark, star) }
      val rows = rec.span(s"operators.$q.exec") { df.collect() }
      op.attrs("rows") = rows.length
      last.put(q, (df.schema, rows))
    }

  /** The fixtures are the generated tables: resolve each one's schema. */
  def setup(dir: String): Unit =
    CrunchReference.Tables.foreach(t => spark.read.parquet(s"$star/$t.parquet").schema)

  /** Every query once, three at a time: what the warm-up buys is compiled
    * code (whole-stage codegen, JIT), and compilation overlaps well. */
  def warmUp(): Unit = {
    val warm = new Recorder(false, spark.sparkContext, new EngineCounters)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try CrunchReference.Queries
      .map(q => pool.submit((() => runQuery(warm, q)): Runnable))
      .foreach(_.get())
    finally pool.shutdown()
    warm.opList.flatMap(_.failure).foreach(f =>
      throw new IllegalStateException(s"warm-up failed: $f"))
  }

  /** Seeded, shuffled passes over the query set, one query after the
    * other until the deadline; the first pass always completes, so every
    * query has a sample. A traced run runs each query twice in a row,
    * traced and untraced, the order alternating along the pass. */
  def loop(rec: Recorder, deadline: Long): Unit = {
    val rnd = new scala.util.Random(o.seed)
    val stream = Iterator.continually(rnd.shuffle(CrunchReference.Queries))
      .flatMap(_.zipWithIndex)
    var n = 0
    while (n < CrunchReference.Queries.size || System.nanoTime() < deadline) {
      val (q, i) = stream.next()
      val order = if (!rec.tracing) Seq(false) else Seq(i % 2 == 0, i % 2 != 0)
      order.foreach(t => runQuery(rec, q, traced = t))
      n += 1
    }
  }

  /** Writes each query's last timed result as parquet beside its
    * `SparkEntry.oracleSql` twin; the runner compares them in DuckDB. */
  def check(rec: Recorder, outDir: String, corrupt: Boolean): Unit = {
    // a query with no result has no parquet: the comparison fails it
    val sqls = CrunchReference.Queries.map { q =>
      Option(last.get(q)).foreach { case (schema, rows) =>
        val out = if (corrupt && q == CrunchReference.Queries.head) rows ++ rows.take(1) else rows
        spark.createDataFrame(out.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/crunch/$q")
      }
      q -> SparkEntry.oracleSql(q)
    }
    Json.write(s"$outDir/crunch/oracle_sql.json", sqls.toMap)
  }
}

object CrunchReference {
  /** The reference surface: the six crunch scripts and the worker's
    * dimension, pivot and build-regex codegen (SURVEY.md §2). */
  val Queries: Seq[String] = Seq(
    "crunch_global_full", "crunch_player", "hero_vs_hero_full",
    "crunch_phases", "crunch_bans", "team_fame", "dim_rollup_all",
    "item_pivot", "crunch_global_gated", "build_regex_full")

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events")
}
