package graft.bench

import graft.operators.Merge
import graft.sources.PointStore
import graft.streaming.IncrementalCruncher
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable

/** The queue worker (worker.js:119-165): one client folding a seeded
  * stream of match-id batches through `IncrementalCruncher.mergeBatch`,
  * with redeliveries of already-committed batch ids mixed in. It runs as
  * the fourth client of [[ServeMixed]]. */
final class IngestFold(spark: SparkSession, o: Main.Opts) extends Workload {
  private val batchDir = new java.io.File(s"${o.data}/batches")
  private val batchFiles: IndexedSeq[String] =
    Option(batchDir.listFiles()).getOrElse(Array.empty).map(_.getPath).sorted.toIndexedSeq
  require(batchFiles.size > IngestFold.WarmBatches, s"no fold batches under $batchDir")

  private var root: String = _
  private var stateDir: String = _
  private var cruncher: IncrementalCruncher = _
  private val commits = mutable.ArrayBuffer.empty[Long]
  private val delivered = mutable.LinkedHashSet.empty[Long]

  private def batch(id: Long) = spark.read.parquet(batchFiles(id.toInt))

  private def deltaCount(): Int =
    try PointStore.open(spark, stateDir).deltaCount
    catch { case _: IllegalArgumentException => 0 }

  def setup(dir: String): Unit = {
    root = dir
    stateDir = s"$dir/cruncher"
    commits.clear()
    delivered.clear()
    cruncher = new IncrementalCruncher(spark, stateDir,
      onCommit = (id, _) => commits += id)
  }

  /** Folds the reserved warm-up batches into a throwaway cruncher that
    * compacts every other fold, and redelivers one, so the timed folds
    * meet compiled code on every path. */
  def warmUp(): Unit = {
    val warm = new IncrementalCruncher(spark, s"$root/warm", compactEvery = 2)
    (0 until IngestFold.WarmBatches).foreach(i => warm.mergeBatch(batch(i), i))
    warm.mergeBatch(batch(0), 0)
  }

  /** A traced run traces alternate blocks of `CompactEvery` fresh folds
    * (and the redeliveries among them), so half of the compaction cycles,
    * each with its compacting fold, are traced and half are not. */
  def loop(rec: Recorder, deadline: Long): Unit = {
    val rnd = new scala.util.Random(o.seed)
    val fresh = rnd.shuffle(batchFiles.indices.drop(IngestFold.WarmBatches)
      .map(_.toLong)).iterator
    var folds = 0
    var exhausted = false
    while (!exhausted && System.nanoTime() < deadline) {
      val traced = (folds / IngestFold.CompactEvery) % 2 == 0
      val redeliver = delivered.nonEmpty && rnd.nextDouble() < IngestFold.RedeliveryShare
      if (redeliver) {
        val id = delivered.toIndexedSeq(rnd.nextInt(delivered.size))
        val before = commits.size
        rec.op("redelivery", s"b$id", withCounters = true, traced = traced) { op =>
          rec.span("IncrementalCruncher.mergeBatch") { cruncher.mergeBatch(batch(id), id) }
          if (commits.size != before) op.fail(s"redelivered batch $id was folded again")
        }
      } else if (!fresh.hasNext) exhausted = true
      else {
        val id = fresh.next()
        folds += 1
        val deltasBefore = deltaCount()
        val bytesBefore = if (rec.tracing && traced) Workload.dirBytes(new java.io.File(stateDir)) else 0L
        var op: Op = null
        rec.op("fold", s"b$id", withCounters = true, traced = traced) { cur =>
          op = cur
          val df = rec.span("batch.read") { batch(id) }
          rec.span("IncrementalCruncher.mergeBatch") { cruncher.mergeBatch(df, id) }
          if (!commits.lastOption.contains(id)) cur.fail(s"batch $id did not commit")
        }.foreach { _ =>
          delivered += id
          op.attrs("rows") = IngestFold.rowCount(batchFiles(id.toInt))
          op.attrs("compacted") = deltaCount() < deltasBefore + 1
          if (op.traced)
            op.attrs("bytes_written") =
              Workload.dirBytes(new java.io.File(stateDir)) - bytesBefore
        }
      }
    }
  }

  /** The merge law and exactly-once delivery: the folded point table
    * equals the one-shot aggregate over the distinct delivered batches. */
  def check(rec: Recorder, outDir: String, corrupt: Boolean): Unit =
    if (delivered.isEmpty) rec.checkFailed("no batch was folded")
    else {
      def sorted(rows: Array[Row]) = rows.map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val oneShot = Merge.finish(Merge.pointAgg(
        spark.read.parquet(delivered.toSeq.map(i => batchFiles(i.toInt)): _*)))
      val expected = sorted(oneShot.collect())
      val got0 = sorted(cruncher.result().map(_.collect()).getOrElse(Array.empty))
      val got = if (corrupt) got0.updated(0, got0.head.updated(2, got0.head(2).asInstanceOf[Long] + 1))
                else got0
      if (got != expected)
        rec.checkFailed(s"folded point table (${got.size} rows) differs from " +
          s"the one-shot aggregate (${expected.size} rows) over ${delivered.size} batches")
    }

  override def facts: Map[String, Any] = Map(
    "store_bytes" -> Option(stateDir).map(d => Workload.dirBytes(new java.io.File(d))).getOrElse(0L),
    "batches_available" -> (batchFiles.size - IngestFold.WarmBatches),
    "batches_delivered" -> delivered.size)
}

object IngestFold {
  /** Batches reserved for the warm-up. */
  val WarmBatches = 2
  /** Share of deliveries that re-send an already-committed batch id: an
    * assumption (the reference's queue redelivers unacknowledged
    * messages, at no documented rate). */
  val RedeliveryShare = 0.2
  /** `IncrementalCruncher`'s default compaction cadence (in folds). */
  val CompactEvery = 8

  private val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** Row count from the parquet footer (no scan). */
  def rowCount(file: String): Long = rows.computeIfAbsent(file, f => {
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  })
}
