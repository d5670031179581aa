package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}
import org.apache.hadoop.fs.Path
import java.util.concurrent.ConcurrentHashMap

/** Parquet star-schema loaders (TESTDATA.md) plus shared numeric helpers.
  *
  * All money/measure sums are computed as DECIMAL(18,2) and cast back to
  * DOUBLE at the end: decimal addition is exact and order-independent, so
  * results are bit-stable across partitionings, engines (DuckDB oracle) and
  * cluster sizes — raw double summation is not. At 100 TB the aggregation
  * order is nondeterministic, so this is a correctness property, not a
  * nicety.
  */
object Tables {
  /** A fresh relation over `<dir>/<name>.parquet`. The schema is resolved
    * once per (session, path) and reused while the file's status (length
    * and mtime, or a directory's leaf listing) and the session's
    * parquet-inference confs are unchanged: a bare `spark.read.parquet`
    * infers it from the parquet footers, in a one-task Spark job, on every
    * call, which every query build paid once per table it loads. Each call
    * still plans its own relation, with new attribute ids, so two loads of
    * one table join as two independent sides. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    statusOf(spark, path) match {
      // a missing path: the reader reports it in its own terms
      case None => spark.read.parquet(path)
      case Some(stamp) =>
        val confs = InferenceConfs.map(spark.conf.getOption)
        val memo = resolved.synchronized {
          resolved.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Resolved]())
        }
        memo.get(path) match {
          case Resolved(`confs`, `stamp`, schema) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            memo.put(path, Resolved(confs, stamp, df.schema))
            df
        }
    }
  }

  /** The schema [[load]] holds for `path` in this session, if any. */
  private[graft] def memoizedSchema(spark: SparkSession, path: String): Option[StructType] =
    resolved.synchronized(Option(resolved.get(spark)))
      .flatMap(m => Option(m.get(path))).map(_.schema)

  /** Session confs that parquet schema inference reads. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles")

  private final case class Resolved(confs: Seq[Option[String]],
                                    stamp: Seq[(String, Long, Long)],
                                    schema: StructType)

  /** Per session (weakly held, so a stopped session's entries go with it). */
  private val resolved =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Resolved]]()

  /** (path, length, mtime) of the file, or of every leaf under a
    * directory; None when nothing is there. */
  private def statusOf(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val found = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    found.map { st =>
      if (st.isFile) Seq((st.getPath.toString, st.getLen, st.getModificationTime))
      else {
        val leaves = fs.listFiles(p, true)
        val out = Seq.newBuilder[(String, Long, Long)]
        while (leaves.hasNext) {
          val f = leaves.next()
          out += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        out.result().sorted
      }
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  /** events.parquet stores ts as TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; sessions set spark.sql.legacy.parquet.nanosAsLong and
    * the long is converted to a microsecond timestamp here (exact: the
    * generator writes whole microseconds). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", nanosToTimestamp(col("ts")))
      case _ => raw
    }
  }

  /** ns→µs must stay in LONG arithmetic: `(ns / 1000).cast("long")` promotes
    * to double first, and 2024-epoch nanos (~1.7e18) exceed double's 2^53
    * exact range — ~1.6% of values truncate 1 µs low, which can flip
    * exact-boundary comparisons (sessionize gaps, as-of `<=`, watermarks).
    * Integral DIV is exact for the generator's non-negative timestamps. */
  def nanosToTimestamp(c: Column): Column =
    timestamp_micros(call_function("div", c, lit(1000L)))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Exact 2-dp decimal view of a double column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Order-independent exact sum of a 2-dp quantity, surfaced as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Timestamps cross the Spark/DuckDB/pandas boundary as strings so tz
    * adjustment and unit differences can't corrupt the compare. */
  def tstr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
}
