package graft.bench

import org.apache.spark.sql.SparkSession
import Workload.secondsSince

/** JVM side of the benchmark: runs one workload and writes its raw
  * samples (operations, set-up times, spans, counters) as JSON. The
  * Python runner (run.py) generates the inputs, launches this, checks
  * the outputs and turns the samples into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --out FILE [--corrupt]
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        out: String, corrupt: Boolean)

  /** Fixture builds per run; set-up time takes their median. */
  val Setups = 3

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      args.contains("--corrupt"))
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch { case e: Throwable =>
      e.printStackTrace()
      2
    }
    // QueryServer.stop() leaves its request executor's non-daemon
    // threads alive, so the JVM would never exit on its own
    System.exit(code)
  }

  private def run(o: Opts): Int = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(t0)
    val counters = new EngineCounters
    spark.sparkContext.addSparkListener(counters)
    val wl = Workload(o.workload, spark, o)

    def setUp(round: Int): Double = {
      val t = System.nanoTime()
      wl.setup(s"${o.work}/round-$round")
      secondsSince(t)
    }
    val setups = (1 to Setups).map { i => if (i > 1) wl.teardown(); setUp(i) }
    val t1 = System.nanoTime()
    wl.warmUp()
    val warmS = secondsSince(t1)

    // the timed loop; a traced run interleaves traced and untraced
    // operations of the same seeded sequence
    val rec = new Recorder(o.trace, spark.sparkContext, counters)
    val before = rec.counterSnapshot()
    val t2 = System.nanoTime()
    wl.loop(rec, t2 + (o.seconds * 1e9).toLong)
    val loopS = secondsSince(t2)
    // engine counters over the loop (read outside its timing)
    val loopCounters = rec.counterSnapshot().map { case (k, v) => k -> (v - before(k)) }

    try wl.check(rec, s"${o.work}/check", corrupt = o.corrupt)
    catch { case e: Exception => rec.checkFailed(s"check threw ${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)) }

    Json.write(o.out, Map(
      "workload" -> o.workload,
      "session_s" -> sessionS,
      "setup_s" -> setups,
      "warmup_s" -> warmS,
      "loop_s" -> loopS,
      "ops" -> rec.opList.map { op =>
        Map("kind" -> op.kind, "name" -> op.name, "traced" -> op.traced,
          "start_s" -> (op.start - t0) / 1e9, "latency_s" -> (op.end - op.start) / 1e9,
          "failure" -> op.failure) ++ op.attrs
      },
      "check_failures" -> rec.checkFailureList,
      "spans" -> rec.spanList.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_s" -> (s.start - t0) / 1e9,
        "dur_s" -> (s.end - s.start) / 1e9)),
      "loop_counters" -> loopCounters,
      "facts" -> wl.facts))
    wl.teardown()
    spark.stop()
    0
  }
}
