package graft.bench

import org.apache.spark.sql.SparkSession

/** One benchmark workload: fixtures, a timed closed loop, and a
  * correctness check of everything the loop produced. */
trait Workload {
  /** Build fresh fixtures under `dir`. Run several times per benchmark
    * run (only the last build is used) so set-up time is a median, not
    * one sample. */
  def setup(dir: String): Unit

  /** Once per run, after the last set-up: exercise every operation the
    * loop times, so the loop meets compiled code. */
  def warmUp(): Unit

  /** Release the last set-up's fixtures. */
  def teardown(): Unit = ()

  /** The closed loop, until `deadline` (a System.nanoTime instant). The
    * operation sequence depends only on the seed. */
  def loop(rec: Recorder, deadline: Long): Unit

  /** Check the loop's outputs, outside the timed region. `corrupt`
    * perturbs the program's side of each comparison, so a run proves
    * the check can fail. */
  def check(rec: Recorder, outDir: String, corrupt: Boolean): Unit

  /** Workload-specific facts for the report (sizes, bytes on disk). */
  def facts: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, o: Main.Opts): Workload =
    name match {
      case "crunch_reference" => new CrunchReference(spark, o)
      case "serve_mixed" => new ServeMixed(spark, o)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
}
