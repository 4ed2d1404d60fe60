package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs on — Bench, Verify,
  * ScaleBench, Smoke, Dev and the test harness — so a dev-loop or test
  * number comes from the same setup as the judged artifact.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Fixture directory the timed mains and the dev loop read. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Builder settings, key by key. Child sessions (`newSession`) inherit
    * builder settings but not runtime `conf.set`s, so everything a child
    * must see lives here. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    // AQE coalesces post-shuffle partitions toward the advisory size
    // instead of keeping ~cores tasks per stage: small stages are bound by
    // per-task scheduling, and at scale the same setting yields the
    // advisory-sized partition count
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.scheduler.mode" -> "FAIR",
    // events.parquet has shipped TIMESTAMP(NANOS), which Spark's reader
    // rejects; read it as raw long ns (Tables.events converts)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def create(cores: Int = cores, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
    (settings(cores) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietBoundedWindowWarnings()
    spark
  }

  /** The bounded global windows in this engine (sketch-register walks, day
    * dimensions, top-k picks over pre-aggregated frames — documented
    * bounded-by-design at their call sites) make WindowExec warn
    * `No Partition Defined` on every execution, enough to push Bench's
    * JSON line out of a 2000-character output tail. A constant partition
    * key does not help (Catalyst folds it back to an empty spec), so this
    * demotes exactly that one logger to ERROR and leaves every other WARN. */
  private def quietBoundedWindowWarnings(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // log config must never fail a run
}
