package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder every graft main and the test base
  * start from: `local[cpus]` with one shuffle partition per core, UTC
  * session time, AQE on, no UI, and graft's extensions (its rules,
  * functions and codegen-cache defaults). Callers add their own
  * `.config`/`.appName` before `getOrCreate()`. */
object Session {

  /** Cores for a main: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(cpus: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
}
