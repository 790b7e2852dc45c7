package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session shape of this repo: `local[cores]` with as
  * many shuffle partitions as cores, UTC session time, no UI, and a
  * whole-stage-codegen class cache sized to the registry. Every main
  * (Bench, Verify, the generators, the probes) and the test suites build
  * their session here and add only their own extra config.
  */
object LocalSession {

  /** The whole-stage-codegen compiled-class cache defaults to 100 entries;
    * the registry generates ~1,400 distinct codegen units, so at the
    * default every warm pass Janino-recompiles ~1,280 of them (measured
    * r14: 52-62 s/pass thrashing vs 33 s/pass with 0 recompiles once sized
    * to hold the working set). Scale-neutral: the same per-JVM cache backs
    * every executor. Memory cost is tens of MB of classes.
    */
  val CodegenCacheEntries = 4096

  /** Cores of the test sessions and of the exchange-count snapshot
    * (`ProbePlanShape`): fixed, so plan checks do not depend on the host. */
  val FixedCores = 4

  /** Deployment parallelism: `SPARK_GRAFT_CPUS`, else every available core. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cores: Int = envCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
}
