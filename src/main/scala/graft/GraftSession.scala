package graft

import org.apache.spark.sql.SparkSession

/** The one session profile of graft's entry points (Bench, Verify,
  * JobProfile, Explain), so timings, plans and job profiles are all
  * taken under the same config. `SPARK_GRAFT_CPUS` sets the local
  * cores and the shuffle partitions; each entry point names its own
  * default core count. */
object GraftSession {
  def cpus(default: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  def apply(defaultCpus: Int): SparkSession = {
    val n = cpus(defaultCpus)
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // r16 (guide §6): IceLite reads pass EXPLICIT leaf-file paths
      // from the manifest, yet Spark still launches a distributed
      // "listing leaf files" job whenever >32 paths are passed
      // (default parallelPartitionDiscovery.threshold) — pure
      // overhead on a local fs where a stat is ~µs. 1024 keeps the
      // listing on the driver for every fixture-scale table; on an
      // object-store cluster, where driver-serial listing of huge
      // tables is the slower side, set SPARK_GRAFT_LIST_THRESHOLD
      // back down (the distributed listing resumes above it).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "1024"))
      .getOrCreate()
  }
}
