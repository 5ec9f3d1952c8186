package graft

import org.apache.spark.sql.SparkSession

/** The one local-session shape shared by Bench and PlanDump, so
  * their numbers and plans stay comparable by construction.
  *
  * AQE coalesces small shuffle reads by SIZE (parallelismFirst=false).
  * The SESSION default advisory is Spark's own 64m — the safe choice for a
  * real cluster, where a deployed jar must not silently shatter a 100 TB
  * shuffle into 4 MB partitions. The BENCH HARNESS (Bench/PlanDump)
  * passes an explicit 4m advisory instead: at the sf0.1 bench corpus the
  * q-pack's CPU-bound joins need their parallelism back (32m collapsed
  * q07's ~100 MB shuffles to a handful of tasks: 1.2s -> 3.0s), and 4m is
  * sized so those ~100 MB exchanges still fan out across local[32].
  * A caller wanting another size passes it as `advisory`.
  */
object LocalSession {
  /** Spark's own default — what a deployed jar should carry. */
  val ClusterAdvisory = "64m"
  /** Sandbox-bench advisory, sized for the sf0.1 corpus on local[32]. */
  val BenchAdvisory = "4m"

  def build(cpus: String, advisory: String = ClusterAdvisory): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The bench-harness session: same shape, sandbox-tuned advisory. */
  def buildBench(cpus: String): SparkSession = build(cpus, BenchAdvisory)
}
