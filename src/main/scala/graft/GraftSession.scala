package graft

import org.apache.spark.sql.SparkSession

/** Session builders for the engine's entry points, split by purpose:
  *
  *  - [[production]]: the defaults a REAL cluster run wants — AQE on
  *    (runtime coalesce + skew-join), shuffle partitions sized to cores,
  *    and NO file-split overrides: the planner's 128 MB
  *    `spark.sql.files.maxPartitionBytes` default is the right scan
  *    granularity at any corpus size.
  *  - [[Bench.buildSession]]: production options PLUS local bench tuning
  *    (1 MB splits / 64 KB open cost). Right for saturating 32 local
  *    threads on a few-hundred-MB staged corpus — and a scale-killer in a
  *    production job: at 100 TB a 1 MB split size plans ~10^8 scan tasks,
  *    so driver scheduling and task-launch overhead become the job. The
  *    override set is therefore quarantined in [[benchOnlyOptions]] and
  *    reaches ONLY the bench entry point (spec-asserted in
  *    SessionConfigSpec).
  *
  * Both carry one fixed file-system entry, `spark.hadoop.fs.file.impl`:
  * `file://` paths go through [[graft.io.LocalChmodFileSystem]], the
  * stock checksummed local file system whose raw layer sets permission
  * bits in the JVM. Without the Hadoop native library the stock one forks
  * a `chmod` process for every file and directory a write creates (367
  * per `RunJob.run` into 32 buckets on 4 cores); the bits, `.crc` files
  * and output tree are the same. Other schemes (`hdfs://`, `s3a://`) are
  * untouched.
  */
object GraftSession {

  /** Options every entry point shares (production defaults). */
  def commonOptions(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.LocalChmodFileSystem].getName)

  /** Bench-only local-throughput tuning — must never reach a production
    * session (see the object scaladoc for why). */
  def benchOnlyOptions: Seq[(String, String)] = Seq(
    "spark.sql.files.maxPartitionBytes" -> "1m",
    "spark.sql.files.openCostInBytes" -> "64k")

  /** An externally supplied master (spark-submit sets `spark.master` as a
    * system property on the driver JVM; standalone scripts may export
    * SPARK_MASTER). When present, the builder must NOT override it —
    * hardcoding .master(local[...]) would silently force a cluster job
    * onto the driver host. */
  private[graft] def externalMaster: Option[String] =
    sys.props.get("spark.master").orElse(sys.env.get("SPARK_MASTER"))
      .filter(_.nonEmpty)

  def build(cpus: String, appName: String,
            extra: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    if (externalMaster.isEmpty) b.master(s"local[$cpus]")
    (commonOptions(cpus) ++ extra).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** The session RunJob / CurationJob / Evaluate run on. */
  def production(cpus: String, appName: String = "graft"): SparkSession =
    build(cpus, appName, Seq.empty)
}
