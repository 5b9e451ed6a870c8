package graft

import org.apache.spark.sql.SparkSession

/** The ONE place the engine's load-bearing session configuration lives.
  * Every main (Bench, Verify, RunPipeline, Smoke, Explain) builds
  * through here so a static conf can't silently drop out of one copy
  * during a refactor — SessionConfSpec asserts the critical settings on
  * a factory-built session, and fails if any other main-tree file calls
  * `SparkSession.builder` itself.
  *
  * Load-bearing settings and why:
  *
  *  - `spark.sql.codegen.cache.maxEntries = 8192` (STATIC conf — must be
  *    set before the first session initializes; on a real cluster it
  *    belongs in spark-defaults.conf). Round-12 root cause: Spark's
  *    compiled-codegen cache holds 100 classes by default, so any
  *    long-running session executing a wide query mix (~200 registered
  *    queries here; a production multi-tenant driver looks the same)
  *    evicts EVERY query's generated classes between its own executions
  *    and re-pays Janino compilation + JIT warm-up per run. Measured:
  *    q170 7.8→3.3 s, q171 0.69→0.43, q195 0.45→0.31 in the same window
  *    after raising the cap; the whole round-11 ">1.4×" bench tail was
  *    this. 8192 covers ~2-3k distinct codegen units with headroom.
  *    Pairs with `-XX:ReservedCodeCacheSize=512m` (build.sbt fork JVM
  *    options / spark-defaults `spark.driver.extraJavaOptions`) so the
  *    retained classes' JIT'd code isn't evicted at the JVM layer
  *    instead.
  *  - `spark.sql.shuffle.partitions = <cores>`: local[N] has N executor
  *    threads; the 200 default would create 6× more, smaller shuffle
  *    partitions than the machine has parallelism — pure scheduling
  *    overhead at test SFs. On a real cluster this is sized to
  *    executors×cores (or left to AQE coalescing).
  *  - `spark.sql.session.timeZone = UTC`: the DuckDB oracle compares
  *    timestamp values; a session in local time would skew them.
  *  - `spark.sql.legacy.parquet.nanosAsLong = true`: the driver's
  *    testdata writes nanosecond timestamps (pyarrow); without this
  *    Spark 4 refuses the footer.
  */
object GraftSession {

  /** See scaladoc above — the round-12 codegen-cache root cause. */
  val CodegenCacheMaxEntries = "8192"

  /** A builder preloaded with the engine's load-bearing confs; callers
    * add their own extras (master is set here from `cpus`). */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries)

  /** Standard main-entry session: `SPARK_GRAFT_CPUS` cores (default
    * `defaultCpus`), WARN logging. */
  def build(defaultCpus: String = "32"): SparkSession = {
    val spark =
      builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
