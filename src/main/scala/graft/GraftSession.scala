package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. The bench, `Verify`, the MCP server, every
  * `graft.tools` main and the test suites build their session here, so
  * the path users run is the path that is measured and verified.
  *
  * Environment read (and nothing else):
  *  - `SPARK_GRAFT_CPUS`: the default `cpus` (local cores and
  *    `spark.sql.shuffle.partitions`); unset means the JVM's available
  *    processors.
  *  - `SPARK_GRAFT_MASTER`: master URL; unset means `local[cpus]`.
  *
  * The AQE pair, both runtime confs, so a per-query A/B sets them for
  * one run (`graft.tools.Profile <sfDir> <prefix> key=value`):
  *  - `coalescePartitions.parallelismFirst=false` lets AQE size
  *    post-shuffle partitions by bytes (`advisoryPartitionSizeInBytes`).
  *    With Spark's default `true` it refuses to coalesce below the core
  *    count, so every exchange over a KB-scale frame launches `cpus`
  *    tasks whose scheduling dwarfs their work. Sizing by bytes is what
  *    scales: tiny inputs collapse to one task, large inputs still fan
  *    out. Spark's docs recommend `false` for production.
  *  - `canChangeCachedPlanOutputPartitioning=true` lets AQE resize
  *    shuffles inside cached plans too. The graph tier pins index-sized
  *    intermediates through `CacheSlot`; with this off every cached
  *    subtree keeps the full static shuffle width (measured 32× the
  *    tasks and 8× the executor time on q315/q327, same results).
  *
  * `timeZone=UTC` makes timestamp rendering host-independent, and
  * `nanosAsLong` reads the fixtures' parquet `TIMESTAMP(NANOS)` columns,
  * which Spark 4 refuses by default, as epoch-nanos longs
  * (`Tables.events` re-derives a `TimestampType` column).
  *
  * A session that is already running is returned as it is. Spark's own
  * `getOrCreate` would re-apply these settings to it, so a tool main run
  * inside another program (a test JVM, a notebook) would change that
  * program's shuffle width.
  */
object GraftSession {

  def getOrCreate(appName: String, cpus: Int = defaultCpus): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .getOrElse {
        val s = SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
          .appName(appName)
          .withExtensions(new graft.plans.GraftExtensions)
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
          .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }

  /** `body` with the session confs `kvs` set, each key restored (or
    * unset) afterwards. Every set runs inside the scope, so a failing
    * set still restores the keys set before it.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally saved.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)
}
