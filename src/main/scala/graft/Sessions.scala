package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured (the engine's
  * `make_spark_context`, reference tube/utils/spark.py:15-40). Every main
  * and the test base class build through here, so their sessions cannot
  * drift apart. What every graft session needs, however it is built,
  * lives in `GraftExtensions` instead: the native functions and the size
  * of Spark's generated-class cache.
  *
  * One rule for the core count: `SPARK_GRAFT_CPUS` if set, else every
  * core the JVM sees. Shuffle granularity follows it — both
  * `spark.sql.shuffle.partitions` and AQE's initial partition number are
  * the core count. An sf10 A/B measured 8× cores as pure overhead: no
  * gain at sf10, and a 1.4–3× loss at sf0.1 on iterative and persisted
  * queries, whose frames keep the inflated partition count into every
  * round where AQE's post-shuffle coalescing cannot reach them. */
object Sessions {

  /** `SPARK_GRAFT_CPUS` if set, else `availableProcessors`. */
  def defaultCores(env: Map[String, String] = sys.env): Int =
    positiveIntEnv(env, "SPARK_GRAFT_CPUS")
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine's integer env knobs: unset or empty is `None`; a value
    * that is not a positive integer is an error that names the variable. */
  def positiveIntEnv(env: Map[String, String], name: String): Option[Int] =
    env.get(name).filter(_.nonEmpty).map { v =>
      v.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
    }

  /** The engine's conf on `master` (default `local[cores]`). */
  def builder(cores: Int = defaultCores(),
              master: Option[String] = None): SparkSession.Builder =
    SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events carry INT64-nanos timestamps on some corpus generations;
      // read them as longs (EventStream.normalizeTs handles both forms)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // reliable checkpoints (written when a checkpoint dir is set — see
      // Frames.truncate) are only garbage-collected with this on; the
      // default (false) accretes one rdd-<id> dir per iteration round
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  /** A local session at `cores`, logging warnings and up. */
  def local(cores: Int = defaultCores()): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
