package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** One benchmark run in one JVM: start the session, run the cold pass,
  * then two warm passes per lane, and write what was measured as JSON.
  * `run.py` drives it; see README.md.
  *
  * Usage: Main --workload etl|ops --data DIR --work DIR --result FILE
  *             --seconds S --trace 0|1 --session-starts N
  *             [--queries q1,q2,...]
  */
object Main {

  val Cores = 4
  val WarmPasses = 2

  val Workloads = Seq("etl", "ops")

  final case class Op(name: String, seconds: Double, error: Option[String])
  final case class Pass(n: Int, lane: String, traced: Boolean,
                        ops: Seq[Op], layers: Map[String, Double])

  private def die(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = args.getOrElse(k, die(s"missing $k"))
    val workload = arg("--workload")
    val data = arg("--data")
    val work = Paths.get(arg("--work"))
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val starts = arg("--session-starts").toInt
    if (!Workloads.contains(workload))
      die(s"unknown workload '$workload'; known: ${Workloads.mkString(", ")}")
    val queries = args.get("--queries").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    if (workload == "ops" && queries.isEmpty) die("ops needs --queries")
    // every query must exist: a typo fails the run instead of shrinking it
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      die(s"workload $workload names queries SparkEntry.queries does not " +
        s"define: ${unknown.mkString(", ")}")

    // setup: session start, several times; the last session is kept
    val startSecs = (1 to starts).map { i =>
      val t0 = System.nanoTime()
      val s = session(work.resolve("spark-local"))
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < starts) s.stop()
      dt
    }
    val spark = SparkSession.active
    val tracer = new Tracer(spark)

    // a traced run adds a traced lane with its own copy of the inputs'
    // mutable state and its own outputs, so both lanes check on their own
    def lane(traced: Boolean): Lane = {
      val name = if (traced) "traced" else "untraced"
      if (workload == "etl")
        new EtlLane(name, spark, tracer, Paths.get(data), work.resolve(name),
          traced)
      else
        new OpsLane(name, spark, tracer, s"$data/tables", queries,
          work.resolve(name), traced)
    }
    val lanes = lane(traced = false) +: (if (trace) Seq(lane(traced = true))
      else Nil)
    lanes.foreach(_.prepare())

    val passes = mutable.ArrayBuffer[Pass]()
    def runPass(lane: Lane): Unit = {
      val n = passes.size
      if (lane.traced) tracer.beginPass(n)
      val ops = lane.pass()
      val layers =
        if (lane.traced) tracer.endPass(Cores) ++ lane.layerExtras()
        else Map.empty[String, Double]
      passes += Pass(n, lane.name, lane.traced, ops, layers)
    }
    runPass(lanes.head) // the cold pass: first in this JVM
    // warm passes: a fixed number per lane, so that every commit's median
    // is taken over the same passes of the JIT's warm-up curve. Two lanes
    // run in ABBA order, so the warm-up and any drift hit both alike.
    // `--seconds` per lane only limits: once it is spent no further pass
    // starts, but every lane gets at least one.
    val t0 = System.nanoTime()
    val order = (0 until WarmPasses * lanes.size)
      .map(i => lanes((i + 1) / 2 % lanes.size))
    order.zipWithIndex.foreach { case (l, i) =>
      if (i < lanes.size ||
          (System.nanoTime() - t0) / 1e9 < seconds * lanes.size)
        runPass(l)
    }

    val conf = (spark.sparkContext.getConf.getAll.toMap ++
      spark.conf.getAll).toSeq.sortBy(_._1)
    val result = Json.obj(
      "workload" -> workload,
      "session_start_s" -> startSecs,
      "peak_rss_mb" -> peakRssMb,
      "record" -> Json.obj(
        "cores" -> Cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "session_conf" -> Json.obj(conf: _*)),
      "passes" -> passes.map { p =>
        Json.obj("n" -> p.n, "lane" -> p.lane, "traced" -> p.traced,
          "ops" -> p.ops.map(o => Json.obj("name" -> o.name,
            "seconds" -> o.seconds, "error" -> o.error.orNull)),
          "layers" -> Json.obj(p.layers.toSeq.sortBy(_._1): _*))
      },
      "lanes" -> lanes.map(_.describe),
      "oracle_sql" -> Json.obj(queries
        .map(q => q -> SparkEntry.oracleSql.getOrElse(q, null)): _*))
    Files.writeString(Paths.get(arg("--result")), Json.render(result))
    Files.writeString(work.resolve("spans.json"), Json.render(
      tracer.spans.map { s =>
        Json.obj("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
          "name" -> s.name, "start_ms" -> s.startMs,
          "seconds" -> s.seconds, "gc_ms" -> s.gcMs)
      }))
    spark.stop()
  }

  /** The benchmark's session: local[4], with the engine's own settings
    * (as `graft.Bench` and `graft.RunEtl` set them); scratch files stay
    * under `localDir`. */
  def session(localDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Runs `body` as one timed operation; its failure is recorded, not
    * thrown, so one broken operation cannot hide the others. */
  def timed(name: String)(body: => Unit): Op = {
    // every operation starts from an empty cache, as a fresh process
    // would: a frame an earlier call left persisted would otherwise be
    // matched by plan and served stale (see README, known gaps)
    SparkSession.active.catalog.clearCache()
    val t0 = System.nanoTime()
    try { body; Op(name, (System.nanoTime() - t0) / 1e9, None) }
    catch {
      case e: Throwable =>
        Op(name, (System.nanoTime() - t0) / 1e9,
          Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)))
    }
  }
}

/** A sequence of operations run once per pass. */
trait Lane {
  def name: String
  def traced: Boolean
  def prepare(): Unit = ()
  def pass(): Seq[Main.Op]
  def layerExtras(): Map[String, Double] = Map.empty
  def describe: Json.Obj
}

/** Operator-suite lane: each query of the workload, written as parquet.
  * The write is the sink; whatever of the query is lazy runs inside it. */
final class OpsLane(val name: String, spark: SparkSession, tracer: Tracer,
                    tables: String, queries: Seq[String], out: Path,
                    val traced: Boolean) extends Lane {
  def pass(): Seq[Main.Op] = queries.map { q =>
    Main.timed(q) {
      tracer.span(s"query.$q") {
        val df = SparkEntry.queries(q)(spark, tables)
        tracer.span(s"sinks.write.$q") {
          df.write.mode("overwrite").parquet(out.resolve(q).toString)
        }
      }
    }
  }
  def describe: Json.Obj = Json.obj("name" -> name, "out" -> out.toString,
    "queries" -> queries)
}
