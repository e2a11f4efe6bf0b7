package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, with the span that caused it. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
                      startNs: Long, startMs: Long, var endNs: Long = -1L,
                      var endMs: Long = -1L, var gcMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side facts of the traced calls, as seen from the listener bus.
  * Every traced call runs under a job group naming its span, so jobs,
  * stages and tasks are attributed to spans; anything the benchmark does
  * between timed calls runs under no `pb:` group and is ignored. */
final class SparkFacts extends SparkListener with QueryExecutionListener {
  final class Job(val span: Int, val startMs: Long, val stages: Seq[Int]) {
    var endMs: Long = -1L
  }
  final class Tasks {
    var n = 0L; var failed = 0L; var runMs = 0L; var cpuNs = 0L
    var inBytes = 0L; var inRows = 0L; var shufRead = 0L
    var shufWrite = 0L; var spill = 0L; var outBytes = 0L; var outRows = 0L
  }
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stageJob = mutable.Map[Int, Int]()
  val byStage = mutable.Map[Int, Tasks]()
  /** (start of analysis in epoch ms, planning phases in ms) per query. */
  val plans = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("pb:")).foreach { g =>
      jobs(e.jobId) = new Job(g.stripPrefix("pb:").toInt, e.time, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId)) {
      val t = byStage.getOrElseUpdate(e.stageId, new Tasks)
      t.n += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) t.failed += 1
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.inBytes += m.inputMetrics.bytesRead
        t.inRows += m.inputMetrics.recordsRead
        t.shufRead += m.shuffleReadMetrics.totalBytesRead
        t.shufWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.outBytes += m.outputMetrics.bytesWritten
        t.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    if (phases.nonEmpty)
      plans += ((phases.values.map(_.startTimeMs).min,
        phases.values.map(_.durationMs).sum))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)
}

/** Spans around the benchmark's calls into the engine, kept in memory
  * and written out when the run ends. While a pass is traced, a
  * [[SparkFacts]] listener is attached and every span's jobs carry the
  * span's id as their job group. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var pass = -1
  private var facts: SparkFacts = _

  def active: Boolean = facts != null

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  def span[T](name: String)(body: => T): T = {
    if (!active) return body
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), pass,
      name, System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack ::= s
    sc.setJobGroup(s"pb:${s.id}", name)
    val gc0 = gcMs
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.gcMs = gcMs - gc0
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb:${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def beginPass(n: Int): Unit = {
    pass = n
    facts = new SparkFacts
    sc.addSparkListener(facts)
    spark.listenerManager.register(facts)
  }

  /** Ends a traced pass and returns its per-layer metrics. */
  def endPass(cores: Int): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    sc.removeSparkListener(facts)
    spark.listenerManager.unregister(facts)
    val f = facts
    facts = null
    layers(f, spans.filter(_.pass == pass).toSeq, cores)
  }

  private def layers(f: SparkFacts, ss: Seq[Span],
                     cores: Int): Map[String, Double] = {
    val byId = ss.map(s => s.id -> s).toMap
    def opOf(s: Span): Span =
      if (s.parent < 0) s else byId.get(s.parent).map(opOf).getOrElse(s)
    val ops = ss.filter(_.parent < 0)
    val wall = ops.map(_.seconds).sum
    val jobs = f.jobs.values.filter(j => byId.contains(j.span)).toSeq
    val stages = jobs.flatMap(_.stages).toSet
    val tasks = f.byStage.filter(kv => stages(kv._1)).values.toSeq
    def tsum(g: f.Tasks => Long): Long = tasks.map(g).sum
    val scan = tasks.filter(_.inBytes > 0)
    // wall time covered by no job: op time minus the union of job spans
    val covered = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) {
        case ((acc, end), (s, e)) =>
          if (e <= end) (acc, end)
          else (acc + e - math.max(s, end), e)
      }._1 / 1e3
    // planning of queries analysed inside a timed call
    val planMs = f.plans.collect {
      case (start, ms)
          if ops.exists(o => start >= o.startMs && start <= o.endMs) => ms
    }.sum
    def named(p: String) = ss.filter(_.name == p)
    def prefixed(p: String) = ss.filter(_.name.startsWith(p))
    val runTask = tsum(_.runMs) / 1e3
    Map(
      "schema.load_s" -> named("schema.load").map(_.seconds).sum,
      "schema.validate_s" -> named("schema.validate").map(_.seconds).sum,
      "pipeline.gate_s" -> named("pipeline.gate").map(_.seconds).sum,
      "pipeline.translate_s" ->
        named("pipeline.translate").map(_.seconds).sum,
      "pipeline.indices_run" -> prefixed("sinks.publish.").size.toDouble,
      "sources.scan_task_s" -> scan.map(_.runMs).sum / 1e3,
      "sources.input_bytes" -> scan.map(_.inBytes).sum.toDouble,
      "sources.input_rows" -> scan.map(_.inRows).sum.toDouble,
      "sinks.publish_s" -> prefixed("sinks.").map(_.seconds).sum,
      "sinks.docs" -> tsum(_.outRows).toDouble,
      "sinks.bytes_written" -> tsum(_.outBytes).toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> tsum(_.n).toDouble,
      "spark.failed_tasks" -> tsum(_.failed).toDouble,
      "spark.driver_gap_s" -> math.max(0.0, wall - covered),
      "spark.plan_s" -> planMs / 1e3,
      "spark.task_run_s" -> runTask,
      "spark.task_cpu_s" -> tsum(_.cpuNs) / 1e9,
      "spark.slot_util" -> (if (wall > 0) runTask / (wall * cores) else 0.0),
      "spark.shuffle_read_bytes" -> tsum(_.shufRead).toDouble,
      "spark.shuffle_write_bytes" -> tsum(_.shufWrite).toDouble,
      "spark.spill_bytes" -> tsum(_.spill).toDouble,
      "spark.gc_s" -> ops.map(_.gcMs).sum / 1e3
    ) ++ ops.flatMap { o =>
      // what makes an operation job-bound or task-bound: its jobs, the
      // task time they ran and how much of its slots that filled. Queries
      // are the `functions` layer; the ETL's runs go to the record only.
      val q =
        if (o.name.startsWith("query."))
          "functions." + o.name.stripPrefix("query.")
        else "ops." + o.name
      val qJobs = jobs.filter(j => opOf(byId(j.span)) == o)
      val qStages = qJobs.flatMap(_.stages).toSet
      val qTasks = f.byStage.filter(kv => qStages(kv._1)).values.toSeq
      val qRun = qTasks.map(_.runMs).sum / 1e3
      Seq(s"$q.wall_s" -> o.seconds,
        s"$q.jobs" -> qJobs.size.toDouble,
        s"$q.task_run_s" -> qRun,
        s"$q.shuffle_write_bytes" -> qTasks.map(_.shufWrite).sum.toDouble,
        s"$q.slot_util" ->
          (if (o.seconds > 0) qRun / (o.seconds * cores) else 0.0))
    }
  }
}
