package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.RunEtl
import graft.pipeline.{MappingDeps, MappingValidator, Translator}
import graft.schema.{DictionaryLoader, MappingYaml}
import graft.sinks.{EsControl, EsPublisher, FsEsClient}
import graft.sources.TubeGraphSource

/** The Tube ETL run as a lane of passes over the generated dumps. Each
  * pass is one forced `RunEtl.run` over every dump, then one CDC round per
  * changed table: a round swaps that node table's dump for its other
  * version (outside the timer) and calls `RunEtl.run` with
  * `perTableTxMillis` raising only that table, so the per-index gate
  * decides what re-runs.
  *
  * The lane owns a private copy of the dumps (hard links) and its own
  * index store, so a traced lane and an untraced lane in one run never
  * see each other's state. */
final class EtlLane(val name: String, spark: SparkSession, tracer: Tracer,
                    data: Path, dir: Path, val traced: Boolean) extends Lane {
  import EtlLane._

  private val dumps = dir.resolve("dumps")
  private val other = dir.resolve("other")
  private val store = dir.resolve("indices")
  private val schemaPath = data.resolve("fixture/schema.json").toString
  private val mappingPath = data.resolve("fixture/etlMapping.yaml").toString
  // a logical change clock: the gate only compares these numbers
  private var clock = 1000000000000L
  private var tx = Map.empty[String, Long]
  private val variantLive = mutable.Map(Changed.map(_ -> false): _*)
  private val digests = mutable.Map[String, (Long, java.math.BigDecimal)]()
  private var rerun = 0
  private var changed = 0

  override def prepare(): Unit = {
    linkTree(data.resolve("dumps"), dumps)
    linkTree(data.resolve("variants"), other)
    tx = Files.list(dumps).toArray.map(p =>
      p.asInstanceOf[Path].getFileName.toString -> clock).toMap
  }

  def pass(): Seq[Main.Op] = {
    rerun = 0
    changed = 0
    // the forced run stamps every index with the current change clock,
    // so the rounds that follow are gated against it
    runOnce("full", force = true, Some(tx)) +: Changed.map { t =>
      swap(t)
      clock += 1000
      tx += s"node_$t" -> clock
      runOnce(s"round_$t", force = false, Some(tx))
    }
  }

  private def runOnce(op: String, force: Boolean,
                      perTable: Option[Map[String, Long]]): Main.Op = {
    val live = liveIndices(store)
    var published = Map.empty[String, (String, Long)]
    val o = Main.timed(op) {
      published =
        if (traced) tracer.span(s"etl.$op") {
          TracedEtl.run(spark, tracer, schemaPath, mappingPath,
            dumps.toString, store.toString, force, perTable)
        }
        else RunEtl.run(spark, schemaPath, mappingPath, dumps.toString,
          store.toString, force = force, perTableTxMillis = perTable)
    }
    // useful-work accounting, outside the timer: did a re-run index
    // publish documents that differ from the version it replaced?
    if (traced && o.error.isEmpty) published.foreach {
      case (alias, (index, _)) => live.get(alias).foreach { before =>
        rerun += 1
        if (digest(before) != digest(index)) changed += 1
      }
    }
    o
  }

  private def digest(index: String): (Long, java.math.BigDecimal) =
    digests.getOrElseUpdate(index, {
      val df = spark.read.parquet(store.resolve(index).resolve("docs")
        .toString)
      val r = df.select(count(lit(1)), sum(xxhash64(to_json(struct(
          df.columns.sorted.map(col).toIndexedSeq: _*)))
        .cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    })

  override def layerExtras(): Map[String, Double] =
    Map("pipeline.changed_ratio" ->
      (if (rerun == 0) 0.0 else changed.toDouble / rerun))

  private def swap(table: String): Unit = {
    val live = dumps.resolve(s"node_$table")
    val alt = other.resolve(s"node_$table")
    val tmp = dir.resolve("swap")
    Files.move(live, tmp)
    Files.move(alt, live)
    Files.move(tmp, alt)
    variantLive(table) = !variantLive(table)
  }

  def describe: Json.Obj = Json.obj("name" -> name,
    "store" -> store.toString,
    "variant_live" -> variantLive.toSeq.sortBy(_._1).toMap)
}

object EtlLane {
  /** The node tables the CDC rounds change, in round order: a supplier
    * change re-runs the two indices that read suppliers, a line-item
    * change re-runs every index but the nation one. */
  val Changed: Seq[String] = Seq("supplier", "lineitem")

  private def linkTree(src: Path, dst: Path): Unit =
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.createLink(t, p)
    }

  /** alias → its live index, from the store's alias file (the format
    * `FsEsClient` writes). */
  private def liveIndices(store: Path): Map[String, String] = {
    val f = store.resolve("_aliases.properties")
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).toArray.toSeq.map(_.toString)
      .filter(l => l.contains("=") && !l.startsWith("time_"))
      .map(_.split("=", 2)).collect {
        case Array(k, v) if v.nonEmpty => k -> v.split(",").head
      }.toMap
  }
}

/** `RunEtl.run`, step by step through the same public calls, with a span
  * around each one (the benchmark passes neither `rootBloomPrune` nor
  * `backup`, so their steps are left out). The traced lane runs this; its
  * published documents are checked against the same expected documents
  * as the untraced lane's, and its cost over `RunEtl.run` is the tracing
  * overhead.
  *
  * This is a copy and must be kept in step with `RunEtl.run`: `run.py`
  * pins a digest of `RunEtl.run`'s source and refuses a traced ETL run
  * once it differs. */
object TracedEtl {
  def run(spark: SparkSession, tracer: Tracer, schemaPath: String,
          mappingPath: String, dumpsDir: String, outDir: String,
          force: Boolean,
          perTableTxMillis: Option[Map[String, Long]])
      : Map[String, (String, Long)] = {
    val nowMillis = System.currentTimeMillis()
    val (schema, mapping) = tracer.span("schema.load") {
      val schema = DictionaryLoader.loadFile(schemaPath)
      val yaml = new String(Files.readAllBytes(Paths.get(mappingPath)),
        "UTF-8")
      (schema, DictionaryLoader.resolveMapping(schema,
        MappingYaml.parse(yaml)))
    }
    tracer.span("schema.validate") {
      MappingValidator.validateOrThrow(schema, mapping)
    }
    val client = new FsEsClient(Paths.get(outDir))
    val (toRun, needed) = tracer.span("pipeline.gate") {
      val toRun = mapping.indices.flatMap { m =>
        val sourceTx = perTableTxMillis.flatMap(byTable =>
          MappingDeps.latestTxMillis(
            MappingDeps.tables(schema, mapping, m), byTable))
        if (EsControl.needsRun(sourceTx, client.timestamp(m.name), force))
          Some(m -> sourceTx.getOrElse(nowMillis))
        else None
      }
      (toRun, MappingDeps.producerClosure(mapping, toRun.map(_._1.name).toSet))
    }
    if (toRun.isEmpty) return Map.empty
    val source = tracer.span("sources.open") {
      TubeGraphSource(spark, schema, dumpsDir)
    }
    val docs = tracer.span("pipeline.translate") {
      Translator.runAll(schema, source,
        mapping.copy(indices = mapping.indices.filter(i => needed(i.name))))
    }
    toRun.map { case (m, stamp) =>
      val (index, rows) = tracer.span(s"sinks.publish.${m.name}") {
        EsPublisher.publishCounted(client, m.name, docs(m.name), m.docType,
          stamp)
      }
      m.name -> (index, rows)
    }.toMap
  }
}
