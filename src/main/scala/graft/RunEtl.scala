package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.{MappingDeps, MappingValidator, Translator}
import graft.schema.{DictionaryLoader, MappingYaml}
import graft.sinks.{EsControl, EsPublisher, FsEsClient}
import graft.sources.TubeGraphSource

/** The deployment entry point — the engine's `run_etl.py` (reference:
  * run_etl.py:14-60 + tube/etl/indexers/interpreter.py): point it at the
  * SAME inputs a reference deployment has (data-dictionary schema.json,
  * etlMapping.yaml, a directory of node/edge table dumps) and it loads the
  * schema, resolves the mapping, translates every index in dependency
  * order, and publishes each through the versioned-alias lifecycle.
  *
  * Usage:
  *   runMain graft.RunEtl <schema.json> <etlMapping.yaml> <dumpsDir> <outDir>
  *
  * The sink is the filesystem-backed ES stand-in (FsEsClient: versioned
  * index dirs + alias flip + retention); swap the client for an HTTP
  * transport to publish to a live cluster — the lifecycle code is
  * transport-agnostic (sinks/EsControl.scala).
  */
object RunEtl {

  def main(args: Array[String]): Unit = {
    val flags = parseArgs(args.toSeq)
    // rollback mode: re-publish the {alias}_backup index as the new live
    // version and exit — no translation, no Spark session needed
    flags.restore.foreach { alias =>
      require(flags.positional.nonEmpty,
        "usage: RunEtl <outDir> --restore=<alias>")
      val client = new FsEsClient(
        java.nio.file.Paths.get(flags.positional.last))
      EsControl.restore(client, alias) match {
        case Some(idx) =>
          // rewind the S11 stamp: it was written by the publish being
          // rolled back, and would otherwise gate-skip the fix-forward
          // run when sources/config are unchanged (forcing --force)
          client.clearTimestamp(alias)
          println(s"restored $alias -> $idx (incremental stamp cleared — " +
            "next publish will run)")
          return
        case None => sys.error(s"no ${alias}_backup index to restore")
      }
    }
    val (schemaPath, mappingPath, dumpsDir, outDir) =
      resolveInputs(flags.positional, sys.env)
    val tuning = Settings.sparkTuning(sys.env)
    val builder = Sessions.builder(master = Some(tuning.master))
      .appName("graft-etl")
    tuning.executorMemory.foreach(builder.config("spark.executor.memory", _))
    tuning.driverMemory.foreach(builder.config("spark.driver.memory", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // the config signal (dictionary + mapping mtimes) rides the table
      // map under the reserved key: a config change re-runs every index
      // that still has table signals, and an index whose dump dirs ALL
      // vanished falls back to always-run (MappingDeps.latestTxMillis —
      // the config time never substitutes for a missing table signal).
      // Residual caveat: deleting SOME of an index's dump dirs while its
      // remaining tables and config stay untouched leaves no signal for
      // the deletion — that case needs a config touch or --force.
      // schema/mapping configs are LOCAL by contract (loaded below via
      // java.nio.file — they ship with the job, not the data), so a
      // java.io.File mtime is the consistent signal for them; the dumps
      // dir is scheme-aware (Spark reads it), so its listing goes
      // through the Hadoop FileSystem inside dumpTableTimes
      val cdcSignal =
        if (!flags.cdc) None
        else Some(MappingDeps.dumpTableTimes(dumpsDir,
            spark.sparkContext.hadoopConfiguration) +
          (MappingDeps.ConfigKey -> Seq(schemaPath, mappingPath)
            .map(p => new java.io.File(p).lastModified()).max))
      val published = run(spark, schemaPath, mappingPath, dumpsDir, outDir,
        latestSourceTxMillis = flags.sourceTxMillis, force = flags.force,
        perTableTxMillis = cdcSignal, rootBloomPrune = flags.bloomPruneRoots,
        backup = flags.backup)
      if (published.isEmpty)
        println("up to date — nothing published (use --force to override)")
      published.foreach { case (alias, (index, rows)) =>
        println(s"published $alias -> $index ($rows docs)")
      }
    } finally spark.stop()
  }

  /** [[main]]'s command line.
    *
    * @param force          publish every index, past the incremental gate
    * @param backup         take a rollback backup of each outgoing live
    *                       index before publishing
    * @param cdc            per-index CDC gate from dump-directory mtimes:
    *                       only indices whose dependency tables changed
    *                       since their last publish re-run
    * @param sourceTxMillis the latest committed source transaction time
    *                       feeding the incremental gate (a JDBC-fed
    *                       deployment passes `Jdbc.latestSucceededTxMillis`)
    * @param bloomPruneRoots opt-in walk pruning for selective root filters
    *                       (Translator doc): the operator's estimate of
    *                       roots surviving a filtered index
    * @param restore        rollback mode: the alias to restore
    * @param positional     everything that is not a flag */
  final case class Args(force: Boolean, backup: Boolean, cdc: Boolean,
                        sourceTxMillis: Option[Long],
                        bloomPruneRoots: Option[Long],
                        restore: Option[String], positional: Seq[String])

  /** Split argv into [[Args]]. Any `--` argument that is not one of the
    * flags above fails with an error naming it, so a misspelt flag never
    * runs as if it were absent; `--source-tx-millis` takes a non-negative
    * long and `--bloom-prune-roots` a positive one, else the error names
    * the flag and the value. Pure: no Spark, no filesystem. */
  def parseArgs(args: Seq[String]): Args = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    def valued(name: String): Option[String] =
      flags.collectFirst { case a if a.startsWith(s"$name=") =>
        a.stripPrefix(s"$name=") }
    def long(name: String, min: Long, what: String): Option[Long] =
      valued(name).map(v => v.toLongOption.filter(_ >= min).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a $what long, got '$v'")))
    val switches = Set("--force", "--backup", "--cdc")
    val named = Seq("--source-tx-millis", "--bloom-prune-roots", "--restore")
    flags.find(a => !switches(a) && !named.exists(n => a.startsWith(s"$n=")))
      .foreach(a => throw new IllegalArgumentException(s"unknown flag $a"))
    Args(force = flags.contains("--force"), backup = flags.contains("--backup"),
      cdc = flags.contains("--cdc"),
      sourceTxMillis = long("--source-tx-millis", 0L, "non-negative"),
      bloomPruneRoots = long("--bloom-prune-roots", 1L, "positive"),
      restore = valued("--restore"), positional = positional)
  }

  /** Argv+env input resolution (reference settings.py:36-39, 96-100 env
    * parity): four positional args are authoritative; with only
    * `<dumpsDir> <outDir>` given, the schema comes from `DICTIONARY_URL`
    * (plain path or file:// URI; any other scheme is an error) and the
    * mapping from the first `etlMapping.yaml` on the reference's config
    * search path
    * (`$XDG_DATA_HOME/gen3/tube` etc.) — so the reference's deployment
    * scripts drive this entry point without argument changes. `folders`
    * overrides the search path for tests. */
  def resolveInputs(positional: Seq[String], env: Map[String, String],
                    folders: Option[Seq[String]] = None)
      : (String, String, String, String) = positional match {
    case Seq(s, m, d, o, _*) => (s, m, d, o)
    case Seq(d, o) =>
      val schema = Settings.dictionaryPath(env).getOrElse(sys.error(
        "no schema.json: pass it positionally or set DICTIONARY_URL"))
      val mapping = Settings.findPath("etlMapping.yaml", "tube", env, folders)
        .getOrElse(sys.error(
          "no etlMapping.yaml: pass it positionally or place it on the " +
            "gen3/tube config search path"))
      (schema, mapping, d, o)
    case _ => sys.error(
      "usage: RunEtl [<schema.json> <etlMapping.yaml>] <dumpsDir> <outDir> " +
        "[--force] [--source-tx-millis=N] [--cdc] [--bloom-prune-roots=N] " +
        "[--backup] | RunEtl <outDir> --restore=<alias>")
  }

  /** Full pipeline; returns alias → (published index name, row count) for
    * every index actually published. The S11 incremental gate (reference
    * run_etl.py:91-103 `check_to_run_etl`) skips an index whose sink
    * timestamp already covers the source's latest change; `force`
    * overrides. With no source-change information the gate always runs
    * (safe default). Row counts are summed from the footers of the
    * published parquet files (`EsPublisher.publishCounted`): no Spark job
    * runs for them, and the translation frame is never executed twice. Each dump table's frame is built once per run and shared by
    * every index that reads it (the `Translator` memo).
    *
    * Gate granularity: with `perTableTxMillis` (a table → latest-change
    * map, e.g. from `MappingDeps.dumpTableTimes` or a CDC feed) each index
    * is gated on ONLY its own dependency tables (`MappingDeps.tables`), so
    * a change to one subgraph re-publishes one index, not all of them;
    * otherwise the single `latestSourceTxMillis` gates every index alike.
    * Only the surviving indices — plus the `joining_props` producers they
    * consume — are translated at all. */
  def run(spark: SparkSession, schemaPath: String, mappingPath: String,
          dumpsDir: String, outDir: String,
          nowMillis: Long = System.currentTimeMillis(),
          latestSourceTxMillis: Option[Long] = None,
          force: Boolean = false,
          perTableTxMillis: Option[Map[String, Long]] = None,
          rootBloomPrune: Option[Long] = None,
          backup: Boolean = false)
      : Map[String, (String, Long)] = {
    val schema = DictionaryLoader.loadFile(schemaPath)
    val mappingYaml = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(mappingPath)),
      "UTF-8")
    val mapping = DictionaryLoader.resolveMapping(schema,
      MappingYaml.parse(mappingYaml))
    // validate the WHOLE mapping every run, even under CDC gating —
    // otherwise an error in a gated-out index stays latent until its
    // tables finally change, surfacing mid-incremental-publish
    MappingValidator.validateOrThrow(schema, mapping)
    val client = new FsEsClient(java.nio.file.Paths.get(outDir))
    // each surviving index is published with a HIGH-WATER-MARK stamp: the
    // newest source change the gate saw, not the publish wall time. A
    // wall-time stamp has a masking race — a table changing DURING
    // translate is older than the stamp, so the next run would skip it
    // forever; stamping what the publish provably covered makes the next
    // comparison exact. Without source-change info the stamp falls back to
    // `nowMillis` (the gate then always runs, so nothing can be masked).
    val toRun = mapping.indices.flatMap { m =>
      val sourceTx = perTableTxMillis match {
        case Some(byTable) => MappingDeps.latestTxMillis(
          MappingDeps.tables(schema, mapping, m), byTable)
        case None => latestSourceTxMillis
      }
      if (EsControl.needsRun(sourceTx, client.timestamp(m.name), force))
        Some(m -> sourceTx.getOrElse(nowMillis))
      else None
    }
    if (toRun.isEmpty) return Map.empty
    val needed = MappingDeps.producerClosure(mapping, toRun.map(_._1.name).toSet)
    val source = TubeGraphSource(spark, schema, dumpsDir)
    val docs = Translator.runAll(schema, source,
      mapping.copy(indices = mapping.indices.filter(i => needed(i.name))),
      rootBloomPrune)
    toRun.map { case (m, stamp) =>
      // --backup: snapshot the outgoing live index first, so a bad publish
      // is one `--restore=<alias>` away from rollback
      if (backup) EsControl.backup(client, m.name)
      val (index, rows) = EsPublisher.publishCounted(
        client, m.name, docs(m.name), m.docType, stamp)
      m.name -> (index, rows)
    }.toMap
  }
}
