package graft.sinks

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import graft.schema.EsMapping

/** Filesystem-backed `EsClient`: each index is a directory holding
  * `_mapping.json` plus whatever the loader writes (parquet document sets);
  * aliases — including the reference's timestamp-encoding alias names
  * (tube/etl/outputs/es/timestamp.py:20-43) — live in one properties file.
  *
  * Exists so the complete S9–S12 lifecycle (versioned index create → bulk
  * load → alias flip → retention → array-config side doc → incremental-run
  * timestamp) runs and is tested end-to-end in an environment with no
  * cluster; an HTTP transport drops in behind the same `EsClient` trait
  * without touching `EsControl` or `EsPublisher`. */
final class FsEsClient(val root: Path) extends EsClient {
  Files.createDirectories(root)
  private val aliasFile = root.resolve("_aliases.properties")

  def indices(): Seq[String] = {
    val s = Files.list(root)
    try s.iterator.asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  private def aliasMap: Map[String, Seq[String]] =
    if (!Files.exists(aliasFile)) Map.empty
    else Files.readAllLines(aliasFile).asScala.toSeq.filter(_.contains("="))
      .map { l =>
        val Array(k, v) = l.split("=", 2)
        k -> v.split(",").toSeq.filter(_.nonEmpty)
      }.toMap

  private def writeAliases(m: Map[String, Seq[String]]): Unit =
    Files.write(aliasFile, m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${v.mkString(",")}" }.asJava)

  def aliasTargets(alias: String): Seq[String] = aliasMap.getOrElse(alias, Nil)

  def createIndex(name: String, mappingJson: String): Unit = {
    val dir = root.resolve(name)
    Files.createDirectories(dir)
    Files.write(dir.resolve("_mapping.json"), mappingJson.getBytes("UTF-8"))
  }

  def flipAlias(alias: String, old: Seq[String], target: String): Unit =
    writeAliases(aliasMap + (alias -> Seq(target)))

  def deleteIndex(name: String): Unit = {
    val dir = root.resolve(name)
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
  }

  /** `_reindex` stand-in with LIVE-ES semantics: documents copy, the
    * target's OWN mapping survives — a real `_reindex` never carries the
    * source mapping (callers create the target from `getMapping` first;
    * `EsControl.backup`/`restore` do). The target's documents are CLEARED
    * first — parquet part files carry unique names, so copying into a
    * non-empty target would union stale and new document sets instead of
    * replacing them (a live-ES reindex writes into a fresh index; this
    * keeps the stand-in's semantics equal). */
  def reindex(source: String, target: String): Unit = {
    val src = root.resolve(source)
    val dst = root.resolve(target)
    val targetMapping =
      if (Files.exists(dst.resolve("_mapping.json")))
        Some(Files.readAllBytes(dst.resolve("_mapping.json")))
      else None
    deleteIndex(target)
    Files.createDirectories(dst)
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else if (p.getFileName.toString != "_mapping.json")
        Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
    targetMapping.foreach(m => Files.write(dst.resolve("_mapping.json"), m))
  }

  def getMapping(index: String): String = {
    val f = root.resolve(index).resolve("_mapping.json")
    if (Files.exists(f)) new String(Files.readAllBytes(f), "UTF-8") else "{}"
  }

  def addAlias(index: String, alias: String): Unit =
    writeAliases(aliasMap +
      (alias -> (aliasMap.getOrElse(alias, Nil) :+ index).distinct))

  def removeAlias(index: String, alias: String): Unit = {
    val rest = aliasMap.getOrElse(alias, Nil).filterNot(_ == index)
    writeAliases(
      if (rest.isEmpty) aliasMap - alias else aliasMap + (alias -> rest))
  }

  /** S11 sink-side timestamp, encoded as an alias name `time_{alias}_{ms}`
    * exactly like the reference. Replaces any previous one. */
  def setTimestamp(alias: String, millis: Long): Unit =
    writeAliases(aliasMap.filterNot(_._1.startsWith(s"time_${alias}_")) +
      (s"time_${alias}_$millis" -> Seq(alias)))

  def timestamp(alias: String): Option[Long] = {
    val re = s"""^time_${java.util.regex.Pattern.quote(alias)}_(\\d+)$$""".r
    aliasMap.keys.collect { case re(ms) => ms.toLong }.reduceOption(_ max _)
  }

  /** Drop the S11 stamp entirely — a missing sink timestamp makes
    * `EsControl.needsRun` always true. Called on rollback: the stamp from
    * the bad publish would otherwise gate-skip a fix-forward run whose
    * sources and config are unchanged. */
  def clearTimestamp(alias: String): Unit =
    writeAliases(aliasMap.filterNot(_._1.startsWith(s"time_${alias}_")))
}

/** The reference's whole write phase (tube/etl/outputs/es/writer.py:120-134)
  * as one call: generate the ES mapping from the document schema, create the
  * next versioned index, bulk-load the documents (parquet, full write
  * parallelism — no `coalesce(1)`), flip the alias, prune superseded
  * versions, emit the `-array-config` side doc (S12), and stamp the
  * incremental-run timestamp (S11). */
object EsPublisher {

  def publish(client: FsEsClient, alias: String, docs: DataFrame,
              docType: String, nowMillis: Long, keep: Int = 1): String =
    publishCounted(client, alias, docs, docType, nowMillis, keep)._1

  /** Like `publish`, but also returns the written document count: the sum
    * of the row counts in the footers of the part files the write just
    * produced, read in this process. No Spark job runs for it, and the
    * unmaterialized translation frame is never executed a second time. */
  def publishCounted(client: FsEsClient, alias: String, docs: DataFrame,
                     docType: String, nowMillis: Long,
                     keep: Int = 1): (String, Long) = {
    val mapping = EsMapping.forSchema(docs.schema, docType)
    var outPath: String = null
    val target = EsControl.publish(client, alias, mapping, { idx =>
      outPath = client.root.resolve(idx).resolve("docs").toString
      docs.write.mode("overwrite").parquet(outPath)
    }, keep)
    client.createIndex(s"$alias-array-config", "{}")
    Files.write(client.root.resolve(s"$alias-array-config").resolve("config.json"),
      EsMapping.arrayConfig(docs.schema, docType).getBytes("UTF-8"))
    client.setTimestamp(alias, nowMillis)
    (target, footerRowCount(outPath,
      docs.sparkSession.sparkContext.hadoopConfiguration))
  }

  /** Rows in the `part-*.parquet` files directly under `dir`, from their
    * footers alone. */
  private def footerRowCount(dir: String, conf: Configuration): Long = {
    val path = new HPath(dir)
    path.getFileSystem(conf).listStatus(path).iterator.filter { st =>
      val name = st.getPath.getName
      name.startsWith("part-") && name.endsWith(".parquet")
    }.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }
}
