package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.TpchGraph
import graft.queries._

/** Driver contract: the registry of every declared query. Each query is one
  * [[QuerySpec]] (Spark body plus DuckDB oracle) in the file of its family
  * under `graft.queries`; the name prefix picks the family. */
object SparkEntry {

  val all: Seq[QuerySpec] =
    RelationalQueries.all ++ DedupQueries.all ++ AnnQueries.all ++
      TextQueries.all ++ CorpusQueries.all ++ EventQueries.all ++
      GraphQueries.all

  /** `specs` by name. Fails naming every name declared more than once. */
  def index(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect {
      case (name, ss) if ss.size > 1 => name
    }.toSeq.sorted
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"query name(s) declared more than once: ${dups.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }

  private val byName = index(all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (name, q) => name -> q.run }

  val oracleSql: Map[String, String] =
    byName.map { case (name, q) => name -> q.oracle }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TpchGraph.customerDocs(spark, "/root/testdata/sf0.001")
}
