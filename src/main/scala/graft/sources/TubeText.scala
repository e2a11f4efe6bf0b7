package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reader for the reference's raw graph-table dump format (S2–S6 in
  * SURVEY.md §2.1): quoted-CSV text, one directory of part files per table.
  *
  * Node row:  `created, acl, _sysan, _props, node_id` — `_props` is a JSON
  * object holding all entity properties (reference: tube/etl/indexers/base/
  * lambdas.py:10-61; example fixture at tests/dataframe_tests/test_data/
  * ibdgc/graphs/node_participant/part-m-00000).
  * Edge row:  `created, acl, _sysan, _props, src_id, dst_id` with
  * src = child, dst = parent (lambdas.py:64-71).
  *
  * The reference hand-rolls quote unescaping (`'`→`###`, `""`→`##`) plus
  * `ast.literal_eval`; we use Spark's native CSV reader (quote `"`, escape
  * `""`) and `from_json` — all Catalyst expressions, fully codegen'd, and
  * splittable across executors (the reference's `wholeTextFiles` edge scan
  * reads each file on ONE task; `read.csv` splits by HDFS block).
  *
  * Missing/empty table directory ⇒ typed EMPTY DataFrame, not failure —
  * load-bearing semantics (reference: base/translator.py:94-117).
  *
  * A table directory holding `*.parquet` part files is read as a PARQUET
  * dump instead (the `Jdbc.dumpAll` layout — flat relational columns with
  * `node_id`/`src_id`/`dst_id`): columnar, splittable, schema'd — the
  * at-scale dump format. Text and parquet dumps can coexist per-table
  * under one base dir.
  */
object TubeText {

  private sealed trait DumpKind
  private case object NoDump extends DumpKind
  private case object TextDump extends DumpKind
  private case object ParquetDump extends DumpKind

  private def dumpKind(spark: SparkSession, dir: String): DumpKind = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) NoDump
    else {
      val files = fs.listStatus(path).filter(s =>
        s.isFile && s.getLen > 0 && !s.getPath.getName.startsWith("_"))
      if (files.isEmpty) NoDump
      else if (files.exists(_.getPath.getName.endsWith(".parquet"))) ParquetDump
      else TextDump
    }
  }

  private def readCsv(spark: SparkSession, dir: String, nCols: Int): DataFrame =
    spark.read
      .option("quote", "\"")
      .option("escape", "\"")
      .option("multiLine", "false")
      .schema(StructType((0 until nCols).map(i =>
        StructField(s"_c$i", StringType))))
      .csv(dir)

  /** Node table → DataFrame with `_{label}_id` + one typed column per prop
    * in `propsSchema` (extracted from the `_props` JSON for text dumps;
    * flat columns, absent ones null-filled at type, for parquet dumps). */
  def nodes(spark: SparkSession, dir: String, label: String,
            propsSchema: StructType): DataFrame = {
    val idCol = s"_${label}_id"
    dumpKind(spark, dir) match {
      case TextDump =>
        readCsv(spark, dir, 5).select(
          col("_c4").alias(idCol),
          from_json(col("_c3"), propsSchema).alias("_p"))
          .select(col(idCol) +: propsSchema.fieldNames.toSeq.map(f => col(s"_p.$f")): _*)
      case ParquetDump =>
        val raw = spark.read.parquet(dir)
        val have = raw.columns.map(c => c.toLowerCase -> c).toMap
        def named(n: String) = have.get(n.toLowerCase).map(col)
        val id = named("node_id").orElse(named(idCol)).getOrElse(
          throw new IllegalArgumentException(
            s"parquet node dump $dir has no node_id/$idCol column"))
        raw.select(id.cast(StringType).alias(idCol) +:
          propsSchema.fields.toSeq.map { f =>
            named(f.name).map(_.cast(f.dataType).alias(f.name))
              .getOrElse(lit(null).cast(f.dataType).alias(f.name))
          }: _*)
      case NoDump =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(StructField(idCol, StringType) +: propsSchema.fields))
    }
  }

  /** Edge table → (childIdCol, parentIdCol): the dump's src is the child,
    * its dst the parent. */
  def edges(spark: SparkSession, dir: String, childIdCol: String,
            parentIdCol: String): DataFrame = {
    dumpKind(spark, dir) match {
      case TextDump =>
        readCsv(spark, dir, 6)
          .select(col("_c4").alias(childIdCol), col("_c5").alias(parentIdCol))
      case ParquetDump =>
        val raw = spark.read.parquet(dir)
        val have = raw.columns.map(c => c.toLowerCase -> c).toMap
        def req(n: String) = have.get(n).map(col).getOrElse(
          throw new IllegalArgumentException(
            s"parquet edge dump $dir has no $n column"))
        raw.select(req("src_id").cast(StringType).alias(childIdCol),
          req("dst_id").cast(StringType).alias(parentIdCol))
      case NoDump =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField(childIdCol, StringType),
                         StructField(parentIdCol, StringType))))
    }
  }
}
