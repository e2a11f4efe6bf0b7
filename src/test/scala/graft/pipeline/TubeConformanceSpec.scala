package graft.pipeline

import java.math.{MathContext, RoundingMode}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import graft.{RunEtl, SparkSpec}

/** The paper's path end to end on Gen3-shaped inputs: dictionary →
  * mapping → Translator → publish, through `RunEtl.run`, over the
  * Sqoop-format dumps in `src/test/resources/tube-conformance/`. Each
  * published index is compared with documents an independent DuckDB
  * implementation of the mapping computed from the same graph (written
  * by `plans/r21-spec-only-deletions/gen_conformance.py`, which also
  * regenerates the dumps).
  *
  * Documents compare as multisets of canonical rows: same column set,
  * column and row order free, arrays as multisets, integral numbers as
  * integers and other floats at nine significant digits. */
class TubeConformanceSpec extends SparkSpec {

  private val base =
    Paths.get(getClass.getResource("/tube-conformance").toURI).toString

  private val nine = new MathContext(9, RoundingMode.HALF_EVEN)

  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Boolean => s"b:$b"
    case n @ (_: Byte | _: Short | _: Int | _: Long) => s"n:$n"
    case f: Float => number(f.toDouble)
    case d: Double => number(d)
    case d: java.math.BigDecimal => number(d.doubleValue)
    case r: Row =>
      r.schema.fieldNames.indices.map(i => s"${r.schema.fieldNames(i)}=" +
        canon(r.get(i))).sorted.mkString("s{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("a[", ",", "]")
    case other => s"t:$other"
  }

  private def number(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isWhole && math.abs(d) < math.pow(2, 53)) s"n:${d.toLong}"
    else s"f:${new java.math.BigDecimal(d).round(nine).doubleValue}"

  /** (sorted column names, sorted canonical rows). */
  private def docs(df: DataFrame): (Seq[String], Seq[String]) = {
    val cols = df.columns.map(_.toLowerCase).sorted.toSeq
    val rows = df.collect().map { r =>
      r.schema.fieldNames.indices.sortBy(i => r.schema.fieldNames(i).toLowerCase)
        .map(i => canon(r.get(i))).mkString("|")
    }.sorted.toSeq
    (cols, rows)
  }

  test("RunEtl.run publishes every index of the Gen3-shaped fixture with " +
      "the documents of an independent DuckDB implementation of the mapping") {
    val out = Files.createTempDirectory("tube-conformance").toString
    val published = RunEtl.run(spark, s"$base/fixture/schema.json",
      s"$base/fixture/etlMapping.yaml", s"$base/dumps", out, force = true)
    val indices = Seq("account_doc", "customer_doc", "nation_doc", "orders_doc")
    assert(published.keySet === indices.toSet)
    indices.foreach { alias =>
      val (index, rows) = published(alias)
      val (gotCols, got) = docs(spark.read.parquet(s"$out/$index/docs"))
      val (wantCols, want) =
        docs(spark.read.parquet(s"$base/expected/$alias.parquet"))
      assert(gotCols === wantCols, alias)
      assert(rows === want.size.toLong, alias)
      val (extra, missing) = (got.diff(want), want.diff(got))
      assert(extra.isEmpty && missing.isEmpty,
        s"$alias: unexpected ${extra.take(3)}, missing ${missing.take(3)}")
    }
  }
}
