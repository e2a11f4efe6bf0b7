package graft.sources

import java.nio.file.{Files, Path}
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Reader for the reference's raw sqoop-dump format (SURVEY §2.1 S2–S6).
  * Row fixtures mirror tests/dataframe_tests/test_data/ibdgc/graphs shape:
  * quoted CSV `created, acl, _sysan, _props, node_id [, dst_id]`. */
class TubeTextSpec extends SparkSpec {

  private def tmpTable(rows: Seq[String]): Path = {
    val dir = Files.createTempDirectory("tubetext")
    Files.write(dir.resolve("part-m-00000"), rows.mkString("\n").getBytes)
    dir
  }

  private val propsSchema = StructType(Seq(
    StructField("gender", StringType),
    StructField("age", LongType)))

  test("node rows: _props JSON extracted into typed columns + injected id") {
    val dir = tmpTable(Seq(
      """2020-01-01,{},{},"{""gender"": ""female"", ""age"": 34}",n1""",
      """2020-01-02,{},{},"{""gender"": ""male""}",n2"""))
    val df = TubeText.nodes(spark, dir.toString, "participant", propsSchema)
    assert(df.columns.toSeq === Seq("_participant_id", "gender", "age"))
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows === Set(("n1", "female", 34L), ("n2", "male", -1L)))
  }

  test("edge rows: (src,dst) = (child,parent)") {
    val dir = tmpTable(Seq(
      """2020-01-01,{},{},{},c1,p1""",
      """2020-01-01,{},{},{},c2,p1"""))
    val e = TubeText.edges(spark, dir.toString, "_child_id", "_parent_id")
    assert(e.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("c1", "p1"), ("c2", "p1")))
  }

  test("missing/empty table dir yields a typed EMPTY frame, not a failure") {
    val df = TubeText.nodes(spark, "/nonexistent/table_dir", "x", propsSchema)
    assert(df.schema.fieldNames.toSeq === Seq("_x_id", "gender", "age"))
    assert(df.isEmpty)
    val empty = Files.createTempDirectory("emptytable")
    val e = TubeText.edges(spark, empty.toString, "_c", "_p")
    assert(e.isEmpty && e.columns.length === 2)
  }
}
