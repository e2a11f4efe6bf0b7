package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class AggExprSpec extends SparkSpec {
  import spark.implicits._

  private def grouped = Seq(
    ("a", 1L, "x"), ("a", 3L, "y"), ("a", 3L, "y"), ("b", 7L, "z"))
    .toDF("k", "v", "s")

  test("count counts non-nulls only") {
    val df = Seq(("a", Some(1L)), ("a", None), ("b", Some(2L)))
      .toDF("k", "v")
      .groupBy($"k").agg(AggExpr.agg("count", $"v").as("c"))
    assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 1L, "b" -> 1L))
  }

  test("max is a real max (reference implements max as min — we diverge)") {
    val r = grouped.groupBy($"k")
      .agg(AggExpr.agg("max", $"v").as("mx"), AggExpr.agg("min", $"v").as("mn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(r === Set(("a", 3L, 1L), ("b", 7L, 7L)))
  }

  test("set dedups and sorts; list keeps duplicates sorted") {
    val r = grouped.groupBy($"k")
      .agg(AggExpr.agg("set", $"s").as("st"), AggExpr.agg("list", $"s").as("ls"))
      .filter($"k" === "a").collect()(0)
    assert(r.getSeq[String](1) === Seq("x", "y"))
    assert(r.getSeq[String](2) === Seq("x", "y", "y"))
  }

  test("merge re-aggregates partials (count partials summed, sets flattened)") {
    val partials = Seq(("a", 2L, Seq("x", "y")), ("a", 3L, Seq("y", "z")))
      .toDF("k", "cnt", "st")
    val r = partials.groupBy($"k")
      .agg(AggExpr.merge("count", $"cnt").as("cnt"),
        AggExpr.merge("set", $"st").as("st"))
      .collect()(0)
    assert(r.getLong(1) === 5L)
    assert(r.getSeq[String](2) === Seq("x", "y", "z"))
  }

  test("zeroFill: count/sum → 0, set/list → [], min/first stay null") {
    val df = Seq(("a", None: Option[Long])).toDF("k", "v")
      .select($"k",
        AggExpr.zeroFill("count", $"v").as("c"),
        AggExpr.zeroFill("set", lit(null).cast("array<string>")).as("s"),
        AggExpr.zeroFill("min", $"v").as("m"))
    val r = df.collect()(0)
    assert(r.getLong(1) === 0L)
    assert(r.getSeq[String](2) === Seq.empty)
    assert(r.isNullAt(3))
  }

  test("authResourcePath: scalar and array forms; project codes keep dashes") {
    val r = Seq(("prog-proj-x", Seq("p1-a", "p2-b-c")))
      .toDF("pid", "pids")
      .select(Project.authResourcePath($"pid").as("a"),
        Project.authResourcePathArray($"pids").as("arr")).collect()(0)
    assert(r.getString(0) === "/programs/prog/projects/proj-x")
    assert(r.getSeq[String](1) === Seq(
      "/programs/p1/projects/a", "/programs/p2/projects/b-c"))
  }

  test("authResourcePath: override map hits by project code; unsplittable " +
      "ids yield empty (reference post_process semantics)") {
    val overrides = Map("proj-x" -> "/custom/x")
    val r = Seq(("prog-proj-x", "prog-other", "nodash",
        Seq("p1-proj-x", "plain")))
      .toDF("hit", "miss", "bad", "pids")
      .select(
        Project.authResourcePath($"hit", overrides).as("hit"),
        Project.authResourcePath($"miss", overrides).as("miss"),
        Project.authResourcePath($"bad", overrides).as("bad"),
        Project.authResourcePathArray($"pids", Map("proj-x" -> "/custom/x"))
          .as("arr"))
      .collect()(0)
    assert(r.getString(0) === "/custom/x")
    assert(r.getString(1) === "/programs/prog/projects/other")
    assert(r.getString(2) === "")
    assert(r.getSeq[String](3) === Seq("/custom/x", ""))
  }
}
