package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Bench's loud paths: a query that throws is named and left out of the
  * total, an unknown `SPARK_GRAFT_BENCH_ONLY` name is an error naming it,
  * and both make the process exit non-zero. */
class BenchSpec extends SparkSpec {

  test("sweep names a throwing query and leaves it out of the total") {
    val queries: Seq[(String, Bench.Query)] = Seq(
      "ok" -> ((s, _) => s.range(10).toDF()),
      // fails while the plan is built ...
      "boom" -> ((_, _) => throw new IllegalStateException("kaput")),
      // ... and while it runs
      "late_boom" -> ((s, _) => s.range(1).select(raise_error(lit("late")))))
    val r = Bench.sweep(spark, "unused", queries, reps = 2)
    assert(r.times.map(_._1) === Seq("ok"))
    assert(r.failed.map(_._1) === Seq("boom", "late_boom"))
    assert(r.failed.head._2 === "kaput")
    assert(r.failed(1)._2.contains("late"))
    assert(r.total === r.times.head._2)
    val Seq(detail, total) = Bench.report(r, "unused")
    assert(detail.startsWith("""{"metric":"detail","nq":1,"failed":["boom","late_boom"]"""))
    assert(total.startsWith("""{"metric":"total","""))
    assert(total.contains(""""nq":1,"failed":["boom","late_boom"]"""))
    assert(!total.contains("\"boom\":"))
  }

  test("select keeps the named queries and rejects an unknown name by name") {
    assert(Bench.select(None).size === SparkEntry.queries.size)
    assert(Bench.select(Some(" dedup_jaccard ,")).map(_._1) ===
      Seq("dedup_jaccard"))
    val e = intercept[IllegalArgumentException](
      Bench.select(Some("dedup_jaccard,no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("dedup_jaccard"))
  }

  /** Runs graft.Bench in a fresh JVM; returns (exit status, stdout,
    * stderr). */
  private def benchProcess(env: (String, String)*): (Int, String, String) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util",
      "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
      "sun.nio.cs", "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val dir = Files.createTempDirectory("bench-spec")
    val (out, err) = (dir.resolve("out").toFile, dir.resolve("err").toFile)
    pb.redirectOutput(out).redirectError(err)
    val code = pb.start().waitFor()
    def read(f: java.io.File) = new String(
      Files.readAllBytes(f.toPath), "UTF-8")
    (code, read(out), read(err))
  }

  test("Bench exits non-zero naming an unknown ONLY name") {
    val (code, out, err) = benchProcess(
      "SPARK_GRAFT_SF_DIR" -> "unused",
      "SPARK_GRAFT_BENCH_ONLY" -> "dedup_savings,no_such_query")
    assert(code === 2)
    assert(err.contains("no_such_query"))
    assert(out.isEmpty)
  }

  test("Bench exits non-zero naming a query that throws") {
    val missing = Files.createTempDirectory("bench-spec")
      .resolve("no-tables").toString
    val (code, out, err) = benchProcess(
      "SPARK_GRAFT_SF_DIR" -> missing,
      "SPARK_GRAFT_BENCH_ONLY" -> "dedup_savings",
      "SPARK_GRAFT_BENCH_REPS" -> "1")
    assert(code === 1, err.takeRight(2000))
    assert(err.contains("[bench] dedup_savings failed:"))
    assert(out.contains(""""metric":"total","value":0.000,"unit":"sec","nq":0,"failed":["dedup_savings"]"""))
  }
}
