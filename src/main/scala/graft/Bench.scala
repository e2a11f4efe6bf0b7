package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Timing sweep over `SparkEntry.queries`: each query runs REPS times
  * and keeps its minimum. Prints a `detail` line with every query's time,
  * then the `total` line last.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (input tables, required), `SPARK_GRAFT_CPUS`
  * (see [[Sessions]]), `SPARK_GRAFT_BENCH_REPS` (default 2) and
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated query names; an unknown name
  * is an error). A query that throws is named in the `failed` field, left
  * out of the total, and makes the run exit non-zero. */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Per-query minimum seconds of the queries that ran, and the names
    * (with their error) of those that threw. */
  final case class Sweep(times: Seq[(String, Double)],
                         failed: Seq[(String, String)]) {
    def total: Double = times.map(_._2).sum
  }

  /** The registry's queries that `only` names, in registry order; every
    * query when `only` is unset. Fails naming any name the registry does
    * not declare. */
  def select(only: Option[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    only match {
      case None => all.toSeq
      case Some(spec) =>
        val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names.filterNot(all.contains).toSeq.sorted
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"unknown query name(s): ${unknown.mkString(", ")}")
        all.toSeq.filter(kv => names(kv._1))
    }
  }

  /** Drop temp views and cached frames. Streaming drains leave their
    * memory-sink tables in the catalog and the dedup skew guards leave a
    * persisted candidate index each; in a long session that accumulation
    * measured as multi-fold GC inflation on unrelated later queries, and
    * a second rep would plan-match the first rep's cached frames and time
    * a warm cache the engine never sees fresh. Queries are
    * self-contained, so this changes nothing but the noise floor. */
  def resetSessionState(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect()
      .filter(_.tableType == "TEMPORARY")
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.catalog.clearCache()
  }

  /** Min-of-`reps` wall time per query. The first rep is the warm-up
    * (JIT, codegen, file listing, page cache) and the min discards it.
    * The output goes to the noop sink, not count(): under a bare count
    * Catalyst prunes every column, so projection-only queries would time
    * a row count. The session is reset after every rep, outside the
    * timer. A query that throws stops repeating and is reported failed. */
  def sweep(spark: SparkSession, sfDir: String,
            queries: Seq[(String, Query)], reps: Int): Sweep = {
    val times = Seq.newBuilder[(String, Double)]
    val failed = Seq.newBuilder[(String, String)]
    queries.foreach { case (name, fn) =>
      var best = Double.PositiveInfinity
      var error: Option[Throwable] = None
      var rep = 0
      while (rep < reps && error.isEmpty) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        } catch { case e: Exception => error = Some(e) }
        resetSessionState(spark)
        rep += 1
      }
      error match {
        case Some(e) => failed += name -> String.valueOf(e.getMessage)
        case None => times += name -> best
      }
    }
    Sweep(times.result(), failed.result())
  }

  // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
  // comma decimal separator would corrupt the JSON
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def entry(k: String, v: Double): String = "\"" + k + "\":" + fmt(v)

  /** The `detail` and `total` JSON lines. The total line carries the
    * slowest queries until `tailBudget` characters, so it survives a
    * reader that keeps only the last ~2000 characters of output; the
    * detail line carries every query. */
  def report(r: Sweep, sfDir: String, tailBudget: Int = 1600): Seq[String] = {
    val failed = r.failed.map(f => "\"" + f._1 + "\"").mkString("[", ",", "]")
    val all = r.times.map { case (k, v) => entry(k, v) }.mkString("{", ",", "}")
    val sb = new StringBuilder
    var shown = 0
    for ((k, v) <- r.times.sortBy(-_._2)) {
      val e = entry(k, v)
      if (sb.length + e.length + 1 <= tailBudget) {
        if (sb.nonEmpty) sb.append(',')
        sb.append(e); shown += 1
      }
    }
    Seq(
      s"""{"metric":"detail","nq":${r.times.size},"failed":$failed,"queries":$all}""",
      s"""{"metric":"total","value":${fmt(r.total)},"unit":"sec","nq":${r.times.size},"failed":$failed,"shown":$shown,"queries":{$sb},"sf":"$sfDir"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the input tables' directory"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val selected =
      try select(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[bench] SPARK_GRAFT_BENCH_ONLY: ${e.getMessage}")
        sys.exit(2)
      }
    val spark = Sessions.local()
    val result = try sweep(spark, sfDir, selected, reps) finally spark.stop()
    result.failed.foreach { case (name, msg) =>
      System.err.println(s"[bench] $name failed: $msg")
    }
    report(result, sfDir).foreach(println)
    if (result.failed.nonEmpty) sys.exit(1)
  }
}
