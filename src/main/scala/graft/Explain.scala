package graft

/** Plan-inspection utility: prints the formatted physical plan for the named
  * queries (or all, by name). Used to keep the plans honest: filters pushed
  * to scans, minimal ReadSchema, broadcasts where a side is small, wide
  * WholeStageCodegen spans.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  *
  * Exits 2 naming an unknown query name (before any Spark work), and 1
  * after printing the rest when a query's explain threw, listing those. */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Explain <sfDir> [queryName ...]")
      sys.exit(2)
    }
    val sfDir = args.head
    val names = args.toSeq.tail
    val selected =
      try Bench.select(SparkEntry.queries,
        if (names.isEmpty) None else Some(names.mkString(",")))
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[explain] ${e.getMessage}")
        sys.exit(2)
      }
    // in the order given, else by name
    val order = names.zipWithIndex.toMap
    val queries = selected.sortBy { case (n, _) => (order.getOrElse(n, 0), n) }
    val spark = Sessions.local()
    val failed = queries.flatMap { case (n, fn) =>
      println(s"\n========== $n ==========")
      try {
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        None
      } catch { case e: Throwable =>
        println(s"explain failed: ${e.getMessage}")
        Some(n)
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explain] ${failed.size} failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
