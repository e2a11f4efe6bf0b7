package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical-scaling data generator: replicate the sf0.1 corpus `factor`×
  * with key-shifted copies, preserving referential integrity (FKs shift by
  * the same per-table stride) and — crucially — preserving WORKLOAD SHAPE:
  *
  *   - `documents` text gets a per-copy token suffix, so copies are NOT
  *     near-duplicates of each other (10 verbatim copies would inflate
  *     dedup candidate pairs ~factor² by construction — that measures the
  *     data pathology, not the engine's scaling);
  *   - `embeddings` are sign-flipped per copy (a deterministic ±1 pattern
  *     per copy, an orthogonal transform): intra-copy geometry — norms,
  *     cosines, cluster structure — is EXACTLY preserved, while cross-copy
  *     cosines decorrelate, so ANN/near-dup candidate counts scale
  *     linearly like a real grown corpus;
  *   - `events` copies shift user_id, so streaming/session state grows
  *     linearly with data (same events-per-user density).
  *
  * Dimension tables (region, nation) stay verbatim, like a real 10×
  * corpus would. Usage: runMain graft.ScaleUp <srcDir> <outDir> <factor>
  * [tables] — the optional 4th arg is a comma-separated allowlist (e.g.
  * "documents,embeddings") for third-decade audits that only need the
  * corpus tables; omitted = all tables, the original behavior.
  */
object ScaleUp {

  /** Deterministic ±1 per (copy, dim) — same integer-hash family as
    * Similarity.rhpPlaneComponents; copy 0 is the identity. */
  private def signPattern(copy: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { d =>
      if (copy == 0) 1f
      else {
        val h = ((copy.toLong * 1125899906842597L + d * 2654435761L) ^
          0x9E3779B97F4A7C15L)
        if (java.lang.Long.bitCount(h & 0xFFFFFFL) % 2 == 0) 1f else -1f
      }
    }

  /** Every table this generator knows how to scale — the allowlist arg is
    * validated against it so a typo ("embedings") fails fast instead of
    * silently producing an audit directory with missing tables. */
  private val KnownTables = Set("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val (src, out, factorS) = (args(0), args(1), args(2))
    val factor = factorS.toInt
    val wanted: String => Boolean =
      if (args.length > 3) {
        val names = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names -- KnownTables
        require(unknown.isEmpty,
          s"unknown table(s) in allowlist: ${unknown.toSeq.sorted.mkString(", ")} " +
            s"(known: ${KnownTables.toSeq.sorted.mkString(", ")})")
        names
      } else _ => true
    // the session reads INT64-nanos event timestamps as longs, so they are
    // written back as plain int64 — normalizeTs handles both forms
    val spark = Sessions.local()

    def copies(name: String)(f: (DataFrame, Int) => DataFrame): Unit =
      if (wanted(name)) {
        val base = spark.read.parquet(s"$src/$name.parquet")
        (0 until factor).map(k => f(base, k))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
    def shifted(name: String, keyStrides: Map[String, Long]): Unit =
      copies(name) { (df, k) =>
        keyStrides.foldLeft(df) { case (acc, (c, stride)) =>
          acc.withColumn(c, col(c) + lit(k * stride))
        }
      }

    for (t <- Seq("region", "nation") if wanted(t))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    // strides = sf0.1 key cardinalities (keys are 0-based and dense)
    shifted("customer", Map("c_custkey" -> 15000L))
    shifted("supplier", Map("s_suppkey" -> 1000L))
    shifted("part", Map("p_partkey" -> 20000L))
    shifted("orders", Map("o_orderkey" -> 150000L, "o_custkey" -> 15000L))
    shifted("lineitem", Map("l_orderkey" -> 150000L, "l_partkey" -> 20000L,
      "l_suppkey" -> 1000L))

    // events must land as a single FILE named events.parquet — the
    // streaming queries watch the parent dir with pathGlobFilter
    // "events.parquet", which matches files, not directories (a
    // directory-shaped table would make every streaming drain read an
    // EMPTY stream and time nothing)
    if (wanted("events")) {
      val base = spark.read.parquet(s"$src/events.parquet")
      (0 until factor).map { k =>
        base.withColumn("event_id", col("event_id") + lit(k * 100000L))
          .withColumn("user_id", col("user_id") + lit(k * 1500L))
      }.reduce(_ unionByName _)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$out/_events_tmp")
      val dir = new java.io.File(s"$out/_events_tmp")
      val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error("no part file written for events"))
      val dest = new java.io.File(s"$out/events.parquet")
      if (dest.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dest)
      }
      require(part.renameTo(dest), s"rename ${part} -> ${dest} failed")
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }

    copies("documents") { (df, k) =>
      val d = df.withColumn("doc_id", col("doc_id") + lit(k * 5000L))
      if (k == 0) d
      else d.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1_" + k))
    }

    copies("embeddings") { (df, k) =>
      val signs = array(signPattern(k, 64).map(lit(_)): _*)
      df.withColumn("vec_id", col("vec_id") + lit(k * 2000L))
        .withColumn("embedding",
          zip_with(col("embedding"), signs,
            (x, s) => (x * s).cast("float")))
    }

    spark.stop()
  }
}
