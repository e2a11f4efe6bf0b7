package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, its Spark body over a directory of input
  * tables, and the DuckDB SQL that must produce the same rows from the same
  * tables. Column names and array orderings match exactly: the driver
  * hash-compares the two after sorting columns by name.
  *
  * Determinism rules every body/oracle pair follows (so Spark-parquet and
  * DuckDB hash-match):
  *   - money/measure sums go through DECIMAL casts (fp double summation is
  *     accumulation-order-dependent; decimal is exact and order-free);
  *   - every collected array is sorted (`array_sort` / `list_sort`);
  *   - cosine similarities are sequential left-fold double dot products in
  *     BOTH engines (bit-identical), rounded only for display;
  *   - top-1/top-k picks always carry a total tie-break order;
  *   - a literal both sides use is one val, interpolated into both, so the
  *     pair cannot drift apart. */
final case class QuerySpec(name: String,
                           run: (SparkSession, String) => DataFrame,
                           oracle: String)
