package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF (inverted-file) approximate nearest neighbor: coarse-quantize the
  * corpus into K centroid cells; a query scores only the vectors in its
  * `nprobe` nearest cells. The scale path complements `Similarity.lshTopK`:
  * IVF gives tunable recall/cost via (K, nprobe) and its partitioning is
  * explicit — each cell is a shuffle partition, so a 100 TB corpus
  * pre-partitioned by cell serves queries by touching nprobe/K of the data.
  *
  * Training is a deterministic mini k-means on a DRIVER-LOCAL stable
  * sample: init = the K lowest-id sampled vectors, a fixed number of Lloyd
  * iterations. Training on the full frame would cost a full corpus scan +
  * shuffle PER iteration (the standard k-means-at-scale mistake); coarse
  * quantizers only need a representative sample (FAISS trains IVF the same
  * way), and `Sampling.stableBucket` makes the sample deterministic across
  * runs, engines, and cluster layouts — no RNG anywhere. The sample is
  * bounded by `sampleCap` rows (the ONE deliberate driver-side collect in
  * this module; at 100 TB set `samplePct` so the sample, not the corpus,
  * fits the cap). Assignment/search stay fully distributed.
  */
object Ivf {

  private def dot(a: Column, b: Column): Column = Similarity.dot(a, b)

  /** Per-row centroid score under `metric`: cosine similarity, or the L2
    * argmin rewritten as an argmax — `2·v·c − |c|²` (|v|² is constant per
    * row, so it cannot change the argmin; this reuses the dot + cnorm
    * columns and never materializes per-pair differences). Both stages of
    * a search must share ONE metric: probing cosine-nearest cells for an
    * L2-scored candidate set (or vice versa) silently loses recall on
    * non-normalized corpora. */
  private def centroidScore(vecCol: String, normCol: String,
                            metric: String): Column = {
    require(metric == "cosine" || metric == "l2", s"unknown metric $metric")
    if (metric == "l2")
      lit(2.0) * dot(col(vecCol), col("cvec")) - col("cnorm") * col("cnorm")
    else
      dot(col(vecCol), col("cvec")) / (col(normCol) * col("cnorm"))
  }

  /** Assign each row its nearest centroid id (centroid set is broadcast —
    * K is small by construction). */
  private[functions] def assign(vecs: DataFrame, idCol: String, vecCol: String,
                                normCol: String, centroids: DataFrame,
                                metric: String = "cosine"): DataFrame = {
    val scored = vecs.join(broadcast(centroids))
      .withColumn("_sim", centroidScore(vecCol, normCol, metric))
    scored.groupBy(col(idCol))
      .agg(max_by(col("cid"), struct(col("_sim"), -col("cid"))).as("cell"))
  }

  private def withNorm(df: DataFrame, vecCol: String, as: String): DataFrame =
    df.withColumn(as, sqrt(dot(col(vecCol), col(vecCol))))

  /** Deterministic k-means → (cid, cvec, cnorm), one small in-memory frame.
    * ONE Spark job total (the sample collect) instead of several materialized
    * jobs per Lloyd iteration. `samplePct` filters by stable md5 bucket
    * (pushes into the scan); `sampleCap` hard-bounds driver memory via a
    * TakeOrdered by id (deterministic, not an arbitrary limit). Cell ids are
    * the seed vectors' ids; empty cells drop, so ≤ k cells may return. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int = 2,
            samplePct: Int = 100, sampleCap: Int = 100000,
            metric: String = "cosine"): DataFrame = {
    require(metric == "cosine" || metric == "l2", s"unknown metric $metric")
    val useL2 = metric == "l2"
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // set samplePct so the sample — not the cap — does the real
    // downsizing at scale (SCALE.md); policy shared via stableCappedSample
    val rows = Sampling.stableCappedSample(base, col("id"), samplePct, sampleCap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1) // seed selection stays "k lowest sampled ids"
    require(rows.nonEmpty, "Ivf.train: empty corpus sample")
    val dim = rows.head._2.length
    def norm(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * a(i); i += 1 }
      math.sqrt(s)
    }
    val rowNorms = rows.map(r => norm(r._2))
    var cents: Seq[(Long, Array[Double])] = rows.take(k).toSeq
    for (_ <- 0 until iters) {
      val cn = cents.map { case (cid, cv) => (cid, cv, norm(cv)) }
      val sums = scala.collection.mutable.LinkedHashMap[Long, (Array[Double], Long)]()
      rows.indices.foreach { ri =>
        val v = rows(ri)._2; val vn = rowNorms(ri)
        // argmax of the SAME score formula the distributed assign computes
        // (bit-consistent folds, so sample-trained cells equal distributed
        // assignment); ties → lowest cid (max_by(cid, struct(sim, -cid)));
        // zero vectors under cosine go to the first centroid
        var bestC = cn.head._1; var bestS = Double.NegativeInfinity
        if (useL2 || vn > 0) cn.foreach { case (cid, cv, cvn) =>
          var dp = 0.0; var i = 0
          while (i < dim) { dp += v(i) * cv(i); i += 1 }
          val s = if (useL2) 2.0 * dp - cvn * cvn else dp / (vn * cvn)
          if (s > bestS) { bestS = s; bestC = cid }
        }
        val (acc, n) = sums.getOrElseUpdate(bestC, (new Array[Double](dim), 0L))
        var i = 0; while (i < dim) { acc(i) += v(i); i += 1 }
        sums(bestC) = (acc, n + 1)
      }
      // keep cid-sorted so the strict `>` scan above breaks ties toward the
      // lowest cid, matching the distributed assign's max_by order
      cents = sums.toSeq.map { case (cid, (acc, n)) => (cid, acc.map(_ / n)) }
        .sortBy(_._1)
    }
    cents.map { case (cid, cv) => (cid, cv.toSeq, norm(cv)) }
      .toDF("cid", "cvec", "cnorm")
  }

  /** Public cell-assignment view — (idCol, cell) for every corpus
    * vector under the given centroids: the building block for
    * cluster-share monitoring (embedding-space PSI drift), mixture
    * design, and any per-cell rollup that does not need the vectors.
    * Same broadcast-assignment shape as [[index]], minus the payload. */
  def cellAssignments(corpus: DataFrame, corpusId: String,
                      corpusVec: String, centroids: DataFrame,
                      metric: String = "cosine"): DataFrame = {
    // assign() directly — [[index]] would join the full vector payload
    // back onto the assignments only for this view to drop it (a
    // corpus-sized vector shuffle bought nothing for a cell-share rollup)
    val cvecs = withNorm(corpus.select(col(corpusId), col(corpusVec)),
      corpusVec, "_cn")
    assign(cvecs, corpusId, corpusVec, "_cn", centroids, metric)
      .select(col(corpusId), col("cell"))
  }

  /** Quantized corpus: one row per vector with its cell id and norm. */
  private[functions] def index(corpus: DataFrame, corpusId: String,
                               corpusVec: String, centroids: DataFrame,
                               metric: String = "cosine"): DataFrame = {
    val cvecs = withNorm(corpus.select(col(corpusId), col(corpusVec)),
      corpusVec, "_cn")
    assign(cvecs, corpusId, corpusVec, "_cn", centroids, metric)
      .join(cvecs, Seq(corpusId))
  }

  /** The `nprobe` cosine-nearest cells per query: (queryId, queryVec, _qn,
    * cell). Centroids are broadcast; the window is per-query over
    * ≤ numCells rows, so it never sees corpus-scale data. */
  private def probeCells(queries: DataFrame, queryId: String,
                         queryVec: String, centroids: DataFrame,
                         nprobe: Int): DataFrame = {
    val qvecs = withNorm(queries.select(col(queryId), col(queryVec)),
      queryVec, "_qn")
    qvecs.join(broadcast(centroids))
      .withColumn("_sim", centroidScore(queryVec, "_qn", "cosine"))
      .withColumn("_pr", row_number().over(
        Window.partitionBy(col(queryId))
          .orderBy(col("_sim").desc, col("cid").asc)))
      .filter(col("_pr") <= nprobe)
      .select(col(queryId), col(queryVec), col("_qn"), col("cid").as("cell"))
  }

  /** Probe + score against an already-quantized corpus. */
  private def search(indexed: DataFrame, corpusId: String, corpusVec: String,
                     centroids: DataFrame, queries: DataFrame, queryId: String,
                     queryVec: String, k: Int, nprobe: Int,
                     salts: Int): DataFrame = {
    val probes = probeCells(queries, queryId, queryVec, centroids, nprobe)
    val scored = indexed.join(probes, Seq("cell"))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim", dot(col(corpusVec), col(queryVec)) / (col("_cn") * col("_qn")))
    // two-stage top-k (Similarity.topKPerQuery): probing bounds candidates
    // per query only probabilistically — a hot cell can still be most of
    // the corpus, so the single-reducer window is as unsafe here as in the
    // brute path. `salts` sizes stage 1 to the expected candidates per
    // query (≈ corpus × nprobe/numCells); `salts = 1` skips stage 1 when
    // the caller knows that bound is reducer-sized.
    Similarity.topKPerQuery(scored, queryId, corpusId, k, salts)
  }

  /** Top-k neighbors per query, probing the `nprobe` nearest cells.
    * Trains in-line — for repeated query batches use `buildIndex` +
    * `topKIndexed` so training and quantization are paid once. */
  def topK(corpus: DataFrame, corpusId: String, corpusVec: String,
           queries: DataFrame, queryId: String, queryVec: String,
           k: Int, numCells: Int, nprobe: Int, iters: Int = 2,
           samplePct: Int = 100, salts: Int = 64,
           sampleCap: Int = 100000): DataFrame = {
    val centroids = train(corpus, corpusId, corpusVec, numCells, iters,
      samplePct, sampleCap)
    search(index(corpus, corpusId, corpusVec, centroids), corpusId, corpusVec,
      centroids, queries, queryId, queryVec, k, nprobe, salts)
  }

  /** Build the IVF index ONCE and persist it: centroids (tiny parquet) plus
    * the corpus vectors laid out BY CELL via hive partitioning. A
    * 100 TB corpus indexed this way serves each query batch by reading only
    * the probed cell directories (partition pruning / dynamic partition
    * pruning through the cell join) — no re-training, no full rescan. */
  def buildIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
                 path: String, numCells: Int, iters: Int = 2,
                 samplePct: Int = 100, sampleCap: Int = 100000): Unit = {
    val centroids = train(corpus, corpusId, corpusVec, numCells, iters,
      samplePct, sampleCap)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index(corpus, corpusId, corpusVec, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** DELETE vectors from a persisted index (the takedown path): locate
    * the cells holding deleted ids, and REWRITE ONLY THOSE cell
    * directories with their survivors —
    * centroids and every untouched cell stay byte-identical on disk, so
    * the delete costs |affected cells|, not |index|. Reading the index
    * afterwards is identical to having built it from the remaining
    * corpus under the same centroids (`IvfSpec` pins the equivalence,
    * wholly-emptied cells included).
    *
    * Mechanics: Spark's dynamic partition overwrite rewrites exactly the
    * cell partitions present in the written frame — which is right for
    * cells that keep survivors but silently SKIPS a cell whose members
    * were all deleted (nothing to write ⇒ nothing overwritten ⇒ stale
    * files), so wholly-emptied cells are removed explicitly through the
    * filesystem API BEFORE the overwrite (their survivor frame is read
    * into memory first via localCheckpoint, so the early delete is
    * safe). The overwrite mode is scoped to the single write via a
    * DataFrameWriter option — the session conf is never touched, so
    * concurrent writers in the same session keep their own semantics.
    *
    * Crash window: the op is NOT atomic. A crash mid-delete leaves some
    * affected cells rewritten and others stale — but every intermediate
    * state is repaired by simply RE-RUNNING the same call (the delete
    * set is re-probed against whatever cells remain; already-cleaned
    * cells are no longer affected and stay untouched), so the recovery
    * story is "re-run on failure", the same contract as any
    * non-transactional partition maintenance job. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      deletedIds: DataFrame, corpusId: String): Unit = {
    val cells = spark.read.parquet(s"$path/cells")
    val del = deletedIds.select(col(corpusId)).distinct()
    val affected = cells.join(del, Seq(corpusId), "left_semi")
      .select(col("cell")).distinct()
      .collect().map(_.get(0).toString.toLong)
    if (affected.isEmpty) return
    // localCheckpoint cuts the lineage back to in-memory blocks: the
    // survivor frame must not reference the files it is about to
    // overwrite (Spark rejects read-and-overwrite of one path), and the
    // frame is |affected cells|-sized — bounded, the contract of this op
    // (a delete touching most of the index should rebuild instead)
    val survivors = cells
      .filter(col("cell").isin(affected: _*))
      .join(del, Seq(corpusId), "left_anti")
      .localCheckpoint(true)
    val keepCells = survivors.select(col("cell")).distinct()
      .collect().map(_.get(0).toString.toLong).toSet
    // wholly-emptied cells FIRST: dynamic overwrite would never touch
    // them (nothing to write), and doing the drop before the survivor
    // write means a crash between the two steps leaves deleted vectors
    // GONE (a partially-clean index) rather than stale cells silently
    // serving takedown'd vectors — the safer side of the crash window
    affected.filterNot(keepCells).foreach { c =>
      val p = new org.apache.hadoop.fs.Path(s"$path/cells/cell=$c")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
    if (keepCells.nonEmpty)
      survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic") // write-scoped, not session
        .partitionBy("cell")
        .parquet(s"$path/cells")
  }

  /** Top-k against a persisted index (see `buildIndex`). */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  corpusId: String, corpusVec: String,
                  queries: DataFrame, queryId: String, queryVec: String,
                  k: Int, nprobe: Int, salts: Int = 64): DataFrame = {
    search(spark.read.parquet(s"$path/cells"), corpusId, corpusVec,
      spark.read.parquet(s"$path/centroids"),
      queries, queryId, queryVec, k, nprobe, salts)
  }
}
