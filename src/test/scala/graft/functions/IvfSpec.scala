package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class IvfSpec extends SparkSpec {
  import spark.implicits._

  // two tight clusters on orthogonal axes + mild jitter
  private def corpus = (0L until 40L).map { i =>
    val base = if (i % 2 == 0) Array(1.0f, 0.05f * (i % 5)) else Array(0.05f * (i % 5), 1.0f)
    (i, base)
  }.toDF("nid", "nv")

  test("k-means training is deterministic and produces k cells") {
    val c1 = Ivf.train(corpus, "nid", "nv", k = 2, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val c2 = Ivf.train(corpus, "nid", "nv", k = 2, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c1 === c2)
    assert(c1.size === 2)
  }

  test("IVF top-k with nprobe=1 returns same-cluster neighbors") {
    val queries = Seq((100L, Array(1.0f, 0.0f))).toDF("qid", "qv")
    val r = Ivf.topK(corpus, "nid", "nv", queries, "qid", "qv",
      k = 5, numCells = 2, nprobe = 1).collect()
    assert(r.length === 5)
    // all neighbors come from the even (x-axis) cluster
    assert(r.forall(_.getAs[Long]("neighbor_id") % 2 === 0))
  }

  test("persisted index: cell-partitioned layout, search matches in-line topK") {
    val path = java.nio.file.Files.createTempDirectory("ivf").toString
    Ivf.buildIndex(corpus, "nid", "nv", path, numCells = 2, iters = 2)
    // hive layout: one directory per cell → probed-cell-only reads at scale
    val cellDirs = new java.io.File(s"$path/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length === 2)
    val queries = Seq((100L, Array(1.0f, 0.0f))).toDF("qid", "qv")
    val fromIndex = Ivf.topKIndexed(spark, path, "nid", "nv",
        queries, "qid", "qv", k = 5, nprobe = 1).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSet
    val inline = Ivf.topK(corpus, "nid", "nv", queries, "qid", "qv",
        k = 5, numCells = 2, nprobe = 1).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(fromIndex === inline)
  }

  test("deleteFromIndex: affected-cells-only rewrite equals a rebuild " +
      "from the remaining corpus; untouched cells keep their files") {
    val path = java.nio.file.Files.createTempDirectory("ivf-del").toString
    Ivf.buildIndex(corpus, "nid", "nv", path, numCells = 2, iters = 2)
    def cellFiles() = new java.io.File(s"$path/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).flatMap(d =>
        d.listFiles().map(f => s"${d.getName}/${f.getName}" -> f.lastModified()))
      .toMap
    val before = cellFiles()
    // delete a few EVEN ids: the x-axis cluster's cell rewrites, the
    // y-axis (odd) cell must keep its exact files
    val deleted = Seq(0L, 2L, 4L).toDF("nid")
    Ivf.deleteFromIndex(spark, path, deleted, "nid")
    val after = cellFiles()
    val untouched = before.filter { case (k, _) => after.get(k).contains(before(k)) }
    assert(untouched.nonEmpty, "expected the unaffected cell to survive as-is")
    // read-back equals a rebuild from the remaining corpus under the
    // SAME centroids (cell assignment is pure given centroids)
    val centroids = spark.read.parquet(s"$path/centroids")
    val remaining = corpus.filter(!$"nid".isin(0L, 2L, 4L))
    val expect = Ivf.index(remaining, "nid", "nv", centroids)
      .select("nid", "cell").as[(Long, Long)].collect().toSet
    val got = spark.read.parquet(s"$path/cells")
      .select(col("nid"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(got === expect)
  }

  test("deleteFromIndex removes a wholly-emptied cell's directory") {
    val path = java.nio.file.Files.createTempDirectory("ivf-del2").toString
    Ivf.buildIndex(corpus, "nid", "nv", path, numCells = 2, iters = 2)
    // find which cell holds the even ids, then delete ALL its members
    val cells = spark.read.parquet(s"$path/cells")
      .select(col("nid"), col("cell").cast("long"))
      .as[(Long, Long)].collect()
    val evenCell = cells.find(_._1 % 2 == 0).get._2
    val doomed = cells.filter(_._2 == evenCell).map(_._1).toSeq.toDF("nid")
    Ivf.deleteFromIndex(spark, path, doomed, "nid")
    val dirs = new java.io.File(s"$path/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(dirs === Set(s"cell=${cells.find(_._1 % 2 == 1).get._2}"))
    // and the survivors read back complete
    val got = spark.read.parquet(s"$path/cells").select("nid")
      .as[Long].collect().toSet
    assert(got === cells.filter(_._2 != evenCell).map(_._1).toSet)
  }

  test("train on a stable sample yields the same cell partition as " +
      "full-corpus training on the fixture") {
    def cellsOf(centroids: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      val vecs = corpus.withColumn("_vn",
        sqrt(Similarity.dot($"nv", $"nv")))
      Ivf.assign(vecs, "nid", "nv", "_vn", centroids).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).toSet }
    }
    val full = cellsOf(Ivf.train(corpus, "nid", "nv", k = 2, iters = 2))
    val sampled = cellsOf(Ivf.train(corpus, "nid", "nv", k = 2, iters = 2,
      samplePct = 60))
    // cell LABELS (seed ids) may differ between the two trainings; the
    // induced partition of the corpus must not
    assert(full.values.toSet === sampled.values.toSet)
  }

  test("salts=1 (stage-1 skip) returns exactly the salted two-stage result") {
    val queries = Seq((100L, Array(1.0f, 0.0f)), (101L, Array(0.1f, 0.9f)))
      .toDF("qid", "qv")
    def run(salts: Int) = Ivf.topK(corpus, "nid", "nv", queries, "qid", "qv",
        k = 5, numCells = 2, nprobe = 2, salts = salts).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(run(1) === run(64))
  }

  test("nprobe = numCells recovers brute-force results") {
    val queries = Seq((100L, Array(0.2f, 1.0f))).toDF("qid", "qv")
    val ivf = Ivf.topK(corpus, "nid", "nv", queries, "qid", "qv",
      k = 5, numCells = 2, nprobe = 2).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(corpus, "nid", "nv",
      queries, "qid", "qv", k = 5).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(ivf === brute)
  }
}
