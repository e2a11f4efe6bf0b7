package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.schema._

/** End-to-end Translator semantics on a tiny in-memory graph:
  *
  *   program ← project ← subject ← sample        (child → parent)
  *
  * Covers what the DuckDB oracle can't express cleanly: nested
  * array-of-struct documents (A5) and the collector path over an in-memory
  * schema, plus zero-fill for childless roots.
  */
class TranslatorSpec extends SparkSpec {
  import spark.implicits._

  private val schema = GraphSchema(
    nodes = Seq(
      NodeDef("program", "program", Map.empty, "admin"),
      NodeDef("project", "project", Map.empty, "admin"),
      NodeDef("subject", "subject", Map.empty, "clinical"),
      NodeDef("sample", "sample", Map.empty, "biospec")),
    links = Seq(
      LinkDef("project", "program", "e_pp"),
      LinkDef("subject", "project", "e_sp"),
      LinkDef("sample", "subject", "e_ss")))

  // node tables: _label_id + props
  private def nodes: Map[String, DataFrame] = Map(
    "program" -> Seq(("prog1", "P1")).toDF("_program_id", "prog_name"),
    "project" -> Seq(("projA", "Alpha"), ("projB", "Beta"))
      .toDF("_project_id", "proj_name"),
    "subject" -> Seq(
      ("s1", "female", 34L), ("s2", "male", 41L), ("s3", "f", 28L))
      .toDF("_subject_id", "sex", "age"),
    "sample" -> Seq(
      ("m1", "blood", 11L), ("m2", "saliva", 12L), ("m3", "blood", 13L))
      .toDF("_sample_id", "tissue", "vol"))

  private def edges: Map[(String, String), DataFrame] = Map(
    ("project", "program") ->
      Seq(("projA", "prog1"), ("projB", "prog1")).toDF("_project_id", "_program_id"),
    ("subject", "project") ->
      Seq(("s1", "projA"), ("s2", "projA"), ("s3", "projB"))
        .toDF("_subject_id", "_project_id"),
    // s2 has no samples (zero-fill case); s1 has two
    ("sample", "subject") ->
      Seq(("m1", "s1"), ("m2", "s1"), ("m3", "s3")).toDF("_sample_id", "_subject_id"))

  private def source = new GraphSource(nodes(_), (c, p) => edges((c, p)))

  private val subjectMapping = IndexMapping(
    name = "subject", docType = "subject", root = "subject",
    props = Seq(
      PropDef("sex", "sex", valueMappings = Map("f" -> "female", "m" -> "male")),
      PropDef("age", "age")),
    parentProps = Seq(ParentChainDef(Seq(
      PathStep("project", Seq(PropDef("project_name", "proj_name"))),
      PathStep("program", Seq(PropDef("program_name", "prog_name")))),
      relation = "1-1")),
    aggregatedProps = Seq(
      AggregatedPropDef("sample_count", Seq("sample"), None, "count"),
      AggregatedPropDef("total_vol", Seq("sample"), Some("vol"), "sum")),
    nestedProps = Seq(NestedDef(
      name = "samples", path = Seq("sample"),
      props = Seq(PropDef("tissue", "tissue"), PropDef("vol", "vol")))))

  test("aggregator: props+recode, parent chain, agg zero-fill, nested docs") {
    val docs = new Translator(schema, source).translate(subjectMapping)
      .orderBy("_subject_id").collect()

    val byId = docs.map(r => r.getString(r.fieldIndex("_subject_id")) -> r).toMap
    val s1 = byId("s1"); val s2 = byId("s2"); val s3 = byId("s3")

    // P2 recode: f → female (already-canonical passes through)
    assert(s1.getString(s1.fieldIndex("sex")) === "female")
    assert(s3.getString(s3.fieldIndex("sex")) === "female")
    // J3 parent chain, 2 hops
    assert(s1.getString(s1.fieldIndex("project_name")) === "Alpha")
    assert(s1.getString(s1.fieldIndex("program_name")) === "P1")
    assert(s3.getString(s3.fieldIndex("project_name")) === "Beta")
    // A2 + zero-fill: childless s2 gets 0, not null
    assert(s1.getLong(s1.fieldIndex("sample_count")) === 2L)
    assert(s2.getLong(s2.fieldIndex("sample_count")) === 0L)
    assert(s2.getLong(s2.fieldIndex("total_vol")) === 0L)
    assert(s1.getLong(s1.fieldIndex("total_vol")) === 23L)
    // A5 nested: array of structs, sorted, childless → null (left join)
    val nested = s1.getSeq[Row](s1.fieldIndex("samples"))
    assert(nested.map(_.getString(0)).sorted === Seq("blood", "saliva"))
    assert(s2.isNullAt(s2.fieldIndex("samples")))
  }

  test("rootBloomPrune: identical documents with pruning on or off, and " +
      "the walk frames carry the scan-stage bloom probe") {
    val filtered = subjectMapping.copy(
      filter = Some(FilterLeaf(">", "age", 30L))) // keeps s1, s2; drops s3
    val plain = new Translator(schema, source).translate(filtered)
    val pruned = new Translator(schema, source, rootBloomPrune = Some(2L))
      .translate(filtered)
    val key = (r: Row) => r.getString(r.fieldIndex("_subject_id"))
    val a = plain.collect().sortBy(key).map(_.toString)
    val b = pruned.collect().sortBy(key).map(_.toString)
    assert(b === a)
    assert(b.length === 2)
    // analyzed plan: the optimizer folds the probe into these in-memory
    // LocalRelations eagerly (parquet-backed sources keep it at the scan —
    // BloomPruneSpec pins that shape)
    val plan = pruned.queryExecution.analyzed.toString
    assert(plan.contains("might_contain"))
    assert(!plain.queryExecution.analyzed.toString.contains("might_contain"))
  }

  test("rootBloomPrune stays off when the filter references non-root " +
      "columns (conservative gate)") {
    val filtered = subjectMapping.copy(
      filter = Some(FilterLeaf(">", "sample_count", 1L))) // an agg output
    val pruned = new Translator(schema, source, rootBloomPrune = Some(2L))
      .translate(filtered)
    assert(!pruned.queryExecution.analyzed.toString.contains("might_contain"))
    assert(pruned.collect().map(r =>
      r.getString(r.fieldIndex("_subject_id"))).toSeq === Seq("s1"))
  }

  test("collector: category leaves unioned with source_node + injected set") {
    val collectorMapping = IndexMapping(
      name = "files", docType = "files", root = "subject", kind = "collector",
      props = Seq(PropDef("age", "age")),
      injection = Some(InjectionDef("clinical",
        Map("project" -> Seq(PropDef("project_set", "proj_name"))))))
    val docs = new Translator(schema, source).translate(collectorMapping)
    val rows = docs.collect().map { r =>
      (r.getString(r.fieldIndex("_files_id")),
        r.getString(r.fieldIndex("source_node")),
        r.getSeq[String](r.fieldIndex("project_set")))
    }.toSet
    assert(rows === Set(
      ("s1", "subject", Seq("Alpha")),
      ("s2", "subject", Seq("Alpha")),
      ("s3", "subject", Seq("Beta"))))
  }

  test("runAll resolves joining_props in topological order") {
    // the producer index must expose the shared join key by name (J4 joins
    // on shared column names across finished document sets)
    val projMapping = IndexMapping(
      name = "project", docType = "project", root = "project",
      props = Seq(PropDef("project_name", "proj_name"),
        PropDef("proj_name", "proj_name")))
    val subjWithJoin = subjectMapping.copy(
      parentProps = subjectMapping.parentProps,
      joiningProps = Seq(JoiningDef("project", Seq("project_name"),
        Seq(PropDef("proj_names", "proj_name", fn = Some("set"))))))
    val out = Translator.runAll(schema, source,
      EtlMapping(Seq(subjWithJoin, projMapping)))
    val s1 = out("subject").filter($"_subject_id" === "s1").collect()(0)
    assert(s1.getSeq[String](s1.fieldIndex("proj_names")) === Seq("Alpha"))
  }

  test("joining_props cycles are rejected") {
    val a = IndexMapping(name = "a", docType = "a", root = "subject",
      props = Seq(PropDef("age", "age")),
      joiningProps = Seq(JoiningDef("b", Seq("age"), Nil)))
    val b = IndexMapping(name = "b", docType = "b", root = "subject",
      props = Seq(PropDef("age", "age")),
      joiningProps = Seq(JoiningDef("a", Seq("age"), Nil)))
    assertThrows[IllegalArgumentException] {
      Translator.runAll(schema, source, EtlMapping(Seq(a, b)))
    }
  }

  test("bind-time typing: widen casts, missing null-fills, narrow rejects") {
    import org.apache.spark.sql.types._
    val typed = GraphSchema(
      nodes = Seq(NodeDef("subject", "subject", Map(
        "age" -> LongType,        // table has int → widens
        "weight" -> DoubleType,   // absent from table → null-fill
        "sex" -> StringType))),   // table has string → passes
      links = Nil)
    val tbl = Seq((1, 34, "f")).toDF("id", "age", "sex")
      .select(col("id").cast("string").as("_subject_id"),
        col("age").cast("int").as("age"), col("sex"))
    val src = new GraphSource(_ => tbl, (_, _) => fail("no edges"))
    val m = IndexMapping(name = "s", docType = "s", root = "subject",
      props = Seq(PropDef("age", "age"), PropDef("weight", "weight"),
        PropDef("sex", "sex")))
    val out = new Translator(typed, src).translate(m)
    assert(out.schema("age").dataType === LongType)      // widened int → long
    assert(out.schema("weight").dataType === DoubleType) // null-filled, typed
    val row = out.collect()(0)
    assert(row.getLong(row.fieldIndex("age")) === 34L)
    assert(row.isNullAt(row.fieldIndex("weight")))

    // declared narrower than the table → loud failure, not a silent cast
    val narrow = typed.copy(nodes = Seq(typed.nodes.head.copy(
      props = Map("age" -> BooleanType))))
    val ex = intercept[IllegalArgumentException] {
      new Translator(narrow, src).translate(
        m.copy(props = Seq(PropDef("age", "age"))))
    }
    assert(ex.getMessage.contains("cannot narrow"))
  }

  test("fan-out flatten without sorted_by is rejected (multiplicity check)") {
    val bad = IndexMapping(
      name = "subject_bad", docType = "subject", root = "subject",
      props = Seq(PropDef("age", "age")),
      flattenProps = Seq(FlattenDef("sample",
        Seq(PropDef("tissue", "tissue")))))  // many samples per subject
    val ex = intercept[IllegalArgumentException] {
      new Translator(schema, source).translate(bad)
    }
    assert(ex.getMessage.contains("sorted_by"))
    // with sorted_by the same flatten is legal
    val ok = bad.copy(flattenProps = Seq(FlattenDef("sample",
      Seq(PropDef("tissue", "tissue")), sortedBy = Some(("vol", true)))))
    val r = new Translator(schema, source).translate(ok)
      .filter($"_subject_id" === "s1").collect()(0)
    assert(r.getString(r.fieldIndex("tissue")) === "saliva") // vol=12 wins
  }

  test("settings.bypass_multiplicity_check lets a fan-out flatten through " +
      "with one arbitrary child row per root") {
    val bypassed = IndexMapping(
      name = "subject_bypass", docType = "subject", root = "subject",
      props = Seq(PropDef("age", "age")),
      flattenProps = Seq(FlattenDef("sample",
        Seq(PropDef("tissue", "tissue")))),
      bypassMultiplicityCheck = true)
    val rows = new Translator(schema, source).translate(bypassed).collect()
    // still one row per root (an arbitrary sample survives), not a fan-out
    assert(rows.map(_.getString(0)).distinct.length === rows.length)
    val s1 = rows.find(_.getString(0) == "s1").get
    assert(Set("blood", "saliva").contains(
      s1.getString(s1.fieldIndex("tissue"))))
    // the validator honors the knob too
    assert(MappingValidator.validate(schema,
      EtlMapping(Seq(bypassed))).isEmpty)
    assert(MappingValidator.validate(schema,
      EtlMapping(Seq(bypassed.copy(bypassMultiplicityCheck = false))))
      .exists(_.contains("sorted_by")))
    // and MappingYaml reads it from the settings block
    val parsed = MappingYaml.parse(
      """mappings:
        |  - name: x
        |    doc_type: subject
        |    root: subject
        |    settings:
        |      bypass_multiplicity_check: true
        |""".stripMargin).indices.head
    assert(parsed.bypassMultiplicityCheck)
  }

  test("runAll reuses one cached scan for a root shared by several indices") {
    // earlier tests' persisted doc frames would plan-match here and muddy
    // the assertion; cached data is performance-only, safe to drop
    spark.sharedState.cacheManager.clearCache()
    val a = IndexMapping(name = "subj_a", docType = "subject", root = "subject",
      props = Seq(PropDef("sex", "sex")))
    val b = IndexMapping(name = "subj_b", docType = "subject", root = "subject",
      props = Seq(PropDef("age", "age")))
    def cachedScans(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
    // both indices read the subject scan through the SAME cached relation
    // (identical cacheBuilder ⇒ one materialized scan serves both)
    val docs = Translator.runAll(schema, source, EtlMapping(Seq(a, b)))
    val scansA = cachedScans(docs("subj_a"))
    val scansB = cachedScans(docs("subj_b"))
    assert(scansA.length === 1)
    assert(scansB.length === 1)
    // same canonical cached plan ⇒ the CacheManager serves both from one
    // materialized entry (it dedups cache registrations by plan equality)
    assert(scansA.head.cachedPlan.sameResult(scansB.head.cachedPlan))
    assert(docs("subj_a").collect().length === 3)
    assert(docs("subj_b").collect().length === 3)
  }

  test("a second runAll in one session over rewritten tables publishes " +
      "the new rows, not the first run's cached frames") {
    // file-backed tables: a re-read of the same path plan-matches the
    // first run's persisted frames, which in-memory frames never would.
    // The tables are replaced outside Spark, as a dump job would (a Spark
    // write to the path would itself refresh the cache entries over it).
    import java.nio.file.{Files, Path}
    val dir = Files.createTempDirectory("translator-rerun")
    def path(name: String) = dir.resolve(name).toString
    def rmTree(p: Path): Unit = if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    def writeTables(alphaName: String): Unit = {
      val staging = Files.createTempDirectory("translator-rerun-staging")
      val tables = nodes.updated("project",
        Seq(("projA", alphaName), ("projB", "Beta"))
          .toDF("_project_id", "proj_name")) ++
        edges.map { case ((c, p), df) => s"${c}_$p" -> df }
      tables.foreach { case (name, df) =>
        df.write.parquet(staging.resolve(name).toString)
        rmTree(dir.resolve(name))
        Files.move(staging.resolve(name), dir.resolve(name))
      }
    }
    val fileSource = new GraphSource(l => spark.read.parquet(path(l)),
      (c, p) => spark.read.parquet(path(s"${c}_$p")))
    // `project` is a joining_props producer (persisted) and a root shared
    // by two indices (its node frame is persisted)
    val mapping = EtlMapping(Seq(
      subjectMapping.copy(joiningProps = Seq(JoiningDef("project",
        Seq("project_name"),
        Seq(PropDef("proj_names", "proj_name", fn = Some("set")))))),
      IndexMapping(name = "project", docType = "project", root = "project",
        props = Seq(PropDef("project_name", "proj_name"),
          PropDef("proj_name", "proj_name"))),
      IndexMapping(name = "project_ids", docType = "project",
        root = "project", props = Seq(PropDef("proj_name", "proj_name")))))
    def run(): (Seq[String], Set[String]) = {
      val out = Translator.runAll(schema, fileSource, mapping)
      val s1 = out("subject").filter($"_subject_id" === "s1").collect()(0)
      (s1.getSeq[String](s1.fieldIndex("proj_names")),
        out("project_ids").collect().map(_.getAs[String]("proj_name")).toSet)
    }
    writeTables("Alpha")
    assert(run() === ((Seq("Alpha"), Set("Alpha", "Beta"))))
    writeTables("Alpha2")
    assert(run() === ((Seq("Alpha2"), Set("Alpha2", "Beta"))))
  }

  test("set-relation parent chain: edge-backed root with NO edge rows gets " +
      "an empty array, same as FK-backed sources and the SQL oracle") {
    // s3's project edge removed: an edge-backed walk never sees s3
    val sparseEdges = edges + (("subject", "project") ->
      Seq(("s1", "projA"), ("s2", "projA")).toDF("_subject_id", "_project_id"))
    val src = new GraphSource(nodes(_), (c, p) => sparseEdges((c, p)))
    val m = IndexMapping(
      name = "subject_set", docType = "subject", root = "subject",
      props = Seq(PropDef("age", "age")),
      parentProps = Seq(ParentChainDef(Seq(
        PathStep("project", Seq(PropDef("project_names", "proj_name")))))))
    val rows = new Translator(schema, src).translate(m).collect()
    val byId = rows.map(r => r.getString(r.fieldIndex("_subject_id")) -> r).toMap
    assert(byId("s1").getSeq[String](byId("s1").fieldIndex("project_names"))
      === Seq("Alpha"))
    // chainless root: empty array, NOT null
    val s3 = byId("s3")
    assert(!s3.isNullAt(s3.fieldIndex("project_names")))
    assert(s3.getSeq[String](s3.fieldIndex("project_names")) === Seq.empty)
  }

  test("validator flags duplicate field names within one nested level") {
    val dup = IndexMapping(
      name = "subject_nested_dup", docType = "subject", root = "subject",
      nestedProps = Seq(NestedDef("samples", Seq("sample"),
        props = Seq(PropDef("tissue", "tissue"), PropDef("tissue", "vol")))))
    val problems = MappingValidator.validate(schema, EtlMapping(Seq(dup)))
    assert(problems.exists(p => p.contains("tissue") && p.contains("nested")))
  }

  /** `src` wrapped to count how often each node label and edge is asked
    * for: (label or "child->parent") → calls. */
  private def counting(src: GraphSource)
      : (GraphSource, scala.collection.mutable.Map[String, Int]) = {
    val calls = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def hit(k: String): Unit = calls.synchronized { calls(k) += 1 }
    (new GraphSource(
      l => { hit(l); src.nodeDf(l) },
      (c, p) => { hit(s"$c->$p"); src.edgeDf(c, p) },
      src.fkParents), calls)
  }

  test("runAll asks the source for each node label and each edge at most " +
      "once per run, and a second run asks again") {
    // sample (non-root) and sample->subject are read by the aggregation,
    // the nested block, the deep path of project_docs and the collector
    val subjDocs = subjectMapping.copy(name = "subject_docs")
    val subjAges = IndexMapping(name = "subject_ages", docType = "subject",
      root = "subject", props = Seq(PropDef("age", "age")),
      aggregatedProps = Seq(
        AggregatedPropDef("max_vol", Seq("sample"), Some("vol"), "max")))
    val projDocs = IndexMapping(name = "project_docs", docType = "project",
      root = "project", props = Seq(PropDef("proj_name", "proj_name")),
      aggregatedProps = Seq(AggregatedPropDef("samples", Seq("subject",
        "sample"), None, "count")))
    val files = IndexMapping(name = "files", docType = "files",
      root = "sample", kind = "collector",
      props = Seq(PropDef("tissue", "tissue")),
      injection = Some(InjectionDef("biospec",
        Map("project" -> Seq(PropDef("project_set", "proj_name"))))))
    val mapping = EtlMapping(Seq(subjDocs, subjAges, projDocs, files))
    val (src, calls) = counting(source)
    val out = Translator.runAll(schema, src, mapping)
    out.values.foreach(_.collect())
    assert(calls.keySet.toSet === Set("subject", "sample", "project",
      "program", "sample->subject", "subject->project", "project->program"))
    assert(calls.values.forall(_ == 1), calls)
    // documents equal a fresh per-index translation over the plain source
    mapping.indices.foreach { m =>
      val fresh = new Translator(schema, source).translate(m)
      assert(out(m.name).collect().map(_.toString).sorted ===
        fresh.collect().map(_.toString).sorted, m.name)
    }
    Translator.runAll(schema, src, mapping)
    assert(calls.values.forall(_ == 2), calls)
  }

  test("collector with several routes to one ancestor: the walks and the " +
      "join back all derive from one memoised leaf frame") {
    // sample reaches project twice: through subject, and by a direct edge
    val diamond = GraphSchema(
      nodes = Seq(
        NodeDef("project", "project", Map.empty, "admin"),
        NodeDef("subject", "subject", Map.empty, "clinical"),
        NodeDef("sample", "sample", Map.empty, "biospec")),
      links = Seq(
        LinkDef("subject", "project", "e_sp"),
        LinkDef("sample", "subject", "e_ss"),
        LinkDef("sample", "project", "e_sprj")))
    val tables: Map[String, DataFrame] = Map(
      "project" -> Seq(("projA", "Alpha"), ("projB", "Beta"))
        .toDF("_project_id", "proj_name"),
      "subject" -> Seq(Tuple1("s1")).toDF("_subject_id"),
      "sample" -> Seq(("m1", "blood"), ("m2", "saliva"), ("m3", "blood"),
        ("m4", "urine")).toDF("_sample_id", "tissue"))
    val links: Map[(String, String), DataFrame] = Map(
      ("subject", "project") -> Seq(("s1", "projA"))
        .toDF("_subject_id", "_project_id"),
      ("sample", "subject") -> Seq(("m1", "s1"), ("m2", "s1"))
        .toDF("_sample_id", "_subject_id"),
      ("sample", "project") -> Seq(("m1", "projB"), ("m3", "projB"))
        .toDF("_sample_id", "_project_id"))
    val m = IndexMapping(name = "files", docType = "files", root = "sample",
      kind = "collector", props = Seq(PropDef("tissue", "tissue")),
      injection = Some(InjectionDef("biospec",
        Map("project" -> Seq(PropDef("project_set", "proj_name"))))))
    val (src, calls) = counting(
      new GraphSource(tables(_), (c, p) => links((c, p))))
    val rows = new Translator(diamond, src).translate(m).collect().map { r =>
      (r.getString(r.fieldIndex("_files_id")),
        r.getString(r.fieldIndex("tissue")),
        r.getString(r.fieldIndex("source_node")),
        r.getSeq[String](r.fieldIndex("project_set")))
    }.toSet
    assert(rows === Set(
      ("m1", "blood", "sample", Seq("Alpha", "Beta")),
      ("m2", "saliva", "sample", Seq("Alpha")),
      ("m3", "blood", "sample", Seq("Beta")),
      ("m4", "urine", "sample", Seq.empty[String])))
    assert(calls("sample") === 1)
  }

  test("a joining_props key that is an array on the consuming index is " +
      "rejected before translation, naming the index and the key") {
    // a 1-n chain makes subject's project_name a set (array) column
    val consumer = IndexMapping(name = "subject", docType = "subject",
      root = "subject", props = Seq(PropDef("age", "age")),
      parentProps = Seq(ParentChainDef(Seq(
        PathStep("project", Seq(PropDef("project_name", "proj_name")))))),
      joiningProps = Seq(JoiningDef("project", Seq("project_name"),
        Seq(PropDef("proj_names", "proj_name", fn = Some("set"))))))
    val producer = IndexMapping(name = "project", docType = "project",
      root = "project", props = Seq(PropDef("project_name", "proj_name"),
        PropDef("proj_name", "proj_name")))
    val ex = intercept[IllegalArgumentException] {
      Translator.runAll(schema, source, EtlMapping(Seq(consumer, producer)))
    }
    assert(ex.getMessage.contains("index 'subject'"), ex.getMessage)
    assert(ex.getMessage.contains("'project_name' is an array"), ex.getMessage)
  }
}
