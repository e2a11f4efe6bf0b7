package graft.pipeline

import java.nio.file.Files
import graft.SparkSpec
import graft.schema._
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Per-index CDC dependency analysis + the table-granular incremental gate
  * end-to-end: change one subgraph's dump → only the dependent index
  * re-publishes. */
class MappingDepsSpec extends SparkSpec {
  import spark.implicits._

  // person --member_of--> study; device is an unconnected second subgraph
  private val schemaJson =
    """{
      |  "study.yaml": {"id": "study", "category": "administrative",
      |    "properties": {"name": {"type": "string"}}, "links": []},
      |  "person.yaml": {"id": "person", "category": "clinical",
      |    "properties": {"age": {"type": "integer"}},
      |    "links": [{"name": "studies", "backref": "persons",
      |      "label": "member_of", "target_type": "study",
      |      "multiplicity": "many_to_one"}]},
      |  "device.yaml": {"id": "device", "category": "data",
      |    "properties": {"model": {"type": "string"}}, "links": []}
      |}""".stripMargin

  private val mappingYaml =
    """mappings:
      |  - name: person_index
      |    doc_type: person
      |    type: aggregator
      |    root: person
      |    props:
      |      - name: age
      |    parent_props:
      |      - path: studies[study_name:name]
      |  - name: device_index
      |    doc_type: device
      |    type: aggregator
      |    root: device
      |    props:
      |      - name: model
      |""".stripMargin

  private lazy val schema = DictionaryLoader.fromJsonString(schemaJson)
  private lazy val mapping = DictionaryLoader.resolveMapping(schema,
    MappingYaml.parse(mappingYaml))
  private def idx(name: String) = mapping.indices.find(_.name == name).get

  test("nodeLabels: aggregator closure is root + path steps, exact") {
    assert(MappingDeps.nodeLabels(schema, mapping, idx("person_index")) ===
      Set("person", "study"))
    assert(MappingDeps.nodeLabels(schema, mapping, idx("device_index")) ===
      Set("device"))
  }

  test("tables: node tables plus edges with both endpoints in the closure") {
    assert(MappingDeps.tables(schema, mapping, idx("person_index")) ===
      Set("node_person", "node_study", "edge_personmemberofstudy"))
    assert(MappingDeps.tables(schema, mapping, idx("device_index")) ===
      Set("node_device"))
  }

  test("collectors depend only on their leaves and injection paths") {
    val coll = idx("device_index").copy(kind = "collector",
      injection = Some(InjectionDef("data", Map.empty)))
    assert(MappingDeps.nodeLabels(schema, mapping, coll) === Set("device"))
  }

  test("joining_props consumers inherit producer deps transitively; " +
      "producerClosure adds producers to the translate set") {
    val consumer = idx("device_index").copy(name = "consumer_index",
      joiningProps = Seq(JoiningDef("person_index", Seq("_person_id"), Nil)))
    val m2 = mapping.copy(indices = mapping.indices :+ consumer)
    assert(MappingDeps.nodeLabels(schema, m2, consumer) ===
      Set("device", "person", "study"))
    assert(MappingDeps.producerClosure(m2, Set("consumer_index")) ===
      Set("consumer_index", "person_index"))
    assert(MappingDeps.producerClosure(m2, Set("device_index")) ===
      Set("device_index"))
  }

  test("latestTxMillis: max over matching tables; None when nothing matches; " +
      "the reserved config key reaches every index") {
    val times = Map("node_person" -> 5L, "node_study" -> 9L, "other" -> 99L)
    assert(MappingDeps.latestTxMillis(
      Set("node_person", "node_study", "edge_x"), times) === Some(9L))
    assert(MappingDeps.latestTxMillis(Set("edge_x"), times) === None)
    val withCfg = times + (MappingDeps.ConfigKey -> 50L)
    assert(MappingDeps.latestTxMillis(
      Set("node_person", "node_study"), withCfg) === Some(50L))
    // ConfigKey RAISES a table signal but cannot SUBSTITUTE for one: an
    // index whose dump dirs all vanished must stay on the always-run path
    assert(MappingDeps.latestTxMillis(Set("edge_x"), withCfg) === None)
  }

  test("CDC end-to-end: a change in one subgraph re-publishes only the " +
      "dependent index") {
    val base = Files.createTempDirectory("graft_cdc")
    val dumps = base.resolve("graphs").toString
    Seq(("p0", 30L), ("p1", 31L)).toDF("node_id", "age")
      .write.parquet(s"$dumps/node_person")
    Seq(("st1", "Alpha")).toDF("node_id", "name")
      .write.parquet(s"$dumps/node_study")
    Seq(("p0", "st1"), ("p1", "st1")).toDF("src_id", "dst_id")
      .write.parquet(s"$dumps/edge_personmemberofstudy")
    Seq(("d0", "m1"), ("d1", "m2"), ("d2", "m1")).toDF("node_id", "model")
      .write.parquet(s"$dumps/node_device")
    val schemaPath = base.resolve("schema.json")
    val mappingPath = base.resolve("etlMapping.yaml")
    Files.write(schemaPath, schemaJson.getBytes("UTF-8"))
    Files.write(mappingPath, mappingYaml.getBytes("UTF-8"))
    val out = base.resolve("es").toString

    val times0 = Map("node_person" -> 1000L, "node_study" -> 1000L,
      "edge_personmemberofstudy" -> 1000L, "node_device" -> 1000L)
    // first run: nothing published yet → both indices run
    val first = graft.RunEtl.run(spark, schemaPath.toString,
      mappingPath.toString, dumps, out, nowMillis = 2000L,
      perTableTxMillis = Some(times0))
    assert(first.keySet === Set("person_index", "device_index"))
    assert(first("person_index") === (("person_index_0", 2L)))
    assert(first("device_index") === (("device_index_0", 3L)))

    // no table changed since → full no-op
    assert(graft.RunEtl.run(spark, schemaPath.toString,
      mappingPath.toString, dumps, out, nowMillis = 3000L,
      perTableTxMillis = Some(times0)).isEmpty)

    // only the person subgraph changes → device_index stays at version 0
    val second = graft.RunEtl.run(spark, schemaPath.toString,
      mappingPath.toString, dumps, out, nowMillis = 4000L,
      perTableTxMillis = Some(times0 + ("node_person" -> 2500L)))
    assert(second.keySet === Set("person_index"))
    assert(second("person_index")._1 === "person_index_1")
    val client = new graft.sinks.FsEsClient(java.nio.file.Paths.get(out))
    // (array-config side docs excluded — S12 writes one per alias)
    assert(client.indices().filterNot(_.endsWith("-array-config")).toSet ===
      Set("person_index_0", "person_index_1", "device_index_0"))

    // high-water-mark stamping closes the translate-window race: a change
    // landing DURING the previous run (source time 3000 < that run's wall
    // time 4000, but > its gated high-water 2500) must still trigger
    val third = graft.RunEtl.run(spark, schemaPath.toString,
      mappingPath.toString, dumps, out, nowMillis = 5000L,
      perTableTxMillis = Some(times0 + ("node_person" -> 3000L)))
    assert(third.keySet === Set("person_index"))
    assert(third("person_index")._1 === "person_index_2")

    // a config change (reserved key) re-publishes EVERY index — the
    // escape hatch for changes that leave no per-table signal (dropped
    // tables, reshaped mappings)
    val fourth = graft.RunEtl.run(spark, schemaPath.toString,
      mappingPath.toString, dumps, out, nowMillis = 6000L,
      perTableTxMillis = Some(times0 + ("node_person" -> 3000L) +
        (MappingDeps.ConfigKey -> 3500L)))
    assert(fourth.keySet === Set("person_index", "device_index"))

    // dumpTableTimes reads a real per-table signal from the layout
    val fromDisk = MappingDeps.dumpTableTimes(dumps)
    assert(fromDisk.keySet === Set("node_person", "node_study",
      "edge_personmemberofstudy", "node_device"))
    assert(fromDisk.values.forall(_ > 0L))

    // --backup publish: the outgoing person_index_2 is snapshotted into a
    // backup-tagged index, and restore republishes it as the next version
    val fifth = graft.RunEtl.run(spark, schemaPath.toString,
      mappingPath.toString, dumps, out, nowMillis = 7000L,
      perTableTxMillis = Some(times0 + ("node_person" -> 6500L)),
      backup = true)
    assert(fifth("person_index")._1 === "person_index_4")
    assert(client.aliasTargets("person_index_backup") === Seq("0_person_index"))
    assert(graft.sinks.EsControl.restore(client, "person_index") ===
      Some("person_index_5"))
    assert(client.aliasTargets("person_index") === Seq("person_index_5"))
  }

  // Gen3-shaped graph: program ← project ← subject ← sample ← aliquot ←
  // file, plus a second route file → project; center hangs off program
  // and device (a second data leaf) is unconnected
  private val gen3 = GraphSchema(
    nodes = Seq(
      NodeDef("program", "program", Map("name" -> StringType), "admin"),
      NodeDef("project", "project",
        Map("code" -> StringType, "pname" -> StringType), "admin"),
      NodeDef("center", "center", Map("cname" -> StringType), "admin"),
      NodeDef("subject", "subject", Map("age" -> LongType), "clinical"),
      NodeDef("sample", "sample", Map("tissue" -> StringType), "biospec"),
      NodeDef("aliquot", "aliquot", Map("vol" -> LongType), "biospec"),
      NodeDef("file", "file", Map("size" -> LongType), "data"),
      NodeDef("device", "device", Map("model" -> StringType), "data")),
    links = Seq(
      LinkDef("project", "program", "e_project_program"),
      LinkDef("center", "program", "e_center_program"),
      LinkDef("subject", "project", "e_subject_project"),
      LinkDef("sample", "subject", "e_sample_subject"),
      LinkDef("aliquot", "sample", "e_aliquot_sample"),
      LinkDef("file", "aliquot", "e_file_aliquot"),
      LinkDef("file", "project", "e_file_project")))

  private val gen3Mapping = EtlMapping(Seq(
    IndexMapping(name = "subject_docs", docType = "subject", root = "subject",
      props = Seq(PropDef("age", "age")),
      parentProps = Seq(ParentChainDef(Seq(
        PathStep("project", Seq(PropDef("project_name", "pname"))),
        PathStep("program", Seq(PropDef("program_name", "name")))),
        relation = "1-1")),
      aggregatedProps = Seq(
        AggregatedPropDef("aliquots", Seq("sample", "aliquot"), None, "count")),
      nestedProps = Seq(NestedDef("samples", Seq("sample"),
        Seq(PropDef("tissue", "tissue")),
        children = Seq(NestedDef("aliquots", Seq("aliquot"),
          Seq(PropDef("vol", "vol"))))))),
    IndexMapping(name = "project_docs", docType = "project", root = "project",
      props = Seq(PropDef("project_name", "pname"), PropDef("code", "code")),
      joiningProps = Seq(JoiningDef("subject_docs", Seq("project_name"),
        Seq(PropDef("ages", "age", fn = Some("set")))))),
    IndexMapping(name = "center_docs", docType = "center", root = "center",
      props = Seq(PropDef("cname", "cname"))),
    IndexMapping(name = "files", docType = "files", root = "file",
      kind = "collector", props = Seq(PropDef("size", "size")),
      injection = Some(InjectionDef("data",
        Map("subject" -> Seq(PropDef("subject_ages", "age")),
          "project" -> Seq(PropDef("project_names", "pname"))))))))

  test("every table a translation reads is in its index's MappingDeps.tables") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    def empty(cols: Seq[(String, DataType)]) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(cols.map { case (n, t) => StructField(n, t) }))
    val read = scala.collection.mutable.Set[String]()
    val recording = new GraphSource(
      l => read.synchronized {
        read += s"node_${gen3.node(l).tableName}"
        empty((gen3.idCol(l) -> StringType) +: gen3.node(l).props.toSeq)
      },
      (c, p) => read.synchronized {
        read += gen3.linksOf(c, p).edgeTable
        empty(Seq(gen3.idCol(c) -> StringType, gen3.idCol(p) -> StringType))
      })
    gen3Mapping.indices.foreach { m =>
      read.clear()
      // a consumer publishes after joining its producers' fresh documents
      val translator = new Translator(gen3, recording)
      MappingDeps.producerClosure(gen3Mapping, Set(m.name)).foreach(n =>
        translator.translate(gen3Mapping.indices.find(_.name == n).get))
      val deps = MappingDeps.tables(gen3, gen3Mapping, m)
      assert(read.nonEmpty, m.name)
      assert((read.toSet -- deps).isEmpty, s"${m.name} reads outside $deps")
    }
    // the collector's set is exact: both routes to project, program
    // through the auto-injection, and nothing off its walks
    val files = gen3Mapping.indices.find(_.name == "files").get
    assert(MappingDeps.nodeLabels(gen3, gen3Mapping, files) === Set("file",
      "device", "aliquot", "sample", "subject", "project", "program"))
  }
}
