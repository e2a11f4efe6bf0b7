package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.StringType
import graft.schema._

class MappingValidatorSpec extends AnyFunSuite {

  private val schema = GraphSchema(
    nodes = Seq(
      NodeDef("program", "program", Map.empty, "admin"),
      NodeDef("project", "project", Map.empty, "admin"),
      NodeDef("subject", "subject", Map("age" -> StringType), "clinical")),
    links = Seq(
      LinkDef("project", "program", "e_pp"),
      LinkDef("subject", "project", "e_sp")))

  test("valid mapping produces no findings") {
    val ok = IndexMapping(name = "s", docType = "s", root = "subject",
      parentProps = Seq(ParentChainDef(Seq(
        PathStep("project", Seq(PropDef.of("code"))),
        PathStep("program", Seq(PropDef.of("name")))), relation = "1-1")),
      joiningProps = Seq(JoiningDef("p", Seq("code"), Nil)))
    val p = IndexMapping(name = "p", docType = "p", root = "project",
      props = Seq(PropDef.of("code")))
    assert(MappingValidator.validate(schema, EtlMapping(Seq(ok, p))) === Nil)
  }

  test("joining_props join_on columns must exist in BOTH indices' outputs") {
    val s = IndexMapping(name = "s", docType = "s", root = "subject",
      props = Seq(PropDef.of("age")),
      joiningProps = Seq(JoiningDef("p", Seq("age", "ghost"), Nil)))
    val p = IndexMapping(name = "p", docType = "p", root = "project")
    val errs = MappingValidator.validate(schema, EtlMapping(Seq(s, p)))
    // 'ghost' missing from both sides; 'age' missing from p's output only
    assert(errs.exists(e => e.contains("'ghost'") &&
      e.contains("this index's output")))
    assert(errs.exists(e => e.contains("'age'") && e.contains("'p'")))
    assert(!errs.exists(e => e.contains("'age'") &&
      e.contains("this index's output")))
    // the doc-key column counts as the OTHER side's output (J4 commonly
    // joins on it); this side still lacks it -> flagged once, not twice
    val byId = s.copy(joiningProps = Seq(JoiningDef("p", Seq("_project_id"), Nil)))
    val p2 = p.copy(props = Seq(PropDef.of("_project_id")))
    val errs2 = MappingValidator.validate(schema, EtlMapping(Seq(byId, p2)))
    assert(errs2.exists(e => e.contains("'_project_id'") &&
      e.contains("this index's output")))
    assert(!errs2.exists(e => e.contains("'_project_id'") && e.contains("'p'")))
  }

  test("every structural problem is reported at once") {
    val bad = IndexMapping(name = "b", docType = "b", root = "nope",
      parentProps = Seq(ParentChainDef(Seq(PathStep("program", Nil)))), // no edge b->program from 'nope'
      flattenProps = Seq(FlattenDef("ghost", Nil)),
      aggregatedProps = Seq(AggregatedPropDef("n", Seq("project", "subject"), None, "count")),
      nestedProps = Seq(NestedDef("x", Seq("subject"), Nil)),
      joiningProps = Seq(JoiningDef("missing_index", Seq("k"), Nil)))
    val errs = MappingValidator.validate(schema, EtlMapping(Seq(bad)))
    assert(errs.exists(_.contains("unknown root 'nope'")))
    assert(errs.exists(_.contains("unknown node 'ghost'")))
    assert(errs.exists(_.contains("unknown index 'missing_index'")))
    assert(errs.size >= 4)
  }

  test("output-name collisions and fan-out flattens are flagged statically") {
    // subject->project is many children per parent: flattening project's
    // props onto subject is fine, but flattening subject ONTO project
    // without sorted_by fans out
    val bad = IndexMapping(name = "c", docType = "c", root = "project",
      props = Seq(PropDef.of("name")),
      parentProps = Seq(ParentChainDef(Seq(
        PathStep("program", Seq(PropDef("name", "prog_name")))))), // collides
      flattenProps = Seq(FlattenDef("subject", Seq(PropDef.of("age")))))
    val errs = MappingValidator.validate(schema, EtlMapping(Seq(bad)))
    assert(errs.exists(_.contains("output column 'name'")))
    assert(errs.exists(e => e.contains("fans out") && e.contains("sorted_by")))
    // with sorted_by declared the flatten passes
    val ok = bad.copy(
      parentProps = Nil,
      flattenProps = Seq(FlattenDef("subject", Seq(PropDef.of("age")),
        sortedBy = Some(("age", true)))))
    assert(MappingValidator.validate(schema, EtlMapping(Seq(ok))) === Nil)
  }

  test("collector injected props share the output namespace with leaf props") {
    val coll = IndexMapping(name = "f", docType = "f", root = "subject",
      kind = "collector",
      props = Seq(PropDef.of("site")),
      injection = Some(InjectionDef("clinical",
        Map("project" -> Seq(PropDef("site", "site_code"))))))
    val errs = MappingValidator.validate(schema, EtlMapping(Seq(coll)))
    assert(errs.exists(_.contains("output column 'site'")))
  }

  test("collector auto-injected program_name/project_code collide with " +
      "same-named leaf props on Gen3-shaped graphs") {
    val gen3 = schema.copy(nodes = Seq(
      NodeDef("program", "program", Map("name" -> StringType), "admin"),
      NodeDef("project", "project", Map("code" -> StringType), "admin"),
      NodeDef("subject", "subject", Map("program_name" -> StringType), "clinical")))
    val coll = IndexMapping(name = "f", docType = "f", root = "subject",
      kind = "collector",
      props = Seq(PropDef.of("program_name")), // collides with auto-inject
      injection = Some(InjectionDef("clinical", Map.empty)))
    val errs = MappingValidator.validate(gen3, EtlMapping(Seq(coll)))
    assert(errs.exists(_.contains("output column 'program_name'")))
    // non-Gen3 graph (no program.name): no auto-inject, no collision
    assert(MappingValidator.validate(schema, EtlMapping(Seq(coll))) === Nil)
  }

  test("duplicate index names flagged; runAll refuses invalid mappings") {
    val a = IndexMapping(name = "dup", docType = "a", root = "subject")
    val b = IndexMapping(name = "dup", docType = "b", root = "subject")
    val errs = MappingValidator.validate(schema, EtlMapping(Seq(a, b)))
    assert(errs.exists(_.contains("duplicate index name")))
  }

  test("joining_props keys that are arrays on the consuming index are " +
      "flagged, naming the index and the key; a producer-side array is not") {
    import org.apache.spark.sql.types.ArrayType
    val typed = schema.copy(nodes = schema.nodes :+
      NodeDef("tagged", "tagged", Map("tags" -> ArrayType(StringType)), "x"))
    val p = IndexMapping(name = "p", docType = "p", root = "project",
      props = Seq(PropDef.of("code"), PropDef.of("n"), PropDef.of("kids"),
        PropDef.of("tags")))
    def flagged(m: IndexMapping, key: String): Boolean =
      MappingValidator.validate(typed, EtlMapping(Seq(m, p))).exists(e =>
        e.contains(s"index '${m.name}'") && e.contains(s"'$key' is an array"))
    val join = (k: String) => Seq(JoiningDef("p", Seq(k), Nil))
    // a 1-n parent chain collects a set
    assert(flagged(IndexMapping(name = "chain", docType = "s", root = "subject",
      parentProps = Seq(ParentChainDef(Seq(PathStep("project",
        Seq(PropDef.of("code")))))), joiningProps = join("code")), "code"))
    // set/list aggregations and nested blocks
    assert(flagged(IndexMapping(name = "agg", docType = "p2", root = "project",
      aggregatedProps = Seq(AggregatedPropDef("n", Seq("subject"),
        Some("age"), "set")), joiningProps = join("n")), "n"))
    assert(flagged(IndexMapping(name = "nest", docType = "p3", root = "project",
      nestedProps = Seq(NestedDef("kids", Seq("subject"),
        Seq(PropDef.of("age")))), joiningProps = join("kids")), "kids"))
    // a collector's injected props are sets
    assert(flagged(IndexMapping(name = "coll", docType = "f", root = "subject",
      kind = "collector", injection = Some(InjectionDef("clinical",
        Map("project" -> Seq(PropDef.of("code"))))),
      joiningProps = join("code")), "code"))
    // a prop the dictionary declares as an array
    assert(flagged(IndexMapping(name = "arr", docType = "t", root = "tagged",
      props = Seq(PropDef.of("tags")), joiningProps = join("tags")), "tags"))
    // scalar keys pass: a 1-1 chain, a count
    val scalar = IndexMapping(name = "ok", docType = "p4", root = "project",
      props = Seq(PropDef.of("code")),
      aggregatedProps = Seq(AggregatedPropDef("n", Seq("subject"), None,
        "count")), joiningProps = Seq(JoiningDef("p", Seq("code", "n"), Nil)))
    assert(MappingValidator.validate(typed, EtlMapping(Seq(scalar, p))) === Nil)
    // the producer's array key is exploded by GraphOps.indexJoin: allowed
    val q = IndexMapping(name = "q", docType = "q", root = "subject",
      parentProps = Seq(ParentChainDef(Seq(PathStep("project",
        Seq(PropDef.of("code")))))))
    val consumer = IndexMapping(name = "c", docType = "c", root = "project",
      props = Seq(PropDef.of("code")), joiningProps = Seq(JoiningDef("q",
        Seq("code"), Nil)))
    assert(MappingValidator.validate(typed, EtlMapping(Seq(consumer, q))) === Nil)
  }
}
