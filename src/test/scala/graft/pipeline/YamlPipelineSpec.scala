package graft.pipeline

import graft.SparkSpec
import graft.schema._

/** The fully declarative path: a reference-shaped etlMapping.yaml string →
  * MappingYaml → Translator over the TPC-H graph — proving a reference
  * user's mapping file drives this engine end-to-end. */
class YamlPipelineSpec extends SparkSpec {

  private val yaml =
    """mappings:
      |  - name: customer_y
      |    doc_type: customer
      |    type: aggregator
      |    root: customer
      |    props:
      |      - c_name
      |      - name: segment
      |        src: c_mktsegment
      |        value_mappings:
      |          - BUILDING: B
      |    parent_props:
      |      - path: nation[nation_name:n_name].region[region_name:r_name]
      |        relation: 1-1
      |    flatten_props:
      |      - path: orders
      |        props:
      |          - name: latest_status
      |            src: o_orderstatus
      |        sorted_by: o_orderkey, desc
      |    aggregated_props:
      |      - name: orders_count
      |        path: orders
      |        fn: count
      |    filter:
      |      op: ">"
      |      prop: orders_count
      |      value: 0
      |""".stripMargin

  test("etlMapping.yaml drives translation over the graph end-to-end") {
    val mapping = MappingYaml.parse(yaml).indices.head
    val dir = "/root/testdata/sf0.001"
    val docs = new Translator(TpchGraph.schema, TpchGraph.source(spark, dir))
      .translate(mapping)

    val rows = docs.collect()
    assert(rows.nonEmpty)
    val r = rows.minBy(_.getAs[Long]("_customer_id"))
    assert(r.schema.fieldNames.toSet === Set("_customer_id", "c_name",
      "segment", "nation_name", "region_name", "latest_status", "orders_count"))
    // recode applied, parents resolved, filter keeps only customers w/ orders
    assert(rows.forall(_.getAs[Long]("orders_count") > 0))
    assert(rows.forall(x => x.getAs[String]("segment") != "BUILDING"))
    assert(rows.exists(_.getAs[String]("segment") == "B"))
    assert(rows.forall(_.getAs[String]("region_name") != null))
  }
}
