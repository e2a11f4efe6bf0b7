package graft.schema

import org.apache.spark.sql.types._

/** Graph-of-tables metadata: the engine's self-contained replacement for the
  * reference's Gen3 data-dictionary + SQLAlchemy model pair
  * (reference: tube/utils/dd.py:4-132).
  *
  * A property graph stored relationally:
  *   - one node table per label (row = entity, props are typed columns here,
  *     unlike the reference's JSON `_props` blob),
  *   - one edge table per (child, parent) link, rows = (srcId, dstId) with
  *     src = child and dst = parent (reference: tube/etl/indexers/base/
  *     lambdas.py:64-71 and tests/integrated_tests/utils_db.py:62-79).
  */
final case class NodeDef(
    label: String,
    tableName: String,
    props: Map[String, DataType],
    category: String = "data")

/** multiplicity ∈ {one_to_one, one_to_many, many_to_one, many_to_many} —
  * reference: tube/utils/dd.py:113-123 (get_multiplicity). `name` is the
  * child→parent link name from the dictionary (`participant.links[].name`,
  * e.g. "centers"); `backref` the parent→child collection name. Both are
  * path-step vocabulary in etlMapping files (DictionaryLoader.resolveMapping). */
final case class LinkDef(
    child: String,
    parent: String,
    edgeTable: String,
    multiplicity: String = "many_to_one",
    backref: String = "",
    name: String = "")

final case class GraphSchema(nodes: Seq[NodeDef], links: Seq[LinkDef]) {
  private val byLabel = nodes.map(n => n.label -> n).toMap
  def node(label: String): NodeDef =
    byLabel.getOrElse(label, throw new NoSuchElementException(s"node $label"))
  def linksOf(child: String, parent: String): LinkDef =
    links.find(l => l.child == child && l.parent == parent).getOrElse(
      throw new NoSuchElementException(s"edge $child->$parent"))
  def parentsOf(child: String): Seq[LinkDef] = links.filter(_.child == child)
  /** ALL simple child→parent label paths from `from` up to `target` —
    * every structural route can carry data (schemas are DAG-ish; `maxLen`
    * caps pathological cases). Each result starts at `from` and ends at
    * `target`. */
  def ancestorPaths(from: String, target: String,
                    maxLen: Int = 8): Seq[Seq[String]] = {
    def rec(cur: String, seen: Set[String],
            acc: List[String]): Seq[Seq[String]] =
      if (cur == target) Seq(acc.reverse)
      else if (acc.length > maxLen) Nil
      else parentsOf(cur).map(_.parent).filterNot(seen)
        .flatMap(p => rec(p, seen + p, p :: acc))
    rec(from, Set(from), List(from))
  }
  /** doc-key column name for a label — reference injects `_{label}_id`
    * (tube/etl/indexers/base/translator.py:160-168). */
  def idCol(label: String): String = s"_${label}_id"
}

object Types {
  /** Widest-type selection when a prop has several candidate types:
    * float > int > bool > str (reference: tube/etl/indexers/base/
    * parser.py:126-135). */
  def widest(candidates: Seq[DataType]): DataType = {
    val rank: DataType => Int = {
      case DoubleType  => 6   // wider types above narrower: keeps the order
      case FloatType   => 5   // total, so selection is order-insensitive
      case LongType    => 4
      case IntegerType => 3
      case BooleanType => 2
      case _           => 1
    }
    if (candidates.isEmpty) StringType else candidates.maxBy(rank)
  }
}
