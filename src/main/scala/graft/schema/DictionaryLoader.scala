package graft.schema

import java.io.File
import java.security.MessageDigest
import java.{util => ju}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types._

/** Gen3 data-dictionary (JSON Schema) → `GraphSchema` loader — the missing
  * first step for a real deployment: point the engine at the same
  * `schema.json` + `etlMapping.yaml` pair the reference consumes and get a
  * typed graph schema plus label-resolved mappings, no hand-written Scala.
  *
  * Reference behavior being matched:
  *   - dictionary init + model-table naming: tube/utils/dd.py:4-11,87-89
  *     (node table = `node_` + label with underscores stripped);
  *   - edge table naming: the public gdcdatamodel/gen3datamodel convention —
  *     `edge_{src}{label}{dst}` (underscores stripped), shortened to
  *     `edge_{md5[:8]}_{abbr}` when over 40 chars, where abbr is the first
  *     two letters of each underscore-word of src/label/dst (verified
  *     against every edge dir under tests/dataframe_tests/test_data);
  *   - property typing incl. `$ref` resolution, `anyOf`/`oneOf` first-match,
  *     `enum` → string, list-of-types first-recognized, `array` item types:
  *     tube/etl/indexers/base/parser.py:148-240;
  *   - multiplicity/category lookup: tube/utils/dd.py:113-132.
  */
object DictionaryLoader {

  def loadFile(path: String): GraphSchema = {
    val mapper = new ObjectMapper()
    val root = mapper.readValue(new File(path), classOf[ju.Map[String, Object]])
    fromDict(root.asScala.toMap)
  }

  def fromJsonString(json: String): GraphSchema = {
    val mapper = new ObjectMapper()
    fromDict(mapper.readValue(json, classOf[ju.Map[String, Object]]).asScala.toMap)
  }

  /** Build a GraphSchema from a parsed dictionary: key = schema file name
    * (`participant.yaml`), value = that node's JSON-Schema object. Files
    * starting with `_` (`_definitions.yaml`, `_terms.yaml`, `_settings.yaml`)
    * are kept for `$ref` resolution but define no node. */
  def fromDict(dict: Map[String, Any]): GraphSchema = {
    val nodeEntries = dict.toSeq.collect {
      case (k, v) if !k.startsWith("_") =>
        val m = asMap(v)
        (k, m, m.get("id").map(_.toString).getOrElse(""))
    }.filter(_._3.nonEmpty)
    val labels = nodeEntries.map(_._3).toSet

    val nodes = nodeEntries.map { case (fileKey, m, label) =>
      val links = flatLinks(m.getOrElse("links", null))
      // link placeholder props (the dictionary lists each link's NAME as a
      // property of the node) are edges, not columns
      val linkNames = links.map(l => str(l, "name")).toSet
      val rawProps = asMap(m.getOrElse("properties", null))
      // a `$ref` KEY inside `properties` pulls in a shared property block
      // (e.g. `_definitions.yaml#/data_file_properties`), possibly itself
      // containing further `$ref` blocks — expand recursively; entries keep
      // their origin file so nested relative refs ("#/file_size") resolve
      // there, and later (more specific) entries override on collision
      def expand(props: Map[String, Any], fileKey: String,
                 depth: Int): Seq[(String, Any, String)] =
        if (depth > 6) Nil
        else props.get("$ref").toSeq.flatMap(asList).flatMap { r =>
          val rf = refFile(fileKey, r.toString)
          resolveRef(dict, fileKey, r.toString).toSeq
            .flatMap(b => expand(asMap(b), rf, depth + 1))
        } ++ props.toSeq.collect {
          case (n, sp) if n != "$ref" => (n, sp, fileKey)
        }
      val withOrigin = expand(rawProps, fileKey, 0)
      val props = withOrigin.groupBy(_._1).map(_._2.last).collect {
        case (name, spec, origin)
            if name != "id" && name != "type" && !linkNames.contains(name) &&
              !asMap(spec).get("systemAlias").contains("node_id") =>
          name -> propType(dict, origin, spec, 0).getOrElse(StringType)
      }.toMap
      // TubeGraphSource prepends the reference's `node_` dir prefix itself,
      // so tableName is the bare label with underscores stripped
      // (tube/utils/dd.py:87-89)
      NodeDef(label, label.replace("_", ""), props,
        m.get("category").map(_.toString).getOrElse("data"))
    }

    val links = nodeEntries.flatMap { case (_, m, label) =>
      flatLinks(m.getOrElse("links", null)).flatMap { l =>
        val target = str(l, "target_type")
        if (!labels.contains(target)) None // e.g. the synthetic `root` node
        else Some(LinkDef(
          child = label,
          parent = target,
          edgeTable = edgeTableName(label, str(l, "label"), target),
          multiplicity = str(l, "multiplicity", "many_to_one"),
          backref = str(l, "backref"),
          name = str(l, "name")))
      }
    }
    GraphSchema(nodes, links)
  }

  /** Rewrite an `EtlMapping` whose paths use the dictionary's edge names
    * (link name going UP to a parent, backref coming DOWN to a child — the
    * reference resolves both through model attributes, tube/utils/
    * dd.py:19-31,102-110) into node-label paths the Translator walks.
    * Paths already written as node labels pass through unchanged. */
  def resolveMapping(schema: GraphSchema, em: EtlMapping): EtlMapping =
    EtlMapping(em.indices.map { m =>
      if (m.kind == "collector") m
      else m.copy(
        // joining_props may name the other index by its doc_type
        // (`index: data_file` in the reference fixtures)
        joiningProps = m.joiningProps.map { j =>
          if (em.indices.exists(_.name == j.otherIndex)) j
          else em.indices.find(_.docType == j.otherIndex)
            .map(ix => j.copy(otherIndex = ix.name)).getOrElse(j)
        },
        parentProps = m.parentProps.map { chain =>
          val resolved = chain.steps.foldLeft(
            (m.root, Vector.empty[PathStep])) { case ((cur, acc), step) =>
            val label = up(schema, cur, step.label)
            (label, acc :+ step.copy(label = label))
          }._2
          chain.copy(steps = resolved)
        },
        flattenProps = m.flattenProps.map(f =>
          f.copy(path = down(schema, m.root, f.path))),
        aggregatedProps = m.aggregatedProps.map(d =>
          d.copy(path = resolveDownPath(schema, m.root, d.path))),
        nestedProps = m.nestedProps.map(nd => resolveNested(schema, m.root, nd)))
    })

  private def resolveNested(schema: GraphSchema, from: String,
                            nd: NestedDef): NestedDef = {
    val path = resolveDownPath(schema, from, nd.path)
    val leaf = path.lastOption.getOrElse(from)
    nd.copy(path = path,
      children = nd.children.map(resolveNested(schema, leaf, _)))
  }

  private def resolveDownPath(schema: GraphSchema, from: String,
                              path: Seq[String]): Seq[String] =
    path.foldLeft((from, Vector.empty[String])) { case ((cur, acc), step) =>
      val label = down(schema, cur, step)
      (label, acc :+ label)
    }._2

  /** One step up: `name` is a link name declared by `cur` (or already the
    * parent's label). */
  private def up(schema: GraphSchema, cur: String, name: String): String =
    schema.links.find(l => l.child == cur && l.name == name).map(_.parent)
      .orElse(schema.links.find(l => l.child == cur && l.parent == name)
        .map(_.parent))
      .getOrElse(throw new NoSuchElementException(
        s"no parent link '$name' from node '$cur'"))

  /** One step down: `name` is the backref of a link pointing at `cur` (or
    * already the child's label). */
  private def down(schema: GraphSchema, cur: String, name: String): String =
    schema.links.find(l => l.parent == cur && l.backref == name).map(_.child)
      .orElse(schema.links.find(l => l.parent == cur && l.child == name)
        .map(_.child))
      .getOrElse(throw new NoSuchElementException(
        s"no child link '$name' under node '$cur'"))

  // ---- edge table naming ---------------------------------------------------

  private[schema] def edgeTableName(src: String, label: String,
                                    dst: String): String = {
    val plain = s"edge_${src.replace("_", "")}${label.replace("_", "")}" +
      dst.replace("_", "")
    if (plain.length <= 40) plain
    else {
      val md5 = MessageDigest.getInstance("MD5")
        .digest(plain.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      def abbr(s: String) = s.split("_").map(_.take(2)).mkString
      s"edge_${md5}_${abbr(src)}${abbr(label)}${abbr(dst)}"
    }
  }

  // ---- JSON-Schema property typing ----------------------------------------

  /** JSON-Schema "number" → FloatType, matching the reference's Spark-side
    * float32 for dictionary numbers (tube/utils/spark.py) — the goldens
    * carry float32 values. Wider (double) SOURCE columns are not narrowed:
    * Translator.boundProps lets them keep their precision. */
  private val scalarTypes: Map[String, DataType] = Map(
    "number" -> FloatType, "integer" -> LongType,
    "boolean" -> BooleanType, "string" -> StringType)

  /** Resolve one property spec to a Spark type; None when the shape is not
    * recognized (caller falls back to string, like the reference's WARN +
    * `(str,)` at parser.py:158-162). */
  private def propType(dict: Map[String, Any], fileKey: String, spec: Any,
                       depth: Int): Option[DataType] = {
    if (depth > 10) return None // $ref cycle guard
    val m = asMap(spec)
    if (m.isEmpty) return None
    m.get("$ref") match {
      case Some(ref) =>
        resolveRef(dict, fileKey, ref.toString)
          .flatMap(r => propType(dict, refFile(fileKey, ref.toString), r, depth + 1))
      case None =>
        m.get("type") match {
          case Some(t) =>
            val name = t match {
              case l: ju.List[_] =>
                l.asScala.map(_.toString)
                  .find(n => scalarTypes.contains(n) || n == "array")
              case other => Some(other.toString)
            }
            name.flatMap {
              case "array" =>
                val item = m.get("items")
                  .flatMap(propType(dict, fileKey, _, depth + 1))
                  .getOrElse(StringType)
                Some(ArrayType(item))
              case n => scalarTypes.get(n)
            }
          case None if m.contains("enum") => Some(StringType)
          case None =>
            (m.get("anyOf") orElse m.get("oneOf")).flatMap { alts =>
              asList(alts).view.flatMap(propType(dict, fileKey, _, depth + 1))
                .headOption
            }
        }
    }
  }

  /** `"_definitions.yaml#/UUID"` / `"#/local/pointer"` → referenced object. */
  private def resolveRef(dict: Map[String, Any], fileKey: String,
                         ref: String): Option[Any] = {
    val hash = ref.indexOf('#')
    val (file, ptr) = if (hash >= 0) (ref.take(hash), ref.drop(hash + 1))
                      else (ref, "")
    val fk = if (file.isEmpty) fileKey else file
    ptr.split("/").filter(_.nonEmpty).foldLeft(dict.get(fk): Option[Any]) {
      (acc, seg) => acc.flatMap(a => asMap(a).get(seg))
    }
  }

  private def refFile(fileKey: String, ref: String): String = {
    val hash = ref.indexOf('#')
    val file = if (hash >= 0) ref.take(hash) else ref
    if (file.isEmpty) fileKey else file
  }

  // ---- helpers -------------------------------------------------------------

  /** links may nest one level under `subgroup` (tube/utils/dd.py:113-126). */
  private def flatLinks(links: Any): Seq[Map[String, Any]] =
    asList(links).map(asMap).flatMap { l =>
      if (l.contains("subgroup")) asList(l("subgroup")).map(asMap) else Seq(l)
    }

  private def asMap(o: Any): Map[String, Any] = o match {
    case m: ju.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> v }.toMap
    case _               => Map.empty
  }
  private def asList(o: Any): Seq[Any] = o match {
    case l: ju.List[_] => l.asScala.toSeq
    case null          => Nil
    case x             => Seq(x)
  }
  private def str(m: Map[String, Any], k: String, d: String = ""): String =
    m.get(k).map(_.toString).getOrElse(d)
}
