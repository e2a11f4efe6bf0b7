package graft.pipeline

import graft.schema._

/** Static validation of an ETL mapping against the graph schema — surface
  * every problem at once, before any Spark job runs. The reference fails
  * deep inside translation with attribute-resolution errors; a 100 TB run
  * should never launch on a mapping with a typo'd label.
  *
  * Scope: graph-structural checks (labels and links). Prop-level checks are
  * intentionally out: node tables may carry more columns than the schema
  * declares (the parquet-backed sources do), so prop existence is only
  * knowable at bind time. The one type check is on `joining_props` keys
  * that are arrays by construction (a set, a nested block, or a
  * dictionary array type).
  */
object MappingValidator {

  /** [[validate]], throwing on any problem — the one failure format every
    * entry point shares (RunEtl pre-gating, Translator.runAll). */
  def validateOrThrow(schema: GraphSchema, mapping: EtlMapping): Unit = {
    val problems = validate(schema, mapping)
    if (problems.nonEmpty)
      throw new IllegalArgumentException(
        "invalid mapping:\n  " + problems.mkString("\n  "))
  }

  def validate(schema: GraphSchema, mapping: EtlMapping): Seq[String] = {
    val names = mapping.indices.map(_.name)
    val dupIdx = names.diff(names.distinct).distinct
      .map(n => s"duplicate index name '$n'")
    dupIdx ++ mapping.indices.flatMap(m => validateIndex(schema, mapping, m))
  }

  private def hasNode(schema: GraphSchema, label: String): Boolean =
    schema.nodes.exists(_.label == label)
  private def hasLink(schema: GraphSchema, child: String, parent: String): Boolean =
    schema.links.exists(l => l.child == child && l.parent == parent)

  /** A collector's injected output names, auto-injections included. */
  private def injectedNames(schema: GraphSchema, m: IndexMapping): Seq[String] =
    m.injection.toSeq.flatMap { inj =>
      val declared = inj.injectingProps.values.flatten.map(_.name).toSeq
      // the Translator suppresses an auto-injection only when the SAME
      // ancestor label already declares that name — a same-named prop
      // under a DIFFERENT label still collides at runtime, so it must
      // still count here
      val auto = Translator.autoInjections(schema).collect {
        case (l, p)
            if !inj.injectingProps.getOrElse(l, Nil).exists(_.name == p.name) =>
          p.name
      }
      declared ++ auto
    }

  /** Every output column NAME an index's document set declares — fully
    * static (the Translator selects exactly the declared props), so both
    * collision checks and joining_props key checks can run before any
    * Spark job. */
  private def declaredOutNames(schema: GraphSchema, m: IndexMapping): Seq[String] =
    m.props.map(_.name) ++ injectedNames(schema, m) ++
      m.parentProps.flatMap(_.steps.flatMap(_.props.map(_.name))) ++
      m.flattenProps.flatMap(_.props.map(_.name)) ++
      m.aggregatedProps.map(_.name) ++
      m.nestedProps.map(_.name) ++
      m.joiningProps.flatMap(_.props.map(_.name))

  /** The output columns statically known to be ARRAYS: 1-n parent chain
    * sets, set/list aggregations, nested documents, collector injections,
    * aggregated joining props, and props the dictionary declares as
    * arrays. `GraphOps.indexJoin` explodes an array key on the producer
    * side only, so a consumer's array key cannot join. */
  private def arrayOutNames(schema: GraphSchema, m: IndexMapping): Set[String] = {
    val setFns = Set("set", "list")
    def declaredArray(label: String, p: PropDef): Boolean =
      schema.nodes.find(_.label == label).flatMap(_.props.get(p.src))
        .exists(_.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    val propLabels =
      if (m.kind == "collector")
        m.injection.toSeq.flatMap(inj =>
          schema.nodes.filter(_.category == inj.category).map(_.label))
      else Seq(m.root)
    val chains = m.parentProps.flatMap(c => c.steps.flatMap(s =>
      s.props.filter(p => c.relation != "1-1" || declaredArray(s.label, p))))
    val joined = m.joiningProps.filter(_.props.exists(_.fn.isDefined))
      .flatMap(_.props.filter(p => setFns(p.fn.getOrElse("set"))))
    (m.props.filter(p => propLabels.exists(declaredArray(_, p))) ++ chains ++
      m.flattenProps.flatMap(f => f.props.filter(declaredArray(f.path, _))) ++
      joined).map(_.name).toSet ++
      m.aggregatedProps.filter(a => setFns(a.fn)).map(_.name) ++
      m.nestedProps.map(_.name) ++ injectedNames(schema, m)
  }

  /** The full static output-column set: declared names + the doc key +
    * collector synthetics (source_node always; project_id when the Gen3
    * auto-injection applies). */
  private def outputColumns(schema: GraphSchema, m: IndexMapping): Set[String] = {
    val id = schema.idCol(if (m.kind == "collector") m.docType else m.root)
    val synthetics =
      if (m.kind == "collector")
        // project_id is synthesized only when BOTH Gen3 auto-injections
        // apply (Translator.translateCollector gates on autoInj.length==2)
        Set("source_node") ++
          (if (Translator.autoInjections(schema).length == 2) Set("project_id")
           else Nil)
      else Set.empty[String]
    declaredOutNames(schema, m).toSet ++ synthetics + id
  }

  private def validateIndex(schema: GraphSchema, all: EtlMapping,
                            m: IndexMapping): Seq[String] = {
    val at = s"index '${m.name}'"
    val root: Seq[String] =
      if (m.kind == "collector") {
        val cat = m.injection.map(_.category)
        if (cat.exists(c => schema.nodes.exists(_.category == c))) Nil
        else Seq(s"$at: collector category ${cat.getOrElse("<none>")} matches no node")
      } else if (!hasNode(schema, m.root)) Seq(s"$at: unknown root '${m.root}'")
      else Nil

    def walkDown(path: Seq[String], what: String): Seq[String] = {
      val labels = m.root +: path
      labels.sliding(2).toSeq.flatMap {
        case Seq(parent, child) =>
          if (!hasNode(schema, child)) Seq(s"$at: $what: unknown node '$child'")
          else if (!hasLink(schema, child, parent))
            Seq(s"$at: $what: no edge $child -> $parent")
          else Nil
        case _ => Nil
      }
    }

    val parents = m.parentProps.flatMap { chain =>
      chain.steps.scanLeft(m.root)((_, s) => s.label).zip(chain.steps)
        .flatMap { case (child, step) =>
          if (!hasNode(schema, step.label))
            Seq(s"$at: parent_props: unknown node '${step.label}'")
          else if (!hasLink(schema, child, step.label))
            Seq(s"$at: parent_props: no edge $child -> ${step.label}")
          else Nil
        }
    }
    val flattens = m.flattenProps.flatMap(f => walkDown(Seq(f.path), "flatten_props"))
    val aggs = m.aggregatedProps.flatMap(a => walkDown(a.path, s"aggregated_props '${a.name}'"))
    def nested(parent: String, nd: NestedDef): Seq[String] = {
      val labels = parent +: nd.path
      val errs = labels.sliding(2).toSeq.flatMap {
        case Seq(p, c) =>
          if (!hasNode(schema, c)) Seq(s"$at: nested_props '${nd.name}': unknown node '$c'")
          else if (!hasLink(schema, c, p))
            Seq(s"$at: nested_props '${nd.name}': no edge $c -> $p")
          else Nil
        case _ => Nil
      }
      errs ++ nd.children.flatMap(nested(labels.last, _))
    }
    val nests = m.nestedProps.flatMap(nested(m.root, _))
    val joins = m.joiningProps.flatMap { j =>
      // resolveMapping also accepts the other index by doc_type
      val other = all.indices.find(_.name == j.otherIndex)
        .orElse(all.indices.find(_.docType == j.otherIndex))
      other match {
        case None =>
          Seq(s"$at: joining_props: unknown index '${j.otherIndex}'")
        case Some(o) =>
          // J4 joins finished document sets on SHARED column names — a
          // join_on column missing from either side's (fully static)
          // output would fail deep in Spark analysis at runtime
          j.joinOn.filterNot(outputColumns(schema, m).contains).map(k =>
            s"$at: joining_props: join_on column '$k' is not in this " +
              "index's output") ++
            j.joinOn.filterNot(outputColumns(schema, o).contains).map(k =>
              s"$at: joining_props: join_on column '$k' is not in index " +
                s"'${o.name}''s output") ++
            j.joinOn.filter(arrayOutNames(schema, m).contains).map(k =>
              s"$at: joining_props: join_on column '$k' is an array in " +
                "this index's output; join on a scalar key")
      }
    }
    // every prop family writes into one flat document namespace — a name
    // claimed twice would silently shadow (ambiguous column at best).
    // Collector injections write into the same namespace, including the
    // auto-injected program_name/project_code (mirrors
    // Translator.translateCollector's autoInj condition).
    val outNames = declaredOutNames(schema, m)
    val collisions = outNames.diff(outNames.distinct).distinct
      .map(n => s"$at: output column '$n' is produced by more than one prop")
    // the fan-out flatten check, statically (Translator also throws at
    // build time for direct use); a mapping may opt out via
    // settings.bypass_multiplicity_check (reference parser.py:374-417)
    val fanout =
      if (m.bypassMultiplicityCheck) Nil
      else m.flattenProps.filter(_.sortedBy.isEmpty).flatMap { f =>
        schema.links.find(l => l.child == f.path && l.parent == m.root).toSeq
          .filter(l => l.multiplicity == "many_to_one" || l.multiplicity == "many_to_many")
          .map(l => s"$at: flatten_props '${f.path}': multiplicity " +
            s"${l.multiplicity} fans out; declare sorted_by")
      }
    // within each nested level, prop names and child-block names share the
    // struct's field namespace — a duplicate would be an ambiguous field
    def nestedCollisions(nd: NestedDef): Seq[String] = {
      val fields = nd.props.map(_.name) ++ nd.children.map(_.name)
      fields.diff(fields.distinct).distinct.map(n =>
        s"$at: nested_props '${nd.name}': field '$n' declared twice at the " +
          "same level") ++ nd.children.flatMap(nestedCollisions)
    }
    val nestedDups = m.nestedProps.flatMap(nestedCollisions)
    root ++ parents ++ flattens ++ aggs ++ nests ++ joins ++ collisions ++
      fanout ++ nestedDups
  }
}
