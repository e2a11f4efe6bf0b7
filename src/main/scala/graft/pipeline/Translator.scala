package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema._
import graft.operators._

/** Where a [[Translator]] reads the graph: one frame per node label and
  * one per edge (child, parent). */
final class GraphSource(
    val nodeDf: String => DataFrame,   // label → node table (has _{label}_id)
    val edgeDf: (String, String) => DataFrame, // (child,parent) → (childId,parentId)
    /** labels whose node table ALREADY carries the parent's `_{parent}_id`
      * column (a foreign key, e.g. relational sources where the edge table is
      * a projection of the child table). The Translator rides these to skip
      * the child ⋈ edge self-join entirely — at scale that removes a full
      * shuffle (or an impossible broadcast) per graph hop. */
    val fkParents: String => Set[String] = _ => Set.empty)

/** The mapping interpreter: turns a declarative `IndexMapping` over a
  * `GraphSchema` into a single lazy DataFrame plan per output document set —
  * the Spark-native replacement for the reference's translator classes
  * (tube/etl/indexers/aggregation/new_translator.py:386-414 and
  * injection/new_translator.py:197-213).
  *
  * Key architectural difference from the reference: the reference
  * materializes parquet checkpoints between phases and hand-merges partial
  * aggregates hop by hop; we emit ONE Catalyst plan per index (parents +
  * flatten + aggregation paths + nested docs all join into the root), so
  * the optimizer sees the whole tree: column pruning reaches every scan,
  * partial aggregation is automatic, AQE re-plans skewed joins. Only
  * [[Translator.runAll]] persists, and only what several indices read:
  * the documents of an index another index consumes through
  * `joining_props` (the reference's phase barrier, interpreter.py:34-62,
  * driven here by a topological order), and the node frame of a root
  * label that two or more aggregator indices share.
  *
  * @param rootBloomPrune opt-in runtime pruning for SELECTIVE mapping
  *        filters: the caller's estimate of how many roots survive the
  *        index filter (sizes the sketch). When set and the filter touches
  *        only root columns, the surviving root ids are sketched ONCE
  *        (`GraphOps.buildBloom` — bits, not rows) and every root-keyed
  *        walk/flatten/agg frame is pruned at its scan, so children of
  *        filtered-out roots never enter any join or aggregation shuffle.
  *        Off by default: the sketch costs one eager root-projection pass
  *        per filtered index, which only pays when the filter is selective
  *        and the fact sides are big (the 100 TB shape; see SCALE.md).
  *
  * Source frames are memoised per instance: each node label and each edge
  * is asked of `source` once, however many indices and walk steps read it,
  * so a text-dump source resolves, lists and parses each dump once per
  * instance instead of once per use site. The memo dies with the instance,
  * so a new instance (each `runAll` builds one) re-reads the source. The
  * memo is also where `runAll` persists its shared roots (`sharedRoots`):
  * each index is its own action, so without it every index would re-scan
  * (and re-parse) the root. */
final class Translator private (schema: GraphSchema, source: GraphSource,
                                rootBloomPrune: Option[Long],
                                sharedRoots: Set[String]) {

  def this(schema: GraphSchema, source: GraphSource,
           rootBloomPrune: Option[Long] = None) =
    this(schema, source, rootBloomPrune, Set.empty)

  private val nodeFrames = scala.collection.mutable.Map[String, DataFrame]()
  private val edgeFrames =
    scala.collection.mutable.Map[(String, String), DataFrame]()

  private def nodeDf(label: String): DataFrame = nodeFrames.synchronized {
    nodeFrames.getOrElseUpdate(label, {
      val df = source.nodeDf(label)
      if (sharedRoots.contains(label)) Translator.persist(df) else df
    })
  }

  private def edgeDf(child: String, parent: String): DataFrame =
    edgeFrames.synchronized {
      edgeFrames.getOrElseUpdate((child, parent), source.edgeDf(child, parent))
    }

  private def idOf(label: String) = schema.idCol(label)

  private def hasFk(child: String, parent: String): Boolean =
    source.fkParents(child).contains(parent)

  /** P1 with bind-time typing (SURVEY §1.2): a prop declared in the graph
    * schema is checked against the table's actual column type — equal
    * passes, widening (or any → string) casts, narrowing fails loudly, and
    * an ABSENT column null-fills at the declared type (the reference builds
    * every frame against the dictionary schema and null-fills missing
    * branches: base/parser.py:309-319, injection/new_translator.py:60-66).
    * Undeclared props pass through untouched — the dynamic-schema escape
    * hatch for tables richer than the dictionary. */
  private def boundProps(label: String, df: DataFrame,
                         props: Seq[PropDef]): Seq[Column] = {
    val declared = schema.node(label).props
    lazy val actual = df.schema.map(f => f.name -> f.dataType).toMap
    props.map { p =>
      declared.get(p.src) match {
        case None => Project.propCol(p)
        case Some(dt) => actual.get(p.src) match {
          case None => lit(null).cast(dt).alias(p.name)
          case Some(a) if a == dt => Project.propCol(p)
          // dictionary "number" (float32) admits any float width: a
          // double-typed source column keeps its wider precision instead
          // of narrowing (text-dump sources parse at the declared float32,
          // so reference-golden parity is unaffected)
          case Some(org.apache.spark.sql.types.DoubleType)
              if dt == org.apache.spark.sql.types.FloatType =>
            Project.propCol(p)
          case Some(a) if dt == org.apache.spark.sql.types.StringType ||
              Types.widest(Seq(a, dt)) == dt =>
            Project.propCol(p, Some(dt))
          case Some(a) => throw new IllegalArgumentException(
            s"prop ${p.src} on $label: table type $a cannot narrow to " +
              s"declared $dt")
        }
      }
    }
  }

  /** Child rows keyed by their parent's id: (parentId, childId, extra...).
    * FK-carrying sources serve this straight off the child node table — no
    * edge self-join, which at 100 TB is the difference between a scan and an
    * extra shuffle per hop. Fallback: edge ⋈ child-by-id. */
  private def childFrame(child: String, parent: String,
                         extra: Seq[Column] = Nil): DataFrame = {
    val cid = idOf(child); val pid = idOf(parent)
    if (hasFk(child, parent))
      nodeDf(child).select((col(pid) +: col(cid) +: extra).distinct: _*)
    else if (extra.isEmpty)
      edgeDf(child, parent).select(col(pid), col(cid))
    else
      edgeDf(child, parent)
        .join(nodeDf(child).select((col(cid) +: extra).distinct: _*),
          Seq(cid))
  }

  /** Phase 0: one document frame per index (no cross-index joins yet). */
  def translate(m: IndexMapping): DataFrame = m.kind match {
    case "collector" => translateCollector(m)
    case _           => translateAggregator(m)
  }

  private def translateAggregator(m: IndexMapping): DataFrame = {
    val rootId = idOf(m.root)
    // FK columns that 1-1 parent chains ride on (zero-cost on FK sources)
    val chainFks = m.parentProps.filter(_.relation == "1-1")
      .map(_.steps.head.label).distinct
      .filter(p => hasFk(m.root, p)).map(idOf)
    // P1/P2: root projection with recode. Root ids are deduped HERE, on the
    // narrow projection, instead of the reference's drop_duplicates on the
    // final wide document (base/translator.py:373) — same semantics (every
    // later join side is unique per root id), a fraction of the shuffle.
    val rootDf = nodeDf(m.root)
    var doc = rootDf
      .select(((col(rootId) +: chainFks.map(col)) ++
        boundProps(m.root, rootDf, m.props)).distinct: _*)
      .dropDuplicates(rootId)
    var helperCols: List[String] = chainFks.toList

    // root-filter bloom pruning (see class doc): the final P5 filter below
    // is UNCHANGED — the bloom's false positives are dropped there, and
    // true survivors always pass (no false negatives), so semantics are
    // identical with pruning on or off
    val prune: DataFrame => DataFrame = (rootBloomPrune, m.filter) match {
      case (Some(n), Some(f))
          if FilterDsl.fields(f).subsetOf(doc.columns.toSet) =>
        val bloom = GraphOps.buildBloom(
          doc.filter(FilterDsl.compile(f)).select(col(rootId)),
          col(rootId), n)
        df => GraphOps.pruneWithBloom(df, col(rootId), bloom)
      case _ => identity
    }

    // J3: parent chains. A declared 1-1 chain needs no aggregation at all:
    // each hop is a left broadcast join up the FK/edge chain (dimension
    // tables are small by construction — they sit ABOVE the root in the
    // graph). Set-relation chains keep the collect_set aggregation.
    m.parentProps.foreach { chain =>
      if (chain.relation == "1-1") {
        val labels = m.root +: chain.steps.map(_.label)
        chain.steps.zipWithIndex.foreach { case (step, i) =>
          val cur = labels(i)
          val pid = idOf(step.label)
          if (!hasFk(cur, step.label)) {
            // edge fallback; dedup childId so a dirty many-edge child can't
            // fan the document out (the reference's `first` picks one row —
            // so do we, arbitrarily, via the narrow edge dedup)
            doc = doc.join(
              edgeDf(cur, step.label)
                .select(col(idOf(cur)), col(pid)).dropDuplicates(idOf(cur)),
              Seq(idOf(cur)), "left_outer")
          }
          if (!helperCols.contains(pid)) helperCols ::= pid
          // the parent view carries the NEXT hop's FK when it can ride along
          val nextFk = chain.steps.lift(i + 1).toSeq
            .filter(n => hasFk(step.label, n.label)).map(n => col(idOf(n.label)))
          val pdf = nodeDf(step.label)
          val pview = pdf.select(
            ((col(pid) +: nextFk) ++ boundProps(step.label, pdf, step.props)).distinct: _*)
          doc = doc.join(broadcast(pview), Seq(pid), "left_outer")
        }
      } else {
        // set-relation chain, walked edge-side like the deep agg paths: the
        // walk STARTS from the root's first-hop child frame (on FK sources a
        // narrow projection of the root table — no edge self-join and no
        // root-table join; the doc's left join below restores chainless
        // roots), each ancestor's props ride a broadcast join (ancestors
        // are small dims — they sit above the root), and ONE
        // groupBy(rootId) collects every prop's sorted set. Fan-out edges
        // (many_to_many hops) just multiply walk rows; collect_set dedups.
        var walked = prune(childFrame(m.root, chain.steps.head.label))
        chain.steps.zipWithIndex.foreach { case (step, i) =>
          chain.steps.lift(i + 1).foreach { next =>
            walked = walked.join(
              childFrame(step.label, next.label),
              Seq(idOf(step.label)), "left_outer")
          }
          val pdf = nodeDf(step.label)
          val pview = pdf.select((col(idOf(step.label)) +:
            boundProps(step.label, pdf, step.props)).distinct: _*)
          walked = walked.join(broadcast(pview), Seq(idOf(step.label)), "left_outer")
        }
        val aggs = chain.steps.flatMap(_.props)
          .map(p => AggExpr.agg("set", col(p.name)).alias(p.name))
        val parentCols = walked.groupBy(col(rootId)).agg(aggs.head, aggs.tail: _*)
        doc = doc.join(parentCols, Seq(rootId), "left_outer")
        // edge-backed sources walk only roots that HAVE edge rows, so a
        // child-less root comes back NULL from the left join, while FK
        // sources (whole-root-table walk) yield an empty set — normalize to
        // the empty array so both source shapes agree
        chain.steps.flatMap(_.props).foreach { p =>
          doc = doc.withColumn(p.name,
            coalesce(col(p.name), array().cast(parentCols.schema(p.name).dataType)))
        }
      }
    }
    if (helperCols.nonEmpty) doc = doc.drop(helperCols: _*)

    // A3 plain flatten (no sorted_by). Reference parity: a child whose link
    // multiplicity fans out (one root ↔ many child rows) can only flatten
    // 1:1 when `sorted_by` picks a single row — otherwise reject, like the
    // reference's multiplicity check (aggregation/parser.py:374-417),
    // instead of silently keeping an arbitrary row.
    val (sortedFl, plainFl) = m.flattenProps.partition(_.sortedBy.isDefined)
    plainFl.foreach { f =>
      val mult = schema.linksOf(f.path, m.root).multiplicity
      if ((mult == "many_to_one" || mult == "many_to_many") &&
          !m.bypassMultiplicityCheck)
        throw new IllegalArgumentException(
          s"flatten_props ${f.path} on ${m.name}: multiplicity $mult fans " +
            "out; declare sorted_by (or model it as aggregated/nested " +
            "props, or opt out via settings.bypass_multiplicity_check — " +
            "an arbitrary child row then survives per root)")
      val top = prune(childFrame(f.path, m.root,
          boundProps(f.path, nodeDf(f.path), f.props)))
        .drop(idOf(f.path)).dropDuplicates(rootId)
      doc = doc.join(top, Seq(rootId), "left_outer")
    }

    // A4 + depth-1 A2, merged: every sorted_by flatten and every one-hop
    // aggregation over the SAME child label share ONE groupBy — one scan of
    // the child, one shuffle, instead of a subplan (and an extra join) each.
    val aggsByPath = m.aggregatedProps.groupBy(_.path)
    val d1Labels = (sortedFl.map(_.path) ++
      m.aggregatedProps.collect { case d if d.path.length == 1 => d.path.head }).distinct
    d1Labels.foreach { label =>
      val fls = sortedFl.filter(_.path == label)
      val ads = aggsByPath.getOrElse(Seq(label), Nil)
      val childId = idOf(label)
      val extra = (fls.flatMap(f => col(f.sortedBy.get._1) +:
        boundProps(label, nodeDf(label), f.props)) ++
        ads.flatMap(_.src).map(col))
        .groupBy(_.toString).map(_._2.head).toSeq
      val cv = prune(childFrame(label, m.root, extra))
      val aggCols = fls.zipWithIndex.map { case (f, i) =>
        val (sc, desc) = f.sortedBy.get
        val packed = struct(f.props.map(p => col(p.name)): _*)
        (if (desc) max_by(packed, col(sc)) else min_by(packed, col(sc)))
          .alias(s"_top_$i")
      } ++ ads.map { d =>
        (d.name, aggFnOf(d), d.src.map(col).getOrElse(col(childId)))
      }.map { case (n, fn, c) => AggExpr.agg(fn, c).alias(n) }
      val grouped = cv.groupBy(col(rootId)).agg(aggCols.head, aggCols.tail: _*)
      val out = grouped.select(col(rootId) +:
        (fls.zipWithIndex.flatMap { case (f, i) =>
          f.props.map(p => col(s"_top_$i").getField(p.name).alias(p.name))
        } ++ ads.map(d => col(d.name))): _*)
      doc = doc.join(out, Seq(rootId), "left_outer")
      ads.foreach { d =>
        doc = doc.withColumn(d.name, AggExpr.zeroFill(d.fn, col(d.name)))
      }
    }

    // A2 deep paths (≥ 2 hops): walk child frames from the edge side — the
    // root table never enters the subplan (the document's left join + zero-
    // fill below restores childless roots), and leaf props ride the last
    // hop's child frame instead of a leaf-id self-join.
    aggsByPath.filter(_._1.length >= 2).foreach { case (path, defs) =>
      val leafLabel = path.last
      val leafExtra = defs.flatMap(_.src).distinct.map(col)
      var walked = prune(childFrame(path.head, m.root))
      path.sliding(2).foreach { case Seq(p, c) =>
        val frame = childFrame(c, p, if (c == leafLabel) leafExtra else Nil)
        walked = walked.join(frame, Seq(idOf(p)), "inner")
      }
      val aggs = defs.map { d =>
        (d.name, aggFnOf(d), d.src.map(col).getOrElse(col(idOf(leafLabel))))
      }
      val agged = GraphOps.aggRollup(walked, rootId, aggs)
      doc = doc.join(agged, Seq(rootId), "left_outer")
      defs.foreach { d =>
        doc = doc.withColumn(d.name, AggExpr.zeroFill(d.fn, col(d.name)))
      }
    }

    // A5: nested documents (recursive arrays of structs)
    m.nestedProps.foreach { nd =>
      val nested = buildNested(m.root, nd, prune)
      doc = doc.join(nested, Seq(rootId), "left_outer")
    }

    // P5: mapping-level filter
    m.filter.foreach(f => doc = doc.filter(FilterDsl.compile(f)))
    doc
  }

  /** src-less count = per-path descendant count, dedup-by-id so multi-path
    * graphs and duplicate leaf rows don't double-count (SURVEY §7.4). */
  private def aggFnOf(d: AggregatedPropDef): String =
    if (d.fn == "count" && d.src.isEmpty) "countd" else d.fn

  /** A5 recursion: leaf-first collect_list(struct(...)). `prune` (root
    * bloom, identity when off) applies once at the top level, right before
    * the per-root nest shuffle — sub-levels are keyed by intermediate ids
    * the root sketch cannot probe. */
  private def buildNested(parentLabel: String, nd: NestedDef,
                          prune: DataFrame => DataFrame = identity)
      : DataFrame = {
    // walk multi-hop path: intermediate edges only, last label is the node
    val labels = parentLabel +: nd.path
    val nodeLabel = labels.last
    val nodeId = idOf(nodeLabel)
    // the node's own FK toward its immediate parent rides the projection,
    // skipping that hop's edge join on FK sources
    val nearParent = labels(labels.length - 2)
    val fkCol = if (hasFk(nodeLabel, nearParent)) Seq(col(idOf(nearParent))) else Nil
    var child = nodeDf(nodeLabel)
      .select(((col(nodeId) +: fkCol) ++
        boundProps(nodeLabel, nodeDf(nodeLabel), nd.props)).distinct: _*)
    nd.filter.foreach(f => child = child.filter(FilterDsl.compile(f)))
    // attach grandchildren nested blocks first (leaf-first recursion)
    nd.children.foreach { sub =>
      child = child.join(buildNested(nodeLabel, sub), Seq(nodeId), "left_outer")
    }
    // join edges upward to the parent id
    val joined = labels.sliding(2).toSeq.reverse.foldLeft(child) {
      case (acc, Seq(parent, ch)) =>
        if (ch == nodeLabel && hasFk(ch, parent)) acc // FK already on frame
        else acc.join(edgeDf(ch, parent), Seq(idOf(ch)), "inner")
    }
    // struct fields: declared props + child nested blocks + the node's id —
    // intermediate hop ids stay out of the document
    val structCols = (nd.props.map(_.name) ++ nd.children.map(_.name))
      .map(col) :+ col(idOf(nodeLabel))
    GraphOps.nest(prune(joined), idOf(parentLabel), structCols, nd.name)
  }

  private def translateCollector(m: IndexMapping): DataFrame = {
    val inj = m.injection.getOrElse(
      throw new IllegalArgumentException(s"collector ${m.name} missing injection"))
    // reference parity: collectors ALWAYS collect program.name and
    // project.code (auto-added when absent from injecting_props) and
    // synthesize project_id from them — injection/parser.py:136-173,
    // injection/new_translator.py:112-127
    val autoInj = Translator.autoInjections(schema)
    val injProps: Map[String, Seq[PropDef]] =
      autoInj.foldLeft(inj.injectingProps) { case (acc, (label, p)) =>
        val existing = acc.getOrElse(label, Nil)
        if (existing.exists(_.name == p.name)) acc
        else acc + (label -> (existing :+ p))
      }.map { case (anc, ps) =>
        anc -> ps.map { p0 =>
          // `src: id` injects the ancestor's node id (reference
          // get_prop_type, base/parser.py:216-222)
          val p = if (p0.src == "id") p0.copy(src = idOf(anc)) else p0
          // build under an internal alias: an injected prop may be NAMED
          // like a hop id column (`_case_id` from src:id) — the walk joins
          // would collide; final names return after the hop ids drop
          p.copy(name = "__inj_" + p.name)
        }
      }
    // the source_node tag is synthesized below, never read from a table
    val leafProps = m.props.filterNot(_.src == "source_node")
    // union-wide type per prop src, for null-filling leaves that don't
    // declare it (reference null-fills missing branches —
    // injection/new_translator.py:60-66)
    val leafLabelsAll = schema.nodes.filter(_.category == inj.category).map(_.label)
    def unionType(src: String) =
      Types.widest(leafLabelsAll.flatMap(l => schema.node(l).props.get(src)))
    // leaves = nodes of the target category; walk each leaf's ancestors to
    // collect injected props, then union
    val leaves = leafLabelsAll.map { leaf =>
      val leafId = idOf(leaf)
      // EVERY simple path up to the ancestor contributes to the injected
      // set — a dataset may populate any subset of the structural routes
      // (e.g. ibdgc files reach project both via core_metadata_collection
      // and via the read_group→…→center chain, and only one has rows).
      // The reference merges contributions from its whole collecting tree
      // the same way (injection/new_translator.py:72-110 full_outer
      // merges).
      val paths = injProps.toSeq.flatMap { case (anc, props) =>
        val pls = schema.ancestorPaths(leaf, anc)
        if (pls.isEmpty) Nil else Seq((anc, props, pls))
      }
      def singleHops(pl: Seq[String]): Boolean = pl.sliding(2).forall {
        case Seq(c, p) =>
          val mult = schema.linksOf(c, p).multiplicity
          mult == "many_to_one" || mult == "one_to_one"
        case _ => true
      }
      // FK columns that single-parent walks ride on (zero-cost projection)
      val fkFirst = paths.collect {
        case (_, _, Seq(pl)) if singleHops(pl) && pl.length > 1 && hasFk(leaf, pl(1)) =>
          idOf(pl(1))
      }.distinct
      val leafDf = nodeDf(leaf)
      val have = leafDf.columns.toSet ++ schema.node(leaf).props.keySet
      val (present, absent) = leafProps.partition(p => have.contains(p.src))
      var df = leafDf
        .select(((col(leafId) +: fkFirst.map(col)) ++
          boundProps(leaf, leafDf, present)).distinct: _*)
        .withColumn("source_node", lit(leaf))
      absent.foreach(p =>
        df = df.withColumn(p.name, lit(null).cast(unionType(p.src))))
      var dropCols: List[String] = fkFirst.toList
      paths.foreach { case (ancestorLabel, props, pls) =>
        val ancId = idOf(ancestorLabel)
        val ancDf = nodeDf(ancestorLabel)
        val anc = ancDf.select(
          col(ancId) +: boundProps(ancestorLabel, ancDf, props): _*)
        if (pls.length == 1 && singleHops(pls.head)) {
          // sole path, every hop at most one parent: the injected "set" is
          // a 0/1-element array, so skip the groupBy + join-back entirely —
          // walk up with left broadcast joins and wrap the prop per row
          pls.head.sliding(2).foreach { case Seq(c, p) =>
            val pid = idOf(p)
            // hop may already be walked: leaf FK rode the projection, or a
            // previous ancestor's chain shares this path prefix
            if (!df.columns.contains(pid))
              df = df.join(
                edgeDf(c, p).select(col(idOf(c)), col(pid))
                  .dropDuplicates(idOf(c)),
                Seq(idOf(c)), "left_outer")
            if (!dropCols.contains(pid)) dropCols ::= pid
          }
          df = df.join(broadcast(anc), Seq(ancId), "left_outer")
          props.foreach { p =>
            // set-injection of an ARRAY prop flattens to its distinct
            // elements (Types.aggResultType contract; matches the
            // reference goldens) — scalars wrap into a 0/1-element array
            df = df.withColumn(p.name, anc.schema(p.name).dataType match {
              case at: org.apache.spark.sql.types.ArrayType =>
                coalesce(array_sort(array_distinct(col(p.name))),
                  array().cast(at))
              case _ =>
                when(col(p.name).isNotNull, array(col(p.name))).otherwise(array())
            })
          }
        } else {
          // several routes and/or fan-out hops: walk each path to
          // (leafId, ancestorId), union the reachable ancestor instances,
          // and aggregate ONE set per leaf across all of them
          val reached = pls.map { pl =>
            pl.sliding(2).foldLeft(nodeDf(leaf).select(col(leafId))) {
              case (acc, Seq(child, parent)) =>
                acc.join(edgeDf(child, parent).select(
                  col(idOf(child)), col(idOf(parent))), Seq(idOf(child)), "left_outer")
            }.select(col(leafId), col(ancId))
          }.reduce(_ union _)
          val withProps = reached.join(anc, Seq(ancId), "left_outer")
          val aggs = props.map { p =>
            (anc.schema(p.name).dataType match {
              // array props flatten into one distinct element set
              case _: org.apache.spark.sql.types.ArrayType =>
                sort_array(array_distinct(flatten(collect_list(col(p.name)))))
              case _ => AggExpr.agg("set", col(p.name))
            }).alias(p.name)
          }
          val per = withProps.groupBy(col(leafId)).agg(aggs.head, aggs.tail: _*)
          df = df.join(per, Seq(leafId), "left_outer")
          // union of left-joined walks keeps every leaf, so the set agg
          // turns all-null reaches into empty arrays — same zero semantics
          // as the single-path branch
        }
      }
      if (dropCols.nonEmpty) df = df.drop(dropCols: _*)
      // internal injected aliases → declared names, now that hop ids are gone
      df = injProps.values.flatten.foldLeft(df)((d, p) =>
        d.withColumnRenamed(p.name, p.name.stripPrefix("__inj_")))
      // doc key carries the doc_type name, like the reference's
      // get_node_id_name(doc_type) (utils/general.py:57-58)
      df.withColumnRenamed(leafId, idOf(m.docType))
    }
    val unioned = GraphOps.unionLeaves(leaves)
    // project_id = {program_name}-{project_code}, from the (0/1-element on
    // tree graphs) auto-collected sets; leaves with no program/project
    // ancestry keep a null project_id
    if (autoInj.length == 2 && !unioned.columns.contains("project_id"))
      unioned.withColumn("project_id",
        when(size(col("program_name")) > 0 && size(col("project_code")) > 0,
          concat_ws("-", element_at(col("program_name"), 1),
            element_at(col("project_code"), 1))))
    else unioned
  }
}

object Translator {

  /** The (ancestor label, prop) pairs every collector injects besides its
    * declared ones: program.name as `program_name` and project.code as
    * `project_code`. Only on Gen3-shaped graphs: the node must exist AND
    * declare the source prop (a non-Gen3 graph with an unrelated
    * `project` label must not be forced into the convention). */
  private[pipeline] def autoInjections(
      schema: GraphSchema): Seq[(String, PropDef)] = Seq(
    "program" -> PropDef("program_name", "name"),
    "project" -> PropDef("project_code", "code")
  ).filter { case (l, p) =>
    schema.nodes.exists(n => n.label == l && n.props.contains(p.src))
  }

  /** The frames the last [[runAll]] persisted. They stay cached while
    * that run's documents (lazy, reading them) are published, and are
    * released when the next `runAll` starts: a table re-read from the
    * same path plan-matches a persisted frame, so a second run over
    * rewritten dumps would otherwise be served the first run's rows. */
  private val persisted = scala.collection.mutable.ArrayBuffer[DataFrame]()

  private def persist(df: DataFrame): DataFrame = persisted.synchronized {
    persisted += df
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def releasePersisted(): Unit = persisted.synchronized {
    persisted.filterNot(_.sparkSession.sparkContext.isStopped)
      .foreach(_.unpersist())
    persisted.clear()
  }

  /** Phase 1+2 driver: run all indices, then resolve `joining_props` in
    * topological order (producer indices first — reference
    * interpreter.py:34-62). Persists only what another index reads: the
    * documents of `joining_props` producers and the node frames of roots
    * shared by several aggregator indices (see the class doc).
    * `rootBloomPrune` passes through to every per-index [[Translator]]
    * (see the class doc — opt-in walk pruning for selective root
    * filters). */
  def runAll(schema: GraphSchema, source: GraphSource,
             mapping: EtlMapping,
             rootBloomPrune: Option[Long] = None): Map[String, DataFrame] = {
    MappingValidator.validateOrThrow(schema, mapping)
    releasePersisted()
    // shared roots: the first index materializes the scan, the rest read
    // cached COLUMNAR batches (InMemoryTableScan still prunes columns per
    // consumer, so a narrow index doesn't pay for a wide sibling)
    val sharedRoots = mapping.indices.filterNot(_.kind == "collector")
      .map(_.root).groupBy(identity).collect {
        case (label, uses) if uses.size >= 2 => label
      }.toSet
    val t = new Translator(schema, source, rootBloomPrune, sharedRoots)
    val base: Map[String, DataFrame] =
      mapping.indices.map(m => m.name -> t.translate(m)).toMap
    val consumed = mapping.indices.flatMap(_.joiningProps.map(_.otherIndex)).toSet
    val cached = base.map { case (n, df) =>
      n -> (if (consumed.contains(n)) persist(df) else df)
    }
    // topo order: indices with no joining deps first; cycles rejected
    val order = topoOrder(mapping)
    order.foldLeft(cached) { (acc, m) =>
      if (m.joiningProps.isEmpty) acc
      else {
        val joined = m.joiningProps.foldLeft(acc(m.name)) { (doc, j) =>
          GraphOps.indexJoin(doc, acc(j.otherIndex), j.joinOn,
            j.props.map(p => (p, p.fn)))
        }
        acc + (m.name -> joined)
      }
    }
  }

  private def topoOrder(mapping: EtlMapping): Seq[IndexMapping] = {
    val byName = mapping.indices.map(m => m.name -> m).toMap
    val visited = scala.collection.mutable.LinkedHashSet[String]()
    val inStack = scala.collection.mutable.Set[String]()
    def visit(n: String): Unit = {
      if (visited.contains(n)) return
      if (!inStack.add(n))
        throw new IllegalArgumentException(s"joining_props cycle at $n")
      byName.get(n).toSeq.flatMap(_.joiningProps).foreach(j => visit(j.otherIndex))
      inStack -= n
      visited += n
    }
    mapping.indices.foreach(m => visit(m.name))
    visited.toSeq.flatMap(byName.get)
  }
}
