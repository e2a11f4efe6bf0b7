package graft.pipeline

import graft.schema._

/** CDC-style per-index dependency analysis (beyond-parity): which source
  * tables feed each index, so an incremental run can re-translate ONLY the
  * indices whose inputs changed since their last publish. The reference's
  * `check_to_run_etl` gate (timestamp.py:71-79) is global — one source
  * transaction re-runs EVERY index; at 100 TB with many indices per
  * dictionary, re-translating an untouched index is the dominant wasted
  * cost, and table-level change times are exactly what a CDC feed (or dump
  * directory mtimes) provides.
  *
  * Correctness stance: the analysis must never be stale — every table an
  * index's translation reads is in its set (MappingDepsSpec records the
  * Translator's reads to hold this), and an unmatched table yields `None`,
  * which the gate treats as "run".
  */
object MappingDeps {

  /** Node labels an index reads, post-`resolveMapping` (paths are label
    * sequences by then), plus (transitively) everything its
    * `joining_props` producer indices read. An aggregator reads its root
    * and every parent-chain / flatten / aggregation / nested path step.
    * A collector reads the leaves of its category and every label on
    * every ancestor path from a leaf to an injected label — the declared
    * ones and the Gen3 program/project auto-injections — exactly the
    * walks `Translator.translateCollector` makes. */
  def nodeLabels(schema: GraphSchema, mapping: EtlMapping,
                 m: IndexMapping, seen: Set[String] = Set.empty): Set[String] = {
    def nested(nd: NestedDef): Seq[String] =
      nd.path ++ nd.children.flatMap(nested)
    def collected(inj: InjectionDef): Seq[String] = {
      val leaves = schema.nodes.filter(_.category == inj.category)
        .map(_.label)
      val injected = inj.injectingProps.keySet ++
        Translator.autoInjections(schema).map(_._1)
      leaves ++ (for {
        leaf <- leaves
        anc <- injected
        path <- schema.ancestorPaths(leaf, anc)
      } yield path).flatten
    }
    // a collector with no injection fails to translate; its empty set
    // keeps it on the gate's always-run path
    val own: Set[String] =
      if (m.kind == "collector") m.injection.toSeq.flatMap(collected).toSet
      else Set(m.root) ++
        m.parentProps.flatMap(_.steps.map(_.label)) ++
        m.flattenProps.map(_.path) ++
        m.aggregatedProps.flatMap(_.path) ++
        m.nestedProps.flatMap(nested)
    val joined = m.joiningProps.flatMap { j =>
      if (seen(j.otherIndex)) Nil
      else mapping.indices.find(_.name == j.otherIndex).toSeq.flatMap(o =>
        nodeLabels(schema, mapping, o, seen + m.name + j.otherIndex))
    }
    own ++ joined
  }

  /** Source table names (dump directory names) an index depends on: one
    * node table per dependency label plus every edge table BOTH of whose
    * endpoints are dependency labels (every walked hop has both ends in
    * the label closure, so this covers all traversed edges). */
  def tables(schema: GraphSchema, mapping: EtlMapping,
             m: IndexMapping): Set[String] = {
    val labels = nodeLabels(schema, mapping, m)
    val nodeTables = labels.map(l => s"node_${schema.node(l).tableName}")
    val edgeTables = schema.links.collect {
      case l if labels(l.child) && labels(l.parent) => l.edgeTable
    }
    nodeTables ++ edgeTables.toSet
  }

  /** Reserved signal-map key for "the configuration itself changed"
    * (dictionary / mapping files): its time participates in every index's
    * gate that has at least one real table signal, because a config change
    * can alter any index's output. Callers populate it in THEIR time
    * domain (file mtimes, CDC feed times). An index with NO table signal
    * at all stays on the always-run path regardless — see
    * [[latestTxMillis]]. */
  val ConfigKey = "__config__"

  /** Latest change time over an index's tables, from a per-table signal
    * map. `None` when NO dependency table has a signal — the gate treats
    * that as "run" (safe: absence of evidence is not evidence of
    * freshness), and [[ConfigKey]] deliberately cannot substitute for a
    * table signal — it only RAISES one (a config mtime standing in for a
    * vanished/misnamed dump dir would silently gate the index out
    * forever). A table missing from the map individually does not force a
    * run: for a never-dumped (empty) table that is correct (nothing to
    * change), but a DELETED dump dir is indistinguishable from one — so a
    * partial deletion with untouched siblings and config is invisible to
    * this gate and needs a config touch or --force (documented at the
    * RunEtl call site). */
  def latestTxMillis(tables: Set[String],
                     perTable: Map[String, Long]): Option[Long] = {
    val hits = tables.flatMap(perTable.get)
    if (hits.isEmpty) None
    else Some((hits ++ perTable.get(ConfigKey)).max)
  }

  /** Per-table change signal from a dump directory: table name (= subdir
    * name) → newest file mtime underneath it. The file-dump deployment's
    * CDC feed; JDBC-fed deployments can pass per-table transaction times
    * instead — the gate only sees the map. Driver-side, one listing.
    *
    * Resolves through the Hadoop FileSystem so the dumps dir can live on
    * hdfs:// / s3a:// — the same schemes the translate stage reads it
    * from (`spark.read`); a java.io.File listing would silently return
    * the empty map for any non-local scheme, disabling per-table CDC. */
  def dumpTableTimes(dumpsDir: String,
                     hadoopConf: org.apache.hadoop.conf.Configuration =
                       new org.apache.hadoop.conf.Configuration())
      : Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(dumpsDir)
    val fs = root.getFileSystem(hadoopConf)
    def newest(p: org.apache.hadoop.fs.Path): Long = {
      val st = fs.getFileStatus(p)
      val children =
        if (st.isDirectory) fs.listStatus(p).map(s => newest(s.getPath))
        else Array.empty[Long]
      (st.getModificationTime +: children).max
    }
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root)
      .filter(_.isDirectory)
      .map(d => d.getPath.getName -> newest(d.getPath))
      .toMap
  }

  /** The set of indices that must be TRANSLATED so `names` can publish:
    * `names` plus, transitively, every `joining_props` producer (a consumer
    * joins against the producer's freshly-translated docs, not its sink). */
  def producerClosure(mapping: EtlMapping, names: Set[String]): Set[String] = {
    val byName = mapping.indices.map(i => i.name -> i).toMap
    var acc = names
    var grew = true
    while (grew) {
      val next = acc ++ acc.flatMap(n =>
        byName.get(n).toSeq.flatMap(_.joiningProps.map(_.otherIndex)))
      grew = next.size > acc.size
      acc = next
    }
    acc
  }
}
