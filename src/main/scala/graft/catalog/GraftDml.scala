package graft.catalog

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}

import graft.read.MorReader

/** Unwrap a (possibly aliased) DSv2 relation over a graft table. */
private[catalog] object GraftRel {
  def unapply(p: LogicalPlan): Option[(DataSourceV2Relation, GraftSparkTable)] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftSparkTable => Some((r, t))
        case _ => None
      }
      case SubqueryAlias(_, child) => unapply(child)
      case _ => None
    }
}

// ---- logical commands (analysis output; executed eagerly) ---------------

/** `DELETE FROM graft.db.t WHERE cond` → the engine's delete primitives:
  * a single-column range/equality condition takes [[graft.table
  * .GraftTableGenerator.deleteWhere]] (metadata-tier file drops + scans
  * only overlapping files); anything else is a positional delete (scan
  * matches once, write tombstones/vectors — O(matches), no rewrite).
  * `cond` is a THUNK: `IN (<subquery>)` conditions materialize their
  * subquery to a bounded literal set when the command EXECUTES, not while
  * the analyzer is still resolving the statement. */
case class GraftDeleteCommand(
    table: GraftSparkTable,
    cond: () => Column,
    range: Option[(String, Any, Any)],
    prune: (Map[String, Set[String]], Map[String, MorReader.ColRange],
      Map[String, Set[String]]) =
      (Map.empty, Map.empty, Map.empty)) extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** `DELETE FROM graft.db.t WHERE [NOT] EXISTS (<key-equality subquery>)`
  * → the engine's semi/anti-join delete primitives, which JOIN at scale
  * instead of materializing a literal set (the IN-subquery path's bound):
  * EXISTS writes one equality-delete file straight off the subquery's
  * distinct keys ([[graft.table.GraftTableGenerator.deleteKeys]] — zero
  * target scans); NOT EXISTS anti-joins the target's key projection
  * ([[graft.table.GraftTableGenerator.deleteKeysAnti]]). `source` is the
  * DECORRELATED subquery plan projecting the inner key columns under the
  * target's key names. */
case class GraftDeleteJoinCommand(
    table: GraftSparkTable,
    source: LogicalPlan,
    keyCols: Seq[String],
    anti: Boolean,
    // correlated NON-EQUALITY conjuncts from inside the EXISTS, rendered
    // over target plain names + `_s_`-prefixed source names: routes the
    // delete through the engine's residual-aware semi/anti join instead
    // of the eq-delete fast path
    joinResidual: Option[Column] = None,
    // target-only conjuncts OUTSIDE the EXISTS (scan filter)
    scanFilter: Option[Column] = None,
    // `k NOT IN (<subquery>)` three-valued logic (differs from NOT
    // EXISTS): any NULL in the subquery → the predicate is never TRUE,
    // nothing deletes; empty subquery → EVERY row (null keys included)
    // deletes; otherwise anti-join with null-key target rows SURVIVING
    notIn: Boolean = false) extends UnaryNode with Command {
  override def child: LogicalPlan = source
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftDeleteJoinCommand =
    copy(source = newChild)
}

/** `UPDATE t SET … WHERE [NOT] EXISTS (… s.k = t.k AND <band>)` with a
  * correlated NON-EQUALITY conjunct — routed to the engine's
  * residual-aware semi/anti-join update ([[graft.table
  * .GraftTableGenerator.updateSemiJoin]]): EXISTS semantics, so several
  * source rows witnessing one target row is fine (no MERGE cardinality
  * rule). `sets` are expressions over TARGET columns (plain names);
  * `joinResidual`/`scanFilter` render exactly as in
  * [[GraftDeleteJoinCommand]]. */
case class GraftUpdateJoinCommand(
    table: GraftSparkTable,
    source: LogicalPlan,
    keyCols: Seq[String],
    anti: Boolean,
    sets: Seq[(String, Column)],
    joinResidual: Option[Column] = None,
    scanFilter: Option[Column] = None,
    // `k NOT IN (<subquery>)` three-valued logic — same contract as
    // [[GraftDeleteJoinCommand.notIn]] but rows update instead of dying
    notIn: Boolean = false) extends UnaryNode with Command {
  override def child: LogicalPlan = source
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftUpdateJoinCommand =
    copy(source = newChild)
}

/** Shared resolution of a multipart SQL name against the session's
  * catalog manager: Some((catalog, ident)) when it lands in a graft
  * catalog (explicit `graft.db.x`, or relative under a current graft
  * catalog), None otherwise. */
object GraftViews {
  def target(spark: SparkSession, parts: Seq[String])
      : Option[(GraftCatalog, org.apache.spark.sql.connector.catalog.Identifier)] = {
    if (parts.isEmpty) return None
    val cm = spark.sessionState.catalogManager
    val (cat, rest) =
      if (parts.length > 1 && cm.isCatalogRegistered(parts.head))
        (cm.catalog(parts.head), parts.tail)
      else (cm.currentCatalog, parts)
    cat match {
      case g: GraftCatalog if rest.nonEmpty =>
        val ns = if (rest.length > 1) rest.init.toArray else cm.currentNamespace
        Some((g, org.apache.spark.sql.connector.catalog.Identifier.of(ns, rest.last)))
      case _ => None
    }
  }

  /** Resolve a NAMESPACE reference (`SHOW VIEWS IN graft.db`) against the
    * catalog manager; Some only when it lands in a graft catalog. */
  def namespace(spark: SparkSession, parts: Seq[String])
      : Option[(GraftCatalog, Seq[String])] = {
    val cm = spark.sessionState.catalogManager
    val (cat, ns) =
      if (parts.nonEmpty && cm.isCatalogRegistered(parts.head))
        (cm.catalog(parts.head), parts.tail)
      else (cm.currentCatalog,
        if (parts.isEmpty) cm.currentNamespace.toSeq else parts)
    cat match {
      case g: GraftCatalog => Some((g, ns))
      case _ => None
    }
  }
}

/** `CREATE [OR REPLACE] VIEW graft.db.v AS <sql>` for a graft catalog —
  * intercepted by [[GraftCatalogRule]] (vanilla Spark 4.1 plans CREATE
  * VIEW only for the session catalog) and persisted through the DSv2
  * [[GraftCatalog]] ViewCatalog surface. The body analyzes at execution
  * (schema + validity); recursive self-reference is rejected, since a
  * read of such a view would never converge. */
case class GraftCreateViewCommand(
    catalog: GraftCatalog,
    ident: org.apache.spark.sql.connector.catalog.Identifier,
    sql: String,
    currentCatalog: String,
    currentNamespace: Array[String],
    columnAliases: Seq[String],
    allowExisting: Boolean,
    replace: Boolean,
    properties: Map[String, String],
    mustExist: Boolean = false) extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

case class GraftDropViewCommand(
    catalog: GraftCatalog,
    ident: org.apache.spark.sql.connector.catalog.Identifier,
    ifExists: Boolean) extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** `ALTER VIEW graft.db.v SET/UNSET TBLPROPERTIES` — applied through the
  * ViewCatalog's alterView onto the persisted view document. */
case class GraftAlterViewPropsCommand(
    catalog: GraftCatalog,
    ident: org.apache.spark.sql.connector.catalog.Identifier,
    sets: Seq[(String, String)],
    unsets: Seq[String],
    unsetIfExists: Boolean = true) extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** `ALTER VIEW graft.db.v RENAME TO db.v2` within one graft catalog. */
case class GraftRenameViewCommand(
    catalog: GraftCatalog,
    from: org.apache.spark.sql.connector.catalog.Identifier,
    to: org.apache.spark.sql.connector.catalog.Identifier)
  extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** `ALTER TABLE t ADD/DROP/REPLACE PARTITION FIELD <transform>` — the
  * Iceberg SQL-extension partition-evolution DDL, recognized by the
  * injected [[graft.plans.GraftSqlParser]] and executed through the same
  * engine path as `CALL graft.system.update_spec` (later appends use the
  * new spec; existing files keep their layout). Name resolution happens
  * at EXECUTION against the session's catalog manager — the leading name
  * part is a catalog when one is registered under it, else the current
  * catalog + namespace apply. */
case class GraftUpdateSpecDdl(
    nameParts: Seq[String],
    add: Seq[String],
    drop: Seq[String]) extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** `ALTER TABLE t WRITE ORDERED BY c1, c2 | WRITE UNORDERED` — the
  * Iceberg write-order DDL, lowered by the injected parser onto the
  * engine's [[graft.table.GraftTableGenerator.writeOrdered]] (persisted
  * declared order; later INSERTs lay rows out sorted so per-file
  * envelopes are disjoint from the first write). Empty `cols` clears. */
case class GraftWriteOrderDdl(nameParts: Seq[String], cols: Seq[String])
    extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** `ALTER TABLE t CREATE|DROP BRANCH|TAG name [IF [NOT] EXISTS]
  * [AS OF VERSION v]` — Iceberg's ref DDL, lowered by the injected parser
  * onto the engine's branch/tag lifecycle (the same verbs
  * `CALL graft.system.create_branch/create_tag/...` expose). */
case class GraftRefDdl(nameParts: Seq[String], create: Boolean,
                       isBranch: Boolean, refName: String,
                       ifClause: Boolean, asOfVersion: Option[Long],
                       replace: Boolean = false)
    extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** `UPDATE graft.db.t SET ... WHERE cond` → delete-the-old + append-the-new
  * composed in ONE transaction (positional delete at seq s, append at
  * s+1 — MoR semantics, no data file rewritten, O(matches) write cost). */
case class GraftUpdateCommand(
    table: GraftSparkTable,
    // deferred: scalar-subquery assignments run their (bounded) subquery
    // at EXECUTE time, not while the analyzer rule builds the command
    sets: Seq[(String, () => Column)],
    cond: () => Column,
    prune: (Map[String, Set[String]], Map[String, MorReader.ColRange],
      Map[String, Set[String]]) =
      (Map.empty, Map.empty, Map.empty)) extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** `MERGE INTO graft.db.t USING src ON t.k = s.k WHEN ...` → the engine's
  * [[graft.table.GraftTableGenerator.mergeInto]] (file-pruned target read,
  * one source join, eq-delete + append — O(source) write cost). The
  * supported clause shape mirrors mergeInto's contract: equality key join,
  * UPDATE SET * / DELETE / INSERT * actions with optional conditions.
  * `source` is a CHILD (kept analyzed; executed as a DataFrame at run). */
case class GraftMergeCommand(
    table: GraftSparkTable,
    source: LogicalPlan,
    keyCols: Seq[String],
    updateWhen: Column,
    deleteWhen: Column,
    insertWhen: Column,
    nmbsUpdateWhen: Option[Column] = None,
    nmbsDeleteWhen: Option[Column] = None,
    nmbsSets: Seq[(String, Column)] = Nil,
    updateSets: Option[Seq[(String, Column)]] = None,
    insertSets: Option[Seq[(String, Column)]] = None,
    onResidual: Option[Column] = None,
    // deferred twins of updateSets/insertSets: assignments carrying an
    // UNCORRELATED scalar subquery materialize it at EXECUTE time (one
    // bounded collect, loud >1 row) — never while the analyzer rule
    // builds the command (an EXPLAIN must not run jobs; same discipline
    // as GraftUpdateCommand's deferred sets). When present they win over
    // the eager fields.
    updateSetsDeferred: Option[() => Option[Seq[(String, Column)]]] = None,
    insertSetsDeferred: Option[() => Option[Seq[(String, Column)]]] = None)
  extends UnaryNode with Command {
  override def child: LogicalPlan = source
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftMergeCommand =
    copy(source = newChild)
}

// ---- physical execution --------------------------------------------------

/** Driver-side DML runner: the body stages through the generator API and
  * commits one snapshot; row work happens in the Spark jobs those calls
  * launch, never here. */
case class GraftDmlExec(label: String, body: () => Unit) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override protected def doExecute(): RDD[InternalRow] = {
    body()
    sparkContext.emptyRDD
  }
}

/** `SHOW VIEWS [IN graft.db] [LIKE 'pat']` — the warehouse listing runs
  * at EXECUTION time (a cached/reused plan re-lists), with the LIKE
  * pattern treated as Spark's filter-pattern language, not raw regex:
  * `*` is a wildcard, `|` separates alternatives, everything else —
  * including regex metacharacters — matches literally. */
case class GraftShowViewsCommand(catalog: GraftCatalog, ns: Seq[String],
                                 pattern: Option[String],
                                 override val output: Seq[Attribute])
    extends org.apache.spark.sql.catalyst.plans.logical.LeafNode {
  def rows(): Seq[InternalRow] = {
    val names = catalog.listViews(ns: _*).map(_.name).sorted.toSeq
    val filtered = pattern match {
      case Some(p) =>
        val res = p.trim.split("\\|").toSeq.map(sub =>
          ("(?i)" + sub.split("\\*", -1).map(s =>
            if (s.isEmpty) "" else java.util.regex.Pattern.quote(s))
            .mkString(".*")).r)
        names.filter(n => res.exists(_.pattern.matcher(n).matches))
      case None => names
    }
    filtered.map(n => InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(ns.mkString(".")),
      org.apache.spark.unsafe.types.UTF8String.fromString(n), false))
  }
}

/** `SHOW PARTITIONS graft.db.t [PARTITION (k=v, …)]` — answered from the
  * same metadata tier as the `.partitions` table (one distributed
  * manifest read, no data file opened), at EXECUTION time: distinct
  * partition tuples of live data files, Hive-rendered `k=v[/k=v…]` and
  * sorted; the optional spec keeps tuples containing every given pair.
  * Unpartitioned tables refuse, mirroring Spark's v1 semantics. */
case class GraftShowPartitionsCommand(catalog: GraftCatalog, table: String,
    filter: Map[String, String], override val output: Seq[Attribute])
    extends org.apache.spark.sql.catalyst.plans.logical.LeafNode {
  def rows(spark: SparkSession): Seq[InternalRow] = {
    val dir = catalog.dirByName(table)
    // the refusal keys off the latest DECLARED spec (Iceberg's default
    // spec changes the moment ALTER TABLE ADD PARTITION FIELD commits),
    // not the last snapshot's spec — a spec evolved on a quiet table
    // must count immediately
    val out = graft.meta.SnapshotLog(dir).loadOutline().mainOnly
    val declared =
      if (out.specs.isEmpty) Nil else out.specs(out.specs.keys.max)
    if (declared.isEmpty)
      throw new UnsupportedOperationException(
        s"SHOW PARTITIONS is not allowed on the unpartitioned table $table")
    // the rendered tuple separates components with '/', so a filter
    // value containing one is unmatchable through the string form —
    // refuse rather than silently return zero rows
    filter.collect { case (k, v) if v.contains("/") => k }.foreach(k =>
      throw new UnsupportedOperationException(
        s"SHOW PARTITIONS … PARTITION ($k=…): values containing '/' " +
          "cannot be matched against the rendered partition tuple"))
    val parts = graft.read.MetaTables.partitions(spark, dir)
      .select("partition").collect().map(_.getString(0))
    val kept = parts.filter { p =>
      // reassemble pairs: a '/'-split segment WITHOUT '=' belongs to the
      // previous pair's VALUE (stored values may contain '/'), so
      // 'part=x/y' is one pair — it must not prefix-match part='x'
      val pairs = scala.collection.mutable.ListBuffer.empty[String]
      p.split("/").foreach { s =>
        if (s.contains("=") || pairs.isEmpty) pairs += s
        else pairs(pairs.length - 1) = pairs.last + "/" + s
      }
      filter.forall { case (k, v) => pairs.contains(s"$k=$v") }
    }.sorted
    kept.toSeq.map(p => InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(p)))
  }
}

/** Row-producing driver-side exec for metadata listings (SHOW VIEWS):
  * the body runs at execute time, not plan time. */
case class GraftRowsExec(label: String, override val output: Seq[Attribute],
                         body: () => Seq[InternalRow]) extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(output.map(_.dataType).toArray)
    sparkContext.parallelize(
      body().map(r => proj(r).copy(): InternalRow), 1)
  }
}

case class GraftDmlStrategy(spark: SparkSession) extends SparkStrategy {

  /** Shared execution-time name resolution for parser-routed DDL:
    * `nameParts` against the session's catalog manager → (graft catalog,
    * dotted table name). The leading part is a catalog when one is
    * registered under it; otherwise the current catalog + namespace
    * apply. */
  private def graftTable(nameParts: Seq[String], what: String)
      : (GraftCatalog, String) = {
    val cm = spark.sessionState.catalogManager
    val (cat, rest) =
      if (nameParts.length > 1 && cm.isCatalogRegistered(nameParts.head))
        (cm.catalog(nameParts.head), nameParts.tail)
      else (cm.currentCatalog, nameParts)
    cat match {
      case g: GraftCatalog =>
        (g, (if (rest.length > 1) rest
          else cm.currentNamespace.toSeq ++ rest).mkString("."))
      case other => throw new UnsupportedOperationException(
        s"$what requires a graft table; catalog ${other.name} is not a " +
          "GraftCatalog")
    }
  }
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case sv: GraftShowViewsCommand =>
      GraftRowsExec(s"graft show views ${sv.ns.mkString(".")}", sv.output,
        () => sv.rows()) :: Nil
    case sp: GraftShowPartitionsCommand =>
      GraftRowsExec(s"graft show partitions ${sp.table}", sp.output,
        () => sp.rows(spark)) :: Nil
    // INSERT OVERWRITE under partitionOverwriteMode=dynamic: the V2Writes
    // optimizer rule built our V1 write through SupportsDynamicOverwrite,
    // but vanilla planning has no V1 exec for OverwritePartitionsDynamic
    // (only append/filter overwrites) — run the insertable relation here.
    // The engine stages metadata-tier partition drops + the bulk append
    // into ONE "overwrite" snapshot.
    case o @ org.apache.spark.sql.catalyst.plans.logical
        .OverwritePartitionsDynamic(rel: DataSourceV2Relation, _, _, _,
          Some(v1w: org.apache.spark.sql.connector.write.V1Write))
        if rel.table.isInstanceOf[GraftSparkTable] =>
      GraftDmlExec(s"graft dynamic overwrite ${rel.table.name()}", () => {
        val df = org.apache.spark.sql.graft.GraftSqlShim.ofRows(spark, o.query)
        v1w.toInsertableRelation.insert(df, false)
      }) :: Nil
    case GraftDeleteCommand(t, cond, range, prune) =>
      GraftDmlExec(s"graft delete ${t.name()}", () => {
        val g = t.openGenerator(spark)
        range match {
          case Some((c, lo, hi)) => g.deleteWhere(c, lo, hi)
          // the matching scan opens only files the extracted partition/
          // range/bloom predicates can't prune — a point DELETE on a
          // clustered 100 TB table scans a handful of files
          case None => g.positionalDeletePruned(cond(), prune._1, prune._2, prune._3)
        }
        g.commit()
      }) :: Nil
    case GraftUpdateCommand(t, sets, cond, prune) =>
      GraftDmlExec(s"graft update ${t.name()}", () => {
        val g = t.openGenerator(spark)
        val names = g.liveSchema.names
        // the updated rows are computed from the COMMITTED state (the
        // staged delete is invisible to reads until commit), then the
        // delete (seq s) + append (seq s+1) publish atomically.
        // SQL assignment is SIMULTANEOUS: every SET expression evaluates
        // against the ORIGINAL row (UPDATE t SET a = b, b = a swaps), so
        // all assignments go into ONE projection — a sequential
        // withColumn chain would let later assignments read earlier ones.
        // Both the updated-row read AND the tombstone scan are file-pruned
        // by the extracted WHERE predicates (sound: pruned files hold no
        // matching row, so they contribute no updates and no tombstones).
        val setsMap = sets.map { case (n, mk) => n -> mk() }.toMap
        val condCol = cond()
        val updated = t.readDf(spark, prune._1, prune._2, prune._3)
          .where(condCol)
          .select(names.map(n => setsMap.getOrElse(n, col(n)).as(n)): _*)
          .localCheckpoint()
        g.positionalDeletePruned(condCol, prune._1, prune._2, prune._3)
        g.appendData(updated)
        g.commit()
      }) :: Nil
    case a: GraftAlterViewPropsCommand =>
      GraftDmlExec(s"graft alter view props ${a.ident}", () => {
        import org.apache.spark.sql.connector.catalog.ViewChange
        if (!a.unsetIfExists) {
          val have = a.catalog.loadView(a.ident).properties()
          a.unsets.filterNot(have.containsKey).foreach(k =>
            throw new IllegalArgumentException(
              s"view ${a.ident} has no property '$k' " +
                "(UNSET TBLPROPERTIES without IF EXISTS)"))
        }
        val changes: Seq[ViewChange] =
          a.sets.map { case (k, v) => ViewChange.setProperty(k, v) } ++
            a.unsets.map(ViewChange.removeProperty)
        a.catalog.alterView(a.ident, changes: _*)
      }) :: Nil
    case r: GraftRenameViewCommand =>
      GraftDmlExec(s"graft rename view ${r.from}", () => {
        r.catalog.renameView(r.from, r.to)
      }) :: Nil
    case c: GraftCreateViewCommand =>
      GraftDmlExec(s"graft create view ${c.ident}", () => {
        val exists = c.catalog.viewExists(c.ident)
        if (c.mustExist && !exists)
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchViewException(c.ident)
        if (exists && !c.replace) {
          if (!c.allowExisting)
            throw new org.apache.spark.sql.catalyst.analysis
              .ViewAlreadyExistsException(c.ident)
          // IF NOT EXISTS over an existing view: no-op
        } else {
          val parsed = spark.sessionState.sqlParser.parseQuery(c.sql)
          val selfRef = parsed.exists {
            case ur: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
              GraftViews.target(spark, ur.multipartIdentifier).exists {
                case (_, id) => id.namespace.sameElements(c.ident.namespace) &&
                  id.name == c.ident.name
              }
            case _ => false
          }
          if (selfRef) throw new UnsupportedOperationException(
            s"recursive view: ${c.ident} references itself in its body")
          val analyzed = org.apache.spark.sql.graft.GraftSqlShim
            .ofRows(spark, parsed)
          val qcols = analyzed.schema.fieldNames
          require(c.columnAliases.isEmpty || c.columnAliases.size == qcols.length,
            s"view column list has ${c.columnAliases.size} names for " +
              s"${qcols.length} query columns")
          val info = new org.apache.spark.sql.connector.catalog.ViewInfo(
            c.ident, c.sql, c.currentCatalog, c.currentNamespace,
            analyzed.schema, qcols, c.columnAliases.toArray,
            Array.empty[String], {
              val m = new java.util.HashMap[String, String]()
              c.properties.foreach { case (k, v) => m.put(k, v) }
              m
            })
          if (exists) c.catalog.replaceView(info, true)
          else c.catalog.createView(info)
        }
      }) :: Nil
    case d: GraftDropViewCommand =>
      GraftDmlExec(s"graft drop view ${d.ident}", () => {
        if (!d.catalog.dropView(d.ident) && !d.ifExists)
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchViewException(d.ident)
      }) :: Nil
    case GraftRefDdl(nameParts, create, isBranch, refName, ifClause, asOf,
                     replace) =>
      val kind = if (isBranch) "BRANCH" else "TAG"
      GraftDmlExec(s"graft ref ddl ${nameParts.mkString(".")} $kind $refName",
        () => {
        val (gc, table) = graftTable(nameParts, s"ALTER TABLE … $kind")
        val g = gc.openGeneratorByName(table)
        val refs = graft.meta.SnapshotLog(gc.dirByName(table)).refs
        val key = if (isBranch) s"branch:$refName" else refName
        def repoint(): Unit =
          if (isBranch) g.replaceBranch(refName, asOf.getOrElse(-1L))
          else g.tag(refName, asOf.getOrElse(-1L)) // tag repoint = setRef
        (create, replace, refs.contains(key)) match {
          // IF NOT EXISTS tolerates presence; IF EXISTS tolerates absence
          case (true, false, true) if ifClause =>
          case (false, _, false) if ifClause =>
          case (false, _, false) => throw new IllegalArgumentException(
            s"no such ${kind.toLowerCase} '$refName' on $table " +
              s"(known refs: ${refs.keys.toSeq.sorted.mkString(", ")})")
          case (true, _, false) => // CREATE / CREATE OR REPLACE, absent
            if (isBranch) g.createBranch(refName, asOf.getOrElse(-1L))
            else g.tag(refName, asOf.getOrElse(-1L))
          case (true, true, true) => repoint() // CREATE OR REPLACE
          case (true, false, true) => throw new IllegalArgumentException(
            s"${kind.toLowerCase} '$refName' already exists on $table")
          case (false, true, true) => repoint() // REPLACE
          case (false, false, true) =>
            if (isBranch) g.dropBranch(refName) else g.removeTag(refName)
        }
      }) :: Nil
    case GraftUpdateSpecDdl(nameParts, add, drop) =>
      GraftDmlExec(s"graft update spec ${nameParts.mkString(".")}", () => {
        val (g, table) = graftTable(nameParts, "ALTER TABLE … PARTITION FIELD")
        g.openGeneratorByName(table).updateSpec(add, drop).commit()
      }) :: Nil
    case GraftWriteOrderDdl(nameParts, cols) =>
      GraftDmlExec(s"graft write order ${nameParts.mkString(".")}", () => {
        val (g, table) = graftTable(nameParts, "ALTER TABLE … WRITE ORDERED")
        g.openGeneratorByName(table).writeOrdered(cols: _*)
      }) :: Nil
    case d @ GraftDeleteJoinCommand(t, _, keyCols, anti, joinResid, scanF, notIn) =>
      GraftDmlExec(s"graft delete-${if (anti) "anti" else "semi"} ${t.name()}", () => {
        val src = org.apache.spark.sql.graft.GraftSqlShim.ofRows(spark, d.source)
        val g = t.openGenerator(spark)
        if (notIn) {
          // NOT IN three-valued logic (one bounded probe each): a NULL in
          // the subquery makes the predicate never-TRUE (no-op); an empty
          // subquery makes it TRUE everywhere (metadata-tier truncate);
          // otherwise the anti-join with null target keys surviving
          val srcC = src.localCheckpoint()
          if (srcC.isEmpty) g.truncate()
          else if (srcC.where(keyCols.map(col(_).isNull).reduce(_ || _))
              .isEmpty)
            g.deleteKeysAnti(srcC, keyCols, nullKeysDie = false)
        } else if (joinResid.isEmpty && scanF.isEmpty) {
          // key-equality-only correlation: the eq-delete fast path
          if (anti) g.deleteKeysAnti(src, keyCols) else g.deleteKeys(src, keyCols)
        } else g.deleteSemiJoin(src, keyCols, joinResid, scanF, anti)
        g.commit()
      }) :: Nil
    case u @ GraftUpdateJoinCommand(t, _, keyCols, anti, sets, joinResid,
                                    scanF, notIn) =>
      GraftDmlExec(s"graft update-${if (anti) "anti" else "semi"} ${t.name()}", () => {
        val src = org.apache.spark.sql.graft.GraftSqlShim.ofRows(spark, u.source)
        val g = t.openGenerator(spark)
        if (notIn) {
          // NOT IN three-valued logic: a NULL in the subquery → no row
          // updates; empty subquery → EVERY row (null keys included)
          // updates — the anti join with an empty right side keeps all;
          // otherwise anti-join with null-key target rows EXCLUDED (the
          // predicate is UNKNOWN there, unlike NOT EXISTS)
          val srcC = src.localCheckpoint()
          if (srcC.isEmpty)
            g.updateSemiJoin(srcC, keyCols, None, sets, None, anti = true)
          else if (srcC.where(keyCols.map(col(_).isNull).reduce(_ || _))
              .isEmpty)
            g.updateSemiJoin(srcC, keyCols, None, sets,
              scanFilter = Some(keyCols.map(col(_).isNotNull).reduce(_ && _)),
              anti = true)
        } else g.updateSemiJoin(src, keyCols, joinResid, sets, scanF, anti)
        g.commit()
      }) :: Nil
    case m: GraftMergeCommand =>
      GraftDmlExec(s"graft merge ${m.table.name()}", () => {
        val src = org.apache.spark.sql.graft.GraftSqlShim.ofRows(spark, m.source)
        m.table.openGenerator(spark)
          .mergeInto(src, m.keyCols, updateWhen = m.updateWhen,
            deleteWhen = m.deleteWhen, insertWhen = m.insertWhen,
            nmbsUpdateWhen = m.nmbsUpdateWhen,
            nmbsDeleteWhen = m.nmbsDeleteWhen, nmbsSets = m.nmbsSets,
            updateSets = m.updateSetsDeferred.map(_()).getOrElse(m.updateSets),
            insertSets = m.insertSetsDeferred.map(_()).getOrElse(m.insertSets),
            onResidual = m.onResidual)
          .commit()
      }) :: Nil
    case _ => Nil
  }
}

// ---- the resolution rule --------------------------------------------------

/** Analysis-time substitution making graft tables SQL-native:
  *
  *   - a bare graft relation becomes the MoR read plan (Project preserving
  *     the relation's attribute ids over [[MorReader.read]]'s analyzed
  *     plan), so Catalyst's own pushdown/pruning applies to the underlying
  *     parquet scans;
  *   - `Filter(cond, relation)` additionally extracts partition values and
  *     column ranges from `cond` and hands them to the MoR PLANNER — the
  *     manifest-level file pruning SQL can't reach through a post-scan
  *     Filter (the full condition stays above for row-level exactness);
  *   - DELETE / UPDATE / MERGE over a graft target become the Graft*Command
  *     nodes above (planned by [[GraftDmlStrategy]]). The target relation
  *     is deliberately NOT substituted while the command is still
  *     resolving — interception owns the whole command.
  *
  * Runs in the analyzer's resolution fixed point (injected via
  * `graft.plans.GraftExtensions`), so the commands are captured before
  * Spark's own row-level rewrites would reject the table. */
object GraftCatalogRule {
  /** Bound on the literal set a DML `IN (<subquery>)` may materialize to —
    * beyond it the correct tool is MERGE INTO (a join, not a literal
    * list), and the error says so. */
  val MaxDmlInSetValues = 100000

  /** Set of view names already expanded along a plan path — the cycle
    * guard for read-time view expansion (mutual recursion detection). */
  val ExpandedViewsTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Set[String]](
      "graft.expandedViews")
}

case class GraftCatalogRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // fast exit for the overwhelmingly common case: no graft relation
    // anywhere (subquery plans included) — this rule runs on EVERY
    // analyzer fixed-point iteration of EVERY query, so the non-graft
    // path must cost one early-exit walk, not a rebuild
    if (!hasGraftRel(plan)) return plan
    // attr ids referenced anywhere — used to detect METADATA columns
    // (`_file`, `_pos`, ...) resolved from a relation's metadataOutput
    // that Spark's AddMetadataColumns has not yet folded into the
    // relation's own output. Substituting before that fold would strand
    // the references (the analyzer would never converge), so those
    // relations wait one fixed-point iteration. Only computed when a
    // graft relation is actually present (the walk above gates it).
    val referenced = scala.collection.mutable.Set.empty[ExprId]
    plan.foreach(n => n.expressions.foreach(_.foreach {
      case a: AttributeReference => referenced += a.exprId
      case _ =>
    }))
    rewrite(plan, referenced.toSet)
  }

  /** Any graft relation in the tree, descending into subquery plans —
    * plus the view-surface candidates this rule owns (CREATE/DROP VIEW
    * targeting a graft catalog, unresolved relations naming a stored
    * graft view). */
  private def hasGraftRel(plan: LogicalPlan): Boolean =
    plan.exists {
      case r: DataSourceV2Relation => r.table.isInstanceOf[GraftSparkTable]
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        !u.isStreaming && GraftViews.target(spark, u.multipartIdentifier)
          .exists { case (g, id) => g.viewExists(id) }
      case n => n.expressions.exists(_.exists {
        case se: SubqueryExpression => hasGraftRel(se.plan)
        case _ => false
      })
    }

  /** Metadata attrs referenced above but not yet part of the relation's
    * output → AddMetadataColumns must extend the relation first. */
  private def metaPending(r: DataSourceV2Relation, referenced: Set[ExprId]): Boolean = {
    val outIds = r.output.map(_.exprId).toSet
    r.metadataOutput.exists(a => referenced(a.exprId) && !outIds(a.exprId))
  }

  private def rewrite(p: LogicalPlan, referenced: Set[ExprId]): LogicalPlan = {
    def rewriteChild(c: LogicalPlan): LogicalPlan = rewrite(c, referenced)
    p match {
    // SQL COUNT(*) / MIN(col) / MAX(col) over a bare current-state graft
    // relation answers from the MANIFEST when no delete can apply, counts
    // are declared, and every selected file carries column metrics
    // (Iceberg's aggregate pushdown family): the whole query collapses to
    // a LocalRelation — zero scans, zero jobs. The probe itself is a pure
    // driver metadata fold (outline-driven — sharded manifests answer from
    // inline group stats), so running it at analysis time is free; any
    // state needing the exact scan falls through to the MoR plan.
    // The same family GROUPED by identity partition columns (`SELECT day,
    // count(*) … GROUP BY day`) answers one row PER LIVE PARTITION, and a
    // partition-EXACT WHERE (conjunctions of =/IN on identity partition
    // columns, same-typed literals) drops whole files residue-free first
    // (`SELECT count(*) … WHERE day = '2024-06-01'` — the everyday
    // partition probe). Anything else falls through to the MoR plan.
    case agg @ Aggregate(groupings, aggExprs, aggChild, _)
        if agg.resolved && fastAggTarget(aggChild).exists { case (_, t, _) =>
          t.metaKind.isEmpty } =>
      val (r, t, condOpt) = fastAggTarget(aggChild).get
      val peqOpt: Option[Map[String, Set[String]]] = condOpt match {
        case None => Some(Map.empty)
        case Some(c) => partitionExactFilter(c, r)
      }
      // travel-resolved (VERSION/TIMESTAMP AS OF, tags, branches): the
      // pinned outline folds the manifest AT that snapshot; a travel that
      // fails to resolve falls through so the scan path raises the
      // canonical error
      val outOpt = scala.util.Try(t.outlineState).toOption
      val fast: Option[LogicalPlan] = peqOpt.flatMap { peq =>
        if (groupings.isEmpty && metaAggsOf(aggExprs, r).isDefined) {
          val reqs = metaAggsOf(aggExprs, r).get
          outOpt.flatMap(MorReader.fastAggsOutline(_, reqs, peq)).flatMap(vals =>
            metaAggRow(agg.output, reqs, vals).map(row =>
              LocalRelation(agg.output, Seq(row))))
        } else if (groupings.nonEmpty &&
            groupedMetaShape(groupings, aggExprs, r).isDefined) {
          val (groupCols, cells, reqs) = groupedMetaShape(groupings, aggExprs, r).get
          outOpt.flatMap(MorReader.fastGroupedAggsOutline(_, groupCols, reqs, peq))
            .flatMap { rows =>
              val built = rows.map { case (gvals, avals) =>
                val cellVals = agg.output.zip(cells).map {
                  case (a, scala.util.Left(gi)) => castStat(a, gvals(gi))
                  case (a, scala.util.Right(ai)) => avals(ai) match {
                    case None => Some(null) // MIN/MAX over all-null partition
                    case Some(s) => reqs(ai) match {
                      case MorReader.MetaAgg.Count | MorReader.MetaAgg.CountCol(_) =>
                        Some(s.toLong)
                      case _ => castStat(a, s)
                    }
                  }
                }
                if (cellVals.exists(_.isEmpty)) None
                else Some(InternalRow.fromSeq(cellVals.map(_.get)))
              }
              if (built.exists(_.isEmpty)) None
              else Some(LocalRelation(agg.output, built.map(_.get)))
            }
        } else None
      }
      fast.getOrElse(agg.mapChildren(rewriteChild))
    // SELECT DISTINCT <partition cols> is still a Distinct node at
    // analysis time (the optimizer's rewrite to Aggregate runs later) —
    // answer it as the zero-aggregate grouped shape: the live partition
    // tuples straight off the manifest.
    case dst @ Distinct(proj @ Project(projList, GraftRel(r, t)))
        if dst.resolved && t.metaKind.isEmpty &&
          groupedMetaShape(projList.collect {
            case a: AttributeReference => a
            case Alias(a: AttributeReference, _) => a
          }, Nil, r).isDefined && projList.forall {
            case _: AttributeReference | Alias(_: AttributeReference, _) => true
            case _ => false
          } =>
      val attrs = projList.collect {
        case a: AttributeReference => a
        case Alias(a: AttributeReference, _) => a
      }
      scala.util.Try(t.outlineState).toOption.flatMap(
          MorReader.fastGroupedAggsOutline(_, attrs.map(_.name), Nil)) match {
        case Some(rows) =>
          val built = rows.map { case (gvals, _) =>
            val cellVals = dst.output.zip(gvals).map {
              case (a, s) => castStat(a, s)
            }
            if (cellVals.exists(_.isEmpty)) None
            else Some(InternalRow.fromSeq(cellVals.map(_.get)))
          }
          if (built.exists(_.isEmpty)) dst.mapChildren(rewriteChild)
          else LocalRelation(dst.output, built.map(_.get))
        case None => dst.mapChildren(rewriteChild)
      }
    case d @ DeleteFromTable(GraftRel(r, t), cond) =>
      if (d.resolved) makeDelete(r, t, cond) else d
    case u @ UpdateTable(GraftRel(r, t), assignments, cond) =>
      if (u.resolved) makeUpdate(r, t, assignments, cond) else u
    case m: MergeIntoTable if GraftRel.unapply(m.targetTable).isDefined =>
      if (m.resolved) makeMerge(m)
      else m.withNewChildren(Seq(m.targetTable, rewriteChild(m.sourceTable)))
    // ---- catalog views: CREATE/DROP intercept at the PARSER (Spark 4.1's
    // ResolveSessionCatalog rejects non-session catalogs for views before
    // injected rules run — see GraftSqlParser.routeViews); reads expand
    // here.
    // a read of a graft view: expand the stored SQL in place (the fixed
    // point analyzes the substituted subtree, nested views included)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
        if !u.isStreaming && GraftViews.target(spark, u.multipartIdentifier)
          .exists { case (g, id) => g.viewExists(id) } =>
      val (g, ident) = GraftViews.target(spark, u.multipartIdentifier).get
      // cycle guard for the fixed-point expansion: the tag carries the set
      // of view names already expanded along THIS path (mutual recursion
      // v1→v2→v1 escapes the CREATE-time direct-self-reference check and
      // would otherwise re-expand forever)
      val viewKey = (g.name +: ident.namespace.toSeq :+ ident.name)
        .mkString(".").toLowerCase
      val expandedSoFar = u.getTagValue(GraftCatalogRule.ExpandedViewsTag)
        .getOrElse(Set.empty[String])
      if (expandedSoFar.contains(viewKey))
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "RECURSIVE_VIEW",
          messageParameters = Map(
            "viewIdent" -> viewKey,
            "newPath" -> (expandedSoFar + viewKey).mkString(" -> ")))
      val v = g.loadView(ident)
      val parser = spark.sessionState.sqlParser
      var body = parser.parseQuery(v.query)
      // CTE handling must happen HERE: the analyzer's Substitution batch
      // (which turns UnresolvedWith into WithCTE/CTERelationRef) already
      // ran before this resolution-batch expansion injects the body, so an
      // un-substituted WITH would never bind. Substituting first also makes
      // definition-context qualification sound — afterwards every remaining
      // UnresolvedRelation is a genuine table/view reference (CTE aliases
      // became CTERelationRef nodes), so single-part names qualify
      // unconditionally. ResolveWithCTE in the resolution batch finishes
      // the CTERelationRef wiring.
      if (body.exists(_.isInstanceOf[UnresolvedWith]))
        body = org.apache.spark.sql.catalyst.analysis.CTESubstitution(body)
      // single-part table refs resolve in the view's DEFINITION context
      body = body.transformDownWithSubqueries {
        case ur: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
            if ur.multipartIdentifier.size == 1 =>
          ur.copy(multipartIdentifier =
            (v.currentCatalog +: v.currentNamespace.toSeq) ++
              ur.multipartIdentifier)
      }
      // propagate the expansion path onto every relation inside the body
      // so a nested re-expansion of the same view trips the guard above
      val pathHere = expandedSoFar + viewKey
      body.foreachWithSubqueries {
        case ur: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          ur.setTagValue(GraftCatalogRule.ExpandedViewsTag, pathHere)
        case _ =>
      }
      val aliased =
        if (v.columnAliases != null && v.columnAliases.nonEmpty)
          org.apache.spark.sql.catalyst.analysis.UnresolvedSubqueryColumnAliases(
            v.columnAliases.toSeq, body)
        else body
      SubqueryAlias(ident.name, aliased)
    case f @ Filter(cond, GraftRel(r, t))
        if cond.resolved && !metaPending(r, referenced) =>
      val (partFilter, ranges, points) = extractPruning(cond, r, t)
      Filter(cond, substitute(r, t, f.child.output, partFilter, ranges, points))
    // an UNRESOLVED filter directly over the relation: leave the whole
    // subtree for a later analyzer iteration — type coercion must finish
    // (e.g. INT literals against a BIGINT column) before extraction, or
    // the bare-relation case below would substitute first and the
    // manifest pruning opportunity would be silently lost
    case f @ Filter(cond, GraftRel(_, _)) if !cond.resolved => f
    case GraftRel(r, t) if !metaPending(r, referenced) =>
      substitute(r, t, p.output, Map.empty, Map.empty, Map.empty)
    case other =>
      val withChildren = other.mapChildren(rewriteChild)
      withChildren.transformExpressions {
        case se: SubqueryExpression => se.withNewPlan(rewriteChild(se.plan))
      }
  }
  }

  /** The manifest-answerable shape of an ungrouped aggregate list: every
    * expression a plain `COUNT(*)`/`COUNT(1)`, `MIN(col)` or `MAX(col)`
    * (no DISTINCT, no FILTER) over a relation column whose type orders
    * correctly under canonical metric strings. */
  private def metaAggsOf(exprs: Seq[NamedExpression],
                         r: DataSourceV2Relation): Option[Seq[MorReader.MetaAgg]] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
    import org.apache.spark.sql.types._
    val relIds = r.output.map(_.exprId).toSet
    def okType(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
      case _ => false
    }
    val reqs: Seq[Option[MorReader.MetaAgg]] = exprs.map {
      case Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(_: Literal)) => Some(MorReader.MetaAgg.Count)
          case Count(Seq(a: AttributeReference)) if relIds(a.exprId) =>
            Some(MorReader.MetaAgg.CountCol(a.name))
          case Min(a: AttributeReference)
              if relIds(a.exprId) && okType(a.dataType) =>
            Some(MorReader.MetaAgg.MinOf(a.name))
          case Max(a: AttributeReference)
              if relIds(a.exprId) && okType(a.dataType) =>
            Some(MorReader.MetaAgg.MaxOf(a.name))
          case _ => None
        }
      case _ => None
    }
    if (reqs.nonEmpty && reqs.forall(_.isDefined)) Some(reqs.map(_.get)) else None
  }

  /** The manifest-answerable shape of a GROUPED aggregate: every grouping
    * a bare relation column of a string-round-trippable type (identity
    * partition candidates — whether the files really are identity-
    * partitioned on them is checked against the manifest, per file, by
    * fastGroupedAggsMetadataOnly), every output either one of those
    * grouping columns or a COUNT/COUNT(col)/MIN/MAX. Returns (grouping
    * column names, per-output cell source Left(groupingIdx) /
    * Right(aggIdx), the agg requests). Also the `SELECT DISTINCT day`
    * shape — groupings with no aggregates at all. */
  private def groupedMetaShape(groupings: Seq[Expression],
                               exprs: Seq[NamedExpression],
                               r: DataSourceV2Relation)
      : Option[(Seq[String], Seq[Either[Int, Int]], Seq[MorReader.MetaAgg])] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
    import org.apache.spark.sql.types._
    val relIds = r.output.map(_.exprId).toSet
    def okGroupType(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           DateType | BooleanType => true
      case _ => false
    }
    def okAggType(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
      case _ => false
    }
    val gAttrs = groupings.map {
      case a: AttributeReference if relIds(a.exprId) && okGroupType(a.dataType) => a
      case _ => return None
    }
    val aggsBuf = scala.collection.mutable.ArrayBuffer.empty[MorReader.MetaAgg]
    val cells = exprs.map {
      case a: AttributeReference if gAttrs.exists(_.exprId == a.exprId) =>
        scala.util.Left(gAttrs.indexWhere(_.exprId == a.exprId))
      case Alias(a: AttributeReference, _) if gAttrs.exists(_.exprId == a.exprId) =>
        scala.util.Left(gAttrs.indexWhere(_.exprId == a.exprId))
      case Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        val req = ae.aggregateFunction match {
          case Count(Seq(_: Literal)) => MorReader.MetaAgg.Count
          case Count(Seq(a: AttributeReference)) if relIds(a.exprId) =>
            MorReader.MetaAgg.CountCol(a.name)
          case Min(a: AttributeReference)
              if relIds(a.exprId) && okAggType(a.dataType) =>
            MorReader.MetaAgg.MinOf(a.name)
          case Max(a: AttributeReference)
              if relIds(a.exprId) && okAggType(a.dataType) =>
            MorReader.MetaAgg.MaxOf(a.name)
          case _ => return None
        }
        aggsBuf += req
        scala.util.Right(aggsBuf.size - 1)
      case _ => return None
    }
    Some((gAttrs.map(_.name), cells, aggsBuf.toSeq))
  }

  /** An Aggregate child the manifest might answer: the bare graft
    * relation, or a Filter directly over it (condition returned for the
    * partition-exactness test). */
  private def fastAggTarget(child: LogicalPlan)
      : Option[(DataSourceV2Relation, GraftSparkTable, Option[Expression])] =
    child match {
      case GraftRel(r, t) => Some((r, t, None))
      case Filter(cond, GraftRel(r, t)) => Some((r, t, Some(cond)))
      case _ => None
    }

  /** A WHERE that is EXACT at file granularity: every conjunct an
    * equality/IN on a bare integral-or-string column with same-typed
    * literals (no casts — exactness, not the pruning path's sound
    * over-approximation). Whether those columns really are identity
    * partition columns for every live file is the manifest's check.
    * Repeated columns intersect. None = not partition-exact. */
  private def partitionExactFilter(cond: Expression, r: DataSourceV2Relation)
      : Option[Map[String, Set[String]]] = {
    import org.apache.spark.sql.types._
    val relIds = r.output.map(_.exprId).toSet
    def exactAttr(e: Expression): Option[(String, DataType)] = e match {
      case a: AttributeReference if relIds(a.exprId) => a.dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType =>
          Some((a.name, a.dataType))
        case _ => None
      }
      case _ => None
    }
    val per: Seq[(String, Set[String])] = splitConjuncts(cond).map {
      case EqualTo(a, Lit(l)) if exactAttr(a).exists(_._2 == l.dataType) &&
          l.value != null =>
        render(l) match {
          case Some(v) => (exactAttr(a).get._1, Set(v))
          case None => return None
        }
      case EqualTo(Lit(l), a) if exactAttr(a).exists(_._2 == l.dataType) &&
          l.value != null =>
        render(l) match {
          case Some(v) => (exactAttr(a).get._1, Set(v))
          case None => return None
        }
      case In(a, vs) if exactAttr(a).isDefined &&
          vs.forall(v => Lit.unapply(v).exists(l =>
            l.dataType == exactAttr(a).get._2 && l.value != null)) =>
        val rendered = vs.map(v => render(Lit.unapply(v).get))
        if (rendered.forall(_.isDefined))
          (exactAttr(a).get._1, rendered.flatten.toSet)
        else return None
      case _ => return None
    }
    Some(per.groupBy(_._1).map { case (c, xs) =>
      c -> xs.map(_._2).reduce(_ intersect _) })
  }

  /** TRY-cast one canonical metric/partition string to an attribute's
    * type; None (caller bails to the exact plan) when the value does not
    * survive the round trip. */
  private def castStat(a: Attribute, s: String): Option[Any] = {
    val cast = Cast(Literal.create(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType), a.dataType,
      Some(conf.sessionLocalTimeZone), EvalMode.TRY)
    Option(cast.eval(null))
  }

  /** Convert metadata-agg answers (canonical strings) to one InternalRow
    * of the aggregate's output types. None when any value does not round-
    * trip through a string cast (e.g. a NaN rendering) — caller falls back
    * to the exact plan rather than answering wrong. */
  private def metaAggRow(out: Seq[Attribute], reqs: Seq[MorReader.MetaAgg],
                         vals: Seq[Option[String]]): Option[InternalRow] = {
    val cells = out.zip(reqs.zip(vals)).map {
      case (_, (MorReader.MetaAgg.Count, v)) => Some(v.get.toLong)
      case (_, (MorReader.MetaAgg.CountCol(_), v)) => Some(v.get.toLong)
      case (_, (_, None)) => Some(null) // MIN/MAX of empty or all-null: NULL
      case (a, (_, Some(s))) => castStat(a, s) // TRY-cast null → bail
    }
    if (cells.exists(_.isEmpty)) None
    else Some(InternalRow.fromSeq(cells.map(_.get)))
  }

  /** Replace the relation with the analyzed MoR plan, aliasing its output
    * to the relation's attribute names AND ids (the plan above was
    * resolved against those ids). */
  private def substitute(r: DataSourceV2Relation, t: GraftSparkTable,
                         out: Seq[Attribute],
                         partFilter: Map[String, Set[String]],
                         ranges: Map[String, MorReader.ColRange],
                         points: Map[String, Set[String]] = Map.empty): LogicalPlan = {
    // requested METADATA columns (`_file`, `_pos`, row lineage) resolve to
    // the MoR plan's internal columns — ask readDf to keep them
    val metaMap = GraftSparkTable.MetadataColMap
    val requestedMeta = out.collect {
      case a if metaMap.contains(a.name) => a.name
    }
    val mor = t.readDf(spark, partFilter, ranges, points,
      requestedMeta.map(metaMap)).queryExecution.analyzed
    val proj = out.map { a =>
      val srcName = metaMap.getOrElse(a.name, a.name)
      val src = mor.output.find(o => conf.resolver(o.name, srcName)).getOrElse(
        throw new AnalysisException(
          errorClass = "INTERNAL_ERROR",
          messageParameters = Map("message" ->
            s"graft substitution: no column ${a.name} in ${mor.output.map(_.name)}")))
      Alias(src, a.name)(exprId = a.exprId)
    }
    Project(proj, mor)
  }

  /** Foldable literal, possibly under the implicit Cast the analyzer
    * inserts for mixed-type comparisons (`BIGINT col = 42` arrives as
    * `col = CAST(42 AS BIGINT)`): evaluate the cast to a plain Literal so
    * equality/range extraction still fires. */
  private object Lit {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case c: Cast if c.child.isInstanceOf[Literal] && c.foldable =>
        Some(Literal.create(c.eval(null), c.dataType))
      case _ => None
    }
  }

  /** Canonical-string rendering of a literal, matching the renderings
    * [[graft.meta.ColMetrics]] stores (numerics/strings only — other
    * types never prune, which is always sound). */
  private def render(l: Literal): Option[String] = l.dataType match {
    case _: org.apache.spark.sql.types.NumericType | org.apache.spark.sql.types.StringType =>
      Option(CatalystTypeConverters.convertToScala(l.value, l.dataType))
        .map(String.valueOf)
    case _ => None
  }

  /** `LIKE 'abc%'` (a plain prefix: single trailing `%`, no `_`, no escape
    * uses) → Some("abc"); anything else → None. */
  private def likePrefix(l: Literal, escape: Char): Option[String] = {
    val pat = Option(l.value).map(_.toString).getOrElse(return None)
    if (pat.length < 2 || !pat.endsWith("%")) return None
    val prefix = pat.dropRight(1)
    if (prefix.exists(c => c == '%' || c == '_' || c == escape)) None
    else Some(prefix)
  }

  /** Inclusive upper bound covering every string that starts with
    * `prefix`: bump the rightmost bumpable char and truncate. A prefix of
    * all Char.MaxValue has no finite bound → unbounded above. */
  private def prefixUpper(prefix: String): Option[String] = {
    val i = prefix.lastIndexWhere(_ != Char.MaxValue)
    if (i < 0) None
    else Some(prefix.substring(0, i) + (prefix.charAt(i) + 1).toChar)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    // BETWEEN (and friends) survive analysis as RuntimeReplaceable nodes —
    // desugar to the replacement (`x >= lo AND x <= hi`) so range
    // extraction sees plain comparisons
    case rr: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
        if rr.resolved => splitConjuncts(rr.replacement)
    // the replacement arrives wrapped in With (common-subexpression
    // sharing): inline the defs so the body's comparisons reference the
    // real column — extraction only READS the tree, so losing the sharing
    // costs nothing
    case w: org.apache.spark.sql.catalyst.expressions.With if w.resolved =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      splitConjuncts(w.child.transform {
        case ref: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef
            if defs.contains(ref.id) => defs(ref.id)
      })
    case x => Seq(x)
  }

  /** Extract manifest-prunable predicates from a SQL filter: equality/IN
    * on identity partition columns → partition-value pruning; range
    * comparisons on any column → min/max metrics pruning (strict bounds
    * over-approximate to inclusive — sound at file granularity);
    * equality/IN on ANY column → point-value pruning (per-value metrics
    * envelope + manifest Bloom probe + hidden-partition transform mapping
    * — what makes a bucket(n, col) point lookup open 1/n of the files). */
  private def extractPruning(cond: Expression, r: DataSourceV2Relation,
                             t: GraftSparkTable)
      : (Map[String, Set[String]], Map[String, MorReader.ColRange],
         Map[String, Set[String]]) = {
    val relIds = r.output.map(_.exprId).toSet
    // peel IDENTITY/WIDENING casts the analyzer wraps around the attribute
    // for mixed-type predicates (`BIGINT col IN (42, ...)` arrives as
    // `cast(col as bigint) IN ...`): equality through an integral-widening
    // cast is equality on the column, so extraction through it is sound;
    // any other cast (string↔numeric, narrowing) blocks extraction — those
    // can change which values match.
    def widens(from: org.apache.spark.sql.types.DataType,
               to: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      if (from == to) true
      else {
        val order: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
        val (f, t) = (order.indexOf(from), order.indexOf(to))
        f >= 0 && t >= 0 && f <= t
      }
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference if relIds.contains(a.exprId) => Some(a.name)
      case c: Cast if widens(c.child.dataType, c.dataType) => attrName(c.child)
      case _ => None
    }
    val partCols = t.identityPartitionCols.toSet
    var partFilter = Map.empty[String, Set[String]]
    var ranges = Map.empty[String, MorReader.ColRange]
    var points = Map.empty[String, Set[String]]
    def addRange(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val cur = ranges.getOrElse(c, MorReader.ColRange())
      // intersect: keep the TIGHTER bound (lexical callers only ever add
      // one bound per conjunct; comparing canonically is cmpMetric's job —
      // last-wins on repeats stays sound because both conjuncts re-apply
      // row-level above)
      ranges += c -> MorReader.ColRange(lo.orElse(cur.lo), hi.orElse(cur.hi),
        cur.needNull)
    }
    splitConjuncts(cond).foreach {
      case EqualTo(a, Lit(l)) if attrName(a).isDefined =>
        val c = attrName(a).get
        render(l).foreach { v =>
          addRange(c, Some(v), Some(v))
          points += c -> Set(v)
          if (partCols(c)) partFilter += c -> Set(v)
        }
      case EqualTo(Lit(l), a) if attrName(a).isDefined =>
        val c = attrName(a).get
        render(l).foreach { v =>
          addRange(c, Some(v), Some(v))
          points += c -> Set(v)
          if (partCols(c)) partFilter += c -> Set(v)
        }
      case In(a, vs) if attrName(a).isDefined && vs.forall(Lit.unapply(_).isDefined) =>
        val c = attrName(a).get
        val rendered = vs.map(v => render(Lit.unapply(v).get))
        if (rendered.forall(_.isDefined)) {
          points += c -> rendered.flatten.toSet
          if (partCols(c)) partFilter += c -> rendered.flatten.toSet
        }
      case GreaterThanOrEqual(a, Lit(l)) if attrName(a).isDefined =>
        render(l).foreach(v => addRange(attrName(a).get, Some(v), None))
      case GreaterThan(a, Lit(l)) if attrName(a).isDefined =>
        render(l).foreach(v => addRange(attrName(a).get, Some(v), None))
      case LessThanOrEqual(a, Lit(l)) if attrName(a).isDefined =>
        render(l).foreach(v => addRange(attrName(a).get, None, Some(v)))
      case LessThan(a, Lit(l)) if attrName(a).isDefined =>
        render(l).foreach(v => addRange(attrName(a).get, None, Some(v)))
      // flipped operand order
      case GreaterThanOrEqual(Lit(l), a) if attrName(a).isDefined =>
        render(l).foreach(v => addRange(attrName(a).get, None, Some(v)))
      case GreaterThan(Lit(l), a) if attrName(a).isDefined =>
        render(l).foreach(v => addRange(attrName(a).get, None, Some(v)))
      case LessThanOrEqual(Lit(l), a) if attrName(a).isDefined =>
        render(l).foreach(v => addRange(attrName(a).get, Some(v), None))
      case LessThan(Lit(l), a) if attrName(a).isDefined =>
        render(l).foreach(v => addRange(attrName(a).get, Some(v), None))
      // null-safe equality against a NON-null literal is plain equality
      // for file pruning (null rows can never match) — but NOT a
      // partition-exact filter, since a null partition tuple renders
      // differently from any literal
      case EqualNullSafe(a, Lit(l)) if attrName(a).isDefined && l.value != null =>
        val c = attrName(a).get
        render(l).foreach { v => addRange(c, Some(v), Some(v)); points += c -> Set(v) }
      case EqualNullSafe(Lit(l), a) if attrName(a).isDefined && l.value != null =>
        val c = attrName(a).get
        render(l).foreach { v => addRange(c, Some(v), Some(v)); points += c -> Set(v) }
      // prefix predicates prune as a string range (Iceberg startsWith
      // pushdown): [prefix, prefix-with-last-char-bumped] — the inclusive
      // upper over-approximates by at most one boundary value, sound at
      // file granularity
      case Like(a, Lit(l), escape) if attrName(a).isDefined &&
          likePrefix(l, escape).isDefined =>
        val p = likePrefix(l, escape).get
        addRange(attrName(a).get, Some(p), prefixUpper(p))
      case StartsWith(a, Lit(l)) if attrName(a).isDefined &&
          Option(l.value).exists(_.toString.nonEmpty) =>
        val p = l.value.toString
        addRange(attrName(a).get, Some(p), prefixUpper(p))
      // null tests prune off the manifest nullCount / envelope presence:
      // IS NOT NULL drops all-null files (a schema-evolution column is
      // all-null in every pre-evolution file — the common 100 TB case);
      // IS NULL drops files whose recorded nullCount is zero
      case IsNotNull(a) if attrName(a).isDefined =>
        addRange(attrName(a).get, None, None)
      case IsNull(a) if attrName(a).isDefined =>
        val c = attrName(a).get
        ranges += c -> ranges.getOrElse(c, MorReader.ColRange())
          .copy(needNull = true)
      // OR of predicate branches (the TPC-H Q19 shape): recurse into each
      // side, then keep only what BOTH constrain — per-column envelope
      // hull for ranges, set union for points and partition values. A
      // column one side leaves free is unconstrained under the union.
      case orExpr @ Or(_, _) =>
        val (pa, ra, qa) = extractPruning(orExpr.left, r, t)
        val (pb, rb, qb) = extractPruning(orExpr.right, r, t)
        def dtOf(c: String) = r.output.find(_.name == c).map(_.dataType)
        (pa.keySet intersect pb.keySet).foreach { c =>
          partFilter += c -> (pa(c) ++ pb(c))
        }
        (qa.keySet intersect qb.keySet).foreach { c =>
          points += c -> (qa(c) ++ qb(c))
        }
        (ra.keySet intersect rb.keySet).foreach { c =>
          val (x, y) = (ra(c), rb(c))
          if (!x.needNull && !y.needNull) dtOf(c).foreach { dt =>
            // hull bound: None (unbounded) absorbs; unparseable compares
            // drop the column — never unsound
            def hull(o1: Option[String], o2: Option[String], low: Boolean)
                : Option[Option[String]] = (o1, o2) match {
              case (Some(av), Some(bv)) =>
                MorReader.cmpMetric(dt, av, bv).map(cmp =>
                  Some(if ((cmp <= 0) == low) av else bv))
              case _ => Some(None)
            }
            for (lo <- hull(x.lo, y.lo, low = true);
                 hi <- hull(x.hi, y.hi, low = false))
              if (lo.isDefined || hi.isDefined) addRange(c, lo, hi)
          }
        }
      case _ => // not prunable — the row-level Filter above handles it
    }
    (partFilter, ranges, points)
  }

  /** Rewrite target-relation attribute refs to plain names and build a
    * Column the exec can resolve against a fresh read of the table. */
  /** Inline `With`/CommonExpressionRef shapes, and the `Between` that
    * wraps one (how BETWEEN resolves in Spark 4), leaving its plain
    * `lo <= x AND x <= hi` — a With whose attributes become Unresolved
    * breaks its own dataType plumbing, re-analysis re-deduplicates
    * anyway, and the routes below match the plain conjunction. */
  private def inlineWith(e: Expression): Expression = e.transformUp {
    case w: org.apache.spark.sql.catalyst.expressions.With =>
      val byId = w.defs.map(d => d.id -> inlineWith(d.child)).toMap
      w.child.transformUp {
        case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
          byId(r.id)
      }
    case b: org.apache.spark.sql.catalyst.expressions.Between => b.replacement
  }

  private def toNamedColumn(e: Expression, relIds: Set[ExprId],
                            prefix: String = ""): Column =
    org.apache.spark.sql.graft.GraftSqlShim.column(e.transform {
      case a: AttributeReference if relIds.contains(a.exprId) =>
        UnresolvedAttribute(Seq(prefix + a.name))
      case a: AttributeReference =>
        UnresolvedAttribute(Seq(a.name))
    })

  /** Deferred variant for DML conditions that may carry subqueries:
    * `IN (<subquery>)` runs its subquery as a normal Spark query WHEN THE
    * COMMAND EXECUTES and folds the result into a bounded literal IN set
    * (the subquery may itself read graft tables — its plan re-analyzes
    * through this rule). Any other subquery shape fails loudly with the
    * graft error, not a dangling-reference Spark internal. */
  private def toNamedColumnDeferred(e: Expression, relIds: Set[ExprId])
      : () => Column = { () =>
    val materialized = e.transform {
      case InSubquery(values, lq) =>
        if (lq.outerAttrs.nonEmpty) throw new UnsupportedOperationException(
          "graft DML: correlated IN (<subquery>) is not supported — " +
            "rewrite as [NOT] EXISTS (the semi/anti-join routes)")
        if (values.size != 1) throw new UnsupportedOperationException(
          "graft DML: only single-column IN (<subquery>) is supported")
        val df = org.apache.spark.sql.graft.GraftSqlShim.ofRows(spark, lq.plan)
        require(df.schema.fields.length == 1,
          s"graft DML: IN subquery must produce one column, got ${df.schema}")
        val dt = df.schema.fields(0).dataType
        val rows = df.distinct().limit(GraftCatalogRule.MaxDmlInSetValues + 1)
          .collect()
        if (rows.length > GraftCatalogRule.MaxDmlInSetValues)
          throw new UnsupportedOperationException(
            s"graft DML: IN (<subquery>) materialized more than " +
              s"${GraftCatalogRule.MaxDmlInSetValues} values — rewrite as " +
              "MERGE INTO (joins at scale instead of a literal set)")
        if (rows.isEmpty) Literal.FalseLiteral
        else In(values.head, rows.map(r => Literal.create(r.get(0), dt)).toSeq)
      // an UNCORRELATED scalar comparison (`WHERE v > (SELECT avg(x) …)`)
      // runs once at execute time and folds in as a literal — one row,
      // one column, loud otherwise (the UPDATE SET treatment); SQL's
      // empty-subquery NULL then compares to nothing, deleting no rows
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
        if (s.outerAttrs.nonEmpty) throw new UnsupportedOperationException(
          "graft DML: correlated scalar subqueries in WHERE are not " +
            "supported — rewrite as [NOT] EXISTS or MERGE INTO")
        val rows = org.apache.spark.sql.graft.GraftSqlShim
          .ofRows(spark, s.plan).limit(2).collect()
        if (rows.length > 1) throw new IllegalStateException(
          "graft DML: scalar subquery in WHERE returned more than one row")
        Literal.create(if (rows.isEmpty) null else rows(0).get(0), s.dataType)
      case s: SubqueryExpression =>
        throw new UnsupportedOperationException(
          s"graft DML supports IN (<subquery>) and scalar-subquery " +
            s"comparisons, and [NOT] EXISTS with key-equality correlation; " +
            s"got ${s.getClass.getSimpleName} — rewrite as MERGE INTO")
    }
    toNamedColumn(materialized, relIds)
  }

  /** Decorrelate a key-equality EXISTS: the subquery plan must be
    * Project/SubqueryAlias nodes over ONE Filter carrying the correlation,
    * whose correlated conjuncts are all `OuterReference(target.k) =
    * <inner attr>` equalities (either operand order); remaining conjuncts
    * stay as the inner filter. Returns the decorrelated plan projecting
    * the inner attrs under the TARGET key names, plus those names.
    * None → not the supported shape (caller raises the loud error). */
  private def decorrelateExists(ex: Exists, relIds: Set[ExprId])
      : Option[(LogicalPlan, Seq[String], Option[Expression])] = {
    def findFilter(p: LogicalPlan): Option[Filter] = p match {
      case f: Filter if f.condition.exists(_.isInstanceOf[OuterReference]) =>
        Some(f)
      case Project(_, child) => findFilter(child)
      case SubqueryAlias(_, child) => findFilter(child)
      case _ => None
    }
    val f = findFilter(ex.plan).getOrElse(return None)
    // no OTHER correlation anywhere else in the subquery
    val outerCount = {
      var n = 0
      ex.plan.foreach(node => node.expressions.foreach(_.foreach {
        case _: OuterReference => n += 1
        case _ =>
      }))
      n
    }
    val (corr, rest) = splitConjuncts(inlineWith(f.condition))
      .partition(_.exists(_.isInstanceOf[OuterReference]))
    if (corr.map(_.collect { case _: OuterReference => 1 }.size).sum != outerCount)
      return None
    val childOut = f.child.outputSet
    // key-equality conjuncts pair (target key, subquery column); every
    // OTHER correlated conjunct (band, range) becomes a residual that the
    // caller carries into its join condition — allowed when its outer
    // refs all target the relation and its inner attrs are all subquery
    // columns (which project as `_rc<i>` alongside the keys)
    def wellScoped(e: Expression): Boolean = e match {
      case OuterReference(a: AttributeReference) => relIds(a.exprId)
      case a: AttributeReference => childOut.contains(a)
      case other => !other.isInstanceOf[SubqueryExpression] &&
        other.children.forall(wellScoped)
    }
    def innerAttrs(e: Expression): Seq[AttributeReference] = e match {
      case OuterReference(_) => Nil
      case a: AttributeReference => Seq(a)
      case other => other.children.flatMap(innerAttrs)
    }
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, AttributeReference)]
    val residRaw = scala.collection.mutable.ArrayBuffer.empty[Expression]
    corr.foreach {
      case EqualTo(OuterReference(a: AttributeReference), b: AttributeReference)
          if relIds(a.exprId) && childOut.contains(b) => pairs += ((a.name, b))
      case EqualTo(b: AttributeReference, OuterReference(a: AttributeReference))
          if relIds(a.exprId) && childOut.contains(b) => pairs += ((a.name, b))
      case other if wellScoped(other) => residRaw += other
      case _ => return None
    }
    if (pairs.isEmpty || pairs.map(_._1).distinct.size != pairs.size) return None
    val inner = if (rest.isEmpty) f.child else Filter(rest.reduce(And), f.child)
    val rcAttrs = residRaw.toSeq.flatMap(innerAttrs)
      .groupBy(_.exprId).map(_._2.head).toSeq.sortBy(_.name)
    val rcName: Map[ExprId, String] =
      rcAttrs.zipWithIndex.map { case (a, i) => a.exprId -> s"_rc$i" }.toMap
    // the residual in NEUTRAL form: subquery columns as `_rc<i>`, outer
    // target refs kept as OuterReference for the caller to render
    val residNeutral = residRaw.toSeq.reduceOption(And).map(_.transform {
      case a: AttributeReference if rcName.contains(a.exprId) =>
        UnresolvedAttribute(Seq(rcName(a.exprId)))
    })
    Some((Project(pairs.toSeq.map { case (n, b) => Alias(b, n)() } ++
        rcAttrs.zipWithIndex.map { case (a, i) => Alias(a, s"_rc$i")() }, inner),
      pairs.toSeq.map(_._1), residNeutral))
  }

  /** Decorrelate a KEY-EQUALITY-correlated scalar AGGREGATE subquery
    * (`(SELECT max(s.v) FROM s WHERE s.k = t.k [AND …])` — the UPDATE
    * enrichment idiom): rebuilt as `Aggregate(GROUP BY keys, keys ++
    * value AS _sq0)` over the de-correlated filter, exactly one row per
    * key (the merge cardinality guard stays safe). The grouped rewrite
    * LOSES empty groups, so the caller must substitute the aggregate's
    * over-zero-rows value on the uncovered-key (NMBS) leg — returned as
    * the third element: NULL for the provably NULL-on-empty WHITELIST
    * (max/min/sum/avg/first/last/bool_and/bool_or/any_value), 0 for
    * COUNT (SQL says an empty group counts 0, never NULL). Any other
    * aggregate (approx_count_distinct → 0, collect_list → [], …) is
    * refused — the caller's loud rewrite-as-MERGE error fires instead of
    * a silently-wrong NULL. */
  private def decorrelateScalarAgg(sq: org.apache.spark.sql.catalyst
        .expressions.ScalarSubquery, relIds: Set[ExprId])
      : Option[(LogicalPlan, Seq[String], Expression)] = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => strip(c)
      case x => x
    }
    strip(sq.plan) match {
      case agg @ Aggregate(Nil, aggExprs, aggChild, _) if aggExprs.size == 1 =>
        import org.apache.spark.sql.catalyst.expressions.aggregate._
        def emptyVal(ae: AggregateExpression): Option[Expression] =
          ae.aggregateFunction match {
            case _: Count => Some(Literal(0L))
            case _: Max | _: Min | _: Sum | _: Average | _: First | _: Last |
                 _: BoolAnd | _: BoolOr | _: AnyValue =>
              Some(Literal.create(null, ae.dataType))
            case _ => None
          }
        // the subquery's value over ZERO source rows: every aggregate in
        // the select expression replaced by its on-empty value (whitelist
        // only — anything else refuses the whole rewrite)
        var whitelisted = true
        val onEmpty = (aggExprs.head match {
          case Alias(c, _) => c
          case other => other
        }).transform {
          case ae: AggregateExpression =>
            emptyVal(ae).getOrElse { whitelisted = false; ae }
        }
        if (!whitelisted) return None
        // a NON-NULL on-empty value (COUNT-family) substitutes through a
        // coalesce on the uncovered-key leg, which conflates "key not
        // covered" with "covered but legitimately NULL" — only safe when
        // the select expression can NEVER be NULL over a non-empty group
        // (plain COUNT, COUNT+1, …). `NULLIF(COUNT(*), 3)` is nullable on
        // covered keys, so it refuses instead of silently reading 0.
        val selNullable = (aggExprs.head match {
          case Alias(c, _) => c
          case other => other
        }).nullable
        onEmpty match {
          case Literal(null, _) =>
          case _ if !selNullable =>
          case _ => return None
        }
        strip(aggChild) match {
          case f: Filter if f.condition.exists(_.isInstanceOf[OuterReference]) =>
            val childOut = f.child.outputSet
            val (corr, rest) = splitConjuncts(inlineWith(f.condition))
              .partition(_.exists(_.isInstanceOf[OuterReference]))
            val pairs: Seq[(String, AttributeReference)] = corr.map {
              case EqualTo(OuterReference(a: AttributeReference), b: AttributeReference)
                  if relIds(a.exprId) && childOut.contains(b) => (a.name, b)
              case EqualTo(b: AttributeReference, OuterReference(a: AttributeReference))
                  if relIds(a.exprId) && childOut.contains(b) => (a.name, b)
              case _ => return None
            }
            if (pairs.isEmpty || pairs.map(_._1).distinct.size != pairs.size)
              return None
            // no correlation anywhere else in the subquery
            var outerCount = 0
            sq.plan.foreach(n => n.expressions.foreach(_.foreach {
              case _: OuterReference => outerCount += 1
              case _ =>
            }))
            if (corr.map(_.collect { case _: OuterReference => 1 }.size).sum
                != outerCount) return None
            val inner =
              if (rest.isEmpty) f.child else Filter(rest.reduce(And), f.child)
            val valueAlias = Alias(aggExprs.head match {
              case Alias(c, _) => c
              case other => other
            }, "_sq0")()
            Some((Aggregate(pairs.map(_._2),
              pairs.map { case (n, b) => Alias(b, n)() } :+ valueAlias, inner),
              pairs.map(_._1), onEmpty))
          case _ => None
        }
      case _ => None
    }
  }

  /** A conjunction holding exactly ONE `[NOT] EXISTS` (key-equality
    * shape) plus target-only residual conjuncts → (decorrelated source,
    * key names, residual, anti). None → not the supported shape (caller
    * falls through to the literal path's loud error). */
  private def existsWithResidual(cond: Expression, relIds: Set[ExprId])
      : Option[(LogicalPlan, Seq[String], Option[Expression],
          Option[Expression], Boolean)] = {
    val conj = splitConjuncts(cond)
    val exs = conj.collect {
      case e: Exists => (e, false)
      case Not(e: Exists) => (e, true)
    }
    if (exs.size != 1) return None
    val rest = conj.filterNot {
      case _: Exists => true
      case Not(_: Exists) => true
      case _ => false
    }
    val targetOnly = rest.forall(r =>
      !r.exists(_.isInstanceOf[SubqueryExpression]) &&
        !r.exists {
          case a: AttributeReference => !relIds(a.exprId)
          case _ => false
        })
    if (!targetOnly) return None
    val (ex, anti) = exs.head
    decorrelateExists(ex, relIds).map { case (src, keys, corrResid) =>
      (src, keys, if (rest.isEmpty) None else Some(rest.reduce(And)),
        corrResid, anti)
    }
  }

  /** A conjunction holding exactly ONE bare `(k…) IN (<subquery>)` (every
    * value a distinct target column, arity-matched — single- or
    * multi-column) plus target-only residual conjuncts → (projected
    * source, key names, residual). Same NULL reasoning as the bare-IN
    * route (a NULL never equality-matches in either the IN or the
    * semi-join form), and the residual is target-only so it commutes
    * with the join as a scan filter. */
  private def inSubqueryWithResidual(cond: Expression, relIds: Set[ExprId])
      : Option[(LogicalPlan, Seq[String], Option[Expression])] = {
    val conj = splitConjuncts(cond)
    val ins = conj.collect { case i: InSubquery => i }
    if (ins.size != 1) return None
    val in = ins.head
    if (in.query.outerAttrs.nonEmpty) return None // correlated IN: loud below
    val ok = in.values.forall {
      case a: AttributeReference => relIds(a.exprId)
      case _ => false
    } && in.values.map { case a: AttributeReference => a.name }
      .distinct.size == in.values.size &&
      in.query.plan.output.size == in.values.size
    if (!ok) return None
    val rest = conj.filterNot(_.isInstanceOf[InSubquery])
    val targetOnly = rest.forall(r =>
      !r.exists(_.isInstanceOf[SubqueryExpression]) &&
        !r.exists {
          case a: AttributeReference => !relIds(a.exprId)
          case _ => false
        })
    if (!targetOnly) return None
    val names = in.values.map { case a: AttributeReference => a.name }
    Some((Project(in.query.plan.output.zip(names).map { case (o, n) =>
      Alias(o, n)() }, in.query.plan), names, rest.reduceOption(And)))
  }

  /** A conjunction holding exactly ONE conjunct that compares a target
    * expression against a CORRELATED scalar aggregate subquery
    * (`v > (SELECT max(x) FROM s WHERE s.k = t.k)`) plus target-only
    * residual conjuncts → (decorrelated per-key aggregate, key names,
    * comparison residual over the semi-join frame, scan filter).
    *
    * Sound ONLY for the NULL-on-empty aggregate whitelist: an uncovered
    * key's subquery value is NULL, the (null-strict, non-<=>) comparison
    * is then never TRUE, and the INNER semi join dropping those rows is
    * exactly SQL. A COUNT-family aggregate reads 0 on uncovered keys —
    * rows a semi join cannot see — so that shape returns None and the
    * caller's loud refusal fires instead. */
  private def corrScalarWhere(cond: Expression, relIds: Set[ExprId])
      : Option[(LogicalPlan, Seq[String], Expression, Option[Expression])] = {
    import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
    val conj = splitConjuncts(cond)
    val (withSq, rest) =
      conj.partition(_.exists(_.isInstanceOf[SubqueryExpression]))
    if (withSq.size != 1) return None
    val c = withSq.head
    val sq = c.collect { case s: SubqueryExpression => s } match {
      case Seq(s: ScalarSubquery) if s.outerAttrs.nonEmpty => s
      case _ => return None
    }
    // the comparison must be NULL-strict in the subquery slot (never <=>,
    // no OR around it): a branch that can fire independently of the
    // subquery would have to see the uncovered keys the semi join drops
    def sqSide(e: Expression): Boolean = e match {
      case s if s eq sq => true
      case Cast(ch, _, _, _) => sqSide(ch)
      case _ => false
    }
    val cmpOk = c match {
      case _: EqualNullSafe => false
      case b: BinaryComparison => sqSide(b.left) || sqSide(b.right)
      case _ => false
    }
    if (!cmpOk) return None
    if (rest.exists(_.exists {
      case a: AttributeReference => !relIds(a.exprId)
      case _ => false
    })) return None
    decorrelateScalarAgg(sq, relIds).flatMap { case (agg, keys, onEmpty) =>
      onEmpty match {
        case Literal(null, _) =>
          val resid = c.transform {
            case s: ScalarSubquery if s.exprId == sq.exprId =>
              UnresolvedAttribute(Seq("_s__sq0"))
          }
          Some((agg, keys, resid, rest.reduceOption(And)))
        case _ => None
      }
    }
  }

  /** DELETE/UPDATE conditions evaluate in MORE THAN ONE job (the
    * matching scan and the tombstone write, or the rewrite read and the
    * tombstone scan) — a non-deterministic predicate would sample
    * independently per job and silently lose or duplicate rows, so it
    * refuses here instead. */
  private def requireDeterministic(cond: Expression, what: String): Unit =
    if (!cond.deterministic) throw new UnsupportedOperationException(
      s"graft $what: non-deterministic WHERE (rand(), sampling) is not " +
        "supported — the condition evaluates in more than one job; " +
        "materialize the sampled keys into a source table first")

  private def makeDelete(r: DataSourceV2Relation, t: GraftSparkTable,
                         cond0: Expression): LogicalPlan = {
    // BETWEEN resolves to a With; every route below matches plain shapes
    val cond = inlineWith(cond0)
    val relIds = r.output.map(_.exprId).toSet
    requireDeterministic(cond, "DELETE")
    // [NOT] EXISTS with key-equality correlation → the engine's semi/anti-
    // join delete (scales as a join; never a literal set)
    // render a neutral corr-residual for deleteSemiJoin's frame: outer
    // target refs by PLAIN name, subquery `_rc<i>` columns `_s_`-prefixed
    def deleteResid(e: Expression): Column =
      toNamedColumn(e.transform {
        case OuterReference(a: AttributeReference) => a
        case UnresolvedAttribute(Seq(n)) if n.startsWith("_rc") =>
          UnresolvedAttribute(Seq(s"_s_$n"))
      }, relIds)
    cond match {
      case ex: Exists =>
        decorrelateExists(ex, relIds).foreach { case (src, keys, corrResid) =>
          return GraftDeleteJoinCommand(t, src, keys, anti = false,
            joinResidual = corrResid.map(deleteResid))
        }
      case Not(ex: Exists) =>
        decorrelateExists(ex, relIds).foreach { case (src, keys, corrResid) =>
          return GraftDeleteJoinCommand(t, src, keys, anti = true,
            joinResidual = corrResid.map(deleteResid))
        }
      // single-column `k NOT IN (<subquery>)` — NOT the NOT-EXISTS
      // anti-join: SQL's three-valued logic differs on NULLs (a NULL in
      // the subquery kills the whole delete; a NULL target key survives)
      // and is decided by two bounded probes at execute time
      case Not(InSubquery(values, lq))
          if values.size == 1 && (values.head match {
            case a: AttributeReference => relIds(a.exprId)
            case _ => false
          }) && lq.plan.output.size == 1 &&
            lq.outerAttrs.isEmpty =>
        val name = values.head.asInstanceOf[AttributeReference].name
        return GraftDeleteJoinCommand(t,
          Project(Seq(Alias(lq.plan.output.head, name)()), lq.plan),
          Seq(name), anti = true, notIn = true)
      // a BARE `(k…) IN (<subquery>)` (single- or multi-column, every
      // value a bare target column) is the EXISTS semi-join in disguise
      // (NULL subquery values never equality-match in either form, and
      // NULL target keys fail both) — route it to deleteKeys so the
      // subquery's size stops mattering (the literal-set path bounds at
      // MaxDmlInSetValues; this one is a join).
      case InSubquery(values, lq)
          if values.forall {
            case a: AttributeReference => relIds(a.exprId)
            case _ => false
          } && values.map { case a: AttributeReference => a.name }
            .distinct.size == values.size &&
          lq.plan.output.size == values.size &&
          lq.outerAttrs.isEmpty =>
        val names = values.map { case a: AttributeReference => a.name }
        return GraftDeleteJoinCommand(t,
          Project(lq.plan.output.zip(names).map { case (o, n) =>
            Alias(o, n)() }, lq.plan),
          names, anti = false)
      // `[NOT] EXISTS (<key-equality>) AND <target-only residual>`: the
      // merge machinery again — residual conjuncts become the matched
      // (or NMBS) DELETE condition, evaluated per joined row
      case _ if splitConjuncts(cond).exists {
            case _: Exists | Not(_: Exists) => true
            case _ => false
          } =>
        existsWithResidual(cond, relIds).foreach {
          case (src, keys, residual, corrResid, anti) =>
            // a correlated NON-EQUALITY conjunct inside the EXISTS rides
            // the residual-aware semi/anti join (an eq-delete can't
            // express per-row both-sides conditions); the target-only
            // residual OUTSIDE the EXISTS filters the scan
            if (corrResid.isDefined)
              return GraftDeleteJoinCommand(t, src, keys, anti,
                joinResidual = corrResid.map(deleteResid),
                scanFilter = residual.map(toNamedColumn(_, relIds)))
            val cmd =
              if (!anti) GraftMergeCommand(t, Distinct(src), keys,
                updateWhen = lit(false),
                deleteWhen = residual.map(toNamedColumn(_, relIds, "_t_"))
                  .getOrElse(lit(true)),
                insertWhen = lit(false),
                updateSets = Some(Nil), insertSets = Some(Nil))
              else GraftMergeCommand(t, Distinct(src), keys,
                updateWhen = lit(false), deleteWhen = lit(false),
                insertWhen = lit(false),
                nmbsDeleteWhen = Some(residual
                  .map(toNamedColumn(_, relIds)).getOrElse(lit(true))),
                updateSets = Some(Nil), insertSets = Some(Nil))
            return cmd
        }
      // `(k…) IN (<subquery>) AND <target-only residual>` (single- or
      // multi-column): the same semi-join with the residual filtering the
      // scan — the subquery's size never matters (the literal fallback
      // bounds at MaxDmlInSetValues and is single-column only)
      case _ if splitConjuncts(cond).exists(_.isInstanceOf[InSubquery]) =>
        inSubqueryWithResidual(cond, relIds).foreach {
          case (src, names, residual) =>
            return GraftDeleteJoinCommand(t, src, names, anti = false,
              scanFilter = residual.map(toNamedColumn(_, relIds)))
        }
      // `<cmp>(target expr, (SELECT agg(x) FROM s WHERE s.k = t.k)) AND
      // <target-only residual>` — the decorrelated per-key aggregate
      // rides the residual-aware semi join (whitelist aggregates only;
      // COUNT-family falls through to the loud refusal — see
      // corrScalarWhere's NULL reasoning)
      case _ if cond.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.ScalarSubquery]) =>
        corrScalarWhere(cond, relIds).foreach {
          case (src, keys, resid, scanF) =>
            return GraftDeleteJoinCommand(t, src, keys, anti = false,
              joinResidual = Some(toNamedColumn(resid, relIds)),
              scanFilter = scanF.map(toNamedColumn(_, relIds)))
        }
      case _ =>
    }
    def scalaV(l: Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)
    // single-column inclusive range / equality → the metadata-tier path
    val range: Option[(String, Any, Any)] = cond match {
      case EqualTo(a: AttributeReference, Lit(l)) if relIds(a.exprId) =>
        Some((a.name, scalaV(l), scalaV(l)))
      case And(GreaterThanOrEqual(a: AttributeReference, Lit(lo)),
               LessThanOrEqual(b: AttributeReference, Lit(hi)))
          if relIds(a.exprId) && a.name == b.name =>
        Some((a.name, scalaV(lo), scalaV(hi)))
      case _ => None
    }
    // the SELECT path's predicate extraction doubles as the DELETE scan's
    // file pruning (partition values + metric ranges; blooms probe inside
    // the range test on equality points)
    val (pf, rg, pts) = extractPruning(cond, r, t)
    GraftDeleteCommand(t, toNamedColumnDeferred(cond, relIds), range,
      (pf, rg, pts))
  }

  private def makeUpdate(r: DataSourceV2Relation, t: GraftSparkTable,
                         assignments: Seq[Assignment],
                         cond: Option[Expression]): LogicalPlan = {
    val relIds = r.output.map(_.exprId).toSet
    cond.foreach(requireDeterministic(_, "UPDATE"))
    def buildSets(prefix: String): Seq[(String, Column)] =
      assignments.flatMap { asg =>
        val name = asg.key match {
          case a: AttributeReference => a.name
          case other => throw new UnsupportedOperationException(
            s"graft UPDATE: unsupported assignment target $other")
        }
        // aligned assignments list EVERY column; identity assignments
        // (col = col) are no-ops — skip them so untouched columns ride along
        asg.value match {
          case v: AttributeReference if relIds(v.exprId) && v.name == name => None
          case v if v.exists(_.isInstanceOf[SubqueryExpression]) =>
            throw new UnsupportedOperationException(
              "graft UPDATE: subqueries in SET expressions are not supported " +
                "on this path — rewrite as MERGE INTO")
          case v => Some(name -> toNamedColumn(v, relIds, prefix))
        }
      }
    // the PLAIN update path additionally takes UNCORRELATED scalar
    // subqueries in SET (`SET val = (SELECT max(x) FROM s)`): each runs
    // once at EXECUTE time — one row, one column, loud otherwise — and
    // substitutes as a literal (the same bounded-materialization
    // philosophy as the DML IN-set cap). Correlated enrichment is still
    // a join: the error says to write MERGE INTO.
    def buildSetsDeferred(): Seq[(String, () => Column)] =
      assignments.flatMap { asg =>
        val name = asg.key match {
          case a: AttributeReference => a.name
          case other => throw new UnsupportedOperationException(
            s"graft UPDATE: unsupported assignment target $other")
        }
        asg.value match {
          case v: AttributeReference if relIds(v.exprId) && v.name == name => None
          case v if v.exists(_.isInstanceOf[SubqueryExpression]) =>
            val allUncorrelatedScalar =
              v.collect { case s: SubqueryExpression => s }.forall {
                case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
                  s.outerAttrs.isEmpty
                case _ => false
              }
            if (!allUncorrelatedScalar)
              throw new UnsupportedOperationException(
                "graft UPDATE: only UNCORRELATED scalar subqueries are " +
                  "supported in SET expressions — rewrite correlated " +
                  "enrichment as MERGE INTO")
            Some(name -> (() => {
              val lited = v.transform {
                case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
                  val rows = org.apache.spark.sql.graft.GraftSqlShim
                    .ofRows(spark, s.plan).limit(2).collect()
                  if (rows.length > 1) throw new IllegalStateException(
                    "scalar subquery in UPDATE SET returned more than one row")
                  Literal.create(if (rows.isEmpty) null else rows(0).get(0),
                    s.dataType)
              }
              toNamedColumn(lited, relIds, "")
            }))
          case v => Some(name -> (() => toNamedColumn(v, relIds, "")))
        }
      }
    // `UPDATE … WHERE [NOT] EXISTS (<key-equality>)` rides the merge
    // machinery: EXISTS = matched-update against the decorrelated
    // subquery's distinct keys (file-pruned target read, one join);
    // NOT EXISTS = the NMBS update leg (anti-join). SET expressions read
    // target columns — `_t_`-prefixed in the matched frame, plain in the
    // NMBS frame.
    cond match {
      // one [NOT] EXISTS, optionally AND-ed with target-only residual
      // conjuncts (the residual becomes the matched / NMBS update
      // condition, evaluated per joined row)
      case Some(c) if splitConjuncts(c).exists {
            case _: Exists | Not(_: Exists) => true
            case _ => false
          } =>
        // residual rendering for the semi/anti-join frame: outer target
        // refs by PLAIN name, subquery `_rc<i>` columns `_s_`-prefixed
        // (same convention as makeDelete's deleteSemiJoin routing)
        def joinResid(e: Expression): Column =
          toNamedColumn(e.transform {
            case OuterReference(a: AttributeReference) => a
            case UnresolvedAttribute(Seq(n)) if n.startsWith("_rc") =>
              UnresolvedAttribute(Seq(s"_s_$n"))
          }, relIds)
        existsWithResidual(c, relIds).foreach {
          case (src, keys, residual, corrResid, anti) =>
            // a correlated NON-EQUALITY conjunct inside the EXISTS rides
            // the residual-aware semi/anti-join update (EXISTS semantics —
            // several source witnesses per target row are fine); the
            // target-only residual OUTSIDE the EXISTS filters the scan
            if (corrResid.isDefined)
              return GraftUpdateJoinCommand(t, src, keys, anti,
                sets = buildSets(""),
                joinResidual = corrResid.map(joinResid),
                scanFilter = residual.map(toNamedColumn(_, relIds)))
            val cmd =
              if (!anti) GraftMergeCommand(t, Distinct(src), keys,
                updateWhen = residual.map(toNamedColumn(_, relIds, "_t_"))
                  .getOrElse(lit(true)),
                deleteWhen = lit(false), insertWhen = lit(false),
                updateSets = Some(buildSets("_t_")), insertSets = Some(Nil))
              else GraftMergeCommand(t, Distinct(src), keys,
                updateWhen = lit(false), deleteWhen = lit(false),
                insertWhen = lit(false),
                nmbsUpdateWhen = Some(residual
                  .map(toNamedColumn(_, relIds)).getOrElse(lit(true))),
                nmbsSets = buildSets(""),
                updateSets = Some(Nil), insertSets = Some(Nil))
            return cmd
        }
      // bare `(k…) IN (<subquery>)` ≡ the EXISTS semi-join (same NULL
      // semantics for a filter) — join instead of a bounded literal set
      case Some(InSubquery(values, lq))
          if values.forall {
            case a: AttributeReference => relIds(a.exprId)
            case _ => false
          } && values.map { case a: AttributeReference => a.name }
            .distinct.size == values.size &&
          lq.plan.output.size == values.size &&
          lq.outerAttrs.isEmpty =>
        val names = values.map { case a: AttributeReference => a.name }
        return GraftMergeCommand(t,
          Distinct(Project(lq.plan.output.zip(names).map { case (o, n) =>
            Alias(o, n)() }, lq.plan)),
          names,
          updateWhen = lit(true), deleteWhen = lit(false),
          insertWhen = lit(false),
          updateSets = Some(buildSets("_t_")), insertSets = Some(Nil))
      // single-column `k NOT IN (<subquery>)` — three-valued logic
      // decided at execute time (DELETE's NOT-IN twin)
      case Some(Not(InSubquery(values, lq)))
          if values.size == 1 && (values.head match {
            case a: AttributeReference => relIds(a.exprId)
            case _ => false
          }) && lq.plan.output.size == 1 &&
            lq.outerAttrs.isEmpty =>
        val name = values.head.asInstanceOf[AttributeReference].name
        return GraftUpdateJoinCommand(t,
          Project(Seq(Alias(lq.plan.output.head, name)()), lq.plan),
          Seq(name), anti = true, sets = buildSets(""), notIn = true)
      // `(k…) IN (<subquery>) AND <target-only residual>` (single- or
      // multi-column): the semi-join update with the residual filtering
      // the scan — DELETE's composite-IN twin (the literal fallback is
      // single-column and bounded at MaxDmlInSetValues)
      case Some(c) if splitConjuncts(c).exists(_.isInstanceOf[InSubquery]) =>
        inSubqueryWithResidual(c, relIds).foreach {
          case (src, names, residual) =>
            return GraftUpdateJoinCommand(t, src, names, anti = false,
              sets = buildSets(""),
              scanFilter = residual.map(toNamedColumn(_, relIds)))
        }
      // correlated scalar-aggregate comparison in WHERE — DELETE's twin
      // over the semi-join update (whitelist aggregates only)
      case Some(c) if c.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.ScalarSubquery]) =>
        corrScalarWhere(c, relIds).foreach {
          case (src, keys, resid, scanF) =>
            return GraftUpdateJoinCommand(t, src, keys, anti = false,
              sets = buildSets(""),
              joinResidual = Some(toNamedColumn(resid, relIds)),
              scanFilter = scanF.map(toNamedColumn(_, relIds)))
        }
      case _ =>
    }
    // correlated-by-key scalar subquery in SET — the enrichment JOIN
    // (`SET v = (SELECT max(s.x) FROM s WHERE s.k = t.k) …`): ONE
    // assignment carries the subquery; it decorrelates to a grouped
    // aggregate source and rides the merge machinery. Matched rows take
    // the joined `_sq0` value; keys the subquery does NOT cover update
    // through the NMBS leg with the subquery substituted by its
    // over-zero-rows value (NULL for max/min/sum/…, 0 for COUNT).
    {
      import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
      val subAssigns = assignments.filter(
        _.value.exists(_.isInstanceOf[SubqueryExpression]))
      val allSingleCorrelated = subAssigns.nonEmpty && subAssigns.forall { a =>
        val scalars = a.value.collect { case s: ScalarSubquery => s }
        scalars.size == 1 && scalars.head.outerAttrs.nonEmpty &&
          a.value.collect { case s: SubqueryExpression => s }.size == 1
      }
      if (allSingleCorrelated &&
          cond.forall(c => !c.exists(_.isInstanceOf[SubqueryExpression]))) {
        val subs = subAssigns.map(
          _.value.collect { case s: ScalarSubquery => s }.head)
        val dec = subs.map(decorrelateScalarAgg(_, relIds))
        // every subquery must decorrelate, and all on the SAME key names
        // (one enrichment join per key set; mixed keys stay loud below)
        if (dec.forall(_.isDefined) &&
            dec.flatMap(_.map(_._2)).distinct.size == 1) {
          val parts = dec.map(_.get)
          val keys = parts.head._2
          // N grouped aggregates (value renamed `_sq<i>`) FULL-OUTER
          // joined on the shared keys (USING semantics coalesce the key
          // columns): at most one row per key survives, so the merge
          // cardinality guard stays safe; a key one aggregate does not
          // cover reads NULL for its `_sq<i>` — coalesced to the
          // aggregate's on-empty value where that is not already NULL
          def renamed(p: LogicalPlan, i: Int): LogicalPlan = p match {
            case agg @ Aggregate(_, exprs, _, _) =>
              agg.copy(aggregateExpressions = exprs.map {
                case a @ Alias(c, "_sq0") => Alias(c, s"_sq$i")()
                case x => x
              })
            case other => other
          }
          val src = parts.map(_._1).zipWithIndex.map((renamed _).tupled)
            .reduce[LogicalPlan] { (a, b) =>
              org.apache.spark.sql.catalyst.plans.logical.Join(a, b,
                org.apache.spark.sql.catalyst.plans.UsingJoin(
                  org.apache.spark.sql.catalyst.plans.FullOuter, keys),
                None, org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
            }
          val slot: Map[Long, (Int, Expression)] = subs.zipWithIndex.map {
            case (s, i) => s.exprId.id -> (i, parts(i)._3) }.toMap
          def targetName(a: Assignment): String = a.key match {
            case x: AttributeReference => x.name
            case other => throw new UnsupportedOperationException(
              s"graft UPDATE: unsupported assignment target $other")
          }
          def renderSets(prefix: String, matched: Boolean)
              : Seq[(String, Column)] =
            assignments.flatMap { a =>
              val name = targetName(a)
              a.value match {
                case v: AttributeReference
                    if relIds(v.exprId) && v.name == name => None
                case v => Some(name -> toNamedColumn(
                  inlineWith(v).transform {
                    case s: ScalarSubquery =>
                      val (i, onEmpty) = slot(s.exprId.id)
                      if (!matched) onEmpty
                      else onEmpty match {
                        // non-NULL on-empty (COUNT → 0): a key this
                        // aggregate's filter left uncovered reads NULL
                        // from the outer join — coalesce to the SQL value
                        case Literal(null, _) =>
                          UnresolvedAttribute(Seq(s"_sq$i"))
                        case e => Coalesce(Seq(
                          UnresolvedAttribute(Seq(s"_sq$i")), e))
                      }
                  }, relIds, prefix))
              }
            }
          return GraftMergeCommand(t, src, keys,
            updateWhen = cond.map(toNamedColumn(_, relIds, "_t_"))
              .getOrElse(lit(true)),
            deleteWhen = lit(false), insertWhen = lit(false),
            nmbsUpdateWhen = Some(cond.map(toNamedColumn(_, relIds))
              .getOrElse(lit(true))),
            nmbsSets = renderSets("", matched = false),
            updateSets = Some(renderSets("_t_", matched = true)),
            insertSets = Some(Nil))
        }
      }
    }
    val sets = buildSetsDeferred()
    val (pf, rg, pts) = cond.map(extractPruning(_, r, t))
      .getOrElse((Map.empty[String, Set[String]],
        Map.empty[String, MorReader.ColRange], Map.empty[String, Set[String]]))
    GraftUpdateCommand(t, sets,
      cond.map(toNamedColumnDeferred(_, relIds)).getOrElse(() => lit(true)),
      (pf, rg, pts))
  }

  private def makeMerge(m: MergeIntoTable): LogicalPlan = {
    val (r, t) = GraftRel.unapply(m.targetTable).get
    val tgtIds = m.targetTable.output.map(_.exprId).toSet
    val srcIds = m.sourceTable.output.map(_.exprId).toSet
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"graft MERGE supports equality-key ON, WHEN MATCHED [AND c] THEN " +
          s"UPDATE SET * | DELETE, WHEN NOT MATCHED [AND c] THEN INSERT *; " +
          s"got $what")
    // WITH SCHEMA EVOLUTION needs no handling here: by the time the
    // command is resolved, Spark's ResolveMergeIntoSchemaEvolution has
    // already computed the source-only columns, applied them through
    // GraftCatalog.alterTable (the engine's id-based addColumn), and
    // reloaded the target relation — the merge below just sees the
    // evolved schema (pre-existing rows read NULL for the new columns).
    // ON: conjunction of target.k = source.k (same column name — the
    // engine's mergeInto joins source columns by the target's key names)
    def stripAlias(e: Expression): Expression = e match {
      case Alias(c, _) => stripAlias(c)
      case Cast(c, _, _, _) => stripAlias(c)
      case x => x
    }
    // key-equality conjuncts drive ROUTING and the target read's key-
    // envelope pruning; every other conjunct (time bands, ranges — the
    // CDC event-time shape) rides into the join as a RESIDUAL that only
    // narrows matches, which keys equality keeps sound for pruning
    def keyOf(c: Expression): Option[String] = c match {
      case EqualTo(x, y) => (stripAlias(x), stripAlias(y)) match {
        case (a: AttributeReference, b: AttributeReference)
            if tgtIds(a.exprId) && srcIds(b.exprId) && a.name == b.name =>
          Some(a.name)
        case (b: AttributeReference, a: AttributeReference)
            if tgtIds(a.exprId) && srcIds(b.exprId) && a.name == b.name =>
          Some(a.name)
        case _ => None
      }
      case _ => None
    }
    val conjuncts = splitConjuncts(m.mergeCondition)
    val keyCols = conjuncts.flatMap(keyOf)
    if (keyCols.isEmpty)
      unsupported(s"ON ${m.mergeCondition.sql} — at least one " +
        "target.k = source.k equality conjunct is required")
    val residConjs = conjuncts.filter(keyOf(_).isEmpty)
    residConjs.foreach { c =>
      if (c.exists(_.isInstanceOf[SubqueryExpression]))
        unsupported(s"subquery in ON conjunct ${c.sql}")
    }
    // WHEN-clause conditions (and the ON) may evaluate in more than one
    // job (tombstone scan vs append build) — the same rule as DELETE/
    // UPDATE WHERE applies: non-deterministic conditions refuse, and
    // subqueries in clause conditions belong in the MERGE source
    (m.mergeCondition +:
      (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
        .flatMap {
          case UpdateAction(c, _, _) => c
          case DeleteAction(c) => c
          case i: InsertAction => i.condition
          case _ => None
        }).foreach { c =>
      requireDeterministic(c, "MERGE")
      if ((c ne m.mergeCondition) &&
          c.exists(_.isInstanceOf[SubqueryExpression]))
        unsupported(s"subquery in a WHEN clause condition ${c.sql} — " +
          "compute it as a column of the MERGE source instead")
    }
    // NMBS assignments evaluate over target-only rows — there is no source
    // frame to decorrelate into, so any subquery refuses here instead of
    // surfacing as a dangling-outer-reference Spark internal
    m.notMatchedBySourceActions.foreach {
      case u: UpdateAction => u.assignments.foreach { a =>
        if (a.value.exists(_.isInstanceOf[SubqueryExpression]))
          unsupported("subquery in a NOT MATCHED BY SOURCE assignment " +
            s"${a.key.sql} — precompute the value, or use a separate " +
            "UPDATE statement (which takes scalar subqueries)")
      }
      case _ =>
    }
    // Correlated scalar AGGREGATE subqueries in assignments decorrelate
    // into the MERGE SOURCE: `(SELECT agg(x) FROM aux WHERE aux.k = t.k)`
    // becomes a grouped per-key aggregate LEFT-OUTER using-joined onto the
    // source by the correlation key names. Sound because every correlation
    // key is either a SOURCE column (exact for UPDATE and INSERT actions
    // alike) or a TARGET column that is an ON key (t.k = s.k holds on
    // matched rows — the only rows UPDATE assignments touch); the
    // aggregate has at most one row per key, so the merge cardinality
    // guard stays safe. A key the enrichment does not cover reads the
    // aggregate's over-zero-rows value through a coalesce (COUNT → 0 per
    // SQL; the NULL-on-empty whitelist reads the join's NULL directly).
    val corrSubst = scala.collection.mutable.Map.empty[Long, Expression]
    val enrichedSource: LogicalPlan = {
      import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
      val corrSubs = (m.matchedActions ++ m.notMatchedActions).flatMap {
        case u: UpdateAction => u.assignments
        case i: InsertAction => i.assignments
        case _ => Nil
      }.flatMap(_.value.collect {
        case s: ScalarSubquery if s.outerAttrs.nonEmpty => s
      }).groupBy(_.exprId).map(_._2.head).toSeq.sortBy(_.exprId.id)
      corrSubs.zipWithIndex.foldLeft(m.sourceTable) { case (acc, (sq, i)) =>
        val keysOk = sq.outerAttrs.forall {
          case a: AttributeReference =>
            srcIds(a.exprId) || (tgtIds(a.exprId) && keyCols.contains(a.name))
          case _ => false
        }
        val dec =
          if (keysOk) decorrelateScalarAgg(sq, tgtIds ++ srcIds) else None
        val (aggPlan, keys, onEmpty) = dec.getOrElse(unsupported(
          "correlated subquery in an assignment — only a scalar AGGREGATE " +
            "correlated by equality on source columns or ON key columns " +
            "decorrelates into the MERGE source; otherwise join the " +
            "enrichment into the source (USING (SELECT …)) yourself"))
        val renamed = aggPlan match {
          case agg @ Aggregate(_, exprs, _, _) =>
            agg.copy(aggregateExpressions = exprs.map {
              case a @ Alias(c, "_sq0") => Alias(c, s"_sqm$i")()
              case x => x
            })
          case other => other
        }
        corrSubst(sq.exprId.id) = onEmpty match {
          case Literal(null, _) => UnresolvedAttribute(Seq(s"_sqm$i"))
          case e => Coalesce(Seq(UnresolvedAttribute(Seq(s"_sqm$i")), e))
        }
        org.apache.spark.sql.catalyst.plans.logical.Join(acc, renamed,
          org.apache.spark.sql.catalyst.plans.UsingJoin(
            org.apache.spark.sql.catalyst.plans.LeftOuter, keys),
          None, org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
      }
    }
    // the merge conditions evaluate over the engine's joined frame: source
    // columns under their own names, matched-target columns under _t_
    def condCol(e: Option[Expression], default: Column): Column =
      e.map(x => org.apache.spark.sql.graft.GraftSqlShim.column(
        inlineWith(x).transform {
        case a: AttributeReference if tgtIds(a.exprId) =>
          UnresolvedAttribute(Seq(s"_t_${a.name}"))
        case a: AttributeReference if srcIds(a.exprId) =>
          UnresolvedAttribute(Seq(a.name))
      })).getOrElse(default)
    // the aligned SET * / INSERT * shape: EVERY target column assigned,
    // each from the same-named source column (possibly cast) — takes the
    // engine's star fast path, which copies the whole source row; a
    // partial list (`SET p = s.p`) must keep the unassigned columns
    val targetNames = m.targetTable.output.map(_.name).toSet
    def isStarAssign(assignments: Seq[Assignment]): Boolean =
      assignments.collect { case Assignment(a: AttributeReference, _) => a.name }
        .toSet == targetNames &&
      assignments.forall { asg =>
        (asg.key, stripAlias(asg.value)) match {
          case (a: AttributeReference, v: AttributeReference) =>
            tgtIds(a.exprId) && srcIds(v.exprId) && v.name == a.name
          case _ => false
        }
      }
    // non-star assignments: arbitrary expressions over source columns
    // (plain names) and matched-target columns (`_t_` prefix).
    // UNCORRELATED scalar subqueries substitute as execute-once literals
    // (one row, one column, loud otherwise — the same bounded-
    // materialization treatment UPDATE SET takes); correlated shapes
    // refuse with the MERGE-source rewrite hint, since the enrichment
    // join belongs in the source.
    def setsOf(assignments: Seq[Assignment], what: String): Seq[(String, Column)] =
      assignments.map { asg =>
        val tname = asg.key match {
          case a: AttributeReference if tgtIds(a.exprId) => a.name
          case other => unsupported(s"$what target ${other.sql}")
        }
        val value =
          if (!asg.value.exists(_.isInstanceOf[SubqueryExpression])) asg.value
          else {
            import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
            // correlated aggregates already decorrelated into the source —
            // substitute their enrichment column; anything left must be an
            // uncorrelated scalar (an execute-once literal)
            val pre = asg.value.transform {
              case s: ScalarSubquery if corrSubst.contains(s.exprId.id) =>
                corrSubst(s.exprId.id)
            }
            val allUncorr = pre.collect {
              case s: SubqueryExpression => s
            }.forall {
              case s: ScalarSubquery => s.outerAttrs.isEmpty
              case _ => false
            }
            if (!allUncorr) unsupported(
              s"correlated subquery in $what assignment $tname — join the " +
                "enrichment into the MERGE source (USING (SELECT …)) instead")
            pre.transform {
              case s: ScalarSubquery =>
                val rows = org.apache.spark.sql.graft.GraftSqlShim
                  .ofRows(spark, s.plan).limit(2).collect()
                if (rows.length > 1) throw new IllegalStateException(
                  s"scalar subquery in MERGE $what assignment $tname " +
                    "returned more than one row")
                Literal.create(if (rows.isEmpty) null else rows(0).get(0),
                  s.dataType)
            }
          }
        tname -> condCol(Some(value), lit(null))
      }
    val updActions = m.matchedActions.collect { case u: UpdateAction => u }
    val delActions = m.matchedActions.collect { case d: DeleteAction => d }
    m.matchedActions.foreach {
      case _: UpdateAction | _: DeleteAction =>
      case other => unsupported(s"matched action $other")
    }
    val insActions = m.notMatchedActions.map {
      case i: InsertAction => i
      case other => unsupported(s"not-matched action $other")
    }
    // star (full-schema source) only when an UPDATE/INSERT action actually
    // consumes the source row; delete-only and NMBS-only merges take the
    // partial path, where the source needs just its keys + condition cols
    val star = (updActions.nonEmpty || insActions.nonEmpty) &&
      updActions.forall(u => isStarAssign(u.assignments)) &&
      insActions.forall(i => isStarAssign(i.assignments))
    // SQL evaluates a clause group's actions in ORDER: the first whose
    // condition holds applies. Each action's EFFECTIVE condition conjoins
    // the negation of every earlier condition in its group (NULL counts
    // as not-fired, so earlier NULL conditions don't mask later actions);
    // N conditioned UPDATE branches then fold into ONE per-column
    // CASE WHEN bundle — exactly one effective condition is true per row.
    def fired(e: Expression): Expression =
      Coalesce(Seq(e, Literal.FalseLiteral))
    def effectiveConds(conds: Seq[Option[Expression]]): Seq[Expression] = {
      var prior: Seq[Expression] = Nil
      conds.map { c =>
        val own = c.getOrElse(Literal.TrueLiteral)
        val eff = prior.foldLeft(own)((acc, p) => And(acc, Not(fired(p))))
        prior :+= own
        eff
      }
    }
    // matched actions share ONE ordered group (UPDATE and DELETE interleave)
    val matchedEff = effectiveConds(m.matchedActions.map {
      case UpdateAction(c, _, _) => c
      case DeleteAction(c) => c
    })
    val updEff = m.matchedActions.zip(matchedEff).collect {
      case (u: UpdateAction, eff) => (u, eff) }
    val delEff = m.matchedActions.zip(matchedEff).collect {
      case (_: DeleteAction, eff) => eff }
    val insEff = insActions.zip(effectiveConds(insActions.map(_.condition)))
    def orAll(es: Seq[Expression]): Option[Expression] =
      es.reduceOption(Or)
    val updateWhen: Column =
      orAll(updEff.map(_._2)).map(e => condCol(Some(e), lit(true)))
        .getOrElse(lit(false))
    val deleteWhen: Column =
      orAll(delEff).map(e => condCol(Some(e), lit(true)))
        .getOrElse(lit(false))
    val insertWhen: Column =
      orAll(insEff.map(_._2)).map(e => condCol(Some(e), lit(true)))
        .getOrElse(lit(false))
    import org.apache.spark.sql.functions.when
    // any assignment carrying a subquery defers the WHOLE sets build to
    // execute time (the bounded collect must not run during analysis);
    // shape validation still fires NOW so a correlated subquery errors
    // at analysis, not mid-execution
    val anyAssignSubquery =
      (updActions.flatMap(_.assignments) ++ insActions.flatMap(_.assignments))
        .exists(_.value.exists(_.isInstanceOf[SubqueryExpression]))
    if (anyAssignSubquery) {
      import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
      (updActions.flatMap(_.assignments) ++ insActions.flatMap(_.assignments))
        .filter(_.value.exists(_.isInstanceOf[SubqueryExpression]))
        .foreach { asg =>
          // correlated scalar aggregates are in corrSubst (the enrichment
          // builder threw for any other correlated shape); what this still
          // refuses is a non-scalar subquery (EXISTS / IN) in a value
          val ok = asg.value.collect {
            case s: SubqueryExpression => s
          }.forall {
            case s: ScalarSubquery =>
              s.outerAttrs.isEmpty || corrSubst.contains(s.exprId.id)
            case _ => false
          }
          if (!ok) unsupported(
            s"non-scalar subquery in assignment ${asg.key.sql} — join the " +
              "enrichment into the MERGE source (USING (SELECT …)) instead")
        }
    }
    def buildUpdateSets(): Option[Seq[(String, Column)]] =
      if (star) None
      else Some {
        val perAction = updEff.map { case (u, eff) =>
          (condCol(Some(eff), lit(true)), setsOf(u.assignments, "UPDATE").toMap)
        }
        val cols = updEff.flatMap(_._1.assignments.map(_.key match {
          case a: AttributeReference => a.name
          case other => unsupported(s"UPDATE target ${other.sql}")
        })).distinct
        cols.map { c =>
          c -> perAction.foldRight(org.apache.spark.sql.functions
              .col(s"_t_$c"): Column) { case ((effC, sets), rest) =>
            when(effC, sets.getOrElse(c,
              org.apache.spark.sql.functions.col(s"_t_$c"))).otherwise(rest)
          }
        }
      }
    def buildInsertSets(): Option[Seq[(String, Column)]] =
      if (star) None
      else Some {
        val perAction = insEff.map { case (i, eff) =>
          (condCol(Some(eff), lit(true)), setsOf(i.assignments, "INSERT").toMap)
        }
        val cols = insEff.flatMap(_._1.assignments.map(_.key match {
          case a: AttributeReference => a.name
          case other => unsupported(s"INSERT target ${other.sql}")
        })).distinct
        cols.map { c =>
          c -> perAction.foldRight(lit(null): Column) {
            case ((effC, sets), rest) =>
              when(effC, sets.getOrElse(c, lit(null))).otherwise(rest)
          }
        }
      }
    // WHEN NOT MATCHED BY SOURCE: conditions and assignments may reference
    // TARGET columns only (there is no source row, per SQL). The engine's
    // NMBS frame carries target columns under PLAIN names. SQL evaluates
    // clauses in ORDER (first whose condition holds applies), while the
    // engine applies delete-over-update — so each action's effective
    // condition conjoins the negation of every EARLIER NMBS condition,
    // making the order-sensitive case (UPDATE listed before DELETE, row
    // satisfies both) come out right under either application order.
    def nmbsExprCol(e: Expression, what: String): Column =
      org.apache.spark.sql.graft.GraftSqlShim.column(inlineWith(e).transform {
        case a: AttributeReference if tgtIds(a.exprId) =>
          UnresolvedAttribute(Seq(a.name))
        case a: AttributeReference if srcIds(a.exprId) =>
          unsupported(s"$what references source column ${a.name} " +
            "inside WHEN NOT MATCHED BY SOURCE")
      })
    // NMBS actions fold exactly like the matched group: first-match-wins
    // effective conditions, N conditioned UPDATE branches into one
    // per-column CASE WHEN bundle (unassigned columns keep the target's
    // value — plain names in the NMBS frame)
    m.notMatchedBySourceActions.foreach {
      case _: UpdateAction | _: DeleteAction =>
      case other => unsupported(s"not-matched-by-source action $other")
    }
    val nmbsEffs = effectiveConds(m.notMatchedBySourceActions.map {
      case UpdateAction(c, _, _) => c
      case DeleteAction(c) => c
    })
    val nmbsUpdEff = m.notMatchedBySourceActions.zip(nmbsEffs).collect {
      case (u: UpdateAction, eff) => (u, eff) }
    val nmbsDelEff = m.notMatchedBySourceActions.zip(nmbsEffs).collect {
      case (_: DeleteAction, eff) => eff }
    val nmbsUpdateWhen: Option[Column] = orAll(nmbsUpdEff.map(_._2))
      .map(e => nmbsExprCol(e, "NOT MATCHED BY SOURCE UPDATE"))
    val nmbsDeleteWhen: Option[Column] = orAll(nmbsDelEff)
      .map(e => nmbsExprCol(e, "NOT MATCHED BY SOURCE DELETE"))
    val nmbsSets: Seq[(String, Column)] = {
      def nameOf(asg: Assignment): String = asg.key match {
        case a: AttributeReference if tgtIds(a.exprId) => a.name
        case other => unsupported(
          s"NOT MATCHED BY SOURCE UPDATE target ${other.sql}")
      }
      val perAction = nmbsUpdEff.map { case (u, eff) =>
        (nmbsExprCol(eff, "NOT MATCHED BY SOURCE UPDATE"),
          u.assignments.map(a => nameOf(a) ->
            nmbsExprCol(a.value, s"SET ${nameOf(a)}")).toMap)
      }
      val cols = nmbsUpdEff.flatMap(_._1.assignments.map(nameOf)).distinct
      cols.map { c =>
        c -> perAction.foldRight(org.apache.spark.sql.functions
            .col(c): Column) { case ((effC, sets), rest) =>
          org.apache.spark.sql.functions.when(effC,
            sets.getOrElse(c, org.apache.spark.sql.functions.col(c)))
            .otherwise(rest)
        }
      }
    }
    val onResidual = residConjs.reduceOption(And)
      .map(e => condCol(Some(e), lit(true)))
    if (anyAssignSubquery)
      GraftMergeCommand(t, enrichedSource, keyCols,
        updateWhen, deleteWhen, insertWhen,
        nmbsUpdateWhen, nmbsDeleteWhen, nmbsSets,
        updateSets = None, insertSets = None, onResidual = onResidual,
        updateSetsDeferred = Some(() => buildUpdateSets()),
        insertSetsDeferred = Some(() => buildInsertSets()))
    else
      GraftMergeCommand(t, enrichedSource, keyCols,
        updateWhen, deleteWhen, insertWhen,
        nmbsUpdateWhen, nmbsDeleteWhen, nmbsSets,
        buildUpdateSets(), buildInsertSets(), onResidual)
  }
}
