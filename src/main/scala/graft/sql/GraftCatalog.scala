package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCapability, TableCatalog, TableCatalogCapability, TableChange}
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.Versioned

/** DataSource V2 `TableCatalog` over [[graft.lake.Versioned]] tables —
  * the SQL front door of the lake. Register it per session:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sql.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  * }}}
  *
  * and `graft.db.t` resolves to the versioned table at
  * `<warehouse>/db/t`: `CREATE TABLE` / `DROP TABLE` / `SHOW TABLES`
  * route here; `SELECT … VERSION AS OF k` arrives through the V2
  * time-travel hook ([[loadTable(ident:Identifier,version:String)*]]);
  * reads, `INSERT INTO`, `DELETE`/`UPDATE`/`MERGE INTO` are claimed
  * during analysis by [[GraftSqlRule]] (injected by
  * [[graft.GraftExtensions]] — the catalog REQUIRES the extensions;
  * without them a read fails the V2 capability check with a clear
  * error rather than a wrong answer) and routed to the same
  * `Versioned` operators the Scala API calls, so the SQL path and the
  * Scala path produce byte-identical manifests. The reference drives
  * its whole warehouse layer through SQL strings
  * (transf.py:215-273, main.py:418-434); this is that interaction
  * model over the lake.
  *
  * A table IS its directory (an identifier maps to a path; `_manifest`
  * marks tablehood), so catalog metadata needs no extra store and
  * every lake capability — time travel, change feed, DML, RESTORE —
  * stays reachable on the same data through the Scala API
  * concurrently. All filesystem access goes through the table's
  * Hadoop `FileSystem`, exactly like the lake itself.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>"))
  }

  override def name(): String = catalogName

  /** `ALTER TABLE … ADD CONSTRAINT` parses only when the catalog
    * declares it. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def session: SparkSession = SparkSession.active

  private def fs(p: Path) =
    p.getFileSystem(session.sparkContext.hadoopConfiguration)

  private def dirOf(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  /** The identifier's table directory — [[GraftCtasCommand]] commits
    * straight into it; procedures and the table-valued functions
    * resolve their `'db.t'` arguments through it. */
  private[graft] def tableDir(ident: Identifier): String = dirOf(ident)

  private def isTableDir(dir: String): Boolean = {
    val m = new Path(dir, "_manifest")
    fs(m).exists(m)
  }

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs(ns)
    if (!f.exists(ns)) throw new NoSuchNamespaceException(
      name() +: namespace.toSeq)
    f.listStatus(ns).filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => isTableDir((warehouse +: namespace.toSeq :+ t)
        .mkString("/")))
      .sorted.map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(dirOf(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    GraftTable(s"${name()}.${ident.namespace().mkString(".")}." +
      ident.name(), dir, None)
  }

  /** `VERSION AS OF <k>` / `VERSION AS OF '<tag>'` — Spark's V2
    * time-travel hook. An integer pins that version; any other
    * string resolves as a NAMED TAG ([[Versioned.tag]] — the
    * durable release-snapshot ref). [[GraftSqlRule]] plans the read
    * as `Versioned.read(_, dir, Some(k))`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    loadTable(ident) match {
      case t: GraftTable =>
        val v = Versioned.resolveRef(session, t.dir, version)
        require(Versioned.latestVersion(session, t.dir).exists(_ >= v) &&
          v >= 0, s"version $v does not exist in ${t.dir}")
        t.copy(asOfVersion = Some(v))
      case other => other
    }
  }

  /** `TIMESTAMP AS OF <t>` — Spark passes epoch MICROSECONDS; the
    * table pins the newest version committed at or before it
    * ([[Versioned.versionAsOfTimestamp]] — the recorded `#ts`
    * commit instants [[Versioned.history]] reports). */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadTable(ident) match {
      case t: GraftTable =>
        val v = Versioned.versionAsOfTimestamp(session, t.dir, timestamp)
          .getOrElse(throw new IllegalArgumentException(
            s"no version of ${t.name()} was committed at or before " +
              s"timestamp $timestamp (epoch microseconds)"))
        t.copy(asOfVersion = Some(v))
      case other => other
    }

  /** `CREATE TABLE … (…, CONSTRAINT c CHECK (p))` — the TableInfo
    * overload is the one Spark hands inline constraints to (the
    * default implementation silently DROPS them). The table publishes
    * as v0 (declared schema, no rows), then each CHECK declares
    * through [[Versioned.addCheck]] — a commit per constraint, the
    * same audit trail the ALTER path leaves. A constraint this lake
    * cannot enforce (PRIMARY KEY / UNIQUE / FK) rolls the table back
    * and refuses loudly — a created table whose declared contract is
    * silently unenforced is worse than no table. */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val created = createTable(ident, info.schema(), info.partitions(),
      info.properties())
    if (info.constraints().isEmpty) created
    else {
      try {
        info.constraints().foreach {
          case c: Check =>
            require(c.enforced(),
              "graft CHECK constraints are always ENFORCED — NOT " +
                "ENFORCED declarations are refused rather than " +
                "silently unenforced")
            Versioned.addCheck(session, dirOf(ident), c.name(),
              c.predicateSql())
          case other => throw new UnsupportedOperationException(
            "graft tables enforce CHECK constraints only; got: " +
              other.toDDL)
        }
      } catch {
        case t: Throwable => dropTable(ident); throw t
      }
      loadTable(ident)
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val clusterByDdl = GraftTableProps.clusterByOf(partitions.toSeq,
      "graft CREATE TABLE")
    // TBLPROPERTIES are the file-skipping policy declaration (and
    // nothing else): unknown keys and non-parquet providers are
    // refused loudly rather than silently dropped
    val props = Option(properties).map(_.asScala.toMap)
      .getOrElse(Map.empty[String, String])
    val (statCols, bloomCfg, cadence, colMapMode, clusterByProp,
      txnRetention, schemaEnforce, maintain) =
      GraftTableProps.parse(props, "graft CREATE TABLE")
    val clusterBy =
      GraftTableProps.resolveClusterBy(clusterByDdl, clusterByProp)
    (statCols ++ bloomCfg.map(_._1) ++ clusterBy.getOrElse(Nil))
      .foreach(c => require(schema.fieldNames.contains(c),
        s"policy column '$c' is not in the declared schema " +
          schema.fieldNames.mkString("[", ", ", "]")))
    val dir = dirOf(ident)
    if (isTableDir(dir)) throw new TableAlreadyExistsException(
      (name() +: ident.namespace().toSeq :+ ident.name()).mkString("."))
    // v0 is an empty commit carrying the declared schema — and the
    // declared policy headers, so the FIRST insert already measures
    // stats and builds blooms (commitImpl inherits table policy)
    val empty = session.createDataFrame(
      new util.ArrayList[org.apache.spark.sql.Row](), schema)
    // cluster columns join the stat policy from birth: v0's (possibly
    // zero-row) file then records inverted-sentinel groups and prunes
    // out of every window instead of being conservatively kept forever
    val statCols0 = (statCols ++ clusterBy.getOrElse(Nil)).distinct
    if (statCols0.isEmpty && bloomCfg.isEmpty)
      Versioned.commit(session, dir, empty)
    else
      Versioned.commitWithIndex(session, dir, empty, statCols0,
        bloomCfg.map(_._1),
        bloomExpectedItems =
          bloomCfg.headOption.map(_._2).getOrElse(100000L),
        bloomFpp = bloomCfg.headOption.map(_._3).getOrElse(0.03))
    // id column mapping declares FIRST, on the still-empty table —
    // that is when every schema column can mint a uuid physical name
    colMapMode.foreach(m => Versioned.setColumnMapping(session, dir, m))
    // the declared cadence / clustering / txn-retention policies
    // publish as ONE metadata commit before any data exists, so the
    // FIRST insert already honors them (range-clustered files, the
    // declared snapshot cadence) — three separate commits would
    // triple the CAS round trips and noise the history
    if (cadence.isDefined || clusterBy.isDefined ||
        txnRetention.isDefined || schemaEnforce.exists(identity) ||
        maintain.nonEmpty)
      Versioned.setPolicy(session, dir,
        manifestCheckpointEvery = cadence.map(n => Some(n)),
        clusterBy = clusterBy,
        txnRetention = txnRetention.map(ms => Some(ms)),
        schemaEnforce = schemaEnforce.filter(identity),
        maintainSet = maintain)
    loadTable(ident)
  }

  /** `ALTER TABLE … ADD COLUMNS (…)` — published as one empty APPEND
    * commit carrying the evolved schema (the same union
    * [[Versioned.commit]] applies when an append brings new columns),
    * so the change is versioned, time-travelable, and renders
    * per-version like any other evolution. Everything else (drop /
    * rename / retype) would rewrite history on an append-only schema
    * and is refused loudly. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    // a zero-change ALTER (e.g. DROP COLUMN IF EXISTS on an absent
    // column — Spark resolves it away before the catalog sees it) is
    // a no-op, not a no-op COMMIT: publishing an empty version for
    // it would pollute history
    if (changes.isEmpty) return loadTable(ident)
    // constraint DDL routes straight to the lake's CHECK machinery
    // (addCheck validates the EXISTING rows before publishing the
    // declaration as a commit — the same race-safe gate the Scala
    // API runs); everything else is schema DDL below
    changes.toSeq match {
      case Seq(ac: TableChange.AddConstraint) =>
        ac.constraint() match {
          case c: Check =>
            require(c.enforced(),
              "graft CHECK constraints are always ENFORCED — " +
                "NOT ENFORCED declarations are refused rather than " +
                "silently unenforced")
            Versioned.addCheck(session, dir, c.name(), c.predicateSql())
          case other => throw new UnsupportedOperationException(
            "graft tables enforce CHECK constraints only; got: " +
              other.toDDL)
        }
        return loadTable(ident)
      case Seq(dc: TableChange.DropConstraint) =>
        // IF EXISTS tolerates exactly the absent-constraint case; any
        // other failure (no committed version, CAS exhaustion) still
        // surfaces
        if (Versioned.checks(session, dir).exists(_._1 == dc.name()))
          Versioned.dropCheck(session, dir, dc.name())
        else if (!dc.ifExists())
          throw new IllegalArgumentException(
            s"no CHECK constraint '${dc.name()}' on $dir")
        return loadTable(ident)
      // ALTER TABLE … SET/UNSET TBLPROPERTIES: the graft.* policy keys
      // re-declare the file-skipping policy as a metadata commit
      // ([[Versioned.setPolicy]] — same audit trail as addCheck);
      // anything else is refused loudly
      case ps if ps.nonEmpty && ps.forall(c =>
          c.isInstanceOf[TableChange.SetProperty] ||
          c.isInstanceOf[TableChange.RemoveProperty]) =>
        val sets = ps.collect {
          case sp: TableChange.SetProperty => sp.property -> sp.value
        }.toMap
        val removes = ps.collect {
          case rp: TableChange.RemoveProperty => rp.property
        }.toSet
        require((sets.keySet ++ removes)
            .subsetOf(GraftTableProps.PolicyKeys),
          "graft ALTER TABLE SET/UNSET TBLPROPERTIES takes the policy " +
            s"keys only (${GraftTableProps.PolicyKeys.toSeq.sorted
              .mkString(", ")}); got: " +
            ((sets.keySet ++ removes) -- GraftTableProps.PolicyKeys)
              .mkString(", "))
        val (statCols, bloomCfg, cadence, colMapMode, clusterByProp,
          txnRetentionProp, schemaEnforceProp, maintainSets) =
          GraftTableProps.parse(sets, "graft ALTER TABLE")
        val statOpt =
          if (sets.contains(GraftTableProps.StatsKey)) Some(statCols)
          else if (removes.contains(GraftTableProps.StatsKey)) Some(Nil)
          else None
        val bloomOpt =
          if (sets.contains(GraftTableProps.BloomKey)) Some(bloomCfg)
          else if (removes.contains(GraftTableProps.BloomKey))
            Some(Nil: Seq[(String, Long, Double)])
          else None
        // SET declares a cadence; UNSET returns the table to the
        // process default (Some(None) = clear the header)
        val cadenceOpt: Option[Option[Int]] =
          if (sets.contains(GraftTableProps.CadenceKey)) Some(cadence)
          else if (removes.contains(GraftTableProps.CadenceKey))
            Some(None)
          else None
        require(!removes.contains(GraftTableProps.ModeKey),
          "column-mapping mode cannot be UNSET — files already carry " +
            "uuid physical names")
        // SET declares write-time clustering; UNSET clears it (later
        // appends stop range-sorting; existing files keep their layout)
        val clusterOpt: Option[Seq[String]] =
          if (sets.contains(GraftTableProps.ClusterKey)) clusterByProp
          else if (removes.contains(GraftTableProps.ClusterKey))
            Some(Nil)
          else None
        // SET declares a ledger-retention horizon; UNSET clears it
        // (the ledger keeps every writer forever again)
        val txnRetOpt: Option[Option[Long]] =
          if (sets.contains(GraftTableProps.TxnRetentionKey))
            Some(txnRetentionProp)
          else if (removes.contains(GraftTableProps.TxnRetentionKey))
            Some(None)
          else None
        // SET 'true' declares enforcement, SET 'false' / UNSET clears
        val enforceOpt: Option[Boolean] =
          if (sets.contains(GraftTableProps.SchemaEnforceKey))
            schemaEnforceProp
          else if (removes.contains(GraftTableProps.SchemaEnforceKey))
            Some(false)
          else None
        // maintenance thresholds merge per KEY — delta semantics
        // applied inside setPolicy's CAS loop, so tuning one
        // threshold never silently clears the others, even under
        // concurrent ALTERs
        val maintainRemoves = removes
          .filter(_.startsWith(GraftTableProps.MaintainPrefix))
          .map(_.stripPrefix(GraftTableProps.MaintainPrefix))
        val maintainTouched =
          maintainSets.nonEmpty || maintainRemoves.nonEmpty
        // a mode UPGRADE is its own commit; the policy halves follow
        colMapMode.foreach(m =>
          Versioned.setColumnMapping(session, dir, m))
        require(statOpt.isDefined || bloomOpt.isDefined ||
            cadenceOpt.isDefined || colMapMode.isDefined ||
            clusterOpt.isDefined || txnRetOpt.isDefined ||
            enforceOpt.isDefined || maintainTouched,
          "SET TBLPROPERTIES must declare " +
            s"${GraftTableProps.StatsKey}, ${GraftTableProps.BloomKey}, " +
            s"${GraftTableProps.CadenceKey}, " +
            s"${GraftTableProps.ClusterKey}, " +
            s"${GraftTableProps.TxnRetentionKey}, " +
            s"${GraftTableProps.SchemaEnforceKey}, " +
            s"${GraftTableProps.MaintainPrefix}*, or " +
            s"${GraftTableProps.ModeKey}")
        if (statOpt.isDefined || bloomOpt.isDefined ||
            cadenceOpt.isDefined || clusterOpt.isDefined ||
            txnRetOpt.isDefined || enforceOpt.isDefined ||
            maintainTouched)
          Versioned.setPolicy(session, dir, statOpt, bloomOpt,
            cadenceOpt, clusterBy = clusterOpt,
            txnRetention = txnRetOpt, schemaEnforce = enforceOpt,
            maintainSet = maintainSets.toSeq.sortBy(_._1),
            maintainUnset = maintainRemoves.toSeq)
        return loadTable(ident)
      // ALTER TABLE … RENAME COLUMN: a metadata-only commit through
      // the lake's column mapping (physical names stay on disk; time
      // travel renders old versions under old names). Constraint and
      // bloom-index interactions refuse loudly inside renameColumn.
      case Seq(rc: TableChange.RenameColumn) =>
        require(rc.fieldNames().length == 1,
          "graft RENAME COLUMN renames top-level columns only, got: " +
            rc.fieldNames().mkString("."))
        Versioned.renameColumn(session, dir, rc.fieldNames()(0),
          rc.newName())
        return loadTable(ident)
      // ALTER TABLE … DROP COLUMN: a metadata-only commit — the
      // logical column leaves the schema, data files keep their bytes
      // (scans stop requesting the physical column), and a `#coldrop`
      // tombstone refuses a later physical-name collision. CHECK and
      // bloom-index interactions refuse loudly inside dropColumn.
      case Seq(dc: TableChange.DeleteColumn) =>
        require(dc.fieldNames().length == 1,
          "graft DROP COLUMN drops top-level columns only, got: " +
            dc.fieldNames().mkString("."))
        if (!dc.ifExists() || Versioned.read(session, dir).schema
            .fieldNames.contains(dc.fieldNames()(0)))
          Versioned.dropColumn(session, dir, dc.fieldNames()(0))
        return loadTable(ident)
      case _ =>
    }
    val schema = Versioned.read(session, dir).schema
    val added = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft ALTER TABLE adds top-level columns only, got: " +
            a.fieldNames().mkString("."))
        val colName = a.fieldNames()(0)
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(colName)),
          s"column '$colName' already exists in ${ident.name()}")
        require(a.isNullable,
          s"added column '$colName' must be nullable — rows committed " +
            "before the evolution read it as NULL")
        require(a.position() == null,
          "graft schema evolution appends columns at the end")
        require(a.defaultValue() == null,
          "added columns take no DEFAULT — pre-evolution rows read NULL")
        StructField(colName, a.dataType(), nullable = true)
      case other => throw new UnsupportedOperationException(
        "graft ALTER TABLE supports ADD COLUMNS, RENAME COLUMN and " +
          "DROP COLUMN — a retype rewrites history (publish a " +
          "replace commit instead); got: " + other)
    }
    Versioned.addColumns(session, dir, added)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTableDir(dir)) false
    else fs(new Path(dir)).delete(new Path(dir), true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = new Path(dirOf(oldIdent))
    val to = new Path(dirOf(newIdent))
    if (!isTableDir(from.toString))
      throw new NoSuchTableException(oldIdent)
    if (isTableDir(to.toString)) throw new TableAlreadyExistsException(
      (name() +: newIdent.namespace().toSeq :+ newIdent.name())
        .mkString("."))
    require(fs(from).rename(from, to), s"rename $from -> $to failed")
  }

  // -------------------------------------------------------- procedures

  /** `CALL graft.system.<proc>(…)` — the maintenance verbs
    * ([[GraftProcedures]]: history / restore / expire / compact /
    * dv_debt), each routing to the same [[Versioned]] operator the
    * Scala API calls. */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val known = GraftProcedures.names.mkString(", ")
    require(ident.namespace().sameElements(Array("system")),
      s"graft procedures live in the 'system' namespace: " +
        s"CALL ${name()}.system.<proc> — known: $known")
    GraftProcedures.load(this, ident.name()).getOrElse(
      throw new UnsupportedOperationException(
        s"unknown procedure '${ident.name()}' — known: $known"))
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names
        .map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // -------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    val f = fs(root)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).sortBy(_.head)
  }

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(name() +: namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
    fs(p).exists(p)
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace))
      Map(SupportsNamespaces.PROP_LOCATION ->
        (warehouse +: namespace.toSeq).mkString("/")).asJava
    else throw new NoSuchNamespaceException(name() +: namespace.toSeq)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
    fs(p).mkdirs(p)
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs(p)
    if (!f.exists(p)) false
    else {
      require(cascade || f.listStatus(p).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      f.delete(p, true)
    }
  }
}

/** A versioned lake table as seen by the V2 catalog. Capabilities are
  * deliberately EMPTY: scans and writes never go through the V2
  * `ScanBuilder`/`WriteBuilder` machinery (a hand-rolled
  * `PartitionReader` would lose the vectorized parquet reader and
  * whole-stage codegen) — [[GraftSqlRule]] replaces the relation with
  * the SAME native-parquet plan `Versioned.read` builds for the Scala
  * API, and claims the DML plans before Spark's V2 rewrites look for
  * capabilities. `version` is `Some(k)` for a `VERSION AS OF k`
  * reference.
  *
  * STREAMING (`spark.readStream.table("graft.db.t")` and
  * `df.writeStream.format("graft").toTable("graft.db.t")`) resolves
  * through [[org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback]]
  * — the hook Spark consults when a V2 table lacks MICRO_BATCH_READ /
  * STREAMING_WRITE (the route Delta ships): [[v1Table]] names the
  * `graft` V1 provider in `mode=rows` anchored at `head`, so a
  * catalog-addressed read delivers the CURRENT snapshot then the
  * tail as PLAIN ROWS (post-anchor delete/rewrite commits fail
  * loudly unless the reader sets `skipChangeCommits`) — exactly
  * Delta's stream-a-table semantics — and a catalog-addressed write
  * lands exactly-once idempotent commits
  * ([[graft.streaming.GraftSink]]). The CHANGE FEED (with
  * `_change_type`/`_commit_version`/`_commit_timestamp`) stays on
  * `readStream.format("graft-changes")` — its schema is wider than
  * the table's, which a catalog-resolved relation cannot carry.
  */
final case class GraftTable(fullName: String, dir: String,
    asOfVersion: Option[Int]) extends Table
  with org.apache.spark.sql.graft.GraftV1StreamingFallback {

  override def name(): String = fullName

  /** The V1 streaming fallback: `readStream.table` on this table is a
    * plain-rows `graft` stream anchored at `head` — the CURRENT
    * snapshot (paged) then the tail, Delta's stream-a-table
    * semantics: history BEFORE query start is never replayed, so a
    * fresh stream on a table whose past holds deletes/rewrites starts
    * clean instead of failing (and `skipChangeCommits` cannot
    * resurrect pre-anchor deletions). Reader options override these
    * storage properties — `option("startingVersion", "0")` opts back
    * into a full-history replay. The same CatalogTable serves the
    * WRITE side: `writeStream.format("graft").toTable("graft.db.t")`
    * resolves the provider to the sink half
    * ([[graft.streaming.GraftSink]], exactly-once idempotent
    * commits), with the location carrying the table directory. */
  override def v1Table
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(asOfVersion.isEmpty,
      "streaming a time-traveled graft table is not supported — " +
        "stream the live table, or batch-read the pinned version")
    catalogCrumb.copy(
      storage = org.apache.spark.sql.catalyst.catalog
        .CatalogStorageFormat.empty.copy(
          locationUri = Some(new Path(dir).toUri),
          properties = Map("path" -> dir, "mode" -> "rows",
            "startingVersion" -> "head")))
  }

  /** Identifier-bearing CatalogTable BREADCRUMB for the rewritten
    * read plan's leaf LogicalRelations ([[GraftSqlRule]] attaches
    * it): V1 catalog walks — `spark.catalog.refreshTable`'s cache
    * invalidation, which the engine runs after every
    * catalog-addressed streaming-sink batch — unconditionally `.get`
    * a LogicalRelation's catalogTable, so a bare native-parquet leaf
    * would NPE the walk. Metadata only; the relation's own FileIndex
    * stays the scan authority. */
  private[graft] def catalogCrumb
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    val parts = fullName.split('.')
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(
      parts.last,
      if (parts.length >= 2) Some(parts(parts.length - 2)) else None,
      parts.headOption.filter(_ => parts.length >= 3))
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = ident,
      tableType =
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog
        .CatalogStorageFormat.empty.copy(
          locationUri = Some(new Path(dir).toUri),
          properties = Map("path" -> dir)),
      schema = schema,
      provider = Some("graft"))
  }

  // resolved once per loadTable: Table.schema() is consulted
  // repeatedly during analysis, and each evaluation is a manifest read
  override lazy val schema: StructType =
    Versioned.read(SparkSession.active, dir, asOfVersion).schema

  override def capabilities(): util.Set[TableCapability] =
    util.Collections.emptySet()

  /** The referenced version's CHECK constraints (head, or the pinned
    * `asOfVersion` for a time-traveled reference), surfaced to
    * DESCRIBE and the catalog API — always ENFORCED + VALID, because
    * [[Versioned.addCheck]] refuses a declaration the existing rows
    * violate and every later commit re-validates its staged rows. */
  override def constraints(): Array[Constraint] =
    Versioned.checks(SparkSession.active, dir, asOfVersion)
      .map { case (n, sql) =>
        Constraint.check(n).predicateSql(sql)
          .enforced(true)
          .validationStatus(Constraint.ValidationStatus.VALID)
          .build()
      }.toArray

  // resolved once per loadTable, like schema: DESCRIBE/SHOW
  // TBLPROPERTIES consult this and each evaluation is a manifest read
  private lazy val policyProps: Map[String, String] = {
    val spark = SparkSession.active
    // ONE manifest read for every declared policy half — separate
    // accessors would fold the same delta chain six times
    val (stats, blooms, cadence, mode, cluster, txnRet, enforce,
      maintain) = Versioned.policyBundle(spark, dir, asOfVersion)
    (if (stats.isEmpty) Map.empty[String, String]
     else Map(GraftTableProps.StatsKey -> stats.mkString(","))) ++
      (if (blooms.isEmpty) Map.empty[String, String]
       else Map(
         GraftTableProps.BloomKey -> blooms.map(_._1).mkString(","),
         GraftTableProps.ExpectedKey -> blooms.head._2.toString,
         GraftTableProps.FppKey -> blooms.head._3.toString)) ++
      cadence.map(n => GraftTableProps.CadenceKey -> n.toString).toMap ++
      mode.map(m => GraftTableProps.ModeKey -> m).toMap ++
      (if (cluster.isEmpty) Map.empty[String, String]
       else Map(GraftTableProps.ClusterKey -> cluster.mkString(","))) ++
      txnRet.map(ms =>
        GraftTableProps.TxnRetentionKey -> ms.toString).toMap ++
      (if (enforce)
        Map(GraftTableProps.SchemaEnforceKey -> "true")
       else Map.empty[String, String]) ++
      maintain.map { case (k, v) =>
        GraftTableProps.MaintainPrefix + k -> v }.toMap
  }

  override def properties(): util.Map[String, String] =
    (Map("location" -> dir, "provider" -> "graft") ++ policyProps ++
      asOfVersion.map(v => "version" -> v.toString)).asJava
}
