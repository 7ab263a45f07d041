package graft.lake

import org.apache.spark.sql.types.{DataType, StructType}

import Versioned.UnsupportedTableFeatureException

/** The graft manifest format, in one place: the [[Manifest]] model of a
  * version's state, the [[RawNode]] model of one manifest FILE as
  * written, the header vocabulary, the protocol gates derived from
  * state, and the codec — [[parse]] (text to node), [[render]] (state,
  * optionally as a delta over its parent, to text), [[encodeDelta]]
  * and [[applyDelta]]. `docs/FORMAT.md` describes the same format in
  * prose; this file is the normative behavior.
  *
  * No I/O happens here: [[Versioned]] reads and writes the files (the
  * sidecar `#eof` trailer, the delta-chain walk, the compare-and-swap
  * publish) and decides what a commit publishes.
  */
private[lake] object ManifestCodec {

  /** A parsed manifest: the version's recorded table schema and `#ts`
    * commit instant, the optional (appId, batchId) transaction stamp
    * of the commit that created it (streaming exactly-once), and its
    * data-file lines. An absent `#statcols` / `#bloomcfg` header means
    * the table declares none. */
  final case class Manifest(schema: StructType,
      txn: Option[(String, Long)] = None,
      checks: Seq[(String, String)] = Nil,
      lines: Seq[String] = Nil, dvs: Seq[(String, String)] = Nil,
      blooms: Seq[(String, String, String)] = Nil,
      op: Option[String] = None,
      bloomCfg: Seq[(String, Long, Double)] = Nil,
      statColsPolicy: Seq[String] = Nil,
      ts: Long = 0L,
      commitUuid: Option[String] = None,
      chainDepth: Int = 0,
      colMap: Seq[(String, String)] = Nil,
      ckptEvery: Option[Int] = None,
      colDrops: Seq[String] = Nil,
      colMapMode: Option[String] = None,
      txnHw: Seq[(String, Long, Option[Long])] = Nil,
      clusterCols: Seq[String] = Nil,
      txnRetention: Option[Long] = None,
      minWriter: Option[Int] = None,
      writerFeatures: Seq[String] = Nil,
      schemaEnforce: Boolean = false,
      maintain: Seq[(String, String)] = Nil,
      // sidecar byte sizes keyed by sidecar rel path (the `~b`
      // annotation on `#dv`/`#bloom` lines — optimization round 19):
      // what lets DV/bloom sidecar reads plan through the
      // listing-free [[manifestScan]] with ZERO per-file RPCs, the
      // same way data lines' `~b` already feeds it. Entries missing
      // (pre-size manifests) fall back to one driver getFileStatus
      // each — never a listing job.
      dvSizes: Map[String, Long] = Map.empty,
      bloomSizes: Map[String, Long] = Map.empty)

  /** One manifest FILE as written, before delta reconstruction: a
    * snapshot file (`base = None`) holds the version's full state; a
    * DELTA file (`base = Some((parentVersion, depth))`) holds its full
    * HEADERS (schema, policy, checks, ts, op, txn — always republished,
    * they are O(policy) not O(table)) plus only the lines/DV pairs/
    * bloom pointers it ADDS and `#rmfile`/`#rmdv`/`#rmbloom` records
    * for what it drops relative to its parent, in the order they are
    * written. [[applyDelta]] folds one node onto its parent's state;
    * [[encodeDelta]] builds the node a commit writes.
    */
  final case class RawNode(base: Option[(Int, Int)],
      rmFiles: Seq[String], rmDvs: Seq[(String, String)],
      rmBlooms: Seq[(String, String, String)], m: Manifest)

  // header lines start with '#' so file-line consumers skip them by
  // prefix; the schema rides as Spark's own StructType JSON (control
  // characters are JSON-escaped, so the header is always one line)
  private val SchemaHeader = "#schema\t"
  private val TxnHeader = "#txn\t"
  private val CheckHeader = "#check\t"
  // deletion vector: `#dv\t<baseRel>\t<dvRel>` marks rows of data file
  // <baseRel> as deleted at the (file, pos) pairs recorded in parquet
  // sidecar <dvRel> (merge-on-read row-level DELETE — the base file is
  // NOT rewritten; readers anti-join the positions). Rel paths never
  // contain tabs (uuid dir + parquet part name), so no encoding.
  private val DvHeader = "#dv\t"
  // bloom index: `#bloom\t<baseRel>\t<col>\t<sidecarRel>` points data
  // file <baseRel>'s per-file Bloom filter over column <col> at a row
  // of parquet sidecar <sidecarRel> (schema [[BloomSchema]]) — the
  // equality-pruning half of the file-skipping index (min/max prunes
  // ranges; blooms prune point lookups on high-cardinality/string
  // keys). Sidecars live beside data files and are referenced files
  // for [[expire]]/[[restore]], exactly like DV sidecars.
  private val BloomHeader = "#bloom\t"
  // bloom index CONFIG: `#bloomcfg\t<col>\t<expectedItems>\t<fpp>` —
  // the sizing the index was declared with (table policy, carried
  // like CHECK constraints). Rewrites re-measure filters at THIS
  // sizing; without it a compaction of a 5M-row-per-file table would
  // rebuild 100k-item filters that saturate to fpp≈1 and silently
  // stop pruning.
  private val BloomCfgHeader = "#bloomcfg\t"
  // stats POLICY: `#statcols\t<c1>\t<c2>…` (names uri-encoded) — the
  // columns the TABLE tracks per-file min/max (+null/row-count) stats
  // for. Carried like CHECK constraints and the bloom config: every
  // commit — append, replace, DML rewrite, SQL INSERT — measures its
  // staged files under the union of this policy and its caller's
  // declaration, so one untracked writer can never silently kill
  // metadata-only COUNT(*) or degrade the stats pruner toward
  // O(table).
  private val StatColsHeader = "#statcols\t"
  // commit instant: `#ts\t<epochMillis>` — recorded at publish time as
  // max(wall clock, parent instant + 1), so TIMESTAMP AS OF resolution
  // is monotonic with version numbers even under cross-process writers
  // with skewed clocks (manifest file mtimes are NOT so guaranteed:
  // hard-link publish preserves the tmp's write-time mtime).
  private val TsHeader = "#ts\t"
  // operation header: `#op\t<name>` — which commit primitive created
  // this version (append / replace / stream-append / delete / update /
  // merge / delete-mor / update-mor / compact / restore / add-check /
  // drop-check). Pure observability ([[history]] — the audit log every
  // production format exposes as DESCRIBE HISTORY); absent on
  // pre-tracking manifests.
  private val OpHeader = "#op\t"
  // commit identity: `#commituuid\t<uuid>` — a writer-chosen UUID
  // stamped on every commit. Its one job is resolving COMMIT
  // AMBIGUITY on stores whose conditional put can fail
  // indeterminately (a timeout/5xx AFTER the store durably accepted
  // the write): a writer whose CAS apparently lost after a transport
  // error reads the winning manifest back and CLAIMS the version if
  // self-authored, instead of re-appending the same rows at v+1.
  private val CommitUuidHeader = "#commituuid\t"
  // delta-manifest header: `#base\t<parentVersion>\t<depth>` — this
  // FILE is a delta over its parent's reconstructed state, `depth`
  // links from the nearest full snapshot (snapshot = no #base =
  // depth 0). Bounds both write amplification (a commit writes
  // O(delta) bytes, not O(table files)) and read cost (reconstruction
  // reads <= checkpoint-interval small files). A full snapshot is
  // written every [[manifestCheckpointEvery]] commits and whenever
  // the delta would not be smaller than the snapshot (replace,
  // restore, compaction).
  private val BaseHeader = "#base\t"
  // delta removal records, each relative to the parent state:
  // `#rmfile\t<rel>` drops the parent data line for <rel> (a rewrite
  // of the same rel is rmfile + a fresh add line); `#rmdv` / `#rmbloom`
  // drop one exact DV pair / bloom pointer.
  private val RmFileHeader = "#rmfile\t"
  private val RmDvHeader = "#rmdv\t"
  private val RmBloomHeader = "#rmbloom\t"
  // aggregated TRANSACTION HIGH-WATER map: `#txnhw\t<enc(appId)>\t<b>`
  // — one line per replayable writer that has ever stamped a commit,
  // carrying its highest batchId, republished in full by EVERY commit
  // (Delta's SetTransaction state, kept live in checkpoints for the
  // same reason). `#txn` is the commit's OWN stamp (per-version audit
  // trail); THIS map is what makes the idempotence guard O(1) (one
  // header read of the head, no history scan) and — the correctness
  // half — EXPIRE-PROOF: a stalled writer whose last stamped version
  // was retained out from under it (other writers kept committing,
  // retention swept its manifest) still finds its high-water in the
  // head and skips the replay instead of double-appending. Size is
  // O(distinct writer identities over the table's life) unless the
  // `#txnretention` horizon below bounds it. Entries are
  // `enc(appId)\tbatchId[\tlastStampMs]` — the optional third field
  // feeds the retention sweep.
  private val TxnHwHeader = "#txnhw\t"
  // PROTOCOL / FEATURE GATE (Delta's minReaderVersion + reader
  // features, on this substrate). Unknown header ANNOTATIONS parse
  // forward-compatibly by design — right for additive metadata, WRONG
  // for semantics-bearing features: an older reader binary (or a
  // third-party tool) that skipped a `#dv` pointer would RESURRECT
  // deleted rows; one that skipped `#colmap`/`#coldrop` would misbind
  // columns. So any version whose state USES such a feature carries
  // `#minreader\t<n>` plus one `#feature\t<name>` line per required
  // reader feature, and every parse refuses loudly — by feature name —
  // when it sees a name it does not implement or a reader version
  // above its own. The gate is PER VERSION and derived from state
  // (not sticky like Delta's protocol action): a version that uses no
  // gated feature carries no gate lines, so old tables are untouched
  // and time travel to a pre-feature version needs no waiver.
  private val MinReaderHeader = "#minreader\t"
  private val FeatureHeader = "#feature\t"
  /** This engine's reader version: 1 = the base manifest format,
    * 2 = feature-gate-aware (understands `#minreader`/`#feature`). */
  val CurrentReaderVersion = 2
  /** Reader features this engine implements. A gated manifest naming
    * anything else refuses at parse time. */
  val SupportedReaderFeatures: Set[String] =
    Set("deletion-vectors", "column-mapping")

  /** The reader features `m`'s state actually requires. Deletion
    * vectors: skipping a `#dv` resurrects rows. Column mapping (incl.
    * drops and id-mode): skipping the indirection misbinds physical
    * columns. */
  def requiredFeatures(m: Manifest): Seq[String] =
    (if (m.dvs.nonEmpty) Seq("deletion-vectors") else Nil) ++
      (if (m.colMap.exists(e => e._1 != e._2) || m.colDrops.nonEmpty ||
        m.colMapMode.isDefined) Seq("column-mapping") else Nil)

  // WRITER half of the protocol gate (Delta's minWriterVersion +
  // writer features). A reader feature gates features a READ would
  // get wrong; a WRITER feature gates contracts a commit must honor
  // even though reading is safe — the canonical case is CHECK
  // constraints: any binary can read a checked table correctly, but
  // a writer that does not VALIDATE its staged rows against the
  // declared predicates would silently break the table's data
  // contract. So a version whose state carries write-side contracts
  // names them, and every COMMIT refuses unknown names loudly while
  // reads stay open (`Versioned.casPublish` checks the parent's writer gate —
  // the one choke point every commit path already goes through).
  // Like the reader gate, derivation is PER VERSION from state: drop
  // the last CHECK and the writer gate lifts.
  private val MinWriterHeader = "#minwriter\t"
  private val WriterFeatureHeader = "#writerfeature\t"
  /** This engine's writer version: 1 = plain appends, 2 =
    * writer-feature-aware. */
  val CurrentWriterVersion = 2
  /** Writer features this engine implements. Reader features are
    * implicitly writer features too (a commit reads the parent, so
    * the reader gate already fences them); this set adds the
    * write-side-only contracts. */
  val SupportedWriterFeatures: Set[String] =
    Set("check-constraints", "cluster-by", "txn-retention",
      "schema-enforce")

  /** The writer features `m`'s state requires — contracts a commit
    * must honor although reading is safe without them. CHECK
    * constraints: staged rows must validate. cluster-by / the txn
    * retention horizon are SOFT write contracts (an ignorant writer
    * degrades layout / header size, never correctness) but are named
    * so a third-party writer knows what it is opting out of. */
  def requiredWriterFeatures(m: Manifest): Seq[String] =
    (if (m.checks.nonEmpty) Seq("check-constraints") else Nil) ++
      (if (m.clusterCols.nonEmpty) Seq("cluster-by") else Nil) ++
      (if (m.txnRetention.isDefined) Seq("txn-retention") else Nil) ++
      (if (m.schemaEnforce) Seq("schema-enforce") else Nil)

  /** Render the gate block: nothing when no feature is in play (old
    * tables stay byte-identical), else the version floors plus the
    * sorted feature names. The writer gate UNIONS derived with the
    * DECLARED `writerFeatures`/`minWriter`: a checkpoint sidecar of a
    * foreign table (reads are open, so expire / CALL checkpoint can
    * run) must not strip the #minwriter / #writerfeature lines the
    * committed manifest carries — readRaw prefers a valid sidecar, so
    * stripping them would erase the very commit fence the gate
    * provides. A commit clears both before rendering, so a published
    * gate is derived from state alone (drop the last CHECK and the
    * writer gate lifts). The reader gate needs no such union: unknown
    * reader features refuse at parse, so no sidecar of such a table
    * can ever be rendered. */
  private def gateLines(m: Manifest): Seq[String] = {
    val features = requiredFeatures(m)
    val writerFeatures =
      (requiredWriterFeatures(m) ++ m.writerFeatures).distinct
    (if (features.isEmpty) Nil
     else s"$MinReaderHeader$CurrentReaderVersion" +:
       features.distinct.sorted.map(f => s"$FeatureHeader$f")) ++
      (if (writerFeatures.isEmpty && m.minWriter.isEmpty) Nil
       else s"$MinWriterHeader${math.max(CurrentWriterVersion,
         m.minWriter.getOrElse(0))}" +:
         writerFeatures.sorted.map(f => s"$WriterFeatureHeader$f"))
  }

  // SCHEMA ENFORCEMENT: `#schemaenforce\t1` — the table refuses
  // IMPLICIT schema evolution (a writer frame carrying columns the
  // schema does not declare), Delta's schema-enforcement default as
  // an opt-in policy on this substrate whose default is auto-evolve.
  // At fleet scale the hazard is a typo'd or drifted upstream field
  // silently adding a junk column that every later reader carries;
  // under enforcement only the DECLARED route (ALTER TABLE … ADD
  // COLUMNS / [[addColumns]]) evolves the schema. Missing columns
  // still null-fill (old writers keep working); lossless type
  // widening stays admitted (it loses nothing and blocks no reader).
  // A REPLACE claims schema authority and is exempt (the
  // truncate-and-reload shape). Carried like the cadence; named as
  // the `schema-enforce` WRITER feature so a foreign writer knows
  // the contract.
  private val SchemaEnforceHeader = "#schemaenforce\t"

  // LEDGER RETENTION: `#txnretention\t<ms>` — drop `#txnhw` entries
  // whose LAST stamp is older than this horizon (Delta's
  // setTransactionRetentionDuration). Without it the ledger grows
  // O(distinct writer identities over the table's life) — thousands
  // of short-lived streaming query ids (each restart-from-scratch
  // checkpoint mints one) would bloat every header. The DOCUMENTED
  // contract of expiry: a writer silent past the horizon that then
  // replays an old batch re-appends — size the horizon beyond any
  // plausible writer stall, exactly as Delta does. To support the
  // horizon, 3-field `#txnhw` entries carry the writer's last stamp
  // instant; 2-field (pre-retention) entries age from the first
  // commit that republishes them under the new release —
  // conservative: kept a full horizon from then, never dropped early.
  private val TxnRetentionHeader = "#txnretention\t"

  // MAINTENANCE policy: `#maintain\t<key>\t<value>` (both uri-encoded),
  // one line per declared threshold — the TBLPROPERTIES
  // `graft.maintain.*` vocabulary ([[maintain]] consumes it):
  // `smallfile.bytes` (bin-pack files below this), `dvdebt` (rewrite
  // files at/above this deleted fraction), `maxfiles` (per-run bite),
  // `target.bytes` (output sizing). ADVISORY, deliberately not a
  // writer feature: a writer that ignores it degrades nothing — the
  // debt just waits for the next maintenance run — so foreign
  // writers stay unfenced. Carried like the cadence policy; a
  // restore does not roll it back.
  private val MaintainHeader = "#maintain\t"

  // `#txnseal\t1` — marks the high-water map COMPLETE (it covers every
  // stamp in the table's whole history). Fresh tables are sealed from
  // v0 and every commit inherits the seal; a manifest without it
  // predates the format epoch and refuses at parse time.
  private val TxnSealHeader = "#txnseal\t"

  // manifest-checkpoint cadence header: `#ckptevery\t<n>` — the
  // TABLE's declared snapshot cadence, carried like the stats/bloom
  // policy (every commit republishes it in full). Absent = use the
  // default above.
  private val CkptEveryHeader = "#ckptevery\t"

  // WRITE-TIME CLUSTERING policy: `#clustercols\t<c1>\t<c2>…` (names
  // uri-encoded) — Delta's `CLUSTER BY` (liquid-clustering
  // declaration) on this substrate. Every commit whose staged frame
  // carries the declared columns range-partitions + sorts its OWN
  // files on them before writing (the same repartitionByRange +
  // sortWithinPartitions recipe as [[compactCommit]]'s clusterBy), so
  // per-file min/max stats are born disjoint and [[readPruned]] plans
  // O(matching files) from the FIRST append — no OPTIMIZE needed to
  // fix an append-ordered layout after the fact. This replaces
  // hive-style partition columns on this substrate: same pruning,
  // no small-file explosion on high-cardinality keys, no
  // partition-evolution rewrites. Carried like the cadence policy
  // (pure writer config — a restore does not roll it back); declared
  // via TBLPROPERTIES 'graft.cluster.cols' or [[setPolicy]]. A
  // staged frame MISSING a declared column (an old writer against an
  // evolved table) skips the layout step — conservative, never
  // wrong: its files' stats simply overlap until the next compact.
  private val ClusterColsHeader = "#clustercols\t"

  // column mapping: `#colmap\t<logical>\t<physical>` (names
  // uri-encoded), one line per RENAMED column — Delta's column-mapping
  // shape. A column's PHYSICAL name (what its parquet files carry) is
  // fixed at column birth; RENAME COLUMN is a metadata commit that
  // changes the logical name and records the indirection here, so
  // zero data files rewrite and time travel renders every version
  // under its own names. Identity entries are never written. All
  // other manifest metadata (stats groups, policy, checks) speaks
  // LOGICAL names — the rename commit rewrites them — so the mapping
  // is consulted only at the parquet scan/write boundary.
  private val ColMapHeader = "#colmap\t"

  // column-mapping MODE: `#colmapmode\tid` — the table mints UUID
  // physical names for new columns (Delta's `id` mapping mode). With
  // birth names (the default), a renamed- or dropped-away column's
  // physical name blocks re-use of that name forever (old files'
  // bytes would leak in); under `id` the physical namespace is
  // collision-free by construction, so rename-away + re-add and
  // drop + re-add both just work. Declared at CREATE (empty table:
  // every declared column mints) or upgraded later ([[
  // setColumnMapping]] — existing columns keep their birth names,
  // columns added AFTER the upgrade mint). Carried like the cadence
  // policy; a downgrade is refused (files already carry uuids).
  private val ColMapModeHeader = "#colmapmode\t"

  // dropped-column tombstone: `#coldrop\t<physical>` (uri-encoded),
  // one line per DROPPED column's PHYSICAL name. DROP COLUMN is a
  // metadata commit — the physical bytes stay in every data file; the
  // tombstone is what refuses a later column whose physical name
  // would collide with them (old files' bytes would leak into the new
  // column at scan time). Carried like the column mapping: every
  // commit republishes the full set; a replace claims naming
  // authority and resets it.
  private val ColDropHeader = "#coldrop\t"

  /** The refusal of a table written before the format epoch (see the
    * class doc): like the reader gate's refusal of an unknown
    * feature, it names what is missing instead of reading through a
    * fallback. */
  def preEpoch(dir: String, v: Int,
      what: String): UnsupportedTableFeatureException =
    new UnsupportedTableFeatureException(
      s"$dir v$v predates the graft format epoch ($what); rewrite it " +
        "with a current release")

  /** Parse one manifest's (or checkpoint sidecar's) lines — the one
    * place a header block is read, so both gates below cover every
    * reader (full reads, header-only reads, sidecars) alike. `dir` and
    * `v` only name the version in a refusal. */
  def parse(raw: List[String], dir: String, v: Int): RawNode = {
    // THE GATE, checked before anything else is trusted: a version
    // whose state uses a semantics-bearing feature this engine does
    // not implement must refuse BY NAME, never parse-and-skip —
    // runs on every manifest file AND sidecar, so reads, history
    // folds, and commits (which read the parent) all refuse.
    val minReader = raw.collectFirst {
      case l if l.startsWith(MinReaderHeader) =>
        l.stripPrefix(MinReaderHeader).trim.toIntOption
          .getOrElse(Int.MaxValue) // unparseable floor = future format
    }
    val features = raw.collect { case l if l.startsWith(FeatureHeader) =>
      l.stripPrefix(FeatureHeader).trim
    }
    val unknown = features.filterNot(SupportedReaderFeatures)
    if (unknown.nonEmpty || minReader.exists(_ > CurrentReaderVersion))
      throw new UnsupportedTableFeatureException(
        s"this table version requires reader " +
          minReader.filter(_ > CurrentReaderVersion)
            .map(v => s"version $v (this engine reads up to " +
              s"$CurrentReaderVersion)").getOrElse("features") +
          (if (unknown.isEmpty) ""
           else unknown.mkString(" [", ", ", "] this engine does not" +
             " implement")) +
          " — upgrade the reader; refusing beats silently skipping" +
          " semantics-bearing metadata (deleted rows would resurrect," +
          " mapped columns would misbind)")
    val schemaLine = raw.find(_.startsWith(SchemaHeader))
    val txn = raw.collectFirst { case l if l.startsWith(TxnHeader) =>
      // appId is uri-encoded at write so the two tabs here are the
      // only tabs on the line
      val Array(app, batch) = l.stripPrefix(TxnHeader).split('\t')
      (java.net.URLDecoder.decode(app, "UTF-8"), batch.toLong)
    }
    val checks = raw.collect { case l if l.startsWith(CheckHeader) =>
      // name and expression are uri-encoded at write (an expression
      // can contain anything), so the single tab here is structural
      val Array(name, sql) = l.stripPrefix(CheckHeader).split('\t')
      (java.net.URLDecoder.decode(name, "UTF-8"),
        java.net.URLDecoder.decode(sql, "UTF-8"))
    }
    // trailing `~b<bytes>` annotation (optional — additive metadata,
    // round 19): the sidecar file's byte size, recorded at stage time
    // so sidecar reads plan listing-free like data lines do
    def sizeTok(toks: Array[String], from: Int): Option[Long] =
      toks.drop(from).collectFirst {
        case t if t.startsWith("~b") && t.length > 2 &&
          t.drop(2).forall(_.isDigit) => t.drop(2).toLong
      }
    val dvEntries = raw.collect { case l if l.startsWith(DvHeader) =>
      val toks = l.stripPrefix(DvHeader).split('\t')
      ((toks(0), toks(1)), sizeTok(toks, 2))
    }
    val dvs = dvEntries.map(_._1)
    val dvSizes = dvEntries.collect {
      case ((_, d), Some(sz)) => d -> sz }.toMap
    val bloomEntries = raw.collect { case l if l.startsWith(BloomHeader) =>
      val toks = l.stripPrefix(BloomHeader).split('\t')
      ((toks(0), toks(1), toks(2)), sizeTok(toks, 3))
    }
    val blooms = bloomEntries.map(_._1)
    val bloomSizes = bloomEntries.collect {
      case ((_, _, s), Some(sz)) => s -> sz }.toMap
    val op = raw.collectFirst { case l if l.startsWith(OpHeader) =>
      l.stripPrefix(OpHeader)
    }
    val bloomCfg = raw.collect { case l if l.startsWith(BloomCfgHeader) =>
      val Array(c, n, f) = l.stripPrefix(BloomCfgHeader).split('\t')
      (c, n.toLong, f.toDouble)
    }
    val statColsPolicy = raw.collectFirst {
      case l if l.startsWith(StatColsHeader) =>
        l.stripPrefix(StatColsHeader).split('\t').toSeq
          .filter(_.nonEmpty)
          .map(java.net.URLDecoder.decode(_, "UTF-8"))
    }.getOrElse(Nil)
    val tsLine = raw.find(_.startsWith(TsHeader))
    val commitUuid = raw.collectFirst {
      case l if l.startsWith(CommitUuidHeader) =>
        l.stripPrefix(CommitUuidHeader).trim
    }
    val base = raw.collectFirst { case l if l.startsWith(BaseHeader) =>
      val Array(pv, depth) = l.stripPrefix(BaseHeader).split('\t')
      (pv.toInt, depth.toInt)
    }
    val rmFiles = raw.collect { case l if l.startsWith(RmFileHeader) =>
      l.stripPrefix(RmFileHeader)
    }
    val rmDvs = raw.collect { case l if l.startsWith(RmDvHeader) =>
      val Array(b, d) = l.stripPrefix(RmDvHeader).split('\t')
      (b, d)
    }
    val rmBlooms = raw.collect { case l if l.startsWith(RmBloomHeader) =>
      val Array(b, c, s) = l.stripPrefix(RmBloomHeader).split('\t')
      (b, c, s)
    }
    val colMap = raw.collect { case l if l.startsWith(ColMapHeader) =>
      val Array(lg, ph) = l.stripPrefix(ColMapHeader).split('\t')
      (java.net.URLDecoder.decode(lg, "UTF-8"),
        java.net.URLDecoder.decode(ph, "UTF-8"))
    }
    val ckptEvery = raw.collectFirst {
      case l if l.startsWith(CkptEveryHeader) =>
        l.stripPrefix(CkptEveryHeader).trim.toInt
    }
    val colDrops = raw.collect { case l if l.startsWith(ColDropHeader) =>
      java.net.URLDecoder.decode(l.stripPrefix(ColDropHeader), "UTF-8")
    }
    val colMapMode = raw.collectFirst {
      case l if l.startsWith(ColMapModeHeader) =>
        l.stripPrefix(ColMapModeHeader).trim
    }
    val txnHw = raw.collect { case l if l.startsWith(TxnHwHeader) =>
      // 2-field entries predate last-stamp tracking (ts = unknown);
      // 3-field carry the writer's last stamp instant for retention
      l.stripPrefix(TxnHwHeader).split('\t') match {
        case Array(app, b) =>
          (java.net.URLDecoder.decode(app, "UTF-8"), b.toLong,
            None: Option[Long])
        case Array(app, b, t) =>
          (java.net.URLDecoder.decode(app, "UTF-8"), b.toLong,
            t.toLongOption)
      }
    }
    // THE EPOCH: every current writer stamps all three; a manifest
    // missing one was written before them and refuses by name
    val missing = Seq(schemaLine.isEmpty -> "#schema",
      tsLine.isEmpty -> "#ts",
      !raw.exists(_.startsWith(TxnSealHeader)) -> "#txnseal")
      .collect { case (true, h) => h }
    if (missing.nonEmpty)
      throw preEpoch(dir, v, "no " + missing.mkString(", "))
    val schema = DataType.fromJson(schemaLine.get.stripPrefix(SchemaHeader))
      .asInstanceOf[StructType]
    val ts = tsLine.get.stripPrefix(TsHeader).trim.toLong
    val txnRetention = raw.collectFirst {
      case l if l.startsWith(TxnRetentionHeader) =>
        l.stripPrefix(TxnRetentionHeader).trim.toLong
    }
    // the WRITER gate parses without refusing — reading a table whose
    // write-side contracts this binary cannot honor is safe; the
    // refusal happens at COMMIT time (`Versioned.casPublish`)
    val minWriter = raw.collectFirst {
      case l if l.startsWith(MinWriterHeader) =>
        l.stripPrefix(MinWriterHeader).trim.toIntOption
          .getOrElse(Int.MaxValue)
    }
    val writerFeatures = raw.collect {
      case l if l.startsWith(WriterFeatureHeader) =>
        l.stripPrefix(WriterFeatureHeader).trim
    }
    val schemaEnforce = raw.exists(_.startsWith(SchemaEnforceHeader))
    val clusterCols = raw.collectFirst {
      case l if l.startsWith(ClusterColsHeader) =>
        l.stripPrefix(ClusterColsHeader).split('\t').toSeq
          .map(java.net.URLDecoder.decode(_, "UTF-8"))
    }.getOrElse(Nil)
    // advisory header: a malformed line from a foreign writer is
    // DROPPED, never a parse failure — bricking every read over a
    // hint would invert the "ignoring it degrades nothing" contract
    val maintain = raw.collect {
      case l if l.startsWith(MaintainHeader) =>
        l.stripPrefix(MaintainHeader).split('\t')
    }.collect { case Array(k, v) =>
      (java.net.URLDecoder.decode(k, "UTF-8"),
        java.net.URLDecoder.decode(v, "UTF-8"))
    }
    RawNode(base, rmFiles, rmDvs, rmBlooms,
      Manifest(schema, txn, checks, raw.filterNot(_.startsWith("#")), dvs,
        blooms, op, bloomCfg, statColsPolicy, ts, commitUuid,
        chainDepth = base.map(_._2).getOrElse(0), colMap = colMap,
        ckptEvery = ckptEvery, colDrops = colDrops,
        colMapMode = colMapMode, txnHw = txnHw,
        clusterCols = clusterCols, txnRetention = txnRetention,
        minWriter = minWriter, writerFeatures = writerFeatures,
        schemaEnforce = schemaEnforce, maintain = maintain,
        dvSizes = dvSizes, bloomSizes = bloomSizes))
  }

  /** Apply one delta node to its parent's reconstructed state: removes
    * first (a stats rewrite of the same rel is rmfile + fresh add),
    * then adds appended; every header field comes from the delta node
    * itself (headers are always republished in full). */
  def applyDelta(parent: Manifest, d: RawNode): Manifest = {
    val rmFiles = d.rmFiles.toSet
    d.m.copy(
      lines = parent.lines.filterNot(l => rmFiles.contains(relOf(l))) ++
        d.m.lines,
      dvs = parent.dvs.filterNot(d.rmDvs.toSet) ++ d.m.dvs,
      blooms = parent.blooms.filterNot(d.rmBlooms.toSet) ++ d.m.blooms,
      // sidecar rels are uuid-unique, so a permissive union is exact;
      // stale keys (rm'd sidecars) are never looked up
      dvSizes = parent.dvSizes ++ d.m.dvSizes,
      bloomSizes = parent.bloomSizes ++ d.m.bloomSizes)
  }

  /** A data line's relative path: its first tab-separated token (the
    * stats groups, if any, follow it). */
  def relOf(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** The delta node a commit of state `m` writes over its parent's
    * state (version `parentVersion`), or None when the full snapshot
    * is not bigger than the delta. Lines are diffed by exact text, so a
    * stats rewrite of a carried rel encodes as `#rmfile` plus a fresh
    * add. The node's header fields are `m`'s; its lines / DV pairs /
    * bloom pointers are the adds only. */
  def encodeDelta(parent: Manifest, parentVersion: Int,
      m: Manifest): Option[RawNode] = {
    val pByRel = parent.lines.map(l => relOf(l) -> l).toMap
    val nByRel = m.lines.map(l => relOf(l) -> l).toMap
    val addLines = m.lines.filter(l => !pByRel.get(relOf(l)).contains(l))
    val rmRels = parent.lines.filter(l =>
      !nByRel.get(relOf(l)).contains(l)).map(relOf)
    val dvAdds = m.dvs.distinct.filterNot(parent.dvs.toSet)
    val dvRms = parent.dvs.distinct.filterNot(m.dvs.toSet)
    val bloomAdds = m.blooms.distinct.filterNot(parent.blooms.toSet)
    val bloomRms = parent.blooms.distinct.filterNot(m.blooms.toSet)
    val deltaN = addLines.size + rmRels.size + dvAdds.size +
      dvRms.size + bloomAdds.size + bloomRms.size
    val fullN = m.lines.size + m.dvs.size + m.blooms.size
    // snapshot when it is not bigger than the delta — including the
    // truncate shape (fullN == 0, deltaN == table): an empty snapshot
    // beats O(table) #rmfile records
    if (deltaN * 2 > fullN) None
    else Some(RawNode(Some((parentVersion, parent.chainDepth + 1)),
      rmRels, dvRms, bloomRms,
      m.copy(lines = addLines, dvs = dvAdds, blooms = bloomAdds,
        chainDepth = parent.chainDepth + 1)))
  }

  /** The optional `~b<bytes>` tail of a `#dv`/`#bloom` line — the
    * sidecar's recorded byte size (absent when unknown). */
  private def sizeSuffix(sizes: Map[String, Long], rel: String): String =
    sizes.get(rel).map(sz => s"\t~b$sz").getOrElse("")

  /** THE renderer: state `m` as manifest text. The header block and
    * the gate lines always describe `m` in full (headers are
    * authoritative per version, delta or snapshot alike); the body is
    * either `m`'s full snapshot (DV pairs, bloom pointers, data lines)
    * or, given `delta` ([[encodeDelta]] of `m`), its `#base` line, the
    * removal records and the adds. Line order is the canonical order
    * `docs/FORMAT.md` lists. Sidecar sizes come from `m`. */
  def render(m: Manifest, delta: Option[RawNode] = None): Seq[String] = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def dvLines(dvs: Seq[(String, String)]) = dvs.map { case (b, d) =>
      s"$DvHeader$b\t$d" + sizeSuffix(m.dvSizes, d) }
    def bloomLines(blooms: Seq[(String, String, String)]) =
      blooms.map { case (b, c, sr) =>
        s"$BloomHeader$b\t$c\t$sr" + sizeSuffix(m.bloomSizes, sr) }
    val headers =
      Seq(s"$SchemaHeader${m.schema.json}", s"$TsHeader${m.ts}") ++
      // op rides as the line's tail verbatim; only line breaks could
      // corrupt the manifest, so they flatten to spaces
      m.op.map(o => s"$OpHeader${o.replaceAll("[\\n\\r]", " ")}").toSeq ++
      m.commitUuid.map(u => s"$CommitUuidHeader$u").toSeq ++
      m.txn.map { case (a, b) => s"$TxnHeader${enc(a)}\t$b" }.toSeq ++
      (if (m.statColsPolicy.isEmpty) Nil
       else Seq(m.statColsPolicy.distinct.map(enc)
         .mkString(StatColsHeader, "\t", ""))) ++
      m.checks.map { case (n, q) => s"$CheckHeader${enc(n)}\t${enc(q)}" } ++
      m.bloomCfg.distinct.map { case (c, n, f) =>
        s"$BloomCfgHeader$c\t$n\t$f" } ++
      m.colMap.filter(e => e._1 != e._2).distinct.map { case (lg, ph) =>
        s"$ColMapHeader${enc(lg)}\t${enc(ph)}" } ++
      m.ckptEvery.map(n => s"$CkptEveryHeader$n").toSeq ++
      m.colDrops.distinct.map(ph => s"$ColDropHeader${enc(ph)}") ++
      m.colMapMode.map(md => s"$ColMapModeHeader$md").toSeq ++
      m.txnHw.map { case (a, b, t) =>
        s"$TxnHwHeader${enc(a)}\t$b" + t.map("\t" + _).getOrElse("") } ++
      Seq(s"${TxnSealHeader}1") ++
      m.txnRetention.map(r => s"$TxnRetentionHeader$r").toSeq ++
      (if (m.clusterCols.isEmpty) Nil
       else Seq(m.clusterCols.distinct.map(enc)
         .mkString(ClusterColsHeader, "\t", ""))) ++
      m.maintain.map { case (k, v) =>
        s"$MaintainHeader${enc(k)}\t${enc(v)}" } ++
      (if (m.schemaEnforce) Seq(s"${SchemaEnforceHeader}1") else Nil) ++
      gateLines(m)
    val body = delta match {
      case None =>
        dvLines(m.dvs.distinct) ++ bloomLines(m.blooms.distinct) ++ m.lines
      case Some(d) =>
        val (pv, depth) = d.base.get
        s"$BaseHeader$pv\t$depth" +:
          (d.rmFiles.map(r => s"$RmFileHeader$r") ++
            d.rmDvs.map { case (b, dv) => s"$RmDvHeader$b\t$dv" } ++
            d.rmBlooms.map { case (b, c, sr) =>
              s"$RmBloomHeader$b\t$c\t$sr" } ++
            dvLines(d.m.dvs) ++ bloomLines(d.m.blooms) ++ d.m.lines)
    }
    headers ++ body
  }
}
