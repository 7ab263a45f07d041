package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types
import org.apache.spark.sql.types.{BooleanType, DataType, StructField, StructType}

import ManifestCodec.{Manifest, RawNode, applyDelta}

/** Versioned lake table — manifest-based snapshot isolation and time
  * travel over plain parquet files (the core mechanism of a table
  * format, sized to this engine's single-writer lake).
  *
  * Why: a plain parquet directory conflates "the files on disk" with
  * "the table". Readers racing a writer see half-written commits;
  * yesterday's table is gone after today's overwrite; a compaction
  * ([[DataLake.compact]]) that rewrites layout in place can lose data
  * on a mid-write crash. A MANIFEST fixes all three: each version `k`
  * is an immutable list of data files (`_manifest/v%05d.txt`), data
  * files are never mutated or deleted by commits, and a commit is one
  * atomic manifest rename — readers of any version never observe a
  * partial state.
  *
  * Capabilities: [[commit]] (append or replace — replace is how an
  * SCD rewrite, a compaction, or a GDPR purge publishes), [[read]] of
  * the latest or any historical version (time travel — "train on the
  * corpus exactly as it was when the run started"), [[latestVersion]];
  * round-11 late additions: manifest-recorded SCHEMA EVOLUTION
  * ([[evolveSchema]] on appends, O(1) schema-applied reads),
  * [[changesBetween]] (row-level incremental change feed planned from
  * manifest set-difference), and [[idempotentCommit]] (exactly-once
  * replayable-writer appends, the streaming sink's substrate).
  *
  * Scale notes: the manifest lists files, so reads cost O(files in
  * version) to plan with NO directory listing race; at 100 TB the same
  * design holds (production would use Iceberg/Delta, whose manifests
  * add column stats for file skipping — [[graft.ops.ScaleOps.zValue]]
  * clustering makes those stats selective). Old versions accumulate
  * until a retention job deletes manifests AND their now-unreferenced
  * files — never data files alone.
  *
  * Manifest LOG shape (round 14): a commit writes O(changed files)
  * bytes, not O(table files). Most versions publish as DELTA records
  * (`#base` + add lines + `#rmfile`/`#rmdv`/`#rmbloom` against the
  * parent state, headers always in full); a full snapshot lands every
  * [[manifestCheckpointEvery]] commits, whenever the delta would not
  * be smaller (replace/restore/compaction), and when [[expire]]
  * re-checkpoints the oldest kept version before dropping its chain.
  * Readers reconstruct state from the nearest snapshot + the delta
  * tail (<= checkpoint-interval small reads) — Delta Lake's
  * JSON-log-plus-checkpoint shape on this one-file-per-version
  * substrate. At 1M retained files a 1-row append writes one header
  * block and one line instead of relisting ~100 MB of paths.
  *
  * Concurrency (round 11): commits are OPTIMISTIC, multi-writer safe.
  * Data files are staged first (commit-scoped directory, invisible
  * until a manifest references them), then the manifest is published
  * by a compare-and-swap on the next version number ([[casPublish]]:
  * the version either exists or this writer's rename creates it —
  * never both). On a lost race:
  *  - an APPEND retries unconditionally against the new head — two
  *    appends commute, so any serialization is correct;
  *  - a plain REPLACE ([[commit]] `replace = true`) throws
  *    [[CommitConflictException]] — it claims full-table authority and
  *    cannot merge with a commit it never saw;
  *  - a validated REPLACE ([[commitReplace]]) re-reads head,
  *    re-validates that rows appended since its base version share no
  *    key with the staged rows, and retries carrying those appends
  *    into the new manifest (result == "replace, then the appends" —
  *    the serializable order both writers can agree on); a key overlap
  *    or an interleaved replace is a real conflict and throws;
  *  - [[compactCommit]] is the validation-free replace: its staged
  *    rows ARE the base version's rows, so interleaved appends always
  *    carry safely (Iceberg's rewrite-files commit, in one rename).
  * Readers racing retention declare themselves with [[pin]]:
  * [[expire]] never drops a version >= the oldest pinned one, so an
  * in-flight reader's manifest and files outlive the read no matter
  * how many commits and expiry runs interleave.
  *
  * CAS substrate: pluggable per filesystem ([[CasStore]], the LogStore
  * shape every production format grew). Local filesystems publish via
  * POSIX hard-link creation ([[LinkCasStore]]: `link(2)` fails EEXIST
  * atomically, kernel-enforced ACROSS PROCESSES — two `spark-submit`
  * jobs on the same table are commit-safe, raced by a forked JVM in
  * CrossJvmCommitSpec). HDFS-semantics filesystems publish via
  * exists+rename under a per-table JVM lock ([[RenameCasStore]]: the
  * rename itself refuses an existing destination across JVMs). An
  * object store would plug its conditional-put (`If-None-Match`) in
  * here.
  *
  * Format epoch: every manifest file carries `#schema`, `#ts` and
  * `#txnseal\t1`, and every checkpoint sidecar ends in a valid `#eof`
  * trailer. A table written before those markers existed is refused
  * by name at parse time (see `docs/FORMAT.md`), never read through a
  * fallback.
  *
  * The manifest text itself — the state model, the header vocabulary,
  * the gates, parse and render — is [[ManifestCodec]]'s; this object
  * does the I/O and decides what each commit publishes.
  */
object Versioned {

  /** A concurrent commit won the version this writer raced for, and
    * the loser's change cannot be merged mechanically (overlapping
    * keys, or an interleaved full replace). The staged data files are
    * left on disk but unreferenced — a later [[expire]] collects them.
    * Callers recover by re-deriving their write from the new head.
    */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** The manifest requires a reader feature (or reader version) this
    * engine does not implement. Refusing loudly — by feature name —
    * is the contract: silently skipping a semantics-bearing header
    * (`#dv`, `#colmap`, …) would resurrect deleted rows or misbind
    * columns. Raised at parse time, so reads AND commits (which read
    * the parent state) both refuse. */
  final class UnsupportedTableFeatureException(msg: String)
    extends RuntimeException(msg)

  /** A commit's staged rows (or, for [[addCheck]], the existing table)
    * violate a table CHECK constraint. Nothing was published; the
    * staged files are unreferenced and a later [[expire]] collects
    * them.
    */
  final class CheckViolationException(msg: String)
    extends RuntimeException(msg)

  /** Per-table lock for the exists+rename CAS window and the
    * pin/expire handshake (see class doc: single-JVM mutex, HDFS
    * rename semantics across JVMs).
    */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def lockFor(dir: String): AnyRef =
    tableLocks.computeIfAbsent(new Path(dir).toString, _ => new AnyRef)

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(dir: String, v: Int): Path =
    new Path(dir, f"_manifest/v$v%05d.txt")

  /** Parse a manifest FILE name to its version. `f"v$v%05d"` PADS to
    * five digits but grows past them (v100000 writes six), so the
    * match is `v\d{5,}\.txt` — a `{5}` bound would silently ignore
    * every version >= 100000, and in [[expire]] that is a data-loss
    * hazard (manifests missing from the retained/keep sets read as
    * "unreferenced" and their files collect). Sidecars
    * (`v00010.ckpt.txt`) and writer tmps never match. */
  private def manifestVersionOf(name: String): Option[Int] =
    if (name.matches("v\\d{5,}\\.txt"))
      name.stripPrefix("v").stripSuffix(".txt").toIntOption
    else None

  /** CHECKPOINT SIDECAR of a delta manifest: the full snapshot of
    * version `v`'s reconstructed state, written BESIDE the committed
    * manifest file (`v%05d.ckpt.txt`) — the committed file itself is
    * never mutated (Delta's separate-checkpoint-file shape). Readers
    * prefer the sidecar when present; a missing or half-written
    * sidecar just means "walk the delta chain", never a wrong answer.
    */
  private def ckptPath(dir: String, v: Int): Path =
    new Path(dir, f"_manifest/v$v%05d.ckpt.txt")

  /** ADVISORY head pointer (`_manifest/_head`, Delta's
    * `_last_checkpoint` shape): the newest version some commit knew it
    * created, updated best-effort after every successful CAS. The
    * CAS'd version files stay the source of truth — a stale pointer
    * means "probe forward from here", a missing/corrupt one falls back
    * to the directory listing; neither can mis-resolve the head.
    */
  private def headPointerPath(dir: String): Path =
    new Path(dir, "_manifest/_head")

  /** Best-effort `_head` update after a won commit. Failures are
    * swallowed: the pointer is a read optimization, and the manifest
    * the CAS just installed is the durable truth. */
  private def writeHeadPointer(fs: FileSystem, dir: String,
      v: Int): Unit =
    try {
      val target = headPointerPath(dir)
      val tmp = new Path(dir,
        s"_manifest/.head-${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, false)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      installOverwrite(fs, tmp, target)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Install `tmp` as `target`, overwriting any previous content —
    * atomically where the filesystem can (NIO move on local, rename
    * after delete elsewhere; an object store's plain put is atomic by
    * itself). Only for ADVISORY artifacts (head pointer, checkpoint
    * sidecars) whose readers tolerate absence: a reader racing the
    * non-local delete+rename window sees "missing" and falls back. */
  private def installOverwrite(fs: FileSystem, tmp: Path,
      target: Path): Unit = {
    if (fs.getScheme == "file") {
      val t = java.nio.file.Paths.get(tmp.toUri.getPath)
      java.nio.file.Files.move(t,
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the tmp was written through ChecksumFileSystem; the NIO move
      // bypasses it, so the crc sidecars must go explicitly
      val parent = t.getParent
      if (parent != null) {
        java.nio.file.Files.deleteIfExists(
          parent.resolve("." + t.getFileName.toString + ".crc"))
        java.nio.file.Files.deleteIfExists(
          parent.resolve("." + target.getName + ".crc"))
        ()
      }
    } else {
      fs.delete(target, false)
      if (!fs.rename(tmp, target)) fs.delete(tmp, false)
      ()
    }
  }

  /** The `_head` hint when it is present, parseable, and names a
    * version that still exists; None sends the caller to the listing. */
  private def headHint(fs: FileSystem, dir: String): Option[Int] =
    try {
      val p = headPointerPath(dir)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        s.toIntOption.filter(v =>
          v >= 0 && fs.exists(manifestPath(dir, v)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Highest committed version, or None for an empty/absent table.
    *
    * O(1) on the hot path: the `_head` pointer names a committed
    * version and the probe walks forward over the (dense) versions
    * committed since it was written — a handful of exists() calls,
    * never a directory listing. On an object store a long-retention
    * table's `_manifest` LIST is paginated (1000 keys/page) and was
    * paid per query plan before the pointer existed. The full listing
    * remains the fallback for tables without a pointer (pre-pointer
    * history, or a corrupt/deleted file) — slower, never wrong.
    */
  def latestVersion(spark: SparkSession, dir: String): Option[Int] = {
    val fs = fileSystem(spark, dir)
    headHint(fs, dir) match {
      case Some(h) =>
        // versions are dense above any committed one (commits only
        // ever create head+1; expire only drops BELOW the kept
        // window — the guard comment on [[expire]] names this
        // dependence), so the first missing successor is the head
        var v = h
        while (fs.exists(manifestPath(dir, v + 1))) v += 1
        // DENSE-INVARIANT TRIPWIRE: the probe walk is only sound
        // while no manifest above the hint is missing. A future
        // non-dense expire (or external tampering) would make the
        // walk silently serve a stale head, so a geometric probe
        // (v+2, v+4, v+8, v+16 — v+1 is known missing) checks for a
        // hole right above the stopping point, which is where a
        // buggy drop leaves one; any hit demotes to the full listing
        // below — slower, never wrong. Beyond +16 the tripwire is
        // best-effort, matching the advisory nature of the pointer.
        if (Seq(2, 4, 8, 16).forall(d =>
            !fs.exists(manifestPath(dir, v + d))))
          Some(v)
        else listedLatest(fs, dir)
      case None => listedLatest(fs, dir)
    }
  }

  /** The listing-based head — the fallback for tables without a
    * usable `_head` pointer and for a tripped dense-invariant probe:
    * one directory listing, max of the parsed version names (correct
    * whatever holes the directory holds). */
  private def listedLatest(fs: FileSystem, dir: String): Option[Int] = {
    val mdir = new Path(dir, "_manifest")
    if (!fs.exists(mdir)) None
    else {
      // exact-name match: checkpoint sidecars (v00010.ckpt.txt)
      // and pointer tmps live in the same directory
      val vs = fs.listStatus(mdir).map(_.getPath.getName)
        .flatMap(manifestVersionOf)
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** DEFAULT snapshot cadence of the manifest log: a delta chain never
    * grows past this many links before a commit publishes a full
    * snapshot (Delta's checkpoint-every-N shape). A TABLE overrides it
    * with the `#ckptevery` manifest header (TBLPROPERTIES
    * `graft.manifest.checkpointEvery` / [[setPolicy]]): a read-hot
    * table declares 1 and never pays chain reconstruction, a
    * write-hot one declares 10+ and keeps commits O(delta). */
  private val manifestCheckpointEvery = 10

  /** Parse one manifest FILE as written (no delta reconstruction).
    * Header fields are authoritative for the version either way; the
    * lines/dvs/blooms of a delta node are its ADDS only.
    *
    * A DELTA node with a checkpoint SIDECAR ([[ckptPath]] — written by
    * [[checkpointManifest]] or [[expire]]'s chain-integrity step)
    * returns the sidecar's full snapshot instead: content-identical
    * state, zero chain walk, and the committed manifest file itself
    * stays immutable forever. Snapshot nodes never pay the sidecar
    * exists() probe. */
  private def readRaw(fs: FileSystem, dir: String, v: Int): RawNode = {
    val node = parseManifestFile(fs, dir, v)
    if (node.base.isEmpty) node
    else parseSidecar(fs, dir, v).getOrElse {
      // no valid sidecar: the delta chain answers. [[expire]] installs
      // a trailered sidecar before it drops the chain, so a chain that
      // is gone under a sidecar without a valid `#eof` is the end
      // state of a pre-epoch expire — refuse it by name instead of
      // failing on the missing parent file
      if (!fs.exists(manifestPath(dir, node.base.get._1)))
        throw ManifestCodec.preEpoch(dir, v,
          "its delta chain is expired and it has no checkpoint " +
            "sidecar with a valid #eof")
      node
    }
  }

  // end-of-file trailer of a checkpoint sidecar: `#eof\t<n>` where n
  // counts the non-empty lines before it. Committed manifests land by
  // atomic CAS and never need one; a sidecar lands by OVERWRITE
  // ([[installOverwrite]] — delete+rename on non-local filesystems),
  // and the line parser tolerates truncation, so without a validated
  // trailer a TORN sidecar would parse as a smaller-but-valid snapshot
  // and silently drop rows. An invalid/missing trailer sends the
  // reader back to the delta chain — slower, never wrong.
  private val EofHeader = "#eof\t"

  /** Parse version `v`'s checkpoint sidecar IFF it exists and its
    * `#eof` trailer validates (last line, correct count); None sends
    * the reader to the delta chain. */
  private def parseSidecar(fs: FileSystem, dir: String,
      v: Int): Option[RawNode] =
    try {
      val path = ckptPath(dir, v)
      if (!fs.exists(path)) None
      else {
        val in = fs.open(path)
        val raw =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).toList
          finally in.close()
        raw.lastOption match {
          case Some(l) if l.startsWith(EofHeader) &&
              l.stripPrefix(EofHeader).trim.toIntOption
                .contains(raw.length - 1) =>
            Some(ManifestCodec.parse(raw.init, dir, v))
          case _ => None // torn sidecar: walk the chain
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Parse version `v`'s manifest FILE as written. */
  private def parseManifestFile(fs: FileSystem, dir: String,
      v: Int): RawNode = {
    val in = fs.open(manifestPath(dir, v))
    val raw =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    ManifestCodec.parse(raw, dir, v)
  }

  /** HEADER-ONLY parse of version `v`'s manifest FILE: reads until the
    * first data line (headers always lead; every header field is
    * republished in full on snapshot AND delta files, so no chain or
    * sidecar is consulted). The cheap read for consumers that want one
    * header — the `#ts` instant stamp, the `#txn` high-water scan —
    * where a full [[readRaw]] would parse a whole snapshot (or probe
    * and parse a checkpoint sidecar) per version. */
  private def readHeaderOnly(fs: FileSystem, dir: String,
      v: Int): Manifest = {
    val in = fs.open(manifestPath(dir, v))
    val raw =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).takeWhile(_.startsWith("#")).toList
      finally in.close()
    ManifestCodec.parse(raw, dir, v).m
  }

  /** The full reconstructed state of version `v`: a snapshot file is
    * the state; a delta file folds over its parent chain back to the
    * nearest snapshot (<= [[manifestCheckpointEvery]] small reads —
    * Delta Lake's checkpoint + log-tail read path). */
  private def readManifest(fs: FileSystem, dir: String, v: Int): Manifest = {
    val top = readRaw(fs, dir, v)
    if (top.base.isEmpty) top.m
    else {
      var chain: List[RawNode] = List(top)
      var cur = top
      while (cur.base.isDefined) {
        cur = readRaw(fs, dir, cur.base.get._1)
        chain ::= cur
      }
      chain.tail.foldLeft(chain.head.m)(applyDelta)
        .copy(chainDepth = top.base.get._2)
    }
  }

  /** Is reading a parquet column written as `from` under a requested
    * schema of `to` a LOSSLESS upcast the vectorized reader performs
    * natively (`ParquetVectorUpdaterFactory`'s IntegerToLong /
    * FloatToDouble family)? The append-compatible set every production
    * format's type-widening feature admits: the integral chain
    * byte → short → int → long, and float → double. */
  private[lake] def widens(from: DataType, to: DataType): Boolean = {
    val integral: Seq[DataType] = Seq(types.ByteType, types.ShortType,
      types.IntegerType, types.LongType)
    (from, to) match {
      case (f, t) if integral.contains(f) && integral.contains(t) =>
        integral.indexOf(f) < integral.indexOf(t)
      case (types.FloatType, types.DoubleType) => true
      case _ => false
    }
  }

  /** Append-commit schema evolution (the rule of every production table
    * format's default mode): existing columns keep their type UNLESS
    * the incoming type merely WIDENS it ([[widens]]: int → long,
    * float → double — the table schema widens, and historical files
    * read through the widened type via the parquet vectorized
    * reader's native upcast, zero rewrite). An incoming column
    * NARROWER than the table's is equally compatible — the new files
    * upcast at read and the table type stays. Any other type change
    * is a full-table rewrite, i.e. a REPLACE, not an append.
    * Brand-new columns join the table as nullable (historical files
    * simply have no values for them; reads fill null). A writer may
    * also OMIT evolved columns (old pipeline code appending to an
    * evolved table): its files null-fill at read, so the omitted
    * column's nullability relaxes.
    */
  private[lake] def evolveSchema(table: StructType,
      incoming: StructType): StructType = {
    val byName = incoming.map(f => f.name -> f).toMap
    val kept = table.map { tf =>
      byName.get(tf.name) match {
        case Some(inf) =>
          if (inf.dataType != tf.dataType &&
              !widens(tf.dataType, inf.dataType) &&
              !widens(inf.dataType, tf.dataType))
            throw new CommitConflictException(
              s"append cannot change column '${tf.name}' from " +
                s"${tf.dataType.simpleString} to " +
                s"${inf.dataType.simpleString}; a type change rewrites " +
                "history — commit it as a replace")
          val widened =
            if (widens(tf.dataType, inf.dataType)) inf.dataType
            else tf.dataType
          tf.copy(dataType = widened,
            nullable = tf.nullable || inf.nullable)
        case None => tf.copy(nullable = true)
      }
    }
    val added = incoming.filterNot(f => table.exists(_.name == f.name))
      .map(_.copy(nullable = true))
    StructType(kept ++ added)
  }

  /** A column OUTSIDE the mapping has physical == logical; if that
    * name equals the PHYSICAL name of a renamed column — or of a
    * DROPPED one (`#coldrop` tombstones) — old files' bytes would
    * leak into the new column at scan time (the collision Delta
    * avoids by minting uuid physical names). Refused loudly —
    * re-adding a renamed-away or dropped-away name needs a replace. */
  private def guardColMap(schema: StructType,
      colMap: Seq[(String, String)],
      colDrops: Seq[String] = Nil): Unit = {
    if (colMap.isEmpty && colDrops.isEmpty) return
    val logical = colMap.map(_._1).toSet
    val physOfRenamed = colMap.filter(e => e._1 != e._2).map(_._2).toSet
    val phys = colMap.toMap
    val dropped = colDrops.toSet
    schema.fieldNames.foreach { n =>
      if (!logical.contains(n) && physOfRenamed.contains(n))
        throw new CommitConflictException(
          s"column '$n' collides with the physical name of a renamed " +
            "column (column mapping): old data files already carry " +
            s"'$n' for the renamed column — pick another name, or " +
            "publish a replace")
      if (dropped.contains(phys.getOrElse(n, n)))
        throw new CommitConflictException(
          s"column '$n' collides with the physical name of a DROPPED " +
            "column: old data files still carry its bytes, which " +
            "would leak into the new column at scan time — pick " +
            "another name, or publish a replace")
    }
  }

  /** RENAME COLUMN as a METADATA-ONLY commit (Delta's column-mapping
    * shape): the logical name changes, the PHYSICAL name — what every
    * data file on disk carries — stays its birth name, recorded as a
    * `#colmap` indirection the scan/write boundary consults. Zero
    * data movement at any table size; time travel renders each
    * version under ITS OWN names. The rename rewrites the manifest's
    * logical-name metadata in the same commit: the `#schema` field,
    * the `#statcols` policy, and every line's stats groups. Refused
    * when a CHECK constraint references the column (drop and re-add
    * the constraint around the rename — silently re-pointing a stored
    * predicate is how constraints rot) and when the column carries a
    * bloom index (its sidecar rows key by the name; `CALL
    * set_policy` the index away first, rename, re-declare — the
    * production constraint Databricks ships). Returns the new
    * version.
    */
  def renameColumn(spark: SparkSession, dir: String,
      from: String, to: String): Int = {
    require(from.nonEmpty && to.nonEmpty && from != to,
      s"renameColumn needs two distinct non-empty names; got " +
        s"'$from' -> '$to'")
    val fs = fileSystem(spark, dir)
    val uuid = newCommitUuid()
    var attempts = 0
    while (true) {
      val head = latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed version in $dir to rename a column of"))
      val m = readManifest(fs, dir, head)
      val schema = m.schema
      require(schema.fieldNames.contains(from),
        s"no column '$from' in $dir " +
          schema.fieldNames.mkString("[", ", ", "]"))
      require(!schema.fieldNames.contains(to),
        s"column '$to' already exists in $dir")
      // a stored CHECK referencing the column would silently rot
      val referencing = m.checks.filter { case (_, sql) =>
        spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.name
        }.exists(_.equalsIgnoreCase(from))
      }
      require(referencing.isEmpty,
        s"cannot rename '$from': CHECK constraint" +
          s"${referencing.map(_._1).mkString(" '", "', '", "'")} " +
          "references it — drop the constraint, rename, re-add it")
      // bloom sidecar rows key by the column's name on disk; renaming
      // under them would silently stop point-lookup pruning
      require(!m.bloomCfg.exists(_._1 == from) &&
          !m.blooms.exists(_._2 == from),
        s"cannot rename '$from': it carries a bloom index — clear it " +
          "(CALL set_policy / UNSET TBLPROPERTIES), rename, " +
          "re-declare")
      val physical = m.colMap.toMap.getOrElse(from, from)
      val newColMap = (m.colMap.filterNot(_._1 == from) :+
        ((to, physical))).filter(e => e._1 != e._2)
      val newSchema = StructType(schema.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      guardColMap(newSchema, newColMap, m.colDrops)
      val newStatCols = m.statColsPolicy.map(c => if (c == from) to else c)
      val newLines = m.lines.map(renameStatsCol(_, from, to))
      if (publishResolved(fs, dir, head + 1, uuid)(
          casPublish(fs, dir, head + 1, m.copy(schema = newSchema,
            lines = newLines, op = Some(s"rename-column($from->$to)"),
            statColsPolicy = newStatCols, commitUuid = Some(uuid),
            colMap = newColMap), Some(m))))
        return head + 1
      attempts += 1
      require(attempts < 1000,
        s"renameColumn on $dir still losing the version race after " +
          s"$attempts attempts")
    }
    -1 // unreachable
  }

  /** Rewrite a manifest line's stats-group column names for a RENAME:
    * group-start tokens (a non-`~` token followed by its min/max)
    * matching `from` become `to`; annotations and values pass
    * through verbatim. */
  private def renameStatsCol(line: String, from: String,
      to: String): String = {
    val parts = line.split('\t')
    var i = 1
    while (i < parts.length) {
      if (!parts(i).startsWith("~") && i + 1 < parts.length &&
          parts(i + 1).startsWith("~s")) {
        // string group: col then only `~`-prefixed bound/annotation
        // tokens until the next group start
        if (parts(i) == from) parts(i) = to
        i += 1
        while (i < parts.length && parts(i).startsWith("~")) i += 1
      } else if (!parts(i).startsWith("~") && i + 3 <= parts.length) {
        if (parts(i) == from) parts(i) = to
        i += 3
        while (i < parts.length && parts(i).startsWith("~")) i += 1
      } else i += 1
    }
    parts.mkString("\t")
  }

  /** Render a manifest data line from parsed stats groups — the exact
    * inverse of [[parseStatsFull]] under [[measureLines]]'s canonical
    * annotation order (`~u`, `~n`, `~r`; the row count on the first
    * group only). Only [[dropStatsCol]] re-renders lines; everything
    * else carries them byte-verbatim. */
  private def renderStatsLine(rel: String,
      groups: Seq[StatGroup]): String =
    groups.zipWithIndex.map { case (g, i) =>
      val n = g.nulls.map(v => s"\t~n$v").getOrElse("")
      val r = if (i == 0) g.rows.map(v => s"\t~r$v").getOrElse("") else ""
      g.str match {
        case Some(sb) => s"\t${g.col}${renderStrBounds(sb)}$n$r"
        case None =>
          val u = if (g.micros) "\t~u" else ""
          s"\t${g.col}\t${g.min}\t${g.max}$u$n$r"
      }
    }.mkString(rel, "", "")

  private def renderStrBounds(sb: StrBounds): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    if (sb.empty) "\t~s0"
    else {
      val mnTok = s"\t~s${if (sb.minTrunc) "~" else "="}${enc(sb.min)}"
      val mxTok = sb.max.map(m =>
        s"\t~S${if (sb.maxTrunc) "~" else "="}${enc(m)}").getOrElse("")
      mnTok + mxTok
    }
  }

  /** Remove column `name`'s stats group from a manifest line — DROP
    * COLUMN's line surgery. Load-bearing for correctness, not just
    * hygiene: a stale group under a re-used logical name would
    * describe the DROPPED column's data, and the metadata-delete
    * ∀-prover ([[statsMustMatchAll]]) could then "prove" all rows of
    * a file match a predicate over the NEW column and drop rows it
    * must keep. The file's row count survives on the new first group.
    * Lines without the group return byte-verbatim (delta economy). */
  private def dropStatsCol(line: String, name: String): String = {
    val (rel, groups) = parseStatsFull(line)
    if (!groups.exists(_.col == name)) return line
    val rows = groups.flatMap(_.rows).headOption
    // the line-level ~b size annotation survives the group surgery
    val size = lineSizeOf(line).map(v => s"\t~b$v").getOrElse("")
    val kept = groups.filterNot(_.col == name)
    if (kept.isEmpty) rel + size
    else renderStatsLine(rel,
      kept.head.copy(rows = rows) +: kept.tail.map(_.copy(rows = None))) +
      size
  }

  /** DROP COLUMN as a METADATA-ONLY commit (the complement of
    * [[renameColumn]] on the same column-mapping substrate): the
    * logical column leaves the schema, every data file keeps its
    * bytes (scans simply stop requesting the physical column — zero
    * data movement at any table size), and the column's PHYSICAL name
    * is recorded as a `#coldrop` tombstone so a later column cannot
    * silently inherit the orphaned bytes ([[guardColMap]] refuses the
    * collision; lifting it takes uuid physical names or a replace).
    * Time travel renders every version under its own schema — the
    * dropped column is still there at older versions. The commit
    * rewrites the manifest's logical-name metadata in the same
    * breath: the dropped column leaves the `#statcols` policy and its
    * stats groups leave every line (a stale group under a re-used
    * name would mis-prove metadata deletes). Refused when a CHECK
    * constraint references the column (drop the constraint first —
    * silently un-enforcing a stored predicate is how contracts rot)
    * and when the column carries a bloom index (`set_policy` it away
    * first). Returns the new version.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Int = {
    require(name.nonEmpty, "dropColumn needs a column name")
    val fs = fileSystem(spark, dir)
    val uuid = newCommitUuid()
    var attempts = 0
    while (true) {
      val head = latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed version in $dir to drop a column of"))
      val m = readManifest(fs, dir, head)
      val schema = m.schema
      require(schema.fieldNames.contains(name),
        s"no column '$name' in $dir " +
          schema.fieldNames.mkString("[", ", ", "]"))
      require(schema.size > 1,
        s"cannot drop '$name': it is the table's only column — " +
          "drop the table instead")
      // a stored CHECK referencing the column would silently rot
      val referencing = m.checks.filter { case (_, sql) =>
        spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.name
        }.exists(_.equalsIgnoreCase(name))
      }
      require(referencing.isEmpty,
        s"cannot drop '$name': CHECK constraint" +
          s"${referencing.map(_._1).mkString(" '", "', '", "'")} " +
          "references it — drop the constraint first")
      require(!m.bloomCfg.exists(_._1 == name) &&
          !m.blooms.exists(_._2 == name),
        s"cannot drop '$name': it carries a bloom index — clear it " +
          "(CALL set_policy / UNSET TBLPROPERTIES) first")
      val physical = m.colMap.toMap.getOrElse(name, name)
      val newColMap = m.colMap.filterNot(_._1 == name)
      val newColDrops = (m.colDrops :+ physical).distinct
      val newSchema = StructType(schema.filterNot(_.name == name))
      val newStatCols = m.statColsPolicy.filterNot(_ == name)
      val newLines = m.lines.map(dropStatsCol(_, name))
      guardColMap(newSchema, newColMap, newColDrops)
      if (publishResolved(fs, dir, head + 1, uuid)(
          casPublish(fs, dir, head + 1, m.copy(schema = newSchema,
            lines = newLines, op = Some(s"drop-column($name)"),
            statColsPolicy = newStatCols, commitUuid = Some(uuid),
            colMap = newColMap, colDrops = newColDrops), Some(m))))
        return head + 1
      attempts += 1
      require(attempts < 1000,
        s"dropColumn on $dir still losing the version race after " +
          s"$attempts attempts")
    }
    -1 // unreachable
  }

  /** A minted PHYSICAL column name for `id` mapping mode: globally
    * unique, carries no user name, so it can never collide with a
    * logical name, a birth name, or another mint — what lifts the
    * rename-reuse and drop-reuse refusals (Delta's `id` mode). */
  private def mintPhysical(): String =
    s"col-${java.util.UUID.randomUUID()}"

  /** Upgrade the table to `id` COLUMN-MAPPING MODE: new columns mint
    * UUID physical names from birth, so RENAME-away + re-add and
    * DROP + re-add of such columns are collision-free (the two
    * refusals birth-name mapping must keep). On an EMPTY table (the
    * CREATE-TABLE shape — zero data files, nothing on disk carries a
    * name yet) every existing schema column mints too; on a table
    * with data, existing columns keep their birth names (their files
    * already carry them — re-mapping would need a rewrite) and only
    * columns added after the upgrade mint. Idempotent; a downgrade is
    * refused (files already carry uuids). Returns the new version, or
    * the head unchanged when already in `id` mode.
    */
  def setColumnMapping(spark: SparkSession, dir: String,
      mode: String = "id"): Int = {
    require(mode == "id",
      s"the only declarable column-mapping mode is 'id', got '$mode' " +
        "(birth-name mapping is the default and cannot be restored " +
        "once files carry uuid columns)")
    val fs = fileSystem(spark, dir)
    val uuid = newCommitUuid()
    var attempts = 0
    while (true) {
      val head = latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed version in $dir to declare column mapping on"))
      val m = readManifest(fs, dir, head)
      if (m.colMapMode.contains("id")) return head // idempotent
      val schema = m.schema
      // a ZERO-ROW table can re-home every column to a uuid: no byte
      // on disk carries a name worth keeping (an "empty" commit may
      // still have written zero-row part files — those null-fill
      // harmlessly under the new physicals). A data-bearing table
      // keeps birth names for what exists and mints only for future
      // columns.
      val zeroRows = m.lines.isEmpty ||
        read(spark, dir, Some(head)).isEmpty
      val newColMap =
        if (!zeroRows) m.colMap
        else schema.fieldNames.toSeq.map(n =>
          n -> m.colMap.toMap.getOrElse(n, mintPhysical()))
      // a zero-row table's listed files (empty part files an "empty"
      // commit still wrote) drop from the upgraded manifest: they
      // carry birth-named schemas and no rows — keeping them would
      // mix namespaces in the footer union for nothing. Unreferenced
      // files are swept by expire, like any lost staging.
      val newLines = if (zeroRows) Nil else m.lines
      if (publishResolved(fs, dir, head + 1, uuid)(
          casPublish(fs, dir, head + 1, m.copy(lines = newLines,
            dvs = if (zeroRows) Nil else m.dvs,
            blooms = if (zeroRows) Nil else m.blooms,
            op = Some("set-column-mapping(id)"), commitUuid = Some(uuid),
            colMap = newColMap, colMapMode = Some("id")), Some(m))))
        return head + 1
      attempts += 1
      require(attempts < 1000,
        s"setColumnMapping on $dir still losing the version race " +
          s"after $attempts attempts")
    }
    -1 // unreachable
  }

  /** The table's declared column-mapping mode at `version` (default
    * head): `Some("id")` after [[setColumnMapping]], None for
    * birth-name mapping (the default). */
  def columnMappingMode(spark: SparkSession, dir: String,
      version: Option[Int] = None): Option[String] =
    version.orElse(latestVersion(spark, dir))
      .flatMap(v =>
        readManifest(fileSystem(spark, dir), dir, v).colMapMode)

  /** Commit `df` as the next version. `replace = false` appends to the
    * previous version's file set; `replace = true` publishes `df` as
    * the entire new table state (existing data files stay on disk —
    * still reachable through older manifests). Returns the new version.
    */
  def commit(spark: SparkSession, dir: String, df: DataFrame,
      replace: Boolean = false): Int =
    commitImpl(spark, dir, df, replace, statCols = Nil)

  /** [[commit]] plus per-file min/max stats of `statCol` (an integral
    * column) recorded in the manifest — the file-skipping index
    * [[readPruned]] consumes (the mechanism Iceberg/Delta manifests
    * scale up; pair with a [[graft.ops.ScaleOps.zValue]]-clustered
    * write so file ranges are tight and stats selective). Files with
    * NO min/max (zero rows, or `statCol` all-NULL — rows a BETWEEN
    * read can never select) are recorded with an inverted sentinel
    * range and ALWAYS pruned.
    */
  def commitWithStats(spark: SparkSession, dir: String, df: DataFrame,
      statCol: String, replace: Boolean = false): Int =
    commitImpl(spark, dir, df, replace, statCols = Seq(statCol))

  /** Multi-column form: one stats scan records per-file min/max for
    * EVERY listed column (tab-grouped in the manifest line), so
    * [[readPruned]] can skip files on any of them — what real table
    * formats do for all leading cluster keys.
    */
  def commitWithStats(spark: SparkSession, dir: String, df: DataFrame,
      statCols: Seq[String], replace: Boolean): Int =
    commitImpl(spark, dir, df, replace, statCols = statCols)

  /** [[commitWithStats]] plus a per-file BLOOM FILTER over each of
    * `bloomCols` — the equality half of the file-skipping index.
    * Min/max ranges prune range predicates but are useless for point
    * lookups on high-cardinality keys (every file's range spans the
    * key space) and cannot index strings at all; a per-file Bloom
    * filter answers `key = 'x'` with "definitely not here", which is
    * how a GDPR delete-by-id or a point lookup on a 100 TB table
    * touches O(1) files instead of all of them (Delta's bloom index /
    * Iceberg's Puffin sketches, on this manifest substrate). Filters
    * land in a commit-scoped parquet sidecar referenced by `#bloom`
    * manifest pointers; [[readEq]], [[deleteWhere]], [[updateWhere]],
    * [[deleteWhereMor]], [[updateWhereMor]] and [[mergeInto]] consult
    * them during candidate pruning, and rewrites re-measure them.
    * Size `bloomExpectedItems` to the per-file row count — an
    * undersized filter degrades to more false positives (wasted
    * scans), never to a wrong answer.
    */
  def commitWithIndex(spark: SparkSession, dir: String, df: DataFrame,
      statCols: Seq[String], bloomCols: Seq[String],
      replace: Boolean = false, bloomExpectedItems: Long = 100000L,
      bloomFpp: Double = 0.03): Int =
    commitImpl(spark, dir, df, replace, statCols = statCols,
      bloomCols = bloomCols, bloomExpected = bloomExpectedItems,
      bloomFpp = bloomFpp)

  /** Exactly-once append for a REPLAYABLE writer (a Structured
    * Streaming `foreachBatch` sink, a retried batch job): the commit
    * is stamped `(appId, batchId)` in the manifest, and a batchId at
    * or below the highest already committed for `appId` is SKIPPED
    * (returns None) instead of double-appending — the idempotence
    * contract of Delta's `txn` action, on this manifest substrate.
    * Spark replays a failed micro-batch with the SAME batchId, so a
    * crash anywhere between staging and the stream's checkpoint
    * commit resolves to exactly one append: staged-but-unpublished
    * files are invisible (and swept by [[expire]]'s grace window);
    * a published-but-unacknowledged batch is recognized by its stamp
    * and skipped on replay.
    *
    * The guard consults the aggregated `#txnhw` LEDGER in the head's
    * header block — ONE header-only read, O(1) at any retention, and
    * EXPIRE-PROOF: every commit republishes the full (appId → max
    * batchId) map, so a stalled writer whose stamped manifests
    * retention already swept still stamp-skips its replay (the
    * double-append hole a history scan has — Delta keeps
    * SetTransaction state live in checkpoints for the same reason).
    * `replace` is the Complete-output-mode shape (the batch is the whole new
    * table state). One writer per appId (Spark's own guarantee for a
    * streaming query); two appIds interleave freely through the CAS
    * protocol. [[txnHighWater]] / `CALL graft.system.txn_version`
    * surface the ledger.
    */
  def idempotentCommit(spark: SparkSession, dir: String, df: DataFrame,
      appId: String, batchId: Long, replace: Boolean = false)
      : Option[Int] = {
    require(appId.nonEmpty, "idempotentCommit needs a non-empty appId")
    // THE GUARD, O(1): one header-only read of the head, whose
    // aggregated `#txnhw` map carries every writer's high-water —
    // including writers whose stamped manifests retention already
    // swept (a newest-first history scan would miss them and
    // double-append on replay)
    if (txnLedger(spark, dir).get(appId).exists(_ >= batchId)) None
    // `replace = true` is the COMPLETE-output-mode shape: the batch
    // IS the new table state (a streaming aggregate emits its whole
    // result every trigger), published as a stamped replace — same
    // replay contract, every trigger a time-travelable version. A
    // lost race throws (replace claims full-table authority); Spark
    // re-runs the batch with the same batchId and the stamp decides.
    else Some(commitImpl(spark, dir, df, replace = replace,
      statCols = Nil, txn = Some((appId, batchId))))
  }

  /** The table's transaction ledger (appId → highest stamped
    * batchId), from ONE header read of the head: the `#txnhw` map is
    * complete and retention-proof. */
  private def txnLedger(spark: SparkSession,
      dir: String): Map[String, Long] =
    latestVersion(spark, dir).map(head =>
      readHeaderOnly(fileSystem(spark, dir), dir, head).txnHw
        .map(e => e._1 -> e._2).toMap)
      .getOrElse(Map.empty)

  /** A user-supplied DURATION in its accepted shapes — a bare
    * millisecond count, or `<n> <unit>` with unit ms / s|second(s) /
    * m|min|minute(s) / h|hour(s) / d|day(s) — to milliseconds. The
    * vocabulary of TBLPROPERTIES 'graft.txn.retention' and
    * `set_policy(txn_retention => …)` (Delta accepts interval
    * strings for setTransactionRetentionDuration the same way). */
  private[graft] def parseDurationMillis(s: String): Long = {
    val t = s.trim.toLowerCase
    val m = "^(\\d+)\\s*([a-z]*)$".r
    t match {
      case m(n, unit) =>
        val mult = unit match {
          case "" | "ms" | "millis" | "milliseconds" => 1L
          case "s" | "sec" | "second" | "seconds" => 1000L
          case "m" | "min" | "minute" | "minutes" => 60000L
          case "h" | "hour" | "hours" => 3600000L
          case "d" | "day" | "days" => 86400000L
          case u => throw new IllegalArgumentException(
            s"unknown duration unit '$u' in '$s' — use ms/s/m/h/d")
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(
        s"cannot parse duration '$s' — a millisecond count or " +
          "'<n> <ms|s|m|h|d>'")
    }
  }

  /** The recorded HIGH-WATER batchId for `appId` — None when the
    * writer never stamped a commit. The introspection half of the
    * `#txnhw` ledger (Delta's `txnVersion`): what a replayable
    * writer consults to resume manually, and what
    * `CALL graft.system.txn_version` surfaces to SQL. O(1): one header
    * read of the head. */
  def txnHighWater(spark: SparkSession, dir: String,
      appId: String): Option[Long] =
    txnLedger(spark, dir).get(appId)

  /** Table CHECK constraints active at `version` (default: head;
    * empty for an uncommitted table). Each is `(name, sql
    * expression)`. */
  def checks(spark: SparkSession, dir: String,
      version: Option[Int] = None): Seq[(String, String)] =
    version.orElse(latestVersion(spark, dir))
      .map(readManifest(fileSystem(spark, dir), dir, _).checks)
      .getOrElse(Nil)

  /** Add a table CHECK constraint: from this commit on, EVERY writer's
    * staged rows must satisfy `sqlExpr` (FALSE rejects the whole
    * commit with [[CheckViolationException]]; NULL passes — the
    * SQL-standard rule, which also lets a constraint over an evolved
    * column admit old writers' null-filled rows). The constraint is
    * recorded in the manifest, so enforcement is a property of the
    * TABLE, not of whichever caller remembered to validate — the only
    * way a multi-writer lake keeps a data contract honest.
    *
    * Publishing is itself a commit: the existing table is validated
    * first (one scan, first violation wins), then a metadata-only
    * version lands via the same CAS loop — a racing append either
    * lands before (this retry re-validates its rows) or retries after
    * and sees the new constraint. Scale shape: the validation scan is
    * the ONLY O(table) cost, paid once at declaration; every later
    * commit pays O(its own staged rows).
    */
  def addCheck(spark: SparkSession, dir: String, name: String,
      sqlExpr: String): Int = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty, "addCheck needs a non-empty constraint name")
    val fs = fileSystem(spark, dir)
    val uuid = newCommitUuid()
    var attempts = 0
    while (true) {
      val head = latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed version in $dir to constrain"))
      val m = readManifest(fs, dir, head)
      require(!m.checks.exists(_._1 == name),
        s"CHECK constraint '$name' already exists on $dir")
      // the data already in the table must honor the new contract
      if (read(spark, dir, Some(head))
          .filter(not(coalesce(expr(sqlExpr), lit(true))))
          .limit(1).count() > 0)
        throw new CheckViolationException(
          s"cannot add CHECK constraint '$name' ($sqlExpr) to $dir: " +
            s"existing rows at version $head violate it")
      // the head's txn stamp carries into the metadata commit so a
      // streaming writer's high-water mark stays visible even if this
      // becomes the newest surviving manifest — and so do its deletion
      // vectors and bloom pointers: a metadata commit that dropped the
      // DVs would silently RESURRECT every MoR-deleted row
      if (publishResolved(fs, dir, head + 1, uuid)(
          casPublish(fs, dir, head + 1, m.copy(
            checks = m.checks :+ ((name, sqlExpr)),
            op = Some(s"add-check($name)"), commitUuid = Some(uuid)),
            Some(m))))
        return head + 1
      attempts += 1   // CAS lost: re-read head, re-validate its rows
      require(attempts < 1000,
        s"addCheck on $dir still losing the version race after " +
          s"$attempts attempts")
    }
    -1 // unreachable
  }

  /** Drop a table CHECK constraint by name (metadata-only commit). */
  def dropCheck(spark: SparkSession, dir: String, name: String): Int = {
    val fs = fileSystem(spark, dir)
    val uuid = newCommitUuid()
    var attempts = 0
    while (true) {
      val head = latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no committed version in $dir"))
      val m = readManifest(fs, dir, head)
      require(m.checks.exists(_._1 == name),
        s"no CHECK constraint '$name' on $dir")
      if (publishResolved(fs, dir, head + 1, uuid)(
          casPublish(fs, dir, head + 1, m.copy(
            checks = m.checks.filterNot(_._1 == name),
            op = Some(s"drop-check($name)"), commitUuid = Some(uuid)),
            Some(m))))
        return head + 1
      attempts += 1
      require(attempts < 1000,
        s"dropCheck on $dir still losing the version race after " +
          s"$attempts attempts")
    }
    -1 // unreachable
  }

  /** The table's declared file-skipping STAT policy at `version`
    * (default head): the columns every commit measures per-file
    * min/max (+ null/row counts) for. Empty for an untracked table. */
  def statPolicy(spark: SparkSession, dir: String,
      version: Option[Int] = None): Seq[String] =
    policy(spark, dir, version)._1

  /** The table's declared bloom-index policy at `version` (default
    * head): `(column, expectedItems, fpp)` per indexed column. */
  def bloomPolicy(spark: SparkSession, dir: String,
      version: Option[Int] = None): Seq[(String, Long, Double)] =
    policy(spark, dir, version)._2

  /** The table's declared manifest-checkpoint cadence at `version`
    * (default head): None means the default of 10 applies.
    * Set/cleared via [[setPolicy]] / TBLPROPERTIES
    * `graft.manifest.checkpointEvery`. */
  def manifestCheckpointPolicy(spark: SparkSession, dir: String,
      version: Option[Int] = None): Option[Int] =
    version.orElse(latestVersion(spark, dir))
      .flatMap(v =>
        readManifest(fileSystem(spark, dir), dir, v).ckptEvery)

  /** The table's declared WRITE-TIME CLUSTERING columns at `version`
    * (default head); empty when none. Set/cleared via [[setPolicy]] /
    * `CREATE TABLE … CLUSTER BY` / TBLPROPERTIES
    * `graft.cluster.cols`. */
  def clusterPolicy(spark: SparkSession, dir: String,
      version: Option[Int] = None): Seq[String] =
    version.orElse(latestVersion(spark, dir))
      .map(v => readManifest(fileSystem(spark, dir), dir, v).clusterCols)
      .getOrElse(Nil)

  /** The table's declared txn-ledger RETENTION horizon in ms at
    * `version` (default head); None = keep every writer forever.
    * Set/cleared via [[setPolicy]] / TBLPROPERTIES
    * `graft.txn.retention`. */
  def txnRetentionPolicy(spark: SparkSession, dir: String,
      version: Option[Int] = None): Option[Long] =
    version.orElse(latestVersion(spark, dir))
      .flatMap(v =>
        readManifest(fileSystem(spark, dir), dir, v).txnRetention)

  /** Both halves of the declared file-skipping policy at `version`
    * (default head) from ONE manifest read: `(stat columns, bloom
    * config)` — what DESCRIBE / SHOW TBLPROPERTIES consult; separate
    * accessor calls would pay two directory listings and two manifest
    * reads for two headers of the same file. */
  def policy(spark: SparkSession, dir: String,
      version: Option[Int] = None)
      : (Seq[String], Seq[(String, Long, Double)]) =
    version.orElse(latestVersion(spark, dir))
      .map { v =>
        val m = readManifest(fileSystem(spark, dir), dir, v)
        (m.statColsPolicy, m.bloomCfg)
      }
      .getOrElse((Nil, Nil))

  /** One version's FULL inspection bundle — `CALL
    * graft.system.detail`'s row (Delta's DESCRIBE DETAIL on this
    * substrate), from one manifest read. `sizeBytes` is None when any
    * retained data line predates the `~b` size annotation
    * (all-or-nothing, like the metadata row count). The feature lists
    * are the PROTOCOL GATE the version declares: what a foreign
    * reader/writer must implement to touch it. */
  final case class TableDetail(version: Int, numFiles: Int,
      sizeBytes: Option[Long], numDeletionVectors: Int,
      checks: Seq[String], statCols: Seq[String],
      bloomCols: Seq[String], clusterCols: Seq[String],
      checkpointEvery: Option[Int], columnMappingMode: Option[String],
      txnRetentionMs: Option[Long], schemaEnforce: Boolean,
      readerFeatures: Seq[String], writerFeatures: Seq[String])

  /** The inspection bundle of `version` (default head). One manifest
    * read; O(files) only in the in-memory line walk. */
  def describeDetail(spark: SparkSession, dir: String,
      version: Option[Int] = None): TableDetail = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version in $dir to describe"))
    val m = readManifest(fileSystem(spark, dir), dir, v)
    val sizes = m.lines.map(lineSizeOf)
    TableDetail(v, m.lines.size,
      if (sizes.nonEmpty && sizes.forall(_.isDefined))
        Some(sizes.flatten.sum) else None,
      m.dvs.size, m.checks.map(_._1), m.statColsPolicy,
      m.bloomCfg.map(_._1), m.clusterCols, m.ckptEvery,
      m.colMapMode, m.txnRetention, m.schemaEnforce,
      ManifestCodec.requiredFeatures(m),
      // declared ∪ derived: a foreign table's writer features must
      // SHOW here — this is the column an operator consults to learn
      // why their commit would refuse
      (ManifestCodec.requiredWriterFeatures(m) ++ m.writerFeatures)
        .distinct.sorted)
  }

  /** EVERY declared table policy at `version` (default head) from ONE
    * manifest read: `(statCols, bloomCfg, checkpointEvery,
    * columnMappingMode, clusterCols, txnRetentionMs, schemaEnforce,
    * maintain)` — what DESCRIBE / SHOW TBLPROPERTIES consult. Eight
    * separate accessor calls would fold the same delta chain eight
    * times. */
  def policyBundle(spark: SparkSession, dir: String,
      version: Option[Int] = None)
      : (Seq[String], Seq[(String, Long, Double)], Option[Int],
        Option[String], Seq[String], Option[Long], Boolean,
        Seq[(String, String)]) =
    version.orElse(latestVersion(spark, dir))
      .map { v =>
        val m = readManifest(fileSystem(spark, dir), dir, v)
        (m.statColsPolicy, m.bloomCfg, m.ckptEvery, m.colMapMode,
          m.clusterCols, m.txnRetention, m.schemaEnforce, m.maintain)
      }
      .getOrElse((Nil, Nil, None, None, Nil, None, false, Nil))

  /** Version `v`'s RECONSTRUCTED data-file lines (rel path + stats
    * groups, exactly as a snapshot manifest would list them). The
    * stable inspection surface now that a manifest FILE may be a
    * delta record over its parent ([[manifestSnapshot]] for the full
    * text) — fixtures and tools asserting "untouched lines carry
    * verbatim" across commits consume this, not the raw file. */
  def manifestDataLines(spark: SparkSession, dir: String,
      v: Int): Seq[String] =
    readManifest(fileSystem(spark, dir), dir, v).lines

  /** Version `v`'s reconstructed manifest rendered as canonical
    * snapshot text: every header the version carries, then its data
    * lines — what a full-snapshot commit of the same state would have
    * written. */
  def manifestSnapshot(spark: SparkSession, dir: String,
      v: Int): Seq[String] =
    ManifestCodec.render(readManifest(fileSystem(spark, dir), dir, v))

  /** Force a full snapshot of the HEAD manifest's state — as a
    * checkpoint SIDECAR beside the committed file, content-identical,
    * NO new version: the knob that bounds the delta-chain tail a cold
    * reader pays, worth running before handing a table to a fleet of
    * readers or ahead of a retention sweep (the natural checkpoint
    * would otherwise land up to the table's checkpoint cadence − 1
    * commits later). The committed manifest file is NEVER mutated
    * (the reference-format rule: log entries are immutable,
    * checkpoints are separate files) — so no lock, no CAS, no window
    * in which a racing writer's [[latestVersion]] probe could miss
    * the version or a crash could leave a child chain dangling: the
    * sidecar either exists (readers take it) or doesn't (readers walk
    * the chain, which is intact by construction). Deterministic
    * content makes concurrent sidecar writers idempotent. Returns
    * true iff the head was an unfolded delta (something to fold). */
  def checkpointManifest(spark: SparkSession, dir: String): Boolean = {
    val fs = fileSystem(spark, dir)
    latestVersion(spark, dir) match {
      case None => false
      case Some(head) =>
        // sidecar-aware: an already-folded head reads as a snapshot
        if (readRaw(fs, dir, head).base.isEmpty) false
        else { writeCheckpointSidecar(fs, dir, head); true }
    }
  }

  /** Write version `v`'s full reconstructed snapshot as its checkpoint
    * sidecar ([[ckptPath]]) — [[expire]]'s chain-integrity step before
    * it drops the manifests the chain depended on, and the body of
    * `CALL graft.system.checkpoint`. Crash-safe by construction: the
    * committed manifest is untouched, and a half-written/lost sidecar
    * only means readers keep walking the (still intact) chain. */
  private def writeCheckpointSidecar(fs: FileSystem, dir: String,
      v: Int): Unit = {
    val m = readManifest(fs, dir, v)
    val tmp = new Path(dir,
      f"_manifest/.ckpt-v$v%05d-${java.util.UUID.randomUUID()}.tmp")
    val body = ManifestCodec.render(m)
    val out = fs.create(tmp, false)
    // the #eof trailer is what lets readers trust the sidecar at all:
    // installOverwrite is not atomic everywhere, and a torn sidecar
    // without the count would parse as a valid SMALLER snapshot
    try out.write((body :+ s"$EofHeader${body.length}")
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // deterministic content: two racing checkpointers render the same
    // bytes, so overwrite-install is idempotent
    installOverwrite(fs, tmp, ckptPath(dir, v))
  }

  /** Declare (or re-declare) the table's file-skipping policy as a
    * METADATA-ONLY commit: from this version on, every commit —
    * append, replace, DML rewrite, SQL INSERT — measures per-file
    * stats for `statCols` and builds blooms per `bloomCfg` on its
    * staged files ([[commitImpl]]'s inheritance). `None` keeps the
    * current declaration for that half. Existing files are NOT
    * retroactively indexed (their stats/filters appear as rewrites
    * touch them — [[compactCommit]] re-measures everything); pruning
    * stays conservative-correct meanwhile. This is the engine behind
    * SQL `TBLPROPERTIES ('graft.stats.cols'=…, 'graft.bloom.cols'=…)`
    * on CREATE/CTAS and `ALTER TABLE … SET TBLPROPERTIES`. Returns
    * the policy commit's version.
    */
  def setPolicy(spark: SparkSession, dir: String,
      statCols: Option[Seq[String]] = None,
      bloomCfg: Option[Seq[(String, Long, Double)]] = None,
      manifestCheckpointEvery: Option[Option[Int]] = None,
      clusterBy: Option[Seq[String]] = None,
      txnRetention: Option[Option[Long]] = None,
      schemaEnforce: Option[Boolean] = None,
      maintainSet: Seq[(String, String)] = Nil,
      maintainUnset: Seq[String] = Nil): Int = {
    require(statCols.isDefined || bloomCfg.isDefined ||
      manifestCheckpointEvery.isDefined || clusterBy.isDefined ||
      txnRetention.isDefined || schemaEnforce.isDefined ||
      maintainSet.nonEmpty || maintainUnset.nonEmpty,
      "setPolicy needs a stats, bloom, checkpoint-cadence, " +
        "clustering, txn-retention, schema-enforcement, or " +
        "maintenance declaration")
    // maintenance thresholds are PER-KEY DELTAS applied against the
    // head INSIDE the CAS loop (set updates/adds, unset drops,
    // undeclared keys carry) — a read-merge-publish in the caller
    // would let two concurrent single-key ALTERs silently drop each
    // other's keys
    validateMaintain(maintainSet)
    txnRetention.flatten.foreach(r => require(r > 0,
      s"txn retention must be a positive duration in ms: $r"))
    manifestCheckpointEvery.flatten.foreach(n => require(n >= 1,
      s"manifest checkpoint cadence must be >= 1 (1 = every commit a " +
        s"snapshot): $n"))
    val fs = fileSystem(spark, dir)
    val uuid = newCommitUuid()
    var attempts = 0
    while (true) {
      val head = latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed version in $dir to declare policy on"))
      val m = readManifest(fs, dir, head)
      val schema = m.schema
      val newStats = statCols.getOrElse(m.statColsPolicy).distinct
      val newCfg = bloomCfg.getOrElse(m.bloomCfg).distinct
      (newStats ++ newCfg.map(_._1)).foreach(c =>
        require(schema.fieldNames.contains(c),
          s"policy column '$c' is not a table column " +
            schema.fieldNames.mkString("[", ", ", "]")))
      require(newCfg.map(_._1).distinct.size == newCfg.size,
        "bloom policy declares a column twice: " +
          newCfg.map(_._1).mkString(", "))
      newCfg.foreach { case (c, n, f) =>
        require(n > 0, s"bloom expectedItems for '$c' must be positive: $n")
        require(f > 0 && f < 1, s"bloom fpp for '$c' must be in (0,1): $f")
      }
      // write-time clustering columns must exist, and stats must be
      // tracked on them or the born-disjoint layout prunes nothing —
      // the declaration auto-widens the stat policy to cover them,
      // and a LATER stats re-declaration keeps covering the CARRIED
      // cluster policy (a stats_cols-only set_policy must not
      // silently strip the cluster columns out of the stat policy)
      clusterBy.foreach(_.foreach(c =>
        require(schema.fieldNames.contains(c),
          s"cluster column '$c' is not a table column " +
            schema.fieldNames.mkString("[", ", ", "]"))))
      val withClusterStats =
        (newStats ++ clusterBy.getOrElse(m.clusterCols)).distinct
      if (publishResolved(fs, dir, head + 1, uuid)(
          casPublish(fs, dir, head + 1, m.copy(op = Some("set-policy"),
            bloomCfg = newCfg, statColsPolicy = withClusterStats,
            commitUuid = Some(uuid),
            ckptEvery = manifestCheckpointEvery.getOrElse(m.ckptEvery),
            clusterCols = clusterBy.map(_.distinct)
              .getOrElse(m.clusterCols),
            txnRetention = txnRetention.getOrElse(m.txnRetention),
            schemaEnforce = schemaEnforce.getOrElse(m.schemaEnforce),
            maintain =
              if (maintainSet.isEmpty && maintainUnset.isEmpty) m.maintain
              else (m.maintain.toMap -- maintainUnset ++ maintainSet)
                .toSeq.sortBy(_._1)), Some(m))))
        return head + 1
      attempts += 1
      require(attempts < 1000,
        s"setPolicy on $dir still losing the version race after " +
          s"$attempts attempts")
    }
    -1 // unreachable
  }

  /** Stage `df`'s data files (commit-scoped dir, invisible until a
    * manifest references them) and return their manifest lines. Staging
    * is version-free: the same staged files publish under whichever
    * version number the CAS loop eventually wins.
    */
  private def stage(spark: SparkSession, dir: String, df: DataFrame,
      statCols: Seq[String],
      colMap: Seq[(String, String)] = Nil): Seq[String] = {
    val fs = fileSystem(spark, dir)
    // data files are commit-scoped and immutable once the manifest lands
    val dataDir = new Path(dir, s"data/c-${java.util.UUID.randomUUID()}")
    // column mapping: files always carry PHYSICAL names — a renamed
    // column's fresh files must match its old files' birth name, or
    // every later scan of the mixed set null-fills one side
    val physDf =
      if (colMap.isEmpty) df
      else {
        val p = colMap.toMap
        df.select(df.columns.toSeq.map(c =>
          org.apache.spark.sql.functions.col(s"`$c`")
            .as(p.getOrElse(c, c))): _*)
      }
    // Staged files pin INT64 TIMESTAMP(MICROS): Spark's INT96 default
    // writes NO usable footer statistics and defeats parquet predicate
    // pushdown on timestamp columns, so both the footer-stats commit
    // path ([[footerStatLines]]) and every pruned read of a timestamp
    // column depend on the modern encoding. Semantics are unchanged
    // either way (both encodings round-trip Spark's microsecond
    // timestamps exactly). SCOPED set/restore (optimization round 19,
    // the round-18 verdict's residual #3): the round-18 shape set the
    // conf session-wide as a side effect, silently changing the
    // encoding of any LATER non-lake parquet write in the same
    // session; now only the staged write itself sees the pin. Two
    // commits racing on ONE session can interleave the set/restore —
    // benign either way: both encodings round-trip exactly, and an
    // INT96-written file merely refuses the footer fast path (the
    // stats scan fallback measures it identically).
    val tsConfKey = "spark.sql.parquet.outputTimestampType"
    val sessConf = physDf.sparkSession.conf
    val prevTsType = sessConf.getOption(tsConfKey)
    sessConf.set(tsConfKey, "TIMESTAMP_MICROS")
    try physDf.write.parquet(dataDir.toString)
    finally prevTsType match {
      case Some(v) => sessConf.set(tsConfKey, v)
      case None => sessConf.unset(tsConfKey)
    }
    val listed = fs.listStatus(dataDir)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f =>
        s"data/${dataDir.getName}/${f.getPath.getName}" -> f.getLen)
      .toSeq
    // the file's BYTE SIZE rides as the line's trailing `~b`
    // annotation — free here (the listing above already holds it)
    // and what lets the streaming source's maxBytesPerTrigger plan
    // catch-up from manifest arithmetic alone, no per-file RPCs
    val sizes = listed.toMap
    measureLines(spark, dir, listed.map(_._1), statCols, df.schema,
      colMap).map(l => s"$l\t~b${sizes(parseLine(l)._1)}")
  }

  /** The staged file's recorded byte size (trailing `~b` line
    * annotation) — None on lines written before size tracking. */
  private[graft] def lineSizeOf(line: String): Option[Long] =
    line.split('\t').collectFirst {
      case t if t.startsWith("~b") && t.length > 2 &&
        t.drop(2).forall(_.isDigit) => t.drop(2).toLong
    }

  /** Per-line byte sizes of version `v`'s reconstructed manifest, in
    * manifest order — the snapshot-phase byte pager's table. */
  private[graft] def manifestLineSizes(spark: SparkSession, dir: String,
      v: Int): Seq[Option[Long]] =
    readManifest(fileSystem(spark, dir), dir, v).lines.map(lineSizeOf)

  /** Bytes of the data files version `v`'s own manifest FILE brings:
    * a delta record's add lines, or a snapshot's full listing (a
    * replace/restore/compaction "brings" its whole content — the
    * honest admission cost for a stream that must scan it). None when
    * any counted line predates size tracking. Pure driver arithmetic
    * over ONE raw manifest read (never the sidecar, never the chain)
    * — the feed-phase byte rate limiter plans catch-up from this. */
  private[graft] def versionAddedBytes(spark: SparkSession, dir: String,
      v: Int): Option[Long] = {
    val fs = fileSystem(spark, dir)
    val sizes = parseManifestFile(fs, dir, v)
      .m.lines.map(lineSizeOf)
    if (sizes.exists(_.isEmpty)) None else Some(sizes.flatten.sum)
  }

  /** Per-file stats for EVERY tracked column in ONE column-pruned scan
    * of the given staged files, grouped by their physical file
    * (footer-only at production scale) — split out of [[stage]] so a
    * commit that loses its CAS to a policy-widening writer can
    * RE-MEASURE the already-staged files under the new policy without
    * rewriting a byte of data. An all-NULL or zero-row file records
    * the inverted sentinel range [MaxValue, MinValue]: a BETWEEN can
    * never select such rows, so every pruned read skips the file —
    * without this an empty commit (an empty-partition pipeline run —
    * fuzz gate) planned as an unprunable file and broke the skipping
    * guarantee. Each group also records its NULL COUNT (`~n<k>`
    * annotation): min/max alone can prove "no row can match", but
    * proving "EVERY row matches" — the metadata-only DELETE fast path
    * — additionally needs to know no row hides from the range as NULL
    * (SQL DELETE keeps NULL-predicate rows). The file's ROW COUNT
    * rides the same scan (`~r<k>` on the first group): it is what
    * answers COUNT(*) from the manifest alone
    * ([[rowCountFromMetadata]]) — the other query every retention
    * and monitoring pipeline runs all day.
    */
  private def measureLines(spark: SparkSession, dir: String,
      rels: Seq[String], statCols: Seq[String],
      schema: StructType,
      colMap: Seq[(String, String)] = Nil): Seq[String] = {
    val cols = statCols.distinct
    if (cols.isEmpty || rels.isEmpty) return rels.sorted
    // FOOTER FAST PATH (optimization round 18, guide §6): the staged
    // parquet footers already hold per-row-group min/max, null counts
    // and row counts, so re-SCANNING the just-written data to measure
    // them was a second full pass over every committed byte — O(data)
    // where O(files) metadata reads suffice. At 100 TB that pass
    // doubles the write path's read I/O; locally it is one extra Spark
    // job per commit. The footer path renders byte-identical manifest
    // lines for every type whose footer semantics provably match the
    // scan's (integrals, dates, INT64-micros timestamps, strings —
    // parquet's UNSIGNED byte order IS UTF8String's binary order, see
    // [[strCmp]]); anything it cannot answer exactly (INT96, FP with
    // NaN-dropped stats, decimals, >4 KB binary bounds parquet omits)
    // returns None and [[scanStatLines]] remains the semantics.
    footerStatLines(spark, dir, rels, cols, schema, colMap) match {
      case Some(lines) =>
        footerStatHits.incrementAndGet()
        lines
      case None => scanStatLines(spark, dir, rels, cols, schema, colMap)
    }
  }

  /** Per-file stats of `cols` (non-empty, distinct) over the staged
    * files `rels` by ONE column-pruned scan of their rows — the
    * reference implementation [[footerStatLines]] must match byte for
    * byte, and the fallback wherever the footers cannot answer
    * exactly. `FooterStatsSpec` compares the two directly. */
  private[graft] def scanStatLines(spark: SparkSession, dir: String,
      rels: Seq[String], cols: Seq[String], schema: StructType,
      colMap: Seq[(String, String)]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    // stats groups speak LOGICAL names; staged files carry PHYSICAL
    // ones — the scan below selects through the mapping
    val phys = colMap.toMap
    // a TimestampType column records its range in epoch MICROSECONDS —
    // the unit its Catalyst literals carry — and annotates the group
    // `~u` so the provers only compare like against like; a bare
    // cast-to-long would record SECONDS and silently mis-prune every
    // timestamp predicate (the retention-delete shape). Everything
    // else keeps the plain integral cast (DateType: days, matching
    // its Int-days literals).
    def statLong(c: String): org.apache.spark.sql.Column = {
      val physCol = col(s"`${phys.getOrElse(c, c)}`")
      if (microsCol(schema, c))
        org.apache.spark.sql.functions.unix_micros(physCol)
      else physCol.cast("long")
    }
    // one rendered group BODY per column (bound tokens + unit, no
    // annotations yet): a StringType column records truncated STRING
    // bounds (`~s`/`~S` tokens); everything else the long range
    def numericSentinel(c: String): String = {
      val u = if (microsCol(schema, c)) "\t~u" else ""
      s"\t$c\t${Long.MaxValue}\t${Long.MinValue}$u"
    }
    val stats: Map[String, (Long, Seq[String])] = {
      val aggs = cols.flatMap { c =>
        val m =
          if (stringCol(schema, c)) col(s"`${phys.getOrElse(c, c)}`")
          else statLong(c)
        Seq(min(m), max(m),
          count(lit(1)) - count(col(s"`${phys.getOrElse(c, c)}`")))
      } :+ count(lit(1))
      spark.read.parquet(rels.map(r => s"$dir/$r"): _*)
        .groupBy(input_file_name().as("__f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val bodies = cols.zipWithIndex.map { case (c, i) =>
            val nulls = r.getLong(3 + 3 * i)
            val body =
              if (stringCol(schema, c)) {
                if (r.isNullAt(1 + 3 * i)) s"\t$c\t~s0" // all-NULL
                else {
                  val (mnB, mnT) = truncMinBound(r.getString(1 + 3 * i))
                  val (mxB, mxT) = truncMaxBound(r.getString(2 + 3 * i))
                  s"\t$c" + renderStrBounds(StrBounds(empty = false,
                    mnB, mnT, mxB, mxT))
                }
              } else if (r.isNullAt(1 + 3 * i) || r.isNullAt(2 + 3 * i))
                numericSentinel(c)
              else {
                val u = if (microsCol(schema, c)) "\t~u" else ""
                s"\t$c\t${r.getLong(1 + 3 * i)}\t${r.getLong(2 + 3 * i)}$u"
              }
            s"$body\t~n$nulls"
          }
          val rows = r.getLong(1 + 3 * cols.length)
          relOfUri(r.getString(0)) -> (rows, bodies)
        }.toMap
    }
    rels.map { rel =>
      // a file with rows gets its measured groups; a zero-row file
      // never appears in the stats scan -> sentinel for every col
      // (zero rows, zero nulls — vacuously all-matching)
      val (rows, bodies) = stats.getOrElse(rel,
        (0L, cols.map(c =>
          (if (stringCol(schema, c)) s"\t$c\t~s0"
           else numericSentinel(c)) + "\t~n0")))
      bodies.zipWithIndex.map { case (b, i) =>
        if (i == 0) s"$b\t~r$rows" else b
      }.mkString(rel, "", "")
    }.sorted
  }

  /** Per-file stats from parquet FOOTERS alone — the metadata-only
    * twin of [[measureLines]]'s scan. Returns the rendered manifest
    * lines, or None when ANY (file, column) cannot be answered with
    * scan-identical semantics; the caller then falls back to the scan
    * for the whole set (types are uniform across one staged set, so
    * per-file mixing buys nothing). Soundness notes, per type:
    *  - integrals/dates: INT32/INT64 footer min/max ARE the values the
    *    scan's `cast(long)` measured (both orders are numeric).
    *  - TimestampType: only INT64 TIMESTAMP(MICROS, adjustedToUTC) —
    *    the encoding [[stage]] pins — equals the scan's `unix_micros`;
    *    INT96 (no usable stats) and NTZ (the scan would record
    *    seconds) refuse.
    *  - StringType: parquet UTF8 stats order is unsigned-byte
    *    lexicographic, which is exactly UTF8String's binary order —
    *    the order Spark's min/max aggregates and this engine's
    *    interval provers ([[strCmp]]) use — so footer extremes feed
    *    [[truncMinBound]]/[[truncMaxBound]] unchanged. parquet-mr
    *    omits binary min/max past its 4 KB guard → refuse → scan.
    *  - FP/decimal/anything else: refuse (NaN-polluted FP footers
    *    drop min/max, but a clean-looking footer still cannot prove
    *    the ANSI overflow behavior the scan's cast carries).
    * Null counts and row counts come from the footer unconditionally
    * checked (`isNumNullsSet`); a zero-row or absent-stats file
    * renders the same sentinel groups the scan path emits.
    */
  private def footerStatLines(spark: SparkSession, dir: String,
      rels: Seq[String], cols: Seq[String], schema: StructType,
      colMap: Seq[(String, String)]): Option[Seq[String]] = {
    import org.apache.parquet.column.statistics.{BinaryStatistics, IntStatistics, LongStatistics}
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val phys = colMap.toMap
    // the Spark-LOGICAL type decides what the footer long/bytes MUST
    // mean; unsupported column type anywhere -> whole-set refusal
    val colTypes: Map[String, DataType] = {
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      val m = cols.flatMap(c => byName.get(c).map(c -> _)).toMap
      if (m.size != cols.size) return None
      m
    }
    if (!colTypes.values.forall {
      case types.ByteType | types.ShortType | types.IntegerType |
           types.LongType | types.DateType | types.TimestampType |
           types.StringType => true
      case _ => false
    }) return None
    val conf = spark.sessionState.newHadoopConf()
    // WIDE-COMMIT DISPATCH (optimization round 19, guide §5 "the
    // driver should do almost no data work"): the round-18 shape read
    // every staged file's footer through a fixed 8-thread DRIVER pool
    // with an unbounded Await — fine at fixture widths, but a 100 TB
    // commit staging tens of thousands of files serializes O(files)
    // metadata reads on the driver. Past the threshold the footer
    // reads run as ONE Spark job (executor-side, a few bytes of
    // verdict per file back to the driver); below it the driver pool
    // stays (cheaper than a job for a handful of files). Threshold is
    // a sysprop so the spec can force either path; the per-file
    // measurement is the same function, so the rendered lines are
    // byte-identical by construction.
    val distributeOver = sys.props.get("graft.stats.footer.distributeOver")
      .flatMap(_.toIntOption).getOrElse(64)
    val measured: Map[String, Option[FooterFileStats]] =
      if (rels.size >= distributeOver) {
        footerStatJobHits.incrementAndGet()
        // hadoop conf rides as a broadcast of its entries (the
        // Configuration class itself is not serializable)
        val entries = {
          val b = Array.newBuilder[(String, String)]
          val it = conf.iterator()
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
          b.result()
        }
        val sc = spark.sparkContext
        val bcConf = sc.broadcast(entries)
        val bcTypes = sc.broadcast(colTypes)
        val colsL = cols
        val physL = phys
        val dirL = dir
        val slices = math.min(rels.size,
          math.max(1, sc.defaultParallelism))
        val prevDesc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(
          s"graft: footer stats of ${rels.size} staged files")
        try {
          sc.parallelize(rels, slices).mapPartitions { it =>
            val c = new org.apache.hadoop.conf.Configuration(false)
            bcConf.value.foreach { case (k, v) => c.set(k, v) }
            it.map(rel => rel ->
              footerFileStats(c, dirL, rel, colsL, physL, bcTypes.value))
          }.collect().toMap
        } finally {
          sc.setJobDescription(prevDesc)
          bcConf.destroy()
          bcTypes.destroy()
        }
      } else {
        // one tiny footer read per staged file, parallel but bounded —
        // a narrow commit must not pay a Spark job's scheduling, nor
        // stampede an object store
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, math.max(1, rels.size)))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(rels.map(rel =>
            scala.concurrent.Future(rel ->
              footerFileStats(conf, dir, rel, cols, phys, colTypes)))),
          scala.concurrent.duration.Duration.Inf).toMap
        finally pool.shutdown()
      }
    // any single refusal sends the whole set to the scan (types are
    // uniform across one staged set, so per-file mixing buys nothing)
    if (measured.valuesIterator.exists(_.isEmpty)) return None
    def numericSentinel(c: String): String = {
      val u = if (microsCol(schema, c)) "\t~u" else ""
      s"\t$c\t${Long.MaxValue}\t${Long.MinValue}$u"
    }
    Some(rels.map { rel =>
      val FooterFileStats(rows, accs) = measured(rel).get
      val bodies = cols.map { c =>
        val (nulls, lo, hi) = accs(c)
        val body =
          if (colTypes(c) == types.StringType) {
            lo match {
              case null => s"\t$c\t~s0" // all-NULL (or zero rows)
              case mn: String =>
                val (mnB, mnT) = truncMinBound(mn)
                val (mxB, mxT) = truncMaxBound(hi.asInstanceOf[String])
                s"\t$c" + renderStrBounds(StrBounds(empty = false,
                  mnB, mnT, mxB, mxT))
            }
          } else if (lo == null) numericSentinel(c)
          else {
            val u = if (microsCol(schema, c)) "\t~u" else ""
            s"\t$c\t$lo\t$hi$u"
          }
        s"$body\t~n$nulls"
      }
      bodies.zipWithIndex.map { case (b, i) =>
        if (i == 0) s"$b\t~r$rows" else b
      }.mkString(rel, "", "")
    }.sorted)
  }

  /** One file's footer verdict: total row count plus per column
    * (null count, lo, hi) where lo/hi are Long or String by the
    * column's Spark type (null = no non-NULL value in the file). */
  private final case class FooterFileStats(rows: Long,
      cols: Map[String, (Long, Any, Any)])

  /** Measure ONE staged file's stats from its parquet footer alone,
    * or None when any column cannot be answered with scan-identical
    * semantics (the per-type soundness rules in [[footerStatLines]]'s
    * doc). A pure function of the footer — the same code runs on the
    * driver's bounded pool for narrow commits and inside a Spark task
    * for wide ones, so the two dispatch paths cannot diverge. Never
    * throws for a refusal (an exception would fail the task). */
  private def footerFileStats(conf: org.apache.hadoop.conf.Configuration,
      dir: String, rel: String, cols: Seq[String],
      phys: Map[String, String], colTypes: Map[String, DataType])
      : Option[FooterFileStats] = {
    import org.apache.parquet.column.statistics.{BinaryStatistics, IntStatistics, LongStatistics}
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    final case class ColAcc(var nulls: Long, var lo: Any, var hi: Any)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(dir, rel), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks
      var rows = 0L
      val accs = cols.map(c => c -> ColAcc(0L, null, null)).toMap
      val it = blocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        rows += b.getRowCount
        for (c <- cols) {
          val p = phys.getOrElse(c, c)
          val ccOpt = {
            val ci = b.getColumns.iterator()
            var found: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
            while (found == null && ci.hasNext) {
              val cc = ci.next()
              val path = cc.getPath.toArray
              if (path.length == 1 && path(0) == p) found = cc
            }
            Option(found)
          }
          val cc = ccOpt.getOrElse(return None)
          val st = cc.getStatistics
          if (st == null || !st.isNumNullsSet) return None
          val acc = accs(c)
          acc.nulls += st.getNumNulls
          if (st.hasNonNullValue) {
            val pt = cc.getPrimitiveType
            val (lo: Any, hi: Any) = (colTypes(c), st) match {
              case (types.StringType, bs: BinaryStatistics)
                if pt.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
                  pt.getLogicalTypeAnnotation ==
                    LogicalTypeAnnotation.stringType() =>
                (bs.genericGetMin.toStringUsingUTF8,
                  bs.genericGetMax.toStringUsingUTF8)
              case (types.TimestampType, ls: LongStatistics)
                if pt.getLogicalTypeAnnotation ==
                  LogicalTypeAnnotation.timestampType(true,
                    LogicalTypeAnnotation.TimeUnit.MICROS) =>
                (ls.getMin, ls.getMax)
              case (types.LongType, ls: LongStatistics)
                if pt.getLogicalTypeAnnotation == null =>
                (ls.getMin, ls.getMax)
              case (types.ByteType | types.ShortType |
                    types.IntegerType, is: IntStatistics) =>
                (is.getMin.toLong, is.getMax.toLong)
              case (types.DateType, is: IntStatistics)
                if pt.getLogicalTypeAnnotation ==
                  LogicalTypeAnnotation.dateType() =>
                (is.getMin.toLong, is.getMax.toLong)
              case _ => return None
            }
            def less(a: Any, b: Any): Boolean = (a, b) match {
              case (x: String, y: String) => strCmp(x, y) < 0
              case (x: Long, y: Long) => x < y
              case _ => false // unreachable: lo/hi typed above
            }
            if (acc.lo == null || less(lo, acc.lo)) acc.lo = lo
            if (acc.hi == null || less(acc.hi, hi)) acc.hi = hi
          }
        }
      }
      Some(FooterFileStats(rows,
        accs.map { case (c, a) => c -> ((a.nulls, a.lo, a.hi)) }))
    } finally r.close()
  }

  /** Times the footer fast path actually ANSWERED a measurement (spec
    * hook: the A/B comparison alone cannot distinguish "footer path
    * fired" from "silently fell back to the scan every time"). */
  private[graft] val footerStatHits =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Times the footer path dispatched as a SPARK JOB (wide commit —
    * spec hook for the round-19 distributed collection: asserts the
    * executor path actually fired, not the driver pool). */
  private[graft] val footerStatJobHits =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Times a merge ran its stat-prune ranges as the shuffle-free
    * partial agg because the caller declared a one-row-per-key source
    * (`sourceDistinctByKey`) — spec hook: asserts the sink's
    * Update-mode aggregate path actually SKIPS the grouped
    * cardinality probe rather than silently paying it every
    * trigger. */
  private[graft] val mergeProbeSkips =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Measurement hook for [[graft.ManifestBench]]'s footer-stats
    * series (a human tool, not a query path): re-measure the HEAD
    * version's data files' stats for `cols` through [[measureLines]]
    * (footer path honored; the `graft.stats.footer.distributeOver`
    * sysprop decides driver-pool vs Spark-job dispatch) and return
    * wall millis. */
  private[graft] def footerStatsBench(spark: SparkSession, dir: String,
      cols: Seq[String]): Long = {
    val fs = fileSystem(spark, dir)
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $dir"))
    val m = readManifest(fs, dir, v)
    val rels = m.lines.map(parseLine(_)._1)
    val t0 = System.nanoTime()
    measureLines(spark, dir, rels, cols, m.schema, m.colMap)
    (System.nanoTime() - t0) / 1000000
  }

  // bloom sidecar rows: one (data file, column, serialized filter)
  private[lake] val BloomSchema = StructType(Seq(
    StructField("file", types.StringType, nullable = false),
    StructField("col", types.StringType, nullable = false),
    StructField("bits", types.BinaryType, nullable = false)))

  /** Build per-file Bloom filters over `bloomCols` for freshly staged
    * data files and write them to a commit-scoped parquet sidecar.
    * One column-pruned pass: `groupBy` the physical file, a mergeable
    * [[graft.functions.BloomSketch]] per column (map-side partials are
    * fixed-size bit arrays — nothing row-shaped crosses the wire), the
    * melted (file, col, bits) rows written DISTRIBUTED (never collected
    * to the driver: a wide commit's filters can outweigh its manifest
    * a thousandfold). Returns the `#bloom` pointer tuples
    * (data file rel, column, sidecar part rel), resolved by the same
    * read-back pattern the DV writer uses. Zero-row files simply have
    * no filter — their sentinel min/max already prunes every probe.
    */
  /** One listStatus of a commit-scoped sidecar dir → rel path → byte
    * size of each parquet part file: the source of the `~b` size
    * annotation on `#dv`/`#bloom` lines, and the file table the
    * listing-free read-back plans from (round 19). */
  private def sidecarSizes(fs: FileSystem, sideDir: Path)
      : Map[String, Long] =
    (if (fs.exists(sideDir)) fs.listStatus(sideDir) else Array.empty)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => s"data/${sideDir.getName}/${f.getPath.getName}" -> f.getLen)
      .toMap

  /** Write a (file, col, bits) frame as a commit-scoped sidecar and
    * resolve its `#bloom` pointer tuples (data file rel, column,
    * sidecar part rel) plus the parts' byte sizes — the same read-back
    * pattern the DV writer uses, planned listing-free from one
    * listStatus. Deletes the sidecar dir when it holds nothing. */
  private def resolveSidecar(spark: SparkSession, dir: String,
      rows: DataFrame)
      : (Seq[(String, String, String)], Map[String, Long]) = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val fs = fileSystem(spark, dir)
    val sideDir = new Path(dir, s"data/c-${java.util.UUID.randomUUID()}")
    rows.write.parquet(sideDir.toString)
    val sizes = sidecarSizes(fs, sideDir)
    val pointers = manifestScan(spark, dir, BloomSchema,
        sizes.toSeq.map { case (r, sz) => r -> Some(sz) })
      .select(col("file"), col("col"), input_file_name().as("__d"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), relOfUri(r.getString(2))))
      .toSeq
    if (pointers.isEmpty) { fs.delete(sideDir, true); (Nil, Map.empty) }
    else (pointers, sizes.filter { case (r, _) =>
      pointers.exists(_._3 == r) })
  }

  /** Build per-file Bloom filters for freshly staged data files, one
    * per `cfg` entry (column, expectedItems, fpp) — the sizing is the
    * TABLE's recorded `#bloomcfg` index config, so a rewrite
    * re-measures at the sizing the index was committed with, never a
    * default that silently saturates a big table's filters. One
    * column-pruned pass: `groupBy` the physical file, a mergeable
    * [[graft.functions.BloomSketch]] per column (map-side partials are
    * fixed-size bit arrays — nothing row-shaped crosses the wire), the
    * melted (file, col, bits) rows written DISTRIBUTED (never collected
    * to the driver: a wide commit's filters can outweigh its manifest
    * a thousandfold). Column references are backtick-quoted — a column
    * literally named `a.b` must not parse as struct access.
    */
  private def stageBlooms(spark: SparkSession, dir: String,
      stagedLines: Seq[String],
      cfg: Seq[(String, Long, Double)],
      colMap: Seq[(String, String)] = Nil)
      : (Seq[(String, String, String)], Map[String, Long]) = {
    import org.apache.spark.sql.functions.{array, col, explode, input_file_name, lit, regexp_extract, struct}
    val byCol: Seq[(String, Long, Double)] =
      cfg.groupBy(_._1).values.map(_.head).toSeq.sortBy(_._1)
    if (byCol.isEmpty || stagedLines.isEmpty) return (Nil, Map.empty)
    val paths = stagedLines.map(l => s"$dir/${parseLine(l)._1}")
    // cfg columns are LOGICAL; staged files carry PHYSICAL names —
    // the agg reads through the mapping, the pointers and sidecar
    // rows record the LOGICAL name (what probeBlooms' atoms speak;
    // a later rename of an indexed column is refused, so the
    // recorded name never goes stale)
    val phys = colMap.toMap
    def q(name: String) = col(s"`$name`")
    val aggs = byCol.map { case (c, n, f) => graft.functions.BloomAgg
      .bloomSketch(q(phys.getOrElse(c, c)), n, f).as(s"__b_$c") }
    val perFile = spark.read.parquet(paths: _*)
      .groupBy(regexp_extract(input_file_name(), RelPattern, 1).as("file"))
      .agg(aggs.head, aggs.tail: _*)
    val melted = perFile.select(col("file"),
      explode(array(byCol.map { case (c, _, _) =>
        struct(lit(c).as("col"), q(s"__b_$c").as("bits")) }: _*)).as("g"))
      .select(col("file"), col("g.col").as("col"), col("g.bits").as("bits"))
    val (pointers, sizes) = resolveSidecar(spark, dir, melted)
    // ZERO-ROW staged files never reach the groupBy, so they would
    // carry no filter and pollute every point-lookup plan forever
    // (an absent filter is conservatively unprunable). Record an
    // EMPTY bloom for them — no rows means no probe can match, the
    // same vacuous-pruning rule the min/max sentinel encodes.
    val covered = pointers.map(_._1).toSet
    val missing = stagedLines.map(parseLine(_)._1).filterNot(covered)
    if (missing.isEmpty) (pointers, sizes)
    else {
      def emptyBits(n: Long, f: Double): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.spark.util.sketch.BloomFilter.create(n, f).writeTo(out)
        out.toByteArray
      }
      import spark.implicits._
      val rows = for { f <- missing; (c, n, p) <- byCol }
        yield (f, c, emptyBits(n, p))
      val (extra, extraSizes) = resolveSidecar(spark, dir,
        rows.toDF("file", "col", "bits").coalesce(1))
      (pointers ++ extra, sizes ++ extraSizes)
    }
  }

  /** Per-file Bloom ANSWERS for a predicate's equality atoms — what
    * the pruner consumes instead of the filters themselves. `true`
    * means "might contain"; an atom absent from the maps means no
    * filter answered it (conservatively unprunable, never an error).
    */
  private[graft] final case class BloomVerdicts(
      longs: Map[(String, Long), Boolean],
      strs: Map[(String, String), Boolean])

  private[graft] object BloomVerdicts {
    val empty: BloomVerdicts = BloomVerdicts(Map.empty, Map.empty)
  }

  /** Probe version-manifest `m`'s Bloom filters for `files` against
    * the given equality atoms, ON THE EXECUTORS: the sidecar rows are
    * read distributed, each serialized filter is deserialized and
    * probed in the task that scanned it, and only `(file, col, value,
    * boolean)` verdicts return to the driver — O(candidates × atoms)
    * booleans, never O(filter bytes). At a million files × 32 KB
    * filters the round-11 driver-side collect loaded gigabytes for an
    * unprunable-by-stats point lookup; this keeps the driver at the
    * pointer set it already holds from the manifest. The atom tables
    * broadcast (they are the predicate's literals — bytes); the
    * (file, col) keep-set rides a broadcast semi-join so a wide
    * commit's sidecar never ships rows for files the range stats
    * already pruned.
    */
  private[graft] def probeBlooms(spark: SparkSession, dir: String,
      m: Manifest, longAtoms: Map[String, Set[Long]],
      strAtoms: Map[String, Set[String]],
      files: Set[String]): Map[String, BloomVerdicts] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val cols = longAtoms.keySet ++ strAtoms.keySet
    val wanted = m.blooms.filter(b =>
      cols.contains(b._2) && files.contains(b._1))
    if (wanted.isEmpty) return Map.empty
    import spark.implicits._
    val keepDf = wanted.map(b => (b._1, b._2)).distinct
      .toDF("file", "col")
    val bcLong = spark.sparkContext.broadcast(longAtoms)
    val bcStr = spark.sparkContext.broadcast(strAtoms)
    try {
      // listing-free sidecar scan: `#bloom`-recorded `~b` sizes feed
      // [[manifestScan]] (round 19); a pre-size pointer statuses its
      // one file on the driver
      manifestScan(spark, dir, BloomSchema,
        wanted.map(_._3).distinct.map(r => r -> m.bloomSizes.get(r)))
        .filter(col("col").isin(cols.toSeq: _*)) // row-group pushdown
        .join(broadcast(keepDf), Seq("file", "col"), "left_semi")
        .select("file", "col", "bits")
        .as[(String, String, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (f, c, bits) =>
            val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bits))
            (f, c,
              bcLong.value.getOrElse(c, Set.empty[Long]).toSeq
                .map(v => v -> bf.mightContainLong(v)),
              bcStr.value.getOrElse(c, Set.empty[String]).toSeq
                .map(s => s -> bf.mightContainString(s)))
          }
        }
        .collect().toSeq
        .groupBy(_._1)
        .map { case (f, rows) =>
          f -> BloomVerdicts(
            rows.flatMap(r => r._3.map { case (v, b) => (r._2, v) -> b })
              .toMap,
            rows.flatMap(r => r._4.map { case (s, b) => (r._2, s) -> b })
              .toMap)
        }
    } finally {
      bcLong.destroy()
      bcStr.destroy()
    }
  }

  /** Publish with COMMIT-AMBIGUITY resolution. An object store's
    * conditional put can fail indeterminately: a timeout/5xx AFTER the
    * store durably accepted the write. A naive caller retry would
    * re-stage and re-append the same rows at v+1 — a silent duplicate.
    * This wrapper (a) retries a throwing put boundedly (the
    * precondition makes the retry idempotent: a late-landing first
    * attempt turns the retry into a clean 412), and (b) after EVERY
    * apparent loss reads the winning manifest's `#commituuid` and
    * CLAIMS the version when self-authored. Returns true iff this
    * commit owns `next`; rethrows the transport error only when the
    * publish demonstrably never landed.
    */
  private def publishResolved(fs: FileSystem, dir: String, next: Int,
      uuid: String)(put: => Boolean): Boolean = {
    var lastErr: Throwable = null
    var attempts = 0
    while (attempts < 5) {
      val won =
        try put
        catch { case scala.util.control.NonFatal(e) =>
          lastErr = e; false }
      // the winner advances the advisory `_head` pointer (including a
      // claimed indeterminate put — the version IS this commit's);
      // losers leave it to the writer that actually owns the version
      if (won) { writeHeadPointer(fs, dir, next); return true }
      if (fs.exists(manifestPath(dir, next))) {
        // headers-only read: self-authorship needs no reconstruction
        val mine = readHeaderOnly(fs, dir, next).commitUuid.contains(uuid)
        if (mine) writeHeadPointer(fs, dir, next)
        return mine
      }
      // lost with NO manifest visible: impossible for a clean 412 on a
      // strongly consistent store — only an indeterminate transport
      // error leaves this state, so retry the put itself
      if (lastErr == null) return false
      attempts += 1
    }
    throw lastErr
  }

  private def newCommitUuid(): String =
    java.util.UUID.randomUUID().toString

  /** Compare-and-swap publish of state `m` as version `next`: true iff
    * THIS writer created the version (see class doc for the substrate).
    * The temp file is writer-unique so racing writers never collide on
    * the staging name either.
    *
    * `m` is the full next state — each caller builds it as
    * `parent.copy(<what this commit changes>)`, so every policy field
    * it does not touch carries. This is the one place that sets what
    * is computed at publish: the `#ts` instant, the `#txnhw` fold, the
    * delta-or-snapshot choice (`#base`), and the gate lines (derived
    * from the published state; a gate copied from the parent is
    * cleared, so dropping the last CHECK lifts the writer gate).
    *
    * `parent` is the reconstructed state of version `next - 1` (every
    * caller holds it — it read the head to build the new state). When
    * present, the publish writes a DELTA file — full headers plus the
    * add/remove difference against the parent — unless the chain hit
    * its [[manifestCheckpointEvery]] cap or the delta would not be
    * smaller than the snapshot (a replace/restore changes most lines;
    * its "delta" IS the table). This is what bounds commit cost at
    * O(changed files) bytes instead of O(table files): at a million
    * retained files a 1-row append writes one header block and one
    * line, not a ~100 MB relisting.
    */
  private def casPublish(fs: FileSystem, dir: String, next: Int,
      m: Manifest, parent: Option[Manifest]): Boolean = {
    val target = manifestPath(dir, next)
    val tmp = new Path(dir,
      f"_manifest/.v$next%05d-${java.util.UUID.randomUUID()}.tmp")
    fs.mkdirs(new Path(dir, "_manifest"))
    // the commit instant, forced monotonic with the version chain:
    // clock skew between cross-process writers must never let
    // TIMESTAMP AS OF resolve to a version that is not the latest
    // committed at-or-before t
    val ts = math.max(System.currentTimeMillis(),
      parent.map(_.ts + 1).getOrElse(Long.MinValue))
    // aggregated transaction high-water (the idempotence LEDGER, not
    // table content — a replace/restore resets data, never the
    // ledger: resetting would re-open the double-append hole): the
    // parent's map and this commit's stamp, merged by MAX batchId per
    // appId. The map is complete (`#txnseal`) from v0 on: every
    // commit folds its own stamp into it.
    val txnHw: Seq[(String, Long, Option[Long])] = {
      // per appId: max batchId wins; its last-stamp instant rides
      // along (an entry with no recorded instant — pre-retention
      // format — ages from THIS commit: kept a full horizon from now,
      // never dropped early)
      val acc =
        scala.collection.mutable.Map.empty[String, (Long, Option[Long])]
      def fold(entries: Iterable[(String, Long, Option[Long])]): Unit =
        entries.foreach { case (a, b, t) =>
          acc.get(a) match {
            case Some((b0, _)) if b0 >= b => ()
            case _ => acc(a) = (b, t)
          }
        }
      fold(parent.map(_.txnHw).getOrElse(Nil))
      fold(m.txn.map { case (a, b) => (a, b, Some(ts)) })
      // instants render ONLY while a retention horizon is declared:
      // an undeclared table keeps the 2-field entries a pre-retention
      // reader parses (byte-compat until the feature is used — the
      // protocol-gate rule), and UNSET returns to them. Entries
      // without an instant age from the first republish under a
      // declared horizon — kept a full horizon from then, never
      // dropped early.
      m.txnRetention match {
        case Some(r) =>
          // the retention sweep: entries stamped before the horizon
          // drop (their writers re-append on replay — the documented
          // contract; this commit's own stamp is current and never
          // qualifies)
          acc.toSeq.map { case (a, (b, t)) =>
            (a, b, Some(t.getOrElse(ts)))
          }.filter(_._3.exists(_ >= ts - r)).sortBy(_._1)
        case None => acc.toSeq.map { case (a, (b, _)) =>
          (a, b, None: Option[Long])
        }.sortBy(_._1)
      }
    }
    // the WRITER gate: a commit over a parent whose write-side
    // contracts this binary does not implement must refuse BY NAME —
    // publishing would silently drop the contract (unvalidated CHECK
    // rows, unsorted clustered files). Reads stay open; only the
    // commit is fenced. The current binary knows every feature it
    // can itself write, so this trips only on future/foreign tables.
    parent.foreach { pm =>
      val unknownW = pm.writerFeatures
        .filterNot(ManifestCodec.SupportedWriterFeatures)
      if (unknownW.nonEmpty ||
          pm.minWriter.exists(_ > ManifestCodec.CurrentWriterVersion))
        throw new UnsupportedTableFeatureException(
          "cannot COMMIT to this table: it requires writer " +
            pm.minWriter.filter(_ > ManifestCodec.CurrentWriterVersion)
              .map(v => s"version $v (this engine writes up to " +
                s"${ManifestCodec.CurrentWriterVersion})")
              .getOrElse("features") +
            (if (unknownW.isEmpty) ""
             else unknownW.mkString(" [", ", ", "] this engine does" +
               " not implement")) +
            " — reading stays open; upgrade the writer (publishing" +
            " would silently drop a write-side contract)")
    }
    val pub = m.copy(ts = ts, txnHw = txnHw, writerFeatures = Nil,
      minWriter = None)
    // the TABLE's snapshot cadence (`#ckptevery`, else the default)
    val every = pub.ckptEvery.getOrElse(manifestCheckpointEvery)
    val delta = parent.filter(p => every > 1 && p.chainDepth + 1 < every)
      .flatMap(p => ManifestCodec.encodeDelta(p, next - 1, pub))
    val out = fs.create(tmp, false)
    try out.write(ManifestCodec.render(pub, delta)
      .mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    casStoreFor(fs, target).putIfAbsent(fs, dir, tmp, target)
  }

  /** The compare-and-swap substrate a commit publishes through: install
    * `tmp` as `target` iff `target` does not exist, atomically —
    * exactly one concurrent caller (thread OR process) may win a
    * version. `tmp` is consumed on success and deleted on a lost race.
    * Pluggable (the LogStore shape every production format grew):
    * [[LinkCasStore]] on local filesystems, [[RenameCasStore]] on
    * HDFS-semantics filesystems; an object store would add its
    * conditional-put (`If-None-Match`) implementation here.
    */
  trait CasStore {
    def putIfAbsent(fs: FileSystem, dir: String, tmp: Path,
        target: Path): Boolean
  }

  /** The weakest coordination primitive object stores offer, and the
    * only one the commit protocol needs: create `key` holding `bytes`
    * iff `key` is absent, ATOMICALLY, strongly consistent — S3
    * `PutObject` + `If-None-Match: *`, GCS `ifGenerationMatch=0`,
    * Azure Blob `If-None-Match: *`. Returns true iff THIS call
    * created the key. A deployment implements this against its
    * store's SDK and plugs it in via [[registerCasStore]] +
    * [[ConditionalPutCasStore]]; [[graft.VersionedCasStoreSpec]]
    * races writers through an injected client to pin that nothing
    * stronger (no rename, no lock, no lease) is required. */
  trait ConditionalPut {
    def putIfAbsent(key: String, bytes: Array[Byte]): Boolean
  }

  /** [[CasStore]] over a [[ConditionalPut]] client: the manifest
    * bytes publish through one conditional put — the object-store
    * implementation of the commit slot. The staged `tmp` file is
    * consumed either way (its bytes ARE the put body; on a lost race
    * nothing of it survives). */
  final class ConditionalPutCasStore(client: ConditionalPut)
    extends CasStore {
    override def putIfAbsent(fs: FileSystem, dir: String, tmp: Path,
        target: Path): Boolean = {
      val in = fs.open(tmp)
      val bytes =
        try {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](65536)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toByteArray
        } finally in.close()
      val won = client.putIfAbsent(target.toString, bytes)
      fs.delete(tmp, false)
      won
    }
  }

  private val casRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, CasStore]()

  /** Deployment hook: route commit publishes through a custom
    * [[CasStore]] — keyed by filesystem SCHEME (`"s3a"`) or, when the
    * key contains a `/`, by PATH PREFIX (one table, one warehouse).
    * The longest matching prefix wins over a scheme match; built-in
    * defaults (link on local, exists+rename on HDFS semantics) apply
    * when nothing is registered.
    * This is the LogStore-shaped slot production formats grew: an
    * object-store deployment registers
    * `ConditionalPutCasStore(client)` for its scheme and every
    * concurrent-writer guarantee carries over unchanged. */
  def registerCasStore(schemeOrPrefix: String, store: CasStore): Unit = {
    casRegistry.put(schemeOrPrefix, store); ()
  }

  def unregisterCasStore(schemeOrPrefix: String): Unit = {
    casRegistry.remove(schemeOrPrefix); ()
  }

  /** Exists-probe + rename under the per-table JVM lock. On
    * HDFS-semantics filesystems the rename itself refuses an existing
    * destination (the lock is belt-and-braces); on a local filesystem,
    * where rename(2) silently overwrites, the lock is the mutex — so
    * this store is single-JVM on local FS, which is why it is not the
    * local default. */
  private[graft] object RenameCasStore extends CasStore {
    override def putIfAbsent(fs: FileSystem, dir: String, tmp: Path,
        target: Path): Boolean =
      lockFor(dir).synchronized {
        if (fs.exists(target)) { fs.delete(tmp, false); false }
        else if (fs.rename(tmp, target)) true
        else { fs.delete(tmp, false); false }
      }
  }

  /** POSIX hard-link publish: `link(2)` fails with `EEXIST` if the
    * target exists, ATOMICALLY, enforced by the kernel across
    * processes — the local-filesystem equivalent of an object store's
    * conditional put, and what makes two `spark-submit` jobs on the
    * same local table commit-safe (CrossJvmCommitSpec races a forked
    * JVM against the in-process writer to pin exactly this). Falls
    * back to [[RenameCasStore]] where the filesystem cannot link. */
  private[graft] object LinkCasStore extends CasStore {
    override def putIfAbsent(fs: FileSystem, dir: String, tmp: Path,
        target: Path): Boolean = {
      val t = java.nio.file.Paths.get(tmp.toUri.getPath)
      val g = java.nio.file.Paths.get(target.toUri.getPath)
      try {
        java.nio.file.Files.createLink(g, t)
        java.nio.file.Files.deleteIfExists(t)
        deleteCrcSibling(t)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(t)
          deleteCrcSibling(t)
          false
        case _: UnsupportedOperationException =>
          RenameCasStore.putIfAbsent(fs, dir, tmp, target)
      }
    }

    /** The tmp was written through Hadoop's ChecksumFileSystem, which
      * shadowed it with a `.<name>.crc` sidecar; publishing via NIO
      * `link(2)` + delete bypasses that layer, so the sidecar must go
      * explicitly or `_manifest` accumulates one orphaned crc file per
      * commit forever (the rename store's `fs.rename`/`fs.delete`
      * carried or removed it as a pair). */
    private def deleteCrcSibling(t: java.nio.file.Path): Unit = {
      val parent = t.getParent
      if (parent != null) {
        java.nio.file.Files.deleteIfExists(
          parent.resolve("." + t.getFileName.toString + ".crc"))
        ()
      }
    }
  }

  private def casStoreFor(fs: FileSystem, target: Path): CasStore = {
    if (!casRegistry.isEmpty) {
      val uri = target.toString
      // prefix matches end at a path-segment boundary: a registration
      // for …/tbl must not capture …/tbl2's commits
      def covers(k: String): Boolean = {
        val p = k.stripSuffix("/")
        uri == p || uri.startsWith(p + "/")
      }
      var best: String = null
      val it = casRegistry.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k.contains("/") && covers(k) &&
            (best == null || k.length > best.length)) best = k
      }
      if (best != null) return casRegistry.get(best)
      val byScheme = casRegistry.get(fs.getScheme)
      if (byScheme != null) return byScheme
    }
    if (fs.getScheme == "file") LinkCasStore else RenameCasStore
  }

  /** Enforce the table's CHECK constraints against freshly staged
    * files: a row violates iff the expression evaluates to FALSE
    * (NULL passes — the SQL-standard CHECK rule, and what lets a
    * constraint over an evolved column admit null-filling old
    * writers). The scan reads ONLY the staged files (never the
    * table), under the table schema so omitted columns null-fill,
    * and stops at the first violating row per constraint.
    */
  private def enforceChecks(spark: SparkSession, dir: String,
      staged: Seq[String], checks: Seq[(String, String)],
      tableSchema: StructType,
      colMap: Seq[(String, String)] = Nil): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, max, not, when}
    if (checks.isEmpty || staged.isEmpty) return
    // CHECK expressions speak logical names; staged files are physical
    val p = colMap.toMap
    val physSchema = StructType(tableSchema.map(f =>
      f.copy(name = p.getOrElse(f.name, f.name))))
    val raw = manifestScanLines(spark, dir, physSchema, staged)
    val df =
      if (colMap.isEmpty) raw
      else raw.toDF(tableSchema.fieldNames.toSeq: _*)
    // ONE pass evaluates every constraint (optimization round 18):
    // the per-check `filter.limit(1).count()` probes each cost a full
    // staged-set scan in the clean case — and `limit(1)` executes as
    // an incremental take (1 partition, then 4, ...), several jobs
    // per check when nothing violates. A violation still names the
    // FIRST violated constraint in declaration order, as before.
    val flags = checks.map { case (_, sql) =>
      max(when(not(coalesce(expr(sql), lit(true))), 1).otherwise(0)) }
    val r = df.agg(flags.head, flags.tail: _*).head()
    checks.zipWithIndex.foreach { case ((name, sql), i) =>
      if (!r.isNullAt(i) && r.getInt(i) > 0)
        throw new CheckViolationException(
          s"commit to $dir violates CHECK constraint '$name' ($sql); " +
            "nothing was published")
    }
  }

  /** Apply the table's declared WRITE-TIME CLUSTERING to a frame a
    * commit is about to stage — shared by the append path
    * ([[commitImpl]]) and the upsert path ([[mergeInto]], which the
    * Update-mode streaming sink and SQL MERGE route through), so
    * every write honors the layout contract, not just plain inserts.
    * A frame missing a declared column (an old-shape writer against
    * an evolved table) skips the step: conservative, its files'
    * stats merely overlap until the next compact. */
  private def clusterForStage(df: DataFrame,
      clusterCols: Seq[String]): DataFrame =
    if (clusterCols.nonEmpty &&
        clusterCols.forall(df.schema.fieldNames.contains)) {
      import org.apache.spark.sql.functions.col
      val keys = clusterCols.map(col)
      df.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
    } else df

  /** The `graft.schema.enforce` guard: a frame carrying columns the
    * table schema does not declare refuses — IMPLICIT evolution is
    * exactly the typo'd-upstream-field drift the policy exists to
    * stop. Missing columns null-fill and lossless widening stays
    * admitted (neither changes what the schema DECLARES); the
    * declared DDL route ([[addColumns]] / ALTER TABLE … ADD COLUMNS)
    * stays open. */
  private def enforceDeclaredSchema(tableSchema: StructType,
      frameSchema: StructType, dir: String): Unit = {
    val extra = frameSchema.fieldNames
      .filterNot(tableSchema.fieldNames.contains)
    require(extra.isEmpty,
      s"table $dir declares schema enforcement " +
        s"('graft.schema.enforce'): implicit new column(s) " +
        extra.mkString("[", ", ", "]") + " refused — declare them " +
        "with ALTER TABLE … ADD COLUMNS (Versioned.addColumns), or " +
        "UNSET the property to return to auto-evolution")
  }

  /** DECLARED schema evolution — the ALTER TABLE … ADD COLUMNS verb:
    * commit the evolved schema as an empty append, EXEMPT from
    * `graft.schema.enforce` (enforcement fences implicit writer
    * drift, not reviewed DDL). */
  private[graft] def commitDeclaredEvolution(spark: SparkSession,
      dir: String, df: DataFrame): Int =
    commitImpl(spark, dir, df, replace = false, statCols = Nil,
      declaredEvolution = true)

  /** DECLARED schema evolution from the Scala API — the route the
    * `graft.schema.enforce` refusal names: append `fields` to the
    * table schema as a metadata-only commit (pre-evolution rows read
    * the new columns as NULL, so each must be nullable). The SQL twin
    * is `ALTER TABLE … ADD COLUMNS`. Returns the new version. */
  def addColumns(spark: SparkSession, dir: String,
      fields: Seq[StructField]): Int = {
    require(fields.nonEmpty, "addColumns needs at least one field")
    fields.foreach(f => require(f.nullable,
      s"added column '${f.name}' must be nullable — rows committed " +
        "before the evolution read it as NULL"))
    val head = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version in $dir to evolve"))
    val schema = readManifest(fileSystem(spark, dir), dir, head).schema
    fields.foreach(f => require(!schema.fieldNames
      .exists(_.equalsIgnoreCase(f.name)),
      s"column '${f.name}' already exists in $dir"))
    commitDeclaredEvolution(spark, dir,
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(schema.fields ++ fields)))
  }

  private def commitImpl(spark: SparkSession, dir: String, df: DataFrame,
      replace: Boolean, statCols: Seq[String],
      txn: Option[(String, Long)] = None,
      bloomCols: Seq[String] = Nil, bloomExpected: Long = 100000L,
      bloomFpp: Double = 0.03,
      declaredEvolution: Boolean = false): Int = {
    val fs = fileSystem(spark, dir)
    val newCfgDecl = bloomCols.distinct.map((_, bloomExpected, bloomFpp))
    // FILE-SKIPPING POLICY IS TABLE POLICY, carried like CHECK
    // constraints through appends AND replaces: every commit measures
    // stats for the union of the caller's columns and the table's
    // tracked ones (`#statcols`), and builds blooms for its staged
    // files under the carried config too — otherwise one untracked
    // append (SQL INSERT INTO, a streaming writer, old pipeline code)
    // would silently kill metadata-only COUNT(*) for every later
    // version (rowCountFromMetadata is all-or-nothing) and degrade
    // the stats/bloom pruners toward O(table). DML rewrites already
    // inherit the tracked columns; appends follow the same rule.
    // The caller's own bloom sizing overrides per column.
    def policyOf(hm: Option[Manifest])
        : (Seq[String], Seq[(String, Long, Double)]) = (
      (statCols ++ hm.map(_.statColsPolicy).getOrElse(Nil)).distinct,
      newCfgDecl ++ hm.map(_.bloomCfg).getOrElse(Nil)
        .filterNot(c => bloomCols.contains(c._1)))
    // measurable on THIS commit's files: policy columns the staged
    // frame does not carry (an old writer appending to an evolved
    // table) simply record no group — conservative, never wrong
    def measurable(p: (Seq[String], Seq[(String, Long, Double)]))
        : (Seq[String], Seq[(String, Long, Double)]) = (
      p._1.filter(df.schema.fieldNames.contains),
      p._2.filter(c => df.schema.fieldNames.contains(c._1)))
    val head0 = latestVersion(spark, dir).map(readManifest(fs, dir, _))
    var (measuredStats, measuredCfg) = measurable(policyOf(head0))
    // id column-mapping mode: NEW columns (and every column of a
    // replace — fresh files, fresh namespace) mint uuid PHYSICAL
    // names at stage time, so a renamed- or dropped-away name can be
    // re-used later with no byte leakage
    val idMode = head0.exists(_.colMapMode.contains("id"))
    var stageMints: Seq[(String, String)] =
      if (!idMode) Nil
      else if (replace)
        df.schema.fieldNames.toSeq.map(_ -> mintPhysical())
      else {
        val known = head0.map(_.schema.fieldNames.toSet)
          .getOrElse(Set.empty)
        df.schema.fieldNames.toSeq.filterNot(known.contains)
          .map(_ -> mintPhysical())
      }
    // the staging-time column mapping: staged files carry PHYSICAL
    // names under it (physical names are birth-stable, so a racing
    // rename between staging and publish cannot invalidate them)
    var stageMap =
      if (replace) stageMints
      else head0.map(_.colMap).getOrElse(Nil) ++ stageMints
    val stageDrops =
      if (replace) Nil else head0.map(_.colDrops).getOrElse(Nil)
    // catch a physical-name collision BEFORE staging: the write-side
    // rename would otherwise produce two columns with one name
    guardColMap(df.schema, stageMap, stageDrops)
    // WRITE-TIME CLUSTERING: a table that declared
    // `graft.cluster.cols` range-partitions + sorts THIS commit's own
    // rows on those columns before they stage (compactCommit's
    // clusterBy recipe at append time), so per-file min/max stats are
    // born disjoint and [[readPruned]] plans O(matching files) from
    // the first insert — no OPTIMIZE pass needed to repair an
    // append-ordered layout.
    // schema enforcement refuses BEFORE the frame stages: the
    // refusal is the feature's primary path, and a 10M-row drifted
    // frame must not pay a full parquet write just to become orphan
    // files (the in-loop re-check below still covers a racing
    // policy declaration)
    if (!replace && !declaredEvolution)
      head0.filter(_.schemaEnforce).foreach(hm =>
        enforceDeclaredSchema(hm.schema, df.schema, dir))
    val dfLaid = clusterForStage(df,
      head0.map(_.clusterCols).getOrElse(Nil))
    var newFiles = stage(spark, dir, dfLaid, measuredStats, stageMap)
    var (newBlooms, newBloomSizes) = stageBlooms(spark, dir, newFiles,
      measuredCfg, stageMap)
    val uuid = newCommitUuid()
    var attempts = 0
    // re-validated inside the retry loop only when the constraint set
    // actually changed under us (a racing addCheck): the common retry —
    // losing the version number to another append — never re-scans
    var validatedFor: Option[Seq[(String, String)]] = None
    while (true) {
      val head = latestVersion(spark, dir)
      val next = head.map(_ + 1).getOrElse(0)
      // carried files, and the schema the new version publishes: an
      // append EVOLVES the head schema (recomputed each retry — the
      // head we lost to may itself have evolved it); a replace claims
      // schema authority outright. CHECK constraints are table policy:
      // they carry through appends AND plain replaces alike.
      val headManifest = head.map(readManifest(fs, dir, _))
      val carried = if (replace) Nil else headManifest.map(_.lines)
        .getOrElse(Nil)
      // an append keeps the head's deletion vectors (its carried files
      // keep their deleted rows); a replace claims full-table
      // authority — its fresh files carry no DVs by construction.
      // Bloom pointers ride the same rule: carried files keep their
      // filters, a replace starts from its own staged index only —
      // but the index CONFIG and stat policy carry either way (policy
      // outlives the data it happened to describe).
      val carriedDvs = if (replace) Nil
        else headManifest.map(_.dvs).getOrElse(Nil)
      val carriedBlooms = if (replace) Nil
        else headManifest.map(_.blooms).getOrElse(Nil)
      val (polStats, polCfg) = policyOf(headManifest)
      // a racing commit may have WIDENED the policy between staging
      // and this attempt: re-measure the already-staged files under
      // the head's policy (stats re-scan; blooms only for columns not
      // yet indexed) so this commit honors it too — no data rewrite
      val (wantStats, wantCfg) = measurable((polStats, polCfg))
      if (wantStats.toSet != measuredStats.toSet) {
        // the ~b size annotations survive the re-measure (stage
        // recorded them; a re-scan of the same immutable files
        // cannot change them)
        val priorSizes = newFiles.flatMap(l =>
          lineSizeOf(l).map(parseLine(l)._1 -> _)).toMap
        newFiles = measureLines(spark, dir,
          newFiles.map(parseLine(_)._1), wantStats, df.schema, stageMap)
          .map(l => priorSizes.get(parseLine(l)._1)
            .map(s => s"$l\t~b$s").getOrElse(l))
        measuredStats = wantStats
      }
      val missingCfg =
        wantCfg.filterNot(c => measuredCfg.exists(_._1 == c._1))
      if (missingCfg.nonEmpty) {
        val (extraB, extraS) =
          stageBlooms(spark, dir, newFiles, missingCfg, stageMap)
        newBlooms = newBlooms ++ extraB
        newBloomSizes = newBloomSizes ++ extraS
        measuredCfg = measuredCfg ++ missingCfg
      }
      // symmetric with the stats re-measure: a racing policy
      // NARROWING drops already-staged filters for columns no longer
      // declared — publishing them would leave pointers outside the
      // manifest's #bloomcfg (harmless to pruning, but inconsistent
      // config/pointer state)
      if (measuredCfg.exists(c => !wantCfg.exists(_._1 == c._1))) {
        newBlooms = newBlooms.filter(b => wantCfg.exists(_._1 == b._2))
        measuredCfg = measuredCfg.filter(c => wantCfg.exists(_._1 == c._1))
      }
      // id-mode mint DRIFT: a racing commit may have introduced one
      // of OUR new columns under its own mint — our staged files
      // carry OUR uuid, so publishing against the head's mapping
      // would silently null the column. Re-stage the frame under the
      // head's physical names (staged orphans are swept by expire,
      // like any lost CAS attempt), then continue the loop normally.
      if (stageMints.nonEmpty && !replace) {
        val hm = headManifest.map(_.colMap.toMap).getOrElse(Map.empty)
        val hs = headManifest.map(_.schema.fieldNames.toSet)
          .getOrElse(Set.empty)
        if (stageMints.exists { case (n, p) =>
            hs.contains(n) && hm.getOrElse(n, n) != p }) {
          stageMints = stageMints.flatMap { case (n, p) =>
            if (!hs.contains(n)) Some((n, p))
            else hm.get(n).map((n, _)) // head's mint (or drop if birth)
          }.filter(e => e._1 != e._2)
          stageMap = headManifest.map(_.colMap).getOrElse(Nil) ++
            stageMints.filterNot(e =>
              headManifest.exists(_.colMap.exists(_._1 == e._1)))
          newFiles = stage(spark, dir, dfLaid, measuredStats, stageMap)
          val (reB, reS) = stageBlooms(spark, dir, newFiles, measuredCfg,
            stageMap)
          newBlooms = reB
          newBloomSizes = newBloomSizes ++ reS
        }
      }
      if (!replace && !declaredEvolution)
        headManifest.filter(_.schemaEnforce).foreach(hm =>
          enforceDeclaredSchema(hm.schema, df.schema, dir))
      val schema =
        if (replace) df.schema
        else headManifest.map(hm => evolveSchema(hm.schema, df.schema))
          .getOrElse(df.schema)
      // a replace claims naming authority too: its files' physical
      // names ARE its logical names (or fresh mints under id mode),
      // so the mapping resets to this commit's own
      val pubColMap =
        if (replace) stageMap
        else headManifest.map(_.colMap).getOrElse(Nil) ++
          stageMints.filterNot(e =>
            headManifest.exists(_.colMap.exists(_._1 == e._1)))
      // a replace resets the drop tombstones with the mapping: its
      // fresh files ARE the table, so no old bytes can leak
      val pubColDrops =
        if (replace) Nil else headManifest.map(_.colDrops).getOrElse(Nil)
      guardColMap(schema, pubColMap, pubColDrops)
      val checks = headManifest.map(_.checks).getOrElse(Nil)
      // the state this commit starts from: every policy field it does
      // not set below carries from the head
      val prior = headManifest.getOrElse(Manifest(schema))
      if (!validatedFor.contains(checks)) {
        enforceChecks(spark, dir, newFiles, checks, schema, stageMap)
        validatedFor = Some(checks)
      }
      if (publishResolved(fs, dir, next, uuid)(
          casPublish(fs, dir, next, prior.copy(schema = schema,
            lines = carried ++ newFiles, txn = txn, checks = checks,
            dvs = carriedDvs, blooms = carriedBlooms ++ newBlooms,
            op = Some(txn.map(_ => "stream-append")
              .getOrElse(if (replace) "replace" else "append")),
            // published policy tracks the PUBLISHED schema: a replace
            // that drops a tracked column drops it from the policy too
            bloomCfg = polCfg.filter(c =>
              schema.fieldNames.contains(c._1)),
            statColsPolicy = polStats.filter(schema.fieldNames.contains),
            commitUuid = Some(uuid), colMap = pubColMap,
            colDrops = pubColDrops,
            bloomSizes = prior.bloomSizes ++ newBloomSizes),
            headManifest)))
        return next
      // CAS lost: an append re-reads head and retries (appends commute);
      // a plain replace cannot merge with the commit it never saw
      if (replace) throw new CommitConflictException(
        s"replace of $dir lost version $next to a concurrent commit; " +
          "re-derive from the new head (or use commitReplace/" +
          "compactCommit, which merge non-conflicting appends)")
      attempts += 1
      require(attempts < 1000,
        s"append to $dir still losing the version race after $attempts " +
          "attempts — livelock, or a broken clock of committers")
    }
    -1 // unreachable
  }

  /** Validated replace (optimistic, multi-writer): publish `df` as the
    * whole table state, derived from `baseVersion` (default: head at
    * call time). If other commits landed since the base, rows they
    * added are re-read and checked for key overlap with the staged
    * rows on `keyCols`:
    *  - no overlap → the interleaved appends are carried into the new
    *    manifest and the replace retries (serializes as "replace, then
    *    those appends");
    *  - any overlap, or an interleaved REPLACE (base files missing
    *    from head) → [[CommitConflictException]]; the caller re-derives
    *    from the new head.
    *
    * Scale shape: validation reads ONLY the files added since base
    * (manifest set-difference — no table scan), and the overlap probe
    * is a left-semi join limited to one row.
    *
    * Generalizes the reference's staging+MERGE idempotence
    * (transf.py:329-362) from one writer to N.
    */
  def commitReplace(spark: SparkSession, dir: String, df: DataFrame,
      keyCols: Seq[String], baseVersion: Option[Int] = None,
      statCol: Option[String] = None): Int = {
    require(keyCols.nonEmpty, "commitReplace needs at least one key column")
    val base = baseVersion.orElse(latestVersion(spark, dir))
    // table policy reaches validated replaces too (commitImpl's rule):
    // measured columns = caller ∪ declared, filtered to the frame
    val fs = fileSystem(spark, dir)
    val baseM0 = base.map(readManifest(fs, dir, _))
    val inherited = (statCol.toSeq ++
      baseM0.map(_.statColsPolicy).getOrElse(Nil))
      .distinct.filter(df.schema.fieldNames.contains)
    replaceLoop(spark, dir,
      stage(spark, dir, df, inherited,
        baseM0.map(_.colMap).getOrElse(Nil)), base,
      Some(keyCols), df.schema)
  }

  /** Compaction as a versioned commit: rewrite the head version's rows
    * into ~`targetBytes` files and publish the rewrite as a REPLACE —
    * unlike [[DataLake.compact]] this preserves time travel (the
    * pre-compaction version keeps its small files until [[expire]])
    * and merges safely with concurrent appends: the staged rows ARE
    * the base version's rows, so interleaved appends carry into the
    * new manifest with no key validation needed. Only an interleaved
    * replace conflicts. Returns the new version.
    *
    * `clusterBy` turns the rewrite into CLUSTERED compaction (the
    * OPTIMIZE-by-key of production table formats): output files take
    * disjoint ranges of the cluster key (range partition + in-file
    * sort), so the recorded per-file min/max becomes tight and
    * [[readPruned]] plans O(matching files) instead of scanning an
    * append-ordered history whose stat ranges all overlap. Stats
    * default to the first cluster key when nothing else is tracked.
    */
  def compactCommit(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20,
      statCol: Option[String] = None,
      clusterBy: Seq[String] = Nil,
      zOrder: Boolean = false): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val fs = fileSystem(spark, dir)
    val base = latestVersion(spark, dir)
    val baseV = base.getOrElse(
      throw new IllegalArgumentException(s"no committed version in $dir"))
    val baseManifest = readManifest(fs, dir, baseV)
    val lines = baseManifest.lines.map(parseStats)
    val files = lines.map(_._1)
    // stats survive compaction: every column the base version tracked
    // is re-measured on the rewrite (a rewrite that silently dropped
    // them would disable readPruned's file skipping without anyone
    // noticing until scan costs exploded), plus the caller's statCol
    // and every cluster key — clustering's whole point is tight stats
    val inherited = (statCol.toSeq ++
      lines.flatMap(_._2.map(_._1)) ++ clusterBy ++
      baseManifest.statColsPolicy).distinct
    val totalBytes = files.map(rel =>
      fs.getFileStatus(new Path(dir, rel)).getLen).sum
    // a ZERO-file base (truncate-to-empty replace) still compacts to a
    // valid (empty) commit — min(files.size) would otherwise ask for a
    // 0-partition coalesce
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      .min(math.max(1L, files.size.toLong)).toInt
    val baseDf = read(spark, dir, Some(baseV))
    // clustered compaction — the data-skipping lever: range-partition
    // the rewrite on `clusterBy` so each output file owns a disjoint
    // key range and its recorded min/max turns [[readPruned]] into an
    // O(matching files) plan; sort within partitions so parquet
    // row-group stats tighten too. An append-ordered table's stat
    // ranges overlap arbitrarily (every file spans the key space —
    // pruning skips nothing); one clustered rewrite fixes the whole
    // history forward. Unclustered keeps the plain coalesce (no
    // shuffle, pure file-count reduction).
    val laidOut =
      if (clusterBy.isEmpty) baseDf.coalesce(nOut)
      else if (zOrder) {
        // Morton-interleave the two dimensions so EVERY file takes a
        // compact region of the (a, b) plane: with multi-column stats
        // recorded on both, a predicate on EITHER dimension prunes
        // files — lexicographic clustering is tight on the leading key
        // only (the trailing key scatters across every file)
        require(clusterBy.size == 2,
          "zOrder clustering interleaves exactly two dimension columns")
        import org.apache.spark.sql.functions.col
        val z = graft.ops.ScaleOps.zValue(
          col(clusterBy.head).cast("long"), col(clusterBy(1)).cast("long"))
        baseDf.withColumn("__graft_z", z)
          .repartitionByRange(nOut, col("__graft_z"))
          .sortWithinPartitions("__graft_z")
          .drop("__graft_z")
      } else {
        import org.apache.spark.sql.functions.col
        val keys = clusterBy.map(col)
        baseDf.repartitionByRange(nOut, keys: _*)
          .sortWithinPartitions(keys: _*)
      }
    val staged = stage(spark, dir, laidOut, inherited,
      baseManifest.colMap)
    // the bloom index survives compaction like the range stats do:
    // every column the base version indexed is re-measured on the
    // rewrite AT ITS RECORDED SIZING (a compaction that silently
    // dropped the filters — or rebuilt them undersized — would
    // disable point-lookup pruning without anyone noticing)
    val (stagedBlooms, stagedBloomSizes) = stageBlooms(spark, dir,
      staged, baseManifest.bloomCfg, baseManifest.colMap)
    // the rewrite materializes the base version's EVOLVED schema
    // (null-filled columns become physical), which is what it records;
    // CHECK validation is skipped — the staged rows ARE the base's
    // rows, already admitted by their own commits
    replaceLoop(spark, dir, staged, base, keyCols = None, baseDf.schema,
      validateChecks = false, stagedBlooms = stagedBlooms,
      stagedBloomSizes = stagedBloomSizes, op = "compact")
  }

  /** SUBSET compaction — the schedulable half of [[compactCommit]]:
    * select files by declared debt signals, rewrite ONLY those, and
    * republish every other manifest line verbatim. A whole-table
    * compact is a single O(table) commit — unschedulable at 100 TB —
    * while the debt that actually accumulates is local: small files
    * from streaming triggers, DV-heavy files from merge-on-read
    * deletes, cross-commit key overlap write-time clustering cannot
    * merge (each commit range-sorts only its OWN rows). This selects
    * exactly that debt and pays O(selected), the bin-pack/OPTIMIZE-
    * subset shape of production table formats.
    *
    * Selectors (union; at least one must be given):
    *  - `where`: files whose recorded stats ADMIT the predicate
    *    (the key-range compact — merge the files overlapping a hot
    *    window); metadata-only selection via the stats/bloom pruner.
    *  - `smallFileBytes`: files physically below the floor (bin-pack
    *    streaming dribble into ~`targetBytes` files).
    *  - `dvDebtAbove`: files whose live deleted-position fraction is
    *    at or above the threshold (materialize DV debt; a file with
    *    DVs but no recorded row count counts as debt — conservative).
    *  - `overlapsAbove`: files whose leading-cluster-key range
    *    intersects at least that many OTHER files' ranges (the
    *    cross-commit overlap debt — selects the whole mutual cohort,
    *    which is what makes the merge land disjoint).
    * `maxFiles` caps one run's bite for scheduling: highest DV debt
    * first, then smallest files (most debt retired per byte moved).
    *
    * The rewrite honors `clusterBy` (default: the table's declared
    * cluster columns) with the same range-partition + in-file sort as
    * [[compactCommit]], so merging N overlapping files yields files
    * with DISJOINT key ranges — the cross-commit overlap repair.
    *
    * Concurrency: the conflict surface is the SELECTED files only.
    * The publish loop re-reads the head each attempt and republishes
    * ITS lines (minus the selected ones) — so concurrent appends AND
    * concurrent DML on unselected files compose; only a commit that
    * rewrote/removed a selected file, or landed a deletion vector on
    * one after the rewrite scanned it (publishing would resurrect
    * those rows), conflicts. A whole-table compact conflicts with any
    * interleaved rewrite anywhere; this is what makes maintenance
    * schedulable on a hot table.
    *
    * Returns the new version, or the base version unchanged when the
    * selection is empty or provably pure churn (one lone file with no
    * DVs to materialize — merging needs two, and a below-floor
    * singleton must not re-rewrite on every scheduled run).
    * `baseVersion` pins the
    * version the selection and rewrite read (default: head at call
    * time) — the same deterministic stale-base hook the DML verbs
    * carry; the publish still swaps against the live head.
    */
  def compactSubset(spark: SparkSession, dir: String,
      where: Option[Column] = None,
      smallFileBytes: Option[Long] = None,
      dvDebtAbove: Option[Double] = None,
      maxFiles: Option[Int] = None,
      targetBytes: Long = 128L << 20,
      clusterBy: Option[Seq[String]] = None,
      baseVersion: Option[Int] = None,
      overlapsAbove: Option[Int] = None): Int =
    compactSubsetImpl(spark, dir, where, smallFileBytes, dvDebtAbove,
      maxFiles, targetBytes, clusterBy, baseVersion, overlapsAbove)._1

  /** [[compactSubset]] plus the SELECTED-file count — what
    * [[maintain]] reports as `files_rewritten` (counting a manifest
    * diff instead would attribute files interleaved commits removed
    * to the compaction). (0 on a no-op.) */
  private[graft] def compactSubsetImpl(spark: SparkSession, dir: String,
      where: Option[Column] = None,
      smallFileBytes: Option[Long] = None,
      dvDebtAbove: Option[Double] = None,
      maxFiles: Option[Int] = None,
      targetBytes: Long = 128L << 20,
      clusterBy: Option[Seq[String]] = None,
      baseVersion: Option[Int] = None,
      overlapsAbove: Option[Int] = None): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    require(where.isDefined || smallFileBytes.isDefined ||
      dvDebtAbove.isDefined || overlapsAbove.isDefined,
      "compactSubset needs a selector (where / smallFileBytes / " +
        "dvDebtAbove / overlapsAbove) — compactCommit is the " +
        "whole-table rewrite")
    smallFileBytes.foreach(b => require(b > 0,
      s"smallFileBytes must be positive: $b"))
    dvDebtAbove.foreach(f => require(f >= 0 && f <= 1,
      s"dvDebtAbove must be a fraction in [0,1]: $f"))
    maxFiles.foreach(n => require(n >= 1,
      s"maxFiles must be >= 1: $n"))
    overlapsAbove.foreach(n => require(n >= 1,
      s"overlapsAbove must be >= 1: $n"))
    val fs = fileSystem(spark, dir)
    val baseV = baseVersion.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $dir"))
    require(fs.exists(manifestPath(dir, baseV)),
      s"version $baseV not found in $dir")
    val m = readManifest(fs, dir, baseV)
    if (m.lines.isEmpty) return (baseV, 0)
    val schema = m.schema
    val cluster = clusterBy.getOrElse(m.clusterCols)
      .filter(schema.fieldNames.contains)
    // --- selection (all metadata-sized: manifest lines, file status,
    // delta-sized DV sidecars — never the data) -----------------------
    val whereRels: Set[String] = where match {
      case None => Set.empty
      case Some(p) =>
        pruneWithIndex(spark, dir, m, resolvedPredicate(spark, schema, p))
          .map(parseLine(_)._1).toSet
    }
    // physical sizes are statused PER REL on demand and cached: only
    // the small-file selector walks every manifest line — a
    // where/dvDebt/overlap selection on a 100k-file table must not
    // pay 100k getFileStatus round trips for the ~16 files it picked
    // (the O(selected) schedulability contract, on object stores too)
    val bytesCache = scala.collection.mutable.Map.empty[String, Long]
    def bytesOf(rel: String): Long = bytesCache.getOrElseUpdate(rel,
      fs.getFileStatus(new Path(dir, rel)).getLen)
    val smallRels: Set[String] = smallFileBytes match {
      case None => Set.empty
      case Some(floor) =>
        m.lines.map(parseLine(_)._1).filter(bytesOf(_) < floor).toSet
    }
    lazy val debtOf: Map[String, Double] = {
      import spark.implicits._
      dvDebt(spark, dir, Some(baseV))
        .select("file", "fraction").as[(String, Option[Double])]
        .collect().map { case (f, fr) =>
          // a DV'd file with no recorded row count is unknown-debt:
          // treat as full debt (conservative — it gets materialized)
          f -> fr.getOrElse(if (m.dvs.exists(_._1 == f)) 1.0 else 0.0)
        }.toMap
    }
    val dvRels: Set[String] = dvDebtAbove match {
      case None => Set.empty
      case Some(th) =>
        m.dvs.map(_._1).distinct
          .filter(f => debtOf.getOrElse(f, 0.0) >= th).toSet
    }
    // overlap selector: the files whose leading-cluster-key ranges
    // intersect at least `overlapsAbove` OTHERS — the cross-commit
    // layout debt only a merge repairs. Selecting the whole cohort
    // is what makes the rewrite productive: merging all mutual
    // overlappers yields disjoint ranges; merging one alone cannot.
    val overlapRels: Set[String] = overlapsAbove match {
      case None => Set.empty
      case Some(th) =>
        val counts = overlapCounts(m)
        require(m.clusterCols.nonEmpty,
          "overlapsAbove selects on the table's declared cluster " +
            "key — declare clustering (graft.cluster.cols / CLUSTER " +
            "BY) first")
        counts.filter(_._2 >= th).keySet
    }
    val lineRels = m.lines.map(parseLine(_)._1).toSet
    val selectedAll =
      (whereRels ++ smallRels ++ dvRels ++ overlapRels) & lineRels
    val selected: Set[String] = maxFiles match {
      case Some(cap) if selectedAll.size > cap =>
        // the documented bite order: highest DELETED FRACTION first
        // (most debt retired per byte moved), then smallest files
        selectedAll.toSeq.sortBy(r =>
          (-debtOf.getOrElse(r, 0.0), bytesOf(r), r))
          .take(cap).toSet
      case _ => selectedAll
    }
    if (selected.isEmpty) return (baseV, 0)
    val hasDv = m.dvs.exists(d => selected.contains(d._1))
    // pure churn: a LONE selected file with no DV to materialize
    // gains nothing from a rewrite — merging needs two, and
    // re-sorting one already-clustered file would re-select and
    // rewrite it on EVERY scheduled maintain() run forever (a
    // below-floor singleton is steady state, not debt)
    if (selected.size == 1 && !hasDv) return (baseV, 0)
    val (selLines, _) = m.lines.partition(l =>
      selected.contains(parseLine(l)._1))
    // --- rewrite (O(selected) bytes; DVs materialize — scanVisible
    // renders only live rows, and the publish drops the pairs) --------
    val inherited = (selLines.flatMap(parseStats(_)._2.map(_._1)) ++
      cluster ++ m.statColsPolicy).distinct
    val visible = scanVisible(spark, dir, schema, selLines, m.dvs,
      colMap = m.colMap, dvSizes = m.dvSizes)
    val selBytes = selected.toSeq.map(bytesOf).sum
    val nOut = math.max(1L, (selBytes + targetBytes - 1) / targetBytes)
      .min(selected.size.toLong).toInt
    val laidOut =
      if (cluster.isEmpty) visible.coalesce(nOut)
      else {
        import org.apache.spark.sql.functions.col
        val keys = cluster.map(col)
        visible.repartitionByRange(nOut, keys: _*)
          .sortWithinPartitions(keys: _*)
      }
    val staged = stage(spark, dir, laidOut, inherited, m.colMap)
    val (stagedBlooms, stagedBloomSizes) = stageBlooms(spark, dir,
      staged, m.bloomCfg, m.colMap)
    val baseDvsOnSelected = m.dvs.filter(d => selected.contains(d._1)).toSet
    (subsetSwapLoop(spark, dir, staged, selected, baseDvsOnSelected,
      schema, stagedBlooms, stagedBloomSizes), selected.size)
  }

  /** The subset-compaction publish loop: swap `selectedRels` for
    * `staged` against WHATEVER the head is at publish time. Unlike
    * [[replaceLoop]] (whose carried lines come from the caller's BASE,
    * so any interleaved rewrite anywhere conflicts), this republishes
    * the HEAD's own lines minus the selected set — concurrent appends
    * and DML on other files compose; only a commit that touched a
    * SELECTED file conflicts. Sound because the staged bytes are a
    * pure re-layout of the selected files' visible rows: as long as
    * those files (and their DV set) are unchanged in the head, the
    * swap preserves row content exactly, whatever else moved.
    */
  private def subsetSwapLoop(spark: SparkSession, dir: String,
      staged: Seq[String], selectedRels: Set[String],
      baseDvsOnSelected: Set[(String, String)],
      stagedSchema: StructType,
      stagedBlooms: Seq[(String, String, String)],
      stagedBloomSizes: Map[String, Long] = Map.empty): Int = {
    val fs = fileSystem(spark, dir)
    val uuid = newCommitUuid()
    var attempts = 0
    while (true) {
      val head = latestVersion(spark, dir)
      val next = head.map(_ + 1).getOrElse(0)
      val headM = head.map(readManifest(fs, dir, _)).getOrElse(
        throw new IllegalStateException(
          s"table $dir lost its history mid-compaction"))
      val headFiles = headM.lines.map(parseLine(_)._1).toSet
      if (!selectedRels.subsetOf(headFiles))
        throw new CommitConflictException(
          s"subset compaction of $dir conflicts with a concurrent " +
            "commit: " +
            (selectedRels -- headFiles).toSeq.sorted.take(3)
              .mkString(", ") +
            " … selected file(s) were rewritten or removed since the " +
            "selection — re-select from the new head")
      // a DV that landed on a selected file AFTER the rewrite scanned
      // it marks rows as deleted that the staged copies still carry —
      // publishing would resurrect them
      val lateDvs = headM.dvs.filter(d => selectedRels.contains(d._1))
        .toSet -- baseDvsOnSelected
      if (lateDvs.nonEmpty)
        throw new CommitConflictException(
          s"subset compaction of $dir conflicts with an interleaved " +
            s"row-level delete: deletion vectors landed on " +
            s"${lateDvs.map(_._1).toSeq.distinct.size} selected " +
            "file(s) after the rewrite scanned them — publishing " +
            "would resurrect the deleted rows; re-select from the " +
            "new head")
      val newLines = headM.lines.filterNot(l =>
        selectedRels.contains(parseLine(l)._1)) ++ staged
      val newRels = newLines.map(parseLine(_)._1).toSet
      // selected files' DVs are MATERIALIZED by the rewrite (their
      // pairs drop with the files); everything else's survive
      val newDvs = headM.dvs.filterNot(d => selectedRels.contains(d._1))
      val newBlooms = headM.blooms.filter(b =>
        newRels.contains(b._1)) ++ stagedBlooms
      // the head may have evolved the schema since the selection
      // (interleaved append with new columns): publish the union —
      // staged files simply null-fill the columns they predate
      val schema = evolveSchema(headM.schema, stagedSchema)
      guardColMap(schema, headM.colMap, headM.colDrops)
      if (publishResolved(fs, dir, next, uuid)(
          casPublish(fs, dir, next, headM.copy(schema = schema,
            lines = newLines, txn = None, dvs = newDvs, blooms = newBlooms,
            op = Some("compact-subset"),
            statColsPolicy = headM.statColsPolicy
              .filter(schema.fieldNames.contains),
            commitUuid = Some(uuid),
            bloomSizes = headM.bloomSizes ++ stagedBloomSizes),
            Some(headM))))
        return next
      attempts += 1
      require(attempts < 1000,
        s"subset compaction of $dir still losing the version race " +
          s"after $attempts attempts")
    }
    -1 // unreachable
  }

  /** RESTORE: republish historical `version` as a NEW head commit —
    * the production undo of a bad replace, an errant purge, or a
    * poisoned ingest batch. The table's state rolls back while the
    * history rolls FORWARD: the bad versions stay time-travelable
    * until [[expire]], and [[changesBetween]] over the restore commit
    * reads as the row-level undo diff. Zero data movement at any
    * table size — the restored version's manifest lines (stats
    * included, so [[readPruned]]'s file skipping survives) re-list
    * under the next version number; no byte is copied. The restored
    * version publishes under ITS OWN recorded schema, and [[expire]]'s
    * manifest-reachability GC keeps the shared files alive however
    * far the source version later ages out.
    *
    * Concurrency linearizes like [[compactCommit]]: an append
    * interleaving with the restore carries into the new manifest (as
    * if it happened after the restore), while an interleaved replace
    * conflicts — both writers claimed full-table authority. A restore
    * of an expired version, or one whose files a [[purge]] already
    * collected, fails loudly by name — never a silent partial table.
    */
  def restore(spark: SparkSession, dir: String, version: Int): Int = {
    val fs = fileSystem(spark, dir)
    require(fs.exists(manifestPath(dir, version)),
      s"cannot restore $dir to version $version: manifest not found " +
        "(expired, or never committed)")
    val m = readManifest(fs, dir, version)
    // existence check batched per commit-scoped data dir: one
    // listStatus per `data/c-*` directory the manifest references —
    // O(commit dirs) namenode calls, not O(files) — a restore of a
    // million-file version must not issue a million exists() RPCs.
    // Deletion-vector sidecars are referenced files too: a restore
    // that lost one would resurrect the rows it deleted.
    val needed = (m.lines.map(parseLine(_)._1) ++
      m.dvs.map(_._2) ++ m.blooms.map(_._3)).distinct
    val present: Set[String] = needed
      .groupBy(rel => rel.substring(0, rel.lastIndexOf('/')))
      .keysIterator.flatMap { d =>
        val p = new Path(dir, d)
        if (!fs.exists(p)) Iterator.empty
        else fs.listStatus(p).iterator.filter(_.isFile)
          .map(f => s"$d/${f.getPath.getName}")
      }.toSet
    val missing = needed.filterNot(present)
    require(missing.isEmpty,
      s"cannot restore $dir to version $version: ${missing.size} of its " +
        s"data files no longer exist (purged?); first missing: " +
        s"${missing.headOption.getOrElse("")}")
    val schema = m.schema
    // the restored version republishes as ONE coherent state: its
    // data, its schema, and its CHECK constraints (so no O(table)
    // re-validation scan is ever needed — the target's rows satisfied
    // the target's checks when they committed). A constraint added
    // after `version` rolls back with the restore; re-add it afterward
    // if it should survive — [[addCheck]] then validates the restored
    // data against it explicitly.
    replaceLoop(spark, dir, m.lines, latestVersion(spark, dir),
      keyCols = None, stagedSchema = schema, validateChecks = false,
      op = s"restore(v$version)", restoreTo = Some(m))
  }

  // ----------------------------------------------------- row-level DML

  /** Can a file whose recorded per-column `[min, max]` ranges are
    * `stats` possibly contain a row matching `pred`? The tri-state
    * file-skipping rule of every table format's data-skipping layer,
    * collapsed conservatively: any shape or column the ranges cannot
    * reason about answers TRUE (the file stays a candidate — pruning
    * is an optimization, never the semantics). Sound interval logic
    * only: under AND a file must be able to match both sides; under OR
    * either; a comparison against an integral literal checks the
    * closed interval; everything else (IsNull, UDFs, string columns,
    * Not — ranges prove possibility, and the complement of "possible"
    * is not "impossible") is unknown. Zero-row / all-NULL files carry
    * the inverted sentinel range, so every comparison on them answers
    * false and they prune — correctly, since a NULL row can never
    * satisfy a TRUE predicate.
    */
  // Shared by the ∃-pruner ([[statsCanMatch]]) and the ∀-prover
  // ([[statsMustMatchAll]]): the attribute / literal / cast shapes
  // interval reasoning understands MUST stay identical between the
  // two, or a file could prune as a candidate the metadata-delete
  // prover can no longer reason about.
  /** Does `schema` type `c` as TimestampType? Such a column's recorded
    * stats are epoch MICROSECONDS (`~u` manifest annotation — see
    * [[stage]] and [[statLitLong]]). Absent columns answer false. */
  private def microsCol(schema: StructType, c: String): Boolean =
    schema.fields.exists(f =>
      f.name == c && f.dataType == types.TimestampType)

  private def statWidth(dt: DataType): Int = dt match {
    case types.ByteType => 1
    case types.ShortType => 2
    case types.IntegerType => 4
    case types.LongType => 8
    case types.DateType => 4 // days-since-epoch int; stats cast likewise
    case _ => 0 // non-integral: never unwrap through it
  }

  // a WIDENING integral cast preserves both the attribute's recorded
  // range and a literal's value; anything else would make interval
  // reasoning unsound (a narrowing cast wraps), so it stays opaque
  private def statAttrOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case c: Cast if c.childrenResolved && statWidth(c.child.dataType) > 0 &&
      statWidth(c.dataType) >= statWidth(c.child.dataType) =>
      statAttrOf(c.child)
    case _ => None
  }

  // (value, micros): the literal's long value plus its UNIT. Stats and
  // literals must agree on what the long MEANS before an interval can
  // prove anything: integrals and DateType carry their own value
  // ("plain" unit), but a TimestampType literal carries epoch
  // MICROSECONDS — while a bare `cast(ts as long)` yields SECONDS.
  // Round 11 matched `Literal(v: Long, _)` of ANY type here, so a
  // timestamp retention predicate (`ts < cutoff`) compared microsecond
  // literals against second-recorded ranges — the ∀-prover then
  // "proved" every null-free file wholly matched and the metadata-only
  // DELETE dropped files holding rows AFTER the cutoff. Stats now
  // record timestamps in microseconds (`~u` manifest annotation,
  // [[stage]]), and every prover requires the group's unit to equal
  // the literal's — a mismatch (old-format line, uncoerced predicate)
  // is conservatively unprovable, never wrong.
  private def statLitLong(e: Expression): Option[(Long, Boolean)] = e match {
    case Literal(v: Byte, types.ByteType) => Some((v.toLong, false))
    case Literal(v: Short, types.ShortType) => Some((v.toLong, false))
    case Literal(v: Int, types.IntegerType) => Some((v.toLong, false))
    case Literal(v: Int, types.DateType) => Some((v.toLong, false))
    case Literal(v: Long, types.LongType) => Some((v, false))
    case Literal(v: Long, types.TimestampType) => Some((v, true))
    case c: Cast if c.childrenResolved && statWidth(c.child.dataType) > 0 &&
      statWidth(c.dataType) >= statWidth(c.child.dataType) =>
      statLitLong(c.child)
    case _ => None
  }

  private def statLitStr(e: Expression): Option[String] = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String,
      types.StringType) => Some(s.toString)
    case _ => None
  }

  /** Recorded string bounds keep at most this many Unicode CODE
    * POINTS (Delta's 32): long keys (URLs, paths) would otherwise
    * bloat every manifest line for pruning power the prefix already
    * delivers. */
  private val StatStrPrefixLen = 32

  /** UTF-8 BINARY string ordering — what Spark's StringType
    * comparisons use (`UTF8String`), NOT `java.lang.String`'s UTF-16
    * code-unit order (the two diverge above the BMP). Every string
    * bound comparison in the provers goes through this, so the
    * interval logic reasons in exactly the order the row filter
    * evaluates in. */
  private[graft] def strCmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** LOWER bound of a measured string min: the prefix — a proper
    * prefix sorts strictly before the full string in UTF-8 binary
    * order, so truncation keeps the bound sound. (bound, truncated) */
  private def truncMinBound(s: String): (String, Boolean) =
    if (s.codePointCount(0, s.length) <= StatStrPrefixLen) (s, false)
    else (s.substring(0, s.offsetByCodePoints(0, StatStrPrefixLen)), true)

  /** UPPER bound of a measured string max: exact when it fits; else
    * the prefix with its LAST incrementable code point bumped and the
    * tail dropped — strictly greater than every string sharing the
    * prefix (Delta's tie-break rule). The bump skips the surrogate
    * gap (U+D7FF bumps to U+E000: lone surrogates are not UTF-8
    * scalars). None when every prefix code point is already
    * U+10FFFF — no finite truncated bound exists and the column
    * records "unbounded above". */
  private def truncMaxBound(s: String): (Option[String], Boolean) = {
    if (s.codePointCount(0, s.length) <= StatStrPrefixLen)
      return (Some(s), false)
    val pEnd = s.offsetByCodePoints(0, StatStrPrefixLen)
    var i = pEnd
    while (i > 0) {
      val start = s.offsetByCodePoints(i, -1)
      val cp = s.codePointAt(start)
      if (cp < Character.MAX_CODE_POINT) {
        val bumped =
          if (cp + 1 >= Character.MIN_SURROGATE.toInt &&
              cp + 1 <= Character.MAX_SURROGATE.toInt) 0xE000
          else cp + 1
        return (Some(s.substring(0, start) +
          new String(Character.toChars(bumped))), true)
      }
      i = start
    }
    (None, true)
  }

  /** Does `schema` type `c` as StringType? Such a column's stats
    * group records truncated STRING bounds instead of a long range. */
  private def stringCol(schema: StructType, c: String): Boolean =
    schema.fields.exists(f =>
      f.name == c && f.dataType == types.StringType)

  private[graft] def statsCanMatch(pred: Expression,
      stats: Seq[StatGroup],
      bloom: BloomVerdicts = BloomVerdicts.empty): Boolean = {
    val range: Map[String, StatGroup] = stats.map(g => g.col -> g).toMap
    def attrOf(e: Expression): Option[String] = statAttrOf(e)
    def litLong(e: Expression): Option[(Long, Boolean)] = statLitLong(e)
    def litStr(e: Expression): Option[String] = statLitStr(e)
    // possible-existence of a row with `col op v`, given col ∈
    // [mn, mx] — ONLY when the recorded range and the literal agree on
    // the long's unit ([[statLitLong]]); a unit mismatch keeps the
    // file (conservative, never wrong)
    def probe(a: Expression, b: Expression)(
        f: (Long, Long, Long) => Boolean): Boolean =
      (for { c <- attrOf(a); (v, u) <- litLong(b); g <- range.get(c)
             if g.micros == u && g.str.isEmpty }
        yield f(g.min, g.max, v)).getOrElse(true)
    // possible-existence of a row with `col op v` for a STRING
    // column, against its recorded (possibly truncated) bounds: the
    // recorded min is AT-OR-BELOW the actual min, the recorded max
    // (when finite) AT-OR-ABOVE the actual max, so refutation through
    // them is sound regardless of truncation. `empty` bounds (no
    // non-null values) refute every comparison — a NULL row never
    // satisfies a TRUE predicate.
    def probeStr(a: Expression, b: Expression)(
        f: (StrBounds, String) => Boolean): Boolean =
      (for { c <- attrOf(a); v <- litStr(b); g <- range.get(c)
             sb <- g.str }
        yield !sb.empty && f(sb, v)).getOrElse(true)
    def strEqPossible(sb: StrBounds, v: String): Boolean =
      strCmp(v, sb.min) >= 0 && sb.max.forall(m => strCmp(v, m) <= 0)
    // bloom membership conjuncts for EQUALITY atoms only: a recorded
    // filter answering "definitely not in this file" is sound (no
    // false negatives by construction); an absent verdict, any other
    // comparison shape, or a false positive keeps the file. The
    // verdicts were computed executor-side ([[probeBlooms]]) from the
    // same atom extraction ([[bloomAtoms]]), with values hashed
    // exactly as [[stageBlooms]] put them: integrals widened to long,
    // strings as UTF-8. Timestamp literals never probe:
    // [[graft.functions.BloomSketch]] rejects TimestampType at
    // analysis, so no filter can exist for the unit to mismatch.
    def bloomLong(a: Expression, b: Expression): Boolean =
      (for { c <- attrOf(a); (v, u) <- litLong(b) if !u }
        yield bloom.longs.getOrElse((c, v), true)).getOrElse(true)
    def bloomStr(a: Expression, b: Expression): Boolean =
      (for { c <- attrOf(a); s <- litStr(b) }
        yield bloom.strs.getOrElse((c, s), true)).getOrElse(true)
    def can(e: Expression): Boolean = e match {
      case And(l, r) => can(l) && can(r)
      case Or(l, r) => can(l) || can(r)
      case Literal(false, BooleanType) => false
      case EqualTo(a, b) if litLong(b).isDefined =>
        probe(a, b)((mn, mx, v) => mn <= v && v <= mx) && bloomLong(a, b)
      case EqualTo(a, b) if litLong(a).isDefined =>
        probe(b, a)((mn, mx, v) => mn <= v && v <= mx) && bloomLong(b, a)
      case EqualNullSafe(a, b) if litLong(b).isDefined =>
        probe(a, b)((mn, mx, v) => mn <= v && v <= mx) && bloomLong(a, b)
      case EqualNullSafe(a, b) if litLong(a).isDefined =>
        probe(b, a)((mn, mx, v) => mn <= v && v <= mx) && bloomLong(b, a)
      // string equality: the recorded (truncated) string bounds AND
      // the bloom both get a veto — bounds catch out-of-range keys,
      // blooms catch in-range point lookups min/max cannot index
      case EqualTo(a, b) if litStr(b).isDefined =>
        probeStr(a, b)(strEqPossible) && bloomStr(a, b)
      case EqualTo(a, b) if litStr(a).isDefined =>
        probeStr(b, a)(strEqPossible) && bloomStr(b, a)
      case EqualNullSafe(a, b) if litStr(b).isDefined =>
        probeStr(a, b)(strEqPossible) && bloomStr(a, b)
      case EqualNullSafe(a, b) if litStr(a).isDefined =>
        probeStr(b, a)(strEqPossible) && bloomStr(b, a)
      case In(a, vs) if vs.nonEmpty && vs.forall(litStr(_).isDefined) =>
        vs.exists(v => probeStr(a, v)(strEqPossible) && bloomStr(a, v))
      // string ranges — the ISO-dates-as-strings / ULID key class:
      // ∃ col < v iff actual-min < v, refutable when the recorded
      // lower bound is already >= v (and mirrored for the rest)
      case LessThan(a, b) if litStr(b).isDefined =>
        probeStr(a, b)((sb, v) => strCmp(sb.min, v) < 0)
      case LessThan(a, b) if litStr(a).isDefined => // v < col
        probeStr(b, a)((sb, v) => sb.max.forall(m => strCmp(m, v) > 0))
      case LessThanOrEqual(a, b) if litStr(b).isDefined =>
        probeStr(a, b)((sb, v) => strCmp(sb.min, v) <= 0)
      case LessThanOrEqual(a, b) if litStr(a).isDefined =>
        probeStr(b, a)((sb, v) => sb.max.forall(m => strCmp(m, v) >= 0))
      case GreaterThan(a, b) if litStr(b).isDefined =>
        probeStr(a, b)((sb, v) => sb.max.forall(m => strCmp(m, v) > 0))
      case GreaterThan(a, b) if litStr(a).isDefined => // v > col
        probeStr(b, a)((sb, v) => strCmp(sb.min, v) < 0)
      case GreaterThanOrEqual(a, b) if litStr(b).isDefined =>
        probeStr(a, b)((sb, v) => sb.max.forall(m => strCmp(m, v) >= 0))
      case GreaterThanOrEqual(a, b) if litStr(a).isDefined =>
        probeStr(b, a)((sb, v) => strCmp(sb.min, v) <= 0)
      case LessThan(a, b) if litLong(b).isDefined =>
        probe(a, b)((mn, _, v) => mn < v)
      case LessThan(a, b) if litLong(a).isDefined => // v < col
        probe(b, a)((_, mx, v) => mx > v)
      case LessThanOrEqual(a, b) if litLong(b).isDefined =>
        probe(a, b)((mn, _, v) => mn <= v)
      case LessThanOrEqual(a, b) if litLong(a).isDefined =>
        probe(b, a)((_, mx, v) => mx >= v)
      case GreaterThan(a, b) if litLong(b).isDefined =>
        probe(a, b)((_, mx, v) => mx > v)
      case GreaterThan(a, b) if litLong(a).isDefined =>
        probe(b, a)((mn, _, v) => mn < v)
      case GreaterThanOrEqual(a, b) if litLong(b).isDefined =>
        probe(a, b)((_, mx, v) => mx >= v)
      case GreaterThanOrEqual(a, b) if litLong(a).isDefined =>
        probe(b, a)((mn, _, v) => mn <= v)
      case In(a, vs) if vs.nonEmpty && vs.forall(litLong(_).isDefined) =>
        attrOf(a) match {
          case None => true
          case Some(c) =>
            val g = range.get(c)
            vs.flatMap(litLong).exists { case (v, u) =>
              g.forall(s => s.micros != u || (s.min <= v && v <= s.max)) &&
                (u || bloom.longs.getOrElse((c, v), true))
            }
        }
      case _ => true
    }
    can(pred)
  }

  /** The base-manifest lines a predicate might touch, by stats alone —
    * exposed for specs; [[deleteWhere]] is the consumer. */
  private[graft] def pruneCandidates(pred: Expression,
      lines: Seq[String]): Seq[String] =
    lines.filter(l => statsCanMatch(pred, parseStatsFull(l)._2))

  /** The (column → probe values) tables of a predicate's EQUALITY
    * atoms (=, <=>, IN) — the only shapes a Bloom filter can veto, so
    * the only probes worth evaluating. Extraction mirrors the
    * [[statsCanMatch]] atom shapes exactly (plain-unit long literals,
    * string literals); traversal covers every node, so atoms under
    * shapes the prover treats as unknown (Not, …) extract too — a
    * superset only costs a few executor-side probes, while a missing
    * atom would just answer conservatively. A range-only predicate
    * (`ts < cutoff` on a bloom-indexed ts) extracts nothing and never
    * touches a sidecar. */
  private def bloomAtoms(
      pred: Expression): (Map[String, Set[Long]], Map[String, Set[String]]) = {
    val longs = scala.collection.mutable.Map.empty[String, Set[Long]]
    val strs = scala.collection.mutable.Map.empty[String, Set[String]]
    def addPair(a: Expression, b: Expression): Unit = {
      for { c <- statAttrOf(a); (v, u) <- statLitLong(b) if !u }
        longs(c) = longs.getOrElse(c, Set.empty) + v
      for { c <- statAttrOf(a); s <- statLitStr(b) }
        strs(c) = strs.getOrElse(c, Set.empty) + s
    }
    pred.foreach {
      case EqualTo(a, b) => addPair(a, b); addPair(b, a)
      case EqualNullSafe(a, b) => addPair(a, b); addPair(b, a)
      case In(a, vs) => vs.foreach(addPair(a, _))
      case _ =>
    }
    (longs.toMap, strs.toMap)
  }

  /** Index-aware candidate pruning, two-phase so plan-time I/O is
    * bounded by the RANGE-surviving candidate set, not the table:
    * range stats prune first (pure driver arithmetic over the
    * manifest), then Bloom filters are probed DISTRIBUTED
    * ([[probeBlooms]]) — only for the predicate's equality atoms and
    * only for the surviving files — and get their veto. A predicate
    * with no equality atom never touches a sidecar; the driver never
    * holds filter bytes. */
  private[graft] def pruneWithIndex(spark: SparkSession, dir: String,
      m: Manifest, pred: Expression): Seq[String] = {
    val rangeKept = pruneCandidates(pred, m.lines)
    if (rangeKept.isEmpty) return rangeKept
    val (longAtoms, strAtoms) = bloomAtoms(pred)
    if ((longAtoms.isEmpty && strAtoms.isEmpty) || m.blooms.isEmpty)
      return rangeKept
    val files = rangeKept.map(parseLine(_)._1).toSet
    val verdicts = probeBlooms(spark, dir, m, longAtoms, strAtoms, files)
    if (verdicts.isEmpty) rangeKept
    else rangeKept.filter { l =>
      val (rel, st) = parseStatsFull(l)
      statsCanMatch(pred, st, verdicts.getOrElse(rel, BloomVerdicts.empty))
    }
  }

  /** The dual of [[statsCanMatch]]: do the recorded ranges PROVE that
    * EVERY row of the file satisfies `pred`? This is the metadata-only
    * DELETE fast path of every production table format — a retention
    * delete (`WHERE ts < cutoff`) against a clustered table drops
    * whole manifest lines without scanning or rewriting a byte.
    *
    * Soundness needs one fact min/max cannot supply: a row can hide
    * from the range as NULL, and SQL DELETE must KEEP NULL-predicate
    * rows — so every atom additionally requires its group's recorded
    * null count to be ZERO (`~n0`; a pre-annotation line has no count
    * and is never provable). The inverted zero-row sentinel with a
    * zero null count is vacuously all-matching (no rows to keep).
    * Composition mirrors the possibility prover with the quantifier
    * flipped: under AND both sides must hold for all rows, under OR
    * either side held by all rows suffices (sufficient, not
    * necessary — this prover may under-claim, never over-claim).
    * Anything the ranges cannot reason about answers FALSE: the file
    * falls back to the scan-and-rewrite path, which is the semantics.
    */
  private[graft] def statsMustMatchAll(pred: Expression,
      stats: Seq[StatGroup]): Boolean = {
    val group: Map[String, StatGroup] = stats.map(g => g.col -> g).toMap
    def attrOf(e: Expression): Option[String] = statAttrOf(e)
    def litLong(e: Expression): Option[(Long, Boolean)] = statLitLong(e)
    // ∀-proof of `col op v` over a null-free file with col ∈ [mn, mx];
    // a zero-row sentinel (mn > mx, no nulls) is vacuously true. The
    // recorded range must share the literal's UNIT ([[statLitLong]]):
    // a ∀-prover comparing microsecond literals against a plain-long
    // range (or vice versa) would "prove" the wrong files and drop
    // data — a mismatch is simply unprovable here.
    def probe(a: Expression, b: Expression)(
        f: (Long, Long, Long) => Boolean): Boolean =
      (for { c <- attrOf(a); (v, u) <- litLong(b); g <- group.get(c)
             if g.nulls.contains(0L) && g.micros == u && g.str.isEmpty }
        yield g.min > g.max || f(g.min, g.max, v)).getOrElse(false)
    // ∀-proof over a STRING column: truncation makes a bound
    // one-sided, so ONLY exact (untruncated, finite) bounds can prove
    // an all-rows match — a truncated bound may under- or overshoot
    // the rows it summarizes. The empty sentinel with zero nulls is
    // vacuously all-matching (no rows to keep), like the numeric one.
    def litStr(e: Expression): Option[String] = statLitStr(e)
    def probeStrAll(a: Expression, b: Expression)(
        f: (String, String, String) => Boolean): Boolean =
      (for { c <- attrOf(a); v <- litStr(b); g <- group.get(c)
             sb <- g.str if g.nulls.contains(0L) }
        yield sb.empty || (!sb.minTrunc && !sb.maxTrunc &&
          sb.max.exists(mx => f(sb.min, mx, v)))).getOrElse(false)
    def must(e: Expression): Boolean = e match {
      case And(l, r) => must(l) && must(r)
      case Or(l, r) => must(l) || must(r)
      case Literal(true, BooleanType) => true
      case EqualTo(a, b) if litLong(b).isDefined =>
        probe(a, b)((mn, mx, v) => mn == v && mx == v)
      case EqualTo(a, b) if litLong(a).isDefined =>
        probe(b, a)((mn, mx, v) => mn == v && mx == v)
      case EqualNullSafe(a, b) if litLong(b).isDefined =>
        probe(a, b)((mn, mx, v) => mn == v && mx == v)
      case EqualNullSafe(a, b) if litLong(a).isDefined =>
        probe(b, a)((mn, mx, v) => mn == v && mx == v)
      case LessThan(a, b) if litLong(b).isDefined => // ∀: col < v
        probe(a, b)((_, mx, v) => mx < v)
      case LessThan(a, b) if litLong(a).isDefined => // ∀: v < col
        probe(b, a)((mn, _, v) => v < mn)
      case LessThanOrEqual(a, b) if litLong(b).isDefined =>
        probe(a, b)((_, mx, v) => mx <= v)
      case LessThanOrEqual(a, b) if litLong(a).isDefined =>
        probe(b, a)((mn, _, v) => v <= mn)
      case GreaterThan(a, b) if litLong(b).isDefined => // ∀: col > v
        probe(a, b)((mn, _, v) => mn > v)
      case GreaterThan(a, b) if litLong(a).isDefined => // ∀: v > col
        probe(b, a)((_, mx, v) => v > mx)
      case GreaterThanOrEqual(a, b) if litLong(b).isDefined =>
        probe(a, b)((mn, _, v) => mn >= v)
      case GreaterThanOrEqual(a, b) if litLong(a).isDefined =>
        probe(b, a)((_, mx, v) => v >= mx)
      case In(a, vs) if vs.nonEmpty && vs.forall(litLong(_).isDefined) &&
          vs.flatMap(litLong).map(_._2).distinct.size == 1 =>
        // ∀-provable when the file is a single point contained in the
        // set (probe gates on vs.head's unit, shared by construction)
        probe(a, vs.head)((mn, mx, _) =>
          mn == mx && vs.flatMap(litLong).map(_._1).contains(mn))
      // string atoms: exact bounds only (probeStrAll's gate)
      case EqualTo(a, b) if litStr(b).isDefined =>
        probeStrAll(a, b)((mn, mx, v) => mn == v && mx == v)
      case EqualTo(a, b) if litStr(a).isDefined =>
        probeStrAll(b, a)((mn, mx, v) => mn == v && mx == v)
      case EqualNullSafe(a, b) if litStr(b).isDefined =>
        probeStrAll(a, b)((mn, mx, v) => mn == v && mx == v)
      case EqualNullSafe(a, b) if litStr(a).isDefined =>
        probeStrAll(b, a)((mn, mx, v) => mn == v && mx == v)
      case LessThan(a, b) if litStr(b).isDefined => // ∀: col < v
        probeStrAll(a, b)((_, mx, v) => strCmp(mx, v) < 0)
      case LessThan(a, b) if litStr(a).isDefined => // ∀: v < col
        probeStrAll(b, a)((mn, _, v) => strCmp(v, mn) < 0)
      case LessThanOrEqual(a, b) if litStr(b).isDefined =>
        probeStrAll(a, b)((_, mx, v) => strCmp(mx, v) <= 0)
      case LessThanOrEqual(a, b) if litStr(a).isDefined =>
        probeStrAll(b, a)((mn, _, v) => strCmp(v, mn) <= 0)
      case GreaterThan(a, b) if litStr(b).isDefined =>
        probeStrAll(a, b)((mn, _, v) => strCmp(mn, v) > 0)
      case GreaterThan(a, b) if litStr(a).isDefined =>
        probeStrAll(b, a)((_, mx, v) => strCmp(v, mx) > 0)
      case GreaterThanOrEqual(a, b) if litStr(b).isDefined =>
        probeStrAll(a, b)((mn, _, v) => strCmp(mn, v) >= 0)
      case GreaterThanOrEqual(a, b) if litStr(a).isDefined =>
        probeStrAll(b, a)((_, mx, v) => strCmp(v, mx) >= 0)
      case In(a, vs) if vs.nonEmpty && vs.forall(litStr(_).isDefined) =>
        // ∀-provable when the file is a single point in the set
        probeStrAll(a, vs.head)((mn, mx, _) =>
          mn == mx && vs.flatMap(litStr).contains(mn))
      case _ => false
    }
    must(pred)
  }

  /** The base-manifest lines whose stats PROVE an all-rows match —
    * [[deleteWhere]] drops these without a scan. Exposed for specs. */
  private[graft] def dropCandidates(pred: Expression,
      lines: Seq[String]): Seq[String] =
    lines.filter(l => statsMustMatchAll(pred, parseStatsFull(l)._2))

  /** `predicate` resolved and type-coerced against `schema` — a Spark 4
    * Column is a lazy ColumnNode tree; analyzing it as a Filter over an
    * empty relation yields the concrete Catalyst comparison nodes the
    * interval pruner pattern-matches (with the analyzer's own coercion
    * casts, which [[statsCanMatch]] unwraps when they are widening).
    */
  private[graft] def resolvedPredicate(spark: SparkSession,
      schema: StructType, predicate: Column): Expression = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    empty.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.getOrElse(ColumnBridge.expression(predicate))
  }

  /** Row-level DELETE, copy-on-write (the GDPR-erasure / contamination-
    * removal primitive — `DELETE FROM t WHERE p` on a 100 TB table must
    * not rewrite 100 TB):
    *
    *  1. STAT PRUNE (driver-side, zero I/O): manifest files whose
    *     recorded ranges prove no row can match are out immediately.
    *  2. REFINE (one column-pruned scan of the candidates only):
    *     `input_file_name()` under the predicate finds which candidate
    *     files ACTUALLY hold a matching row.
    *  3. REWRITE only those files, keeping rows the predicate does not
    *     select TRUE for (a NULL predicate keeps its row — SQL DELETE
    *     semantics); tracked stats are re-measured on the rewrite.
    *  4. PUBLISH: every untouched manifest line republishes VERBATIM
    *     (stats included — zero data movement, file skipping intact)
    *     alongside the rewrites, through the optimistic replace loop.
    *
    * Cost is O(files containing matches) + one pruned candidate scan,
    * never O(table). [[changesBetween]] over the commit reads exactly
    * the deleted rows as `delete` events (the rewrite's surviving rows
    * net out of the keyed diff). Concurrency: the delete is "as of
    * `baseVersion`" (default head) — interleaved APPENDS carry into the
    * new manifest untouched (append rows land after the delete, even
    * ones the predicate would have selected — serializes as
    * delete-then-append); an interleaved replace or a DML commit that
    * rewrote an overlapping base conflicts via the base-subset check.
    *
    * Returns the new version — or `baseVersion`/head UNCHANGED (no
    * commit) when pruning or refinement proves nothing matches.
    * No-op deletes outnumber real ones in retention pipelines; an
    * empty commit per probe would churn the history for nothing.
    */
  def deleteWhere(spark: SparkSession, dir: String, predicate: Column,
      baseVersion: Option[Int] = None): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val fs = fileSystem(spark, dir)
    val base = baseVersion.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $dir"))
    require(fs.exists(manifestPath(dir, base)),
      s"version $base not found in $dir")
    val m = readManifest(fs, dir, base)
    if (m.lines.isEmpty) return base
    val schema = m.schema
    val pred = resolvedPredicate(spark, schema, predicate)
    val candidates = pruneWithIndex(spark, dir, m, pred)
    if (candidates.isEmpty) return base
    // METADATA-ONLY fast path: a candidate whose recorded ranges prove
    // every row matches (null-count-aware — [[statsMustMatchAll]])
    // drops from the manifest without being scanned or rewritten. The
    // production retention shape: `DELETE WHERE ts < cutoff` against a
    // time-clustered table is a pure manifest commit — zero bytes
    // move, however many terabytes the dropped files hold. (A dropped
    // file that carried DVs is still exact: its visible rows are a
    // subset of "all rows", all of which match.)
    val wholly: Set[String] = dropCandidates(pred, candidates).toSet
    // refinement scan of the REMAINING candidates only: predicate
    // columns + file metadata — Spark prunes the parquet read to the
    // referenced columns. VISIBLE rows only: a file whose sole matches
    // were already deleted by a DV must not rewrite (and the rewrite
    // below must not resurrect)
    val scanCands = candidates.filterNot(wholly)
    val matchedRel: Set[String] =
      if (scanCands.isEmpty) Set.empty
      else scanVisible(spark, dir, schema, scanCands, m.dvs,
        keepMeta = true, colMap = m.colMap, dvSizes = m.dvSizes)
        .filter(predicate)
        .select("__file").distinct()
        .collect().map(_.getString(0)).toSet
    if (matchedRel.isEmpty && wholly.isEmpty) return base
    val (matchedLines, untouched) = m.lines.filterNot(wholly)
      .partition(l => matchedRel.contains(parseLine(l)._1))
    // observed columns of the touched files UNION the table's declared
    // policy: a rewrite is exactly when a post-declaration file gains
    // the stats the policy promises (setPolicy's documented contract)
    val inherited = (matchedLines.flatMap(parseStats(_)._2.map(_._1)) ++
      m.statColsPolicy).distinct
    // the rewrite applies the matched files' existing DVs too — it
    // MATERIALIZES them (their pairs drop with the replaced files)
    val staged =
      if (matchedLines.isEmpty) Nil // purely metadata: nothing to stage
      else stage(spark, dir,
        scanVisible(spark, dir, schema, matchedLines, m.dvs,
          colMap = m.colMap, dvSizes = m.dvSizes)
          .filter(not(coalesce(predicate, lit(false)))), inherited,
        m.colMap)
    // the bloom index survives the rewrite at its RECORDED sizing:
    // re-measure every column the table indexes (dropped/rewritten
    // files lose their stale pointers in the publish loop)
    val (stagedBlooms, stagedBloomSizes) = stageBlooms(spark, dir,
      staged, m.bloomCfg, m.colMap)
    // surviving rows were admitted by their own commits: no CHECK rescan
    replaceLoop(spark, dir, staged, Some(base), keyCols = None,
      stagedSchema = schema, validateChecks = false, carried = untouched,
      stagedBlooms = stagedBlooms, stagedBloomSizes = stagedBloomSizes,
      op = "delete")
  }

  /** Row-level UPDATE, copy-on-write (`UPDATE t SET c = e WHERE p`):
    * the same stat-prune → refine → rewrite-matched-files-only plan as
    * [[deleteWhere]], with matched rows rewritten through the
    * assignments instead of dropped. Each assignment expression is
    * applied ONLY where the predicate is TRUE (NULL/FALSE rows pass
    * through untouched — SQL UPDATE semantics); assigned columns must
    * already exist and keep their type (adding a column is a schema
    * change — commit it as a replace). CHECK constraints re-validate
    * the rewritten files: an UPDATE is the one DML whose output can
    * violate a constraint its input satisfied. Untouched manifest
    * lines republish verbatim; tracked stats re-measure on the
    * rewrite; [[changesBetween]] reads the commit as exactly the
    * updated rows' pre/post pairs. Returns the new version, or the
    * base unchanged when nothing can match.
    */
  def updateWhere(spark: SparkSession, dir: String, predicate: Column,
      assignments: Map[String, Column],
      baseVersion: Option[Int] = None): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val fs = fileSystem(spark, dir)
    val base = baseVersion.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $dir"))
    require(fs.exists(manifestPath(dir, base)),
      s"version $base not found in $dir")
    val m = readManifest(fs, dir, base)
    if (m.lines.isEmpty) return base
    val schema = m.schema
    assignments.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"UPDATE assigns to '$c', which is not a table column — adding a " +
        "column rewrites history; commit it as a replace"))
    val pred = resolvedPredicate(spark, schema, predicate)
    val candidates = pruneWithIndex(spark, dir, m, pred)
    if (candidates.isEmpty) return base
    val matchedRel: Set[String] =
      scanVisible(spark, dir, schema, candidates, m.dvs, keepMeta = true,
        colMap = m.colMap, dvSizes = m.dvSizes)
        .filter(predicate)
        .select("__file").distinct()
        .collect().map(_.getString(0)).toSet
    if (matchedRel.isEmpty) return base
    val (matchedLines, untouched) =
      m.lines.partition(l => matchedRel.contains(parseLine(l)._1))
    val inherited = (matchedLines.flatMap(parseStats(_)._2.map(_._1)) ++
      m.statColsPolicy).distinct
    val hit = coalesce(predicate, lit(false))
    // visible rows only: the rewrite materializes the matched files'
    // existing DVs rather than resurrecting their deleted rows
    val rewritten = scanVisible(spark, dir, schema, matchedLines, m.dvs,
      colMap = m.colMap, dvSizes = m.dvSizes)
      .select(schema.fieldNames.toSeq.map { c =>
        assignments.get(c) match {
          case Some(e) => when(hit, e).otherwise(col(c))
            .cast(schema(c).dataType).as(c)
          case None => col(c)
        }
      }: _*)
    val staged = stage(spark, dir, rewritten, inherited, m.colMap)
    val (stagedBlooms, stagedBloomSizes) = stageBlooms(spark, dir,
      staged, m.bloomCfg, m.colMap)
    replaceLoop(spark, dir, staged, Some(base), keyCols = None,
      stagedSchema = schema, carried = untouched,
      stagedBlooms = stagedBlooms, stagedBloomSizes = stagedBloomSizes,
      op = "update")
  }

  /** Row-level DELETE, merge-on-read (`DELETE FROM t WHERE p` as a
    * DELETION VECTOR commit): where [[deleteWhere]] rewrites every
    * file holding a matched row (copy-on-write — O(matched FILES)
    * bytes moved), this records only the matched row POSITIONS in a
    * parquet sidecar and publishes `#dv` manifest pointers — the
    * commit moves O(matched ROWS) bytes whatever the file sizes. The
    * production answer to "delete 100 rows from a 100 TB table": a
    * copy-on-write delete of one row in a 1 GB file rewrites 1 GB;
    * this writes ~one (file, pos) pair. Readers ([[read]],
    * [[readPruned]], [[changesBetween]], every DML refine scan)
    * anti-join the recorded positions on parquet's stable
    * `_metadata.row_index`; [[compactCommit]] materializes DVs back
    * into plain files (the read-amplification payoff point);
    * [[expire]] collects sidecars with the versions referencing them.
    *
    * Same SQL semantics as [[deleteWhere]]: WHERE-TRUE rows only
    * (NULL keeps the row), stat pruning rules out provably-unmatched
    * files before any scan, and a no-match delete is a commit-free
    * no-op. Deletes stack: a second delete adds pairs; reads apply
    * the union.
    *
    * Concurrency: a MoR delete rewrites nothing, so it composes with
    * everything that doesn't — interleaved APPENDS carry (as-of-base
    * semantics: appended rows are not scanned) and two interleaved
    * MoR DELETES both publish (position sets union; deletes commute —
    * any serial order yields the same union). Conflicts, both thrown
    * as [[CommitConflictException]]: an interleaved commit that
    * REWROTE a scanned file (copy-on-write DML / replace / compaction
    * — the positions this delete recorded no longer name those rows),
    * and an interleaved [[updateWhereMor]] that re-homed scanned rows
    * (its staged copies would survive position-only DVs). Returns the
    * new version, or `base` unchanged when nothing matches.
    */
  def deleteWhereMor(spark: SparkSession, dir: String, predicate: Column,
      baseVersion: Option[Int] = None): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val fs = fileSystem(spark, dir)
    val base = baseVersion.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $dir"))
    require(fs.exists(manifestPath(dir, base)),
      s"version $base not found in $dir")
    val m = readManifest(fs, dir, base)
    if (m.lines.isEmpty) return base
    val schema = m.schema
    val pred = resolvedPredicate(spark, schema, predicate)
    val candidates = pruneWithIndex(spark, dir, m, pred)
    if (candidates.isEmpty) return base
    // one column-pruned scan of the candidates' VISIBLE rows streams
    // the matched positions straight to a commit-scoped sidecar — no
    // driver materialization, the DV can be any size
    val dvDir = new Path(dir, s"data/c-${java.util.UUID.randomUUID()}")
    scanVisible(spark, dir, schema, candidates, m.dvs, keepMeta = true,
      colMap = m.colMap, dvSizes = m.dvSizes)
      .filter(predicate)
      .select(col("__file").as("file"), col("__pos").as("pos"))
      .write.parquet(dvDir.toString)
    // exact (base file -> sidecar part) pairs from one read-back of
    // the (small) sidecar; doubles as the no-match detector. ONE
    // listStatus supplies the part sizes — recorded on the `#dv`
    // lines so every later read of this sidecar plans listing-free —
    // and feeds the read-back itself through [[manifestScan]]
    val dvSizes: Map[String, Long] = sidecarSizes(fs, dvDir)
    val pairs: Seq[(String, String)] =
      manifestScan(spark, dir, DvSchema,
        dvSizes.toSeq.map { case (r, sz) => r -> Some(sz) })
        .select(col("file"), input_file_name().as("__d")).distinct()
        .collect().map(r => (r.getString(0), relOfUri(r.getString(1))))
        .toSeq
    if (pairs.isEmpty) { fs.delete(dvDir, true); return base }
    replaceLoop(spark, dir, staged = Nil, base = Some(base),
      keyCols = None, stagedSchema = schema, validateChecks = false,
      carried = m.lines, stagedDvs = pairs, stagedDvSizes = dvSizes,
      morScanned = Some(candidates.map(parseLine(_)._1).toSet),
      op = "delete-mor")
  }

  /** Row-level UPDATE, merge-on-read: the matched rows' positions go
    * into a deletion vector (as [[deleteWhereMor]]) and their updated
    * copies stage as a NEW data file in the same commit — the commit
    * moves O(matched ROWS) bytes, not O(matched files). SQL UPDATE
    * semantics ([[updateWhere]]): assignments apply to WHERE-TRUE
    * rows only, assigned columns must exist and keep their type, and
    * CHECK constraints re-validate the staged copies (an update can
    * violate a constraint its input satisfied).
    *
    * Concurrency: re-homing a row's position composes with nothing
    * that TOUCHES a scanned file — a racing delete's position-only DV
    * would miss the staged copy, a racing update would fork the row —
    * but it composes fine with everything else. So a lost race
    * (no pinned `baseVersion`) retries in two gears:
    *  - FAST-FORWARD: if every scanned file's manifest line and DV
    *    set are untouched in the new head (and the CHECK set is the
    *    one the staged copies validated against), the already-staged
    *    DV + copies are still exact — republish them against the new
    *    head's lines, one manifest read + CAS per attempt, the same
    *    cost that lets plain appends converge under contention. This
    *    is how the op survives APPEND TRAFFIC: an appender can win
    *    every scan-sized window, but not every manifest-sized one.
    *    Serialization: the update is "as of its scan" — interleaved
    *    appends carry untouched even where the predicate would have
    *    selected their rows (serializes as update-then-append, the
    *    SAME carry rule [[deleteWhere]] documents for its appends).
    *  - RE-DERIVE: an interleaved commit that did touch a scanned
    *    file (CoW DML, replace, compaction, another MoR op, a CHECK
    *    change) invalidates the staged positions; re-prune, re-scan
    *    and re-stage from the new head — that retry serializes as
    *    "the interleaved commits, then this update".
    * Sustained contention past the attempt bound throws
    * [[CommitConflictException]]. A PINNED `baseVersion` composes
    * exactly as far as the fast-forward proves it exact: interleaved
    * commits DISJOINT from the scanned files (appends, updates/
    * deletes of other files) carry and the pinned update lands —
    * two racing updates of disjoint files both commit, DV union plus
    * both staged file sets, the MoR-delete composition rule — while
    * any interleave that touched a scanned file throws (the caller
    * asked for THAT snapshot; silently re-scanning a head it never
    * saw would change the answer). The same race from the other side
    * is caught
    * by [[deleteWhereMor]]'s update-attribution probe and
    * [[replaceLoop]]'s lost-delete rule. Returns the new version, or
    * the base unchanged when nothing matches.
    */
  def updateWhereMor(spark: SparkSession, dir: String, predicate: Column,
      assignments: Map[String, Column],
      baseVersion: Option[Int] = None): Int = {
    require(assignments.nonEmpty, "updateWhereMor needs an assignment")
    val fs = fileSystem(spark, dir)
    var attempts = 0
    var staged: Option[MorStaged] = None
    while (attempts < 1000) {
      attempts += 1
      staged match {
        case None => // derive (first attempt, or a fast-forward broke)
          val base = baseVersion.orElse(latestVersion(spark, dir))
            .getOrElse(throw new IllegalArgumentException(
              s"no committed version in $dir"))
          require(fs.exists(manifestPath(dir, base)),
            s"version $base not found in $dir")
          attemptUpdateMor(spark, dir, fs, predicate, assignments,
            base) match {
            case Right(v) => return v
            case Left(st) => staged = Some(st)
          }
        case Some(st) => // fast-forward the staged artifacts
          val head = latestVersion(spark, dir).getOrElse(
            throw new IllegalStateException(s"head of $dir vanished"))
          val hm = readManifest(fs, dir, head)
          val dvsOnScanned =
            hm.dvs.filter(p => st.scanned.contains(p._1)).toSet
          val compatible =
            st.scannedLines.subsetOf(hm.lines.toSet) &&
              dvsOnScanned == st.scannedDvs &&
              hm.checks == st.checks
          if (!compatible) {
            // scanned files moved (or the CHECK contract changed):
            // the staged positions are stale. An unpinned update
            // re-derives from the new head; a PINNED base stays
            // strict — the caller asked for THAT snapshot, and
            // re-scanning a head it never saw would change the
            // answer. DISJOINT interleaves (an update/delete on other
            // files, an append) pass the compatibility gate above and
            // fast-forward even from a pinned base: the staged DV +
            // copies are still byte-exact for the rows the pinned
            // scan saw, so both commits land (DV union + both staged
            // files) — the MoR-delete composition rule, mirrored.
            if (baseVersion.isDefined)
              throw new CommitConflictException(
                s"merge-on-read update of $dir based on pinned " +
                  s"version ${baseVersion.get} lost the version race " +
                  "to a commit that touched its scanned files: " +
                  "position re-homing cannot compose with an overlap " +
                  "— re-derive from the new head and retry")
            staged = None // re-derive
          }
          else {
            val uuid = newCommitUuid()
            if (publishResolved(fs, dir, head + 1, uuid)(
                casPublish(fs, dir, head + 1, hm.copy(
                  lines = hm.lines ++ st.staged, txn = None,
                  dvs = hm.dvs ++ st.pairs,
                  blooms = hm.blooms ++ st.stagedBlooms,
                  op = Some("update-mor"), commitUuid = Some(uuid),
                  dvSizes = hm.dvSizes ++ st.dvSizes,
                  bloomSizes = hm.bloomSizes ++ st.bloomSizes),
                  Some(hm))))
              return head + 1
          }
      }
    }
    throw new CommitConflictException(
      s"merge-on-read update of $dir still losing the version race " +
        s"after $attempts attempts")
  }

  /** The artifacts of a lost [[attemptUpdateMor]] CAS, everything the
    * fast-forward needs: what was staged, and the exact slice of base
    * state (scanned lines, their DVs, the CHECK set) whose survival in
    * the new head proves the staged positions are still the rows the
    * scan saw. */
  private final case class MorStaged(scanned: Set[String],
      scannedLines: Set[String], scannedDvs: Set[(String, String)],
      checks: Seq[(String, String)],
      staged: Seq[String], pairs: Seq[(String, String)],
      dvSizes: Map[String, Long],
      stagedBlooms: Seq[(String, String, String)],
      bloomSizes: Map[String, Long])

  /** One strict as-of-`base` attempt of [[updateWhereMor]]: publishes
    * as `base + 1` (Right) or reports the lost race with its staged
    * artifacts for the fast-forward (Left — the staged files stay on
    * disk; if the fast-forward also dies they are unreferenced and a
    * later [[expire]] collects them, like every lost CAS attempt). */
  private def attemptUpdateMor(spark: SparkSession, dir: String,
      fs: FileSystem, predicate: Column,
      assignments: Map[String, Column],
      base: Int): Either[MorStaged, Int] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val m = readManifest(fs, dir, base)
    if (m.lines.isEmpty) return Right(base)
    val schema = m.schema
    assignments.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"UPDATE assigns to '$c', which is not a table column — adding a " +
        "column rewrites history; commit it as a replace"))
    val pred = resolvedPredicate(spark, schema, predicate)
    val candidates = pruneWithIndex(spark, dir, m, pred)
    if (candidates.isEmpty) return Right(base)
    val matched = scanVisible(spark, dir, schema, candidates, m.dvs,
      keepMeta = true, colMap = m.colMap, dvSizes = m.dvSizes)
      .filter(predicate)
    val dvDir = new Path(dir, s"data/c-${java.util.UUID.randomUUID()}")
    matched.select(col("__file").as("file"), col("__pos").as("pos"))
      .write.parquet(dvDir.toString)
    // one listStatus: sizes for the `#dv` annotations AND the
    // listing-free read-back (see [[deleteWhereMor]])
    val dvSizes: Map[String, Long] = sidecarSizes(fs, dvDir)
    val pairs: Seq[(String, String)] =
      manifestScan(spark, dir, DvSchema,
        dvSizes.toSeq.map { case (r, sz) => r -> Some(sz) })
        .select(col("file"), input_file_name().as("__d")).distinct()
        .collect().map(r => (r.getString(0), relOfUri(r.getString(1))))
        .toSeq
    if (pairs.isEmpty) { fs.delete(dvDir, true); return Right(base) }
    // updated copies: every row here is WHERE-TRUE by construction,
    // so the assignments apply unconditionally (second deterministic
    // scan of the same immutable files — same rows as the DV write)
    val affected = pairs.map(_._1).toSet
    val inherited = (m.lines
      .filter(l => affected.contains(parseLine(l)._1))
      .flatMap(parseStats(_)._2.map(_._1)) ++ m.statColsPolicy).distinct
    val updated = matched.select(schema.fieldNames.toSeq.map { c =>
      assignments.get(c) match {
        case Some(e) => e.cast(schema(c).dataType).as(c)
        case None => col(c)
      }
    }: _*)
    val staged = stage(spark, dir, updated, inherited, m.colMap)
    val stagedBlooms = stageBlooms(spark, dir, staged, m.bloomCfg,
      m.colMap)
    enforceChecks(spark, dir, staged, m.checks, schema)
    val attemptUuid = newCommitUuid()
    val published = publishResolved(fs, dir, base + 1, attemptUuid)(
      casPublish(fs, dir, base + 1, m.copy(lines = m.lines ++ staged,
        txn = None, dvs = m.dvs ++ pairs,
        blooms = m.blooms ++ stagedBlooms._1, op = Some("update-mor"),
        commitUuid = Some(attemptUuid), dvSizes = m.dvSizes ++ dvSizes,
        bloomSizes = m.bloomSizes ++ stagedBlooms._2), Some(m)))
    if (published) Right(base + 1)
    else Left(MorStaged(
      scanned = affected,
      scannedLines =
        m.lines.filter(l => affected.contains(parseLine(l)._1)).toSet,
      scannedDvs = m.dvs.filter(p => affected.contains(p._1)).toSet,
      checks = m.checks, staged = staged,
      pairs = pairs, dvSizes = dvSizes,
      stagedBlooms = stagedBlooms._1, bloomSizes = stagedBlooms._2))
  }

  /** MERGE INTO (upsert), copy-on-write: rows of `source` whose
    * `keyCols` match an existing row REPLACE it; the rest INSERT —
    * and like [[deleteWhere]], only the files that actually hold a
    * matched key are rewritten:
    *
    *  1. STAT PRUNE: for a single integral key with recorded stats,
    *     one driver-visible agg over the (delta-sized) source yields
    *     its key range; base files provably outside it are out.
    *  2. REFINE: a key-column-pruned scan of the candidates,
    *     semi-joined against the source keys, names the files with a
    *     matched row (the join is delta × candidate-keys — AQE
    *     broadcasts the small side).
    *  3. REWRITE those files anti-joined on the source keys, staged
    *     together with the full source in one write (the staged frame
    *     IS the commit's row-level delta, which is exactly what
    *     [[changesBetween]] then reports: update pairs + inserts).
    *  4. PUBLISH with untouched lines carried verbatim; the commit's
    *     schema is the table's evolved by the source's ([[evolveSchema]]
    *     — a merge may introduce columns), CHECK constraints validate
    *     the staged delta only, and the conflict probe is scoped to the
    *     SOURCE keys: an interleaved append conflicts iff it touched a
    *     key this merge claims, otherwise it carries.
    *
    * `source` must be key-unique (the SQL MERGE cardinality rule — two
    * source rows matching one target row is nondeterministic; rejected
    * loudly). NULL-keyed source rows match nothing and insert.
    * Returns the new version.
    */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
      keyCols: Seq[String], baseVersion: Option[Int] = None,
      statCol: Option[String] = None,
      txn: Option[(String, Long)] = None,
      sourceDistinctByKey: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    keyCols.foreach(k => require(source.columns.contains(k),
      s"key column '$k' not in source columns " +
        source.columns.mkString("[", ", ", "]")))
    val fs = fileSystem(spark, dir)
    val base = baseVersion.orElse(latestVersion(spark, dir))
    if (base.isEmpty) // first commit: a merge into nothing is an insert
      return commitImpl(spark, dir, source, replace = false,
        statCols = statCol.toSeq, txn = txn)
    require(fs.exists(manifestPath(dir, base.get)),
      s"version ${base.get} not found in $dir")
    val m = readManifest(fs, dir, base.get)
    val src = source.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK)
    try {
      // NULL-keyed rows match nothing (SQL equality), so they cannot
      // create a cardinality violation however many there are. The
      // cardinality probe and the stat-prune key ranges ride ONE
      // grouped aggregation over the delta-sized source
      // ([[sourceKeyRangesWithDup]]) — they were two jobs. A caller
      // whose source is one-row-per-key BY CONSTRUCTION (the sink's
      // per-key compaction, an Update-mode streaming aggregate keyed
      // on the merge keys) declares it and the probe drops to the
      // shuffle-free min/max partial agg — one exchange less per
      // merge, which on a per-trigger sink path is one exchange less
      // per trigger ([[mergeApply]] grew the same knob in round 18
      // for the CDC apply).
      val (dupMax, srcRanges) =
        if (sourceDistinctByKey) {
          mergeProbeSkips.incrementAndGet()
          (0L, sourceKeyRangesOnly(src, keyCols))
        } else sourceKeyRangesWithDup(src, keyCols)
      require(dupMax <= 1, s"mergeInto source has duplicate keys on " +
        s"(${keyCols.mkString(", ")}): matching one target row with two " +
        "source rows is nondeterministic (SQL MERGE cardinality rule)")
      // id-mode minting for columns this merge INTRODUCES: physical
      // names must exist before the files stage (same rule as the
      // append path); keyCols are table columns, never minted
      def mintsFor(evolved: StructType,
          baseCols: Set[String]): Seq[(String, String)] =
        if (!m.colMapMode.contains("id")) Nil
        else evolved.fieldNames.toSeq.filterNot(n =>
          baseCols.contains(n) || m.colMap.toMap.contains(n))
          .map(_ -> mintPhysical())
      val schema = m.schema
      if (m.lines.isEmpty) {
        // empty base version: pure insert, schema evolves from empty
        if (m.schemaEnforce) enforceDeclaredSchema(schema, src.schema, dir)
        val evolved = evolveSchema(schema, src.schema)
        val mints = mintsFor(evolved, schema.fieldNames.toSet)
        val staged = stage(spark, dir,
          clusterForStage(alignTo(src, evolved), m.clusterCols),
          (statCol.toSeq ++ m.statColsPolicy).distinct
            .filter(evolved.fieldNames.contains), m.colMap ++ mints)
        return replaceLoop(spark, dir, staged, base,
          keyCols = Some(keyCols), stagedSchema = evolved,
          carried = m.lines, keyProbe = Some(src.select(keyCols.head,
            keyCols.tail: _*)), colMapExtra = mints,
          txn = txn)
      }
      keyCols.foreach(k => require(schema.fieldNames.contains(k),
        s"key column '$k' not in table schema " +
          schema.fieldNames.mkString("[", ", ", "]")))
      // 1. stat prune on the single-key range when the manifest has it
      val candidates = keyRangeCandidates(srcRanges, m)
      // 2. refine to files actually holding a matched key — visible
      // rows only (a DV-deleted row's key no longer matches anything)
      val matchedRel: Set[String] =
        if (candidates.isEmpty) Set.empty
        else scanVisible(spark, dir, schema, candidates, m.dvs,
            keepMeta = true, colMap = m.colMap, dvSizes = m.dvSizes)
          .select(keyCols.map(col) :+ col("__file"): _*)
          .join(src.select(keyCols.head, keyCols.tail: _*), keyCols,
            "left_semi")
          .select("__file").distinct()
          .collect().map(_.getString(0)).toSet
      val (matchedLines, untouched) =
        m.lines.partition(l => matchedRel.contains(parseLine(l)._1))
      val inherited = (matchedLines.flatMap(parseStats(_)._2.map(_._1)) ++
        statCol ++ m.statColsPolicy).distinct
      // 3. rewrite matched files minus matched keys; union the source
      if (m.schemaEnforce) enforceDeclaredSchema(schema, src.schema, dir)
      val newSchema = evolveSchema(schema, src.schema)
      val stagedDf = {
        val srcAligned = alignTo(src, newSchema)
        if (matchedLines.isEmpty) srcAligned
        else alignTo(
          // visible rows only: the rewrite materializes the matched
          // files' DVs instead of resurrecting their deleted rows
          scanVisible(spark, dir, schema, matchedLines, m.dvs,
          colMap = m.colMap, dvSizes = m.dvSizes)
            .join(src.select(keyCols.head, keyCols.tail: _*), keyCols,
              "left_anti"),
          newSchema).unionByName(srcAligned)
      }
      val mints = mintsFor(newSchema, schema.fieldNames.toSet)
      val mergeMap = m.colMap ++ mints
      // the upsert's staged files (rewritten residue + source rows)
      // honor the declared clustering like any append — the
      // Update-mode sink's per-trigger merges keep stats tight
      val staged = stage(spark, dir,
        clusterForStage(stagedDf, m.clusterCols), inherited, mergeMap)
      val (stagedBlooms, stagedBloomSizes) = stageBlooms(spark, dir,
        staged, m.bloomCfg, mergeMap)
      replaceLoop(spark, dir, staged, base, keyCols = Some(keyCols),
        stagedSchema = newSchema, carried = untouched,
        keyProbe = Some(src.select(keyCols.head, keyCols.tail: _*)),
        stagedBlooms = stagedBlooms, stagedBloomSizes = stagedBloomSizes,
        op = "merge", colMapExtra = mints, txn = txn)
    } finally { src.unpersist(); () }
  }

  /** Exactly-once MERGE for a REPLAYABLE writer — [[idempotentCommit]]
    * with upsert-by-key semantics instead of append: the batch routes
    * through [[mergeInto]] under the same `(appId, batchId)` stamp,
    * and a batchId at or below the writer's recorded high-water is
    * SKIPPED (None). This is the streaming-UPSERT shape — a keyed
    * aggregation in Update output mode emits only the keys each
    * trigger changed, and every emitted row must overwrite its key's
    * previous state, not append beside it. The guard is the same
    * O(1) `#txnhw` ledger read; on a skip, the target already holds
    * the batch's effect (the merge published before the checkpoint
    * ack), so re-merging would be wasted work but never wrong —
    * skipping keeps replays O(1). A lost conflict race throws; Spark
    * re-runs the batch with the SAME batchId against the new head,
    * and the stamp still decides. */
  def idempotentMerge(spark: SparkSession, dir: String,
      source: DataFrame, keyCols: Seq[String], appId: String,
      batchId: Long, sourceDistinctByKey: Boolean = false)
      : Option[Int] = {
    require(appId.nonEmpty, "idempotentMerge needs a non-empty appId")
    if (txnLedger(spark, dir).get(appId).exists(_ >= batchId)) None
    else Some(mergeInto(spark, dir, source, keyCols,
      txn = Some((appId, batchId)),
      sourceDistinctByKey = sourceDistinctByKey))
  }

  /** ONE winner row per key: `max(struct(ordered))` — the
    * map-side-combinable per-key compaction both the CDC apply and
    * the sink's within-batch last-writer-wins share. `ordered` lists
    * the priority columns most-significant first; output keeps `df`'s
    * OWN column order (a first commit through this must not reorder
    * the table's birth schema away from the stream's). */
  private[graft] def compactByKey(df: DataFrame, keyCols: Seq[String],
      ordered: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, max, struct}
    df.groupBy(keyCols.map(c => col(s"`$c`")): _*)
      .agg(max(struct(ordered.map(c => col(s"`$c`")): _*)).as("__w"))
      .select(df.columns.toSeq.map(c =>
        if (keyCols.contains(c)) col(s"`$c`")
        else col(s"__w.`$c`").as(c)): _*)
  }

  /** Exactly-once CDC APPLY for a replayable writer — the
    * delete-carrying sibling of [[idempotentMerge]], and the engine
    * behind the graft sink's `opColumn` option: each batch row is an
    * upsert or (when `opCol` equals `deleteOp`) a delete of its key,
    * ordered by `seqCols` (most significant first — `(ts, event_id)`
    * for a feed whose timestamps tie), applied under the
    * `(appId, batchId)` stamp.
    *
    * Semantics are [[graft.ops.ChangeApply.compactLog]]'s
    * max-semilattice, as ONE key-pruned MERGE instead of a
    * whole-state compaction: the table stores per key the WINNING
    * `(seqCols, opCol, payload)` row — tombstones retained (default),
    * which is what makes application associative/commutative across
    * any batch split: a late update older than an applied delete
    * loses to the tombstone instead of resurrecting the key. The
    * batch pre-compacts per key by the same struct-max (multi-row
    * keys are legal — the within-batch contract is last-writer-wins
    * by `seqCols`), then a matched row updates only when the incoming
    * struct wins, and unmatched rows insert. Readers of the retained
    * shape filter `opCol <> deleteOp` for the live view; GC the
    * tombstones with `DELETE WHERE` once the feed's lateness horizon
    * passes (a watermark/retention decision, per compactLog's doc).
    *
    * `retainTombstones = false` is the LIVE-TABLE shape (Delta's
    * foreachBatch CDC-apply recipe): a winning delete REMOVES the
    * row, a winning update overwrites it, unmatched non-deletes
    * insert. Correct when `seqCols` is per-key monotone across
    * batches (the common ordered CDC feed); with cross-batch
    * disorder a late update older than an already-applied delete
    * would re-insert — the tombstone shape exists for exactly that.
    *
    * Keys must not be NULL (the load contract: no corpus carries a
    * NULL event key). The merge matches on SQL equality, where a NULL
    * key matches nothing and would insert again on every later batch
    * — compactLog keeps one winner for it instead — so a NULL key
    * fails the batch's first job, naming the key column.
    *
    * Scale shape: O(files holding a matched key) via [[mergeApply]]'s
    * stat-prune → refine path; the idempotence guard is the O(1)
    * sealed-ledger read. Returns None on a replayed batchId.
    */
  def idempotentMergeCdc(spark: SparkSession, dir: String,
      source: DataFrame, keyCols: Seq[String], seqCols: Seq[String],
      opCol: String, deleteOp: String, appId: String, batchId: Long,
      retainTombstones: Boolean = true): Option[Int] = {
    import org.apache.spark.sql.functions.{col, lit, raise_error, struct, when}
    require(appId.nonEmpty, "idempotentMergeCdc needs a non-empty appId")
    require(seqCols.nonEmpty, "idempotentMergeCdc needs a seq column")
    (seqCols :+ opCol).foreach(c => require(source.columns.contains(c),
      s"CDC column '$c' not in source columns " +
        source.columns.mkString("[", ", ", "]")))
    keyCols.foreach(k => require(source.columns.contains(k),
      s"key column '$k' not in source columns " +
        source.columns.mkString("[", ", ", "]")))
    if (txnLedger(spark, dir).get(appId).exists(_ >= batchId))
      return None
    val payload = source.columns.toSeq
      .filterNot(c => keyCols.contains(c) || seqCols.contains(c) ||
        c == opCol)
    // the compaction ordering, most significant first — exactly
    // ChangeApply.compactLog's `ordered` (seq, then op/payload as the
    // deterministic tiebreak a malformed duplicate-seq feed needs)
    val ordered = seqCols ++ (opCol +: payload)
    // the NULL-key refusal rides in the projection (no job of its
    // own); a non-nullable key needs none and keeps its nullability
    val compacted = compactByKey(source, keyCols, ordered)
      .select(source.columns.toSeq.map { c =>
        if (keyCols.contains(c) && source.schema(c).nullable)
          when(col(s"`$c`").isNull, raise_error(lit(
            s"CDC key column '$c' is NULL: a NULL key matches no row " +
              "and cannot be merged")))
            .otherwise(col(s"`$c`")).as(c)
        else col(s"`$c`")
      }: _*)
    val stamp = Some((appId, batchId))
    latestVersion(spark, dir) match {
      case None =>
        // first commit: the compacted batch IS the state; the
        // live-table shape drops its delete winners (nothing to
        // delete yet), the retained shape keeps them as tombstones
        val first =
          if (retainTombstones) compacted
          else compacted.filter(col(opCol) =!= deleteOp)
        Some(commitImpl(spark, dir, first, replace = false,
          statCols = Nil, txn = stamp))
      case Some(_) =>
        val incomingWins =
          struct(ordered.map(c => col(s"__s.`$c`")): _*) >=
            struct(ordered.map(col): _*)
        val allAssign: Map[String, Column] =
          (keyCols ++ ordered).map(c => c -> col(s"__s.`$c`")).toMap
        val clauses: Seq[MergeClause] =
          if (retainTombstones) Seq(
            WhenMatchedUpdate(Some(incomingWins), allAssign),
            WhenNotMatchedInsert(None, allAssign))
          else Seq(
            WhenMatchedDelete(Some(incomingWins &&
              col(s"__s.`$opCol`") === deleteOp)),
            WhenMatchedUpdate(Some(incomingWins), allAssign),
            WhenNotMatchedInsert(Some(col(s"__s.`$opCol`") =!= deleteOp),
              allAssign))
        Some(mergeApply(spark, dir, compacted, keyCols, clauses,
          txn = stamp,
          // compactByKey groups on exactly keyCols: one row per key
          // by construction — skip the cardinality probe's shuffle
          sourceDistinctByKey = true))
    }
  }

  /** The manifest lines a merge source's key ranges cannot rule out —
    * the stat prune [[mergeInto]] and [[mergeApply]] share. Prunes on
    * EVERY key column whose long encoding the stats understand
    * (integrals/date plain, timestamp in microseconds — matching
    * [[stage]]'s recorded unit exactly): a file survives only if each
    * such column's recorded [min,max] intersects the source's range
    * for it (a per-column bounding box — sound because a matching
    * row must equal the source on ALL key columns). Any other key
    * type skips its column rather than compare apples to oranges (a
    * string key under a blind cast-to-long would have "proved" no
    * file can match and silently turned an upsert into a
    * duplicate-key insert). One driver-visible agg over the
    * delta-sized source covers every encodable column; a key column
    * that is entirely NULL in the source proves no row can match at
    * all (SQL equality), so the candidate set is empty. */
  /** Per encodable key column, the source's [lo,hi] in the stats'
    * long encoding: `(col, isMicros, lo, hi)`. `None` = some key
    * column is entirely NULL in the source (no row can match at
    * all); `Some(Nil)` = no key column is encodable (nothing to
    * prune on).
    *
    * Fused with the SQL-MERGE cardinality probe
    * (optimization round 18): the dup check and the range agg used to
    * be two separate jobs over the same delta-sized source — a
    * groupBy-count pass and a partial-agg pass. One grouped pass now
    * answers both: per-key counts feed `max(count)` over fully
    * non-NULL-keyed groups (the cardinality rule ignores NULL-keyed
    * rows — SQL equality matches them to nothing), and min/max over
    * the GROUP KEYS equal min/max over the rows. Returns
    * (max duplicate multiplicity — 0 when the source is empty,
    * ranges as before). */
  /** Ranges alone — the partial-agg (shuffle-free) form for callers
    * whose source is provably one-row-per-key already. */
  private def sourceKeyRangesOnly(src: DataFrame, keyCols: Seq[String])
      : Option[Seq[(String, Boolean, Long, Long)]] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val encodable = keyCols.filter(k =>
      statWidth(src.schema(k).dataType) > 0 || microsCol(src.schema, k))
    if (encodable.isEmpty) return Some(Nil)
    def kExpr(k: String) =
      if (microsCol(src.schema, k))
        org.apache.spark.sql.functions.unix_micros(col(k))
      else col(k).cast("long")
    val aggs = encodable.flatMap(k => Seq(min(kExpr(k)), max(kExpr(k))))
    val r = src.agg(aggs.head, aggs.tail: _*).head()
    if (encodable.indices.exists(i => r.isNullAt(2 * i))) None
    else Some(encodable.zipWithIndex.map { case (k, i) =>
      (k, microsCol(src.schema, k),
        r.getLong(2 * i), r.getLong(2 * i + 1))
    })
  }

  private def sourceKeyRangesWithDup(src: DataFrame, keyCols: Seq[String])
      : (Long, Option[Seq[(String, Boolean, Long, Long)]]) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
    val encodable = keyCols.filter(k =>
      statWidth(src.schema(k).dataType) > 0 || microsCol(src.schema, k))
    def kExpr(k: String) =
      if (microsCol(src.schema, k))
        org.apache.spark.sql.functions.unix_micros(col(k))
      else col(k).cast("long")
    val grouped = src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val dupAgg = max(when(
      keyCols.map(col(_).isNotNull).reduce(_ && _), col("__n")))
    val aggs = dupAgg +: encodable.flatMap(k =>
      Seq(min(kExpr(k)), max(kExpr(k))))
    val r = grouped.agg(aggs.head, aggs.tail: _*).head()
    val dupMax = if (r.isNullAt(0)) 0L else r.getLong(0)
    val ranges =
      if (encodable.isEmpty) Some(Nil)
      else if (encodable.indices.exists(i => r.isNullAt(1 + 2 * i))) None
      else Some(encodable.zipWithIndex.map { case (k, i) =>
        (k, microsCol(src.schema, k),
          r.getLong(1 + 2 * i), r.getLong(2 + 2 * i))
      })
    (dupMax, ranges)
  }

  private def keyRangeCandidates(
      ranges: Option[Seq[(String, Boolean, Long, Long)]],
      m: Manifest): Seq[String] = ranges match {
    case None => Nil // an all-NULL key column: nothing can match
    case Some(Nil) => m.lines
    case Some(rs) =>
      m.lines.filter { l =>
        val gs = parseStatsFull(l)._2
        !rs.exists { case (k, micros, lo, hi) =>
          gs.exists(g => g.col == k && g.micros == micros &&
            (g.max < lo || g.min > hi))
        }
      }
  }

  /** The source key box as a pushable ROW predicate over the target:
    * for each ranged key column whose target type matches the
    * encoding, `col BETWEEN typed(lo) AND typed(hi)` with FOLDABLE
    * typed literals — so parquet row-group stats skip inside
    * already-candidate files. `None` when no column constrains
    * (nothing pushable — the caller must not filter). A NULL-keyed
    * row evaluates NULL → filtered, which is sound wherever the box
    * is used: such a row can never key-match. */
  private def sourceKeyBox(schema: StructType,
      ranges: Option[Seq[(String, Boolean, Long, Long)]])
      : Option[Column] = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    def typedLit(v: Long, dt: DataType, micros: Boolean): Option[Column] =
      if (micros) Some(timestamp_micros(lit(v)))
      else dt match {
        case types.LongType => Some(lit(v))
        case types.IntegerType if v.isValidInt => Some(lit(v.toInt))
        case types.ShortType
            if v >= Short.MinValue && v <= Short.MaxValue =>
          Some(lit(v.toShort))
        case types.ByteType
            if v >= Byte.MinValue && v <= Byte.MaxValue =>
          Some(lit(v.toByte))
        case types.DateType if v.isValidInt =>
          Some(lit(java.time.LocalDate.ofEpochDay(v)))
        case _ => None
      }
    ranges match {
      case None => Some(lit(false)) // all-NULL keys: no row matches
      case Some(rs) =>
        val atoms = rs.flatMap { case (k, micros, lo, hi) =>
          val dt = schema(k).dataType
          // the atom is only sound when the target column carries the
          // same encoding the range was measured in
          val sameEncoding =
            if (micros) dt == types.TimestampType
            else statWidth(dt) > 0
          if (!sameEncoding) None
          else for {
            l <- typedLit(lo, dt, micros)
            h <- typedLit(hi, dt, micros)
          } yield col(k) >= l && col(k) <= h
        }
        if (atoms.isEmpty) None else Some(atoms.reduce(_ && _))
    }
  }

  /** Null-fill and reorder `df` to exactly `schema`'s columns (the
    * evolved-union alignment both DML rewrites need). */
  private def alignTo(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.columns.toSet
    df.select(schema.fields.toSeq.map { f =>
      if (have.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** One clause of a general [[mergeApply]] — the full SQL MERGE
    * clause algebra. Conditions and assignment values are `Column`
    * expressions over the merge's JOINED row: target columns by bare
    * name, source columns through the `__s` struct
    * (`col("__s.price")`). `WHEN NOT MATCHED` clauses see only `__s`;
    * `WHEN NOT MATCHED BY SOURCE` clauses see only target columns.
    * A `None` condition is unconditional. */
  sealed trait MergeClause extends Serializable
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, …` */
  final case class WhenMatchedUpdate(condition: Option[Column],
      assignments: Map[String, Column]) extends MergeClause
  /** `WHEN MATCHED [AND cond] THEN DELETE` */
  final case class WhenMatchedDelete(condition: Option[Column])
    extends MergeClause
  /** `WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs)`
    * — unassigned target columns insert NULL. */
  final case class WhenNotMatchedInsert(condition: Option[Column],
      values: Map[String, Column]) extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …` */
  final case class WhenNotMatchedBySourceUpdate(condition: Option[Column],
      assignments: Map[String, Column]) extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE` */
  final case class WhenNotMatchedBySourceDelete(condition: Option[Column])
    extends MergeClause

  /** General MERGE INTO — the full SQL clause algebra ([[MergeClause]]:
    * conditional matched UPDATE/DELETE, conditional NOT MATCHED
    * INSERT, NOT MATCHED BY SOURCE UPDATE/DELETE), copy-on-write,
    * first-true-clause-wins within each group (the SQL evaluation
    * order). Where [[mergeInto]] is the schema-evolving upsert fast
    * path, this is the row-level rewrite engine behind everything
    * else `MERGE` can say.
    *
    * Scale shape — the same O(affected files) contract as the other
    * CoW DML, derived per clause GROUP:
    *  1. MATCHED clauses can only touch files the SOURCE's key range
    *     admits ([[keyRangeCandidates]] — stat prune, zero I/O).
    *  2. NOT MATCHED BY SOURCE clauses can only touch files their own
    *     conditions admit ([[pruneWithIndex]] over the disjunction —
    *     target-only predicates, so the full stats+bloom pruner
    *     applies; an unconditional clause admits every file).
    *  3. One key- and condition-pruned scan of that union REFINES to
    *     the files actually holding a row some clause APPLIES to;
    *     only those rewrite (visible rows — existing DVs
    *     materialize), every other manifest line carries VERBATIM.
    *  4. INSERT clauses join the source against the key-candidates'
    *     visible keys (delta × candidate-keys, AQE broadcasts the
    *     small side): a source row unmatched there is unmatched
    *     everywhere (files outside the key range cannot hold a
    *     source key), so the anti join never scans the whole table.
    *
    * Semantics: `source` must be key-unique (SQL MERGE cardinality
    * rule — rejected loudly, like [[mergeInto]]); NULL-keyed source
    * rows match nothing (SQL equality) and flow to the INSERT
    * clauses; NULL conditions are not-applied (SQL three-valued
    * WHERE); the target schema is FIXED — assignments and insert
    * values must name existing columns, values cast to the column's
    * type, unassigned insert columns are NULL (use [[mergeInto]] for
    * the schema-evolving upsert). Interleaved appends carry under the
    * same as-of-scan doctrine as [[deleteWhere]]: the conflict
    * surface is the source's claimed KEYS; appended rows a NOT
    * MATCHED BY SOURCE clause would have selected carry untouched
    * (the merge serializes before the append). CHECK constraints
    * validate the staged rows. Returns the new version, or `base`
    * unchanged when no clause applies anywhere.
    */
  def mergeApply(spark: SparkSession, dir: String, source: DataFrame,
      keyCols: Seq[String], clauses: Seq[MergeClause],
      baseVersion: Option[Int] = None,
      txn: Option[(String, Long)] = None,
      sourceDistinctByKey: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, struct, when}
    require(keyCols.nonEmpty, "mergeApply needs at least one key column")
    require(clauses.nonEmpty, "mergeApply needs at least one clause")
    // key columns resolve case-insensitively against the source (the
    // SQL route admits `ON t.k = s.K`); the source frame is renamed
    // to the target-cased names so the joins align
    val sourceAligned = keyCols.foldLeft(source) { (df, k) =>
      if (df.columns.contains(k)) df
      else df.columns.filter(_.equalsIgnoreCase(k)) match {
        case Array(one) => df.withColumnRenamed(one, k)
        case Array() => throw new IllegalArgumentException(
          s"key column '$k' not in source columns " +
            df.columns.mkString("[", ", ", "]"))
        case many => throw new IllegalArgumentException(
          s"key column '$k' is ambiguous in the source: " +
            many.mkString(", "))
      }
    }
    require(!sourceAligned.columns.contains("__s"),
      "mergeApply reserves '__s' for the source struct")
    val matched: Seq[MergeClause] = clauses.collect {
      case c: WhenMatchedUpdate => c
      case c: WhenMatchedDelete => c
    }
    val notMatched: Seq[WhenNotMatchedInsert] = clauses.collect {
      case c: WhenNotMatchedInsert => c
    }
    val nmbs: Seq[MergeClause] = clauses.collect {
      case c: WhenNotMatchedBySourceUpdate => c
      case c: WhenNotMatchedBySourceDelete => c
    }
    val fs = fileSystem(spark, dir)
    val base = baseVersion.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"mergeApply needs a committed target in $dir — commit a " +
          "schema (even an empty frame) first"))
    require(fs.exists(manifestPath(dir, base)),
      s"version $base not found in $dir")
    val m = readManifest(fs, dir, base)
    val schema = m.schema
    require(!schema.fieldNames.contains("__s"),
      "mergeApply reserves '__s' for the source struct")
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"key column '$k' not in table schema " +
        schema.fieldNames.mkString("[", ", ", "]")))
    def assignedCols(c: MergeClause): Iterable[String] = c match {
      case WhenMatchedUpdate(_, a) => a.keys
      case WhenNotMatchedBySourceUpdate(_, a) => a.keys
      case WhenNotMatchedInsert(_, v) => v.keys
      case _ => Nil
    }
    clauses.flatMap(assignedCols).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"merge clause assigns '$c', which is not a table column — " +
          "the general merge keeps the target schema fixed; use " +
          "mergeInto for the schema-evolving upsert"))
    val src = sourceAligned.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK)
    try {
      // NULL-keyed rows match nothing (SQL equality) and flow to the
      // INSERT clauses — they cannot create a cardinality violation.
      // Cardinality probe + stat-prune ranges in ONE grouped job
      // ([[sourceKeyRangesWithDup]]), as in [[mergeInto]]. A caller
      // whose source is one-row-per-key BY CONSTRUCTION (the CDC
      // apply's per-key compaction) declares it and skips the grouped
      // probe for the plain min/max partial agg — no shuffle at all.
      val (dupMax, fusedRanges) =
        if (sourceDistinctByKey) (0L, sourceKeyRangesOnly(src, keyCols))
        else sourceKeyRangesWithDup(src, keyCols)
      require(dupMax <= 1, s"mergeApply source has duplicate keys on " +
        s"(${keyCols.mkString(", ")}): matching one target row with " +
        "two source rows is nondeterministic (SQL MERGE cardinality " +
        "rule)")
      val srcS = src.select(keyCols.map(col) :+
        struct(src.columns.toSeq.map(col): _*).as("__s"): _*)
      val isM = col("__s").isNotNull
      def cnd(o: Option[Column]): Column =
        coalesce(o.getOrElse(lit(true)), lit(false))
      // first-true-clause-wins action index over the joined row:
      // matched clauses at i, NOT MATCHED BY SOURCE at 1000+i
      val actCol: Column = (
        matched.zipWithIndex.map { case (c, i) =>
          val cond = c match {
            case WhenMatchedUpdate(o, _) => o
            case WhenMatchedDelete(o) => o
            case other => throw new IllegalStateException(other.toString)
          }
          (isM && cnd(cond), i)
        } ++
        nmbs.zipWithIndex.map { case (c, i) =>
          val cond = c match {
            case WhenNotMatchedBySourceUpdate(o, _) => o
            case WhenNotMatchedBySourceDelete(o) => o
            case other => throw new IllegalStateException(other.toString)
          }
          (!isM && cnd(cond), 1000 + i)
        })
        .foldRight(lit(-1): Column) { case ((p, i), acc) =>
          when(p, lit(i)).otherwise(acc)
        }
      val deleteActs: Seq[Int] =
        matched.zipWithIndex.collect {
          case (_: WhenMatchedDelete, i) => i } ++
        nmbs.zipWithIndex.collect {
          case (_: WhenNotMatchedBySourceDelete, i) => 1000 + i }
      val updateActs: Seq[(Int, Map[String, Column])] =
        matched.zipWithIndex.collect {
          case (WhenMatchedUpdate(_, a), i) => (i, a) } ++
        nmbs.zipWithIndex.collect {
          case (WhenNotMatchedBySourceUpdate(_, a), i) => (1000 + i, a) }
      // group-scoped candidates (scale step 1 + 2)
      val keyRanges: Option[Seq[(String, Boolean, Long, Long)]] =
        if (matched.isEmpty && notMatched.isEmpty) None
        else fusedRanges
      val keyCand =
        if (matched.isEmpty && notMatched.isEmpty) Nil
        else keyRangeCandidates(keyRanges, m)
      val nmbsCand =
        if (nmbs.isEmpty || m.lines.isEmpty) Nil
        else {
          val conds = nmbs.map {
            case WhenNotMatchedBySourceUpdate(o, _) => o
            case WhenNotMatchedBySourceDelete(o) => o
            case other => throw new IllegalStateException(other.toString)
          }
          if (conds.exists(_.isEmpty)) m.lines
          else {
            // raw disjunction, NO coalesce wrapper: the stats prover
            // asks "can this predicate be TRUE in the file's range",
            // which already treats NULL as not-applied — a Coalesce
            // node would be opaque to it and admit every file
            val disj = conds.flatten.reduce(_ || _)
            pruneWithIndex(spark, dir, m,
              resolvedPredicate(spark, schema, disj))
          }
        }
      val candRels =
        (keyCand.filter(_ => matched.nonEmpty) ++ nmbsCand)
          .map(parseLine(_)._1).toSet
      val candidates = m.lines.filter(l =>
        candRels.contains(parseLine(l)._1))
      // 3. refine: files actually holding an applied row. A row is
      // only relevant if it CAN key-match (inside the source key box)
      // or an NMBS condition holds — when both sides are expressible,
      // that disjunction pushes into the candidate scan as a parquet
      // row-group filter (typed foldable literals), skipping row
      // groups inside files the file-level prune had to keep
      val rowPreFilter: Option[Column] = {
        val matchedSide: Option[Column] =
          if (matched.isEmpty) Some(lit(false))
          else sourceKeyBox(schema, keyRanges)
        val nmbsSide: Option[Column] =
          if (nmbs.isEmpty) Some(lit(false))
          else {
            val conds = nmbs.map {
              case WhenNotMatchedBySourceUpdate(o, _) => o
              case WhenNotMatchedBySourceDelete(o) => o
              case other =>
                throw new IllegalStateException(other.toString)
            }
            if (conds.exists(_.isEmpty)) None
            else Some(conds.flatten.reduce(_ || _))
          }
        for { a <- matchedSide; b <- nmbsSide } yield a || b
      }
      val touchedRel: Set[String] =
        if (candidates.isEmpty) Set.empty
        else {
          val scan = scanVisible(spark, dir, schema, candidates, m.dvs,
            keepMeta = true, colMap = m.colMap, dvSizes = m.dvSizes)
          rowPreFilter.fold(scan)(scan.filter)
            .join(srcS, keyCols, "left_outer")
            .filter(actCol =!= -1)
            .select("__file").distinct()
            .collect().map(_.getString(0)).toSet
        }
      val (touchedLines, untouched) =
        m.lines.partition(l => touchedRel.contains(parseLine(l)._1))
      // rewrite the touched files' visible rows under the clause
      // cascade (second deterministic scan of the same immutable
      // files — same rows, same join, same actions)
      val kept: Option[DataFrame] =
        if (touchedLines.isEmpty) None
        else {
          val j = scanVisible(spark, dir, schema, touchedLines, m.dvs,
              colMap = m.colMap, dvSizes = m.dvSizes)
            .join(srcS, keyCols, "left_outer")
          val alive =
            if (deleteActs.isEmpty) j
            else j.filter(!actCol.isin(deleteActs.map(Integer.valueOf): _*))
          Some(alive.select(schema.fieldNames.toSeq.map { c =>
            updateActs.foldRight(col(c)) { case ((i, as), acc) =>
              as.get(c) match {
                case Some(e) => when(actCol === i, e).otherwise(acc)
                case None => acc
              }
            }.cast(schema(c).dataType).as(c)
          }: _*))
        }
      // 4. inserts: source rows matching no candidate key, through
      // the first applicable NOT MATCHED clause
      val inserts: Option[DataFrame] =
        if (notMatched.isEmpty) None
        else {
          val tgtKeys =
            if (keyCand.isEmpty)
              spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
                StructType(keyCols.map(schema(_))))
            else {
              // target keys outside the source key box cannot equal
              // any source key — dropping them shrinks the anti-join
              // build side and row-group-skips inside the scan
              val keys = scanVisible(spark, dir, schema, keyCand,
                m.dvs, colMap = m.colMap, dvSizes = m.dvSizes)
                .select(keyCols.head, keyCols.tail: _*)
              sourceKeyBox(schema, keyRanges).fold(keys)(keys.filter)
            }
          val insAct = notMatched.zipWithIndex
            .map { case (c, i) => (cnd(c.condition), i) }
            .foldRight(lit(-1): Column) { case ((p, i), acc) =>
              when(p, lit(i)).otherwise(acc)
            }
          val rows = srcS.join(tgtKeys, keyCols, "left_anti")
            .withColumn("__act", insAct).filter(col("__act") =!= -1)
          Some(rows.select(schema.fieldNames.toSeq.map { c =>
            notMatched.zipWithIndex
              .foldRight(lit(null).cast(schema(c).dataType): Column) {
                case ((cl, i), acc) => cl.values.get(c) match {
                  case Some(e) => when(col("__act") === i, e)
                    .otherwise(acc)
                  case None => acc
                }
              }.cast(schema(c).dataType).as(c)
          }: _*))
        }
      // persisted: the no-op probe below and the staging write would
      // otherwise each re-run the candidate-key scan + anti join
      val insCached = inserts.map(_.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val hasInserts = insCached.exists(_.limit(1).count() > 0)
      if (touchedLines.isEmpty && !hasInserts) {
        insCached.foreach(_.unpersist())
        return base // no-op
      }
      val stagedDf = (kept, if (hasInserts) insCached else None) match {
        case (Some(k), Some(i)) => k.unionByName(i)
        case (Some(k), None) => k
        case (None, Some(i)) => i
        case (None, None) => insCached.foreach(_.unpersist()); return base
      }
      val inherited = (touchedLines.flatMap(parseStats(_)._2.map(_._1)) ++
        m.statColsPolicy).distinct
      val staged =
        try stage(spark, dir, stagedDf, inherited, m.colMap)
        finally insCached.foreach(_.unpersist())
      val (stagedBlooms, stagedBloomSizes) = stageBlooms(spark, dir,
        staged, m.bloomCfg, m.colMap)
      replaceLoop(spark, dir, staged, Some(base),
        keyCols = Some(keyCols), stagedSchema = schema,
        carried = untouched,
        keyProbe = Some(src.select(keyCols.head, keyCols.tail: _*)),
        stagedBlooms = stagedBlooms, stagedBloomSizes = stagedBloomSizes,
        op = "merge", txn = txn)
    } finally { src.unpersist(); () }
  }

  /** Absolute scan URI → the manifest-relative path (`data/c-…/part…`):
    * staging lays every data file exactly two segments under the table
    * root, so the last two path segments reconstruct the line key. */
  private def relOfUri(uri: String): String = {
    val p = new Path(uri)
    s"data/${p.getParent.getName}/${p.getName}"
  }

  /** The shared replace-retry loop. `keyCols = None` skips overlap
    * validation (compaction: staged rows == base rows by construction).
    *
    * `carried` are BASE manifest lines republished verbatim (row-level
    * DML: the files the delete/merge did not touch) — excluded from
    * CHECK validation and from the key-overlap probe, both of which
    * must stay delta-sized. `keyProbe` narrows the overlap probe to an
    * explicit key frame (a merge conflicts only with appends touching
    * its SOURCE keys, not every key it happens to carry forward).
    *
    * `restoreTo` is [[restore]]'s target state: the commit publishes
    * exactly its DV pairs and bloom pointers (any head DV unseen at the
    * base conflicts), and rolls back its CHECK constraints, bloom
    * config, stat policy and column mapping with the data. Writer
    * config (cadence, clustering, ledger retention, enforcement,
    * maintenance) carries from the head like any commit's.
    */
  private def replaceLoop(spark: SparkSession, dir: String,
      staged: Seq[String], base: Option[Int],
      keyCols: Option[Seq[String]], stagedSchema: StructType,
      validateChecks: Boolean = true,
      carried: Seq[String] = Nil,
      keyProbe: Option[DataFrame] = None,
      stagedDvs: Seq[(String, String)] = Nil,
      stagedDvSizes: Map[String, Long] = Map.empty,
      morScanned: Option[Set[String]] = None,
      stagedBlooms: Seq[(String, String, String)] = Nil,
      stagedBloomSizes: Map[String, Long] = Map.empty,
      op: String = "replace",
      colMapExtra: Seq[(String, String)] = Nil,
      txn: Option[(String, Long)] = None,
      restoreTo: Option[Manifest] = None): Int = {
    val fs = fileSystem(spark, dir)
    val baseM = base.map(readManifest(fs, dir, _))
    // staged files were written under the BASE's column mapping
    // (physical names are birth-stable, so this stays valid however
    // the head moves)
    val stagedMap = baseM.map(_.colMap).getOrElse(Nil)
    val baseFiles: Set[String] = baseM
      .map(_.lines.map(parseLine(_)._1).toSet).getOrElse(Set.empty)
    // DV pairs this writer SAW at its base: dropping one of these with
    // its file is intentional (the rewrite materialized it); dropping
    // a pair that landed after the base would resurrect deleted rows
    val baseDvs: Set[(String, String)] =
      baseM.map(_.dvs.toSet).getOrElse(Set.empty)
    val uuid = newCommitUuid()
    var attempts = 0
    var validatedFor: Option[Seq[(String, String)]] = None
    while (true) {
      val head = latestVersion(spark, dir)
      val next = head.map(_ + 1).getOrElse(0)
      val headM = head.map(readManifest(fs, dir, _))
      val headLines = headM.map(_.lines).getOrElse(Nil)
      val headFiles = headLines.map(parseLine(_)._1).toSet
      // CHECK constraints, the bloom config and the stat policy
      // survive a replace (table policy, not data) — unless the caller
      // rolls policy back with state ([[restore]])
      val policy = restoreTo.orElse(headM)
      val checks = policy.map(_.checks).getOrElse(Nil)
      if (!baseFiles.subsetOf(headFiles))
        throw new CommitConflictException(
          s"replace of $dir based on version $base conflicts with an " +
            "interleaved replace: base data files are no longer in the " +
            "head manifest — both writers claimed full-table authority")
      // manifest lines (stats included) added since base, carried verbatim
      val interleaved = headLines.filterNot(l =>
        baseFiles.contains(parseLine(l)._1))
      // a zero-file staging (an empty replace frame under AQE can write
      // no part files) trivially overlaps nothing — and reading zero
      // paths would throw, so the guard is load-bearing, not cosmetic
      if (interleaved.nonEmpty && (staged.nonEmpty || keyProbe.isDefined))
        keyCols.foreach { keys =>
        // files carry PHYSICAL names; the key probe speaks logical —
        // select through the mapping on both sides
        def keySel(lines: Seq[String], map: Seq[(String, String)]) = {
          val pm = map.toMap
          spark.read.parquet(lines.map(l =>
            s"$dir/${parseLine(l)._1}"): _*)
            .select(keys.map(k => org.apache.spark.sql.functions
              .col(s"`${pm.getOrElse(k, k)}`").as(k)): _*)
        }
        val added = keySel(interleaved,
          headM.map(_.colMap).getOrElse(Nil))
        val mine = keyProbe.map(_.select(keys.head, keys.tail: _*))
          .getOrElse(keySel(staged, stagedMap))
        if (added.join(mine, keys, "left_semi").limit(1).count() > 0)
          throw new CommitConflictException(
            s"replace of $dir based on version $base conflicts with a " +
              s"concurrent commit: rows appended since the base share " +
              s"keys (${keys.mkString(", ")}) with the staged replace")
      }
      // the new version's schema: the staged frame's, evolved by what
      // the carried interleaved files actually contain (their own
      // footers — NOT the full head schema, which may carry columns
      // that exist only in the base files this replace removes)
      val schema =
        if (interleaved.isEmpty) stagedSchema
        else {
          // interleaved footers carry PHYSICAL names — render them
          // logical (head's mapping) before the schema merge
          val rev = headM.map(_.colMap).getOrElse(Nil)
            .map(_.swap).toMap
          val footer = spark.read.option("mergeSchema", true).parquet(
            interleaved.map(l => s"$dir/${parseLine(l)._1}"): _*).schema
          evolveSchema(stagedSchema, StructType(footer.map(f =>
            f.copy(name = rev.getOrElse(f.name, f.name)))))
        }
      if (validateChecks && !validatedFor.contains(checks)) {
        enforceChecks(spark, dir, staged, checks, schema, stagedMap)
        validatedFor = Some(checks)
      }
      val newLines = interleaved ++ carried ++ staged
      val newRels = newLines.map(parseLine(_)._1).toSet
      val headDvs = headM.map(_.dvs).getOrElse(Nil)
      // a head DV unseen at the base is an interleaved merge-on-read
      // delete racing this commit. On a file this commit REMOVES,
      // publishing would silently resurrect the deleted rows in the
      // rewritten copies — a lost update, so a conflict (same class
      // as the key overlap above). A pair the base already carried is
      // fine: the rewrite scan applied it (materialization, not
      // loss). Under a restore (the published DV set is exactly the
      // restored version's) ANY unseen pair conflicts —
      // the restore must re-derive knowing about the delete it would
      // otherwise override.
      val lostDeletes = headDvs.filter { case pair @ (baseRel, _) =>
        !baseDvs.contains(pair) && (restoreTo.isDefined ||
          (headFiles.contains(baseRel) && !newRels.contains(baseRel)))
      }
      if (lostDeletes.nonEmpty)
        throw new CommitConflictException(
          s"replace of $dir based on version $base conflicts with an " +
            "interleaved row-level delete: deletion vectors landed on " +
            s"${lostDeletes.map(_._1).distinct.size} file(s) this " +
            "commit would republish from an older base — publishing " +
            "would resurrect the deleted rows; re-derive from the " +
            "new head")
      // a merge-on-read DELETE composes with interleaved appends and
      // with other MoR deletes (position-delete sets union; deletes
      // commute) — but NOT with an interleaved MoR UPDATE that
      // re-homed rows this delete scanned: the update's staged copies
      // of rows this delete also matched would survive its
      // position-only DVs (no serial order produces that). Attribute
      // per interleaved commit: one that added data lines AND DV
      // pairs on files this delete scanned is such an update.
      morScanned.foreach { scanned =>
        for (v <- base.get + 1 to head.getOrElse(base.get)) {
          val cur = readManifest(fs, dir, v)
          val prev = readManifest(fs, dir, v - 1)
          val addedLines = cur.lines.map(parseLine(_)._1).toSet --
            prev.lines.map(parseLine(_)._1)
          val addedDvs = cur.dvs.toSet -- prev.dvs
          if (addedLines.nonEmpty &&
              addedDvs.exists(d => scanned.contains(d._1)))
            throw new CommitConflictException(
              s"merge-on-read delete of $dir based on version " +
                s"${base.get} conflicts with an interleaved " +
                s"merge-on-read update (commit $v): it re-homed rows " +
                "this delete scanned; re-derive from the new head")
        }
      }
      // DVs survive on every file that survives (carried or
      // interleaved), plus the caller's fresh pairs; a restore
      // publishes exactly its target's set
      val newDvs = restoreTo.map(_.dvs).getOrElse(
        headDvs.filter(d => newRels.contains(d._1)) ++ stagedDvs)
      // bloom pointers follow their data files: filters survive on
      // every file that survives, rewritten/dropped files lose theirs
      // (the caller staged fresh ones when it re-measured); a restore
      // publishes exactly its target's set
      val newBlooms = restoreTo.map(_.blooms).getOrElse(
        headM.map(_.blooms).getOrElse(Nil)
          .filter(b => newRels.contains(b._1)) ++ stagedBlooms)
      // id-mode mints this commit's staged files carry (mergeInto's
      // evolved columns): a racing commit that introduced the same
      // column under its own physical invalidates the staged bytes —
      // conflict, re-derive (the merge path re-stages from scratch
      // anyway; a silent merge would null one writer's column)
      val headMap = headM.map(_.colMap.toMap).getOrElse(Map.empty)
      val headSchemaCols = headM.map(_.schema.fieldNames.toSet)
        .getOrElse(Set.empty)
      val mintDrift = colMapExtra.exists { case (n, p) =>
        headMap.get(n).exists(_ != p) ||
          (headSchemaCols.contains(n) && !headMap.contains(n) && n != p)
      }
      if (mintDrift)
        throw new CommitConflictException(
          s"commit to $dir conflicts with a concurrent schema " +
            "evolution: a column this commit minted a physical name " +
            "for was introduced by another writer under a different " +
            "one — re-derive from the new head")
      val pubColMap = restoreTo.map(_.colMap).getOrElse(
        headM.map(_.colMap).getOrElse(Nil) ++
          colMapExtra.filterNot(e => headMap.contains(e._1)))
      val pubColDrops = policy.map(_.colDrops).getOrElse(Nil)
      guardColMap(schema, pubColMap, pubColDrops)
      val prior = headM.getOrElse(Manifest(schema))
      if (publishResolved(fs, dir, next, uuid)(
          casPublish(fs, dir, next, prior.copy(schema = schema,
            lines = newLines, txn = txn, checks = checks, dvs = newDvs,
            blooms = newBlooms, op = Some(op),
            bloomCfg = policy.map(_.bloomCfg).getOrElse(Nil),
            statColsPolicy = policy.map(_.statColsPolicy).getOrElse(Nil)
              .filter(schema.fieldNames.contains),
            commitUuid = Some(uuid), colMap = pubColMap,
            colDrops = pubColDrops,
            dvSizes = prior.dvSizes ++ stagedDvSizes ++
              restoreTo.map(_.dvSizes).getOrElse(Map.empty),
            bloomSizes = prior.bloomSizes ++ stagedBloomSizes ++
              restoreTo.map(_.bloomSizes).getOrElse(Map.empty)),
            headM)))
        return next
      attempts += 1
      require(attempts < 1000,
        s"replace of $dir still losing the version race after " +
          s"$attempts attempts")
    }
    -1 // unreachable
  }

  /** Manifest line → (relative path, first recorded stats group) —
    * the single-column view most callers need. */
  private def parseLine(line: String): (String, Option[(String, Long, Long)]) = {
    val (rel, stats) = parseStats(line)
    (rel, stats.headOption)
  }

  /** Manifest line → (relative path, ALL recorded (col, min, max)
    * stats groups — `rel\tc1\tmn\tmx\tc2\tmn\tmx…`; a pre-multi-stats
    * line parses as zero or one group unchanged). Annotation tokens
    * are dropped — the (col, min, max) view most callers need. */
  private def parseStats(line: String): (String, Seq[(String, Long, Long)]) = {
    val (rel, groups) = parseStatsFull(line)
    (rel, groups.map(g => (g.col, g.min, g.max)))
  }

  /** One per-file per-column stats group: `[min, max]` over the
    * column's non-NULL values (inverted sentinel when there are none)
    * plus, on round-11+ lines, the column's NULL COUNT (`nulls` is
    * None on lines written before the annotation existed — "unknown",
    * which every consumer must treat conservatively) and, on the
    * line's first group, the FILE's row count (`rows`, same None
    * convention).
    */
  private[graft] final case class StatGroup(col: String, min: Long,
      max: Long, nulls: Option[Long], rows: Option[Long] = None,
      micros: Boolean = false, str: Option[StrBounds] = None)

  /** STRING bounds of a file's column — Delta's truncated string
    * stats, on this manifest substrate. `min` is a PREFIX of the
    * actual minimum (a prefix sorts at-or-before the full string in
    * UTF-8 binary order, so it is a sound lower bound even
    * truncated); `max` is the actual maximum when it fits, else the
    * truncated prefix with its last code point INCREMENTED (strictly
    * greater than everything sharing the prefix — a sound upper
    * bound), or None when no finite truncated bound exists (a prefix
    * of U+10FFFFs). `empty` marks a file with NO non-null values
    * (the string twin of the inverted numeric sentinel): no
    * comparison can match, every pruned read skips it. The exactness
    * flags are what the ∀-prover keys on: a TRUNCATED bound can
    * prune (∃) but never prove an all-rows match (∀).
    */
  private[graft] final case class StrBounds(empty: Boolean,
      min: String, minTrunc: Boolean,
      max: Option[String], maxTrunc: Boolean)

  /** Full parse of a manifest data line: `rel` followed by stats
    * groups of three tokens (`col \t min \t max`), each optionally
    * followed by ANNOTATION tokens (leading `~`, e.g. `~n3` = three
    * NULL rows in this file's column). Annotations extend the stats
    * vocabulary without breaking older parsers — a triple-only line
    * and a triple+annotation line both parse here, and the legacy
    * [[parseStats]] view simply drops the annotations. Column names
    * never start with `~` (Spark would reject them long before a
    * commit), so the token classes cannot collide.
    */
  private[graft] def parseStatsFull(line: String): (String, Seq[StatGroup]) = {
    val parts = line.split('\t')
    val buf = scala.collection.mutable.ArrayBuffer.empty[StatGroup]
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    var i = 1
    while (i < parts.length) {
      // STRING group: `col \t ~s… [\t ~S…]` then annotations. Bound
      // tokens: `~s0` = no non-null values (sentinel); `~s=<enc>` /
      // `~s~<enc>` = exact / truncated lower bound; `~S=<enc>` /
      // `~S~<enc>` = exact / truncated-incremented upper bound (an
      // absent ~S after a valued ~s = no finite upper bound).
      if (!parts(i).startsWith("~") && i + 1 < parts.length &&
          parts(i + 1).startsWith("~s")) {
        val c = parts(i)
        val sTok = parts(i + 1)
        i += 2
        val sb =
          if (sTok == "~s0") StrBounds(empty = true, "", minTrunc = false,
            None, maxTrunc = false)
          else {
            val minTrunc = sTok.startsWith("~s~")
            val mn = dec(sTok.drop(3))
            val (mx, mxTrunc) =
              if (i < parts.length && parts(i).startsWith("~S")) {
                val t = parts(i); i += 1
                (Some(dec(t.drop(3))), t.startsWith("~S~"))
              } else (None, false)
            StrBounds(empty = false, mn, minTrunc, mx, mxTrunc)
          }
        var nulls: Option[Long] = None
        var rows: Option[Long] = None
        while (i < parts.length && parts(i).startsWith("~")) {
          if (parts(i).startsWith("~n")) nulls = Some(parts(i).drop(2).toLong)
          else if (parts(i).startsWith("~r"))
            rows = Some(parts(i).drop(2).toLong)
          i += 1
        }
        // the numeric fields carry the inverted sentinel so no
        // numeric consumer can mistake a string group for a range it
        // understands; string probes additionally gate on `str`
        buf += StatGroup(c, Long.MaxValue, Long.MinValue, nulls, rows,
          micros = false, str = Some(sb))
      } else if (!parts(i).startsWith("~") && i + 3 <= parts.length) {
        val (c, mn, mx) = (parts(i), parts(i + 1).toLong, parts(i + 2).toLong)
        i += 3
        var nulls: Option[Long] = None
        var rows: Option[Long] = None
        var micros = false
        while (i < parts.length && parts(i).startsWith("~")) {
          if (parts(i).startsWith("~n")) nulls = Some(parts(i).drop(2).toLong)
          else if (parts(i).startsWith("~r"))
            rows = Some(parts(i).drop(2).toLong)
          else if (parts(i) == "~u") micros = true // timestamp-μs range
          // unknown annotations skip forward-compatibly — the right
          // rule for ADDITIVE stats metadata only; anything
          // semantics-bearing must ride the `#minreader`/`#feature`
          // gate instead, which refuses unknown names loudly
          i += 1
        }
        buf += StatGroup(c, mn, mx, nulls, rows, micros)
      } else i += 1 // stray/unattached token: never fail a manifest parse
    }
    (parts(0), buf.toSeq)
  }

  // ------------------------------------------------------- reader pins

  /** A declared in-flight read: [[expire]] will not drop `version` (or
    * anything newer) until [[unpin]] releases it.
    */
  final case class ReadPin(id: String, version: Int)

  private def pinsDir(dir: String): Path = new Path(dir, "_manifest/pins")

  /** Declare an in-flight read of `version` (default: head). Until the
    * returned pin is [[unpin]]ned, [[expire]] keeps this version and
    * everything newer — manifests AND data files — so a long-running
    * reader (a training job streaming a snapshot for hours) never has
    * its files collected mid-read by a concurrent retention run. The
    * create+verify runs under the table lock, closing the race where
    * an expire lists pins between this reader choosing a version and
    * declaring it.
    */
  def pin(spark: SparkSession, dir: String,
      version: Option[Int] = None): ReadPin = {
    val fs = fileSystem(spark, dir)
    lockFor(dir).synchronized {
      val v = version.orElse(latestVersion(spark, dir)).getOrElse(
        throw new IllegalArgumentException(s"no committed version in $dir"))
      require(fs.exists(manifestPath(dir, v)),
        s"cannot pin version $v of $dir: not found (already expired?)")
      val id = java.util.UUID.randomUUID().toString
      fs.mkdirs(pinsDir(dir))
      val out = fs.create(new Path(pinsDir(dir), s"$id.pin"), false)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      ReadPin(id, v)
    }
  }

  /** Release a [[pin]]. Idempotent. */
  def unpin(spark: SparkSession, dir: String, p: ReadPin): Unit = {
    unpin(spark, dir, p.id)
    ()
  }

  /** Release a pin by id (the SQL `CALL graft.system.unpin` route —
    * a pure-SQL consumer holds only the id string). Returns whether
    * a pin file was actually removed; idempotent either way. */
  def unpin(spark: SparkSession, dir: String, id: String): Boolean = {
    // ids are UUIDs by construction; refuse anything path-shaped so a
    // crafted id can never escape the pins directory
    require(id.matches("[0-9a-zA-Z-]+"), s"malformed pin id '$id'")
    val fs = fileSystem(spark, dir)
    fs.delete(new Path(pinsDir(dir), s"$id.pin"), false)
  }

  /** Bracketed pinned read: pin the head (or `version`), hand `f` the
    * snapshot DataFrame, and ALWAYS release the pin — including on
    * failure, so a crashed reader never leaks a retention floor (the
    * leak mode of every pin API; a leaked pin file would silently stop
    * `expire` from ever collecting). The pin must outlive every ACTION
    * on the frame, which is why this is a bracket and not a pair of
    * calls the caller has to sequence correctly.
    */
  def withPinnedRead[A](spark: SparkSession, dir: String,
      version: Option[Int] = None)(f: DataFrame => A): A = {
    val p = pin(spark, dir, version)
    try f(read(spark, dir, Some(p.version)))
    finally unpin(spark, dir, p)
  }

  // ------------------------------------------------------- named tags

  private def tagsDir(dir: String): Path = new Path(dir, "_manifest/tags")

  /** Tag names are path-safe and must not read as a bare version
    * number — `VERSION AS OF '3'` has to stay the INTEGER time
    * travel it always was. */
  private def validTagName(name: String): Unit = {
    require(name.matches("[A-Za-z0-9._-]{1,255}"),
      s"malformed tag name '$name': letters, digits, '.', '_', '-' " +
        "only (max 255)")
    require(name.toIntOption.isEmpty,
      s"tag name '$name' reads as a version number — VERSION AS OF " +
        "would be ambiguous; pick a non-numeric name")
  }

  /** Durable NAMED REF: `tag('release-v3')` makes the version
    * time-travel-addressable by name (`VERSION AS OF 'release-v3'`,
    * [[changesBetween]] by ref) and holds a retention floor — the
    * reproducible-training-snapshot idiom: an export manifest names a
    * tag instead of a bare number, and [[expire]] keeps the tagged
    * version (and, on this prefix-retention substrate, everything
    * newer — the same floor semantics as [[pin]], durable instead of
    * bracketed). Tags survive restarts (a file under
    * `_manifest/tags/`, like pins), show in [[history]], and stay
    * meaningful across [[restore]]: the tag keeps naming the version
    * it was minted at, not the restored copy. Re-tagging an existing
    * name refuses — [[untag]] first (a silently moved release tag is
    * the reproducibility bug tags exist to prevent). Returns the
    * tagged version.
    */
  def tag(spark: SparkSession, dir: String, name: String,
      version: Option[Int] = None): Int = {
    validTagName(name)
    val fs = fileSystem(spark, dir)
    lockFor(dir).synchronized {
      val v = version.orElse(latestVersion(spark, dir)).getOrElse(
        throw new IllegalArgumentException(s"no committed version in $dir"))
      require(fs.exists(manifestPath(dir, v)),
        s"cannot tag version $v of $dir: not found (already expired?)")
      val target = new Path(tagsDir(dir), s"$name.tag")
      require(!fs.exists(target),
        s"tag '$name' already exists in $dir (-> version " +
          s"${tagVersion(spark, dir, name).getOrElse(-1)}): untag " +
          "first — a silently moved tag breaks every consumer that " +
          "recorded it")
      fs.mkdirs(tagsDir(dir))
      val out = fs.create(target, false)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      v
    }
  }

  /** Drop a named tag. Idempotent; returns whether one existed. */
  def untag(spark: SparkSession, dir: String, name: String): Boolean = {
    validTagName(name)
    val fs = fileSystem(spark, dir)
    fs.delete(new Path(tagsDir(dir), s"$name.tag"), false)
  }

  /** The version a tag names, or None. */
  def tagVersion(spark: SparkSession, dir: String,
      name: String): Option[Int] = {
    validTagName(name)
    val fs = fileSystem(spark, dir)
    val p = new Path(tagsDir(dir), s"$name.tag")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toInt)
      finally in.close()
    }
  }

  /** Every declared tag: (tag, version), as a DataFrame for the SQL
    * surface. */
  def tags(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tagMap(fileSystem(spark, dir), dir).toSeq.sortBy(_._1)
      .toDF("tag", "version")
  }

  private def tagMap(fs: FileSystem, dir: String): Map[String, Int] = {
    val td = tagsDir(dir)
    if (!fs.exists(td)) Map.empty
    else fs.listStatus(td).filter(f =>
        f.isFile && f.getPath.getName.endsWith(".tag"))
      .map { f =>
        val in = fs.open(f.getPath)
        val v =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            .trim.toInt
          finally in.close()
        f.getPath.getName.stripSuffix(".tag") -> v
      }.toMap
  }

  /** `ref` as a version: a bare integer verbatim, anything else a
    * tag name — the resolution behind `VERSION AS OF '<ref>'` and
    * the by-ref [[changesBetween]]. */
  def resolveRef(spark: SparkSession, dir: String, ref: String): Int =
    ref.toIntOption.getOrElse(
      tagVersion(spark, dir, ref).getOrElse(
        throw new IllegalArgumentException(
          s"no tag '$ref' in $dir — declared tags: " +
            tagMap(fileSystem(spark, dir), dir).keys.toSeq.sorted
              .mkString(", "))))

  /** [[changesBetween]] addressed by REFS (versions or tag names):
    * `changesBetween(dir, "release-v2", "release-v3", keys)` feeds
    * exactly the rows between two named snapshots. */
  def changesBetween(spark: SparkSession, dir: String,
      fromRef: String, toRef: String,
      keyCols: Seq[String]): DataFrame =
    changesBetween(spark, dir, resolveRef(spark, dir, fromRef),
      resolveRef(spark, dir, toRef), keyCols)

  /** Oldest tagged version, or None — [[expire]]'s durable floor. */
  private def minTaggedVersion(fs: FileSystem, dir: String): Option[Int] = {
    val vs = tagMap(fs, dir).values
    if (vs.isEmpty) None else Some(vs.min)
  }

  /** Oldest pinned version, or None when no reader is declared. */
  private def minPinnedVersion(fs: FileSystem, dir: String): Option[Int] = {
    val pd = pinsDir(dir)
    if (!fs.exists(pd)) None
    else {
      val vs = fs.listStatus(pd).filter(f =>
          f.isFile && f.getPath.getName.endsWith(".pin"))
        .map { f =>
          val in = fs.open(f.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
          finally in.close()
        }
      if (vs.isEmpty) None else Some(vs.min)
    }
  }

  /** Retention: keep the newest `keepLast` versions, drop older
    * manifests, then delete data files no surviving manifest references
    * — in that order, so a crash mid-expire leaves dangling FILES
    * (harmless, re-collectable) never dangling MANIFESTS (a readable
    * version with missing data). Versions at or above the oldest
    * [[pin]] are never dropped, whatever `keepLast` says — an
    * in-flight reader outranks retention. Returns (versions dropped,
    * data files deleted).
    */
  /** TIME-BASED retention — the VACUUM-style horizon: keep every
    * version committed within the last `olderThanMs` milliseconds
    * (by recorded `#ts` instant), drop the rest; the head always
    * survives whatever the horizon says. Resolves the horizon to a
    * version count through [[versionAtOrAfterInstant]] and
    * delegates to the count-based [[expire]], so pins, the
    * chain-integrity sidecars, and the drop-then-collect ordering
    * are identical. Returns (versions dropped, files deleted). */
  def expireOlderThan(spark: SparkSession, dir: String,
      olderThanMs: Long,
      orphanGraceMs: Long = 3600000L): (Int, Int) = {
    require(olderThanMs > 0,
      s"olderThanMs must be a positive horizon: $olderThanMs")
    latestVersion(spark, dir) match {
      case None => (0, 0)
      case Some(latest) =>
        val cutoff = System.currentTimeMillis() - olderThanMs
        val keepFrom =
          versionAtOrAfterInstant(spark, dir, cutoff)
            .getOrElse(latest) // every retained instant is older:
                               // keep the head alone
        // the cut travels as an absolute version floor, not a
        // keep-count: a commit racing between this resolution and
        // expire's own head read would shift a count-based cut and
        // drop a version whose instant is INSIDE the horizon
        expire(spark, dir, keepLast = 1,
          orphanGraceMs = orphanGraceMs, cutAtMost = Some(keepFrom))
    }
  }

  def expire(spark: SparkSession, dir: String, keepLast: Int,
      orphanGraceMs: Long = 3600000L,
      cutAtMost: Option[Int] = None): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val fs = fileSystem(spark, dir)
    latestVersion(spark, dir) match {
      case None => (0, 0)
      case Some(latest) =>
        // cut selection + manifest drop run under the table lock, so a
        // concurrent pin() either lands before (raising the cut) or
        // after (failing loudly on the already-dropped manifest) —
        // never silently pinning a version mid-deletion
        val (nDropped, droppedRefs, live) = lockFor(dir).synchronized {
          // cutAtMost is [[expireOlderThan]]'s absolute version
          // floor: only versions BELOW it may drop, whatever the
          // count says — race-proof against commits landing between
          // the horizon resolution and this head read
          // tagged versions are DURABLE retention floors: a named
          // release snapshot outranks the count/horizon exactly as an
          // in-flight pinned read does
          val cut = math.min(math.min(math.min(latest - keepLast + 1,
            cutAtMost.getOrElse(Int.MaxValue)),
            minPinnedVersion(fs, dir).getOrElse(Int.MaxValue)),
            minTaggedVersion(fs, dir).getOrElse(Int.MaxValue))
          // ONE listing names every retained version — a per-version
          // exists() probe over (0 until cut) would pay O(versions
          // EVER COMMITTED) round trips per retention run on a
          // long-lived table, when only O(retained) manifests exist
          val retained: Seq[Int] = {
            val mdir = new Path(dir, "_manifest")
            fs.listStatus(mdir).map(_.getPath.getName)
              .flatMap(manifestVersionOf).sorted.toSeq
          }
          // DELTA-CHAIN INTEGRITY: every kept version must stay
          // reconstructible after the drop. If the oldest kept
          // version's manifest is a delta record, its chain reaches
          // below the cut — so its full snapshot is first written as
          // a checkpoint SIDECAR (the committed manifest itself stays
          // immutable), and only then do the older manifests drop.
          // Crash-ordered like the rest of expire: a crash between
          // sidecar write and drop leaves extra old manifests
          // (harmless, re-collectable), never a kept version whose
          // chain dangles.
          retained.find(_ >= math.min(cut, latest))
            .foreach { oldestKept =>
              if (readRaw(fs, dir, oldestKept).base.isDefined) {
                writeCheckpointSidecar(fs, dir, oldestKept)
                // the sidecar install is best-effort elsewhere
                // (advisory artifact), but HERE the manifests its
                // chain folds over are about to drop — verify the
                // sidecar actually landed and validates (exists,
                // #eof trailer, snapshot shape) before deleting the
                // chain it replaces; a swallowed failed rename would
                // otherwise leave the oldest kept version dangling
                if (!parseSidecar(fs, dir, oldestKept)
                    .exists(_.base.isEmpty))
                  throw new java.io.IOException(
                    s"expire of $dir: checkpoint sidecar for oldest " +
                      s"kept version $oldestKept failed to install — " +
                      "aborting before dropping the delta chain it " +
                      "depends on")
              }
            }
          // GUARD: drop ONLY the dense prefix below `cut` — never a
          // mid-chain version. [[latestVersion]]'s head-pointer probe
          // walk DEPENDS on versions being dense above any committed
          // one; a refactor that drops a non-prefix set would leave
          // holes the probe can only best-effort detect (its
          // geometric tripwire), silently staling reads beyond it.
          val dropped = retained.filter(_ < cut)
          // referenced files = data lines AND sidecars (deletion
          // vectors, bloom filters): a collected live DV would
          // resurrect rows, a collected bloom would break point-lookup
          // pruning; retained dead ones would leak disk. ASCENDING
          // INCREMENTAL reconstruction (the history() pattern): a
          // delta whose base is the version just folded applies in
          // place — ONE raw read per retained version, where a
          // readManifest per version would walk its whole chain
          // (O(versions × checkpoint interval) reads per retention
          // run on a long-lived table).
          val droppedSet = dropped.toSet
          var refs = Set.empty[String]
          var keep = Set.empty[String]
          var prevState: Option[(Int, Manifest)] = None
          retained.foreach { v =>
            val node = readRaw(fs, dir, v)
            val m = node.base match {
              case Some((pv, depth)) if prevState.exists(_._1 == pv) =>
                applyDelta(prevState.get._2, node).copy(chainDepth = depth)
              case Some(_) => readManifest(fs, dir, v)
              case None => node.m
            }
            prevState = Some((v, m))
            val fileRefs = m.lines.map(parseLine(_)._1) ++
              m.dvs.map(_._2) ++ m.blooms.map(_._3)
            if (droppedSet.contains(v)) refs ++= fileRefs
            else keep ++= fileRefs
          }
          dropped.foreach { v =>
            fs.delete(manifestPath(dir, v), false)
            // a dropped version's checkpoint sidecar goes with it
            fs.delete(ckptPath(dir, v), false)
          }
          (dropped.size, refs, keep)
        }
        val dataRoot = new Path(dir, "data")
        var deleted = 0
        val now = System.currentTimeMillis()
        if (fs.exists(dataRoot)) {
          fs.listStatus(dataRoot).filter(_.isDirectory).foreach { cdir =>
            fs.listStatus(cdir.getPath).filter(f => f.isFile &&
                f.getPath.getName.endsWith(".parquet")).foreach { f =>
              val rel = s"data/${cdir.getPath.getName}/${f.getPath.getName}"
              // two collectable classes: (a) referenced only by a
              // manifest just dropped — safe immediately; (b) referenced
              // by NO manifest at all — possibly a concurrent writer's
              // in-flight staging (files land before its CAS publish),
              // so only collect past a grace age (Iceberg's
              // orphan-file rule, shrunk to this engine's clock)
              val collectable = !live.contains(rel) &&
                (droppedRefs.contains(rel) ||
                  now - f.getModificationTime > orphanGraceMs)
              if (collectable) {
                fs.delete(f.getPath, false); deleted += 1
              }
            }
            // commit dir fully collected -> remove the (now fileless) dir
            if (fs.listStatus(cdir.getPath)
                .forall(s => !s.getPath.getName.endsWith(".parquet")))
              fs.delete(cdir.getPath, true)
          }
        }
        (nDropped, deleted)
    }
  }

  /** Right-to-be-forgotten purge: publish a new version without the
    * rows matching `predicate`, then [[expire]] history down to
    * `keepVersions` so purged bytes actually leave disk (time travel
    * would otherwise keep serving them — a purge that forgets to
    * expire is a compliance bug, which is why this couples the two).
    * With `keepVersions = 1` the purged data is physically gone when
    * this returns; larger values trade a grace window for compliance
    * latency. Returns (new version, data files physically deleted).
    *
    * Scale shape: the rewrite is one filtered scan; at 100 TB the
    * refinement is file-level pruning — rewrite only files whose
    * min/max stats admit matching rows, carry the rest by reference
    * into the new manifest (the same manifest mechanics; the write
    * path then touches O(affected files)).
    *
    * Concurrency: the purge publishes as a plain full-state replace,
    * so a commit that lands between its read and its publish throws
    * [[CommitConflictException]] — the right behavior for a compliance
    * rewrite (it must re-derive from the new head so the purge
    * predicate also covers the rows the interleaved commit added);
    * callers retry the whole purge on conflict.
    */
  def purge(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      keepVersions: Int = 1): (Int, Int) = {
    // null-safe: a predicate that evaluates to NULL (e.g. `col ===
    // "x"` on a null field) must KEEP the row — `filter(!predicate)`
    // alone would silently drop it (three-valued logic), deleting data
    // the caller never asked to purge
    val kept = read(spark, dir)
      .filter(!org.apache.spark.sql.functions.coalesce(predicate,
        org.apache.spark.sql.functions.lit(false)))
    val v = commit(spark, dir, kept, replace = true)
    val (_, deleted) = expire(spark, dir, keepVersions)
    (v, deleted)
  }

  // ---------------------------------------------- merge-on-read scans

  private[lake] val DvSchema = StructType(Seq(
    StructField("file", types.StringType, nullable = false),
    StructField("pos", types.LongType, nullable = false)))

  // the manifest-relative path reconstructed from a scan's
  // `_metadata.file_path` URI — DV writers and DV-applying reads both
  // derive the join key with this one pattern, so it stays consistent
  // however the filesystem renders the URI prefix
  private val RelPattern = "(data/[^/]+/[^/]+)$"

  /** A parquet scan over manifest-listed data files with ZERO
    * filesystem listing (optimization round 18, guide §6): the
    * manifest IS the listing — every line carries its file's byte
    * size (`~b`, recorded free at stage time) — yet `spark.read
    * .parquet(files: _*)` re-listed every path per query (an O(files)
    * RPC storm on object stores; past 32 paths Spark even launches a
    * listing JOB for it — the "Listing leaf files" jobs in the
    * round-18 profiles). This is the one structural argument table
    * formats make against directory tables, so the engine must not
    * plan like a directory table: build the `FileIndex` directly from
    * the manifest (Delta's TahoeFileIndex shape) and hand Spark the
    * same HadoopFsRelation a listing would have produced — pushdown,
    * column pruning, `_metadata` columns and AQE all unaffected.
    * Lines that predate size tracking fall back to one driver
    * `getFileStatus` each (exactly what the listing did, minus the
    * job). Recorded mod-time is 0 (the manifest does not track it):
    * `_metadata.file_modification_time` is not part of any engine
    * surface — [[scanVisible]] projects only file_path/row_index.
    */
  private def manifestScan(spark: SparkSession, dir: String,
      schema: StructType, relsWithSize: Seq[(String, Option[Long])])
      : DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val fs = fileSystem(spark, dir)
    val statuses = relsWithSize.map { case (rel, sz) =>
      val p = fs.makeQualified(new Path(dir, rel))
      sz match {
        case Some(len) =>
          new org.apache.hadoop.fs.FileStatus(len, false, 1,
            128L << 20, 0L, p)
        case None => fs.getFileStatus(p)
      }
    }.toArray
    val root = fs.makeQualified(new Path(dir))
    // a NAMED class (not anonymous) so the physical plan's scan node
    // prints `Location: GraftManifestIndex [...]` — the auditable
    // signal that a read planned from the manifest, not a listing
    final class GraftManifestIndex extends FileIndex {
      override def rootPaths: Seq[Path] = Seq(root)
      override def listFiles(partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
        Seq(PartitionDirectory(InternalRow.empty, statuses))
      override def inputFiles: Array[String] =
        statuses.map(_.getPath.toString)
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = statuses.map(_.getLen).sum
      override def partitionSchema: StructType = StructType(Nil)
    }
    val index = new GraftManifestIndex
    // Nullable-read matches `spark.read.schema(...)` exactly: file
    // sources are always nullable-read (a required Catalyst field
    // over an optional parquet column would silently zero-fill NULLs).
    // StructType.asNullable is private[spark]; the recursion below is
    // its definition.
    def asNullable(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: types.ArrayType =>
        a.copy(elementType = asNullable(a.elementType),
          containsNull = true)
      case m: types.MapType =>
        m.copy(valueType = asNullable(m.valueType),
          valueContainsNull = true)
      case other => other
    }
    val relation = HadoopFsRelation(index, StructType(Nil),
      asNullable(schema).asInstanceOf[StructType], None,
      new ParquetFileFormat(), Map.empty[String, String])(spark)
    ColumnBridge.ofRows(spark,
      LogicalRelation(relation, isStreaming = false))
  }

  /** [[manifestScan]] keyed by full manifest LINES (rel + `~b` size
    * annotation). */
  private def manifestScanLines(spark: SparkSession, dir: String,
      schema: StructType, lines: Seq[String]): DataFrame =
    manifestScan(spark, dir, schema,
      lines.map(l => parseLine(l)._1 -> lineSizeOf(l)))

  /** Listing-free scan of DV position sidecars: [[manifestScan]] over
    * the sidecar rels with their `#dv`-recorded `~b` sizes (round 19).
    * A rel missing from `sizes` (pre-size manifest) statuses its one
    * file on the driver — exactly what the old listing did, minus the
    * listing job and the InMemoryFileIndex. */
  private def dvScan(spark: SparkSession, dir: String,
      dvRels: Seq[String], sizes: Map[String, Long]): DataFrame =
    manifestScan(spark, dir, DvSchema,
      dvRels.distinct.map(r => r -> sizes.get(r)))

  /** Visible rows of the data files in `lines` under deletion vectors
    * `dvs`: files carrying no DV scan untouched; DV'd files anti-join
    * their recorded (file, pos) pairs on parquet's stable
    * `_metadata.row_index` — the merge-on-read half of row-level
    * DELETE. Scale shape: the DV side is O(deleted rows in the scanned
    * files) and AQE broadcasts it when small; the base files are never
    * rewritten and never shuffle (streamed side of the hash anti
    * join). `keepMeta` retains the join columns (`__file` =
    * manifest-relative path, `__pos` = in-file row index) for the DML
    * refine scans and the change feed.
    */
  private def scanVisible(spark: SparkSession, dir: String,
      schema: StructType, lines: Seq[String], dvs: Seq[(String, String)],
      keepMeta: Boolean = false,
      colMap: Seq[(String, String)] = Nil,
      dvSizes: Map[String, Long] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, regexp_extract}
    val rels = lines.map(parseLine(_)._1)
    val relSet = rels.toSet
    val live = dvs.filter(d => relSet.contains(d._1))
    val dvdRels = live.map(_._1).toSet
    // the manifest line's recorded byte size feeds the listing-free
    // scan ([[manifestScan]]); a pre-size-tracking line statuses its
    // one file on the driver
    val sizeOf: Map[String, Option[Long]] =
      lines.map(l => parseLine(l)._1 -> lineSizeOf(l)).toMap
    def scan(paths: Seq[String], withMeta: Boolean) = {
      // column mapping: request the PHYSICAL schema from parquet (a
      // renamed column's files carry its birth name) and alias back
      // to the logical names IN the scan's own projection (_metadata
      // is only reachable there); the identity case keeps today's
      // plan shape exactly (no extra Project)
      if (colMap.isEmpty) {
        val df = manifestScan(spark, dir, schema,
          paths.map(r => r -> sizeOf.getOrElse(r, None)))
        if (!withMeta) df
        else df.select(col("*"),
          regexp_extract(col("_metadata.file_path"), RelPattern, 1)
            .as("__file"),
          col("_metadata.row_index").as("__pos"))
      } else {
        val p = colMap.toMap
        val phys = StructType(schema.map(f =>
          f.copy(name = p.getOrElse(f.name, f.name))))
        val raw = manifestScan(spark, dir, phys,
          paths.map(r => r -> sizeOf.getOrElse(r, None)))
        val dataCols = schema.map(f =>
          col(s"`${p.getOrElse(f.name, f.name)}`").as(f.name))
        if (!withMeta) raw.select(dataCols: _*)
        else raw.select(dataCols ++ Seq(
          regexp_extract(col("_metadata.file_path"), RelPattern, 1)
            .as("__file"),
          col("_metadata.row_index").as("__pos")): _*)
      }
    }
    val plain = rels.filterNot(dvdRels)
    val parts = Seq(
      if (plain.nonEmpty) Some(scan(plain, keepMeta)) else None,
      if (dvdRels.nonEmpty) {
        // the DV sidecar read plans listing-free too (round 19 — the
        // last InMemoryFileIndex on the engine's read path): recorded
        // `~b` sizes from the `#dv` lines; a pre-size pair statuses
        // its one sidecar on the driver, never a listing job
        val dv = dvScan(spark, dir, live.map(_._2), dvSizes)
        val base = scan(dvdRels.toSeq.sorted, withMeta = true)
        val alive = base.join(dv,
          base("__file") === dv("file") && base("__pos") === dv("pos"),
          "left_anti")
        Some(if (keepMeta) alive else alive.drop("__file", "__pos"))
      } else None).flatten
    parts.reduceOption(_.unionByName(_)).getOrElse {
      val base = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
      if (!keepMeta) base
      else base.select(col("*"),
        lit("").as("__file"), lit(0L).as("__pos"))
    }
  }

  /** A SLICE of version `v`'s data files `[fromLine, untilLine)` in
    * manifest order (deterministic per version), rendered visible
    * under the version's schema, deletion vectors, and column
    * mapping — what lets [[graft.streaming.GraftChangesSource]] feed
    * a huge table's initial snapshot as rate-limited micro-batches
    * instead of one giant one. */
  private[graft] def readSlice(spark: SparkSession, dir: String,
      version: Int, fromLine: Int, untilLine: Int): DataFrame = {
    val fs = fileSystem(spark, dir)
    val m = readManifest(fs, dir, version)
    scanVisible(spark, dir, m.schema,
      m.lines.slice(fromLine, untilLine), m.dvs, colMap = m.colMap,
      dvSizes = m.dvSizes)
  }

  /** Version `v`'s data-file line count — the slice bound
    * [[readSlice]] pages through. */
  private[graft] def manifestLineCount(spark: SparkSession, dir: String,
      version: Int): Int =
    readManifest(fileSystem(spark, dir), dir, version).lines.size

  /** Version `version` (default: head) of the table at `dir` and its
    * reconstructed manifest — the readers' shared preamble. The
    * `exists` probe names a version that was never committed (or is
    * expired) before the read fails on it. */
  private def manifestAt(spark: SparkSession, dir: String,
      version: Option[Int]): (Int, Manifest) = {
    val fs = fileSystem(spark, dir)
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $dir"))
    require(fs.exists(manifestPath(dir, v)), s"version $v not found in $dir")
    (v, readManifest(fs, dir, v))
  }

  /** Read a specific version (time travel), or the latest when
    * `version` is None. Immutable: committing later versions never
    * changes what this returns.
    *
    * Schema: the version renders under its manifest-recorded schema —
    * resolved in O(1) at plan time (no footer sweep; `mergeSchema`
    * over a 100 TB table reads every file's footer just to plan),
    * with files that predate an evolved column null-filling it. Each
    * version keeps ITS OWN schema, so time travel renders history
    * exactly as it was written.
    */
  def read(spark: SparkSession, dir: String,
      version: Option[Int] = None): DataFrame = {
    val m = manifestAt(spark, dir, version)._2
    if (m.lines.isEmpty)
      // an empty version (truncate-to-empty replace, or an empty
      // pipeline run's first commit) is still a READABLE table: the
      // manifest knows the schema parquet's zero files cannot supply
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    else if (m.dvs.nonEmpty || m.colMap.nonEmpty)
      // merge-on-read DVs and/or column mapping: scanVisible
      // anti-joins deleted positions and renders physical file
      // columns under their logical names
      scanVisible(spark, dir, m.schema, m.lines, m.dvs, colMap = m.colMap,
        dvSizes = m.dvSizes)
    else manifestScanLines(spark, dir, m.schema, m.lines)
  }

  /** Stats-pruned read: plan only the files whose recorded
    * `[min, max]` of `statCol` intersects `[lo, hi]`, then apply the
    * row-level BETWEEN filter on what remains (pruning is an
    * optimization; the filter is still the semantics — a file without
    * stats, or stats on a different column, is always read). THE scale
    * lever of every table format: a selective predicate over a
    * well-clustered table plans O(matching files), not O(table).
    */
  def readPruned(spark: SparkSession, dir: String, statCol: String,
      lo: Long, hi: Long, version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(hi >= lo, s"need hi >= lo: [$lo, $hi]")
    val (v, m) = manifestAt(spark, dir, version)
    require(m.lines.nonEmpty, s"version $v of $dir is empty")
    // keep full LINES (not bare rels): the `~b` size annotations ride
    // into [[scanVisible]]'s listing-free scan
    val kept = m.lines.filter { l =>
      // provably disjoint on ANY recorded group for this column — skip
      !parseStats(l)._2.exists { case (c, mn, mx) =>
        c == statCol && (mx < lo || mn > hi) }
    }
    val pred = col(statCol).between(lo, hi)
    // DV'd kept files anti-join their deleted positions (the DV
    // stats stay those of the base file — conservative: pruning may
    // keep a file whose matching rows are all deleted; the anti
    // join, not the stats, is the semantics)
    def scan(lns: Seq[String]) =
      scanVisible(spark, dir, m.schema, lns, m.dvs, colMap = m.colMap,
        dvSizes = m.dvSizes)
    if (kept.isEmpty)
      // every file pruned: one file supplies the schema, the always-
      // false residual filter supplies the (empty) rows
      scan(Seq(m.lines.head)).filter(lit(false) && pred)
    else scan(kept).filter(pred)
  }

  /** The manifest-relative data files an index-pruned read of
    * `predicate` would plan — ranges and Bloom filters both veto.
    * Exposed so specs and in-query gates can assert the planned file
    * set without scanning anything. */
  private[graft] def plannedFilesEq(spark: SparkSession, dir: String,
      predicate: Column, version: Option[Int] = None): Seq[String] = {
    val m = manifestAt(spark, dir, version)._2
    val pred = resolvedPredicate(spark, m.schema, predicate)
    pruneWithIndex(spark, dir, m, pred).map(parseLine(_)._1)
  }

  /** Index-pruned read: plan only the files whose recorded range
    * stats AND per-file Bloom filters admit a row matching
    * `predicate`, then apply the row-level filter on what remains.
    * The point-lookup complement of [[readPruned]]'s BETWEEN scan:
    * over a [[commitWithIndex]]-indexed key, `key === x` plans O(1)
    * files (up to the filters' false-positive rate) however large the
    * table — the lookup min/max stats cannot answer for a
    * high-cardinality or string key. Pruning is an optimization; the
    * row filter is the semantics — a file with no index entries is
    * always read, and deletion vectors apply as in [[read]].
    */
  def readEq(spark: SparkSession, dir: String, predicate: Column,
      version: Option[Int] = None): DataFrame = {
    val m = manifestAt(spark, dir, version)._2
    val schema = m.schema
    val pred = resolvedPredicate(spark, schema, predicate)
    val kept = pruneWithIndex(spark, dir, m, pred)
    // an all-pruned plan still renders the schema'd empty frame
    scanVisible(spark, dir, schema, kept, m.dvs, colMap = m.colMap,
      dvSizes = m.dvSizes)
      .filter(predicate)
  }

  /** Metadata-only COUNT(*): the row count of `version`, answered
    * from the manifest's recorded per-file row counts (`~r`
    * annotations — they ride every stats scan) with deletion-vector
    * positions subtracted. ZERO data files are read at any table
    * size: a DV-free table costs driver arithmetic over the manifest
    * alone; live DVs add one read of the delta-sized position
    * sidecars (never the base files). This is the other query every
    * monitoring / retention pipeline runs all day, and the reason
    * production formats answer `SELECT count(*)` from metadata.
    *
    * Returns None when any manifest line predates row-count tracking
    * or was committed without stats — the caller falls back to
    * `read(...).count()`; a partial metadata answer would be a WRONG
    * answer, so this is all-or-nothing.
    */
  def rowCountFromMetadata(spark: SparkSession, dir: String,
      version: Option[Int] = None): Option[Long] = {
    import org.apache.spark.sql.functions.col
    val m = manifestAt(spark, dir, version)._2
    val perFile = m.lines.map { l =>
      parseStatsFull(l)._2.flatMap(_.rows).headOption
    }
    if (perFile.exists(_.isEmpty)) return None // untracked line: fall back
    val total = perFile.flatten.sum
    val relSet = m.lines.map(parseLine(_)._1).toSet
    val live = m.dvs.filter(d => relSet.contains(d._1))
    val deleted =
      if (live.isEmpty) 0L
      else {
        import spark.implicits._
        // distinct by construction: every DV write scans VISIBLE rows,
        // so no (file, pos) pair can be recorded twice. The keep-set
        // rides as a broadcast semi join, not a driver-built In
        // literal — O(files with DVs) literals would bloat the plan
        // (same pattern as probeBlooms' keep-set)
        val keep = live.map(_._1).distinct.toDF("file")
        dvScan(spark, dir, live.map(_._2), m.dvSizes)
          .join(org.apache.spark.sql.functions.broadcast(keep),
            Seq("file"), "left_semi")
          .count()
      }
    Some(total - deleted)
  }

  /** Merge-on-read MAINTENANCE ADVISOR — the OPTIMIZE-scheduling half
    * of deletion vectors. A DV makes the delete O(matched rows), but
    * every stacked vector adds read amplification (the anti-join
    * carries more positions) until [[compactCommit]] materializes
    * them; production formats schedule that rewrite off the same
    * signal this computes: the per-file DELETED-POSITION FRACTION.
    * One row per data file of `version` (head by default):
    * `file`, `rows` (the `~r` manifest annotation — null on
    * pre-tracking lines), `deleted` (live DV positions targeting the
    * file), `fraction` (deleted / rows; null when rows is unknown).
    * Cost: O(manifest) driver-side plus one scan of the delta-sized
    * position sidecars — never the data. Policy stays with the
    * caller: `dvDebt(spark, dir).filter($"fraction" >= 0.3)` lists
    * the files a compaction would pay for, and an empty result means
    * the table carries no debt at all.
    */
  def dvDebt(spark: SparkSession, dir: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, count}
    import spark.implicits._
    val m = manifestAt(spark, dir, version)._2
    val rowsPerFile: Seq[(String, Option[Long])] = m.lines.map { l =>
      val (rel, gs) = parseStatsFull(l)
      (rel, gs.flatMap(_.rows).headOption)
    }
    val relSet = rowsPerFile.map(_._1).toSet
    val live = m.dvs.filter(d => relSet.contains(d._1))
    val deleted: Map[String, Long] =
      if (live.isEmpty) Map.empty
      else dvScan(spark, dir, live.map(_._2), m.dvSizes)
        // keep-set as a broadcast semi join, not a driver-built In
        // literal (O(files with DVs) literals bloat the plan — the
        // sidecar paths already bound the read; same pattern as
        // probeBlooms' keep-set)
        .join(org.apache.spark.sql.functions.broadcast(
          live.map(_._1).distinct.toDF("file")), Seq("file"), "left_semi")
        // positions are distinct by construction: every DV write
        // scans VISIBLE rows, so no (file, pos) records twice
        .groupBy("file").agg(count(col("pos")).as("n"))
        .as[(String, Long)].collect().toMap
    rowsPerFile.map { case (rel, rows) =>
      (rel, rows, deleted.getOrElse(rel, 0L))
    }.toDF("file", "rows", "deleted")
      // ANSI-safe: a zero-row file (an empty v0 commit) has no
      // meaningful fraction — NULL, like an untracked row count
      .withColumn("fraction",
        org.apache.spark.sql.functions.when(col("rows") > 0,
          col("deleted").cast("double") / col("rows").cast("double")))
  }

  /** The declared `graft.maintain.*` threshold vocabulary (short
    * keys, as carried in the `#maintain` header). */
  private[graft] val MaintainKeys: Map[String, String => Unit] = Map(
    "smallfile.bytes" -> { v: String =>
      require(v.toLongOption.exists(_ > 0),
        s"graft.maintain.smallfile.bytes must be a positive byte " +
          s"count, got '$v'") },
    "dvdebt" -> { v: String =>
      require(v.toDoubleOption.exists(f => f >= 0 && f <= 1),
        s"graft.maintain.dvdebt must be a fraction in [0,1], got '$v'") },
    "maxfiles" -> { v: String =>
      require(v.toIntOption.exists(_ >= 1),
        s"graft.maintain.maxfiles must be >= 1, got '$v'") },
    "overlaps" -> { v: String =>
      require(v.toIntOption.exists(_ >= 1),
        s"graft.maintain.overlaps must be >= 1, got '$v'") },
    "target.bytes" -> { v: String =>
      require(v.toLongOption.exists(_ > 0),
        s"graft.maintain.target.bytes must be a positive byte " +
          s"count, got '$v'") })

  private def validateMaintain(kvs: Seq[(String, String)]): Unit = {
    require(kvs.map(_._1).distinct.size == kvs.size,
      "maintenance policy declares a key twice: " +
        kvs.map(_._1).mkString(", "))
    kvs.foreach { case (k, v) =>
      MaintainKeys.get(k) match {
        case Some(check) => check(v)
        case None => throw new IllegalArgumentException(
          s"unknown maintenance key '$k' — supported: " +
            MaintainKeys.keys.toSeq.sorted
              .map("graft.maintain." + _).mkString(", "))
      }
    }
  }

  /** The per-file DEBT REPORT — the advisor [[maintain]] consumes and
    * a human schedules compaction off: one row per data file of
    * `version` (head by default) with every signal the subset
    * selectors understand. Columns: `file`, `bytes` (physical),
    * `rows` (recorded `~r`, null pre-tracking), `deleted` (live DV
    * positions), `dv_fraction` (deleted/rows), `overlaps` (how many
    * OTHER files' recorded ranges on the table's leading cluster key
    * intersect this file's — the cross-commit overlap write-time
    * clustering cannot merge; null when no clustering/stats are
    * declared). Cost: O(manifest) driver-side + the delta-sized DV
    * sidecar scan ([[dvDebt]]) — never the data; the overlap count is
    * an O(n log n) interval sweep over recorded stats.
    */
  def fileDebt(spark: SparkSession, dir: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val fs = fileSystem(spark, dir)
    val (v, m) = manifestAt(spark, dir, version)
    val bytesOf: Map[String, Long] = m.lines.map { l =>
      val rel = parseLine(l)._1
      rel -> fs.getFileStatus(new Path(dir, rel)).getLen
    }.toMap
    val overlapsOf = overlapCounts(m)
    val withBytes = dvDebt(spark, dir, Some(v))
      .withColumnRenamed("fraction", "dv_fraction")
    import spark.implicits._
    val extras = bytesOf.toSeq.map { case (rel, b) =>
      (rel, b, overlapsOf.get(rel))
    }.toDF("file", "bytes", "overlaps")
    withBytes.join(extras, Seq("file"), "left_outer")
      .select(col("file"), col("bytes"), col("rows"), col("deleted"),
        col("dv_fraction"), col("overlaps"))
  }

  /** Per-file CROSS-COMMIT OVERLAP count on the table's leading
    * cluster key: how many OTHER files' recorded [min,max] intersect
    * each file's — the layout debt write-time clustering cannot
    * repair (each commit range-sorts only its OWN rows) and a subset
    * compaction merges away. Empty when the table declares no
    * clustering or the key has no recorded stats. O(n log n) sweep
    * over manifest lines: overlaps(i) = n-1 − (#max_j < min_i) −
    * (#min_j > max_i). */
  private def overlapCounts(m: Manifest): Map[String, Int] =
    m.clusterCols.headOption match {
      case None => Map.empty
      case Some(key) =>
        // only VALID long ranges enter the sweep: a string cluster
        // key's group and an all-NULL-key file both record the
        // inverted sentinel (min=MaxValue > max=MinValue), which
        // would deflate every count (even below zero) if admitted
        val ranged = m.lines.flatMap { l =>
          val (rel, gs) = parseStatsFull(l)
          gs.find(g => g.col == key && g.min <= g.max &&
              g.rows.forall(_ > 0))
            .map(g => (rel, g.min, g.max))
        }
        val mins = ranged.map(_._2).sorted.toArray
        val maxes = ranged.map(_._3).sorted.toArray
        def lowerBound(a: Array[Long], x: Long): Int = {
          var lo = 0; var hi = a.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (a(mid) < x) lo = mid + 1 else hi = mid
          }
          lo
        }
        ranged.map { case (rel, mn, mx) =>
          val disjointBelow = lowerBound(maxes, mn)
          val disjointAbove = mins.length - lowerBound(mins, mx + 1)
          rel -> (mins.length - 1 - disjointBelow - disjointAbove)
        }.toMap
    }

  /** The MAINTENANCE DRIVER — `CALL graft.system.maintain('db.t')`:
    * run [[compactSubset]] with the table's DECLARED thresholds
    * (TBLPROPERTIES `graft.maintain.*` / [[setPolicy]]'s `maintainSet`),
    * so a scheduler needs one verb and zero per-table knowledge: the
    * table says what its debt is, the driver compacts exactly the
    * files over it. Selection = files below
    * `graft.maintain.smallfile.bytes` ∪ files at/above
    * `graft.maintain.dvdebt` ∪ files whose cluster-key range overlaps
    * at least `graft.maintain.overlaps` others, capped by
    * `graft.maintain.maxfiles`, packed to
    * `graft.maintain.target.bytes` (default 128 MB) under
    * the table's declared clustering. Returns
    * `(newVersion, filesRewritten)` — `(head, 0)` when no debt
    * exceeds a threshold. Refuses when the table declares no
    * maintenance policy at all (a silent no-op would read as "no
    * debt" forever).
    */
  def maintain(spark: SparkSession, dir: String): (Int, Int) = {
    val fs = fileSystem(spark, dir)
    val head = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $dir"))
    val m = readManifest(fs, dir, head)
    val kv = m.maintain.toMap
    require(kv.nonEmpty,
      s"table $dir declares no maintenance policy — SET TBLPROPERTIES " +
        "('graft.maintain.smallfile.bytes'=…, 'graft.maintain.dvdebt'" +
        "=…, 'graft.maintain.maxfiles'=…) or Versioned.setPolicy(" +
        "maintainSet = …) first; an undeclared maintain() would read " +
        "as " +
        "\"no debt\" forever")
    // declared values parse LOUDLY but informatively (a foreign
    // writer could have written anything into the advisory header);
    // keys this binary does not know are ignored — additive advisory
    // vocabulary must stay forward-compatible for the consumer too
    def num[A](key: String, parse: String => Option[A]): Option[A] =
      kv.get(key).map(v => parse(v).getOrElse(
        throw new IllegalArgumentException(
          s"table $dir carries a malformed graft.maintain.$key " +
            s"value '$v' — re-declare it (SET TBLPROPERTIES) or " +
            "UNSET it")))
    val small = num("smallfile.bytes", _.toLongOption.filter(_ > 0))
    val dv = num("dvdebt", _.toDoubleOption.filter(f => f >= 0 && f <= 1))
    val overlaps = num("overlaps", _.toIntOption.filter(_ >= 1))
    require(small.isDefined || dv.isDefined || overlaps.isDefined,
      s"table $dir declares no maintenance SELECTOR (smallfile.bytes, " +
        "dvdebt, or overlaps) — maxfiles/target.bytes only bound a " +
        "selection")
    val (v, rewritten) = compactSubsetImpl(spark, dir,
      smallFileBytes = small, dvDebtAbove = dv,
      overlapsAbove = overlaps,
      maxFiles = num("maxfiles", _.toIntOption.filter(_ >= 1)),
      targetBytes = num("target.bytes", _.toLongOption.filter(_ > 0))
        .getOrElse(128L << 20),
      baseVersion = Some(head))
    (v, rewritten)
  }

  /** The newest retained version whose COMMIT INSTANT is at or before
    * `micros` (epoch microseconds, the unit Spark's V2 `TIMESTAMP AS
    * OF` hook passes). None when the table's entire retained history
    * is newer. The instant is the manifest's recorded `#ts` header
    * (written monotonic with the version chain — max(clock, parent +
    * 1) — so cross-process clock skew can never resolve to a version
    * that is not the latest committed at-or-before t).
    *
    * Cost: NO directory listing — the head resolves through the
    * `_head` pointer, the retention floor by a binary search on
    * exists() (versions are dense from the floor to the head), and the
    * answer by a binary search on recorded instants: O(log head) small
    * metadata ops where a long-retention table would pay a paginated
    * LIST per TIMESTAMP AS OF plan.
    */
  def versionAsOfTimestamp(spark: SparkSession, dir: String,
      micros: Long): Option[Int] = {
    val fs = fileSystem(spark, dir)
    val millisT = micros / 1000L
    latestVersion(spark, dir).flatMap { head =>
      // header-only reads: #ts leads every manifest file
      def tsOf(v: Int): Long = readHeaderOnly(fs, dir, v).ts
      if (tsOf(head) <= millisT) Some(head)
      else {
        val floor = retentionFloor(fs, dir, head)
        if (tsOf(floor) > millisT) None // all retained newer
        else {
          // recorded instants are monotonic with versions:
          // largest v in [floor, head] with ts(v) <= t
          var a = floor // ts(a) <= t
          var b = head  // t < ts(b)
          while (a + 1 < b) {
            val mid = (a + b) >>> 1
            if (tsOf(mid) <= millisT) a = mid else b = mid
          }
          Some(a)
        }
      }
    }
  }

  /** The retention floor below `head`: the oldest version whose
    * manifest still exists. Retained versions form one dense suffix
    * ([[expire]] sweeps a prefix and the dense-version invariant holds
    * above it), so exists() is monotone over version numbers and a
    * binary search needs O(log head) probes — no directory listing. */
  private def retentionFloor(fs: FileSystem, dir: String,
      head: Int): Int = {
    var lo = 0
    var hi = head // invariant: exists(hi)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (fs.exists(manifestPath(dir, mid))) hi = mid
      else lo = mid + 1
    }
    hi
  }

  /** The OLDEST retained version of the table — the retention floor
    * time travel, change feeds, and instant anchors bottom out at.
    * None for an uncommitted table. O(log head) exists() probes. */
  def oldestRetainedVersion(spark: SparkSession,
      dir: String): Option[Int] = {
    val fs = fileSystem(spark, dir)
    latestVersion(spark, dir).map(retentionFloor(fs, dir, _))
  }

  /** The FIRST retained version whose recorded commit instant is at
    * or after `millis` — the resolver behind the streaming source's
    * `startingTimestamp` anchor ("start from this instant": a
    * timestamp BETWEEN two commits anchors at the next version; an
    * exact hit anchors at it). A `millis`
    * before the retention floor anchors at the floor (everything
    * retained is at-or-after it); None when every retained instant is
    * BEFORE `millis` — the caller refuses "timestamp after the last
    * commit". Cost: O(log head) header-only reads (instants are
    * write-monotonic with versions; the floor binary-searches on
    * exists() like [[versionAsOfTimestamp]]).
    */
  def versionAtOrAfterInstant(spark: SparkSession, dir: String,
      millis: Long): Option[Int] = {
    val fs = fileSystem(spark, dir)
    latestVersion(spark, dir).flatMap { head =>
      def tsOf(v: Int): Long = readHeaderOnly(fs, dir, v).ts
      if (tsOf(head) < millis) None
      else {
        val floor = retentionFloor(fs, dir, head)
        if (tsOf(floor) >= millis) Some(floor)
        else {
          // instants are monotonic with versions: smallest v in
          // (floor, head] with ts(v) >= millis
          var a = floor // ts(a) < millis
          var b = head  // ts(b) >= millis
          while (a + 1 < b) {
            val mid = (a + b) >>> 1
            if (tsOf(mid) >= millis) b = mid else a = mid
          }
          Some(b)
        }
      }
    }
  }

  /** A user-supplied instant in its accepted shapes — epoch millis,
    * ISO-8601 instant (`2024-01-01T00:00:00Z`), or a local date[-time]
    * read as UTC (the session timezone this engine pins everywhere) —
    * to epoch millis. Shared by the streaming source's
    * `startingTimestamp` and the timestamp form of the
    * `graft_table_changes` TVF. */
  private[graft] def parseInstantMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("-?\\d+")) t.toLong
    else try java.time.Instant.parse(t).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        val norm =
          if (t.contains("T") || t.contains(" ")) t.replace(' ', 'T')
          else t + "T00:00:00"
        java.time.LocalDateTime.parse(norm)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  /** DESCRIBE HISTORY: one row per retained version, newest first —
    * the audit log every production table format exposes. Driver-side
    * manifest reads only (no data I/O): `operation` is the commit
    * primitive that created the version (`#op` header; "unknown" on
    * pre-tracking manifests), `ts_millis` the recorded `#ts` commit
    * instant (monotonic with versions),
    * `n_files`/`n_dvs`/`n_checks` the version's shape,
    * `app_id`/`batch_id` the streaming txn stamp when present, and
    * `row_count` the metadata count where the version is fully
    * tracked (null where [[rowCountFromMetadata]] would fall back).
    * Expired versions are simply absent — history shrinks with
    * retention, like the time travel it documents.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fs = fileSystem(spark, dir)
    val latest = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $dir"))
    // named tags render per version: the audit view answers "which
    // version is release-v3" without a second CALL
    val tagsByVersion: Map[Int, Seq[String]] =
      tagMap(fs, dir).toSeq.groupBy(_._2)
        .map { case (v, ts) => v -> ts.map(_._1).sorted }
    // ascending incremental reconstruction (one raw read per retained
    // version), reversed at the end for the newest-first contract.
    // ONE listing names the retained versions — probing exists() over
    // (0 to latest) would pay O(versions ever committed) round trips
    // on a long-lived table whose early history expired.
    val retained: Seq[Int] = {
      val mdir = new Path(dir, "_manifest")
      fs.listStatus(mdir).map(_.getPath.getName)
        .flatMap(manifestVersionOf).sorted.toSeq
    }
    var prevState: Option[(Int, Manifest)] = None
    val rows = retained.iterator
      .map { v =>
        val node = readRaw(fs, dir, v)
        val m = node.base match {
          case Some((pv, depth)) if prevState.exists(_._1 == pv) =>
            applyDelta(prevState.get._2, node).copy(chainDepth = depth)
          case Some(_) => readManifest(fs, dir, v)
          case None => node.m
        }
        prevState = Some((v, m))
        val counts = m.lines.map(l =>
          parseStatsFull(l)._2.flatMap(_.rows).headOption)
        // base row count only (DV subtraction needs sidecar I/O;
        // history stays a pure metadata read) — minus nothing when
        // the version carries no DVs, which is the common case
        val rowCount: Option[Long] =
          if (m.dvs.nonEmpty || counts.exists(_.isEmpty)) None
          else Some(counts.flatten.sum)
        (v, m.op.getOrElse("unknown"), m.ts, m.lines.size, m.dvs.size, m.checks.size,
          m.txn.map(_._1), m.txn.map(_._2), rowCount,
          tagsByVersion.getOrElse(v, Nil))
      }.toSeq.reverse
    rows.toDF("version", "operation", "ts_millis", "n_files", "n_dvs",
      "n_checks", "app_id", "batch_id", "row_count", "tags")
  }

  // ----------------------------------------------------- change feed

  /** Incremental change feed: every row-level change committed in
    * `(fromVersion, toVersion]`, rendered under `toVersion`'s schema,
    * as table columns plus `_change_type` (`insert` / `delete` /
    * `update_preimage` / `update_postimage` — a changed key emits its
    * old and new row as a pair) and `_commit_version` (the commit that
    * made the change). The primitive that turns a versioned table into
    * a PIPELINE SOURCE: a downstream consumer (re-embed changed docs,
    * refresh a rollup, invalidate a cache) reads the feed since its
    * last processed version instead of diffing snapshots.
    *
    * Scale shape — the reason this beats [[graft.ops.SnapshotDiff]]
    * over the same versions: the per-commit file delta is planned from
    * MANIFEST set-difference (driver-side, O(files)); an append commit
    * contributes a pure scan of its new files tagged `insert` — zero
    * joins, zero shuffles, cost O(appended data) however large the
    * table; a replace commit contributes one keyed full-outer diff over
    * the files it actually swapped. A compaction ([[compactCommit]])
    * rewrites every byte but changes no row — its step joins and nets
    * to ZERO feed rows, which is exactly what a consumer should see.
    * Snapshot-diffing the same window costs O(table) regardless of how
    * little changed.
    *
    * Contract: `keyCols` identify a row across versions and must be
    * unique per version (standard CDC requirement; duplicate keys
    * would cross-multiply in the diff join). Every manifest in the
    * window must still exist — [[pin]] the range if retention runs
    * concurrently. Columns a mid-window replace dropped render as
    * null in earlier pre-images (the feed speaks the schema its
    * consumer sees at `toVersion`).
    */
  def changesBetween(spark: SparkSession, dir: String,
      fromVersion: Int, toVersion: Int, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // keyCols may be EMPTY (round 15): the KEYLESS feed renders the
    // commits whose row-level content needs no pairing — appends as
    // inserts, whole-file/metadata-only/DV deletes as deletes,
    // restores' resurrections as inserts, compactions as zero rows
    // (op-attested: a compaction changes no row by construction) —
    // and REFUSES a rewrite commit loudly (update/replace/CoW-delete
    // rewrites pair old against new rows, which takes keys). This is
    // what lets a merge-on-read DELETE stream to a keyless consumer:
    // its DV positions name exact rows, no diff join needed.
    require(fromVersion <= toVersion,
      s"need fromVersion <= toVersion: [$fromVersion, $toVersion]")
    val fs = fileSystem(spark, dir)
    (fromVersion to toVersion).foreach(v =>
      require(fs.exists(manifestPath(dir, v)),
        s"version $v of $dir not found (expired?): a change feed needs " +
          s"every manifest in [$fromVersion, $toVersion] — pin the range " +
          "while feeding, or feed from a newer base"))
    // incremental reconstruction: a delta whose base is the version
    // just folded applies in place — one raw read per version in the
    // window, not one chain walk per version
    val manifests: Map[Int, Manifest] = {
      val acc = scala.collection.mutable.Map.empty[Int, Manifest]
      var prev: Option[(Int, Manifest)] = None
      (fromVersion to toVersion).foreach { v =>
        val node = readRaw(fs, dir, v)
        val m = node.base match {
          case Some((pv, depth)) if prev.exists(_._1 == pv) =>
            applyDelta(prev.get._2, node).copy(chainDepth = depth)
          case Some(_) => readManifest(fs, dir, v)
          case None => node.m
        }
        acc(v) = m
        prev = Some((v, m))
      }
      acc.toMap
    }
    val tableSchema = manifests(toVersion).schema
    val tableCols = tableSchema.fields.map(_.name).toSeq
    keyCols.foreach(k => require(tableCols.contains(k),
      s"key column '$k' not in table schema ${tableCols.mkString(", ")}"))
    val feedSchema = StructType(tableSchema.fields.toSeq :+
      StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false) :+
      StructField("_commit_version",
        org.apache.spark.sql.types.IntegerType, nullable = false))
    // every per-version scan renders VISIBLE rows (that version's
    // deletion vectors applied) — a DV'd row is deleted to the feed
    // exactly as a rewritten-away row is
    // physical names are fixed at column birth, so toVersion's map
    // renders every window file — including ones removed mid-window
    val feedMap = manifests(toVersion).colMap
    def scanVis(mf: Manifest, lines: Seq[String]): DataFrame =
      scanVisible(spark, dir, tableSchema, lines, mf.dvs,
        colMap = feedMap, dvSizes = mf.dvSizes)
    // rows at `pairs` positions that are visible under `mf` — the
    // row-level content of a DV delta. New pairs against the PREVIOUS
    // manifest = rows this commit deleted in place (the anti join in
    // scanVisible dedups double-deletes across stacked DVs); dropped
    // pairs against the CURRENT manifest = rows a restore resurrected.
    // The pairs' sidecar sizes come from `sized`, the manifest that
    // recorded them — `mf` need not hold them, and an unsized sidecar
    // is statused on the driver.
    def dvRows(pairs: Seq[(String, String)], mf: Manifest,
        sized: Manifest): DataFrame = {
      val baseRels = pairs.map(_._1).toSet
      val withMeta = scanVisible(spark, dir, tableSchema,
        mf.lines.filter(l => baseRels.contains(parseLine(l)._1)),
        mf.dvs, keepMeta = true, colMap = feedMap,
        dvSizes = mf.dvSizes)
      val dv = dvScan(spark, dir, pairs.map(_._2), sized.dvSizes)
      withMeta.join(dv,
        withMeta("__file") === dv("file") && withMeta("__pos") === dv("pos"),
        "left_semi").drop("__file", "__pos")
    }
    val steps = ((fromVersion + 1) to toVersion).flatMap { v =>
      val prevM = manifests(v - 1)
      val curM = manifests(v)
      val prev = prevM.lines.map(parseLine(_)._1).toSet
      val cur = curM.lines.map(parseLine(_)._1).toSet
      val added = curM.lines.filterNot(l => prev.contains(parseLine(l)._1))
      val removed = prevM.lines.filterNot(l => cur.contains(parseLine(l)._1))
      val survivors = prev.intersect(cur)
      val dvNew = (curM.dvs.toSet -- prevM.dvs).toSeq
        .filter(d => survivors.contains(d._1))
      val dvGone = (prevM.dvs.toSet -- curM.dvs).toSeq
        .filter(d => survivors.contains(d._1))
      val oldSide = (if (removed.nonEmpty) Seq(scanVis(prevM, removed))
        else Nil) ++
        (if (dvNew.nonEmpty) Seq(dvRows(dvNew, prevM, curM)) else Nil)
      val newSide = (if (added.nonEmpty) Seq(scanVis(curM, added))
        else Nil) ++
        (if (dvGone.nonEmpty) Seq(dvRows(dvGone, curM, prevM)) else Nil)
      (oldSide.reduceOption(_.unionByName(_)),
        newSide.reduceOption(_.unionByName(_))) match {
        case (None, None) => None // no-op commit
        case (None, Some(ins)) => Some( // pure append / resurrection
          ins.select(tableCols.map(col) :+
            lit("insert").as("_change_type") :+
            lit(v).as("_commit_version"): _*))
        case (Some(del), None) => Some( // truncate / in-place delete
          del.select(tableCols.map(col) :+
            lit("delete").as("_change_type") :+
            lit(v).as("_commit_version"): _*))
        case (Some(del), Some(ins)) if keyCols.nonEmpty =>
          Some(replaceFeedStep(del, ins, keyCols, tableCols, v))
        // keyless: a compaction rewrites every byte and changes no
        // row — zero feed rows, attested by its own #op record
        case (Some(_), Some(_))
            if curM.op.exists(_.startsWith("compact")) => None
        case (Some(_), Some(_)) => throw new IllegalArgumentException(
          s"commit $v of $dir is a rewrite " +
            s"(op=${curM.op.getOrElse("unknown")}): a KEYLESS change " +
            "feed renders pure inserts/deletes only — pass keyCols " +
            "to pair its old rows against its new ones")
      }
    }
    if (steps.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], feedSchema)
    else steps.reduce(_.unionByName(_))
  }

  /** The rows the APPEND commits in `(fromVersion, toVersion]` added —
    * plain table rows, no feed columns: what `readStream.table(…)` on
    * a graft table delivers (Delta's default stream-a-table
    * semantics). Each append contributes a pure scan of its new files
    * (O(appended data), zero joins). A commit that removed or
    * DV-deleted anything is NOT representable as plain rows: it fails
    * loudly (the reference behavior) unless `skipChangeCommits` —
    * then its rows are silently skipped (Delta's skipChangeCommits
    * escape hatch). Compactions pass either way: they change no row.
    */
  private[graft] def appendsBetween(spark: SparkSession, dir: String,
      fromVersion: Int, toVersion: Int,
      skipChangeCommits: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"need fromVersion <= toVersion: [$fromVersion, $toVersion]")
    val fs = fileSystem(spark, dir)
    (math.max(fromVersion, 0) to toVersion).foreach(v =>
      require(fs.exists(manifestPath(dir, v)),
        s"version $v of $dir not found (expired?)"))
    val tail = readManifest(fs, dir, toVersion)
    val tableSchema = tail.schema
    val feedMap = tail.colMap
    var prev: Option[(Int, Manifest)] = None
    def foldedAt(v: Int): Manifest = {
      val node = readRaw(fs, dir, v)
      val m = node.base match {
        case Some((pv, depth)) if prev.exists(_._1 == pv) =>
          applyDelta(prev.get._2, node).copy(chainDepth = depth)
        case Some(_) => readManifest(fs, dir, v)
        case None => node.m
      }
      prev = Some((v, m))
      m
    }
    // fromVersion may be -1 (a stream anchored on an about-to-be-
    // created table): version 0's full content is then the first
    // "append", diffed against an empty state
    if (fromVersion >= 0) foldedAt(fromVersion)
    val parts = ((fromVersion + 1).max(0) to toVersion)
      .flatMap { v =>
        val prevLines = prev.map(_._2.lines).getOrElse(Nil)
        val prevDvs = prev.map(_._2.dvs).getOrElse(Nil)
        val curM = foldedAt(v)
        val prevRels = prevLines.map(parseLine(_)._1).toSet
        val curRels = curM.lines.map(parseLine(_)._1).toSet
        val added = curM.lines.filterNot(l =>
          prevRels.contains(parseLine(l)._1))
        val removedOrDv = prevLines.exists(l =>
          !curRels.contains(parseLine(l)._1)) ||
          (curM.dvs.toSet -- prevDvs)
            .exists(d => curRels.contains(d._1))
        if (removedOrDv && !curM.op.exists(_.startsWith("compact"))) {
          if (!skipChangeCommits) throw new IllegalArgumentException(
            s"commit $v of $dir " +
              s"(op=${curM.op.getOrElse("unknown")}) deleted or " +
              "rewrote rows: a plain-rows stream cannot represent " +
              "that — stream the change feed " +
              "(readStream.format(\"graft-changes\")) or set " +
              "skipChangeCommits to ignore such commits")
          None
        } else if (added.isEmpty ||
            curM.op.exists(_.startsWith("compact"))) None
        else Some(scanVisible(spark, dir, tableSchema, added, curM.dvs,
          colMap = feedMap, dvSizes = curM.dvSizes))
      }
    parts.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        tableSchema))
  }

  /** The recorded `#ts` commit instant of each version in
    * `[fromVersion, toVersion]` (None for an expired version) —
    * header-only reads; the streaming source derives its
    * `_commit_timestamp` feed column from this. */
  private[graft] def commitInstants(spark: SparkSession, dir: String,
      versions: Seq[Int]): Map[Int, Option[Long]] = {
    val fs = fileSystem(spark, dir)
    versions.filter(_ >= 0).distinct.map(v =>
      v -> (if (fs.exists(manifestPath(dir, v)))
        // header-only: #ts leads every manifest file; a full readRaw
        // here would parse whole snapshots (or checkpoint sidecars)
        // per stamped version
        Some(readHeaderOnly(fs, dir, v).ts) else None)).toMap
  }

  /** Version `v`'s recorded schema, column mapping, and drop
    * tombstones in one manifest read — the streaming source's
    * schema-drift guard consumes this per batch. */
  private[graft] def schemaAndColMap(spark: SparkSession, dir: String,
      v: Int): (StructType, Seq[(String, String)]) = {
    val fs = fileSystem(spark, dir)
    val m = readManifest(fs, dir, v)
    (m.schema, m.colMap)
  }

  /** One replace commit's feed contribution: a keyed full-outer diff of
    * the files it removed against the files it added — delta-sized
    * work, with unchanged carried rows (a compaction's entire content)
    * netting to zero rows via the exploded NULL array.
    */
  private def replaceFeedStep(oldDf: DataFrame, newDf: DataFrame,
      keyCols: Seq[String], tableCols: Seq[String], v: Int): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    val valueCols = tableCols.filterNot(keyCols.contains)
    def packed(df: DataFrame, as: String): DataFrame =
      if (valueCols.isEmpty)
        df.select(keyCols.map(col) :+ struct(lit(true)).as(as): _*)
      else
        df.select(keyCols.map(col) :+
          struct(valueCols.map(col): _*).as(as): _*)
    val joined = packed(oldDf, "__o").join(packed(newDf, "__n"),
      keyCols, "full_outer")
    // each matched key expands to 0 (unchanged), 1 (insert/delete) or
    // 2 (update pre+post) feed rows; the unmatched `when` branch is
    // NULL and explode of NULL emits nothing — one codegen'd pass, no
    // second join or re-aggregation
    val pairs =
      when(col("__o").isNull,
        array(struct(lit("insert").as("_t"), col("__n").as("_p"))))
      .when(col("__n").isNull,
        array(struct(lit("delete").as("_t"), col("__o").as("_p"))))
      .when(!(col("__o") <=> col("__n")),
        array(struct(lit("update_preimage").as("_t"), col("__o").as("_p")),
          struct(lit("update_postimage").as("_t"), col("__n").as("_p"))))
    joined.select(keyCols.map(col) :+ explode(pairs).as("_e"): _*)
      .select(tableCols.map(c =>
        if (keyCols.contains(c)) col(c)
        else col("_e._p").getField(c).as(c)) :+
        col("_e._t").as("_change_type") :+
        lit(v).as("_commit_version"): _*)
  }
}
