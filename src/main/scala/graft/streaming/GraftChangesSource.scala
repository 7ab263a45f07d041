package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{broadcast, col, lit, timestamp_millis}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType, TimestampType}

import graft.lake.Versioned

/** `spark.readStream.format("graft-changes")` — a STREAMING SOURCE
  * over the versioned lake whose offsets are committed VERSION
  * NUMBERS, the read half of the `format("graft")` sink
  * ([[GraftSink]]; Delta's streaming-source shape: offsets are log
  * versions, each micro-batch plans the commit range's change feed).
  * Until now a downstream pipeline had to hand-roll the poll loop the
  * q113 snapshot-diff demonstrates; with this, it is one `readStream`:
  *
  * {{{
  *   spark.readStream.format("graft-changes")
  *     .option("path", tableDir)
  *     .option("keyCols", "o_orderkey")     // optional (see below)
  *     .option("startingVersion", "0")      // or "latest"
  *     .load()                              // table cols + _change_type
  *                                          //   + _commit_version
  *                                          //   + _commit_timestamp
  * }}}
  *
  * `keyCols` pairs a rewrite commit's old rows against its new ones
  * (update pre/post images). It is OPTIONAL: a KEYLESS stream renders
  * pure inserts/deletes — appends, whole-file/metadata-only deletes,
  * and merge-on-read deletes (whose deletion-vector positions name
  * exact rows, no diff join needed) — and fails loudly when a keyed
  * rewrite commit (update/replace/CoW-delete rewrite) enters the
  * window.
  *
  * `mode = rows` streams the table as PLAIN ROWS instead of a change
  * feed (Delta's default stream-a-table semantics — what
  * `spark.readStream.table("graft.db.t")` resolves to through the
  * catalog's V1 fallback): appends stream as their rows, a commit
  * that deleted or rewrote anything fails the query loudly unless
  * `skipChangeCommits` is set (then it is skipped whole). Compactions
  * pass either way — they change no row.
  *
  * Scale shape: each micro-batch is planned by
  * [[Versioned.changesBetween]] over exactly the versions the batch
  * covers — O(delta) manifest reads and O(changed data) scan work per
  * batch, never O(table). Exactly-once on restart: offsets are
  * `(version, snapshotFileIdx)` pairs (Delta's (reservoirVersion,
  * index) shape) and `getBatch(start, end)` is deterministic replay.
  * The INITIAL SNAPSHOT of an explicit `startingVersion` pages
  * through `maxFilesPerTrigger` manifest-line slices (default 1000) —
  * at 100 TB the first batch must not be the whole table — and
  * `maxVersionsPerTrigger` bounds the incremental phase's version
  * span, so catch-up after downtime arrives in rate-limited chunks.
  * Retention interacts the usual way: the feed needs every manifest
  * in its window, so [[Versioned.pin]] the range if expiry runs
  * concurrently — an expired window fails loudly, never silently
  * skips commits.
  *
  * Mid-stream SCHEMA DRIFT is guarded by column identity, not name
  * matching: each source column is tracked by its PHYSICAL name (the
  * `#colmap` indirection) and creation-time type. A RENAME or a type
  * WIDENING of a streamed column mid-stream FAILS the query (the
  * reference behavior — silently null-filling a renamed column would
  * corrupt the feed); an added column is simply not in this stream's
  * contract, and a dropped one null-fills.
  *
  * V1 `Source` deliberately (the shape Delta ships): `getBatch`
  * returns the change-feed DataFrame planned with the public batch
  * API — native vectorized parquet scans, file pruning, the works —
  * where a DSv2 `MicroBatchStream` would force hand-rolled partition
  * readers for no gain on this substrate.
  */
final class GraftChangesSource(
    sqlContext: SQLContext,
    parameters: Map[String, String],
    metadataPath: Option[String] = None,
    userSchema: Option[StructType] = None) extends Source {

  private val spark = sqlContext.sparkSession
  private val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
  private val dir = opts.getOrElse("path", throw new IllegalArgumentException(
    "graft-changes needs option 'path' (the versioned table directory)"))
  private val rowsMode: Boolean =
    opts.getOrElse("mode", "feed").toLowerCase match {
      case "feed" => false
      case "rows" => true
      case other => throw new IllegalArgumentException(
        s"graft-changes mode must be 'feed' or 'rows', got '$other'")
    }
  private val skipChangeCommits: Boolean =
    opts.get("skipchangecommits").exists(_.toBoolean)
  require(!skipChangeCommits || rowsMode,
    "skipChangeCommits applies to mode=rows only — the change feed " +
      "renders deletes instead of skipping them")
  private val keyCols: Seq[String] = opts.get("keycols")
    .map(GraftSink.colList).getOrElse(Nil)
  private val maxVersionsPerTrigger: Int =
    opts.get("maxversionspertrigger").map(_.toInt).getOrElse(Int.MaxValue)
  require(maxVersionsPerTrigger > 0,
    s"maxVersionsPerTrigger must be positive: $maxVersionsPerTrigger")
  /** BYTE-based rate limiting, planned from the manifest's recorded
    * per-file `~b` sizes — pure driver arithmetic, zero data I/O.
    * Versions vary wildly in size, so a version-count cap alone lets
    * one fat replace blow a trigger; this caps admission by bytes:
    * the SNAPSHOT phase pages the anchor's files so a slice stays
    * under the budget, the FEED phase admits whole versions until
    * the budget fills. Admission control, not semantics — a single
    * version (or file) larger than the budget still streams WHOLE in
    * its own trigger (offsets are version-granular: a mid-version
    * split cannot be represented, so it is never attempted), and a
    * version with pre-size-tracking lines conservatively fills the
    * trigger. Composes with maxFilesPerTrigger/maxVersionsPerTrigger
    * (tightest cap wins). */
  private val maxBytesPerTrigger: Option[Long] =
    opts.get("maxbytespertrigger").map(_.toLong)
  maxBytesPerTrigger.foreach(b => require(b > 0,
    s"maxBytesPerTrigger must be positive: $b"))

  /** Anchor options, mutually exclusive:
    *  - `startingVersion = <int V>` (default 0): version V's full
    *    content as the paged first batch's inserts, then the change
    *    feed forward;
    *  - `startingVersion = "head"`: the head AT STREAM CREATION plays
    *    the same role — current snapshot, then tail (Delta's
    *    stream-a-table shape; what the catalog's `readStream.table`
    *    fallback passes) — resolved ONCE and persisted in the
    *    checkpoint so a restart keeps the original anchor;
    *  - `startingVersion = "latest"`: NO snapshot — only commits
    *    after source creation stream (persisted likewise);
    *  - `startingTimestamp = <epoch-millis | ISO-8601>`: resolved to
    *    the FIRST version committed at or after the instant
    *    ([[Versioned.versionAtOrAfterInstant]] — recorded `#ts`
    *    instants; a timestamp after the last commit refuses loudly),
    *    then exactly the explicit-version semantics, anchor persisted.
    */
  private val startingVersionOpt: Option[String] =
    opts.get("startingversion")
  private val startingTimestampOpt: Option[String] =
    opts.get("startingtimestamp")
  require(startingVersionOpt.isEmpty || startingTimestampOpt.isEmpty,
    "startingVersion and startingTimestamp are mutually exclusive — " +
      "a stream has one anchor")
  // tail-only mode ("latest"): no snapshot phase
  private val tailOnly: Boolean = startingVersionOpt.contains("latest")

  // None = the table has no committed version yet, which is allowed
  // ONLY for startingVersion=latest (anchor below version 0, stream
  // from the first commit): every other anchor names a version that
  // must exist
  private val headAtCreation: Option[Int] =
    Versioned.latestVersion(spark, dir)
  require(headAtCreation.isDefined || tailOnly,
    s"graft-changes: no committed version in $dir to stream from — " +
      "startingVersion=latest (plus a user schema) can anchor on an " +
      "empty table and pick up its first commit")

  /** `startingTimestamp` accepted shapes: epoch millis, ISO-8601
    * instant, or a UTC date[-time] — [[Versioned.parseInstantMillis]],
    * shared with the TVF's timestamp form. */
  private def parseInstantMillis(s: String): Long =
    Versioned.parseInstantMillis(s)

  // resolved once at source creation: the feed speaks ONE schema for
  // the stream's lifetime (the streaming contract); commits that later
  // ADD columns are outside the contract, a DROPPED column null-fills,
  // and a RENAME or type change of a streamed column fails the query
  // (the drift guard below)
  private val tableSchema: StructType = headAtCreation match {
    case Some(h) =>
      val t = Versioned.read(spark, dir, Some(h)).schema
      userSchema.foreach(u => require(u == t || u.isEmpty,
        s"graft-changes derives its schema from the table; the given " +
          s"schema does not match — given ${u.simpleString}, table " +
          t.simpleString))
      t
    case None => userSchema.filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        s"graft-changes on the empty table $dir needs a user schema " +
          "(.schema(...)) until its first commit exists"))
  }
  keyCols.foreach(k => require(tableSchema.fieldNames.contains(k),
    s"keyCols column '$k' is not a table column " +
      tableSchema.fieldNames.mkString("[", ", ", "]")))

  // column IDENTITY at creation: (logical name, physical name, type)
  // — what the mid-stream drift guard compares against, through the
  // #colmap indirection (physical names are birth-stable)
  private val creationCols: Seq[(String, String, DataType)] = {
    val phys = headAtCreation
      .map(h => Versioned.schemaAndColMap(spark, dir, h)._2.toMap)
      .getOrElse(Map.empty)
    tableSchema.map(f =>
      (f.name, phys.getOrElse(f.name, f.name), f.dataType)).toSeq
  }

  /** Resolve-once-then-persist: creation-time anchors ("latest",
    * "head", a timestamp) are STATE, not configuration — a restarted
    * query must keep the anchor the original run resolved, not
    * silently re-anchor past (or re-snapshot) commits that landed
    * while it was down. The checkpoint's source-metadata slot holds
    * it; `computed` only evaluates when no persisted anchor exists. */
  private def persistedAnchor(computed: => Int): Int =
    metadataPath.fold(computed) { mp =>
      val p = new org.apache.hadoop.fs.Path(mp, "graft-changes-anchor")
      val fs = p.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) {
        val value = computed
        try {
          val out = fs.create(p, false)
          try out.write(value.toString.getBytes("UTF-8"))
          finally out.close()
        } catch {
          // a lost create race is benign (the winner's anchor is
          // read below); a genuinely FAILED create is also safe to
          // swallow here because the fs.open that follows is the
          // backstop — it fails loudly, never silently re-anchors
          case _: java.io.IOException => ()
        }
      }
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toInt
      finally in.close()
    }

  // the anchor version (commits at or before it stream only as the
  // snapshot phase; -1 = empty-table "latest", everything streams)
  private val anchor: Int =
    (startingVersionOpt, startingTimestampOpt) match {
      case (Some("latest"), None) =>
        persistedAnchor(headAtCreation.getOrElse(-1))
      case (Some("head"), None) =>
        persistedAnchor(headAtCreation.get) // non-empty by the require
      case (None, Some(ts)) =>
        persistedAnchor {
          val millis = parseInstantMillis(ts)
          Versioned.versionAtOrAfterInstant(spark, dir, millis)
            .getOrElse(throw new IllegalArgumentException(
              s"startingTimestamp $ts is after the last commit of " +
                s"$dir — nothing will ever anchor there; use " +
                "startingVersion=latest to stream future commits"))
        }
      case (verOpt, None) => // explicit int (default 0): deterministic
        val v = verOpt.getOrElse("0").toInt
        require(v >= 0 && headAtCreation.exists(v <= _),
          s"startingVersion $v is not a committed version of $dir " +
            s"(head is ${headAtCreation.getOrElse(-1)})")
        v
      case _ => throw new IllegalStateException("unreachable")
    }

  override val schema: StructType =
    if (rowsMode) tableSchema
    else StructType(tableSchema.fields.toSeq :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", IntegerType, nullable = false) :+
      // derived from the manifest's recorded #ts commit instant
      // (monotonic with versions); null only for pre-tracking
      // manifests — Delta CDF's _commit_timestamp, on this substrate
      StructField("_commit_timestamp", TimestampType, nullable = true))

  // the initial-snapshot extent (explicit startingVersion only): the
  // anchor version's data-file count, paged through in
  // maxFilesPerTrigger slices — at 100 TB the first batch must NOT be
  // the whole table (Delta's (reservoirVersion, index) offsets; same
  // shape here). `latest` mode has no snapshot phase.
  private val snapTotal: Long =
    if (!tailOnly)
      Versioned.manifestLineCount(spark, dir, anchor).toLong
    else 0L
  private val maxFilesPerTrigger: Int =
    opts.get("maxfilespertrigger").map(_.toInt).getOrElse(1000)
  require(maxFilesPerTrigger > 0,
    s"maxFilesPerTrigger must be positive: $maxFilesPerTrigger")

  // per-line byte sizes of the anchor snapshot (byte paging) —
  // resolved once, only when the byte cap is declared
  private lazy val snapLineSizes: Seq[Option[Long]] =
    Versioned.manifestLineSizes(spark, dir, anchor)

  // rate limiting: getOffset advances at most maxVersionsPerTrigger /
  // maxFilesPerTrigger / maxBytesPerTrigger past what the last
  // getBatch consumed (restart replays refresh it via the engine's
  // recovery getBatch call)
  @volatile private var lastSeen: (Long, Long) =
    (anchor.toLong, if (tailOnly) snapTotal else 0L)

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] =
    Versioned.latestVersion(spark, dir).flatMap { head =>
      val (lv, li) = lastSeen
      if (li < snapTotal) {
        // snapshot phase: advance through the anchor's files only —
        // by count, and under the byte budget when one is declared
        // (always at least one file per trigger; an unknown size
        // conservatively fills the trigger)
        val byFiles = math.min(li + maxFilesPerTrigger, snapTotal)
        val end = maxBytesPerTrigger match {
          case None => byFiles
          case Some(budget) =>
            var e = li + 1
            var acc = snapLineSizes(li.toInt).getOrElse(budget)
            var open = true
            while (open && e < byFiles) {
              val add = snapLineSizes(e.toInt).getOrElse(budget)
              if (acc + add <= budget) { acc += add; e += 1 }
              else open = false
            }
            e
        }
        Some(GraftChangesOffset(anchor.toLong, end))
      } else {
        val from = math.max(lv, anchor.toLong)
        val byVersions = math.min(head.toLong,
          from + maxVersionsPerTrigger)
        val capped = maxBytesPerTrigger match {
          case None => byVersions
          case Some(budget) =>
            // admit WHOLE versions until the budget fills — at least
            // one (a version fatter than the budget streams alone in
            // its own trigger; mid-version splits are unrepresentable
            // in version-granular offsets and never attempted)
            var v = from
            var acc = 0L
            var open = true
            while (open && v < byVersions) {
              val add = Versioned.versionAddedBytes(spark, dir,
                (v + 1).toInt).getOrElse(Long.MaxValue / 4)
              if (v == from || acc + add <= budget) { acc += add; v += 1 }
              else open = false
            }
            v
        }
        // "latest" mode with no new commits yet: nothing to stream
        if (capped <= anchor && tailOnly) None
        else Some(GraftChangesOffset(
          math.max(capped, anchor.toLong), snapTotal))
      }
    }

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val (endV, endIdx) = parseOffset(end)
    lastSeen = {
      val (lv, li) = lastSeen
      (math.max(lv, endV), math.max(li, endIdx))
    }
    val (fromV, fromIdx) =
      start.map(parseOffset).getOrElse((anchor.toLong, 0L))
    // mid-stream schema drift check against the window's END version:
    // renames and type changes of a streamed column fail loudly here
    // (nothing earlier in the chain can have changed — manifests are
    // immutable)
    if (endV > math.max(anchor.toLong, -1L)) guardSchemaDrift(endV.toInt)
    val tableCols = tableSchema.fields.map(_.name).toSeq
    // snapshot slice: anchor-version files [fromIdx, endIdx) as
    // inserts (explicit startingVersion's paged initial content)
    val snapshot: Option[DataFrame] =
      if (endIdx > fromIdx && !tailOnly)
        Some {
          val rows = Versioned.readSlice(spark, dir, anchor,
            fromIdx.toInt, endIdx.toInt)
          if (rowsMode) rows.select(tableCols.map(col): _*)
          else rows.select(tableCols.map(col) :+
            lit("insert").as("_change_type") :+
            lit(anchor).as("_commit_version"): _*)
        }
      else None
    // incremental feed over (fromV, endV]. A -1 anchor (latest on an
    // empty table) reads version 0's full content as its insert step.
    val changes: Option[DataFrame] =
      if (endV > fromV) Some {
        if (rowsMode)
          align(Versioned.appendsBetween(spark, dir, fromV.toInt,
            endV.toInt, skipChangeCommits), tableCols)
        else {
          val first: Option[DataFrame] =
            if (fromV < 0)
              Some(align(Versioned.read(spark, dir, Some(0))
                .withColumn("_change_type", lit("insert"))
                .withColumn("_commit_version", lit(0)), tableCols))
            else None
          val rest: Option[DataFrame] =
            if (endV > math.max(fromV, 0L) || fromV >= 0)
              Some(align(Versioned.changesBetween(spark, dir,
                math.max(fromV, 0L).toInt, endV.toInt, keyCols),
                tableCols))
            else None
          (first ++ rest).reduce(_.unionByName(_))
        }
      }
      else None
    val batch = (snapshot, changes) match {
      case (Some(s), Some(c)) => s.unionByName(c)
      case (Some(s), None) => s
      case (None, Some(c)) => c
      case (None, None) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          if (rowsMode) tableSchema
          else StructType(schema.filterNot(
            _.name == "_commit_timestamp")))
    }
    val stamped = if (rowsMode) batch else {
      // stamp ONLY the versions actually in this batch: the feed
      // window (fromV, endV] plus the anchor exactly while snapshot
      // rows are present — stamping from min(fromV, anchor) would
      // re-read O(head − anchor) commit headers EVERY micro-batch on
      // a feed anchored at 0, breaking the O(delta)-per-batch contract
      val feedVs = ((fromV + 1).max(0L) to endV).map(_.toInt)
      val snapV = if (snapshot.isDefined) Seq(anchor) else Nil
      stampInstants(batch, feedVs ++ snapV)
    }
    org.apache.spark.sql.graft.GraftStreamingShim.asStreamingFrame(
      stamped)
  }

  /** Append `_commit_timestamp` from the batch versions' recorded
    * `#ts` instants: a broadcast join against the (tiny) version →
    * instant table — never a per-row manifest read, and safe at any
    * catch-up window width. */
  private def stampInstants(feed: DataFrame,
      versions: Seq[Int]): DataFrame = {
    val inst = Versioned.commitInstants(spark, dir, versions)
    val instRows = inst.toSeq.map { case (v, ts) =>
      Row(v, ts.map(java.lang.Long.valueOf).orNull)
    }
    val instDf = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(instRows).asJava),
      StructType(Seq(
        StructField("__v", IntegerType, nullable = false),
        StructField("__ts_millis",
          org.apache.spark.sql.types.LongType, nullable = true))))
    feed.join(broadcast(instDf),
        feed("_commit_version") === instDf("__v"), "left")
      .withColumn("_commit_timestamp",
        timestamp_millis(col("__ts_millis")))
      .drop("__v", "__ts_millis")
  }

  /** Fail the query when a streamed column was RENAMED or RETYPED
    * mid-stream — identity tracked by PHYSICAL name through the
    * version-`v` column mapping, so the guard survives any number of
    * benign add/drop evolutions around the streamed set. */
  private def guardSchemaDrift(v: Int): Unit = {
    val (curSchema, curMap) = Versioned.schemaAndColMap(spark, dir, v)
    val logicalOfPhys = curMap.map(_.swap).toMap
    creationCols.foreach { case (logical, physical, dt) =>
      val currentLogical = logicalOfPhys.getOrElse(physical, physical)
      curSchema.find(_.name == currentLogical) match {
        case Some(f) =>
          if (currentLogical != logical)
            throw new IllegalStateException(
              s"graft-changes: column '$logical' was RENAMED to " +
                s"'$currentLogical' mid-stream (commit $v of $dir); " +
                "a fixed-schema stream cannot follow a rename — " +
                "restart the query to adopt the new schema")
          if (f.dataType != dt)
            throw new IllegalStateException(
              s"graft-changes: column '$logical' changed type " +
                s"${dt.simpleString} -> ${f.dataType.simpleString} " +
                s"mid-stream (commit $v of $dir); restart the query " +
                "to adopt the new schema")
        case None => () // dropped mid-stream: null-fills (allowed)
      }
    }
  }

  /** Render a feed window under the SOURCE's fixed schema: a column a
    * later commit added is dropped from this stream (it was not in
    * the contract), a column a drop/replace removed null-fills.
    * Renames and type changes never reach here — [[guardSchemaDrift]]
    * failed the batch first. */
  private def align(feed: DataFrame, tableCols: Seq[String]): DataFrame = {
    val present = feed.columns.toSet
    val metaCols =
      if (rowsMode) Nil
      else Seq(col("_change_type"), col("_commit_version"))
    feed.select(tableCols.map { c =>
      if (present.contains(c)) col(c)
      else lit(null).cast(tableSchema(c).dataType).as(c)
    } ++ metaCols: _*)
  }

  /** `(version, snapshotFilesConsumed)` from any offset the engine
    * hands back: ours, its serialized twin, or a bare long from a
    * pre-chunking checkpoint (treated as snapshot-complete). */
  private def parseOffset(
      o: org.apache.spark.sql.execution.streaming.Offset): (Long, Long) =
    o match {
      case g: GraftChangesOffset => (g.version, g.idx)
      case l: LongOffset => (l.offset, snapTotal)
      case other => GraftChangesOffset.parse(other.json, snapTotal)
    }

  override def commit(
      end: org.apache.spark.sql.execution.streaming.Offset): Unit = ()

  override def stop(): Unit = ()
}

/** The source's composite offset: `version` = last table version
  * consumed, `idx` = anchor-snapshot files consumed (Delta's
  * (reservoirVersion, index) shape). JSON so checkpoints replay it
  * across restarts. */
final case class GraftChangesOffset(version: Long, idx: Long)
  extends org.apache.spark.sql.execution.streaming.Offset {
  override def json: String = s"""{"v":$version,"idx":$idx}"""
}

object GraftChangesOffset {
  /** Parse the json form; a bare long (a pre-chunking checkpoint)
    * reads as that version with the snapshot complete. */
  def parse(json: String, snapTotal: Long): (Long, Long) = {
    val t = json.trim
    if (t.startsWith("{")) {
      val m = """"v"\s*:\s*(-?\d+).*"idx"\s*:\s*(-?\d+)""".r
        .findFirstMatchIn(t).getOrElse(throw new IllegalArgumentException(
          s"unreadable graft-changes offset: $json"))
      (m.group(1).toLong, m.group(2).toLong)
    } else (t.toLong, snapTotal)
  }
}

/** `DataSourceRegister` so `.format("graft-changes")` resolves by
  * short name (META-INF/services registration). A user schema is
  * accepted in exactly two shapes: the empty-table `latest` anchor
  * (nothing to derive a schema from yet) and the catalog's V1
  * streaming fallback (which passes the table's own schema through —
  * validated equal). Anything else is refused: the table, not the
  * caller, owns the schema.
  *
  * Also a [[StreamSinkProvider]]: `writeStream.format("graft-changes")`
  * (and its plain alias, [[GraftSourceProvider]] `"graft"`) routes
  * micro-batches through [[GraftSink]]'s exactly-once
  * `idempotentCommit` — one provider class serving both halves is
  * what lets `writeStream.toTable("graft.db.t")` resolve through the
  * catalog's `V2TableWithV1Fallback` CatalogTable, whose single
  * `provider` field names the class for reads AND writes. */
class GraftChangesSourceProvider
  extends StreamSourceProvider with StreamSinkProvider
  with DataSourceRegister {

  override def shortName(): String = "graft-changes"

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(),
      new GraftChangesSource(sqlContext, parameters,
        userSchema = schema).schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GraftChangesSource(sqlContext, parameters, Some(metadataPath),
      schema)

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft tables take no hive-style partition columns — file " +
        "CLUSTERING plus per-file min/max stats and blooms is the " +
        "layout lever on this substrate: declare write-time " +
        "clustering with TBLPROPERTIES ('graft.cluster.cols'='c1,c2')" +
        " / Versioned.setPolicy(clusterBy = …), or re-cluster with " +
        "CALL graft.system.compact(cluster_by => …, zorder => …) / " +
        "Versioned.compactCommit — both give readers the same file " +
        "pruning a partition filter would, without small-file " +
        "explosion or partition-evolution rewrites")
    val keyCols = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("keycols") => GraftSink.colList(v)
    }.getOrElse(Nil)
    require(outputMode != OutputMode.Update() || keyCols.nonEmpty,
      "graft sink in Update output mode needs .option(\"keyCols\", " +
        "\"k1,k2\") — Update emits the keys each trigger changed, and " +
        "each row must overwrite its key's previous state; without " +
        "keys the partial rows have no upsert semantics. Use Append " +
        "for plain ingest or Complete for whole-result aggregates.")
    require(outputMode == OutputMode.Append() ||
      outputMode == OutputMode.Complete() ||
      outputMode == OutputMode.Update(),
      s"graft sink supports Append, Complete, and Update (with " +
        s"keyCols) output modes, got $outputMode")
    // CDC options bind to the Update-mode upsert path only — on
    // Append/Complete they would be silently meaningless, which is
    // exactly the kind of configuration lie a sink must refuse
    def opt(name: String): Option[String] = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) => v }
    val cdcOpts = Seq("opColumn", "seqColumn", "deleteOp", "tombstones")
      .filter(o => opt(o).isDefined)
    require(outputMode == OutputMode.Update() || cdcOpts.isEmpty,
      s"graft sink options ${cdcOpts.mkString(", ")} apply to Update " +
        "output mode only (they shape the per-key upsert/delete " +
        s"merge); got $outputMode")
    require(opt("opColumn").isEmpty || opt("seqColumn").isDefined,
      "graft sink opColumn needs .option(\"seqColumn\", <col>) too — " +
        "CDC apply is ordered by definition: without a sequence the " +
        "winner between an update and a delete of the same key is " +
        "arbitrary (cdcIngest's max-semilattice contract)")
    require(opt("deleteOp").isEmpty || opt("opColumn").isDefined,
      "graft sink deleteOp qualifies opColumn — declare both")
    require(opt("tombstones").isEmpty || opt("opColumn").isDefined,
      "graft sink tombstones qualifies opColumn — declare both")
    opt("tombstones").foreach(v => require(
      v.equalsIgnoreCase("retain") || v.equalsIgnoreCase("drop"),
      s"graft sink tombstones must be 'retain' or 'drop', got '$v'"))
    new GraftSink(sqlContext, parameters,
      complete = outputMode == OutputMode.Complete(),
      upsertKeys =
        if (outputMode == OutputMode.Update()) keyCols else Nil)
  }
}

/** The plain `"graft"` format alias — the name a user reaches for
  * first (`writeStream.format("graft")` / `readStream.format("graft")`)
  * and the provider the catalog's [[graft.sql.GraftTable]] V1 fallback
  * names, so `readStream.table` and `writeStream.toTable` resolve the
  * same class. Behavior is identical to `graft-changes`. */
final class GraftSourceProvider extends GraftChangesSourceProvider {
  override def shortName(): String = "graft"
}
