package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution

import graft.lake.Versioned

/** `df.writeStream.format("graft")` — the first-class STREAMING SINK
  * over the versioned lake, the write half of [[GraftChangesSource]].
  * Exactly-once streaming ingest is the standard Structured Streaming
  * wiring:
  *
  * {{{
  *   df.writeStream.format("graft")
  *     .option("path", tableDir)          // or .toTable("graft.db.t")
  *     .option("checkpointLocation", cp)
  *     .start()
  * }}}
  *
  * Exactly-once: every micro-batch routes through
  * [[Versioned.idempotentCommit]], stamped `(appId, batchId)` in the
  * manifest it publishes (Delta's `txn` action on this substrate).
  * `appId` defaults to the STREAMING QUERY ID — the engine persists it
  * in the checkpoint's metadata and republishes it on every restart
  * (`sql.streaming.queryId` local property, the same identity
  * `DeltaSink` keys its transactions on) — so a crash anywhere
  * between staging and the offset-log commit resolves to exactly one
  * append on replay: Spark re-runs the failed batch with the SAME
  * batchId, a staged-but-unpublished attempt is invisible (expire's
  * orphan grace sweeps it), and a published-but-unacknowledged one is
  * recognized by its stamp and skipped. `txnAppId` overrides the
  * identity for writers that re-checkpoint but must keep their
  * idempotence key.
  *
  * Output modes: APPEND commits each batch as a new version
  * (`changesBetween` over the ingest history replays the stream as a
  * CDC feed); COMPLETE publishes the trigger's whole result as a
  * stamped REPLACE — the streaming-aggregate shape, every trigger a
  * time-travelable version of the rollup; UPDATE with
  * `.option("keyCols", "k1,k2")` routes each batch through
  * [[Versioned.idempotentMerge]] — the keyed streaming-UPSERT shape:
  * an Update-mode aggregation emits only the keys each trigger
  * changed, and each emitted row overwrites its key's previous state
  * (a CDC-consuming rollup materialized as a lake table, every
  * trigger a time-travelable version). Update WITHOUT keyCols is
  * refused loudly at query start — partial rows have no keyless
  * upsert semantics on this substrate.
  *
  * Update-mode CDC (round 18): `.option("opColumn", "_op")` +
  * `.option("seqColumn", "seq")` turns each batch row into an
  * upsert-or-DELETE of its key via
  * [[Versioned.idempotentMergeCdc]] — [[graft.ops.ChangeApply]]'s
  * max-semilattice as one key-pruned merge per trigger (the engine
  * of [[Streams.cdcIngest]]); `seqColumn` may be a comma list
  * (`"ts,event_id"`), most significant first: within-batch rows
  * pre-compact by `seqColumn` (multi-row keys are legal), a matched
  * key updates only when the incoming `(seq, op, payload)` struct
  * wins, and tombstones are retained by default so a late update
  * older than an applied delete cannot resurrect the key (read the
  * live view with `op <> deleteOp`; `deleteOp` defaults to "D").
  * Key columns must not be NULL: a NULL-keyed row fails its batch,
  * naming the key column (under SQL equality it would match nothing
  * and insert again on every later batch).
  * `.option("tombstones", "drop")` is the live-table shape instead:
  * a winning delete removes the row — correct when the feed's seq is
  * per-key monotone across batches. `seqColumn` WITHOUT `opColumn`
  * declares within-batch last-writer-wins for plain upserts (the
  * multi-row-per-key `flatMapGroupsWithState` writer shape); without
  * it such a batch refuses loudly, naming this contract.
  *
  * Scale shape: the commit stages the batch's rows as parquet via one
  * distributed write action (no driver materialization), measures
  * stats/blooms per the TABLE's declared policy, and publishes one
  * O(changed files) delta manifest through the CAS loop — concurrent
  * batch writers and other streams interleave safely. The Update
  * merge rewrites O(files holding a matched key), not the table —
  * stats/bloom pruning applies to the upsert path exactly as to
  * batch MERGE INTO.
  */
final class GraftSink(sqlContext: SQLContext,
    parameters: Map[String, String], complete: Boolean = false,
    upsertKeys: Seq[String] = Nil)
  extends Sink {

  private val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
  private val dir = opts.getOrElse("path",
    throw new IllegalArgumentException(
      "graft sink needs option 'path' (the versioned table directory)" +
        " — writeStream.format(\"graft\").option(\"path\", dir) or" +
        " .toTable(\"graft.db.t\")"))
  private val appIdOverride = opts.get("txnappid")
  // CDC options (Update mode only — validated at createSink): an op
  // column turns each batch row into an upsert-or-delete of its key
  // under [[Versioned.idempotentMergeCdc]]'s max-semilattice; seq
  // columns alone declare within-batch last-writer-wins for plain
  // upserts (multi-row-per-key Update batches — the
  // flatMapGroupsWithState writer shape). `seqColumn` is a comma
  // list, most significant first, parsed as `keyCols` is
  private val opCol = opts.get("opcolumn")
  private val seqCols = opts.get("seqcolumn").map(GraftSink.colList)
    .getOrElse(Nil)
  private val deleteOp = opts.getOrElse("deleteop", "D")
  private val retainTombstones =
    !opts.get("tombstones").exists(_.equalsIgnoreCase("drop"))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = sqlContext.sparkSession
    val appId = GraftSink.streamAppId(spark, appIdOverride)
    // the incoming frame is bound to the engine's incremental
    // execution — re-wrap its physical result as a batch frame the
    // lake's write action can plan (the DeltaSink hop)
    val batch = org.apache.spark.sql.graft.GraftStreamingShim
      .asBatchFrame(data)
    // the declared CDC columns must be stream columns (both are empty
    // outside Update mode: createSink refuses them there)
    (opCol.map(_ -> "opColumn") ++ seqCols.map(_ -> "seqColumn"))
      .foreach { case (c, o) => require(batch.columns.contains(c),
        s"graft sink $o names '$c', which is not in the stream's " +
          s"columns ${batch.columns.mkString("[", ", ", "]")}")
      }
    // Update mode: each batch row upserts (or, with an op column,
    // deletes) its key. Complete mode: the batch is the WHOLE result
    // table — a stamped replace (every trigger a time-travelable
    // version of the aggregate). Append mode appends as usual.
    if (upsertKeys.nonEmpty) opCol match {
      case Some(oc) =>
        Versioned.idempotentMergeCdc(spark, dir, batch, upsertKeys,
          seqCols, oc, deleteOp, appId, batchId,
          retainTombstones = retainTombstones)
      case None =>
        // within-batch last-writer-wins by the declared ordering: one
        // winner row per key crosses into the merge (the
        // multi-row-per-key Update contract)
        val pre =
          if (seqCols.isEmpty) batch
          else Versioned.compactByKey(batch, upsertKeys,
            seqCols ++ batch.columns.toSeq.filterNot(c =>
              upsertKeys.contains(c) || seqCols.contains(c)))
        // one-row-per-key sources skip the merge's grouped cardinality
        // probe (one exchange per TRIGGER on this path): the seqColumn
        // pre-compaction guarantees it by construction, and the plain
        // Update-mode case proves it from the batch's own plan — a
        // streaming aggregate keyed on (a subset of) the merge keys
        // cannot emit two rows for one key. Detection is conservative
        // (a non-aggregate plan keeps the probe, which IS the
        // duplicate-key error check for the multi-row shape below).
        val distinctByKey =
          seqCols.nonEmpty || GraftSink.aggregatedOnKeys(data, upsertKeys)
        try Versioned.idempotentMerge(spark, dir, pre, upsertKeys,
          appId, batchId, sourceDistinctByKey = distinctByKey)
        catch {
          case e: IllegalArgumentException
              if seqCols.isEmpty && Option(e.getMessage)
                .exists(_.contains("duplicate keys")) =>
            // the flatMapGroupsWithState shape fails PREDICTABLY:
            // name the contract and the knob that opts into it
            throw new IllegalArgumentException(e.getMessage +
              " — an Update-mode batch with several rows per key " +
              "needs an explicit ordering: declare " +
              ".option(\"seqColumn\", <col>) for last-writer-wins " +
              "within the batch, or aggregate upstream so each " +
              "trigger emits one row per key", e)
        }
    }
    else
      Versioned.idempotentCommit(spark, dir, batch, appId, batchId,
        replace = complete)
    ()
  }

  override def toString: String =
    s"GraftSink[$dir${
      if (complete) ", complete"
      else if (upsertKeys.nonEmpty) upsertKeys.mkString(", update on (", ", ", ")")
      else ""}]"
}

private[graft] object GraftSink {

  /** The exactly-once identity of the micro-batch running on this
    * thread: `txnAppId` when given, else the STREAMING QUERY ID, which
    * MicroBatchExecution publishes as a local property on the stream
    * execution thread that calls a sink's `addBatch` (and a
    * `foreachBatch` function), and persists in the checkpoint. A
    * Spark-internal contract — so when it is absent (a foreign
    * thread, a future engine refactor) this fails LOUDLY rather than
    * minting a fresh identity that would silently forfeit replay
    * protection. Every streaming write into a graft table stamps its
    * commit `(streamAppId, batchId)`. */
  def streamAppId(spark: SparkSession,
      txnAppId: Option[String] = None): String =
    txnAppId.orElse(Option(spark.sparkContext.getLocalProperty(
      StreamExecution.QUERY_ID_KEY)))
      .getOrElse(throw new IllegalStateException(
        "graft sink could not resolve an idempotence key: no " +
          "streaming query id on this thread and no txnAppId option"))

  /** A comma-list option (`keyCols`, `seqColumn`) as column names. */
  def colList(v: String): Seq[String] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** True when `data`'s OWN plan proves at most one row per `keys`
    * tuple: the root (through key-preserving Projects/aliases) is an
    * Aggregate whose grouping columns are bare attributes forming a
    * SUBSET of `keys` — distinct on a subset implies distinct on the
    * whole tuple. Conservative by construction: any node it does not
    * recognize (joins, flatMapGroupsWithState, generators — anything
    * that could re-duplicate keys) answers false and the caller keeps
    * the cardinality probe. A Project rebinding a key NAME to a new
    * expression (alias) also answers false — the aggregate's
    * per-group uniqueness would say nothing about the rebound
    * column. */
  def aggregatedOnKeys(data: DataFrame, keys: Seq[String]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.streaming.sources.WriteToMicroBatchDataSourceV1
    val keySet = keys.toSet
    def walk(p: LogicalPlan): Boolean = p match {
      // the micro-batch plan handed to a V1 sink's addBatch is the
      // query wrapped in its own write node — row-transparent here
      case w: WriteToMicroBatchDataSourceV1 => walk(w.child)
      case Project(list, child) =>
        list.forall {
          case _: AttributeReference => true
          case a => !keySet.contains(a.name) // alias may rebind a key
        } && walk(child)
      case SubqueryAlias(_, child) => walk(child)
      case a: Aggregate =>
        // rows are unique per grouping tuple; that carries to the
        // merge-keys tuple iff (1) every grouping expression is a bare
        // key-named attribute, (2) each survives bare into the output
        // (an aggregate VALUE aliased to a grouping name — max(x) AS
        // user_id — is unique per group but its values can collide
        // across groups), (3) nothing else shadows a grouping name.
        // Key-named outputs beyond the grouping attrs are harmless:
        // uniqueness on a subset implies uniqueness on the superset.
        val groupAttrs = a.groupingExpressions.collect {
          case ar: AttributeReference => ar
        }
        groupAttrs.nonEmpty &&
          groupAttrs.size == a.groupingExpressions.size &&
          groupAttrs.forall(ar => keySet.contains(ar.name)) &&
          groupAttrs.forall(ar => a.aggregateExpressions.exists {
            case o: AttributeReference => o.exprId == ar.exprId
            case _ => false
          }) &&
          a.aggregateExpressions.forall {
            case _: AttributeReference => true
            case o => !groupAttrs.exists(_.name == o.name)
          }
      case _ => false
    }
    try walk(data.queryExecution.analyzed)
    catch { case scala.util.control.NonFatal(_) => false }
  }
}
