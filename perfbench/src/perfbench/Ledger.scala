package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.lake.Versioned

/** What the workload loop records. Untraced, an operation costs one pair
  * of `nanoTime` reads; traced, it also snapshots every counter of
  * [[Trace]] before and after and files the differences under the
  * per-layer metric names of [[Ledger.perLayer]].
  *
  * `kind` is the end-to-end class of the operation (append, merge, delete,
  * maintain, point, scan, ext, trigger); `lake` is its finer lake class
  * (`range` and `scan` are both end-to-end scans); `table` is the table
  * directory a lake operation touches. */
final class Ledger(spark: SparkSession, val trace: Option[Trace]) {
  val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Totals over every traced op, reported as a mean per op. */
  private val pooled = mutable.LinkedHashMap(Ledger.pooled.map(_ -> 0.0): _*)
  private var tracedOps = 0L
  /** Wall time of the last op, ms. */
  var lastMs = 0.0

  def sample(name: String, v: Double): Unit = {
    require(Ledger.perLayer.contains(name) && !pooled.contains(name),
      s"$name is not a per-operation field of the ledger")
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  private def pool(name: String, v: Double): Unit = pooled(name) += v

  def op[A](kind: String, lake: String = "", table: String = "")(f: => A): A =
    trace match {
      case None =>
        val t0 = System.nanoTime()
        val r = f
        lastMs = (System.nanoTime() - t0) / 1e6
        times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += lastMs
        r
      case Some(tr) =>
        val lk = if (lake.nonEmpty) lake else kind
        val head0 = if (table.nonEmpty) lines(table) else Nil
        val a = tr.snapshot()
        val t0 = System.nanoTime()
        val r = f
        val ms = (System.nanoTime() - t0) / 1e6
        val b = tr.snapshot()
        lastMs = ms
        times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        FsCounts.paused = true
        try record(tr, kind, lk, table, head0, a, b, ms)
        finally FsCounts.paused = false
        r
    }

  private val commitKinds = Set("append", "merge", "delete", "maintain")
  private val readKinds = Set("point", "range", "scan")
  private val sparkKinds = Set("append", "merge", "delete", "trigger", "point", "scan", "ext")

  /** The head version's manifest data lines, read outside the counters. */
  def lines(table: String): Seq[String] = {
    FsCounts.paused = true
    try Versioned.latestVersion(spark, table)
      .map(v => Versioned.manifestDataLines(spark, table, v)).getOrElse(Nil)
    finally FsCounts.paused = false
  }

  private def record(tr: Trace, kind: String, lk: String, table: String,
      head0: Seq[String], a: Snap, b: Snap, ms: Double): Unit = {
    tracedOps += 1
    pool("jvm.gc_ms", (b.gcMs - a.gcMs).toDouble)
    pool("jvm.gc_count", (b.gcCount - a.gcCount).toDouble)
    Seq("analysis", "optimization", "planning").foreach(p =>
      pool(s"catalyst.${p}_ms", (b.phases(p) - a.phases(p)).toDouble))
    val gapMs = tr.driverGapMs(a, b)
    val cpuMs = (b.cpuNs - a.cpuNs) / 1e6
    pool("spark.driver_gap_ms", gapMs)
    pool("spark.executor_cpu_ms", cpuMs)
    val fsPrefix =
      if (kind == "trigger") Some("streaming.trigger.fs")
      else if (commitKinds(lk)) Some(s"lake.$lk.fs") else None
    fsPrefix.foreach(p => FsCounts.kinds.foreach(k =>
      sample(s"$p.$k", (b.fs(k) - a.fs(k)).toDouble)))
    if (commitKinds(lk) || readKinds(lk))
      sample(s"lake.$lk.manifest_bytes_read",
        (b.fs("manifest_bytes") - a.fs("manifest_bytes")).toDouble)
    if (commitKinds(lk) && table.nonEmpty) {
      val head1 = lines(table)
      val before = head0.map(rel).toSet
      val after = head1.map(rel).toSet
      val added = head1.filterNot(l => before(rel(l)))
      sample(s"lake.$lk.files_added", added.size.toDouble)
      sample(s"lake.$lk.files_removed", (before -- after).size.toDouble)
      sample(s"lake.$lk.bytes_written", added.map(l =>
        new java.io.File(s"$table/${rel(l)}").length()).sum.toDouble)
    }
    if (readKinds(lk) && table.nonEmpty) {
      // the op's table's files its scans planned: data files against
      // DV and bloom sidecars (another table's files, as in a join, are
      // in neither)
      val data = head0.map(rel).toSet
      val own = tr.scannedBetween(a, b).flatMap(f => Ledger.relTo(table, f))
      val nData = own.count(data)
      sample(s"lake.$lk.files_read", nData.toDouble)
      sample(s"lake.$lk.sidecars_read", (own.size - nData).toDouble)
      sample(s"lake.$lk.files_total", head0.size.toDouble)
    }
    if (sparkKinds(kind)) {
      sample(s"spark.$kind.jobs", (b.jobs - a.jobs).toDouble)
      sample(s"spark.$kind.tasks", (b.tasks - a.tasks).toDouble)
      sample(s"spark.$kind.driver_gap_pct", 100 * gapMs / ms)
      sample(s"spark.$kind.executor_cpu_pct", 100 * cpuMs / ms)
      sample(s"spark.$kind.shuffle_bytes", (b.shuffle - a.shuffle).toDouble)
      sample(s"spark.$kind.spill_bytes", (b.spill - a.spill).toDouble)
    }
    if (kind == "trigger") tr.progressBetween(a, b).lastOption.foreach { e =>
      val d = e.progress.durationMs
      Ledger.triggerPhases.foreach(p =>
        sample(s"streaming.trigger.${p}_pct",
          100 * Option(d.get(p)).map(_.doubleValue).getOrElse(0.0) / ms))
      sample("streaming.state_rows",
        e.progress.stateOperators.map(_.numRowsTotal).sum.toDouble)
    }
  }

  /** Manifest line → the data file's table-relative path. */
  private def rel(line: String): String = line.takeWhile(_ != '\t')

  /** Rows in the data files a commit added, for the MERGE rewrite ratio:
    * counted from the files' parquet footers, outside the counters. */
  def rowsAdded(table: String, before: Seq[String]): Long = {
    val old = before.map(rel).toSet
    val added = lines(table).map(rel).filterNot(old).map(r => s"$table/$r")
    if (added.isEmpty) 0L
    else {
      FsCounts.paused = true
      try spark.read.parquet(added: _*).count()
      finally FsCounts.paused = false
    }
  }

  /** The per-layer ledger, every field of [[Ledger.perLayer]] in order:
    * the median of each per-operation field over its operations (0 when
    * the workload makes no operation of that kind), and the pooled fields
    * as a mean per traced operation. */
  def layerMetrics: Seq[(String, Double, String)] = {
    val ops = math.max(tracedOps, 1L).toDouble
    Ledger.perLayer.map { k =>
      val v = pooled.get(k).map(_ / ops)
        .getOrElse(layer.get(k).map(vs => Stats.median(vs.toSeq)).getOrElse(0.0))
      (k, v, Ledger.unit(k))
    }
  }
}

object Ledger {
  val triggerPhases: Seq[String] = Seq("latestOffset", "getBatch",
    "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** Fields that are totals over every traced operation of the run. Times
    * are kept only in this pooled form, so that each reads a measured
    * value on every workload; per op kind, times are shares of the op. */
  val pooled: Seq[String] = Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "spark.driver_gap_ms", "spark.executor_cpu_ms",
    "jvm.gc_ms", "jvm.gc_count")

  /** Every field of the traced ledger, in the order it is printed. */
  val perLayer: Seq[String] = {
    val commit = for (op <- Seq("append", "merge", "delete", "maintain");
        f <- FsCounts.kinds.map("fs." + _) ++
          Seq("manifest_bytes_read", "bytes_written", "files_added", "files_removed"))
      yield s"lake.$op.$f"
    val read = for (op <- Seq("point", "range", "scan");
        f <- Seq("files_read", "sidecars_read", "files_total", "manifest_bytes_read"))
      yield s"lake.$op.$f"
    val spark = for (op <- Seq("append", "merge", "delete", "trigger", "point", "scan", "ext");
        f <- Seq("jobs", "tasks", "driver_gap_pct", "executor_cpu_pct", "shuffle_bytes",
          "spill_bytes"))
      yield s"spark.$op.$f"
    commit ++ Seq("lake.merge.rows_rewritten_per_row_changed") ++ read ++
      triggerPhases.map(p => s"streaming.trigger.${p}_pct") ++
      FsCounts.kinds.map(k => s"streaming.trigger.fs.$k") ++ Seq("streaming.state_rows") ++
      spark ++ Seq("transform.plan_pct", "ext.dedup.candidate_pairs",
        "ext.dedup.verified_pairs") ++ pooled
  }

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("bytes") || name.endsWith("bytes_read") ||
      name.endsWith("bytes_written")) "B"
    else if (name.endsWith("_per_row_changed")) "ratio"
    else "count"

  /** A scanned file's path relative to `table`, if it lies under it. */
  def relTo(table: String, file: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(file).toUri.getPath
    if (p.startsWith(table + "/")) Some(p.drop(table.length + 1)) else None
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geometric mean of $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
