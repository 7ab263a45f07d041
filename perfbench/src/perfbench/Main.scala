package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a set-up that builds a fresh steady
  * state under `dir`, a warm-up, whole rounds of the timed closed loop, and
  * the output checks that run after timing stops. */
trait Workload {
  /** Writes the generated input files under `dir`, once per run. */
  def generate(dir: String): Unit = ()
  def setUp(dir: String, attempt: Int): Unit
  /** Untimed work after the last set-up, so that JIT and caches are warm
    * for every operation the timed rounds make. */
  def warmUp(l: Ledger): Unit
  /** One whole round; returns the main operations it completed (cycles,
    * triggers or queries). */
  def round(l: Ledger): Int
  /** The op kinds whose medians `p50_geomean_ms` combines. */
  def kinds: Seq[String]
  /** Bytes of every file under the workload's table directories per live
    * row, after the timed phase. */
  def storedBytesPerRow(): Double
  /** Failures of the output checks; empty when every output is right. */
  def check(): Seq[String]
  def stop(): Unit = ()
}

object Main {
  /** Set-ups made per run; `setup_s` reports their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(work, traced)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val trace = if (traced) Some(new Trace(spark)) else None
    val w: Workload = name match {
      case "poll_cycle" => new PollCycle(spark, seed)
      case "sink_upsert" => new SinkUpsert(spark, seed)
      case "analytics" => new Analytics(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var code = 0
    try {
      val g0 = System.nanoTime()
      w.generate(s"$work/input")
      val genS = (System.nanoTime() - g0) / 1e9
      val setupTimes = (0 until Setups).map { i =>
        val t0 = System.nanoTime()
        w.setUp(s"$work/s$i", i)
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      w.warmUp(new Ledger(spark, None))
      val warmS = (System.nanoTime() - w0) / 1e9

      val l = new Ledger(spark, trace)
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      var done = 0L
      while (System.nanoTime() < deadline) done += w.round(l)
      val timedS = (System.nanoTime() - t0) / 1e9

      val stored = w.storedBytesPerRow()
      val heapMb = liveHeapMb()
      val c0 = System.nanoTime()
      val failures = w.check()
      val checkS = (System.nanoTime() - c0) / 1e9
      failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))

      val metrics: Seq[(String, Double, String)] =
        if (traced) l.layerMetrics
        else Seq(("setup_s", sessionS + genS + Stats.median(setupTimes), "s"),
            ("heap_live_mb", heapMb, "MB"), ("ops_per_s", done / timedS, "1/s"),
            ("p50_geomean_ms", Stats.geomean(w.kinds.map(k => Stats.median(l.times(k).toSeq))),
              "ms"),
            ("stored_bytes_per_row", stored, "B"))
      val attempted = l.times.values.map(_.size).sum
      System.err.println(f"[perfbench] $name seed=$seed session=$sessionS%.2fs gen=$genS%.2fs " +
        s"setups=${setupTimes.map(t => f"$t%.2f").mkString(",")} " +
        f"warm=$warmS%.2fs timed=$timedS%.2fs check=$checkS%.2fs ops=$done attempted=$attempted")
      l.times.foreach { case (k, vs) => System.err.println(
        f"[perfbench]   $k%-10s n=${vs.size}%3d p50=${Stats.median(vs.toSeq)}%9.1f ms " +
          vs.map(v => f"$v%.0f").mkString(" ")) }
      println(json(failures.isEmpty, attempted, metrics))
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        code = 1
    } finally {
      try w.stop() catch { case NonFatal(e) => e.printStackTrace() }
      spark.stop()
    }
    sys.exit(code)
  }

  private def session(work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.default.parallelism", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft", classOf[graft.sql.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", s"$work/wh")
      // no background state-store maintenance inside a run: its timing
      // would make per-trigger filesystem counts depend on the clock
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    if (traced) Trace.conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after full collections. The pauses let Spark's context
    * cleaner drop the broadcast blocks the first collection released, so
    * the last collection sees only what the session still holds. */
  private def liveHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** The result line. No operation is allowed to fail: one that throws
    * ends the run without a result, so `failed` is always 0. */
  def json(correct: Boolean, attempted: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": 0, "metrics": {$ms}}"""
  }

  /** Bytes of every regular file under `dir` (data, manifests, sidecars). */
  def duBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    finally s.close()
  }

  def rmTree(dir: String): Unit = {
    val p: Path = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
      finally s.close()
    }
  }
}
