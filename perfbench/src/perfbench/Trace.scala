package perfbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream,
  FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, LocatedFileStatus,
  Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters of `file:` filesystem calls, by kind. Only the
  * traced run installs the counting filesystems, so untraced runs never
  * touch these. `paused` stops counting while the benchmark does its own
  * bookkeeping between operations; calls a counted call makes on the same
  * thread (a `create` that checks its parent's status) are not counted
  * again. */
object FsCounts {
  val kinds: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete")
  private val counts = kinds.map(k => k -> new AtomicLong).toMap
  private val manifestBytesOpened = new AtomicLong
  private val inner = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  @volatile var paused = false

  def count[A](kind: String, onCount: => Unit = ())(f: => A): A =
    if (inner.get) f
    else {
      inner.set(true)
      try {
        if (!paused) { counts(kind).incrementAndGet(); onCount }
        f
      } finally inner.set(false)
    }

  /** Bytes of a manifest file being opened (one more status call, which
    * the caller's `count` keeps out of the counters). */
  def opened(fs: FileSystem, f: Path): Unit =
    if (f.getParent != null && f.getParent.getName == "_manifest") {
      val len = try fs.getFileStatus(f).getLen catch { case _: Exception => 0L }
      manifestBytesOpened.addAndGet(len)
    }

  def snapshot(): Map[String, Long] =
    counts.map { case (k, v) => k -> v.get } +
      ("manifest_bytes" -> manifestBytesOpened.get)
}

/** Counting mix-in over a local filesystem: every call of the six kinds
  * counts once, then runs unchanged. `exists`/`isFile` reach
  * `getFileStatus`, so they count as status calls. */
trait CountingCalls extends FileSystem {
  import FsCounts.count
  abstract override def listStatus(f: Path): Array[FileStatus] =
    count("list")(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    count("list")(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    count("list")(super.listStatusIterator(f))
  abstract override def getFileStatus(f: Path): FileStatus =
    count("status")(super.getFileStatus(f))
  abstract override def open(f: Path, bufferSize: Int): FSDataInputStream =
    count("open", FsCounts.opened(this, f))(super.open(f, bufferSize))
  abstract override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    count("create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  abstract override def rename(src: Path, dst: Path): Boolean =
    count("rename")(super.rename(src, dst))
  abstract override def delete(f: Path, recursive: Boolean): Boolean =
    count("delete")(super.delete(f, recursive))
}

/** `fs.file.impl` of the traced run (the FileSystem API: the lake, parquet). */
class CountingLocalFs extends LocalFileSystem with CountingCalls

class CountingRawLocalFs extends RawLocalFileSystem with CountingCalls

/** `fs.AbstractFileSystem.file.impl` of the traced run (the FileContext API
  * the streaming checkpoint manager writes offsets and commits through). */
class CountingLocalAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new CountingRawLocalFs, conf, "file", false)

/** Listener-side totals: jobs with their wall intervals, task metrics,
  * Catalyst phase times, planned-file counts and streaming progress. One
  * instance per traced session; [[Trace.snapshot]] reads it after draining
  * the listener bus. */
final class Listeners extends SparkListener with QueryExecutionListener {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  val phases = mutable.HashMap("analysis" -> 0L, "optimization" -> 0L,
    "planning" -> 0L)
  /** Every file the executed plans' file scans planned, in order. */
  val scanned = mutable.ArrayBuffer.empty[String]
  var progress = Vector.empty[StreamingQueryListener.QueryProgressEvent]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (k, s) =>
      if (phases.contains(k)) phases(k) += s.durationMs
    }
    scans(qe.executedPlan).foreach(s => scanned ++= s.relation.location.inputFiles)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized { progress :+= e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

/** One point-in-time reading of every traced counter. */
final case class Snap(wallMs: Long, fs: Map[String, Long], jobs: Long,
    tasks: Long, cpuNs: Long, shuffle: Long, spill: Long, phases: Map[String, Long],
    nScanned: Int, nProgress: Int, nSpans: Int, gcMs: Long, gcCount: Long)

final class Trace(spark: SparkSession) {
  val l = new Listeners
  spark.sparkContext.addSparkListener(l)
  spark.listenerManager.register(l)
  spark.streams.addListener(l.streaming)

  private def gc(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
  }

  def snapshot(): Snap = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (gms, gcount) = gc()
    l.synchronized {
      Snap(System.currentTimeMillis(), FsCounts.snapshot(), l.jobs, l.tasks,
        l.cpuNs, l.shuffleBytes, l.spillBytes, l.phases.toMap, l.scanned.size,
        l.progress.size, l.jobSpans.size, gms, gcount)
    }
  }

  /** Wall time of [t0, t1] covered by no Spark job: time the Spark driver spends alone. */
  def driverGapMs(a: Snap, b: Snap): Double = {
    val spans = l.synchronized(l.jobSpans.slice(a.nSpans, b.nSpans).toVector)
      .map { case (s, e) => (math.max(s, a.wallMs), math.min(e, b.wallMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    spans.foreach { case (s, e) =>
      val from = math.max(s, end)
      if (e > from) covered += e - from
      end = math.max(end, e)
    }
    (b.wallMs - a.wallMs - covered).toDouble
  }

  def scannedBetween(a: Snap, b: Snap): Vector[String] =
    l.synchronized(l.scanned.slice(a.nScanned, b.nScanned).toVector)

  def progressBetween(a: Snap, b: Snap): Vector[StreamingQueryListener.QueryProgressEvent] =
    l.synchronized(l.progress.slice(a.nProgress, b.nProgress))
}

object Trace {
  /** Session settings that install the counting `file:` filesystems. */
  val conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[CountingLocalFs].getName,
    "spark.hadoop.fs.file.impl.disable.cache" -> "true",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[CountingLocalAfs].getName)
}
