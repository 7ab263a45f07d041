package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, max, struct}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.lake.Versioned

/** One generated sensor reading; `ts` is unique and increasing. */
final case class Reading(loc: Long, ts: Long, temp: Double, pressure: Double, wind: Double)

/** Keyed streaming upsert through `writeStream.format("graft")` in Update
  * mode: the latest reading per locality, one `processAllAvailable` per
  * batch. */
final class SinkUpsert(spark: SparkSession, seed: Long) extends Workload {
  import SinkUpsert._

  private var dir = ""
  private def table = s"$dir/current"
  private var stream: MemoryStream[Reading] = _
  private var query: StreamingQuery = _
  private var batch = 0
  private val model = mutable.HashMap.empty[Long, Reading]

  def kinds: Seq[String] = Seq("trigger")

  def setUp(d: String, attempt: Int): Unit = {
    stop()
    if (dir.nonEmpty) Main.rmTree(dir)
    dir = d
    batch = 0
    model.clear()
    stream = MemoryStream[Reading](Encoders.product[Reading], spark.sqlContext)
    val latest = stream.toDF().groupBy("loc")
      .agg(max(struct(col("ts"), col("temp"), col("pressure"), col("wind"))).as("m"))
      .select(col("loc"), col("m.ts").as("ts"), col("m.temp").as("temp"),
        col("m.pressure").as("pressure"), col("m.wind").as("wind"))
    query = latest.writeStream.format("graft").outputMode("update")
      .option("path", table).option("keyCols", "loc")
      .option("checkpointLocation", s"$dir/checkpoint")
      .start()
    // the first trigger fills the whole key space
    push((0 until Keys).map(i => reading(i.toLong, batch, i)))
    query.processAllAvailable()
    batch += 1
  }

  private def push(rs: Seq[Reading]): Unit = {
    rs.foreach(r => if (model.get(r.loc).forall(_.ts < r.ts)) model(r.loc) = r)
    stream.addData(rs)
  }

  private def reading(loc: Long, b: Int, i: Int): Reading = {
    val r = new SplittableRandom(seed * 7919L + b * 104729L + i)
    Reading(loc, b * 1000000L + i, math.round(r.nextDouble() * 400) / 10.0,
      math.round(9850 + r.nextDouble() * 450) / 10.0, math.round(r.nextDouble() * 600) / 10.0)
  }

  def warmUp(l: Ledger): Unit = trigger(l)

  private def trigger(l: Ledger): Unit = {
    val r = new SplittableRandom(seed * 31L + batch)
    val rs = (0 until BatchRows).map(i => reading(r.nextInt(Keys).toLong, batch, i))
    val before = if (l.trace.nonEmpty) l.lines(table) else Nil
    l.op("trigger", table = table) {
      push(rs)
      query.processAllAvailable()
    }
    if (l.trace.nonEmpty) l.sample("lake.merge.rows_rewritten_per_row_changed",
      l.rowsAdded(table, before).toDouble / rs.map(_.loc).distinct.size)
    batch += 1
  }

  def round(l: Ledger): Int = {
    (0 until Triggers).foreach(_ => trigger(l))
    l.op("expire")(Versioned.expire(spark, table, keepLast = KeepVersions))
    Triggers
  }

  /** Live rows are the model's keys (the check holds the table to it). */
  def storedBytesPerRow(): Double = Main.duBytes(table).toDouble / model.size

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    query.exception.foreach(e => out += s"stream failed: $e")
    val got = Versioned.read(spark, table)
      .select("loc", "ts", "temp", "pressure", "wind").collect()
      .map(r => Reading(r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).sortBy(_.loc).toSeq
    val want = model.values.toSeq.sortBy(_.loc)
    if (got != want)
      out += s"sink table: ${got.size} rows differ from the ${want.size}-key model"
    // the sink's idempotence key is the query id; its last batch replays
    val last = batch - 1L
    val v0 = Versioned.latestVersion(spark, table)
    val replay = Versioned.idempotentMerge(spark, table,
      Versioned.read(spark, table).limit(1), Seq("loc"), query.id.toString, last)
    if (replay.nonEmpty || Versioned.latestVersion(spark, table) != v0)
      out += s"replaying stamped batch $last added a version"
    out.toSeq
  }

  override def stop(): Unit = if (query != null) {
    query.stop()
    query = null
  }
}

object SinkUpsert {
  val Keys = 400          // locality key space
  val BatchRows = 200     // readings per trigger
  val Triggers = 5        // triggers per round
  val KeepVersions = 3    // versions expire() keeps between rounds
}
