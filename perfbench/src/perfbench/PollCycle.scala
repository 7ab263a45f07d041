package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.lake.Versioned
import graft.schemas.Schemas
import graft.transform.WeatherTransforms

/** The paper's ingest loop at tiny size: poll → raw append → transform →
  * MERGE into the fact table → retention delete → head read. See the
  * README for sizes and cadences. */
final class PollCycle(spark: SparkSession, seed: Long) extends Workload {
  import PollCycle._

  private var dir = ""
  private def raw = s"$dir/raw"
  private def fact = s"$dir/fact"
  private def dim = s"$dir/dim"
  private var t = 0             // next poll index
  private var dimRound = 0
  private val dimModel = mutable.LinkedHashMap.empty[Long, (String, String, Double)]
  private val factModel = mutable.LinkedHashMap.empty[Int, Seq[Seq[Any]]]
  // (poll, locality, rows read, row the model held at that moment)
  private val points = mutable.ArrayBuffer.empty[(Int, Long, Seq[Seq[Any]], Seq[Seq[Any]])]
  private var pick = new SplittableRandom(seed ^ 0x5eedL)

  def kinds: Seq[String] = Seq("append", "merge", "delete", "point")

  def setUp(d: String, attempt: Int): Unit = {
    if (dir.nonEmpty) Main.rmTree(dir)
    dir = d
    t = 0; dimRound = 0
    dimModel.clear(); factModel.clear(); points.clear()
    (0 until Localities).foreach { i =>
      val id = locId(i)
      dimModel(id) = (s"loc-$i", countries(i % countries.size), 1000.0 + i)
    }
    Versioned.commit(spark, dim, dimFrame(dimModel.toSeq))
    // the first Retained polls land as one commit per table, so every
    // later cycle finds the retention window full
    val seedPolls = (0 until Retained).map(p => poll(seed, p))
    Versioned.idempotentCommit(spark, raw, union(seedPolls), Writer, Retained - 1L)
    Versioned.commit(spark, fact, WeatherTransforms.weatherPipeline(
      Versioned.read(spark, dim))(union(seedPolls)))
    seedPolls.indices.foreach(p => factModel(p) = modelFact(p))
    t = Retained
    // one manifest checkpoint per table per round: a round commits Cycles
    // appends or merges, Cycles deletes and one maintain to each table
    val maintainSet = Seq("smallfile.bytes" -> (8L << 20).toString, "dvdebt" -> "0.1")
    Versioned.setPolicy(spark, raw, maintainSet = maintainSet,
      manifestCheckpointEvery = Some(Some(2 * Cycles + 1)))
    Versioned.setPolicy(spark, fact, statCols = Some(Seq("api_loc_id")),
      maintainSet = maintainSet, manifestCheckpointEvery = Some(Some(2 * Cycles + 1)))
  }

  private def union(ps: Seq[DataFrame]): DataFrame = ps.reduce(_ union _)

  def warmUp(l: Ledger): Unit = (0 until WarmCycles).foreach(_ => cycle(l))

  /** Every round reads the same localities and renames the same ones, so
    * a run that has time for more rounds repeats the work of the first. */
  def round(l: Ledger): Int = {
    pick = new SplittableRandom(seed ^ 0x5eedL)
    (0 until Cycles).foreach(_ => cycle(l))
    dimUpsert(l)
    l.op("maintain", table = raw)(Versioned.maintain(spark, raw))
    l.op("maintain", table = fact)(Versioned.maintain(spark, fact))
    Seq(raw, fact, dim).foreach(tb =>
      l.op("expire")(Versioned.expire(spark, tb, keepLast = KeepVersions)))
    Cycles
  }

  private def cycle(l: Ledger): Unit = {
    val p = t
    val df = poll(seed, p)
    l.op("append", table = raw)(
      Versioned.idempotentCommit(spark, raw, df, Writer, p.toLong))
    val before = if (l.trace.nonEmpty) l.lines(fact) else Nil
    var planMs = 0.0
    l.op("merge", table = fact) {
      val t0 = System.nanoTime()
      val tf = WeatherTransforms.weatherPipeline(Versioned.read(spark, dim))(df)
      planMs = (System.nanoTime() - t0) / 1e6
      Versioned.mergeInto(spark, fact, tf, Seq("api_loc_id", "date", "time"))
    }
    if (l.trace.nonEmpty) {
      l.sample("transform.plan_pct", 100 * planMs / l.lastMs)
      l.sample("lake.merge.rows_rewritten_per_row_changed",
        l.rowsAdded(fact, before).toDouble / Localities)
    }
    factModel(p) = modelFact(p)
    val old = p - Retained
    l.op("delete", table = raw)(
      Versioned.deleteWhereMor(spark, raw, col("time") === lit(pollInstant(seed, old))))
    val (od, ot) = localDateTime(pollInstant(seed, old))
    l.op("delete", table = fact)(
      Versioned.deleteWhereMor(spark, fact, col("date") === od && col("time") === ot))
    factModel.remove(old)
    val id = locId(pick.nextInt(Localities))
    val (d, tm) = localDateTime(pollInstant(seed, p))
    val got = l.op("point", table = fact)(Versioned.readEq(spark, fact,
      col("api_loc_id") === id && col("date") === d && col("time") === tm).collect())
    points += ((p, id, got.toSeq.map(_.toSeq), factModel(p).filter(_(4) == id)))
    t += 1
  }

  /** SCD1 upsert of the locality dimension: a few names and populations
    * change; the enrichment join of later polls sees the new names. */
  private def dimUpsert(l: Ledger): Unit = {
    dimRound += 1
    val rnd = new SplittableRandom(seed * 31)
    val changed = (0 until DimChanges).map(_ => locId(rnd.nextInt(Localities))).distinct
    val rows = changed.map { id =>
      val (_, c, pop) = dimModel(id)
      id -> (s"loc-${id - 1000}-r$dimRound", c, pop + dimRound)
    }
    l.op("dim_upsert", table = dim)(
      Versioned.mergeInto(spark, dim, dimFrame(rows), Seq("id")))
    rows.foreach { case (id, v) => dimModel(id) = v }
  }

  private def dimFrame(rows: Seq[(Long, (String, String, Double))]): DataFrame =
    spark.createDataFrame(rows.map { case (id, (n, c, pop)) => Row(id, n, c, pop) }.asJava,
      DimSchema)

  private def poll(seed: Long, p: Int): DataFrame =
    spark.createDataFrame(pollRows(seed, p).map(Row.fromSeq).asJava, Schemas.weatherRecord)

  /** The transform of poll `p` with today's dimension, computed apart
    * from Spark: the −3 h shift, date/time split, wind cardinal, hPa→mmHg,
    * is_day flag and locality enrichment, in canonical column order. */
  private def modelFact(p: Int): Seq[Seq[Any]] = pollRows(seed, p).map { r =>
    val id = r(0).asInstanceOf[Long]
    val (d, tm) = localDateTime(r(2).asInstanceOf[java.sql.Timestamp].toInstant)
    val (city, country, _) = dimModel(id)
    val wd = r(12).asInstanceOf[Double]
    Seq(d, tm, city, country, id, r(3), r(4), r(6), r(5), r(7) == 1, r(8), r(9),
      r(10).asInstanceOf[Double] * WeatherTransforms.HPA_TO_MMHG, r(11),
      cardinal(wd), wd, r(13))
  }

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val live = (t - Retained until t)
    val rawGot = Versioned.read(spark, raw).collect().map(_.toSeq).toSeq
    val rawWant = live.flatMap(p => pollRows(seed, p))
    if (sorted(rawGot) != sorted(rawWant))
      out += s"raw table: ${rawGot.size} rows differ from the ${rawWant.size}-row model"
    val factGot = Versioned.read(spark, fact)
      .select(WeatherTransforms.canonicalMeteorCols.map(col): _*)
      .collect().map(_.toSeq).toSeq
    val factWant = live.flatMap(factModel)
    if (sorted(factGot) != sorted(factWant))
      out += s"fact table: ${factGot.size} rows differ from the ${factWant.size}-row model"
    val dimGot = Versioned.read(spark, dim).collect().map(_.toSeq).toSeq
    val dimWant = dimModel.toSeq.map { case (id, (n, c, pop)) => Seq(id, n, c, pop) }
    if (sorted(dimGot) != sorted(dimWant)) out += "locality dimension differs from the model"
    points.foreach { case (p, id, got, want) =>
      if (sorted(got) != sorted(want)) out += s"point read of locality $id at poll $p: $got"
    }
    val v0 = Versioned.latestVersion(spark, raw)
    val replay = Versioned.idempotentCommit(spark, raw, poll(seed, t - 1), Writer, t - 1L)
    if (replay.nonEmpty || Versioned.latestVersion(spark, raw) != v0)
      out += s"replaying stamped poll ${t - 1} added a version"
    out.toSeq
  }

  /** Live rows are the model's (the check holds the tables to it). */
  def storedBytesPerRow(): Double =
    Seq(raw, fact).map(Main.duBytes).sum.toDouble / (2 * Retained * Localities)
}

object PollCycle {
  val Localities = 300
  val Retained = 8        // polls kept live by the retention delete
  val Cycles = 5          // poll cycles per round
  val WarmCycles = 1      // untimed cycles after set-up
  val DimChanges = 5      // localities renamed per dimension upsert
  val KeepVersions = 3    // versions expire() keeps per table
  val Writer = "poller"
  val countries = Seq("Argentina", "Chile", "Uruguay", "Paraguay", "Bolivia")
  val DimSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("country", StringType), StructField("population", DoubleType)))
  private val base = Instant.parse("2024-03-01T00:00:00Z")
  private val dateFmt = DateTimeFormatter.ofPattern("dd/MM/yyyy").withZone(ZoneOffset.UTC)
  private val timeFmt = DateTimeFormatter.ofPattern("HH:mm").withZone(ZoneOffset.UTC)
  private val partFmt = DateTimeFormatter.ofPattern("MM-dd-yy").withZone(ZoneOffset.UTC)

  def locId(i: Int): Long = 1000L + i

  def pollInstant(seed: Long, p: Int): Instant =
    base.plusSeconds(900L * p + 86400L * Math.floorMod(seed, 97L))

  def localDateTime(ts: Instant): (String, String) = {
    val local = ts.minusSeconds(3 * 3600)
    (dateFmt.format(local), timeFmt.format(local))
  }

  /** One reading per locality for poll `p`, in `Schemas.weatherRecord`
    * order; the same (seed, p) gives the same rows. */
  def pollRows(seed: Long, p: Int): Seq[Seq[Any]] = {
    val ts = pollInstant(seed, p)
    val sqlTs = java.sql.Timestamp.from(ts)
    (0 until Localities).map { i =>
      val r = new SplittableRandom(seed * 1000003L + p * 1009L + i)
      def d1(lo: Double, span: Double) = math.round((lo + r.nextDouble() * span) * 10) / 10.0
      val temp = d1(-5, 40)
      val rain = if (r.nextInt(4) == 0) d1(0, 8) else 0.0
      Seq(locId(i), partFmt.format(ts), sqlTs, 900, temp, d1(20, 80), d1(temp - 4, 8),
        if (r.nextBoolean()) 1 else 0, rain, rain, d1(985, 45), d1(0, 60),
        (r.nextInt(37) * 10).toDouble, d1(0, 90))
    }
  }

  /** The reference's 9-branch wind table, as plain Scala. */
  def cardinal(d: Double): String =
    if (d == 0 || d == 360) "N" else if (d > 0 && d < 90) "NO" else if (d == 90) "W"
    else if (d > 90 && d < 180) "SE" else if (d == 180) "S"
    else if (d > 180 && d < 270) "SO" else if (d == 270) "E" else "NE"

  def sorted(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.mkString("|")).sorted
}
