package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Dedup, Similarity}
import graft.lake.Versioned

/** Read-only analytics over TPC-H-shaped graft tables (a fifth of sf0.1)
  * plus a document corpus and an embedding table: point lookups, pruned
  * range reads, a SQL aggregate and join through the graft catalog,
  * near-duplicate detection and exact top-k. Nothing commits in the loop. */
final class Analytics(spark: SparkSession, seed: Long) extends Workload {
  import Analytics._

  private var input = ""
  private var dir = ""
  private var ns = ""
  private def src(t: String) = s"$input/$t"
  private def tbl(t: String) = s"${java.nio.file.Paths.get(dir).getParent}/wh/$ns/$t"
  private var docs: Seq[(Long, String)] = Nil
  private var vecs: Seq[(Long, Array[Float])] = Nil
  private val results = mutable.ArrayBuffer.empty[(Query, Seq[Row])]

  def kinds: Seq[String] = Seq("point", "scan", "ext")

  override def generate(d: String): Unit = {
    input = d
    val s = lit(seed)
    def h(salt: Int, key: Column = col("id")): Column =
      pmod(xxhash64(s, key, lit(salt)), lit(Long.MaxValue))
    // as in TPC-H, an order's lines ship 1–121 days after its order date,
    // so the lines of one orderkey fall in a short l_shipdate range
    def orderDate(key: Column): Column = (h(8, key) % (DaySpan - 121) + FirstDay).cast("int")
    val lineOrder = (col("id") / 4 + 1).cast("long")
    spark.range(LineitemRows).select(
      lineOrder.as("l_orderkey"),
      (h(1) % 20000 + 1).as("l_partkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(2) % 50 + 1).cast("int").as("l_quantity"),
      ((h(3) % 100000 + 90000) / 100.0).as("l_extendedprice"),
      ((h(4) % 11) / 100.0).as("l_discount"),
      (orderDate(lineOrder) + h(5) % 121 + 1).cast("int").as("l_shipdate"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(6) % 3 + 1).cast("int"))
        .as("l_returnflag"))
      .write.parquet(src("lineitem"))
    spark.range(LineitemRows / 4).select(
      (col("id") + 1).as("o_orderkey"),
      (h(7) % CustomerRows + 1).as("o_custkey"),
      orderDate(col("id") + 1).as("o_orderdate"),
      ((h(9) % 5000000 + 100000) / 100.0).as("o_totalprice"))
      .repartition(4).write.parquet(src("orders"))
    spark.range(CustomerRows).select(
      (col("id") + 1).as("c_custkey"),
      concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      element_at(array(segments.map(lit): _*), (h(10) % segments.size + 1).cast("int"))
        .as("c_mktsegment"))
      .repartition(1).write.parquet(src("customer"))
    docs = Analytics.documents(seed)
    spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.asJava, DocSchema)
      .repartition(2).write.parquet(src("documents"))
    vecs = Analytics.embeddings(seed)
    spark.createDataFrame(vecs.map { case (i, v) => Row(i, v.toSeq) }.asJava, VecSchema)
      .repartition(2).write.parquet(src("embeddings"))
  }

  /** Commits the graft tables from the generated files into a fresh
    * catalog namespace, with stats, a bloom index and DV deletes.
    * `lineitem` commits as `LineitemFiles` files range-partitioned on
    * `l_shipdate`, so a 30-day range and an orderkey's lines each fall in
    * one or two of them, and the bloom is sized to one file's rows. */
  def setUp(d: String, attempt: Int): Unit = {
    if (dir.nonEmpty) Main.rmTree(tbl(""))
    dir = d
    ns = s"s$attempt"
    results.clear()
    Versioned.commitWithIndex(spark, tbl("lineitem"),
      spark.read.parquet(src("lineitem")).repartitionByRange(LineitemFiles, col("l_shipdate")),
      statCols = Seq("l_shipdate"), bloomCols = Seq("l_orderkey"),
      bloomExpectedItems = LineitemRows / LineitemFiles)
    deletes.foreach(p => Versioned.deleteWhereMor(spark, tbl("lineitem"), p))
    Versioned.commitWithStats(spark, tbl("orders"), spark.read.parquet(src("orders")),
      "o_orderdate")
    Versioned.commit(spark, tbl("customer"), spark.read.parquet(src("customer")))
  }

  /** One query of each kind. */
  def warmUp(l: Ledger): Unit = {
    val qs = Seq(Point(1), Range(FirstDay, FirstDay + 30), Agg(FirstDay + 100),
      Join(FirstDay, FirstDay + 365), NearDup, TopK(0, 1))
    qs.foreach(q => results += ((q, run(l, q))))
  }

  /** One round: the fixed multiset of queries, in a seeded order. Every
    * round draws the same queries in the same order, so a run that has
    * time for more rounds repeats them and times no other query set. */
  def round(l: Ledger): Int = {
    val pick = new SplittableRandom(seed ^ 0xa11L)
    val qs = mutable.ArrayBuffer.empty[Query]
    (0 until 4).foreach(_ => qs += Point(pick.nextLong(LineitemRows / 4) + 1))
    (0 until 3).foreach { _ =>
      val lo = FirstDay + pick.nextInt(DaySpan - 30)
      qs += Range(lo, lo + 30)
    }
    qs += Agg(FirstDay + pick.nextInt(DaySpan))
    val jlo = FirstDay + pick.nextInt(DaySpan - 365)
    qs += Join(jlo, jlo + 365)
    // the cheaper kind is the majority of each pooled class, so its
    // median falls inside one kind's times, not between two kinds'
    qs += NearDup
    (0 until 3).foreach(_ => qs += TopK(pick.nextLong(VecRows), pick.nextLong(VecRows)))
    val order = qs.toVector.map(q => (pick.nextLong(), q)).sortBy(_._1).map(_._2)
    order.foreach(q => results += ((q, run(l, q))))
    order.size
  }

  private def run(l: Ledger, q: Query): Seq[Row] = q match {
    case Point(k) =>
      l.op("point", table = tbl("lineitem"))(Versioned.readEq(spark, tbl("lineitem"),
        col("l_orderkey") === k).collect().toSeq)
    case Range(lo, hi) =>
      l.op("scan", lake = "range", table = tbl("lineitem"))(
        rangeAgg(Versioned.readPruned(spark, tbl("lineitem"), "l_shipdate", lo, hi)))
    case Agg(d) =>
      l.op("scan", table = tbl("lineitem"))(
        spark.sql(aggSql(s"graft.$ns.lineitem", d)).collect().toSeq)
    case Join(lo, hi) =>
      l.op("scan", table = tbl("orders"))(
        spark.sql(joinSql(s"graft.$ns.orders", s"graft.$ns.customer", lo, hi)).collect().toSeq)
    case NearDup =>
      val r = l.op("ext")(Dedup.nearDuplicates(spark.read.parquet(src("documents")),
        "doc_id", "text", Threshold).collect().toSeq)
      if (l.trace.nonEmpty) {
        l.sample("ext.dedup.candidate_pairs", Dedup.minHashCandidates(
          spark.read.parquet(src("documents")), "doc_id", "text").count().toDouble)
        l.sample("ext.dedup.verified_pairs", r.size.toDouble)
      }
      r
    case TopK(a, b) =>
      val corpus = spark.read.parquet(src("embeddings"))
      l.op("ext")(Similarity.bruteForceTopK(
        corpus.filter(col("vec_id").isin(a, b)), corpus, K).collect().toSeq)
  }

  /** The three graft tables' files per live row; the live rows are
    * counted through the engine (the check holds its reads to the model). */
  def storedBytesPerRow(): Double = {
    val ts = Seq("lineitem", "orders", "customer").map(tbl)
    ts.map(Main.duBytes).sum.toDouble / ts.map(t => Versioned.read(spark, t).count()).sum
  }

  private def rangeAgg(df: DataFrame): Seq[Row] =
    df.agg(count(lit(1)), sum("l_quantity")).collect().toSeq

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    // file skipping: every range read and point lookup plans fewer
    // lineitem data files than the table holds
    val li0 = tbl("lineitem")
    val total = dataFiles(li0).size
    results.map(_._1).distinct.foreach { q =>
      val planned = q match {
        case Range(lo, hi) => Some(Versioned.readPruned(spark, li0, "l_shipdate", lo, hi))
        case Point(k) => Some(Versioned.readEq(spark, li0, col("l_orderkey") === k))
        case _ => None
      }
      planned.map(df => plannedData(df, li0)).filter(_ >= total).foreach(n =>
        out += s"$q plans $n of the $total lineitem data files")
    }
    // the reference: plain parquet reads of the source files, with the
    // DV-deleted rows filtered out by the same predicates
    val li = spark.read.parquet(src("lineitem")).filter(not(deletes.reduce(_ || _)))
    li.createOrReplaceTempView("ref_lineitem")
    spark.read.parquet(src("orders")).createOrReplaceTempView("ref_orders")
    spark.read.parquet(src("customer")).createOrReplaceTempView("ref_customer")
    val docText = docs.toMap
    val vecOf = vecs.toMap
    val keys = results.collect { case (Point(k), _) => k }.distinct.toSeq
    val byKey = li.filter(col("l_orderkey").isin(keys: _*)).collect().toSeq
      .groupBy(_.getLong(0)).withDefaultValue(Nil)
    val seen = mutable.HashSet.empty[Query]
    results.foreach { case (q, got) =>
      val fresh = seen.add(q)
      val bad: Option[String] = q match {
        case Point(k) =>
          if (sortedRows(got) == sortedRows(byKey(k))) None else Some(s"$q: ${got.size} rows")
        case Range(lo, hi) if fresh =>
          sameAgg(got, rangeAgg(li.filter(col("l_shipdate").between(lo, hi))), q)
        case Agg(d) if fresh => sameAgg(got, spark.sql(aggSql("ref_lineitem", d)).collect().toSeq, q)
        case Join(lo, hi) if fresh =>
          sameAgg(got, spark.sql(joinSql("ref_orders", "ref_customer", lo, hi)).collect().toSeq, q)
        case NearDup =>
          got.collectFirst { case r if {
            val j = jaccard(docText(r.getLong(0)), docText(r.getLong(1)))
            j < Threshold || math.abs(j - r.getDouble(2)) > 1e-12 } =>
            s"near-dup pair (${r.getLong(0)}, ${r.getLong(1)}) fails the recomputed Jaccard"
          }.orElse(if (got.isEmpty) Some("no near-duplicate pairs found") else None)
        case TopK(a, b) =>
          val want = Seq(a, b).distinct.flatMap(p => topK(vecOf(p), vecs).zipWithIndex.map {
            case ((c, s), i) => (p, i + 1L, c, s) })
          val g = got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          val ok = g.size == want.size && g.sortBy(x => (x._1, x._2)).zip(want.sortBy(x =>
            (x._1, x._2))).forall { case (x, y) => x._1 == y._1 && x._2 == y._2 &&
            x._3 == y._3 && math.abs(x._4 - y._4) <= 1e-12 }
          if (ok) None else Some(s"$q differs from the plain-Scala top-$K")
        case _ => None
      }
      bad.foreach(out += _)
    }
    out.toSeq
  }

  /** The head version's data files, table-relative. */
  private def dataFiles(t: String): Set[String] = Versioned.latestVersion(spark, t)
    .map(v => Versioned.manifestDataLines(spark, t, v).map(_.takeWhile(_ != '\t')).toSet)
    .getOrElse(Set.empty)

  /** How many of the table's data files a read plans; DV and bloom
    * sidecars are not counted. */
  private def plannedData(df: DataFrame, t: String): Int = {
    val data = dataFiles(t)
    df.inputFiles.count(f => Ledger.relTo(t, f).exists(data))
  }

  private def sortedRows(rs: Seq[Row]): Seq[String] = rs.map(_.mkString("|")).sorted

  /** Aggregates agree: keys and counts exactly, sums to 1e-9 relative. */
  private def sameAgg(got: Seq[Row], want: Seq[Row], q: Query): Option[String] = {
    def key(r: Row) = r.toSeq.map(_.toString).mkString("|")
    val g = got.sortBy(_.get(0).toString)
    val w = want.sortBy(_.get(0).toString)
    val ok = g.size == w.size && g.zip(w).forall { case (a, b) =>
      a.toSeq.zip(b.toSeq).forall {
        case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (x, y) => x == y
      }
    }
    if (ok) None else Some(s"$q: ${g.map(key)} vs ${w.map(key)}")
  }
}

object Analytics {
  sealed trait Query
  final case class Point(orderkey: Long) extends Query
  final case class Range(lo: Int, hi: Int) extends Query
  final case class Agg(maxDay: Int) extends Query
  final case class Join(lo: Int, hi: Int) extends Query
  case object NearDup extends Query
  final case class TopK(a: Long, b: Long) extends Query

  val LineitemRows = 120000L
  val LineitemFiles = 8
  val CustomerRows = 3000L
  val FirstDay = 8036          // 1992-01-01 as days since the epoch
  val DaySpan = 2526
  val DocRows = 1200
  val VecRows = 2400
  val Dim = 32
  val K = 10
  val Threshold = 0.5
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  /** The DV deletes set-up applies to lineitem. */
  val deletes: Seq[Column] = Seq(
    col("l_quantity") === 50 && col("l_returnflag") === "R",
    col("l_partkey") % 997 === 0)

  def aggSql(t: String, d: Int): String =
    s"SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q, " +
      s"sum(l_extendedprice * (1 - l_discount)) AS rev FROM $t " +
      s"WHERE l_shipdate <= $d GROUP BY l_returnflag"

  def joinSql(o: String, c: String, lo: Int, hi: Int): String =
    s"SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS p FROM $o " +
      s"JOIN $c ON o_custkey = c_custkey WHERE o_orderdate BETWEEN $lo AND $hi " +
      s"GROUP BY c_mktsegment"

  /** Documents of 20–40 tokens over a 400-word vocabulary; every tenth is
    * an edited copy of an earlier one, so near-duplicates exist. */
  def documents(seed: Long): Seq[(Long, String)] = {
    val r = new SplittableRandom(seed * 131L + 7)
    val out = mutable.ArrayBuffer.empty[(Long, String)]
    (0 until DocRows).foreach { i =>
      val toks =
        if (i % 10 == 9 && i > 10) {
          val base = out(r.nextInt(i - 1))._2.split(" ")
          (0 until 2).foreach(_ => base(r.nextInt(base.length)) = s"w${r.nextInt(400)}")
          base.toSeq
        } else Seq.fill(20 + r.nextInt(21))(s"w${r.nextInt(400)}")
      out += ((i.toLong, toks.mkString(" ")))
    }
    out.toSeq
  }

  def embeddings(seed: Long): Seq[(Long, Array[Float])] = {
    val r = new SplittableRandom(seed * 257L + 3)
    (0 until VecRows).map(i => (i.toLong, Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat)))
  }

  /** Word-3-shingle Jaccard, as plain Scala. */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String) = s.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    val inter = (x & y).size
    inter.toDouble / (x.size + y.size - inter)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val (x, y) = (a.map(_.toDouble), b.map(_.toDouble))
    val den = math.sqrt(dot(x, x)) * math.sqrt(dot(y, y))
    if (den == 0.0) 0.0 else dot(x, y) / den
  }

  /** Exact cosine top-k of `probe` over the corpus, best first. */
  def topK(probe: Array[Float], corpus: Seq[(Long, Array[Float])]): Seq[(Long, Double)] =
    corpus.map { case (id, v) => (id, cosine(probe, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(K)
}
