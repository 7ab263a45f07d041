package graft

import org.apache.spark.sql.functions._

import graft.lake.Versioned
import graft.queries.Q

/** Round-18 optimization pin: the commit path's per-file stats come
  * from parquet FOOTERS (one metadata read per staged file) instead of
  * re-scanning the just-written data — and the two paths must render
  * BYTE-IDENTICAL manifest lines, or pruning/∀-prover semantics would
  * silently depend on which path measured a file. The A/B here drives
  * the commits through the footer path (the default), re-measures the
  * same staged files through the scan (`Versioned.scanStatLines`, the
  * reference implementation) and compares the manifest data lines
  * verbatim across the cases that exercise every
  * footer branch: long ranges, string bounds (unicode, >32-code-point
  * truncation, supplementary-plane extremes), all-NULL columns,
  * zero-row files, timestamp micros, and null counts.
  */
class FooterStatsSpec extends SparkSuite {
  import spark.implicits._

  private def linesOf(dir: String): Seq[String] =
    Versioned.manifestDataLines(spark, dir,
      Versioned.latestVersion(spark, dir).get)

  /** Run `commits` (which track `cols`) against a fresh table on the
    * footer path, re-measure the same staged files through the scan,
    * and assert identical lines. */
  private def ab(cols: String*)(commits: (String) => Unit): Unit = {
    val path = java.nio.file.Files.createTempDirectory("graft-fstats")
    val dir = path.toString
    try {
      val hitsBefore = Versioned.footerStatHits.get()
      commits(dir)
      assert(Versioned.footerStatHits.get() > hitsBefore,
        "the footer fast path must actually FIRE for this case — an " +
          "identical-lines comparison alone cannot tell a working fast " +
          "path from one that silently falls back to the scan every time")
      // a manifest line is the measured line plus the staged file's
      // `~b` byte size, which the measurement itself never renders
      val withFooter = linesOf(dir).map(_.replaceAll("\t~b\\d+$", ""))
        .sorted
      val hitsMid = Versioned.footerStatHits.get()
      val withScan = Versioned.scanStatLines(spark, dir,
        withFooter.map(_.takeWhile(_ != '\t')), cols,
        Versioned.schemaAndColMap(spark, dir,
          Versioned.latestVersion(spark, dir).get)._1, Nil)
      assert(Versioned.footerStatHits.get() == hitsMid,
        "the scan entry must not go through the footer path")
      assert(withFooter == withScan,
        s"footer-path lines must equal scan-path lines:\n" +
          s"footer: ${withFooter.mkString(" | ")}\n" +
          s"scan:   ${withScan.mkString(" | ")}")
    } finally Q.deleteRecursively(path)
  }

  test("long + null-count stats: footer and scan render identical " +
    "manifest lines") {
    ab("k", "v") { dir =>
      val df = Seq[(java.lang.Long, java.lang.Long)](
        (1L, 10L), (2L, null), (3L, 30L), (-5L, null))
        .toDF("k", "v").coalesce(1)
      Versioned.commitWithStats(spark, dir, df, Seq("k", "v"), replace = false)
    }
  }

  test("string bounds incl. unicode, >32-cp truncation and " +
    "supplementary-plane extremes match the scan path") {
    ab("s") { dir =>
      val long = "z" * 40 // forces the truncated upper bound
      val df = Seq("apple", "péar😀", long, "private",
          "😀emoji-first")
        .toDF("s").coalesce(1)
      Versioned.commitWithStats(spark, dir, df, Seq("s"), replace = false)
    }
  }

  test("all-NULL column and zero-row file render the same sentinels") {
    ab("k", "s") { dir =>
      val allNull = Seq[(java.lang.Long, String)]((1L, null), (2L, null))
        .toDF("k", "s").coalesce(1)
      Versioned.commitWithStats(spark, dir, allNull, Seq("k", "s"), replace = false)
      val empty = Seq.empty[(java.lang.Long, String)]
        .toDF("k", "s").coalesce(1)
      Versioned.commitWithStats(spark, dir, empty, Seq("k", "s"), replace = false)
    }
  }

  test("timestamp stats record epoch micros with the ~u unit either " +
    "way (staged files pin INT64 TIMESTAMP_MICROS)") {
    ab("ts") { dir =>
      val df = Seq("2024-01-01 00:00:00.123456", "1969-12-31 23:59:59.5")
        .toDF("raw").select(to_timestamp(col("raw")).as("ts"))
        .coalesce(1)
      Versioned.commitWithStats(spark, dir, df, Seq("ts"), replace = false)
    }
  }

  test("multi-file commits measure each file separately, same lines") {
    ab("k", "s") { dir =>
      val df = (1L to 100L).map(i => (i, s"k$i")).toDF("k", "s")
        .repartitionByRange(4, col("k"))
      Versioned.commitWithStats(spark, dir, df, Seq("k", "s"), replace = false)
    }
  }

  test("wide commits dispatch the footer reads as a Spark job and " +
    "render lines identical to the driver pool's") {
    // round-19 pin: past `graft.stats.footer.distributeOver` staged
    // files the footer reads run executor-side (one Spark job) instead
    // of the driver's 8-thread pool. Same per-file function → same
    // lines; this forces the threshold down so a 4-file commit takes
    // the distributed path, and A/Bs it against the driver path.
    def run(): Seq[String] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-fstats")
      try {
        val df = (1L to 100L).map(i => (i, s"k$i")).toDF("k", "s")
          .repartitionByRange(4, col("k"))
        Versioned.commitWithStats(spark, dir.toString, df, Seq("k", "s"),
          replace = false)
        linesOf(dir.toString).map(_.dropWhile(_ != '\t'))
      } finally Q.deleteRecursively(dir)
    }
    System.setProperty("graft.stats.footer.distributeOver", "2")
    val jobsBefore = Versioned.footerStatJobHits.get()
    val distributed = try run()
    finally System.clearProperty("graft.stats.footer.distributeOver")
    assert(Versioned.footerStatJobHits.get() > jobsBefore,
      "the distributed path must actually FIRE below the forced " +
        "threshold — identical lines alone cannot tell it from the " +
        "driver pool")
    val jobsMid = Versioned.footerStatJobHits.get()
    val driverPool = run()
    assert(Versioned.footerStatJobHits.get() == jobsMid,
      "a 4-file commit at the default threshold must stay on the " +
        "driver pool")
    assert(distributed == driverPool,
      s"distributed footer lines must equal driver-pool lines:\n" +
        s"job:  ${distributed.mkString(" | ")}\n" +
        s"pool: ${driverPool.mkString(" | ")}")
  }

  test("a double stat column refuses the footer path and still " +
    "measures correctly via the scan") {
    // not an A/B (both runs take the scan path) — pins that the
    // refusal-and-fallback composition stays lossless for types the
    // footer cannot answer
    val dir = java.nio.file.Files.createTempDirectory("graft-fstats")
    try {
      val df = Seq((1L, 1.5), (2L, 7.25), (3L, -2.5))
        .toDF("k", "d").coalesce(1)
      val hits = Versioned.footerStatHits.get()
      Versioned.commitWithStats(spark, dir.toString, df, Seq("k", "d"), replace = false)
      assert(Versioned.footerStatHits.get() == hits,
        "an FP stat column must REFUSE the footer path")
      val lines = linesOf(dir.toString)
      assert(lines.exists(_.contains("\tk\t1\t3")),
        s"long range must still record: $lines")
    } finally Q.deleteRecursively(dir)
  }
}
