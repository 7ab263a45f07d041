package graft

import org.apache.spark.sql.SparkSession

/** Measured manifest-commit-cost series — the artifact behind
  * SCALING.md's round-14 accounting. For each retained-file count N,
  * build a versioned table whose head manifest lists N data files,
  * run K 1-row appends, and record per commit: the MANIFEST bytes
  * written (the delta record) and wall-clock, next to the bytes a
  * full snapshot of the same state costs (what EVERY append paid
  * before the round-14 delta log, and what each checkpoint-interval
  * commit still pays). Stats measurement is deliberately OFF
  * (statCols = Nil): the series isolates the manifest substrate, not
  * the per-file stats scan, whose cost is O(staged files) either way.
  *
  * Prints one JSON line:
  * `{"metric":"manifest_commit","series":[{"files":N,
  * "delta_bytes_per_commit":…, "delta_ms_per_commit":…,
  * "snapshot_bytes":…}, …]}`
  *
  * Run: `sbt "runMain graft.ManifestBench [fileCounts…]"` (defaults
  * 1000 4000 16000).
  */
object ManifestBench {

  def main(args: Array[String]): Unit = {
    val counts =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1000, 4000, 16000)
    val appends = 9 // within one checkpoint interval: pure delta cost
    val spark = SparkSession.builder()
      .appName("graft-manifest-bench")
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def manifestBytes(dir: String, v: Int): Long =
      java.nio.file.Files.size(java.nio.file.Paths.get(
        dir, "_manifest", f"v$v%05d.txt"))

    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    val root = java.nio.file.Files
      .createTempDirectory("graft-manifest-bench")
    try {
      for (n <- counts) {
        val dir = s"$root/t$n"
        // one commit listing n real (tiny) data files; no stats so the
        // series isolates manifest mechanics
        graft.lake.Versioned.commit(spark,
          dir, (0 until n).map(i => (i.toLong, i.toString))
            .toDF("id", "s").repartitionByRange(n,
              org.apache.spark.sql.functions.col("id")))
        val head0 = graft.lake.Versioned.latestVersion(spark, dir).get
        // hash/range partitioning may leave a few empty partitions;
        // the series reports the ACTUAL retained line count
        val actual = graft.lake.Versioned
          .manifestDataLines(spark, dir, head0).size
        require(actual >= n / 2, s"fixture wanted ~$n lines, got $actual")
        val one = Seq((999999L, "x")).toDF("id", "s").coalesce(1)
        val t0 = System.nanoTime()
        var bytes = 0L
        for (_ <- 0 until appends) {
          val v = graft.lake.Versioned.commit(spark, dir, one)
          bytes += manifestBytes(dir, v)
        }
        val deltaMs = (System.nanoTime() - t0) / 1e6 / appends
        val deltaBytes = bytes / appends
        // the full snapshot of the same head state: what every append
        // used to write, and what the 10th (checkpoint) commit still
        // writes — rendered from the reconstruction, byte-exact
        val snapBytes = graft.lake.Versioned.manifestSnapshot(spark,
          dir, graft.lake.Versioned.latestVersion(spark, dir).get)
          .map(_.length + 1L).sum
        // footer-stats series (round 19): the commit path's per-file
        // stats collection over the SAME n-file table, driver-pool
        // dispatch vs the Spark-job dispatch the wide-commit
        // threshold selects. The number that must stay flat as n
        // grows is the DRIVER's serialized share — the job path's
        // wall-time amortizes over executors while the pool path
        // scales O(files/8).
        def footerMs(): Long = (0 until 3).map(_ =>
          graft.lake.Versioned.footerStatsBench(spark, dir,
            Seq("id", "s"))).min
        System.setProperty("graft.stats.footer.distributeOver", "1")
        val jobMs = try footerMs()
        finally System.clearProperty("graft.stats.footer.distributeOver")
        System.setProperty("graft.stats.footer.distributeOver",
          Int.MaxValue.toString)
        val poolMs = try footerMs()
        finally System.clearProperty("graft.stats.footer.distributeOver")
        results += (s"""{"files":$actual,""" +
          s""""delta_bytes_per_commit":$deltaBytes,""" +
          s""""delta_ms_per_commit":${deltaMs.round},""" +
          s""""snapshot_bytes":$snapBytes,""" +
          s""""footer_stats_driver_pool_ms":$poolMs,""" +
          s""""footer_stats_spark_job_ms":$jobMs}""")
      }
      // head-resolution series (round 15): latestVersion through the
      // advisory `_head` pointer vs the directory-LIST fallback, at
      // retained-version counts a bench run could never commit for
      // real — the synthetic manifests are byte-valid snapshots
      // replicated from a real commit, so the resolution path under
      // test is exactly production's. The pointer cost must stay FLAT
      // (a handful of exists() probes); the LIST cost grows with the
      // retained history (paginated on an object store).
      val headResults = scala.collection.mutable.ArrayBuffer.empty[String]
      val txnResults = scala.collection.mutable.ArrayBuffer.empty[String]
      for (n <- Seq(1000, 16000, 64000)) {
        val dir = s"$root/h$n"
        graft.lake.Versioned.commit(spark, dir,
          Seq((1L, "a")).toDF("id", "s").coalesce(1))
        val mdir = java.nio.file.Paths.get(dir, "_manifest")
        val bytes = java.nio.file.Files.readAllBytes(
          mdir.resolve("v00000.txt"))
        for (v <- 1 until n)
          java.nio.file.Files.write(mdir.resolve(f"v$v%05d.txt"), bytes)
        java.nio.file.Files.write(mdir.resolve("_head"),
          (n - 1).toString.getBytes("UTF-8"))
        def timeMs(iters: Int)(f: => Unit): Double = {
          f // warm
          val t0 = System.nanoTime()
          (0 until iters).foreach(_ => f)
          (System.nanoTime() - t0) / 1e6 / iters
        }
        val pointerMs = timeMs(20)(require(graft.lake.Versioned
          .latestVersion(spark, dir).contains(n - 1)))
        java.nio.file.Files.delete(mdir.resolve("_head"))
        val listMs = timeMs(5)(require(graft.lake.Versioned
          .latestVersion(spark, dir).contains(n - 1)))
        headResults += (s"""{"versions":$n,""" +
          f""""pointer_ms":$pointerMs%.3f,"list_ms":$listMs%.3f}""")
        // exactly-once guard series (round 16): the sealed #txnhw
        // ledger answers the idempotence probe from ONE header read
        // of the head — flat at any retention.
        java.nio.file.Files.write(mdir.resolve("_head"),
          (n - 1).toString.getBytes("UTF-8"))
        val sealedMs = timeMs(20)(require(graft.lake.Versioned
          .txnHighWater(spark, dir, "nobody").isEmpty))
        txnResults += (s"""{"versions":$n,""" +
          f""""sealed_ms":$sealedMs%.3f}""")
      }
      // ledger-retention series (round 17): per-commit header bytes
      // under WRITER CHURN — n distinct stamped identities in the
      // head's #txnhw map (the synthetic entries are byte-valid,
      // ancient-stamped 3-field lines, so the fold under test is
      // exactly production's) — with and without a retention
      // horizon. Without one every commit republishes all n entries
      // forever; with one the first commit's sweep bounds the header
      // to the writers active within the horizon.
      val ledgerResults = scala.collection.mutable.ArrayBuffer.empty[String]
      for (n <- Seq(100, 1000, 10000)) {
        // TWO tables, same synthetic churn: an undeclared-retention
        // commit renders the ledger WITHOUT instants (byte-compat
        // until the feature is used — the protocol-gate rule), so
        // declaring the horizon afterwards can only age those entries
        // from the declaration (conservative, never dropped early).
        // Measuring the knob's real contract therefore needs the
        // horizon declared while the recorded instants still exist —
        // a separate table, not a later commit on the first one.
        def seedChurn(dir: String): Unit = {
          graft.lake.Versioned.commit(spark, dir,
            Seq((1L, "a")).toDF("id", "s").coalesce(1))
          val headPath = java.nio.file.Paths.get(dir, "_manifest")
            .resolve("v00000.txt")
          val lines = new String(java.nio.file.Files
            .readAllBytes(headPath), "UTF-8").linesIterator.toSeq
          val (hdr, data) = lines.span(_.startsWith("#"))
          val churn = (0 until n).map(i => s"#txnhw\tw$i\t3\t1000")
          java.nio.file.Files.write(headPath,
            (hdr ++ churn ++ Seq("#txnseal\t1") ++ data)
              .mkString("", "\n", "\n").getBytes("UTF-8"))
        }
        val one = Seq((2L, "b")).toDF("id", "s").coalesce(1)
        val dirNo = s"$root/ledger$n-no"
        seedChurn(dirNo)
        val vNo = graft.lake.Versioned.commit(spark, dirNo, one)
        val noRetention = manifestBytes(dirNo, vNo)
        val dirYes = s"$root/ledger$n-yes"
        seedChurn(dirYes)
        graft.lake.Versioned.setPolicy(spark, dirYes,
          txnRetention = Some(Some(3600000L))) // 1 h horizon
        val vYes = graft.lake.Versioned.commit(spark, dirYes, one)
        val withRetention = manifestBytes(dirYes, vYes)
        ledgerResults += (s"""{"writers":$n,""" +
          s""""no_retention_bytes":$noRetention,""" +
          s""""retention_bytes":$withRetention}""")
      }
      // subset-compaction series (round 18): a FIXED ~16-file
      // selection (stats-admitted key window) compacts while the
      // TABLE grows 1k → 16k files. The claim under test is the
      // schedulability one: wall-clock and the commit's manifest
      // bytes track the SELECTED subset (flat-ish), never the table —
      // a whole-table compact at the same sizes rewrites n files and
      // relists everything.
      val compactResults =
        scala.collection.mutable.ArrayBuffer.empty[String]
      for (n <- counts) {
        val dir = s"$root/c$n"
        graft.lake.Versioned.commitWithStats(spark, dir,
          (0 until n * 4).map(i => (i.toLong, i.toString))
            .toDF("id", "s").repartitionByRange(n,
              org.apache.spark.sql.functions.col("id")), "id")
        val head0 = graft.lake.Versioned.latestVersion(spark, dir).get
        val before = graft.lake.Versioned
          .manifestDataLines(spark, dir, head0)
        val t0 = System.nanoTime()
        val v = graft.lake.Versioned.compactSubset(spark, dir,
          where = Some(org.apache.spark.sql.functions.col("id") < 64),
          targetBytes = 1L << 30)
        val ms = (System.nanoTime() - t0) / 1e6
        val after = graft.lake.Versioned
          .manifestDataLines(spark, dir, v)
        val selected = (before.toSet -- after.toSet).size
        compactResults += (s"""{"files":${before.size},""" +
          s""""selected":$selected,""" +
          s""""subset_ms":${ms.round},""" +
          s""""commit_bytes":${manifestBytes(dir, v)}}""")
      }
      println(s"""{"metric":"manifest_commit","appends":$appends,""" +
        s""""series":[${results.mkString(",")}],""" +
        s""""head_series":[${headResults.mkString(",")}],""" +
        s""""txn_series":[${txnResults.mkString(",")}],""" +
        s""""ledger_series":[${ledgerResults.mkString(",")}],""" +
        s""""compact_series":[${compactResults.mkString(",")}]}""")
    } finally {
      graft.queries.Q.deleteRecursively(root)
      spark.stop()
    }
  }
}
