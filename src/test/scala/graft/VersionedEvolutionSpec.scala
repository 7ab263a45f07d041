package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.lake.Versioned
import graft.lake.Versioned.CommitConflictException

/** Round-11 schema evolution and the incremental change feed for
  * [[graft.lake.Versioned]]: the manifest records each version's table
  * schema (appends merge-widen it, replaces reset it, reads apply it in
  * O(1) plan time — no footer sweep), and [[Versioned.changesBetween]]
  * turns the version history into a row-level CDC feed planned from
  * manifest set-difference.
  */
class VersionedEvolutionSpec extends SparkSuite {
  import spark.implicits._

  private def base(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"s$i")).toDF("id", "s")

  private def wide(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"s$i", i * 10)).toDF("id", "s", "x")

  // ------------------------------------------------------- evolution

  test("append with a new column evolves the schema; old files " +
      "null-fill; each version time-travels under ITS OWN schema") {
    val dir = tmpDir() + "/evolve-add"
    Versioned.commit(spark, dir, base(0, 3))              // v0: (id, s)
    Versioned.commit(spark, dir, wide(10, 13))            // v1: + x
    val head = Versioned.read(spark, dir)
    assert(head.columns.toSeq == Seq("id", "s", "x"))
    val got = head.as[(Long, String, Option[Int])].collect().toSet
    assert(got == ((0 until 3).map(i => (i.toLong, s"s$i", None)) ++
      (10 until 13).map(i => (i.toLong, s"s$i", Some(i * 10)))).toSet)
    // the PRE-evolution version still renders exactly as written
    assert(Versioned.read(spark, dir, Some(0)).columns.toSeq ==
      Seq("id", "s"))
  }

  test("append OMITTING an evolved column null-fills it (old writer " +
      "code against a newer table)") {
    val dir = tmpDir() + "/evolve-omit"
    Versioned.commit(spark, dir, wide(0, 2))              // v0: (id, s, x)
    Versioned.commit(spark, dir, base(10, 12))            // v1: no x
    val got = Versioned.read(spark, dir)
      .as[(Long, String, Option[Int])].collect().toSet
    assert(got == Set((0L, "s0", Some(0)), (1L, "s1", Some(10)),
      (10L, "s10", None), (11L, "s11", None)))
  }

  test("append changing a column's TYPE throws a typed conflict " +
      "(a type change rewrites history — that is a replace)") {
    val dir = tmpDir() + "/evolve-type"
    Versioned.commit(spark, dir, base(0, 2))
    val retyped = Seq((5L, 42)).toDF("id", "s") // s: string -> int
    intercept[CommitConflictException] {
      Versioned.commit(spark, dir, retyped)
    }
    // and a REPLACE with the new type is the sanctioned path
    val v = Versioned.commit(spark, dir, retyped, replace = true)
    assert(Versioned.read(spark, dir, Some(v)).schema("s").dataType
      .simpleString == "int")
  }

  test("append WIDENING a column's type (int -> long, float -> double) " +
      "is append-compatible: the table schema widens, old files read " +
      "through the vectorized upcast, every version under its own " +
      "schema") {
    val dir = tmpDir() + "/evolve-widen"
    Versioned.commit(spark, dir,
      Seq((1, 1.5f), (2, 2.5f)).toDF("n", "f"))      // v0: (int, float)
    val v1 = Versioned.commit(spark, dir,
      Seq((3L, 3.5d), (4L, 4.5d)).toDF("n", "f"))    // v1: (long, double)
    val head = Versioned.read(spark, dir, Some(v1))
    assert(head.schema("n").dataType.simpleString == "bigint" &&
      head.schema("f").dataType.simpleString == "double",
      s"widened schema expected, got ${head.schema.simpleString}")
    assert(head.as[(Long, Double)].collect().toSet ==
      Set((1L, 1.5d), (2L, 2.5d), (3L, 3.5d), (4L, 4.5d)),
      "old int/float files must upcast losslessly at read")
    // the pre-widening version still renders under ITS OWN types
    val v0 = Versioned.read(spark, dir, Some(0))
    assert(v0.schema("n").dataType.simpleString == "int")
    // a NARROWER late writer (old pipeline code) stays compatible too:
    // its files upcast, the table type stays wide
    val v2 = Versioned.commit(spark, dir,
      Seq((5, 5.5f)).toDF("n", "f"))
    assert(Versioned.read(spark, dir, Some(v2)).schema("n").dataType
      .simpleString == "bigint")
    assert(Versioned.read(spark, dir, Some(v2)).count() == 5)
    // incompatible changes still refuse: long -> string is not widening
    intercept[CommitConflictException] {
      Versioned.commit(spark, dir, Seq(("x", 1.0d)).toDF("n", "f"))
    }
  }

  test("stat pruning and point-lookup blooms survive a type widening " +
      "(stats are recorded as longs; blooms hash integrals as longs " +
      "on both build and probe)") {
    val dir = tmpDir() + "/evolve-widen-idx"
    Versioned.commitWithIndex(spark, dir,
      (0 until 40).map(i => (i, s"k$i")).toDF("id", "k")
        .repartitionByRange(4, col("id")),
      statCols = Seq("id"), bloomCols = Seq("id"),
      bloomExpectedItems = 1000L, bloomFpp = 0.01)        // v0: int id
    Versioned.commitWithStats(spark, dir,
      Seq((100L, "k100")).toDF("id", "k"), "id")          // v1: long id
    assert(Versioned.read(spark, dir).schema("id").dataType
      .simpleString == "bigint")
    // the pre-widening files' blooms still answer the (now long) probe
    assert(Versioned.plannedFilesEq(spark, dir,
      col("id") === 7L).size == 1,
      "a widened point lookup must still prune to one file")
    assert(Versioned.readEq(spark, dir, col("id") === 7L).count() == 1)
    assert(Versioned.readPruned(spark, dir, "id", 5L, 8L).count() == 4)
    assert(Versioned.rowCountFromMetadata(spark, dir) == Some(41L))
  }

  test("replace resets schema authority; compactCommit preserves the " +
      "evolved schema by materializing it") {
    val dir = tmpDir() + "/evolve-compact"
    Versioned.commit(spark, dir, base(0, 3))
    Versioned.commit(spark, dir, wide(10, 13))
    val v2 = Versioned.compactCommit(spark, dir)
    val compacted = Versioned.read(spark, dir, Some(v2))
    assert(compacted.columns.toSeq == Seq("id", "s", "x"))
    // post-compaction the null-fills are PHYSICAL: every planned file
    // carries the evolved column, and the content is unchanged
    assert(compacted.as[(Long, String, Option[Int])].collect().toSet ==
      Versioned.read(spark, dir, Some(1))
        .as[(Long, String, Option[Int])].collect().toSet)
  }

  test("an empty version reads as an empty frame WITH schema (the " +
      "manifest knows what zero parquet files cannot)") {
    val dir = tmpDir() + "/evolve-empty"
    Versioned.commit(spark, dir, base(0, 0))              // zero part files
    val df = Versioned.read(spark, dir)
    assert(df.columns.toSeq == Seq("id", "s") && df.count() == 0)
    // truncate-to-empty replace over a non-empty table: same guarantee
    Versioned.commit(spark, dir, base(0, 5))
    val v = Versioned.commit(spark, dir, base(0, 0), replace = true)
    assert(Versioned.read(spark, dir, Some(v)).count() == 0)
  }

  // ------------------------------------------------------ change feed

  test("append-only feed: inserts tagged with their commit version, " +
      "planned from ONLY the appended files") {
    val dir = tmpDir() + "/feed-append"
    Versioned.commit(spark, dir, base(0, 3))              // v0
    Versioned.commit(spark, dir, base(10, 12))            // v1
    Versioned.commit(spark, dir, base(20, 21))            // v2
    val feed = Versioned.changesBetween(spark, dir, 0, 2, Seq("id"))
    // plan audit: v0's files must NOT be scanned — the feed reads the
    // two appended commits' files only
    val v0Files = Versioned.read(spark, dir, Some(0)).inputFiles.toSet
    assert(feed.inputFiles.toSet.intersect(v0Files).isEmpty)
    val got = feed.as[(Long, String, String, Int)].collect().toSet
    assert(got == Set((10L, "s10", "insert", 1), (11L, "s11", "insert", 1),
      (20L, "s20", "insert", 2)))
  }

  test("replace commit feeds delete / update_preimage+postimage pairs; " +
      "untouched keys are silent") {
    val dir = tmpDir() + "/feed-replace"
    Versioned.commit(spark, dir, base(0, 4))              // v0: 0,1,2,3
    // v1: drop 0, keep 1 as-is, change 2, add 9
    val next = Seq((1L, "s1"), (2L, "CHANGED"), (3L, "s3"), (9L, "s9"))
      .toDF("id", "s")
    Versioned.commit(spark, dir, next, replace = true)
    val got = Versioned.changesBetween(spark, dir, 0, 1, Seq("id"))
      .as[(Long, String, String, Int)].collect().toSet
    assert(got == Set(
      (0L, "s0", "delete", 1),
      (2L, "s2", "update_preimage", 1),
      (2L, "CHANGED", "update_postimage", 1),
      (9L, "s9", "insert", 1)))
  }

  test("a compaction rewrites every byte but feeds ZERO changes") {
    val dir = tmpDir() + "/feed-compact"
    Versioned.commit(spark, dir, base(0, 50))
    Versioned.commit(spark, dir, base(50, 100))
    Versioned.compactCommit(spark, dir)                   // v2
    assert(Versioned.changesBetween(spark, dir, 1, 2, Seq("id"))
      .count() == 0)
    // and across the whole window the compaction stays invisible: the
    // feed is exactly v1's appends
    val got = Versioned.changesBetween(spark, dir, 0, 2, Seq("id"))
      .as[(Long, String, String, Int)].collect().toSet
    assert(got == (50 until 100)
      .map(i => (i.toLong, s"s$i", "insert", 1)).toSet)
  }

  test("feed renders under toVersion's schema: pre-evolution inserts " +
      "null-fill the later column") {
    val dir = tmpDir() + "/feed-schema"
    Versioned.commit(spark, dir, base(0, 2))              // v0: (id, s)
    Versioned.commit(spark, dir, wide(10, 12))            // v1: + x
    val feed = Versioned.changesBetween(spark, dir, 0, 1, Seq("id"))
    assert(feed.columns.toSeq ==
      Seq("id", "s", "x", "_change_type", "_commit_version"))
    assert(feed.as[(Long, String, Option[Int], String, Int)]
      .collect().toSet == Set(
        (10L, "s10", Some(100), "insert", 1),
        (11L, "s11", Some(110), "insert", 1)))
  }

  test("empty window and empty-table history feed empty frames with " +
      "the full feed schema") {
    val dir = tmpDir() + "/feed-empty"
    Versioned.commit(spark, dir, base(0, 0))              // v0 empty
    Versioned.commit(spark, dir, base(0, 0))              // v1 empty
    val feed = Versioned.changesBetween(spark, dir, 0, 1, Seq("id"))
    assert(feed.columns.toSeq ==
      Seq("id", "s", "_change_type", "_commit_version"))
    assert(feed.count() == 0)
    // zero-width window on a real table: also empty, same shape
    val dir2 = tmpDir() + "/feed-zero"
    Versioned.commit(spark, dir2, base(0, 3))
    assert(Versioned.changesBetween(spark, dir2, 0, 0, Seq("id"))
      .count() == 0)
  }

  // ------------------------------------------- idempotent (txn) commit

  test("idempotentCommit: a replayed batchId is skipped, a new one " +
      "lands, and two appIds track independent high-water marks") {
    val dir = tmpDir() + "/txn-commit"
    assert(Versioned.idempotentCommit(spark, dir, base(0, 2),
      "appA", 0L).contains(0))
    // replay of batch 0 (crash after publish, before checkpoint ack)
    assert(Versioned.idempotentCommit(spark, dir, base(0, 2),
      "appA", 0L).isEmpty)
    // a plain (unstamped) commit interleaves without disturbing marks
    Versioned.commit(spark, dir, base(100, 101))
    // next batch lands; a SECOND writer has its own mark
    assert(Versioned.idempotentCommit(spark, dir, base(2, 4),
      "appA", 1L).contains(2))
    assert(Versioned.idempotentCommit(spark, dir, base(10, 11),
      "appB", 0L).contains(3))
    // appA's replay of an OLD batch is still recognized through the
    // interleaved commits
    assert(Versioned.idempotentCommit(spark, dir, base(2, 4),
      "appA", 1L).isEmpty)
    assert(Versioned.read(spark, dir).count() == 2 + 1 + 2 + 1)
  }

  test("txn high-water map is EXPIRE-PROOF: a stalled writer whose " +
      "stamped manifests retention swept still stamp-skips its " +
      "replay — the head's #txnhw ledger outlives the manifests") {
    val dir = tmpDir() + "/txn-expire"
    assert(Versioned.idempotentCommit(spark, dir, base(0, 2),
      "slow-writer", 7L).contains(0))
    // other writers bury the stamped version …
    for (i <- 0 until 8)
      Versioned.commit(spark, dir, base(100 + i, 101 + i))
    // … and retention sweeps it (keepLast 3 drops v0..v5)
    val (dropped, _) = Versioned.expire(spark, dir, keepLast = 3)
    assert(dropped >= 1, "fixture wants the stamped manifest gone")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_manifest", "v00000.txt")))
    // the OLD newest-first scan would find no stamp here and
    // double-append; the aggregated map in the head still knows
    assert(Versioned.idempotentCommit(spark, dir, base(0, 2),
      "slow-writer", 7L).isEmpty,
      "replay after retention double-appended")
    // …while a genuinely newer batch from the same writer lands
    assert(Versioned.idempotentCommit(spark, dir, base(50, 51),
      "slow-writer", 8L).isDefined)
    // the ledger survives REPLACE and metadata commits too (it is
    // writer state, not table content)
    Versioned.commit(spark, dir, base(0, 5), replace = true)
    Versioned.addCheck(spark, dir, "id_any", "id IS NOT NULL OR true")
    assert(Versioned.idempotentCommit(spark, dir, base(0, 2),
      "slow-writer", 8L).isEmpty,
      "a replace/metadata commit erased the idempotence ledger")
  }

  test("#txnhw retention horizon bounds the ledger under writer " +
      "churn: silent-past-horizon identities drop (their replay " +
      "re-appends — the documented contract), a live writer still " +
      "stamp-skips") {
    val dir = tmpDir() + "/txn-ret"
    def hwLines(): Seq[String] = {
      val head = Versioned.latestVersion(spark, dir).get
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
          dir, "_manifest", f"v$head%05d.txt"))).asScala.toSeq
        .filter(_.startsWith("#txnhw\t"))
    }
    // writer churn: short-lived identities stamp once each (the
    // restart-from-scratch-checkpoint shape that mints fresh query
    // ids) — without a horizon every one lives in every header forever
    for (i <- 0 until 6)
      Versioned.idempotentCommit(spark, dir,
        base(i * 2, i * 2 + 1), s"churn-$i", 0L)
    assert(hwLines().size == 6, hwLines())
    assert(Versioned.txnHighWater(spark, dir, "churn-0").contains(0L))
    // a 1 ms horizon: every already-aged identity sweeps on the next
    // commit's republish
    Thread.sleep(5)
    Versioned.setPolicy(spark, dir, txnRetention = Some(Some(1L)))
    Thread.sleep(5)
    assert(Versioned.idempotentCommit(spark, dir, base(50, 51),
      "live-writer", 3L).isDefined)
    // bounded: only the live writer survives in the header
    assert(hwLines().size == 1 && hwLines().head.contains("live-writer"),
      hwLines())
    assert(Versioned.txnHighWater(spark, dir, "churn-0").isEmpty)
    // the live writer's replay still stamp-skips (a skip publishes
    // nothing, so its head entry is intact however old)
    assert(Versioned.idempotentCommit(spark, dir, base(50, 51),
      "live-writer", 3L).isEmpty)
    // the DOCUMENTED expiry contract: an identity silent past the
    // horizon re-appends on replay — size the horizon past any
    // plausible writer stall (Delta's setTransactionRetentionDuration
    // makes exactly this trade)
    val before = Versioned.read(spark, dir).count()
    assert(Versioned.idempotentCommit(spark, dir, base(0, 1),
      "churn-0", 0L).isDefined)
    assert(Versioned.read(spark, dir).count() == before + 1)
    // sustained churn stays bounded: each new identity's commit
    // sweeps the aged ones
    for (i <- 0 until 8) {
      Thread.sleep(3)
      Versioned.idempotentCommit(spark, dir,
        base(100 + i, 101 + i), s"churn2-$i", 0L)
    }
    assert(hwLines().size <= 2,
      s"ledger must stay bounded under churn: ${hwLines()}")
    // UNSET returns to keep-forever
    Versioned.setPolicy(spark, dir, txnRetention = Some(None))
    for (i <- 0 until 3)
      Versioned.idempotentCommit(spark, dir,
        base(200 + i, 201 + i), s"keep-$i", 0L)
    assert(hwLines().count(_.contains("keep-")) == 3)
    // BYTE-COMPAT RULE: the last-stamp instant (3rd field) renders
    // ONLY while a horizon is declared — an undeclared table keeps
    // the 2-field entries a pre-retention reader parses, and UNSET
    // returns to them (the protocol-gate "byte-compatible until the
    // feature is used" rule)
    assert(hwLines().forall(_.split('\t').length == 3), // app, batch
      s"post-UNSET entries must be 2-field: ${hwLines()}")
  }

  test("#txnhw entries stay 2-field (pre-retention byte shape) on " +
      "tables that never declare a horizon") {
    val dir = tmpDir() + "/txn-2field"
    Versioned.idempotentCommit(spark, dir, base(0, 2), "w1", 0L)
    Versioned.idempotentCommit(spark, dir, base(2, 4), "w2", 5L)
    val head = Versioned.latestVersion(spark, dir).get
    val hw = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
        dir, "_manifest", f"v$head%05d.txt"))).asScala
      .filter(_.startsWith("#txnhw\t"))
    // "#txnhw" + app + batch = 3 tab-separated tokens, no instant
    assert(hw.nonEmpty && hw.forall(_.split('\t').length == 3),
      s"undeclared tables must keep 2-field ledger entries: $hw")
  }

  // -------------------------------------------------- CHECK constraints

  test("addCheck gates every later writer: FALSE rejects the commit, " +
      "NULL passes, drop lifts the gate — and nothing partial publishes") {
    val dir = tmpDir() + "/check-gate"
    Versioned.commit(spark, dir, base(0, 3))                  // v0
    assert(Versioned.addCheck(spark, dir, "id_pos", "id >= 0") == 1)
    assert(Versioned.checks(spark, dir) == Seq(("id_pos", "id >= 0")))
    val headBefore = Versioned.latestVersion(spark, dir)
    intercept[Versioned.CheckViolationException] {
      Versioned.commit(spark, dir, Seq((-5L, "bad")).toDF("id", "s"))
    }
    assert(Versioned.latestVersion(spark, dir) == headBefore) // untouched
    // a replace is gated by the same table policy
    intercept[Versioned.CheckViolationException] {
      Versioned.commitReplace(spark, dir,
        Seq((-1L, "bad")).toDF("id", "s"), Seq("id"))
    }
    // NULL passes (SQL CHECK rule): a row with null id is admitted
    Versioned.commit(spark, dir,
      Seq((Option.empty[Long], "nullish")).toDF("id", "s"))
    // valid rows land, and the constraint rides into the new manifest
    Versioned.commit(spark, dir, base(10, 12))
    assert(Versioned.checks(spark, dir) == Seq(("id_pos", "id >= 0")))
    Versioned.dropCheck(spark, dir, "id_pos")
    Versioned.commit(spark, dir, Seq((-5L, "ok now")).toDF("id", "s"))
    assert(Versioned.checks(spark, dir).isEmpty)
  }

  test("addCheck validates the EXISTING table first; a check over an " +
      "evolved column admits null-filling old-shape writers") {
    val dir = tmpDir() + "/check-evolve"
    Versioned.commit(spark, dir, base(0, 3))                  // v0: (id, s)
    val e = intercept[Versioned.CheckViolationException] {
      Versioned.addCheck(spark, dir, "id_big", "id > 100")
    }
    assert(e.getMessage.contains("id_big"))
    assert(Versioned.checks(spark, dir).isEmpty)
    Versioned.commit(spark, dir, wide(10, 13))                // v1: + x
    // old rows have x null — NULL passes, so the constraint installs
    Versioned.addCheck(spark, dir, "x_pos", "x > 0")
    // an old-shape writer (no x column) null-fills and is admitted
    Versioned.commit(spark, dir, base(20, 22))
    // a new-shape writer with a violating x is rejected
    intercept[Versioned.CheckViolationException] {
      Versioned.commit(spark, dir, Seq((30L, "s30", -7)).toDF("id", "s", "x"))
    }
    assert(Versioned.read(spark, dir).count() == 3 + 3 + 2)
  }

  test("restore rolls CHECK constraints back with the state it " +
      "republishes — one coherent version, no re-validation scan") {
    val dir = tmpDir() + "/check-restore"
    Versioned.commit(spark, dir, base(0, 3))                  // v0
    Versioned.addCheck(spark, dir, "id_pos", "id >= 0")       // v1
    Versioned.restore(spark, dir, 0)                          // v2
    assert(Versioned.checks(spark, dir).isEmpty)              // policy of v0
    Versioned.commit(spark, dir, Seq((-5L, "fine")).toDF("id", "s"))
    // and restoring the CONSTRAINED version brings the policy back
    Versioned.restore(spark, dir, 1)                          // v4
    assert(Versioned.checks(spark, dir) == Seq(("id_pos", "id >= 0")))
    intercept[Versioned.CheckViolationException] {
      Versioned.commit(spark, dir, Seq((-6L, "bad")).toDF("id", "s"))
    }
  }

  // ------------------------------------------------------------ restore

  test("restore undoes a bad replace as a forward commit: state rolls " +
      "back, history stays, the change feed reads as the undo diff") {
    val dir = tmpDir() + "/restore-undo"
    Versioned.commit(spark, dir, base(0, 3))              // v0
    Versioned.commit(spark, dir, base(3, 5))              // v1: 5 rows
    Versioned.commitReplace(spark, dir, base(100, 101), Seq("id")) // v2: bad
    assert(Versioned.restore(spark, dir, 1) == 3)         // v3 = v1 again
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      Versioned.read(spark, dir, Some(1))
        .as[(Long, String)].collect().toSet)
    // the bad version remains time-travelable (history rolls forward)
    assert(Versioned.read(spark, dir, Some(2)).count() == 1)
    // the restore commit's feed IS the row-level undo of the bad replace
    val undo = Versioned.changesBetween(spark, dir, 2, 3, Seq("id"))
    assert(undo.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSet == Set(100L))
    assert(undo.filter(col("_change_type") === "insert")
      .select("id").as[Long].collect().toSet == (0L until 5L).toSet)
  }

  test("restore publishes the restored version under ITS OWN schema, " +
      "not the evolved head's") {
    val dir = tmpDir() + "/restore-schema"
    Versioned.commit(spark, dir, base(0, 3))              // v0: (id, s)
    Versioned.commit(spark, dir, wide(10, 13))            // v1: + x
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("id", "s", "x"))
    Versioned.restore(spark, dir, 0)                      // v2
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("id", "s"))
    assert(Versioned.read(spark, dir).count() == 3)
  }

  test("a restore's re-listed files survive expiry of the source " +
      "version; restoring an expired version fails loudly by name") {
    val dir = tmpDir() + "/restore-expire"
    Versioned.commit(spark, dir, base(0, 3))              // v0
    Versioned.commit(spark, dir, base(10, 12))            // v1
    Versioned.restore(spark, dir, 0)                      // v2 shares v0 files
    // drop v0 and v1; v2's manifest still references v0's data files,
    // so the reachability GC must keep them
    Versioned.expire(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      (0 until 3).map(i => (i.toLong, s"s$i")).toSet)
    val e = intercept[IllegalArgumentException] {
      Versioned.restore(spark, dir, 1)
    }
    assert(e.getMessage.contains("version 1"))
  }

  test("restore of a version whose data files were collected " +
      "out-of-band fails loudly — never a silent partial table") {
    val dir = tmpDir() + "/restore-gone"
    Versioned.commit(spark, dir, base(0, 3))              // v0
    // simulate an out-of-band collection (a purge, a bucket lifecycle
    // rule): one of v0's data files vanishes while its manifest stays
    val gone = new java.io.File(s"$dir/data").listFiles().toSeq
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .minBy(_.getName)
    assert(gone.delete())
    val e = intercept[IllegalArgumentException] {
      Versioned.restore(spark, dir, 0)
    }
    assert(e.getMessage.contains("no longer exist"))
  }

  test("an expired manifest inside the window fails loudly, naming the " +
      "missing version") {
    val dir = tmpDir() + "/feed-expired"
    Versioned.commit(spark, dir, base(0, 2))
    Versioned.commit(spark, dir, base(10, 12))
    Versioned.commit(spark, dir, base(20, 22))
    Versioned.expire(spark, dir, keepLast = 2)            // drops v0
    val e = intercept[IllegalArgumentException] {
      Versioned.changesBetween(spark, dir, 0, 2, Seq("id"))
    }
    assert(e.getMessage.contains("version 0"))
    // the surviving window still feeds
    assert(Versioned.changesBetween(spark, dir, 1, 2, Seq("id"))
      .count() == 2)
  }
}
