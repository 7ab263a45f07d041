package graft

import org.apache.spark.sql.functions.col

import graft.lake.Versioned

/** The manifest LOG shape: commits publish O(delta) records with a
  * full snapshot every checkpoint interval ([[Versioned]]'s `#base` /
  * `#rmfile` encoding — Delta Lake's JSON-log + checkpoint shape on
  * this engine's one-file-per-version substrate), and commit
  * ambiguity on stores whose conditional put can fail indeterminately
  * resolves by `#commituuid` self-authorship instead of duplicating
  * the append. Every test here reads HISTORICAL versions exactly —
  * the reconstruction, not the raw file, is the contract.
  */
class VersionedDeltaManifestSpec extends SparkSuite {
  import spark.implicits._

  private def rawFile(dir: String, v: Int): Seq[String] = {
    val p = java.nio.file.Paths.get(dir, "_manifest", f"v$v%05d.txt")
    val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toList
    finally src.close()
  }
  private def isDelta(dir: String, v: Int): Boolean =
    rawFile(dir, v).exists(_.startsWith("#base\t"))

  test("a long append chain writes delta records with a snapshot " +
      "every checkpoint interval, and every historical version reads " +
      "exactly across the boundaries") {
    val dir = tmpDir() + "/chain"
    for (i <- 0 until 25)
      Versioned.commit(spark, dir, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    // cadence: v0 snapshot; depths 1..9 are deltas; the 10th link
    // checkpoints (default cadence 10)
    assert(!isDelta(dir, 0), "v0 must be a full snapshot")
    assert(!isDelta(dir, 10) && !isDelta(dir, 20),
      "the checkpoint cadence must land full snapshots")
    assert((1 to 9).forall(isDelta(dir, _)) &&
      (11 to 19).forall(isDelta(dir, _)),
      "intermediate commits must publish delta records")
    // write amplification: a 1-file append's manifest carries ONE
    // data line however many files the table holds
    assert(rawFile(dir, 19).count(!_.startsWith("#")) == 1,
      "a delta append must list only its own files, not the table")
    // exact reconstruction at every version, including both boundaries
    for (v <- 0 to 24)
      assert(Versioned.read(spark, dir, Some(v)).count() == v + 1,
        s"version $v reconstructed the wrong state")
    assert(Versioned.manifestDataLines(spark, dir, 24).size == 25)
    // metadata count stays all-or-nothing through the chain
    assert(Versioned.rowCountFromMetadata(spark, dir).isEmpty ||
      Versioned.rowCountFromMetadata(spark, dir).contains(25L))
  }

  test("row-level DELETE publishes rmfile + fresh adds as a delta; " +
      "untouched lines carry verbatim through reconstruction") {
    val dir = tmpDir() + "/dml"
    val df = (0L until 40L).map(i => (i, s"row$i")).toDF("id", "s")
      .repartitionByRange(4, col("id"))
    Versioned.commitWithStats(spark, dir, df, "id")
    val before = Versioned.manifestDataLines(spark, dir, 0)
    assert(before.size == 4)
    val v = Versioned.deleteWhere(spark, dir, col("id") < 10L)
    assert(isDelta(dir, v), "a pruned delete must publish a delta")
    val raw = rawFile(dir, v)
    assert(raw.count(_.startsWith("#rmfile\t")) == 1,
      "exactly the one matching file is removed")
    val after = Versioned.manifestDataLines(spark, dir, v)
    assert(before.toSet.intersect(after.toSet).size == 3,
      "untouched lines must carry verbatim through the delta")
    assert(Versioned.read(spark, dir).count() == 30)
    assert(Versioned.read(spark, dir, Some(0)).count() == 40,
      "time travel must still see the pre-delete state")
  }

  test("metadata-only commits (set-policy, add-check) are header-only " +
      "deltas and reconstruct the full file listing") {
    val dir = tmpDir() + "/meta"
    Versioned.commitWithStats(spark, dir,
      (0L until 20L).map(i => (i, s"k$i")).toDF("id", "k")
        .repartitionByRange(4, col("id")), "id")
    val v1 = Versioned.setPolicy(spark, dir,
      statCols = Some(Seq("id")),
      bloomCfg = Some(Seq(("k", 1000L, 0.01))))
    val v2 = Versioned.addCheck(spark, dir, "id_ok", "id >= 0")
    assert(isDelta(dir, v1) && isDelta(dir, v2))
    assert(rawFile(dir, v2).count(!_.startsWith("#")) == 0,
      "a metadata commit's delta carries no data lines")
    assert(Versioned.manifestDataLines(spark, dir, v2).size == 4,
      "reconstruction must recover the full listing")
    assert(Versioned.checks(spark, dir).map(_._1) == Seq("id_ok"))
    assert(Versioned.statPolicy(spark, dir) == Seq("id"))
    assert(Versioned.bloomPolicy(spark, dir) == Seq(("k", 1000L, 0.01)))
  }

  test("a truncate-shaped replace snapshots: an empty listing beats " +
      "O(table) removal records") {
    val dir = tmpDir() + "/truncate"
    for (i <- 0 until 4)
      Versioned.commit(spark, dir, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    val v = Versioned.commit(spark, dir,
      spark.emptyDataset[(Long, String)].toDF("id", "s"),
      replace = true)
    val raw = rawFile(dir, v)
    assert(!raw.exists(_.startsWith("#base\t")) &&
      !raw.exists(_.startsWith("#rmfile\t")),
      s"a truncate must publish an empty snapshot, got:\n" +
        raw.mkString("\n"))
    assert(Versioned.read(spark, dir).count() == 0)
    assert(Versioned.read(spark, dir, Some(3)).count() == 4)
  }

  test("expire across a delta chain checkpoints the oldest kept " +
      "version as a SIDECAR (the committed manifest stays immutable); " +
      "retention stays exact and every kept version reads") {
    val dir = tmpDir() + "/expire"
    for (i <- 0 until 8)
      Versioned.commit(spark, dir, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    assert(isDelta(dir, 5))
    val rawBefore = rawFile(dir, 5)
    val (dropped, _) = Versioned.expire(spark, dir, keepLast = 3,
      orphanGraceMs = 0L)
    assert(dropped == 5, "expire must drop exactly the asked prefix")
    assert(rawFile(dir, 5) == rawBefore,
      "expire must never mutate a committed manifest file")
    val sidecar = java.nio.file.Paths.get(dir, "_manifest",
      "v00005.ckpt.txt")
    assert(java.nio.file.Files.exists(sidecar),
      "the oldest kept delta must gain a checkpoint sidecar")
    for (v <- 5 to 7)
      assert(Versioned.read(spark, dir, Some(v)).count() == v + 1,
        s"kept version $v must reconstruct after the drop")
    // a second expire drops the folded version and its sidecar with it
    Versioned.expire(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(!java.nio.file.Files.exists(sidecar),
      "a dropped version's sidecar must be collected with it")
    assert(Versioned.read(spark, dir, Some(7)).count() == 8)
    // no tmp or crc litter from the sidecar checkpoints
    val names = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "_manifest"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    assert(!names.exists(n => n.endsWith(".tmp") || n.endsWith(".crc")),
      s"sidecar checkpoint littered: ${names.mkString(", ")}")
  }

  test("manifest-checkpoint cadence is TABLE policy: two tables in " +
      "one session with different cadences produce their own " +
      "snapshot/delta mix, and clearing returns to the default") {
    val readHot = tmpDir() + "/readhot"
    val writeHot = tmpDir() + "/writehot"
    Versioned.commit(spark, readHot, Seq((0L, "a")).toDF("id", "s"))
    Versioned.commit(spark, writeHot, Seq((0L, "a")).toDF("id", "s"))
    // read-hot: every commit a snapshot (zero reconstruction tail)
    Versioned.setPolicy(spark, readHot,
      manifestCheckpointEvery = Some(Some(1)))
    // write-hot: long chains (commit cost O(delta))
    Versioned.setPolicy(spark, writeHot,
      manifestCheckpointEvery = Some(Some(5)))
    for (i <- 1 to 6) {
      Versioned.commit(spark, readHot, Seq((i.toLong, "x")).toDF("id", "s"))
      Versioned.commit(spark, writeHot, Seq((i.toLong, "x")).toDF("id", "s"))
    }
    val rhHead = Versioned.latestVersion(spark, readHot).get
    assert((2 to rhHead).forall(!isDelta(readHot, _)),
      "cadence 1 must publish every commit as a full snapshot")
    // write-hot chain: v1 (set-policy) is a delta over v0... snapshots
    // land only when a chain reaches 5 links
    val whDeltas = (2 to Versioned.latestVersion(spark, writeHot).get)
      .count(isDelta(writeHot, _))
    assert(whDeltas >= 4,
      s"cadence 5 must keep publishing delta records, got $whDeltas " +
        "deltas")
    assert(Versioned.manifestCheckpointPolicy(spark, readHot)
      .contains(1))
    assert(Versioned.manifestCheckpointPolicy(spark, writeHot)
      .contains(5))
    // every version still reads exactly under either cadence
    assert(Versioned.read(spark, readHot).count() == 7)
    assert(Versioned.read(spark, writeHot).count() == 7)
    assert(Versioned.read(spark, writeHot, Some(3)).count() == 3)
    // clearing the declaration returns the table to the process
    // default (header absent from the next commit on)
    Versioned.setPolicy(spark, readHot,
      manifestCheckpointEvery = Some(None))
    assert(Versioned.manifestCheckpointPolicy(spark, readHot).isEmpty)
    assert(Versioned.read(spark, readHot).count() == 7)
  }

  test("the _head pointer resolves the head O(1); a deleted, corrupt, " +
      "or stale pointer still resolves the true head") {
    val dir = tmpDir() + "/head"
    for (i <- 0 until 5)
      Versioned.commit(spark, dir, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    val p = java.nio.file.Paths.get(dir, "_manifest", "_head")
    assert(java.nio.file.Files.exists(p),
      "every successful commit must advance the advisory pointer")
    assert(new String(java.nio.file.Files.readAllBytes(p),
      "UTF-8").trim == "4")
    assert(Versioned.latestVersion(spark, dir).contains(4))
    // STALE pointer (a crashed writer's last update): probe forward
    java.nio.file.Files.write(p, "1".getBytes("UTF-8"))
    assert(Versioned.latestVersion(spark, dir).contains(4),
      "a stale pointer must probe forward to the true head")
    // CORRUPT pointer: fall back to the listing
    java.nio.file.Files.write(p, "not-a-version".getBytes("UTF-8"))
    assert(Versioned.latestVersion(spark, dir).contains(4),
      "a corrupt pointer must fall back to the directory listing")
    // DELETED pointer: fall back to the listing; the next commit
    // restores it
    java.nio.file.Files.delete(p)
    assert(Versioned.latestVersion(spark, dir).contains(4))
    Versioned.commit(spark, dir, Seq((9L, "x")).toDF("id", "s"))
    assert(new String(java.nio.file.Files.readAllBytes(p),
      "UTF-8").trim == "5")
    // a pointer naming an EXPIRED version falls back too
    java.nio.file.Files.write(p, "0".getBytes("UTF-8"))
    Versioned.expire(spark, dir, keepLast = 2, orphanGraceMs = 0L)
    assert(Versioned.latestVersion(spark, dir).contains(5),
      "a pointer at an expired version must fall back to the listing")
  }

  test("change feed and restore stay exact across checkpoint " +
      "boundaries") {
    val dir = tmpDir() + "/feed"
    for (i <- 0 until 12)
      Versioned.commit(spark, dir, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    val feed = Versioned.changesBetween(spark, dir, 0, 11, Seq("id"))
    assert(feed.count() == 11, "one insert row per append commit")
    assert(feed.filter(col("_change_type") =!= "insert").count() == 0)
    val v = Versioned.restore(spark, dir, 4)
    assert(Versioned.read(spark, dir, Some(v)).count() == 5)
    assert(Versioned.read(spark, dir, Some(11)).count() == 12,
      "the rolled-back versions stay time-travelable")
  }

  test("TIMESTAMP AS OF resolves by pointer + binary search — " +
      "boundaries exact, expired prefixes sound") {
    val dir = tmpDir() + "/asof"
    for (i <- 0 until 5)
      Versioned.commit(spark, dir, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    val ts: Map[Int, Long] = Versioned.history(spark, dir)
      .select("version", "ts_millis").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    def asOf(millis: Long): Option[Int] =
      Versioned.versionAsOfTimestamp(spark, dir, millis * 1000L)
    // exact boundaries: each version resolves at its own instant
    for (v <- 0 until 5)
      assert(asOf(ts(v)).contains(v), s"boundary of v$v")
    assert(asOf(ts(0) - 1).isEmpty,
      "an instant before the first commit resolves to nothing")
    assert(asOf(ts(4) + 60000).contains(4))
    // strictly between two commits: the earlier one wins
    if (ts(2) - ts(1) > 1)
      assert(asOf(ts(1) + (ts(2) - ts(1)) / 2).contains(1))
    // expired prefix: the floor moves, answers stay sound
    Versioned.expire(spark, dir, keepLast = 2, orphanGraceMs = 0L)
    assert(asOf(ts(1)).isEmpty,
      "an instant inside the expired prefix has no retained version " +
        "at or before it")
    assert(asOf(ts(3)).contains(3) && asOf(ts(4) + 1000).contains(4))
  }

  test("an indeterminate conditional put (durably accepted, then a " +
      "transport error) does NOT duplicate the append: the retry " +
      "claims the self-authored commit by #commituuid") {
    val s = spark
    val dir = tmpDir() + "/ambig"
    val claims = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    val throws = new java.util.concurrent.atomic.AtomicInteger(0)
    // the double lands the write durably, THEN reports a timeout —
    // the exact failure the race battery can never produce
    val flaky = new Versioned.ConditionalPut {
      override def putIfAbsent(key: String,
          bytes: Array[Byte]): Boolean = {
        val won = claims.putIfAbsent(key, true) == null
        if (won) {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(
              new org.apache.hadoop.fs.Path(key).toUri.getPath),
            bytes, java.nio.file.StandardOpenOption.CREATE_NEW)
          if (key.endsWith("v00001.txt") && throws.incrementAndGet() == 1)
            throw new java.io.IOException(
              "simulated timeout AFTER the store accepted the write")
        }
        won
      }
    }
    Versioned.registerCasStore(dir,
      new Versioned.ConditionalPutCasStore(flaky))
    try {
      Versioned.commit(s, dir, Seq(0L).toDF("x"))            // v0 clean
      val v = Versioned.commit(s, dir, Seq(1L).toDF("x"))    // v1 ambiguous
      assert(v == 1, "the ambiguous commit must claim its own version")
      assert(Versioned.latestVersion(s, dir).contains(1),
        "a naive retry would have re-appended at v2")
      assert(Versioned.read(s, dir).as[Long].collect().sorted
        .toSeq == Seq(0L, 1L), "the rows must land exactly once")
      // a FOREIGN winner is still a normal lost race: the next commit
      // proceeds at the next version
      val v2 = Versioned.commit(s, dir, Seq(2L).toDF("x"))
      assert(v2 == 2 && Versioned.read(s, dir).count() == 3)
    } finally Versioned.unregisterCasStore(dir)
  }

  test("every modern manifest carries #commituuid; the ambiguity " +
      "probe never confuses two writers") {
    val dir = tmpDir() + "/uuid"
    Versioned.commit(spark, dir, Seq(1L).toDF("x"))
    Versioned.commit(spark, dir, Seq(2L).toDF("x"))
    val uuids = (0 to 1).map(v => rawFile(dir, v)
      .find(_.startsWith("#commituuid\t")).map(_.split('\t')(1)))
    assert(uuids.forall(_.isDefined))
    assert(uuids.distinct.size == 2, "commit uuids must be per-commit")
  }

  test("versions >= 100000 (six-digit file names) resolve, read, " +
      "survive expire's retained/keep accounting, and commit forward") {
    val dir = tmpDir() + "/wide"
    Versioned.commit(spark, dir, Seq((1L, "a")).toDF("id", "s"))   // v0
    Versioned.commit(spark, dir, Seq((2L, "b")).toDF("id", "s"))   // v1
    // a replace publishes a full SNAPSHOT file — safe to transplant
    Versioned.commit(spark, dir,
      (0L until 6L).map(i => (i, s"r$i")).toDF("id", "s"),
      replace = true)                                              // v2
    assert(!isDelta(dir, 2), "fixture wants a snapshot to transplant")
    // simulate a long-lived table: the head manifest under a
    // SIX-digit name (f"v$v%05d" pads to five but grows past them)
    val m = java.nio.file.Paths.get(dir, "_manifest")
    java.nio.file.Files.copy(m.resolve("v00002.txt"),
      m.resolve("v100000.txt"))
    // drop the advisory pointer: resolution must come from the
    // LISTING, whose name filter is exactly what regressed before
    java.nio.file.Files.deleteIfExists(m.resolve("_head"))
    assert(Versioned.latestVersion(spark, dir).contains(100000),
      "a six-digit manifest name must parse from the listing")
    assert(Versioned.read(spark, dir).count() == 6)
    assert(Versioned.history(spark, dir).select("version")
      .collect().map(_.getInt(0)).toSet == Set(0, 1, 2, 100000),
      "history must list six-digit versions")
    // expire: v100000 is the only kept version; its files must land
    // in the KEEP set (the old 5-digit filter dropped them from both
    // sets — files referenced only by v100000 would have collected)
    Versioned.expire(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(Versioned.read(spark, dir).count() == 6,
      "expire must keep the files the six-digit head references")
    assert(Versioned.latestVersion(spark, dir).contains(100000))
    // and the chain continues: the next commit is v100001
    Versioned.commit(spark, dir, Seq((9L, "z")).toDF("id", "s"))
    assert(Versioned.latestVersion(spark, dir).contains(100001))
    assert(Versioned.read(spark, dir).count() == 7)
  }

  test("dense-invariant tripwire: a hole punched above a stale head " +
      "pointer demotes resolution to the listing — never a silently " +
      "stale head") {
    val dir = tmpDir() + "/hole"
    for (i <- 0 until 8)
      Versioned.commit(spark, dir, Seq(i.toLong).toDF("x"))  // v0..v7
    val m = java.nio.file.Paths.get(dir, "_manifest")
    def stale(hint: Int): Unit =
      java.nio.file.Files.write(m.resolve("_head"),
        hint.toString.getBytes("UTF-8"))
    // hole at v5 above a stale hint of 2: the probe walk stops at 4;
    // the geometric tripwire (4+2=6 exists) must demote to the
    // listing, which answers 7 — a silent 4 is the bug being pinned
    stale(2)
    java.nio.file.Files.delete(m.resolve("v00005.txt"))
    assert(Versioned.latestVersion(spark, dir).contains(7),
      "probe walk served a stale head across the hole")
    // hole immediately above the hint (walk advances zero steps):
    // the tripwire still probes past it
    stale(2)
    java.nio.file.Files.delete(m.resolve("v00003.txt"))
    assert(Versioned.latestVersion(spark, dir).contains(7),
      "probe walk served the hint itself across an adjacent hole")
  }

  test("a TORN checkpoint sidecar (truncated mid-write) fails its " +
      "#eof trailer and readers fall back to the delta chain") {
    val dir = tmpDir() + "/torn"
    for (i <- 0 until 4)
      Versioned.commit(spark, dir,
        Seq((i.toLong, s"r$i")).toDF("id", "s"))             // v0..v3
    assert(Versioned.checkpointManifest(spark, dir),
      "fixture wants a delta head to fold")
    val cp = java.nio.file.Paths.get(dir, "_manifest", "v00003.ckpt.txt")
    val full = java.nio.file.Files.readAllBytes(cp)
    val text = new String(full, "UTF-8")
    assert(text.trim.split('\n').last.startsWith("#eof\t"),
      "a checkpoint sidecar must end with its #eof trailer")
    assert(Versioned.read(spark, dir).count() == 4)
    // tear the sidecar: drop the trailing half — the parser would
    // happily read fewer lines, so only the trailer can catch it
    java.nio.file.Files.write(cp,
      java.util.Arrays.copyOf(full, full.length / 2))
    assert(Versioned.read(spark, dir).count() == 4,
      "a torn sidecar must fall back to the chain, not drop rows")
    assert(Versioned.manifestDataLines(spark, dir, 3).size == 4)
  }
}
