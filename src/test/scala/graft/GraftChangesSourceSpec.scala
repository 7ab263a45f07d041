package graft

import org.apache.spark.sql.functions._

import graft.lake.Versioned
import graft.streaming.Streams

/** The streaming SOURCE over the versioned lake
  * ([[graft.streaming.GraftChangesSource]]): offsets are committed
  * version numbers, each micro-batch plans the change feed of exactly
  * the versions it covers, and a restart resumes from the
  * checkpointed offset exactly-once — the read half of the
  * `format("graft")` sink ([[graft.streaming.GraftSink]]).
  */
class GraftChangesSourceSpec extends SparkSuite {
  import spark.implicits._

  private def commitRange(dir: String, lo: Long, hi: Long): Int =
    Versioned.commit(spark,
      dir, (lo until hi).map(i => (i, s"r$i")).toDF("id", "s"))

  test("the full feed streams: startingVersion snapshot as inserts, " +
      "then per-commit changes including row-level deletes") {
    val dir = tmpDir() + "/src"
    commitRange(dir, 0, 3)                              // v0
    commitRange(dir, 10, 12)                            // v1
    Versioned.commitWithStats(spark, dir,
      Seq((20L, "r20")).toDF("id", "s"), "id")          // v2
    val v3 = Versioned.deleteWhere(spark, dir, col("id") === 10L) // v3
    assert(v3 == 3)
    val name = s"feed_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = Streams.readChanges(spark, dir, Seq("id"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir() + "/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(name).drop("_commit_timestamp")
      .as[(Long, String, String, Int)].collect().toSet
    val want =
      (0L until 3L).map(i => (i, s"r$i", "insert", 0)).toSet ++
        (10L until 12L).map(i => (i, s"r$i", "insert", 1)) +
        ((20L, "r20", "insert", 2)) +
        ((10L, "r10", "delete", 3))
    assert(got == want, s"feed mismatch: got $got")
  }

  test("restart mid-stream resumes from the checkpointed version " +
      "offset: no commit replayed, no commit lost " +
      "(maxVersionsPerTrigger forces multi-batch catch-up)") {
    val dir = tmpDir() + "/restart"
    val ckpt = tmpDir() + "/ckpt"
    commitRange(dir, 0, 2)                              // v0
    commitRange(dir, 10, 11)                            // v1
    // a recoverable sink (memory sink refuses checkpoint recovery):
    // every delivered row accumulates here across incarnations
    val got =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String,
        String, Int)]()
    def start() = Streams.readChanges(spark, dir, Seq("id"),
        maxVersionsPerTrigger = Some(1))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.drop("_commit_timestamp")
          .as[(Long, String, String, Int)].collect().foreach(got.add)
        ()
      }.start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(got.size == 3, s"first incarnation saw ${got.size} rows")
    // commits landing while the query is DOWN
    commitRange(dir, 20, 22)                            // v2
    commitRange(dir, 30, 31)                            // v3
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    val all = got.asScala.toSeq
    assert(all.size == all.toSet.size,
      s"a restart replayed an already-committed version: $all")
    assert(all.toSet ==
      Set((0L, "r0", "insert", 0), (1L, "r1", "insert", 0),
        (10L, "r10", "insert", 1), (20L, "r20", "insert", 2),
        (21L, "r21", "insert", 2), (30L, "r30", "insert", 3)),
      s"restart must stream exactly the down-time commits, got $all")
  }

  test("startingVersion=latest anchors at creation, persists the " +
      "anchor in the checkpoint, and streams only later commits") {
    val dir = tmpDir() + "/latest"
    val ckpt = tmpDir() + "/ckpt"
    commitRange(dir, 0, 5)                              // v0: pre-existing
    val got =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String,
        String, Int)]()
    def start() = Streams.readChanges(spark, dir, Seq("id"),
        startingVersion = "latest")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.drop("_commit_timestamp")
          .as[(Long, String, String, Int)].collect().foreach(got.add)
        ()
      }.start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(got.isEmpty,
        "latest mode must not stream pre-existing content")
      commitRange(dir, 10, 12)                          // v1: streams
      q1.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet ==
        Set((10L, "r10", "insert", 1), (11L, "r11", "insert", 1)))
    } finally q1.stop()
    // down-time commit, then restart: the ORIGINAL anchor holds (the
    // restart must not re-anchor at the new head and skip v2)
    commitRange(dir, 20, 21)                            // v2
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet ==
      Set((10L, "r10", "insert", 1), (11L, "r11", "insert", 1),
        (20L, "r20", "insert", 2)),
      "the restart must stream the down-time commit exactly once, " +
        s"not re-anchor: ${got.asScala.toSeq}")
  }

  test("the initial snapshot pages through maxFilesPerTrigger slices " +
      "— a huge anchor version never arrives as one giant batch — " +
      "and a restart mid-snapshot resumes without loss or dup") {
    val dir = tmpDir() + "/chunked"
    val ckpt = tmpDir() + "/ckpt"
    // anchor version with 4 data files
    Versioned.commitWithStats(spark, dir,
      (0L until 40L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")), "id")        // v0: 4 files
    Versioned.commit(spark, dir,
      Seq((100L, "r100")).toDF("id", "s"))              // v1
    val got =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String,
        String, Int)]()
    val batchSizes =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    // a mid-batch kill leaves the offset logged but uncommitted, and
    // the engine RE-RUNS that batch on restart with the SAME batchId
    // and (deterministic source) the same rows — exactly-once is the
    // sink's dedup-by-batchId job, the idempotentCommit pattern
    val seenBatches =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def start() = spark.readStream.format("graft-changes")
      .option("path", dir).option("keyCols", "id")
      .option("maxFilesPerTrigger", "1")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        if (seenBatches.add(id)) {
          val rows = b.drop("_commit_timestamp")
            .as[(Long, String, String, Int)].collect()
          batchSizes.add(rows.length.toLong)
          rows.foreach(got.add)
        }
        ()
      }.start()
    // first incarnation: stop after at least one snapshot slice landed
    val q1 = start()
    try {
      while (got.size() < 10) Thread.sleep(50)
    } finally q1.stop()
    import scala.jdk.CollectionConverters._
    val firstLeg = got.size()
    assert(firstLeg < 41,
      s"chunking must not deliver everything in one leg ($firstLeg)")
    // second incarnation finishes the snapshot and the v1 change
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val all = got.asScala.toSeq
    assert(all.size == all.toSet.size,
      s"mid-snapshot restart duplicated rows: ${all.size} vs " +
        s"${all.toSet.size}")
    assert(all.toSet ==
      ((0L until 40L).map(i => (i, s"r$i", "insert", 0)) :+
        ((100L, "r100", "insert", 1))).toSet,
      "the paged snapshot plus the change must land exactly once")
    // every snapshot slice respected the one-file page bound (10 rows
    // per range-clustered file)
    assert(batchSizes.asScala.forall(_ <= 10),
      s"a batch exceeded the one-file slice: ${batchSizes.asScala}")
  }

  test("update pairs stream for in-place DML, and the feed applied " +
      "to a downstream table reproduces the source head") {
    val dir = tmpDir() + "/apply"
    Versioned.commitWithStats(spark, dir,
      (0L until 20L).map(i => (i, i * 10L)).toDF("id", "v")
        .repartitionByRange(2, col("id")), "id")        // v0
    Versioned.updateWhere(spark, dir, col("id") === 3L,
      Map("v" -> lit(999L)))                            // v1: update pair
    val name = s"app_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = Streams.readChanges(spark, dir, Seq("id"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir() + "/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val feed = spark.table(name)
    assert(feed.filter(col("_change_type") === "update_preimage")
      .drop("_commit_timestamp")
      .as[(Long, Long, String, Int)].collect().toSeq ==
      Seq((3L, 30L, "update_preimage", 1)))
    assert(feed.filter(col("_change_type") === "update_postimage")
      .drop("_commit_timestamp")
      .as[(Long, Long, String, Int)].collect().toSeq ==
      Seq((3L, 999L, "update_postimage", 1)))
    // apply the feed in commit order (latest action per key wins;
    // deletes drop the key): the materialized state must equal the
    // source head — the downstream-consumer contract
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("_commit_version").desc)
    val end = feed.filter(col("_change_type") =!= "update_preimage")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("_change_type") =!= "delete")
      .select("id", "v")
    assert(end.as[(Long, Long)].collect().toSet ==
      Versioned.read(spark, dir).as[(Long, Long)].collect().toSet)
  }

  test("source validation fails loudly: explicit startingVersion on " +
      "an absent table, unknown key column, bad mode") {
    val dir = tmpDir() + "/bad"
    intercept[IllegalArgumentException] {
      Streams.readChanges(spark, dir, Seq("id")).schema // no table yet
    }
    commitRange(dir, 0, 2)
    intercept[IllegalArgumentException] {
      Streams.readChanges(spark, dir, Seq("nope")).schema
    }
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-changes")
        .option("path", dir).option("mode", "nope").load()
    }
  }

  test("KEYLESS feed: a merge-on-read DELETE streams its exact rows " +
      "as deletes with NO keyCols; a rewrite commit fails loudly; a " +
      "compaction nets zero rows") {
    val dir = tmpDir() + "/keyless"
    val ckpt = tmpDir() + "/ckpt"
    commitRange(dir, 0, 5)                               // v0
    val v1 = Versioned.deleteWhereMor(spark, dir,
      col("id") === 2L || col("id") === 4L)              // v1: DV only
    assert(v1 == 1)
    Versioned.compactCommit(spark, dir)                  // v2: no-op rows
    val name = s"kl_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = Streams.readChanges(spark, dir, Nil)         // NO keyCols
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(name).drop("_commit_timestamp")
      .as[(Long, String, String, Int)].collect().toSet
    assert(got ==
      (0L until 5L).map(i => (i, s"r$i", "insert", 0)).toSet ++
        Set((2L, "r2", "delete", 1), (4L, "r4", "delete", 1)),
      s"keyless MoR delete feed mismatch: $got")
    // a REWRITE commit (CoW update) cannot render keyless: the query
    // fails loudly instead of emitting bogus delete+insert churn
    Versioned.updateWhere(spark, dir, col("id") === 0L,
      Map("s" -> lit("updated")))                        // v3: rewrite
    val q2 = Streams.readChanges(spark, dir, Nil)
      .writeStream.format("memory")
      .queryName(name + "b")
      .option("checkpointLocation", tmpDir() + "/ckpt2").start()
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] {
      q2.processAllAvailable(); q2.awaitTermination(2000)
    }
    q2.stop()
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(m => m.contains("KEYLESS") && m.contains("keyCols"))),
      e.getMessage)
  }

  test("_commit_timestamp rides every feed row: per-version constant, " +
      "from the manifest instants, strictly increasing with version") {
    val dir = tmpDir() + "/ts"
    commitRange(dir, 0, 2)                               // v0
    commitRange(dir, 10, 11)                             // v1
    val name = s"ts_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = Streams.readChanges(spark, dir, Seq("id"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir() + "/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val inst = spark.table(name)
      .select("_commit_version", "_commit_timestamp").distinct()
      .as[(Int, java.sql.Timestamp)].collect().sortBy(_._1)
    assert(inst.length == 2 && inst.forall(_._2 != null))
    assert(inst(0)._2.getTime < inst(1)._2.getTime,
      "instants must increase with the version")
    // and they ARE the history's recorded instants
    val hist = Versioned.history(spark, dir)
      .select("version", "ts_millis")
      .as[(Int, Long)].collect().toMap
    assert(inst.forall { case (v, t) => hist(v) == t.getTime })
  }

  test("mid-stream RENAME or type change of a streamed column fails " +
      "the query (no silent null-fill); a mid-stream DROP null-fills") {
    val dir = tmpDir() + "/drift"
    val ckpt = tmpDir() + "/ckpt"
    Versioned.commit(spark, dir,
      (0L until 3L).map(i => (i, i * 10L, s"r$i"))
        .toDF("id", "v", "s"))                           // v0
    val name = s"dr_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = Streams.readChanges(spark, dir, Seq("id"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      Versioned.renameColumn(spark, dir, "v", "val")     // v1: rename
      commitRange2(dir)                                  // v2
      val e = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] {
        q.processAllAvailable(); q.awaitTermination(2000)
      }
      assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("RENAMED"))), e.getMessage)
    } finally q.stop()
    // a DROP, by contrast, null-fills: new stream over a dropping table
    val dir2 = tmpDir() + "/drift2"
    Versioned.commit(spark, dir2,
      (0L until 2L).map(i => (i, i * 10L, s"r$i"))
        .toDF("id", "v", "s"))                           // v0
    val name2 = s"dr2_${java.util.UUID.randomUUID().toString.take(8)}"
    val q2 = Streams.readChanges(spark, dir2, Seq("id"))
      .writeStream.format("memory").queryName(name2)
      .option("checkpointLocation", tmpDir() + "/ckpt2").start()
    try {
      q2.processAllAvailable()
      Versioned.dropColumn(spark, dir2, "v")             // v1
      Versioned.commit(spark, dir2,
        Seq((100L, "new")).toDF("id", "s"))              // v2
      q2.processAllAvailable()
      val rows = spark.table(name2)
        .filter(col("_commit_version") === 2)
        .select("id", "v", "s").collect()
      assert(rows.length == 1 && rows.head.isNullAt(1),
        "a dropped streamed column must null-fill, not fail")
    } finally q2.stop()
  }

  private def commitRange2(dir: String): Int =
    Versioned.commit(spark, dir,
      Seq((100L, 5L, "x")).toDF("id", "val", "s"))

  test("startingVersion=latest anchors on an EMPTY table (user " +
      "schema) and picks up the first commits") {
    val dir = tmpDir() + "/empty"
    val ckpt = tmpDir() + "/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val name = s"em_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = spark.readStream.format("graft-changes")
      .schema(schema)
      .option("path", dir)
      .option("startingVersion", "latest")
      .load()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).isEmpty)
      commitRange(dir, 0, 3)                             // v0: streams
      commitRange(dir, 10, 11)                           // v1: streams
      q.processAllAvailable()
      val got = spark.table(name).drop("_commit_timestamp")
        .as[(Long, String, String, Int)].collect().toSet
      assert(got ==
        ((0L until 3L).map(i => (i, s"r$i", "insert", 0)).toSet +
          ((10L, "r10", "insert", 1))),
        s"empty-anchor stream mismatch: $got")
    } finally q.stop()
  }

  test("startingTimestamp anchors at the FIRST version committed at " +
      "or after the instant; restart keeps the resolved anchor; a " +
      "timestamp after the last commit refuses loudly") {
    val dir = tmpDir() + "/ts-anchor"
    val ckpt = tmpDir() + "/ts-ckpt"
    commitRange(dir, 0, 3)                               // v0
    Thread.sleep(30)
    commitRange(dir, 10, 12)                             // v1
    Thread.sleep(30)
    commitRange(dir, 20, 21)                             // v2
    val ts = Versioned.history(spark, dir)
      .select("version", "ts_millis").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(ts(0) < ts(1) && ts(1) < ts(2), "fixture wants ts gaps")
    // a recoverable sink (memory sink refuses checkpoint recovery)
    val got =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String,
        String, Int)]()
    def start(instant: Long, cp: String) =
      spark.readStream.format("graft-changes")
        .option("path", dir)
        .option("startingTimestamp", instant.toString)
        .load()
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.drop("_commit_timestamp")
            .as[(Long, String, String, Int)].collect().foreach(got.add)
          ()
        }.start()
    // an instant BETWEEN v1 and v2 anchors at v2: its snapshot (the
    // whole state at v2) streams as _commit_version=2 inserts
    val q = start(ts(1) + 1, ckpt)
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.size == 6, "the anchor version's full snapshot")
    assert(got.asScala.map(_._4).toSet == Set(2),
      "an instant between commits must anchor at the NEXT version")
    // restart on the same checkpoint keeps the resolved anchor:
    // no re-snapshot, only the post-anchor tail streams
    commitRange(dir, 30, 32)                             // v3
    val q2 = start(ts(1) + 1, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(got.size == 8,
      s"a restarted timestamp anchor must not re-snapshot: ${got.size}")
    // an exact hit anchors AT the commit
    got.clear()
    val q3 = start(ts(1), tmpDir() + "/ts-ckpt3")
    try q3.processAllAvailable() finally q3.stop()
    assert(got.asScala.map(_._4).toSet == Set(1, 2, 3),
      "an exact instant must anchor at its own commit")
    // an instant before the floor anchors at the floor (everything
    // retained is at-or-after it)
    assert(Versioned.versionAtOrAfterInstant(spark, dir, 0L)
      .contains(0))
    // after the last commit: refused loudly, never a silent wait
    val e = intercept[Exception] {
      spark.readStream.format("graft-changes")
        .option("path", dir)
        .option("startingTimestamp",
          (ts(2) + 86400000L).toString)
        .load()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(_.contains("after the last commit"))), e.getMessage)
    // mutually exclusive with startingVersion
    val e2 = intercept[Exception] {
      spark.readStream.format("graft-changes")
        .option("path", dir)
        .option("startingVersion", "0")
        .option("startingTimestamp", ts(0).toString)
        .load()
    }
    assert(Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(_.contains("mutually exclusive"))), e2.getMessage)
  }

  test("maxBytesPerTrigger: the anchor snapshot pages by BYTES (a " +
      "fat anchor splits across triggers); the feed phase admits " +
      "whole versions until the budget fills — a fat version streams " +
      "alone, never split") {
    val dir = tmpDir() + "/bytes"
    // anchor v0: 8 rows in 4 files; v1: 1 row; v2: fat (6 rows, 3
    // files in ONE version)
    Versioned.commit(spark, dir,
      (0L until 8L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartition(4))                                  // v0
    commitRange(dir, 10, 11)                              // v1
    Versioned.commit(spark, dir,
      (20L until 26L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartition(3))                                  // v2
    // budget of 1 byte: every admission is the at-least-one floor —
    // snapshot pages one FILE per trigger, feed one VERSION per
    // trigger, and v2's three files still arrive as ONE batch
    val batches =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Set[Int])]
    val q = spark.readStream.format("graft-changes")
      .option("path", dir)
      .option("startingVersion", "0")
      .option("keyCols", "id")
      .option("maxBytesPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", tmpDir() + "/bytes-ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("_commit_version").collect().map(_.getInt(0))
        batches.synchronized { batches += ((rows.length, rows.toSet)) }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val seen = batches.synchronized(batches.toList)
    // snapshot: 4 single-file batches (8 rows total), all version 0
    // — repartition's round-robin start is random, so per-file row
    // counts vary; the BATCH COUNT is the contract
    assert(seen.take(4).forall(_._2 == Set(0)) &&
      seen.take(4).map(_._1).sum == 8,
      s"the fat anchor must page one file per trigger, got $seen")
    // feed: v1 alone (1 row), then v2 WHOLE in one batch (6 rows)
    assert(seen.drop(4) == List((1, Set(1)), (6, Set(2))),
      s"the feed must admit whole versions one per trigger, got $seen")
    // rows survive exactly once end-to-end
    assert(seen.map(_._1).sum == 15)
  }

  test("startingTimestamp on a LEGACY table (a consulted manifest " +
      "without #ts) refuses loudly instead of trusting file mtimes") {
    val dir = tmpDir() + "/ts-legacy"
    commitRange(dir, 0, 3)                               // v0
    commitRange(dir, 10, 12)                             // v1
    // strip the #ts header from v0 — the shape of a manifest written
    // before instant tracking
    val p = java.nio.file.Paths.get(dir, "_manifest", "v00000.txt")
    val kept = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala
      .filterNot(_.startsWith("#ts\t"))
    java.nio.file.Files.write(p,
      scala.jdk.CollectionConverters.SeqHasAsJava(kept).asJava)
    val e = intercept[Exception] {
      spark.readStream.format("graft-changes")
        .option("path", dir)
        .option("startingTimestamp", "0")
        .load()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(_.contains("predates the graft format epoch (no #ts)"))),
      e.getMessage)
  }
}
