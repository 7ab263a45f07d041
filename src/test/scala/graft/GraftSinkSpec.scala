package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.Versioned

/** The first-class streaming SINK over the versioned lake
  * ([[graft.streaming.GraftSink]]): `df.writeStream.format("graft")`
  * / `.toTable("graft.db.t")` routes every micro-batch through
  * [[Versioned.idempotentCommit]] — the write half of the
  * catalog-native streaming story, in the standard Structured
  * Streaming wiring. Exactly-once is the (appId, batchId)
  * manifest stamp: appId defaults to the STREAMING QUERY ID, which
  * the engine persists in the checkpoint and republishes on restart.
  */
class GraftSinkSpec extends SparkSuite {
  import spark.implicits._

  private def writeBatchFile(dir: String, lo: Long, hi: Long): Unit =
    (lo until hi).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1).write.mode("append").parquet(dir)

  private def fileStream(src: String) =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(src)

  test("writeStream.format(\"graft\") commits each micro-batch as an " +
      "(appId, batchId)-stamped version; a crash-replay of the last " +
      "batch is recognized by its stamp and skipped") {
    val src = tmpDir() + "/sink-src"
    val table = tmpDir() + "/sink-table"
    val ckpt = tmpDir() + "/sink-ckpt"
    writeBatchFile(src, 0, 3)
    writeBatchFile(src, 10, 13)
    writeBatchFile(src, 20, 23)
    val q = fileStream(src).writeStream.format("graft")
      .option("path", table)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(Versioned.latestVersion(spark, table).contains(2),
      "three micro-batches must land as exactly three versions")
    assert(Versioned.read(spark, table).as[(Long, String)]
      .collect().toSet ==
      ((0L until 3L) ++ (10L until 13L) ++ (20L until 23L))
        .map(i => (i, s"r$i")).toSet)
    // every version carries the query id as its txn stamp
    val apps = Versioned.history(spark, table)
      .select("app_id").collect().map(_.getString(0)).distinct.toSeq
    assert(apps == Seq(q.id.toString),
      s"txn stamps must carry the streaming query id, got $apps")
    // a replayed micro-batch (what a restarted query re-submits for
    // a published-but-unacknowledged batch) must stamp-skip, not
    // double-append
    val replay = Versioned.idempotentCommit(spark, table,
      (20L until 23L).map(i => (i, s"r$i")).toDF("id", "s"),
      q.id.toString, batchId = 2)
    assert(replay.isEmpty, "replayed batch 2 double-committed")
  }

  test("kill/restart on the same checkpoint: the restarted query " +
      "keeps its id (same idempotence key), re-ingests nothing, " +
      "loses nothing") {
    val src = tmpDir() + "/restart-src"
    val table = tmpDir() + "/restart-table"
    val ckpt = tmpDir() + "/restart-ckpt"
    writeBatchFile(src, 0, 5)
    writeBatchFile(src, 10, 15)
    val q1 = fileStream(src).writeStream.format("graft")
      .option("path", table)
      .option("checkpointLocation", ckpt)
      .start()
    try q1.processAllAvailable() finally q1.stop() // kill
    assert(Versioned.read(spark, table).count() == 10)
    // data lands while the query is down …
    writeBatchFile(src, 20, 25)
    writeBatchFile(src, 30, 35)
    val q2 = fileStream(src).writeStream.format("graft")
      .option("path", table)
      .option("checkpointLocation", ckpt)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(q2.id == q1.id,
      "a restart on the same checkpoint must keep the query id")
    val got = Versioned.read(spark, table).as[(Long, String)]
      .collect().toList
    val want = ((0L until 5L) ++ (10L until 15L) ++ (20L until 25L) ++
      (30L until 35L)).map(i => (i, s"r$i")).toList
    assert(got.sorted == want.sorted,
      "restart must deliver every batch exactly once — no dup, no loss")
    // one writer identity across the restart
    assert(Versioned.history(spark, table).select("app_id")
      .collect().map(_.getString(0)).distinct.toSeq ==
      Seq(q1.id.toString))
  }

  test("writeStream.toTable(\"graft.db.t\") resolves the sink through " +
      "the catalog's V1 fallback; readStream.table roundtrips it") {
    withCatalogSession { (s, wh) =>
      s.sql("CREATE NAMESPACE graft.db")
      s.sql("CREATE TABLE graft.db.sunk (id BIGINT, s STRING)")
      val src = tmpDir() + "/tot-src"
      (0L until 6L).map(i => (i, s"r$i")).toDF("id", "s")
        .coalesce(1).write.mode("append").parquet(src)
      val q = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.StringType))))
        .parquet(src)
        .writeStream.format("graft")
        .option("checkpointLocation", tmpDir() + "/tot-ckpt")
        .toTable("graft.db.sunk")
      try q.processAllAvailable() finally q.stop()
      assert(s.sql("SELECT count(*) FROM graft.db.sunk").head()
        .getLong(0) == 6L)
      // exactly-once stamp rode through the catalog route too
      assert(Versioned.history(s, s"$wh/db/sunk")
        .filter(col("app_id").isNotNull).count() >= 1)
      // roundtrip: the catalog READ side tails the table this sink
      // feeds — head snapshot, then the next sunk batch
      val name = s"rt_${java.util.UUID.randomUUID().toString.take(8)}"
      val r = s.readStream.table("graft.db.sunk")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmpDir() + "/rt-ckpt").start()
      try {
        r.processAllAvailable()
        assert(s.table(name).count() == 6)
      } finally r.stop()
    }
  }

  test("Update output mode reaches the sink through the catalog " +
      "toTable route too: keyCols ride the writer options across " +
      "the V1 fallback") {
    withCatalogSession { (s, wh) =>
      s.sql("CREATE NAMESPACE graft.db")
      s.sql("CREATE TABLE graft.db.agg (s STRING, count BIGINT)")
      val src = tmpDir() + "/upd-tot-src"
      (0L until 4L).map(i => (i, s"g${i % 2}")).toDF("id", "s")
        .coalesce(1).write.mode("append").parquet(src)
      def run(): Unit = {
        val q = s.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("s",
              org.apache.spark.sql.types.StringType))))
          .parquet(src)
          .groupBy("s").count()
          .writeStream.format("graft")
          .outputMode("update")
          .option("keyCols", "s")
          .option("checkpointLocation", tmpDir() + "/upd-tot-ckpt")
          .toTable("graft.db.agg")
        try q.processAllAvailable() finally q.stop()
      }
      run()
      import s.implicits.{newStringEncoder, newProductEncoder}
      assert(s.table("graft.db.agg").as[(String, Long)]
        .collect().toMap == Map("g0" -> 2L, "g1" -> 2L))
      // keys collide on the next batch: the rows must OVERWRITE
      (10L until 13L).map(i => (i, "g0")).toDF("id", "s")
        .coalesce(1).write.mode("append").parquet(src)
      run()
      assert(s.table("graft.db.agg").as[(String, Long)]
        .collect().toMap == Map("g0" -> 5L, "g1" -> 2L),
        "catalog-route Update must upsert, not append")
    }
  }

  test("Complete output mode: each trigger's WHOLE aggregate result " +
      "replaces the table as a stamped version — time travel renders " +
      "every trigger's rollup") {
    val src = tmpDir() + "/cmp-src"
    val table = tmpDir() + "/cmp-table"
    writeBatchFile(src, 0, 4)   // ids 0..3 -> 4 distinct s values
    val q = fileStream(src)
      .groupBy("s").count()
      .writeStream.format("graft")
      .outputMode("complete")
      .option("path", table)
      .option("checkpointLocation", tmpDir() + "/cmp-ckpt")
      .start()
    try {
      q.processAllAvailable()
      assert(Versioned.read(spark, table).count() == 4)
      writeBatchFile(src, 10, 13) // 3 more groups
      q.processAllAvailable()
      // the head is the FULL recomputed aggregate, not an append
      assert(Versioned.read(spark, table).count() == 7,
        "Complete mode must replace, not append")
      // ... and the previous trigger's rollup is still a version
      val head = Versioned.latestVersion(spark, table).get
      assert(Versioned.read(spark, table, Some(head - 1)).count() == 4,
        "each trigger's result must stay time-travelable")
      // a crash-replay of the last batch (same appId + batchId, what
      // a restarted query re-submits) stamp-skips the REPLACE too
      val lastBatch = Versioned.history(spark, table)
        .filter(col("batch_id").isNotNull)
        .agg(max("batch_id")).head().getLong(0)
      assert(Versioned.idempotentCommit(spark, table,
        Seq(("x", 1L)).toDF("s", "count"), q.id.toString,
        batchId = lastBatch, replace = true).isEmpty,
        "replayed Complete batch replaced the table twice")
      assert(Versioned.read(spark, table).count() == 7)
    } finally q.stop()
  }

  test("mid-stream schema evolution through the sink: a batch with a " +
      "NEW column evolves the table (append-commit rule); earlier " +
      "rows null-fill") {
    val table = tmpDir() + "/evo-table"
    val ckpt = tmpDir() + "/evo-ckpt"
    // two incarnations of the same query over different-schema
    // sources — the restart shape of a pipeline whose upstream
    // added a column
    val src1 = tmpDir() + "/evo-src1"
    (0L until 3L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1).write.parquet(src1)
    val q1 = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType))))
      .parquet(src1)
      .writeStream.format("graft")
      .option("path", table).option("checkpointLocation", ckpt)
      .start()
    try q1.processAllAvailable() finally q1.stop()
    val src2 = tmpDir() + "/evo-src2"
    (10L until 12L).map(i => (i, s"r$i", i * 100L))
      .toDF("id", "s", "score").coalesce(1).write.parquet(src2)
    val q2 = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.LongType))))
      .parquet(src2)
      .writeStream.format("graft")
      .option("path", table)
      .option("checkpointLocation", tmpDir() + "/evo-ckpt2")
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val head = Versioned.read(spark, table)
    assert(head.columns.toSeq == Seq("id", "s", "score"),
      "the appended column must evolve the table schema")
    assert(head.count() == 5)
    assert(head.filter(col("score").isNull).count() == 3,
      "pre-evolution rows must null-fill the new column")
  }

  test("refusals: Update output mode WITHOUT keyCols and partition " +
      "columns are rejected loudly at query start — and the " +
      "partition refusal points at the clustering levers") {
    val src = tmpDir() + "/ref-src"
    writeBatchFile(src, 0, 3)
    val table = tmpDir() + "/ref-table"
    val eMode = intercept[Exception] {
      val q = fileStream(src)
        .groupBy("s").count()
        .writeStream.format("graft")
        .outputMode("update")
        .option("path", table)
        .option("checkpointLocation", tmpDir() + "/ref-ckpt1")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(Iterator.iterate(eMode: Throwable)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(_.contains("keyCols"))),
      eMode.getMessage)
    val ePart = intercept[Exception] {
      val q = fileStream(src)
        .writeStream.format("graft")
        .partitionBy("s")
        .option("path", table)
        .option("checkpointLocation", tmpDir() + "/ref-ckpt2")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(Iterator.iterate(ePart: Throwable)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(m => m.contains("graft.cluster.cols") &&
          m.contains("graft.system.compact"))),
      ePart.getMessage)
  }

  test("Update output mode with keyCols is the keyed streaming " +
      "UPSERT: each trigger's changed keys merge into the table, " +
      "kill/restart stays exactly-once, final state matches the " +
      "one-shot aggregate") {
    val src = tmpDir() + "/upd-src"
    val table = tmpDir() + "/upd-table"
    val ckpt = tmpDir() + "/upd-ckpt"
    // keys collide across batches: s-groups re-aggregate, and each
    // re-emitted key must OVERWRITE its row, not append beside it
    writeBatchFile(src, 0, 4)   // r0..r3, one each
    writeBatchFile(src, 0, 2)   // r0, r1 again -> counts 2
    def run(): Unit = {
      val q = fileStream(src)
        .groupBy("s").count()
        .writeStream.format("graft")
        .outputMode("update")
        .option("keyCols", "s")
        .option("path", table)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val skips0 = Versioned.mergeProbeSkips.get()
    run()
    assert(Versioned.read(spark, table).as[(String, Long)]
      .collect().toMap ==
      Map("r0" -> 2L, "r1" -> 2L, "r2" -> 1L, "r3" -> 1L),
      "upsert must overwrite re-emitted keys")
    // the batch plan IS an aggregate keyed on the merge key, so the
    // sink must prove one-row-per-key from the plan and skip the
    // merge's grouped cardinality probe (batch 0 is the first commit
    // — no merge; batch 1 must skip)
    assert(Versioned.mergeProbeSkips.get() == skips0 + 1,
      "Update-mode aggregate batches must skip the cardinality probe")
    // kill happened (q stopped); data lands while the query is down
    writeBatchFile(src, 2, 4)   // r2, r3 again -> counts 2
    writeBatchFile(src, 10, 11) // r10 appears
    run() // restart on the same checkpoint: same query id, same state
    val got = Versioned.read(spark, table).as[(String, Long)]
      .collect().toMap
    assert(got == Map("r0" -> 2L, "r1" -> 2L, "r2" -> 2L,
      "r3" -> 2L, "r10" -> 1L),
      s"restarted upsert diverged from the one-shot aggregate: $got")
    // every version carries the stream's stamp; a replay of the last
    // batch stamp-skips the MERGE too
    val hist = Versioned.history(spark, table)
    val appId = hist.select("app_id").head().getString(0)
    val lastBatch = hist.agg(max("batch_id")).head().getLong(0)
    assert(Versioned.idempotentMerge(spark, table,
      Seq(("r0", 99L)).toDF("s", "count"), Seq("s"),
      appId, lastBatch).isEmpty,
      "replayed Update batch merged twice")
    assert(Versioned.read(spark, table).as[(String, Long)]
      .collect().toMap.apply("r0") == 2L)
  }

  test("addBatch OFF the stream-execution thread fails loudly " +
      "(no silent fresh identity); txnAppId rescues it — the " +
      "Spark-internal QUERY_ID_KEY contract, pinned") {
    val table = tmpDir() + "/tl-table"
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    // a foreign thread has no sql.streaming.queryId local property:
    // the sink must refuse rather than mint an identity that would
    // forfeit replay protection after a Spark-internal refactor
    val sink = new graft.streaming.GraftSink(spark.sqlContext,
      Map("path" -> table))
    var err: Option[Throwable] = None
    val t = new Thread(() => {
      try sink.addBatch(0L, batch)
      catch { case e: Throwable => err = Some(e) }
    })
    t.start(); t.join()
    assert(err.exists(e => e.isInstanceOf[IllegalStateException] &&
      e.getMessage.contains("txnAppId")),
      s"expected the loud identity refusal, got $err")
    assert(Versioned.latestVersion(spark, table).isEmpty,
      "the refused batch must publish nothing")
    // the documented escape hatch restores the identity
    val rescued = new graft.streaming.GraftSink(spark.sqlContext,
      Map("path" -> table, "txnAppId" -> "manual-writer"))
    var err2: Option[Throwable] = None
    val t2 = new Thread(() => {
      try rescued.addBatch(0L, batch)
      catch { case e: Throwable => err2 = Some(e) }
    })
    t2.start(); t2.join()
    assert(err2.isEmpty, s"txnAppId path failed: $err2")
    assert(Versioned.read(spark, table).count() == 2)
    assert(Versioned.txnHighWater(spark, table, "manual-writer")
      .contains(0L))
  }

  // ------------------------------------------------- CDC sink (r18)

  private val cdcSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("seq",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.StringType)))

  private def writeCdcFile(dir: String,
      rows: Seq[(Long, Long, String, String)]): Unit =
    rows.toDF("user_id", "seq", "op", "v")
      .coalesce(1).write.mode("append").parquet(dir)

  private def cdcStream(src: String) = {
    new java.io.File(src).mkdirs() // a not-yet-fed source dir
    spark.readStream.schema(cdcSchema)
      .option("maxFilesPerTrigger", 1).parquet(src)
  }

  test("opColumn Update mode is exactly-once CDC apply: deletes " +
      "tombstone their key, multi-row batches pre-compact by seq, a " +
      "kill/restart loses nothing, and a LATE update older than an " +
      "applied delete does NOT resurrect the key") {
    val src = tmpDir() + "/cdc-src"
    val table = tmpDir() + "/cdc-table"
    val ckpt = tmpDir() + "/cdc-ckpt"
    def run(upTo: Seq[Seq[(Long, Long, String, String)]]): String = {
      val q = cdcStream(src).writeStream.format("graft")
        .outputMode("update")
        .option("keyCols", "user_id")
        .option("opColumn", "op").option("seqColumn", "seq")
        .option("path", table)
        .option("checkpointLocation", ckpt)
        .start()
      try upTo.foreach { b =>
        writeCdcFile(src, b); q.processAllAvailable()
      } finally q.stop()
      q.id.toString
    }
    // phase 1: two batches — b0 carries TWO rows for u1 (the
    // multi-row-per-key shape: seq pre-compaction picks seq=3);
    // b1 deletes u2 and inserts u3 — then the query is killed
    val id1 = run(Seq(
      Seq((1L, 1L, "U", "a1"), (2L, 2L, "U", "b1"), (1L, 3L, "U", "a2")),
      Seq((2L, 4L, "D", "b1"), (3L, 5L, "U", "c1"))))
    // b2 lands while the query is down: a LATE update of u2 with a
    // seq OLDER than its applied delete, plus a fresh u4. The
    // restart keeps the query id; the late update must LOSE to the
    // tombstone (the max-semilattice point of retaining it).
    val id2 = run(Seq(
      Seq((2L, 3L, "U", "late"), (4L, 6L, "U", "d1"))))
    assert(id1 == id2, "restart must keep the streaming query id")
    assert(Versioned.latestVersion(spark, table).contains(2),
      "expected exactly one CDC-merge version per micro-batch")
    val state = Versioned.read(spark, table)
      .as[(Long, Long, String, String)].collect().toSet
    assert(state == Set(
      (1L, 3L, "U", "a2"),   // within-batch LWW winner
      (2L, 4L, "D", "b1"),   // tombstone beat the late update
      (3L, 5L, "U", "c1"),
      (4L, 6L, "U", "d1")), s"got $state")
    // the live view is one filter away
    assert(Versioned.read(spark, table).filter(col("op") =!= "D")
      .count() == 3)
    // a crash-replay of the last batch stamp-skips the CDC merge
    assert(Versioned.idempotentMergeCdc(spark, table,
      Seq((9L, 9L, "U", "x")).toDF("user_id", "seq", "op", "v"),
      Seq("user_id"), Seq("seq"), "op", "D", id1, batchId = 2).isEmpty,
      "replayed CDC batch merged twice")
  }

  test("tombstones=drop is the live-table shape: a winning delete " +
      "REMOVES the row, delete-of-absent is a no-op") {
    val src = tmpDir() + "/cdcd-src"
    val table = tmpDir() + "/cdcd-table"
    val ckpt = tmpDir() + "/cdcd-ckpt"
    val q = cdcStream(src).writeStream.format("graft")
      .outputMode("update")
      .option("keyCols", "user_id")
      .option("opColumn", "op").option("seqColumn", "seq")
      .option("tombstones", "drop")
      .option("path", table)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      writeCdcFile(src, Seq((1L, 1L, "U", "a"), (2L, 2L, "U", "b"),
        (9L, 3L, "D", "gone"))) // delete of an absent key: no-op
      q.processAllAvailable()
      writeCdcFile(src, Seq((2L, 4L, "D", "b"), (3L, 5L, "U", "c")))
      q.processAllAvailable()
    } finally q.stop()
    val state = Versioned.read(spark, table)
      .as[(Long, Long, String, String)].collect().toSet
    assert(state == Set((1L, 1L, "U", "a"), (3L, 5L, "U", "c")),
      s"deleted keys must leave the live table, got $state")
  }

  test("seqColumn without opColumn: multi-row-per-key Update batches " +
      "apply last-writer-wins within the batch; without seqColumn " +
      "the refusal names the contract") {
    val src = tmpDir() + "/lww-src"
    val table = tmpDir() + "/lww-table"
    val ckpt = tmpDir() + "/lww-ckpt"
    val q = cdcStream(src).writeStream.format("graft")
      .outputMode("update")
      .option("keyCols", "user_id").option("seqColumn", "seq")
      .option("path", table)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      writeCdcFile(src, Seq((1L, 1L, "U", "old"), (1L, 2L, "U", "new"),
        (2L, 1L, "U", "b")))
      q.processAllAvailable()
    } finally q.stop()
    assert(Versioned.read(spark, table)
      .select("user_id", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "new"), (2L, "b")))
    // the undeclared shape fails predictably, naming the knob
    val table2 = tmpDir() + "/lww-t2"
    Versioned.commit(spark, table2,
      Seq((1L, 0L, "U", "x")).toDF("user_id", "seq", "op", "v"))
    val sink = new graft.streaming.GraftSink(spark.sqlContext,
      Map("path" -> table2, "txnappid" -> "w"),
      upsertKeys = Seq("user_id"))
    val dup = Seq((1L, 1L, "U", "p"), (1L, 2L, "U", "q"))
      .toDF("user_id", "seq", "op", "v")
    val e = intercept[IllegalArgumentException](sink.addBatch(5L, dup))
    assert(e.getMessage.contains("seqColumn") &&
      e.getMessage.contains("duplicate keys"), e.getMessage)
  }

  test("seqColumn takes a comma list, most significant first: CDC " +
      "winners that tie on the first column are decided by the next") {
    val table = tmpDir() + "/seq2"
    val sink = new graft.streaming.GraftSink(spark.sqlContext,
      Map("path" -> table, "txnAppId" -> "s2", "opColumn" -> "op",
        "seqColumn" -> "ts, n"), upsertKeys = Seq("k"))
    def batch(rows: (Long, Long, Long, String, String)*) =
      rows.toDF("k", "ts", "n", "op", "v")
    // batch 0: k1's two rows tie on ts, so n decides (2 wins)
    sink.addBatch(0L, batch((1L, 5L, 1L, "U", "a"), (1L, 5L, 2L, "U", "b"),
      (2L, 5L, 1L, "U", "c")))
    // batch 1: k1 at (5, 1) loses to the applied (5, 2); k2's delete at
    // (5, 3) beats the applied (5, 1) and stays as a tombstone
    sink.addBatch(1L, batch((1L, 5L, 1L, "U", "stale"),
      (2L, 5L, 3L, "D", "")))
    assert(Versioned.read(spark, table).orderBy("k")
      .select("k", "n", "op", "v").as[(Long, Long, String, String)]
      .collect().toSeq == Seq((1L, 2L, "U", "b"), (2L, 3L, "D", "")))
  }

  test("chaos: a poison kills batch 1 mid-compute, then an orphaned " +
      "published-but-unacked batch 1 is skipped on replay — exactly " +
      "one lake version per micro-batch") {
    implicit val sc = spark.sqlContext
    val ckpt = tmpDir() + "/ckpt"
    val table = tmpDir() + "/table"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    def drain(v: org.apache.spark.sql.Column): Unit = {
      val q = input.toDF().toDF("id", "s").withColumn("s2", v)
        .writeStream.format("graft")
        .option("path", table)
        .option("checkpointLocation", ckpt)
        .option("txnAppId", "chaos-ving")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    input.addData((1L, "a"), (2L, "b"))
    drain(col("s"))                                    // batch 0 → v0
    assert(Versioned.latestVersion(spark, table).contains(0))
    // CHAOS window 1: batch 1 dies INSIDE its expression — nothing
    // stages, nothing publishes, the checkpoint never acks batch 1
    input.addData((3L, "c"), (4L, "poison"))
    val poisoned = when($"s" === "poison",
      assert_true(lit(false)).cast("string")).otherwise($"s")
    intercept[Exception] { drain(poisoned) }
    assert(Versioned.latestVersion(spark, table).contains(0)) // no leak
    // CHAOS window 2: simulate an incarnation that PUBLISHED batch 1's
    // version but died before the checkpoint ack — commit batch 1's
    // rows under the stream's own (appId, batchId) stamp
    assert(Versioned.idempotentCommit(spark, table,
      Seq((3L, "c", "c"), (4L, "poison", "poison"))
        .toDF("id", "s", "s2"),
      "chaos-ving", 1L).contains(1))
    // restart healthy: the checkpoint replays batch 1 with the SAME
    // batchId; the stamp recognizes it and the commit is SKIPPED
    drain(col("s"))
    assert(Versioned.latestVersion(spark, table).contains(1))
    assert(Versioned.read(spark, table).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("aggregatedOnKeys (the Update-mode probe-skip proof) is " +
      "conservative: true only when key-named outputs ARE grouping " +
      "attributes of an aggregate-rooted plan") {
    import graft.streaming.GraftSink.aggregatedOnKeys
    val base = Seq((1L, 2L), (1L, 3L)).toDF("k", "v")
    // aggregate keyed on k: one row per k by construction
    assert(aggregatedOnKeys(base.groupBy("k").count(), Seq("k")))
    // grouping on a SUBSET of the merge keys still proves uniqueness
    assert(aggregatedOnKeys(base.groupBy("k").count(),
      Seq("k", "count")))
    // a key-preserving projection on top keeps the proof
    assert(aggregatedOnKeys(
      base.groupBy("k").count().select("k", "count"), Seq("k")))
    // raw rows prove nothing
    assert(!aggregatedOnKeys(base, Seq("k")))
    // an aggregate value aliased to an EXTRA key name is fine —
    // uniqueness on the grouping subset carries to the superset
    assert(aggregatedOnKeys(
      base.groupBy("k").agg(max("v").as("k2")), Seq("k", "k2")))
    // …but when the ONLY key is that alias, nothing proves it unique
    // (two k-groups can produce the same max) — must refuse
    assert(!aggregatedOnKeys(
      base.groupBy("k").agg(max("v").as("k2")), Seq("k2")))
    // a projection that REBINDS a key name to a new expression breaks
    // the proof even over a valid aggregate
    assert(!aggregatedOnKeys(
      base.groupBy("k").count().select(col("count").as("k")), Seq("k")))
  }

  test("CDC option validation: opColumn without seqColumn, CDC " +
      "options outside Update mode, and a bad tombstones value all " +
      "refuse at query start") {
    val src = tmpDir() + "/val-src"
    writeCdcFile(src, Seq((1L, 1L, "U", "a")))
    def start(mode: String, opts: Map[String, String]) = {
      val w = cdcStream(src).writeStream.format("graft")
        .outputMode(mode)
        .option("path", tmpDir() + "/val-table")
        .option("checkpointLocation", tmpDir() + "/val-ckpt")
      opts.foreach { case (k, v) => w.option(k, v) }
      val q = w.start()
      try q.processAllAvailable() finally q.stop()
    }
    val e1 = intercept[Exception](start("update",
      Map("keyCols" -> "user_id", "opColumn" -> "op")))
    assert(Iterator.iterate(e1: Throwable)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(_.contains("seqColumn"))), e1.getMessage)
    val e2 = intercept[Exception](start("append",
      Map("opColumn" -> "op", "seqColumn" -> "seq")))
    assert(Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(_.contains("Update output mode only"))), e2.getMessage)
    val e3 = intercept[Exception](start("update",
      Map("keyCols" -> "user_id", "opColumn" -> "op",
        "seqColumn" -> "seq", "tombstones" -> "sometimes")))
    assert(Iterator.iterate(e3: Throwable)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(_.contains("'retain' or 'drop'"))), e3.getMessage)
  }
}
