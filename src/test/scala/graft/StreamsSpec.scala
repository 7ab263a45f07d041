package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.lake.Versioned
import graft.streaming.Streams

/** Streaming surface ST1-ST5: micro-batch lake ingest with dedup,
  * watermarked windows, custom sessionization state — and the crash
  * matrix every streaming writer must pass (`testOnly graft.StreamsSpec`).
  */
class StreamsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("ingestToLake: micro-batches append to partitioned lake with dedup (ST1/ST2/ST4)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val stream = input.toDF().toDF("time_s", "temp")
      .select(to_timestamp($"time_s").as("time"), $"temp",
        date_format(to_timestamp($"time_s"), "MM-dd-yy").as("fecha_partic"))
    val lake = tmpDir() + "/lake"
    val q = Streams.ingestToLake(stream, lake, tmpDir() + "/ckpt",
      intervalSec = 1)
    try {
      input.addData(("2023-11-30 14:00:00", 24.3))
      q.processAllAvailable()
      input.addData(("2023-11-30 14:00:00", 24.3)) // duplicate poll
      q.processAllAvailable()
      input.addData(("2023-11-30 14:15:00", 24.5))
      q.processAllAvailable()
    } finally q.stop() // ST3: an actually-working stop, unlike main.py:316
    val out = spark.read.parquet(lake)
    assert(out.count() == 2) // duplicate batch suppressed
    assert(out.columns.contains("fecha_partic"))
  }

  test("ingestToLake restarts from checkpoint: no duplicated, no lost rows (ST2/ST3)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val stream = input.toDF().toDF("time_s", "temp")
      .select(to_timestamp($"time_s").as("time"), $"temp",
        date_format(to_timestamp($"time_s"), "MM-dd-yy").as("fecha_partic"))
    val lake = tmpDir() + "/lake"
    val ckpt = tmpDir() + "/ckpt"
    // first incarnation: commit one batch, then stop
    val q1 = Streams.ingestToLake(stream, lake, ckpt, intervalSec = 1)
    try {
      input.addData(("2023-11-30 14:00:00", 24.3))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(lake).count() == 1)
    // data arriving while the query is down
    input.addData(("2023-11-30 14:15:00", 24.5))
    // second incarnation, SAME checkpoint: resumes after the committed
    // offset — the already-ingested batch is not replayed into the lake,
    // the down-time data is picked up (the restart story the reference's
    // daemon loop lacked, main.py:284-300)
    val q2 = Streams.ingestToLake(stream, lake, ckpt, intervalSec = 1)
    try {
      q2.processAllAvailable()
      input.addData(("2023-11-30 14:30:00", 24.7))
      q2.processAllAvailable()
    } finally q2.stop()
    val times = spark.read.parquet(lake).select("time").collect()
      .map(_.getTimestamp(0).toString).sorted.toSeq
    assert(times == Seq("2023-11-30 14:00:00.0", "2023-11-30 14:15:00.0",
      "2023-11-30 14:30:00.0"))
  }

  test("enrichIngest: broadcast dim join per batch; restart never re-appends") {
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("id", "tier")
    val table = tmpDir() + "/enr"
    val ckpt = tmpDir() + "/ckpt"
    val input = MemoryStream[(Long, Long, Double)]
    def drain(): Unit = {
      val q = Streams.enrichIngest(input.toDF().toDF("event_id", "uid", "v"),
        dim, table, ckpt, "uid", "id")
      try q.processAllAvailable() finally q.stop()
    }
    input.addData((100L, 1L, 0.5), (101L, 3L, 0.7)) // 3 has no dim row
    drain()
    // second incarnation, same checkpoint: the committed batch must NOT
    // replay; only the new data lands
    input.addData((102L, 2L, 0.9))
    drain()
    val got = Versioned.read(spark, table).orderBy("event_id")
      .as[(Long, Long, Double, String)].collect().toSeq
    assert(got == Seq((100L, 1L, 0.5, "gold"), (101L, 3L, 0.7, null),
      (102L, 2L, 0.9, "silver")))
  }

  test("cdcIngest: tombstones survive restarts; late-older upsert stays dead") {
    implicit val sc = spark.sqlContext
    val table = tmpDir() + "/cdc"
    val ckpt = tmpDir() + "/ckpt"
    val input = MemoryStream[(Long, Long, String, String)]
    def drain(): Unit = {
      val q = Streams.cdcIngest(input.toDF().toDF("k", "seq", "op", "s"),
        table, ckpt, "k", Seq("seq"), "op", Seq("s"))
      try q.processAllAvailable() finally q.stop()
    }
    // batch 0: upsert 1, delete 2 (seq 5)
    input.addData((1L, 1L, "U", "a"), (2L, 5L, "D", ""))
    drain()
    // batch 1, new incarnation: newer upsert for 1; LATE, OLDER upsert
    // for 2 (seq 3 < the applied delete's 5) — must stay dead
    input.addData((1L, 2L, "U", "b"), (2L, 3L, "U", "zombie"))
    drain()
    val state = Versioned.read(spark, table).orderBy("k")
      .as[(Long, Long, String, String)].collect().toSeq
    assert(state == Seq((1L, 2L, "U", "b"), (2L, 5L, "D", "")))
    val live = Versioned.read(spark, table).filter($"op" =!= "D")
      .select("k", "s").as[(Long, String)].collect().toSeq
    assert(live == Seq(1L -> "b"))
  }

  test("dedupIngest: within-batch min-id keeper + cross-batch fingerprint gate") {
    implicit val sc = spark.sqlContext
    val table = tmpDir() + "/acc"
    Versioned.commit(spark, table, Seq.empty[(Long, String)]
      .toDF("doc_id", "text")
      .withColumn("fingerprint", graft.ext.Text.fingerprint($"text")))
    val ckpt = tmpDir() + "/ckpt"
    val input = MemoryStream[(Long, String)]
    // AvailableNow drains what's queued then finishes; each incarnation
    // shares the checkpoint, so committed batches never re-admit
    def drain(): Unit = {
      val q = Streams.dedupIngest(input.toDF().toDF("doc_id", "text"),
        table, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    // batch 0: 12 is a normalized dup of 10 (case/punct/token order)
    input.addData((10L, "alpha beta"), (11L, "gamma delta"),
      (12L, "Beta ALPHA!"))
    drain()
    assert(Versioned.read(spark, table).count() == 2)
    // batch 1, new incarnation: 20 duplicates the ACCEPTED 10 -> dropped
    input.addData((20L, "alpha beta"), (21L, "epsilon zeta"))
    drain()
    val got = Versioned.read(spark, table).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(10L, 11L, 21L))
  }

  test("nearDedupIngest: verified near-dups rejected, novel docs admitted") {
    implicit val sc = spark.sqlContext
    val table = tmpDir() + "/nacc"
    Versioned.commit(spark, table,
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val ckpt = tmpDir() + "/nckpt"
    val input = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = Streams.nearDedupIngest(input.toDF().toDF("doc_id", "text"),
        table, ckpt, threshold = 0.2)
      try q.processAllAvailable() finally q.stop()
    }
    // identical texts -> identical signatures -> deterministic LSH recall
    input.addData(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six seven"))
    drain()
    assert(Versioned.read(spark, table).count() == 2)
    // 20 is a verbatim copy of accepted 10 -> rejected; 21 is novel
    input.addData(
      (20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "uno dos tres cuatro cinco seis siete"))
    drain()
    val got = Versioned.read(spark, table).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(10L, 11L, 21L))
  }

  /** Empty budget tables: accepted (doc_id, source, w, running_total)
    * and state (source, w, batch_id). */
  private def budgetTables(): (String, String) = {
    val (acc, st) = (tmpDir() + "/budg", tmpDir() + "/budg_st")
    Versioned.commit(spark, acc, Seq.empty[(Long, String, Long, Long)]
      .toDF("doc_id", "source", "w", "running_total"))
    Versioned.commit(spark, st, Seq.empty[(String, Long, Long)]
      .toDF("source", "w", "batch_id"))
    (acc, st)
  }

  test("budgetIngest: running total counts SEEN rows across batches " +
      "and restarts; admission equals the one-shot window formula") {
    implicit val sc = spark.sqlContext
    val (acc, st) = budgetTables()
    val ckpt = tmpDir() + "/ckpt"
    val input = MemoryStream[(Long, String, Long)]
    def drain(): Unit = {
      val q = Streams.budgetIngest(
        input.toDF().toDF("doc_id", "source", "n"), acc, st, ckpt,
        budget = 10L, weight = col("n"), keyCol = "source",
        idCol = "doc_id")
      try q.processAllAvailable() finally q.stop()
    }
    // batch 0: a(4) + a(5) = 9 both fit; b(12) alone blows the budget
    input.addData((1L, "a", 4L), (2L, "a", 5L), (3L, "b", 12L))
    drain()
    // batch 1 AFTER a restart: a(2) pushes a to 11 -> rejected even
    // though only 9 tokens were ACCEPTED (seen, not accepted, counts);
    // b(1) is rejected too: b's seen total is already 13
    input.addData((4L, "a", 2L), (5L, "b", 1L))
    drain()
    val got = Versioned.read(spark, acc).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(got == Seq((1L, 4L), (2L, 9L)))
    // replaying the same data into a FRESH checkpoint but one batch:
    // identical admissions (prefix function, not batching artifact)
    val (acc2, st2) = budgetTables()
    val input2 = MemoryStream[(Long, String, Long)]
    input2.addData((1L, "a", 4L), (2L, "a", 5L), (3L, "b", 12L),
      (4L, "a", 2L), (5L, "b", 1L))
    val q2 = Streams.budgetIngest(
      input2.toDF().toDF("doc_id", "source", "n"), acc2, st2,
      tmpDir() + "/ckpt2", budget = 10L, weight = col("n"),
      keyCol = "source", idCol = "doc_id")
    try q2.processAllAvailable() finally q2.stop()
    val oneShot = Versioned.read(spark, acc2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(oneShot == got)
  }

  test("chaos: dedupIngest killed MID-APPEND on batch 1 replays from " +
      "the checkpoint with no lost and no duplicated admissions") {
    implicit val sc = spark.sqlContext
    val table = tmpDir() + "/acc"
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("fingerprint", graft.ext.Text.fingerprint($"text"))
    Versioned.commit(spark, table, docs())
    val ckpt = tmpDir() + "/ckpt"
    val input = MemoryStream[(Long, String)]
    def drain(text: org.apache.spark.sql.Column): String = {
      val q = Streams.dedupIngest(input.toDF().toDF("doc_id", "t")
        .select($"doc_id", text.as("text")), table, ckpt)
      try q.processAllAvailable() finally q.stop()
      q.id.toString
    }
    input.addData((10L, "alpha beta"), (11L, "gamma delta"))
    val queryId = drain($"t")
    assert(Versioned.read(spark, table).count() == 2)
    // CHAOS: doc 22's text expression throws — batch 1's dedup plan
    // runs inside the append's staging job, so the append dies after
    // the checkpoint logged batch 1's offsets and before any commit
    input.addData((20L, "alpha beta"),      // dup of accepted 10
      (21L, "epsilon zeta"), (22L, "theta iota"))
    val poisoned = when($"doc_id" === 22L,
      assert_true(lit(false)).cast("string")).otherwise($"t")
    intercept[Exception] { drain(poisoned) }
    // the failed batch must not have leaked rows
    assert(Versioned.read(spark, table).count() == 2)
    // ALSO cover the other crash window: an incarnation that published
    // its append but died before the checkpoint commit — plant batch
    // 1's survivors as that incarnation's stamped append
    val head = Versioned.idempotentCommit(spark, table,
      docs((21L, "epsilon zeta"), (22L, "theta iota")), queryId, 1L)
    assert(head.isDefined)
    // replay batch 1 from the checkpoint: the stamp skips it
    assert(drain($"t") == queryId)
    assert(Versioned.latestVersion(spark, table) == head)
    val got = Versioned.read(spark, table).select("doc_id")
      .as[Long].collect().sorted.toSeq
    // 20 dup-rejected; 21 admitted exactly ONCE despite the orphaned
    // append; 22 admitted (not lost) — the one-shot admission set
    assert(got == Seq(10L, 11L, 21L, 22L))
  }

  test("chaos: budgetIngest poison row kills batch 1 mid-compute; the " +
      "restart replays to the one-shot admission set, state unduplicated") {
    implicit val sc = spark.sqlContext
    val (acc, st) = budgetTables()
    val ckpt = tmpDir() + "/ckpt"
    val input = MemoryStream[(Long, String, Long)]
    def drain(w: org.apache.spark.sql.Column): Unit = {
      val q = Streams.budgetIngest(
        input.toDF().toDF("doc_id", "source", "n"), acc, st, ckpt,
        budget = 10L, weight = w, keyCol = "source", idCol = "doc_id")
      try q.processAllAvailable() finally q.stop()
    }
    input.addData((1L, "a", 4L), (2L, "a", 5L), (3L, "b", 12L))
    drain(col("n"))
    // CHAOS: doc 6's weight expression throws — the admission window
    // computation fails inside batch 1, before either table commits
    input.addData((4L, "a", 1L), (5L, "b", 1L), (6L, "c", 3L))
    val poisoned = when($"doc_id" === 6L,
      assert_true(lit(false)).cast("long")).otherwise($"n")
    intercept[Exception] { drain(poisoned) }
    // nothing from the failed batch leaked into data OR state
    assert(Versioned.read(spark, acc).count() == 2)
    assert(Versioned.read(spark, st)
      .filter($"batch_id" >= 1).count() == 0)
    drain(col("n")) // restart with the healthy weight: batch 1 replays
    val got = Versioned.read(spark, acc).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    // one-shot prefix semantics: a: 4,9,10 all fit; b: 12,13 both
    // rejected; c: 3 fits — and nothing double-admitted on replay
    assert(got == Seq((1L, 4L), (2L, 9L), (4L, 10L), (6L, 3L)))
    // state carries exactly one contribution row per (batch, key)
    val stRows = Versioned.read(spark, st)
      .groupBy("batch_id", "source").count()
      .collect().map(_.getLong(2)).toSeq
    assert(stRows.nonEmpty && stRows.forall(_ == 1L))
  }

  // --------------------------------------------- crash-injection matrix

  /** One streaming writer under the crash matrix: `drain` runs it to
    * completion on a checkpoint over the same queued input, `rows`
    * reads its target(s), `heads` are the graft targets' head
    * versions (empty for the plain-Parquet lake). */
  private case class CrashRow(drain: String => Unit,
      rows: () => Seq[String], heads: () => Seq[Option[Int]])

  /** Rows of a graft table, order-insensitive. */
  private def rowsOf(dir: String): Seq[String] =
    Versioned.read(spark, dir).collect().map(_.toString).sorted.toSeq

  private def graftRow(table: String)(start: String => StreamingQuery) =
    CrashRow(ck => { val q = start(ck); try q.processAllAvailable()
      finally q.stop() }, () => rowsOf(table),
      () => Seq(Versioned.latestVersion(spark, table)))

  private val crashMatrix: Seq[(String, () => CrashRow)] = Seq(
    "dedupIngest" -> { () =>
      implicit val sc = spark.sqlContext
      val table = tmpDir() + "/acc"
      Versioned.commit(spark, table, Seq.empty[(Long, String)]
        .toDF("doc_id", "text")
        .withColumn("fingerprint", graft.ext.Text.fingerprint($"text")))
      val in = MemoryStream[(Long, String)]
      in.addData((10L, "alpha beta"), (11L, "gamma delta"),
        (12L, "Beta ALPHA!"))
      graftRow(table)(ck =>
        Streams.dedupIngest(in.toDF().toDF("doc_id", "text"), table, ck))
    },
    // 11 is under minTokens: it has no MinHash bands, so only the
    // stamp can recognize its replayed admission
    "nearDedupIngest" -> { () =>
      implicit val sc = spark.sqlContext
      val table = tmpDir() + "/nacc"
      Versioned.commit(spark, table,
        Seq.empty[(Long, String)].toDF("doc_id", "text"))
      val in = MemoryStream[(Long, String)]
      in.addData((10L, "alpha beta gamma delta epsilon zeta"),
        (11L, "short doc"))
      graftRow(table)(ck => Streams.nearDedupIngest(
        in.toDF().toDF("doc_id", "text"), table, ck))
    },
    "budgetIngest" -> { () =>
      implicit val sc = spark.sqlContext
      val (acc, st) = budgetTables()
      val in = MemoryStream[(Long, String, Long)]
      in.addData((1L, "a", 4L), (2L, "a", 5L), (3L, "b", 12L))
      graftRow(acc)(ck => Streams.budgetIngest(
        in.toDF().toDF("doc_id", "source", "n"), acc, st, ck,
        budget = 10L, weight = col("n")))
        .copy(rows = () => rowsOf(acc) ++ rowsOf(st),
          heads = () => Seq(acc, st).map(Versioned.latestVersion(spark, _)))
    },
    "enrichIngest" -> { () =>
      implicit val sc = spark.sqlContext
      val table = tmpDir() + "/enr"
      val dim = Seq((1L, "gold"), (2L, "silver")).toDF("id", "tier")
      val in = MemoryStream[(Long, Long, Double)]
      in.addData((100L, 1L, 0.5), (101L, 3L, 0.7))
      graftRow(table)(ck => Streams.enrichIngest(
        in.toDF().toDF("event_id", "uid", "v"), dim, table, ck, "uid", "id"))
    },
    "cdcIngest" -> { () =>
      implicit val sc = spark.sqlContext
      val table = tmpDir() + "/cdc"
      val in = MemoryStream[(Long, Long, String, String)]
      in.addData((1L, 1L, "U", "a"), (2L, 5L, "D", ""), (1L, 0L, "U", "old"))
      graftRow(table)(ck => Streams.cdcIngest(
        in.toDF().toDF("k", "seq", "op", "s"), table, ck, "k", Seq("seq"),
        "op", Seq("s")))
    },
    "format(graft) Append" -> { () =>
      implicit val sc = spark.sqlContext
      val table = tmpDir() + "/t"
      val in = MemoryStream[(Long, String)]
      in.addData((1L, "a"), (2L, "b"))
      graftRow(table)(ck => in.toDF().toDF("id", "s").writeStream
        .format("graft").option("path", table)
        .option("checkpointLocation", ck).start())
    },
    "ingestToLake" -> { () =>
      implicit val sc = spark.sqlContext
      val lake = tmpDir() + "/lake"
      val in = MemoryStream[(String, Double)]
      in.addData(("2023-11-30 14:00:00", 24.3), ("2023-11-30 14:15:00", 24.5))
      CrashRow(ck => {
          val q = Streams.ingestToLake(in.toDF().toDF("time_s", "temp")
            .select(to_timestamp($"time_s").as("time"), $"temp",
              date_format(to_timestamp($"time_s"), "MM-dd-yy")
                .as("fecha_partic")), lake, ck, intervalSec = 1)
          try q.processAllAvailable() finally q.stop()
        },
        () => spark.read.parquet(lake).collect().map(_.toString).sorted.toSeq,
        () => Nil)
    })

  // the crash window Spark leaves open: batch 0's write published, its
  // offset commit (`commits/0`) did not — the restart re-runs batch 0
  // with the same batchId, and the table must end as one clean run
  crashMatrix.foreach { case (name, mk) =>
    test(s"crash matrix: $name lands batch 0 once when its offset " +
        "commit is lost") {
      val r = mk()
      val ckpt = tmpDir() + "/ckpt"
      r.drain(ckpt)
      val (clean, heads) = (r.rows(), r.heads())
      Seq("0", ".0.crc").foreach(f =>
        Files.deleteIfExists(Paths.get(ckpt, "commits", f)))
      r.drain(ckpt)
      assert(Files.exists(Paths.get(ckpt, "commits", "0")),
        "the restart did not re-run batch 0")
      assert(r.rows() == clean)
      assert(r.heads() == heads, "a replay must not commit a version")
    }
  }

  test("windowedCounts: watermarked tumbling windows drop late rows (ST5)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.windowedCounts(
      input.toDF().toDF("ts", "event_type", "value"),
      "ts", "15 minutes", "10 minutes", "event_type")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wc").start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), "click", 1.0),
        (ts("2024-01-01 00:05:00"), "click", 2.0),
        (ts("2024-01-01 00:20:00"), "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first windows
      input.addData((ts("2024-01-01 01:00:00"), "click", 4.0))
      q.processAllAvailable()
      // this event is now behind the watermark → dropped
      input.addData((ts("2024-01-01 00:02:00"), "click", 99.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 02:00:00"), "click", 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("wc").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(rows.contains(("2024-01-01 00:00:00.0", "click", 2L))) // late 99.0 NOT counted
    assert(rows.contains(("2024-01-01 00:15:00.0", "view", 1L)))
  }

  test("dedupStream drops duplicate keys within the watermark (ST4)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val dedup = Streams.dedupStream(
      input.toDF().toDF("ts", "api_loc_id"), Seq("api_loc_id"), "ts", "1 hour")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("dd").start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:05:00"), 2L))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dd").count() == 2)
  }

  test("sessionize: gap-based sessions with custom state") {
    val evs = Seq(
      Streams.Ev(1L, ts("2024-01-01 00:00:00"), Some(1.0)),
      Streams.Ev(1L, ts("2024-01-01 00:05:00"), Some(2.0)),
      Streams.Ev(1L, ts("2024-01-01 02:00:00"), Some(3.0)), // > 1h gap → new session
      Streams.Ev(2L, ts("2024-01-01 00:00:00"), Some(4.0))
    ).toDS()
    val sessions = Streams.sessionizeBatch(evs, gapMs = 3600 * 1000L)
      .collect()
      .map(s => (s.user_id, s.session_id, s.n_events, s.total_cents)).toSet
    assert(sessions ==
      Set((1L, 0L, 2L, 300L), (1L, 1L, 1L, 300L), (2L, 0L, 1L, 400L)))
  }
}
