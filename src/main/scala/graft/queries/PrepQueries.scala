package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Sampling, Text}
import graft.lake.Versioned
import graft.ops.SnapshotDiff
import graft.streaming.Streams
import Q.t

/** Round-7 corpus-preparation queries: the quality/budget/incremental
  * stages a continuously-ingesting training-data pipeline runs on top of
  * the round-5/6 surface. Each emits exact, cross-engine-deterministic
  * values (integer counts, single double divisions, portable hashes) so
  * the scale-shaped Spark plan hash-matches a plain-SQL DuckDB oracle.
  */
object PrepQueries {

  // ---------------------------------------------------------------- q64
  // Gopher-style top-bigram concentration: per doc, the most frequent
  // word 2-gram and the fraction of 2-gram occurrences it accounts for.
  // Spark computes the argmax as one min(struct(-cnt, gram)) aggregate
  // (two-level, map-side combined, keys include the doc — no hot-key
  // funnel); the oracle uses the equivalent row_number() formulation.
  private def q64(s: SparkSession, dir: String): DataFrame =
    Text.topNgramStats(t(s, dir, "documents"), "doc_id", "text", n = 2)
      .orderBy("doc_id")

  private val q64Sql = {
    val grams = Dedup.wordShinglesSql("text", 2)
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id, unnest($grams) AS gram FROM documents),
       |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g
       |  GROUP BY doc_id, gram),
       |t AS (SELECT doc_id, gram, cnt,
       |  row_number() OVER (PARTITION BY doc_id
       |    ORDER BY cnt DESC, gram) AS rn,
       |  sum(cnt) OVER (PARTITION BY doc_id) AS n_ngrams FROM c),
       |top AS (SELECT * FROM t WHERE rn = 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(top.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       |  coalesce(top.gram, '') AS top_gram,
       |  CAST(coalesce(top.cnt, 0) AS BIGINT) AS top_count,
       |  coalesce(CAST(top.cnt AS DOUBLE) / CAST(top.n_ngrams AS DOUBLE),
       |    0.0) AS top_frac
       |FROM documents d LEFT JOIN top ON d.doc_id = top.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q65
  // CCNet-style familiarity scoring (LM-perplexity stand-in, integer
  // exact): top-16 corpus vocabulary with counts, then per doc the mean
  // corpus frequency of its tokens + OOV count + head/middle/tail
  // bucket. Spark scores with a zero-shuffle literal-map fold; the
  // oracle recomputes the vocabulary in a CTE and joins. Thresholds
  // (550/466 ≈ the sf0.01 quartiles) make all three buckets non-empty.
  private def q65(s: SparkSession, dir: String): DataFrame =
    Text.familiarity(t(s, dir, "documents"), "doc_id", "text",
        topK = 16, headMin = 550.0, tailMax = 466.0)
      .orderBy("doc_id")

  private val q65Sql =
    """WITH tok AS MATERIALIZED (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      |  FROM documents),
      |vocab AS MATERIALIZED (
      |  SELECT tk, count(*) AS cnt FROM tok GROUP BY tk
      |  ORDER BY count(*) DESC, tk LIMIT 16),
      |sc AS (SELECT t.doc_id,
      |  count(*) AS n_tokens,
      |  sum(coalesce(v.cnt, 0)) AS mass,
      |  count(*) FILTER (v.cnt IS NULL) AS n_oov
      |  FROM tok t LEFT JOIN vocab v USING (tk) GROUP BY t.doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(mass AS BIGINT) AS familiarity_mass,
      |  CAST(n_oov AS BIGINT) AS n_oov,
      |  CAST(mass AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |    AS mean_familiarity,
      |  CASE
      |    WHEN CAST(mass AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 550.0
      |      THEN 'head'
      |    WHEN CAST(mass AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 466.0
      |      THEN 'tail'
      |    ELSE 'middle' END AS bucket
      |FROM sc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q66
  // Token-budget cap per source (quota in TOKENS, not doc counts):
  // admit docs per source in deterministic hash order until 600 tokens
  // are spent. Spark runs the SLICED running sum (per-(key,slice)
  // windows + per-key offsets — a hot source spreads over `slices`
  // reducers); the oracle is the single-window formulation the
  // decomposition must reproduce exactly.
  private def q66(s: SparkSession, dir: String): DataFrame =
    Sampling.budgetPerKey(t(s, dir, "documents"), col("source"), "doc_id",
        Text.tokenCount(col("text")), budget = 600L, slices = 8)
      .orderBy("doc_id")

  private val q66Sql =
    Sampling.budgetPerKeySql("documents", "source", "doc_id",
      "len(string_split(text, ' '))", budget = 600L) +
      "\nORDER BY doc_id"

  // ---------------------------------------------------------------- q67
  // Incremental near-dup: the new batch (doc_id % 3 <> 0) LSH-matched
  // against the already-accepted corpus (doc_id % 3 = 0) — band join is
  // new×seen only, then exact Jaccard verify at 0.2 (same two-phase
  // semantics as q24, restricted to cross-side pairs).
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.incrementalNearDuplicates(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", threshold = 0.2)
      .orderBy("id_new", "id_seen")
  }

  private val q67Sql = {
    val sig = Dedup.minHashSignatureSql("text")
    val bucket = graft.functions.PortableHash.combineSql(
      "sig[band*4+1:band*4+4]")
    s"""WITH seen AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 = 0 AND len(string_split(text, ' ')) >= 3),
       |newb AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 <> 0 AND len(string_split(text, ' ')) >= 3),
       |sig_s AS MATERIALIZED (SELECT doc_id, $sig AS sig FROM seen),
       |sig_n AS MATERIALIZED (SELECT doc_id, $sig AS sig FROM newb),
       |band_s AS MATERIALIZED (SELECT doc_id, band, $bucket AS bucket
       |  FROM sig_s, range(4) t(band)),
       |band_n AS MATERIALIZED (SELECT doc_id, band, $bucket AS bucket
       |  FROM sig_n, range(4) t(band)),
       |pairs AS MATERIALIZED (
       |  SELECT DISTINCT n.doc_id AS id_new, s.doc_id AS id_seen
       |  FROM band_n n JOIN band_s s USING (band, bucket))
       |SELECT id_new, id_seen,
       |  ${Dedup.ngramJaccardSql("dn.text", "ds.text")} AS jaccard
       |FROM pairs
       |JOIN documents dn ON dn.doc_id = id_new
       |JOIN documents ds ON ds.doc_id = id_seen
       |WHERE ${Dedup.ngramJaccardSql("dn.text", "ds.text")} >= 0.2
       |ORDER BY id_new, id_seen""".stripMargin
  }

  // ---------------------------------------------------------------- q68
  // ExactSubstr-lite cross-doc duplication: per doc, the fraction of its
  // word 3-gram occurrences that also occur in at least one OTHER doc
  // (tot > own count ⟺ ≥ 2 docs share the gram). Only hashed gram
  // triples shuffle; the totals join has one row per gram on the build
  // side. The within-doc twin is q64.
  private def q68(s: SparkSession, dir: String): DataFrame =
    Dedup.sharedNgramStats(t(s, dir, "documents"), "doc_id", "text", n = 3)
      .orderBy("doc_id")

  private val q68Sql = {
    val gh = Dedup.shingleHashesSql("text", 3)
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id, unnest($gh) AS gh FROM documents),
       |c AS (SELECT doc_id, gh, count(*) AS cnt FROM g GROUP BY doc_id, gh),
       |tot AS (SELECT gh, sum(cnt) AS tot FROM c GROUP BY gh),
       |sc AS (SELECT c.doc_id, sum(c.cnt) AS n_ngrams,
       |  sum(CASE WHEN tot.tot > c.cnt THEN c.cnt ELSE 0 END) AS n_shared
       |  FROM c JOIN tot USING (gh) GROUP BY c.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(sc.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       |  CAST(coalesce(sc.n_shared, 0) AS BIGINT) AS n_shared,
       |  coalesce(CAST(sc.n_shared AS DOUBLE) / CAST(sc.n_ngrams AS DOUBLE),
       |    0.0) AS shared_frac
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q69
  // Snapshot diff (CDC): two deterministic versions of `orders` — the
  // old one missing keys ≡3 (mod 11), the new one missing ≡7 (mod 11)
  // and with o_totalprice bumped on keys ≡0 (mod 5) — classified
  // added/removed/changed by one full-outer join on the key. The +1.0
  // is the same IEEE double add in both engines, so 'changed' is exact.
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val old = orders.filter(col("o_orderkey") % 11 =!= 3)
    val nw = orders.filter(col("o_orderkey") % 11 =!= 7)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    SnapshotDiff.diff(old, nw, Seq("o_orderkey")).orderBy("o_orderkey")
  }

  private val q69Sql =
    """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 11 <> 3),
      |n AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
      |       ELSE o_totalprice END AS o_totalprice,
      |  o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 11 <> 7),
      |d AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
      |       WHEN n.o_orderkey IS NULL THEN 'removed'
      |       WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
      |         AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
      |         AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
      |         AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
      |         AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
      |         THEN 'changed'
      |       ELSE 'unchanged' END AS change
      |  FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey)
      |SELECT o_orderkey, change FROM d
      |WHERE change <> 'unchanged' ORDER BY o_orderkey""".stripMargin

  /** Shared streaming fixture: split `docs` into three "daily" batch
    * files (batch = doc_id % 3) with strictly ascending mod-times, so
    * the file source (oldest-(modtime, path)-first) replays them in
    * batch order.
    */
  private def writeDailyBatches(docs: DataFrame,
      tmp: java.nio.file.Path): Unit =
    Q.writeModBatches(docs, "doc_id", tmp)

  // ---------------------------------------------------------------- q70
  // Continuous-ingest exact dedup: documents split into three "daily"
  // batch files (batch = doc_id % 3) streamed oldest-first one file per
  // trigger; each batch is fingerprinted, batch-deduped (min doc_id per
  // fingerprint), bloom-gated anti-joined against the accepted table,
  // survivors appended. Accepted = earliest batch's min-id doc per
  // fingerprint — the oracle's row_number over (batch, doc_id).
  // Bench note: q70's ~4 s is fixture + streaming lifecycle (3 batch
  // file writes, an empty graft-table commit, 3 checkpointed batches
  // each one stamped append), not plan cost — q37's documented fixed
  // floor, paid 3× plus the lake commits.
  private def q70(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-ingest-src")
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt")
    val table = Files.createTempDirectory("graft-ingest-table")
    try {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      writeDailyBatches(docs, tmp)
      Versioned.commit(s, table.toString, docs.limit(0)
        .withColumn("fingerprint", Text.fingerprint(col("text"))))
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp.toString)
      // like q37: a handful of shuffle partitions is plenty for the
      // per-batch aggregates/joins at this scale — 32 would pay ~10×
      // the task overhead per micro-batch. Scoped: restored after.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", Q.streamParts)
      try {
        val q = Streams.dedupIngest(stream, table.toString, ckpt.toString)
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      Versioned.read(s, table.toString).select("doc_id", "fingerprint")
        .orderBy("doc_id")
        // materialize before the temp dir is deleted
        .localCheckpoint(true)
    } finally {
      Q.deleteRecursively(tmp); Q.deleteRecursively(ckpt)
      Q.deleteRecursively(table)
    }
  }

  private val q70Sql =
    s"""WITH fp AS (SELECT doc_id, ${Text.fingerprintSql("text")} AS fingerprint,
       |  doc_id % 3 AS batch FROM documents),
       |r AS (SELECT doc_id, fingerprint,
       |  row_number() OVER (PARTITION BY fingerprint
       |    ORDER BY batch, doc_id) AS rn FROM fp)
       |SELECT doc_id, fingerprint FROM r WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q71
  // Epoch-based source upsampling: src0 repeats 2.5 epochs, src1 is
  // subsampled to 0.4, src2 gets 1.25, everything else exactly 1 —
  // fractional parts are a deterministic nested hash sample, copies
  // carry a 0-based epoch index. Zero-shuffle explode; the oracle
  // replays the multiplicity CASE with generate_series.
  private val q71Epochs =
    Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 1.25)

  private def q71(s: SparkSession, dir: String): DataFrame =
    Sampling.epochMix(t(s, dir, "documents"), col("doc_id"), col("source"),
        q71Epochs, defaultEpochs = 1.0)
      .select("doc_id", "source", "epoch")
      .orderBy("doc_id", "epoch")

  private val q71Sql = {
    val n = Sampling.epochMixSql("doc_id", "source", q71Epochs,
      defaultEpochs = 1.0)
    s"""WITH e AS (SELECT doc_id, source, $n AS n FROM documents)
       |SELECT doc_id, source,
       |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS epoch
       |FROM e WHERE n >= 1 ORDER BY doc_id, epoch""".stripMargin
  }

  // ---------------------------------------------------------------- q72
  // Capped inverted index: token -> (doc freq, occurrence mass, first-8
  // posting list). Posting lists go through the bounded TopK heap, not
  // collect_list — a stopword's postings never cross the shuffle whole.
  // The verification surface serializes the posting list to one
  // comma-joined string (the driver harness cannot hash array cells);
  // the list itself stays typed on the library surface.
  private def q72(s: SparkSession, dir: String): DataFrame =
    Text.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
        maxPostings = 8)
      .withColumn("postings",
        array_join(transform(col("postings"), _.cast("string")), ","))
      .orderBy("token")

  private val q72Sql =
    """WITH tok AS MATERIALIZED (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |pd AS (SELECT token, doc_id, count(*) AS tf FROM tok
      |  GROUP BY token, doc_id)
      |SELECT token, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(tf) AS BIGINT) AS n_occurrences,
      |  array_to_string(
      |    (list(CAST(doc_id AS VARCHAR) ORDER BY doc_id))[1:8], ',')
      |    AS postings
      |FROM pd GROUP BY token ORDER BY token""".stripMargin

  // ---------------------------------------------------------------- q73
  // Mixer capstone: token-budget admission per source → fractional-epoch
  // upsampling → training-order shard assignment, composed end-to-end
  // and hash-checked against one CTE chain (every stage is
  // deterministic hash/integer arithmetic, so the composition — not
  // just each stage — is exactly reproducible). Seeds differ per stage
  // (budget 7, epochs 19) so keep decisions don't correlate; the shard
  // key includes the epoch so repeats scatter across shards.
  private val q73Epochs = Map("src0" -> 2.0, "src3" -> 1.5, "src1" -> 0.5)

  private def q73(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val admitted = Sampling.budgetPerKey(docs, col("source"), "doc_id",
      Text.tokenCount(col("text")), budget = 900L, slices = 8)
    val kept = docs.join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
    val mixed = Sampling.epochMix(kept, col("doc_id"), col("source"),
      q73Epochs, defaultEpochs = 1.0)
    Sampling.shardAssign(mixed,
        concat(col("doc_id"), lit(":"), col("epoch")), numShards = 4)
      .select("doc_id", "source", "epoch", "pos", "shard")
      .orderBy("doc_id", "epoch")
  }

  private val q73Sql = {
    val adm = Sampling.budgetPerKeySql("documents", "source", "doc_id",
      "len(string_split(text, ' '))", budget = 900L)
    val n = Sampling.epochMixSql("doc_id", "source", q73Epochs,
      defaultEpochs = 1.0)
    val shardKey = "CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)"
    val (pos, shard) = Sampling.shardAssignSql(shardKey, 4)
    s"""WITH adm AS MATERIALIZED ($adm),
       |kept AS (SELECT d.* FROM documents d
       |  WHERE d.doc_id IN (SELECT doc_id FROM adm)),
       |e AS (SELECT doc_id, source, $n AS n FROM kept),
       |x AS (SELECT doc_id, source,
       |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS epoch
       |  FROM e WHERE n >= 1)
       |SELECT doc_id, source, epoch, $pos AS pos, $shard AS shard
       |FROM x ORDER BY doc_id, epoch""".stripMargin
  }

  // ---------------------------------------------------------------- q74
  // Disjoint train/val/test assignment from one hash: bucket i owns the
  // hash range [cum_{i-1}·P, cum_i·P) — disjoint + exhaustive by
  // construction, stable as the corpus grows. Zero shuffle.
  private val q74Splits =
    Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05)

  private def q74(s: SparkSession, dir: String): DataFrame =
    Sampling.splitAssign(t(s, dir, "documents"), col("doc_id"), q74Splits)
      .select("doc_id", "split")
      .orderBy("doc_id")

  private val q74Sql =
    s"""SELECT doc_id, ${Sampling.splitAssignSql("doc_id", q74Splits)}
       |  AS split FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q75
  // Contamination audit (the report q55's drop list is derived from):
  // which benchmark items (doc_id % 97 = 0) leak into which corpus
  // docs, by count of shared distinct 4-grams. Benchmark grams
  // broadcast; the only exchange is the (doc, bench) pair aggregate.
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.contaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("bench_id"), col("text")),
        "doc_id", "text", "bench_id", n = 4)
      .orderBy("doc_id", "bench_id")
  }

  private val q75Sql = {
    val grams = s"list_distinct(${Dedup.wordShinglesSql("text", 4)})"
    s"""WITH bench AS (SELECT doc_id AS bench_id, text FROM documents
       |  WHERE doc_id % 97 = 0),
       |bg AS (SELECT bench_id, unnest($grams) AS gram FROM bench),
       |corpus AS (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 97 <> 0),
       |cg AS (SELECT doc_id, unnest($grams) AS gram FROM corpus)
       |SELECT doc_id, bench_id,
       |  CAST(count(*) AS BIGINT) AS n_shared_grams
       |FROM cg JOIN bg USING (gram) GROUP BY doc_id, bench_id
       |ORDER BY doc_id, bench_id""".stripMargin
  }

  // ---------------------------------------------------------------- q76
  // Z-order clustering key over (l_orderkey, l_partkey): the Morton
  // interleave that makes a single sort prune files on EITHER dimension
  // (sorting by (a, b) prunes only on a). Pure unrolled bit arithmetic,
  // identical in both engines.
  private def q76(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"),
        graft.ops.ScaleOps.zValue(col("l_orderkey"), col("l_partkey"))
          .as("zval"))
      .orderBy("zval", "l_orderkey", "l_partkey")

  private val q76Sql =
    s"""SELECT l_orderkey, l_partkey,
       |  ${graft.ops.ScaleOps.zValueSql("l_orderkey", "l_partkey")} AS zval
       |FROM lineitem ORDER BY zval, l_orderkey, l_partkey""".stripMargin

  // ---------------------------------------------------------------- q77
  // Streaming NEAR-dup admission (the LSH flavor of q70): three daily
  // batches; each is MinHash-band-matched against the accepted corpus
  // (batch×seen only) and Jaccard-verified at 0.2; survivors append.
  // The oracle UNROLLS the loop: accepted_0 = b0; accepted_i =
  // accepted_{i-1} + (b_i minus its verified matches vs accepted_{i-1})
  // — same sig/band/jaccard twins as q67, applied twice in a CTE chain.
  // Bench note: like q70, the measured seconds are fixture + streaming
  // lifecycle (batch writes, an empty graft-table commit, 3
  // checkpointed batches each one stamped append), not plan cost.
  private def q77(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-ingest-src")
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt")
    val table = Files.createTempDirectory("graft-ingest-table")
    try {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      writeDailyBatches(docs, tmp)
      Versioned.commit(s, table.toString, docs.limit(0))
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp.toString)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", Q.streamParts)
      try {
        val q = Streams.nearDedupIngest(stream, table.toString,
          ckpt.toString, threshold = 0.2)
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      Versioned.read(s, table.toString).select("doc_id").orderBy("doc_id")
        .localCheckpoint(true)
    } finally {
      Q.deleteRecursively(tmp); Q.deleteRecursively(ckpt)
      Q.deleteRecursively(table)
    }
  }

  /** Verified new×seen match ids (`SELECT id_new ...`) between two CTE
    * names — the q67 pipeline as a reusable fragment, inlined twice by
    * the q77 oracle (once per ingested batch).
    */
  private def crossMatchIdsSql(newT: String, seenT: String): String = {
    val sig = Dedup.minHashSignatureSql("text")
    val bucket = graft.functions.PortableHash.combineSql(
      "sig[band*4+1:band*4+4]")
    def bandsOf(tbl: String): String =
      s"""SELECT doc_id, band, $bucket AS bucket FROM
         |    (SELECT doc_id, $sig AS sig FROM $tbl
         |     WHERE len(string_split(text, ' ')) >= 3) sigs,
         |    range(4) t(band)""".stripMargin
    s"""SELECT DISTINCT p.id_new FROM
       |  (SELECT DISTINCT n.doc_id AS id_new, s.doc_id AS id_seen
       |   FROM (${bandsOf(newT)}) n
       |   JOIN (${bandsOf(seenT)}) s USING (band, bucket)) p
       |JOIN $newT dn ON dn.doc_id = p.id_new
       |JOIN $seenT ds ON ds.doc_id = p.id_seen
       |WHERE ${Dedup.ngramJaccardSql("dn.text", "ds.text")} >= 0.2""".stripMargin
  }

  private val q77Sql =
    s"""WITH b0 AS MATERIALIZED (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 = 0),
       |b1 AS MATERIALIZED (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 = 1),
       |b2 AS MATERIALIZED (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 = 2),
       |acc0 AS MATERIALIZED (SELECT * FROM b0),
       |m1 AS MATERIALIZED (${crossMatchIdsSql("b1", "acc0")}),
       |acc1 AS MATERIALIZED (
       |  SELECT * FROM acc0
       |  UNION ALL
       |  SELECT * FROM b1 WHERE doc_id NOT IN (SELECT id_new FROM m1)),
       |m2 AS MATERIALIZED (${crossMatchIdsSql("b2", "acc1")}),
       |acc2 AS (
       |  SELECT * FROM acc1
       |  UNION ALL
       |  SELECT * FROM b2 WHERE doc_id NOT IN (SELECT id_new FROM m2))
       |SELECT doc_id FROM acc2 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q78
  // CCNet-style segment dedup WITH reassembly: one keeper per distinct
  // 20-token segment corpus-wide, documents rebuilt from survivors.
  // Unlike q68 (which measures shared mass) this emits the cleaned text.
  // Keeper election groups on the segment's 8-byte polyHash; the oracle
  // replays the same election as a row_number window over the same hash.
  private def q78(s: SparkSession, dir: String): DataFrame =
    Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
        segSize = 20)
      .orderBy("doc_id")

  private val q78Sql =
    Dedup.segmentDedupSql("documents", "doc_id", "text", 20) +
      "\nORDER BY doc_id"

  // ---------------------------------------------------------------- q79
  // BPE tokenizer-training inner loop: corpus-frequency-weighted adjacent
  // character-pair counts over the vocabulary — the top pair is the next
  // merge. Vocabulary collapse first (Zipf-bounded), pair keys bounded by
  // |alphabet|², global top-32 via TakeOrdered.
  private def q79(s: SparkSession, dir: String): DataFrame =
    Text.bpePairStats(t(s, dir, "documents"), "text", topK = 32)

  private val q79Sql = Text.bpePairStatsSql("documents", "text", 32)

  // ---------------------------------------------------------------- q80
  // Per-label embedding diversity via the centroid trick
  // (E[|x|²] − |E[x]|²) — the SemDeDup redundancy signal without any
  // pairwise join. Elements quantized to round(x·10⁶) BIGINTs so both
  // engines aggregate exact integers; the three output doubles come from
  // the identical division sequence.
  private def q80(s: SparkSession, dir: String): DataFrame =
    graft.ext.Similarity.groupDiversity(t(s, dir, "embeddings"),
        "label", "embedding")
      .orderBy("label")

  private val q80Sql =
    graft.ext.Similarity.groupDiversitySql(
      "embeddings", "label", "embedding") + "\nORDER BY label"

  // ---------------------------------------------------------------- q82
  // Label-noise audit: nearest-centroid confusion matrix. Every vector
  // scores against each label's exact (integer-quantized) centroid;
  // (label × assigned) counts reveal mislabeled/overlapping clusters.
  // Distances are index-order folds — bit-identical across engines.
  private def q82(s: SparkSession, dir: String): DataFrame =
    graft.ext.Similarity.centroidAssign(t(s, dir, "embeddings"),
        "vec_id", "label", "embedding")
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("label", "assigned")

  private val q82Sql = {
    val assign = graft.ext.Similarity.centroidAssignSql(
      "embeddings", "vec_id", "label", "embedding")
    s"""SELECT label, assigned, CAST(count(*) AS BIGINT) AS n_vecs
       |FROM ($assign)
       |GROUP BY label, assigned
       |ORDER BY label, assigned""".stripMargin
  }

  // ---------------------------------------------------------------- q83
  // Export manifest: shard the corpus (q60's assignment), then per shard
  // emit doc count, token count, and an order-independent XOR content
  // checksum — the integrity record a consumer verifies after transfer.
  // XOR partials combine associatively, so the checksum is stable under
  // any partitioning or task order (asserted in PrepSpec).
  private def q83(s: SparkSession, dir: String): DataFrame =
    graft.ops.Export.shardManifest(
        Sampling.shardAssign(t(s, dir, "documents"), col("doc_id"), 8),
        "shard", "doc_id", "text")
      .orderBy("shard")

  private val q83Sql = {
    val (_, shard) = Sampling.shardAssignSql("doc_id", 8)
    s"""WITH sharded AS MATERIALIZED (
       |  SELECT doc_id, text, $shard AS shard FROM documents)
       |${graft.ops.Export.shardManifestSql(
          "sharded", "shard", "doc_id", "text")}
       |ORDER BY shard""".stripMargin
  }

  // ---------------------------------------------------------------- q84
  // Vocabulary drift between two snapshot halves of the corpus (even vs
  // odd doc_id — a deterministic stand-in for batch windows): top-20
  // tokens by relative-frequency shift, ranked by the exact integer
  // cross product cnt_a·total_b − cnt_b·total_a (same order as the rate
  // difference, no float near the sort).
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Text.vocabDrift(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "text", topK = 20)
  }

  private val q84Sql = Text.vocabDriftSql(
    "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
    "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
    "text", 20)

  // ---------------------------------------------------------------- q117
  // Boilerplate removal: every copy of any 10-token segment occurring in
  // >= 3 distinct docs is dropped (the CCNet/RefinedWeb header-footer
  // filter); docs are rebuilt from surviving segments. Complementary to
  // q78, which KEEPS the first copy of each duplicated segment.
  private def q117(s: SparkSession, dir: String): DataFrame =
    Dedup.boilerplate(t(s, dir, "documents"), "doc_id", "text",
        segSize = 10, minDocs = 3)
      .orderBy("doc_id")

  private val q117Sql =
    s"""${Dedup.boilerplateSql("documents", "doc_id", "text", 10, 3)}
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q118
  // Hashed linear-classifier inference: per-doc quality margin as the
  // sparse dot product of hashed token features with a deterministic
  // weight fixture — exact BIGINT, zero shuffle, one codegen'd fold per
  // row (the fastText-style scoring pass as a scan, not a join).
  private def q118(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.ext.Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        graft.ext.Text.classifierScore(col("text"), 1024).as("score"))
      .withColumn("accept", col("score") > 0)
      .orderBy("doc_id")

  private val q118Sql =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  ${graft.ext.Text.classifierScoreSql("text", 1024)} AS score,
       |  ${graft.ext.Text.classifierScoreSql("text", 1024)} > 0 AS accept
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q119
  // BM25 top-25 ranked retrieval for a literal query-term set (log-free
  // monotone IDF so every op is a bit-exact IEEE double in both
  // engines). One corpus scan: per-doc tf by zero-shuffle array folds,
  // corpus stats one broadcast row, top-k via TakeOrdered heaps.
  private val q119Terms = Seq("spark", "hash", "window")

  private def q119(s: SparkSession, dir: String): DataFrame =
    graft.ext.Text.bm25TopK(t(s, dir, "documents"), q119Terms, k = 25)

  private val q119Sql =
    graft.ext.Text.bm25TopKSql("documents", "doc_id", "text",
      q119Terms, k = 25)

  // ---------------------------------------------------------------- q120
  // Hybrid retrieval: BM25 lexical top-50 and embedding-cosine top-50
  // (probe = vec 0) fused by reciprocal rank (RRF, k=60), top-20 out.
  // Ranks come from bounded lists (50 rows — the single-partition
  // row_number is k-bounded, not corpus-bounded); the corpus-heavy work
  // happens inside the two upstream retrieval operators. NULL rank on
  // either side marks a lexical-only / semantic-only hit.
  private def q120(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val text = graft.ext.Text.bm25TopK(
        t(s, dir, "documents"), q119Terms, k = 50)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select("doc_id", "rank")
    val emb = t(s, dir, "embeddings")
    val vec = graft.ext.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") === 0), emb, k = 50)
      .select(col("cand_id").as("doc_id"), col("rank"))
    graft.ext.Similarity.rrfFuse(text, vec, "doc_id", topK = 20)
  }

  private val q120Sql = {
    val bm25 = graft.ext.Text.bm25TopKSql("documents", "doc_id", "text",
      q119Terms, k = 50)
    val cos = graft.ext.Similarity.cosineSql("p.emb", "c.emb")
    s"""WITH t_raw AS MATERIALIZED ($bm25),
       |t_rank AS (SELECT doc_id,
       |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM t_raw),
       |e AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |v_scored AS (SELECT c.vec_id AS doc_id, $cos AS score
       |  FROM e p, e c WHERE p.vec_id = 0),
       |v_rank AS (SELECT doc_id, rank FROM (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM v_scored) WHERE rank <= 50)
       |${graft.ext.Similarity.rrfFuseSql("t_rank", "v_rank", "doc_id", 20)}
       |""".stripMargin
  }

  // ---------------------------------------------------------------- q121
  // BPE tokenizer inference: encode every doc with a literal trained
  // merge list (chained merges: ta+ble requires b+le requires l+e) and
  // report real tokenizer counts — n_bpe_tokens, fertility (BPE tokens
  // per word) and the exact encoding fingerprint. One native codegen'd
  // expression per row; merge table is a plan constant.
  private val q121Merges = Seq("t" -> "a", "l" -> "e", "b" -> "le",
    "ta" -> "ble", "v" -> "a", "u" -> "e", "s" -> "c", "a" -> "n")

  private def q121(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{NativeHash, NativeString}
    val enc = col("__enc")
    val nWords = when(length(enc) === 0, lit(0L))
      .otherwise(NativeString.countSubstr(enc, " ") + lit(1L))
    val nBpe = when(length(enc) === 0, lit(0L))
      .otherwise(NativeString.countSubstr(enc, "\u001F") +
        NativeString.countSubstr(enc, " ") + lit(1L))
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.ext.Text.bpeEncode(col("text"), q121Merges).as("__enc"))
      .select(col("doc_id"),
        nWords.as("n_words"), nBpe.as("n_bpe_tokens"),
        when(nWords === 0L, lit(0.0))
          .otherwise(nBpe.cast("double") / nWords.cast("double"))
          .as("fertility"),
        NativeHash.polyHash(enc).as("enc_fp"))
      .orderBy("doc_id")
  }

  private val q121Sql = {
    val enc = graft.ext.Text.bpeEncodeSql("text", q121Merges)
    def cnt(subE: String) = s"(len(e) - len(replace(e, $subE, '')))"
    val nWords = s"CASE WHEN len(e) = 0 THEN 0 ELSE ${cnt("' '")} + 1 END"
    val nBpe = s"CASE WHEN len(e) = 0 THEN 0 ELSE ${cnt("chr(31)")} + " +
      s"${cnt("' '")} + 1 END"
    s"""WITH __enc AS MATERIALIZED (
       |  SELECT doc_id, $enc AS e FROM documents)
       |SELECT doc_id,
       |  CAST($nWords AS BIGINT) AS n_words,
       |  CAST($nBpe AS BIGINT) AS n_bpe_tokens,
       |  CASE WHEN $nWords = 0 THEN 0.0
       |    ELSE CAST($nBpe AS DOUBLE) / CAST($nWords AS DOUBLE) END
       |    AS fertility,
       |  ${graft.functions.PortableHash.polyHashSql("e")} AS enc_fp
       |FROM __enc ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q122
  // Contrastive training-pair assembly: per anchor vector, a
  // deterministic same-label positive and up to 4 hash-probed
  // different-label negatives (dropped-not-reprobed slots keep the scan
  // parallel; the slot column audits the loss).
  private def q122(s: SparkSession, dir: String): DataFrame =
    graft.ext.Similarity.contrastivePairs(t(s, dir, "embeddings"), k = 4)
      .orderBy("anchor_id", "slot")

  private val q122Sql =
    s"""${graft.ext.Similarity.contrastivePairsSql(
          "embeddings", "vec_id", "label", 4)}
       |ORDER BY anchor_id, slot""".stripMargin

  // ---------------------------------------------------------------- q123
  // Curriculum phases: classifier difficulty ranked WITHIN source
  // (per-source percentile = calibration across incomparable score
  // scales), bucketed into 4 phases. Exact ranks via the sliced
  // decomposition — no per-source window funnel.
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents").select(col("doc_id"), col("source"),
      graft.ext.Text.classifierScore(col("text"), 1024).as("difficulty"))
    Sampling.curriculum(scored, col("source"), "doc_id",
        col("difficulty"), phases = 4, slices = 16,
        lo = -20000.0, hi = 20000.0)
      .orderBy("key", "rank")
  }

  private val q123Sql = {
    val scored = s"(SELECT doc_id, source, " +
      s"${graft.ext.Text.classifierScoreSql("text", 1024)} AS difficulty " +
      "FROM documents)"
    s"""${Sampling.curriculumSql(scored, "source", "doc_id",
          "difficulty", 4)}
       |ORDER BY key, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q124
  // Length-grouped batching audit: token lengths in 8 equi-depth
  // buckets per source; per-bucket padding waste (ppm, exact BIGINT) a
  // max-length-padded batch would pay. nBins=1 vs 8 quantifies what
  // bucketed batch sampling saves.
  private def q124(s: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.paddingAudit(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens")),
        col("source"), "doc_id", col("n_tokens"), nBins = 8,
        slices = 16, lo = 0.0, hi = 512.0)
      .orderBy("key", "bin")

  private val q124Sql = {
    val lens = "(SELECT doc_id, source, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
      "FROM documents)"
    s"""${graft.ext.Packing.paddingAuditSql(lens, "source", "doc_id",
          "n_tokens", 8)}
       |ORDER BY key, bin""".stripMargin
  }

  // ---------------------------------------------------------------- q126
  // Streaming token-budget admission: three "daily" batch files stream
  // oldest-first; a doc is admitted while its source's running token
  // total over everything SEEN (in (batch, doc_id) order) stays within
  // the budget. Seen-not-accepted running totals make the decision a
  // pure prefix function — so the batched loop hash-matches the
  // one-shot window oracle. Bench note: the seconds are fixture +
  // streaming lifecycle (batch writes, two empty graft-table commits,
  // 3 checkpointed batches each two stamped appends).
  private val q126Budget = 1000L

  private def q126(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-budget-src")
    val ckpt = Files.createTempDirectory("graft-budget-ckpt")
    val accepted = Files.createTempDirectory("graft-budget-accepted")
    val state = Files.createTempDirectory("graft-budget-state")
    try {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      writeDailyBatches(docs, tmp)
      Versioned.commit(s, accepted.toString, docs.limit(0).select(
        col("doc_id"), col("source"), lit(0L).as("w"),
        lit(0L).as("running_total")))
      Versioned.commit(s, state.toString, docs.limit(0).select(
        col("source"), lit(0L).as("w"), lit(0L).as("batch_id")))
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp.toString)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", Q.streamParts)
      try {
        val q = Streams.budgetIngest(stream, accepted.toString,
          state.toString, ckpt.toString, q126Budget,
          Text.tokenCount(col("text")).cast("long"))
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      Versioned.read(s, accepted.toString).orderBy("doc_id")
        .localCheckpoint(true)
    } finally {
      Q.deleteRecursively(tmp); Q.deleteRecursively(ckpt)
      Q.deleteRecursively(accepted); Q.deleteRecursively(state)
    }
  }

  private val q126Sql =
    s"""WITH w AS (SELECT doc_id, source,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
       |  doc_id % 3 AS batch FROM documents),
       |r AS (SELECT doc_id, source, w,
       |  CAST(sum(w) OVER (PARTITION BY source ORDER BY batch, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS running_total FROM w)
       |SELECT doc_id, source, w, running_total FROM r
       |WHERE running_total <= $q126Budget ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q129
  // Exact set-similarity join (prefix filtering): every pair with
  // 3-gram-shingle Jaccard >= 1/3, rational-threshold integer
  // acceptance — the oracle is the BRUTE-FORCE pair enumeration, so
  // the hash match proves the prefix filter loses nothing.
  private def q129(s: SparkSession, dir: String): DataFrame =
    Dedup.similarityJoinExact(t(s, dir, "documents"), "doc_id", "text",
        n = 3, thresholdNum = 1, thresholdDen = 3)
      .orderBy("id_a", "id_b")

  private val q129Sql =
    s"""${Dedup.similarityJoinExactSql("documents", "doc_id", "text",
          3, 1, 3)}
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q130
  // Tokenized release capstone: REAL tokenizer counts (q121's BPE
  // encode) gate fragments (< 20 BPE tokens), shard by portable hash,
  // and pack greedily into 256-token training sequences — the
  // "tokenize → budget → pack" release flow as ONE composition, whose
  // oracle chains the BPE fold, the gate, the shard hash, and the
  // recursive packing replay in a single CTE pipeline.
  private def q130(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.NativeString
    val enc = graft.ext.Text.bpeEncode(col("text"), q121Merges)
    val nBpe = when(length(col("__enc")) === 0, lit(0L))
      .otherwise(NativeString.countSubstr(col("__enc"), "\u001F") +
        NativeString.countSubstr(col("__enc"), " ") + lit(1L))
    val counted = t(s, dir, "documents")
      .select(col("doc_id"), enc.as("__enc"))
      .select(col("doc_id"), nBpe.as("n_bpe"))
      .filter(col("n_bpe") >= 20)
    val sharded = Sampling.shardAssign(counted, col("doc_id"), 4)
    graft.ext.Packing.packGreedy(sharded, "shard", "doc_id", "n_bpe",
        budget = 256L)
      .toDF().orderBy("shard", "id")
  }

  private val q130Sql = {
    val encE = graft.ext.Text.bpeEncodeSql("text", q121Merges)
    def cnt(subE: String) = s"(len(e) - len(replace(e, $subE, '')))"
    val nBpe = s"CASE WHEN len(e) = 0 THEN 0 ELSE ${cnt("chr(31)")} + " +
      s"${cnt("' '")} + 1 END"
    val (_, shard) = Sampling.shardAssignSql("doc_id", 4)
    val inner =
      s"""SELECT $shard AS shard, doc_id AS id,
         |  CAST(n_bpe AS BIGINT) AS n_tokens FROM (
         |  SELECT doc_id, $nBpe AS n_bpe FROM (
         |    SELECT doc_id, $encE AS e FROM documents))
         |WHERE n_bpe >= 20""".stripMargin
    s"""${graft.ext.Packing.packGreedySql(inner, 256L)}
       |ORDER BY shard, id""".stripMargin
  }

  // ---------------------------------------------------------------- q131
  // BPE tokenizer TRAINING: learn 8 merge rules from the documents
  // corpus — per iteration, segment the (checkpointed, Zipf-bounded)
  // word vocabulary with the merges learned so far, count adjacent
  // symbol pairs weighted by word frequency, adopt the argmax. The
  // oracle unrolls the loop as 8 CTE triples whose merge rules are
  // DATA-DEPENDENT (cross-joined argmax rows, not literals) — so the
  // hash match verifies the learned rules themselves, not just one
  // application of a known list. Completes the BPE story: q79 counts
  // pairs once, q121 applies a given list, q131 learns the list.
  private def q131(s: SparkSession, dir: String): DataFrame =
    Text.bpeTrain(t(s, dir, "documents"), nMerges = 8).orderBy("rank")

  private val q131Sql = Text.bpeTrainSql("documents", "text", 8)

  // ---------------------------------------------------------------- q132
  // In-engine classifier TRAINING: a batch perceptron distills the
  // quality-score gate (weak-supervision labels, the fastText pattern)
  // into a linear model over integer text features — 6 epochs, each one
  // map-side-combined full-corpus aggregate; weights live on the driver
  // like the IVF centroids (q38). EXACT integer arithmetic end-to-end;
  // the oracle unrolls the epoch loop with data-dependent weight CTEs,
  // so the hash match verifies the whole training trajectory.
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    graft.ext.Learn.perceptron(
      t(s, dir, "documents"),
      features = Seq(lit(1L), Text.tokenCount(txt),
        Text.stopwordCount(txt), Text.punctCount(txt)),
      label = Text.qualityScore(txt) >= 1.8,
      epochs = 6)
  }

  private val q132Sql = {
    val nTok = "len(string_split(text, ' '))"
    val stopList = Text.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val nStop = "len(list_filter(string_split(text, ' '), " +
      s"x -> list_contains($stopList, x)))"
    val nPunct = "length(text) - length(regexp_replace(text, " +
      s"'${Text.punctClass}', '', 'g'))"
    val quality =
      s"""(CAST($nStop AS DOUBLE) / CAST($nTok AS DOUBLE)) * 2.0
         |    + (1.0 - CASE WHEN length(text) > 0
         |        THEN CAST($nPunct AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |        ELSE 0.0 END)
         |    + least(CAST($nTok AS DOUBLE) / 100.0, 1.0)""".stripMargin
    graft.ext.Learn.perceptronSql("documents",
      Seq("1", nTok, nStop, nPunct), s"($quality) >= 1.8", epochs = 6)
  }

  // ----------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q117_boilerplate" -> (q117 _),
    "q129_similarity_join" -> (q129 _),
    "q130_tokenized_packing" -> (q130 _),
    "q131_bpe_train" -> (q131 _),
    "q132_perceptron" -> (q132 _),
    "q126_streaming_budget" -> (q126 _),
    "q120_hybrid_rrf" -> (q120 _),
    "q121_bpe_encode" -> (q121 _),
    "q122_contrastive_pairs" -> (q122 _),
    "q123_curriculum" -> (q123 _),
    "q124_padding_audit" -> (q124 _),
    "q118_classifier_score" -> (q118 _),
    "q119_bm25_topk" -> (q119 _),
    "q64_top_ngram_frac" -> (q64 _),
    "q65_familiarity" -> (q65 _),
    "q66_token_budget_cap" -> (q66 _),
    "q67_incremental_neardup" -> (q67 _),
    "q68_shared_ngrams" -> (q68 _),
    "q69_snapshot_diff" -> (q69 _),
    "q70_streaming_dedup_ingest" -> (q70 _),
    "q71_epoch_mix" -> (q71 _),
    "q72_inverted_index" -> (q72 _),
    "q73_mixer_pipeline" -> (q73 _),
    "q74_split_assign" -> (q74 _),
    "q75_contamination_report" -> (q75 _),
    "q76_zorder_key" -> (q76 _),
    "q77_streaming_neardup_ingest" -> (q77 _),
    "q78_segment_dedup" -> (q78 _),
    "q79_bpe_pair_stats" -> (q79 _),
    "q80_embedding_diversity" -> (q80 _),
    "q82_centroid_confusion" -> (q82 _),
    "q83_export_manifest" -> (q83 _),
    "q84_vocab_drift" -> (q84 _))

  val oracles: Map[String, String] = Map(
    "q64_top_ngram_frac" -> q64Sql,
    "q65_familiarity" -> q65Sql,
    "q66_token_budget_cap" -> q66Sql,
    "q67_incremental_neardup" -> q67Sql,
    "q68_shared_ngrams" -> q68Sql,
    "q69_snapshot_diff" -> q69Sql,
    "q70_streaming_dedup_ingest" -> q70Sql,
    "q71_epoch_mix" -> q71Sql,
    "q72_inverted_index" -> q72Sql,
    "q73_mixer_pipeline" -> q73Sql,
    "q74_split_assign" -> q74Sql,
    "q75_contamination_report" -> q75Sql,
    "q76_zorder_key" -> q76Sql,
    "q77_streaming_neardup_ingest" -> q77Sql,
    "q78_segment_dedup" -> q78Sql,
    "q79_bpe_pair_stats" -> q79Sql,
    "q80_embedding_diversity" -> q80Sql,
    "q82_centroid_confusion" -> q82Sql,
    "q83_export_manifest" -> q83Sql,
    "q84_vocab_drift" -> q84Sql,
    "q117_boilerplate" -> q117Sql,
    "q118_classifier_score" -> q118Sql,
    "q119_bm25_topk" -> q119Sql,
    "q120_hybrid_rrf" -> q120Sql,
    "q121_bpe_encode" -> q121Sql,
    "q122_contrastive_pairs" -> q122Sql,
    "q123_curriculum" -> q123Sql,
    "q124_padding_audit" -> q124Sql,
    "q126_streaming_budget" -> q126Sql,
    "q129_similarity_join" -> q129Sql,
    "q130_tokenized_packing" -> q130Sql,
    "q131_bpe_train" -> q131Sql,
    "q132_perceptron" -> q132Sql)
}
