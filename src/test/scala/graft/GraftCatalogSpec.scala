package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.Versioned

/** SQL surface of the versioned lake ([[graft.sql.GraftCatalog]] +
  * [[graft.sql.GraftSqlRule]]): a session with the graft catalog and
  * extensions must run the whole lake lifecycle — DDL, INSERT,
  * SELECT, VERSION AS OF, DELETE, UPDATE, MERGE INTO — through
  * `spark.sql` alone, routed to the SAME `Versioned` operators the
  * Scala API calls. The parity test pins that: the identical DML flow
  * driven via SQL and via the Scala API yields structurally identical
  * manifests (same versions, ops, per-file stats — file names are
  * commit-scoped UUIDs and normalize away).
  */
class GraftCatalogSpec extends SparkSuite {


  test("DDL + INSERT + SELECT + time travel, all through spark.sql") {
    withCatalogSession { (s, wh) =>
      s.sql("CREATE NAMESPACE graft.db")
      s.sql("CREATE TABLE graft.db.t (id BIGINT, s STRING)")
      assert(s.sql("SHOW TABLES IN graft.db").collect()
        .map(_.getString(1)).toSeq == Seq("t"))
      assert(s.sql("SELECT * FROM graft.db.t").count() == 0) // v0 empty
      s.sql("INSERT INTO graft.db.t VALUES (1, 'a'), (2, 'b')") // v1
      s.sql("INSERT INTO graft.db.t VALUES (3, 'c')")           // v2
      assert(s.sql("SELECT id, s FROM graft.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // aggregation over the replaced read plan (codegen'd parquet scan)
      assert(s.sql("SELECT sum(id) FROM graft.db.t WHERE s <> 'b'")
        .head().getLong(0) == 4L)
      // time travel: every committed version stays addressable
      assert(s.sql("SELECT count(*) FROM graft.db.t VERSION AS OF 0")
        .head().getLong(0) == 0L)
      assert(s.sql("SELECT count(*) FROM graft.db.t VERSION AS OF 1")
        .head().getLong(0) == 2L)
      val e = intercept[Exception](
        s.sql("SELECT * FROM graft.db.t VERSION AS OF 9").collect())
      assert(e.getMessage.contains("version 9"))
      // the SQL commits are real Versioned commits on disk
      assert(Versioned.latestVersion(s, s"$wh/db/t").contains(2))
      // INSERT OVERWRITE = full-table replace (one more version)
      s.sql("INSERT OVERWRITE graft.db.t VALUES (9, 'z')")
      assert(s.sql("SELECT id FROM graft.db.t").collect()
        .map(_.getLong(0)).toSeq == Seq(9L))
      assert(s.sql("SELECT count(*) FROM graft.db.t VERSION AS OF 2")
        .head().getLong(0) == 3L, "replace must not rewrite history")
      assert(s.sql("DROP TABLE graft.db.t").collect().isEmpty)
      assert(s.sql("SHOW TABLES IN graft.db").collect().isEmpty)
    }
  }

  test("CTAS creates the table with the query's rows; TIMESTAMP AS OF " +
      "answers from commit instants") {
    withCatalogSession { (s, wh) =>
      s.sql("CREATE NAMESPACE graft.db")
      s.sql("CREATE TABLE graft.db.c AS " +
        "SELECT id, id * 2 AS v FROM range(10)")
      assert(s.sql("SELECT sum(v) FROM graft.db.c").head().getLong(0)
        == 90L)
      // CTAS publishes ONE commit: v0 carries the data
      assert(Versioned.latestVersion(s, s"$wh/db/c").contains(0))
      intercept[Exception](
        s.sql("CREATE TABLE graft.db.c AS SELECT 1L AS x"))
      s.sql("CREATE TABLE IF NOT EXISTS graft.db.c AS " +
        "SELECT 1L AS id, 1L AS v") // exists: no-op, nothing committed
      assert(s.sql("SELECT count(*) FROM graft.db.c").head().getLong(0)
        == 10L)
      // timestamp travel: pin an instant between v0 and v1
      Thread.sleep(60)
      val mid = java.time.Instant.now().toString
      Thread.sleep(60)
      s.sql("INSERT INTO graft.db.c VALUES (100, 200)") // v1
      assert(s.sql("SELECT count(*) FROM graft.db.c").head().getLong(0)
        == 11L)
      assert(s.sql(
        s"SELECT count(*) FROM graft.db.c TIMESTAMP AS OF '$mid'")
        .head().getLong(0) == 10L,
        "TIMESTAMP AS OF must resolve to the version committed before it")
      val e = intercept[Exception](s.sql("SELECT * FROM graft.db.c " +
        "TIMESTAMP AS OF '1999-01-01T00:00:00Z'").collect())
      assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .exists(t => Option(t.getMessage)
          .exists(_.contains("at or before"))), e.getMessage)
    }
  }

  test("ALTER TABLE ADD COLUMNS publishes a schema-evolution commit; " +
      "destructive alters are refused") {
    withCatalogSession { (s, wh) =>
      s.sql("CREATE NAMESPACE graft.db")
      s.sql("CREATE TABLE graft.db.t AS SELECT id FROM range(3)") // v0
      s.sql("ALTER TABLE graft.db.t ADD COLUMNS (note STRING)")   // v1
      // pre-evolution rows read NULL in the new column
      assert(s.sql("SELECT count(*) FROM graft.db.t WHERE note IS NULL")
        .head().getLong(0) == 3L)
      s.sql("INSERT INTO graft.db.t VALUES (10, 'x')")            // v2
      assert(s.sql("SELECT note FROM graft.db.t WHERE id = 10")
        .head().getString(0) == "x")
      // the evolution is versioned: time travel reads the old schema
      assert(s.sql("SELECT * FROM graft.db.t VERSION AS OF 0")
        .schema.fieldNames.toSeq == Seq("id"))
      assert(Versioned.latestVersion(s, s"$wh/db/t").contains(2))
      // DROP COLUMN is a metadata commit now (round 15) — the
      // destructive refusal that remains is a retype
      s.sql("ALTER TABLE graft.db.t DROP COLUMN note")        // v3
      assert(s.table("graft.db.t").columns.toSeq == Seq("id"))
      assert(s.sql("SELECT * FROM graft.db.t VERSION AS OF 2")
        .schema.fieldNames.toSeq == Seq("id", "note"))
      // a narrowing retype is refused before it even reaches the
      // catalog (Spark's own NOT_SUPPORTED_CHANGE_COLUMN gate)
      val e1 = intercept[Exception](
        s.sql("ALTER TABLE graft.db.t ALTER COLUMN id TYPE INT"))
      assert(Iterator.iterate(e1: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("not supported"))), e1.getMessage)
      val e2 = intercept[Exception](
        s.sql("ALTER TABLE graft.db.t ADD COLUMNS (id INT)"))
      assert(Iterator.iterate(e2: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("already exists"))), e2.getMessage)
    }
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT routes to the lake's CHECK " +
      "machinery and is enforced on every later commit") {
    withCatalogSession { (s, wh) =>
      s.sql("CREATE NAMESPACE graft.db")
      s.sql("CREATE TABLE graft.db.t AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(5)")       // v0
      s.sql("ALTER TABLE graft.db.t ADD CONSTRAINT v_nonneg " +
        "CHECK (v >= 0)")                                         // v1
      assert(Versioned.checks(s, s"$wh/db/t") ==
        Seq("v_nonneg" -> "v >= 0"))
      // the declaration is enforced on every later SQL commit
      val e1 = intercept[Exception](
        s.sql("INSERT INTO graft.db.t VALUES (9, -1.0)"))
      assert(Iterator.iterate(e1: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.toLowerCase.contains("check"))), e1.getMessage)
      s.sql("INSERT INTO graft.db.t VALUES (9, 1.0)")             // v2
      // a declaration the existing rows violate is refused
      val e2 = intercept[Exception](
        s.sql("ALTER TABLE graft.db.t ADD CONSTRAINT v_small " +
          "CHECK (v < 3)"))
      assert(Iterator.iterate(e2: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.toLowerCase.contains("check"))), e2.getMessage)
      // DESCRIBE-level surface: the table reports its constraint
      assert(s.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sql.GraftCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("db"), "t"))
        .constraints().map(_.name()).toSeq == Seq("v_nonneg"))
      // DROP releases the contract; IF EXISTS tolerates absence
      s.sql("ALTER TABLE graft.db.t DROP CONSTRAINT v_nonneg")    // v3
      s.sql("INSERT INTO graft.db.t VALUES (10, -5.0)")           // v4
      assert(s.sql("SELECT count(*) FROM graft.db.t WHERE v < 0")
        .head().getLong(0) == 1L)
      s.sql("ALTER TABLE graft.db.t DROP CONSTRAINT IF EXISTS nope")
      val e3 = intercept[Exception](
        s.sql("ALTER TABLE graft.db.t DROP CONSTRAINT nope"))
      assert(Iterator.iterate(e3: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("no CHECK constraint"))), e3.getMessage)
      // inline CREATE TABLE constraints reach the lake too (the
      // TableInfo route — its default impl silently drops them)
      s.sql("CREATE TABLE graft.db.c (id BIGINT, v DOUBLE, " +
        "CONSTRAINT v_pos CHECK (v > 0))")
      assert(Versioned.checks(s, s"$wh/db/c") ==
        Seq("v_pos" -> "v > 0"))
      val e4 = intercept[Exception](
        s.sql("INSERT INTO graft.db.c VALUES (1, -1.0)"))
      assert(Iterator.iterate(e4: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.toLowerCase.contains("check"))), e4.getMessage)
      s.sql("INSERT INTO graft.db.c VALUES (1, 1.0)")
      assert(s.sql("SELECT count(*) FROM graft.db.c").head()
        .getLong(0) == 1L)
    }
  }

  test("general MERGE INTO clause shapes (conditions, DELETE, NOT " +
      "MATCHED BY SOURCE) route to Versioned.mergeApply") {
    withCatalogSession { (s, wh) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE graft.db")
      (0L until 10L).map(k => (k, k * 10.0)).toDF("k", "v")
        .createOrReplaceTempView("base")
      s.sql("CREATE TABLE graft.db.t AS SELECT k, v FROM base")
      Seq((0L, 100.0), (1L, 5.0), (2L, 200.0), (3L, 3.0),
        (20L, 7.0), (21L, 8.0), (22L, 9.0)).toDF("k", "v")
        .createOrReplaceTempView("src")
      s.sql("""MERGE INTO graft.db.t AS t USING src AS s
              |ON t.k = s.k
              |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
              |WHEN MATCHED THEN DELETE
              |WHEN NOT MATCHED AND s.k % 2 = 0
              |  THEN INSERT (k, v) VALUES (s.k, s.v)
              |WHEN NOT MATCHED BY SOURCE AND t.k % 5 = 0
              |  THEN UPDATE SET v = -1.0
              |WHEN NOT MATCHED BY SOURCE AND t.k % 2 = 0
              |  THEN DELETE""".stripMargin)
      // identical semantics to MergeApplySpec's clause-algebra case
      assert(s.sql("SELECT k, v FROM graft.db.t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq(
        0L -> 100.0, 2L -> 200.0, 5L -> -1.0,
        7L -> 70.0, 9L -> 90.0, 20L -> 7.0, 22L -> 9.0))
      // routed through the lake operator: the commit's op header
      assert(Versioned.history(s, s"$wh/db/t").collect()
        .map(_.getAs[String]("operation")).contains("merge"))
      // history preserved (v0 untouched by the row-level rewrite)
      assert(s.sql("SELECT count(*) FROM graft.db.t VERSION AS OF 0")
        .head().getLong(0) == 10L)
    }
  }

  test("DELETE FROM / UPDATE / MERGE INTO route to the Versioned " +
      "operators and match their row semantics") {
    withCatalogSession { (s, wh) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE graft.db")
      val dir = s"$wh/db/t"
      Versioned.commitWithStats(s, dir,
        (0L until 40L).map(i => (i, s"row$i")).toDF("id", "s")
          .repartitionByRange(4, col("id")), "id")
      // DELETE with the stat-pruned CoW path (NULL-keeps semantics
      // live in deleteWhere; here we pin the SQL routing + result)
      s.sql("DELETE FROM graft.db.t WHERE id BETWEEN 12 AND 17")
      assert(s.sql("SELECT count(*) FROM graft.db.t").head().getLong(0)
        == 34L)
      assert(Versioned.latestVersion(s, dir).contains(1))
      assert(Versioned.history(s, dir).collect()
        .exists(_.getAs[String]("operation") == "delete"),
        "SQL DELETE must publish through deleteWhere")
      // UPDATE with an expression assignment and a predicate
      s.sql("UPDATE graft.db.t SET s = upper(s) WHERE id < 3")
      assert(s.sql("SELECT s FROM graft.db.t WHERE id < 3 ORDER BY id")
        .collect().map(_.getString(0)).toSeq ==
        Seq("ROW0", "ROW1", "ROW2"))
      assert(s.sql(
        "SELECT count(*) FROM graft.db.t WHERE s = upper(s) AND id > 3")
        .head().getLong(0) == 0L, "UPDATE must touch WHERE-TRUE rows only")
      // MERGE INTO (upsert): update one key, insert a fresh one
      s.sql("CREATE TABLE graft.db.src (id BIGINT, s STRING)")
      s.sql("INSERT INTO graft.db.src VALUES (20, 'merged'), " +
        "(100, 'fresh')")
      s.sql("""MERGE INTO graft.db.t AS t USING graft.db.src AS s
              |ON t.id = s.id
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = s.sql("SELECT id, s FROM graft.db.t").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got(20L) == "merged" && got(100L) == "fresh")
      assert(got.size == 35)
      // a non-upsert shape routes to the general mergeApply path
      s.sql("""MERGE INTO graft.db.t AS t USING graft.db.src AS s
              |ON t.id = s.id
              |WHEN MATCHED THEN DELETE""".stripMargin)
      val after = s.sql("SELECT id FROM graft.db.t").collect()
        .map(_.getLong(0)).toSet
      assert(after.size == 33 && !after.contains(20L) &&
        !after.contains(100L),
        "MERGE … WHEN MATCHED THEN DELETE must remove the matched keys")
      // a non-equi ON condition still fails loudly
      val e = intercept[Exception](s.sql(
        """MERGE INTO graft.db.t AS t USING graft.db.src AS s
          |ON t.id > s.id
          |WHEN MATCHED THEN DELETE""".stripMargin).collect())
      assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .exists(t => Option(t.getMessage)
          .exists(_.contains("equi-key"))), e.getMessage)
    }
  }

  test("MERGE INTO with differently-named join keys routes through " +
      "mergeApply with the source key copied onto the target name") {
    withCatalogSession { (s, wh) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE graft.db")
      (0L until 10L).map(k => (k, k * 10.0)).toDF("k", "v")
        .createOrReplaceTempView("base")
      s.sql("CREATE TABLE graft.db.t AS SELECT k, v FROM base")
      // the source names its key `ext_id` — `ON t.k = s.ext_id`
      Seq((2L, 999.0), (20L, 5.0)).toDF("ext_id", "price")
        .createOrReplaceTempView("src")
      s.sql("""MERGE INTO graft.db.t AS t USING src AS s
              |ON t.k = s.ext_id
              |WHEN MATCHED THEN UPDATE SET v = s.price
              |WHEN NOT MATCHED THEN INSERT (k, v)
              |  VALUES (s.ext_id, s.price)""".stripMargin)
      val got = s.sql("SELECT k, v FROM graft.db.t").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(got(2L) == 999.0 && got(20L) == 5.0 && got.size == 11)
      assert(Versioned.history(s, s"$wh/db/t").collect()
        .map(_.getAs[String]("operation")).contains("merge"))
      // conditional clauses referencing the source key by ITS name
      // still resolve (the key is copied, not renamed)
      s.sql("""MERGE INTO graft.db.t AS t USING src AS s
              |ON t.k = s.ext_id
              |WHEN MATCHED AND s.ext_id = 2 THEN DELETE""".stripMargin)
      assert(!s.sql("SELECT k FROM graft.db.t").collect()
        .map(_.getLong(0)).contains(2L))
      // an ambiguous source (it ALSO has a column named `k`) refuses
      Seq((2L, 0L, 1.0)).toDF("ext_id", "k", "price")
        .createOrReplaceTempView("amb")
      val e = intercept[Exception](s.sql(
        """MERGE INTO graft.db.t AS t USING amb AS s
          |ON t.k = s.ext_id
          |WHEN MATCHED THEN DELETE""".stripMargin))
      assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("ambiguous"))), e.getMessage)
    }
  }

  test("DML parse shapes: aliases route; views, subquery targets and " +
      "REPLACE TABLE refuse loudly naming the supported form") {
    withCatalogSession { (s, wh) =>
      s.sql("CREATE NAMESPACE graft.db")
      s.sql("CREATE TABLE graft.db.t AS SELECT id, id * 2 AS v " +
        "FROM range(20)")
      // target alias: routes (the alias strips to the relation)
      s.sql("DELETE FROM graft.db.t AS x WHERE x.id < 3")
      assert(s.sql("SELECT count(*) FROM graft.db.t").head()
        .getLong(0) == 17L)
      s.sql("UPDATE graft.db.t AS x SET v = -1 WHERE x.id = 5")
      assert(s.sql("SELECT v FROM graft.db.t WHERE id = 5").head()
        .getLong(0) == -1L)
      // DML through a VIEW over the table: refused with a message
      // naming the supported form — never silently mis-executed,
      // never Spark's confusing "only supported with v2 tables"
      s.sql("CREATE TEMP VIEW tv AS SELECT * FROM graft.db.t " +
        "WHERE id > 4")
      val e1 = intercept[Exception](
        s.sql("DELETE FROM tv WHERE id = 7"))
      assert(Iterator.iterate(e1: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("target the table directly"))),
        e1.getMessage)
      val e2 = intercept[Exception](
        s.sql("UPDATE tv SET v = 0 WHERE id = 7"))
      assert(Iterator.iterate(e2: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("target the table directly"))),
        e2.getMessage)
      val e3 = intercept[Exception](s.sql(
        """MERGE INTO tv AS t USING graft.db.t AS s ON t.id = s.id
          |WHEN MATCHED THEN DELETE""".stripMargin))
      assert(Iterator.iterate(e3: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("target the table directly"))),
        e3.getMessage)
      assert(s.sql("SELECT count(*) FROM graft.db.t WHERE id = 7")
        .head().getLong(0) == 1L, "refused DML must not mutate")
      // DML through a view over a FOREIGN (non-graft, v1) table:
      // graft must STAND DOWN — the plan belongs to another provider,
      // and hijacking it with a graft-branded refusal would misdirect
      // the user; Spark's own error speaks instead
      val foreign = java.nio.file.Files
        .createTempDirectory("graft-foreign").toString
      s.range(5).write.mode("overwrite").parquet(foreign)
      s.read.parquet(foreign).createOrReplaceTempView("fv_base")
      s.sql("CREATE TEMP VIEW fv AS SELECT * FROM fv_base WHERE id > 1")
      val ef = intercept[Exception](
        s.sql("DELETE FROM fv WHERE id = 3"))
      assert(!Iterator.iterate(ef: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("target the table directly"))),
        s"graft-branded refusal on a foreign view plan: ${ef.getMessage}")
      // MERGE with a subquery SOURCE: routes (the source is a plan)
      s.sql("""MERGE INTO graft.db.t AS t USING (
              |  SELECT id FROM range(100, 102)
              |) AS s ON t.id = s.id
              |WHEN NOT MATCHED THEN INSERT (id, v)
              |  VALUES (s.id, 0)""".stripMargin)
      assert(s.sql("SELECT count(*) FROM graft.db.t WHERE id >= 100")
        .head().getLong(0) == 2L)
      // REPLACE TABLE would destroy retained history: refused loudly
      val e4 = intercept[Exception](s.sql(
        "REPLACE TABLE graft.db.t AS SELECT 1L AS id"))
      assert(Iterator.iterate(e4: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("INSERT OVERWRITE"))), e4.getMessage)
      val e5 = intercept[Exception](s.sql(
        "CREATE OR REPLACE TABLE graft.db.t AS SELECT 1L AS id"))
      assert(Iterator.iterate(e5: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("INSERT OVERWRITE"))), e5.getMessage)
      // the refusals left the table intact and versioned
      assert(s.sql("SELECT count(*) FROM graft.db.t").head()
        .getLong(0) == 19L)
    }
  }

  test("conditional UPDATE SET * / INSERT * route through the clause " +
      "algebra (star-plus-override is not Spark grammar; the explicit " +
      "assignment list is the equivalent)") {
    withCatalogSession { (s, wh) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE graft.db")
      (0L until 6L).map(k => (k, k * 1.0, 0L)).toDF("k", "v", "flag")
        .createOrReplaceTempView("base")
      s.sql("CREATE TABLE graft.db.t AS SELECT k, v, flag FROM base")
      Seq((1L, 100.0, 7L), (2L, -5.0, 7L), (10L, 1.0, 7L))
        .toDF("k", "v", "flag").createOrReplaceTempView("src")
      // `UPDATE SET *` under a CONDITION is not the upsert fast path —
      // it must compile into the general clause algebra; so must a
      // conditional `INSERT *`. "Star plus override" (`SET *, x = 1`)
      // is not in Spark's MERGE grammar — its meaning is an explicit
      // assignment list, which the second clause exercises.
      s.sql("""MERGE INTO graft.db.t AS t USING src AS s
              |ON t.k = s.k
              |WHEN MATCHED AND s.v > t.v THEN UPDATE SET *
              |WHEN MATCHED THEN UPDATE SET v = s.v, flag = -1
              |WHEN NOT MATCHED AND s.k > 5 THEN INSERT *""".stripMargin)
      val got = s.sql("SELECT k, v, flag FROM graft.db.t").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2))))
        .toMap
      assert(got(1L) == ((100.0, 7L)), "star update must copy all cols")
      assert(got(2L) == ((-5.0, -1L)),
        "fall-through clause must apply the explicit overrides")
      assert(got(10L) == ((1.0, 7L)), "conditional INSERT * must land")
      assert(got(0L) == ((0.0, 0L)) && got.size == 7)
      assert(Versioned.history(s, s"$wh/db/t").collect()
        .map(_.getAs[String]("operation")).contains("merge"))
    }
  }

  test("SQL path and Scala path produce identical manifests for the " +
      "same DML flow") {
    withCatalogSession { (s, wh) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE graft.db")
      val base = (0L until 40L).map(i => (i, s"row$i")).toDF("id", "s")
        .repartitionByRange(4, col("id"))
      val sqlDir = s"$wh/db/sqlt"
      val apiDir = s"$wh/db/apit"
      Versioned.commitWithStats(s, sqlDir, base, "id")
      Versioned.commitWithStats(s, apiDir, base, "id")
      // same flow, two drivers
      s.sql("DELETE FROM graft.db.sqlt WHERE id BETWEEN 12 AND 17")
      s.sql("UPDATE graft.db.sqlt SET s = upper(s) WHERE id < 3")
      s.sql("INSERT INTO graft.db.sqlt VALUES (200, 'tail')")
      Versioned.deleteWhere(s, apiDir, col("id").between(12, 17))
      Versioned.updateWhere(s, apiDir, col("id") < 3,
        Map("s" -> upper(col("s"))))
      Versioned.commit(s, apiDir, Seq((200L, "tail")).toDF("id", "s"))
      // normalize: commit-scoped UUID file names and wall-clock commit
      // instants differ by construction; everything else — version
      // count, op headers, per-file stats groups and annotations,
      // policy headers, line order — must match
      assert(normalizedManifests(s, sqlDir) ==
        normalizedManifests(s, apiDir),
        "the SQL route must publish byte-equivalent commits")
      // and byte-identical results
      assert(s.sql("SELECT * FROM graft.db.sqlt ORDER BY id").collect()
        .toSeq ==
        Versioned.read(s, apiDir).orderBy("id").collect().toSeq)
    }
  }

  /** Every version's manifest, noise-normalized
    * ([[SparkSuite.normalizedManifest]]) — what "the SQL route
    * publishes the same commit" means across twin tables. */
  private def normalizedManifests(s: SparkSession,
      dir: String): Seq[Seq[String]] =
    (0 to Versioned.latestVersion(s, dir).get)
      .map(normalizedManifest(dir, _))

  test("TBLPROPERTIES declare the file-skipping policy: a pure-SQL " +
      "table is manifest-equal to its Scala commitWithIndex twin, " +
      "ALTER SET TBLPROPERTIES publishes a policy commit, and " +
      "unhonorable properties are refused") {
    withCatalogSession { (s, wh) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE graft.db")
      val base = (0L until 30L).map(i => (i, s"doc$i")).toDF("id", "s")
        .repartitionByRange(3, col("id"))
        .localCheckpoint(true)
      base.createOrReplaceTempView("src")
      // CTAS with the full policy vocabulary
      s.sql("""CREATE TABLE graft.db.sqlt
              |TBLPROPERTIES ('graft.stats.cols'='id',
              |               'graft.bloom.cols'='s',
              |               'graft.bloom.expected'='1000',
              |               'graft.bloom.fpp'='0.01')
              |AS SELECT id, s FROM src""".stripMargin)
      val apiDir = s"$wh/db/apit"
      Versioned.commitWithIndex(s, apiDir, base, Seq("id"), Seq("s"),
        bloomExpectedItems = 1000L, bloomFpp = 0.01)
      assert(normalizedManifests(s, s"$wh/db/sqlt") ==
        normalizedManifests(s, apiDir),
        "SQL CTAS + TBLPROPERTIES must publish the identical " +
          "stats+bloom+policy manifest a Scala commitWithIndex does")
      // the policy is visible back through SQL
      val shown = s.sql("SHOW TBLPROPERTIES graft.db.sqlt").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown.get("graft.stats.cols").contains("id") &&
        shown.get("graft.bloom.cols").contains("s"))
      // empty CREATE TABLE with policy: the FIRST insert already
      // measures under it (the header is the policy, not the data)
      s.sql("CREATE TABLE graft.db.e (id BIGINT, s STRING) " +
        "TBLPROPERTIES ('graft.stats.cols'='id')")
      s.sql("INSERT INTO graft.db.e VALUES (5, 'x'), (6, 'y')")
      assert(Versioned.rowCountFromMetadata(s, s"$wh/db/e") == Some(2L))
      // ALTER … SET TBLPROPERTIES re-declares as a policy commit
      val v0 = Versioned.latestVersion(s, s"$wh/db/e").get
      s.sql("ALTER TABLE graft.db.e SET TBLPROPERTIES " +
        "('graft.bloom.cols'='s', 'graft.bloom.expected'='500')")
      assert(Versioned.latestVersion(s, s"$wh/db/e").contains(v0 + 1))
      assert(Versioned.bloomPolicy(s, s"$wh/db/e") ==
        Seq(("s", 500L, 0.03)))
      assert(Versioned.history(s, s"$wh/db/e").collect()
        .map(_.getAs[String]("operation")).contains("set-policy"))
      // … and the next insert builds blooms under it: files committed
      // BEFORE the declaration have no filter (conservative — always
      // planned); the post-policy file prunes on a missing key and
      // plans on a present one, so the two probes differ by exactly it
      s.sql("INSERT INTO graft.db.e VALUES (7, 'z')")
      val pZ = Versioned.plannedFilesEq(s, s"$wh/db/e",
        col("s") === "z")
      val pAbsent = Versioned.plannedFilesEq(s, s"$wh/db/e",
        col("s") === "zzz")
      assert(pZ.size == pAbsent.size + 1,
        s"post-policy insert must be bloom-indexed: z=${pZ.size} " +
          s"absent=${pAbsent.size}")
      // refusals: unknown keys, non-parquet providers, a policy
      // column the table lacks, sizing without bloom columns
      val e1 = intercept[Exception](s.sql(
        "CREATE TABLE graft.db.bad (id BIGINT) " +
          "TBLPROPERTIES ('foo'='bar')"))
      assert(Iterator.iterate(e1: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("cannot honor"))), e1.getMessage)
      val e2 = intercept[Exception](s.sql(
        "CREATE TABLE graft.db.bad2 (id BIGINT) USING csv"))
      assert(Iterator.iterate(e2: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("parquet"))), e2.getMessage)
      val e3 = intercept[Exception](s.sql(
        "CREATE TABLE graft.db.bad3 (id BIGINT) " +
          "TBLPROPERTIES ('graft.stats.cols'='nope')"))
      assert(Iterator.iterate(e3: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("not in the declared schema"))),
        e3.getMessage)
      val e4 = intercept[Exception](s.sql(
        "ALTER TABLE graft.db.e SET TBLPROPERTIES " +
          "('graft.bloom.expected'='9')"))
      assert(Iterator.iterate(e4: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("graft.bloom.cols"))), e4.getMessage)
      val e5 = intercept[Exception](s.sql(
        "ALTER TABLE graft.db.e SET TBLPROPERTIES ('other'='x')"))
      assert(Iterator.iterate(e5: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("policy keys"))), e5.getMessage)
      // UNSET releases a declaration (metadata commit; files keep
      // their already-recorded stats)
      s.sql("ALTER TABLE graft.db.e UNSET TBLPROPERTIES " +
        "('graft.bloom.cols')")
      assert(Versioned.bloomPolicy(s, s"$wh/db/e").isEmpty)
      // … and UNSET of the STATS policy is not resurrected from the
      // stats groups old lines still carry: the next insert records
      // nothing, so the all-or-nothing metadata count falls back
      s.sql("ALTER TABLE graft.db.e UNSET TBLPROPERTIES " +
        "('graft.stats.cols')")
      assert(Versioned.statPolicy(s, s"$wh/db/e").isEmpty,
        "UNSET graft.stats.cols must actually stop tracking")
      s.sql("INSERT INTO graft.db.e VALUES (8, 'w')")
      assert(Versioned.statPolicy(s, s"$wh/db/e").isEmpty)
      assert(Versioned.rowCountFromMetadata(s, s"$wh/db/e").isEmpty,
        "a post-UNSET insert must be untracked (policy is gone)")
      // COMMENT gets a dedicated refusal, not "unknown TBLPROPERTIES"
      val e6 = intercept[Exception](s.sql(
        "CREATE TABLE graft.db.cmt (id BIGINT) COMMENT 'hello'"))
      assert(Iterator.iterate(e6: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains("COMMENT"))), e6.getMessage)
    }
  }

  test("spark.readStream.table streams a graft table's PLAIN ROWS " +
      "through the V2TableWithV1Fallback route: snapshot + appends; " +
      "a delete commit fails the stream; skipChangeCommits skips it") {
    withCatalogSession { (s, wh) =>
      s.sql("CREATE NAMESPACE graft.db")
      s.sql("CREATE TABLE graft.db.st AS " +
        "SELECT id, id * 2 AS v FROM range(5)")                  // v0
      val name = s"ct_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = s.readStream.table("graft.db.st")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$wh/ckpt1").start()
      try {
        q.processAllAvailable()
        // plain rows, no feed columns — the table's own schema
        assert(s.table(name).columns.toSeq == Seq("id", "v"))
        assert(s.table(name).count() == 5,
          "the initial snapshot must stream as rows")
        s.sql("INSERT INTO graft.db.st VALUES (100, 200)")       // v1
        q.processAllAvailable()
        assert(s.table(name).count() == 6)
        // a delete commit is not representable as plain rows
        s.sql("DELETE FROM graft.db.st WHERE id = 0")            // v2
        val e = intercept[org.apache.spark.sql.streaming
          .StreamingQueryException] {
          q.processAllAvailable(); q.awaitTermination(2000)
        }
        assert(Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).exists(t => Option(t.getMessage)
            .exists(_.contains("skipChangeCommits"))), e.getMessage)
      } finally q.stop()
      // Delta's stream-a-table semantics: a FRESH stream anchors at
      // the CURRENT head — history before query start (including the
      // delete commit that just failed the running stream) is never
      // replayed, so it starts clean with the table's 5 current rows
      // and needs no skipChangeCommits
      val name2 = name + "b"
      val q2 = s.readStream.table("graft.db.st")
        .writeStream.format("memory").queryName(name2)
        .option("checkpointLocation", s"$wh/ckpt2").start()
      try {
        q2.processAllAvailable()
        assert(s.table(name2).count() == 5,
          "a fresh catalog stream must deliver the head snapshot — " +
            "not a full-history replay, not resurrected deletions")
        // ... then tails post-anchor appends without re-snapshotting
        s.sql("INSERT INTO graft.db.st VALUES (300, 600)")       // v3
        q2.processAllAvailable()
        assert(s.table(name2).count() == 6,
          "post-anchor appends must tail onto the snapshot")
      } finally q2.stop()
      s.sql("DELETE FROM graft.db.st WHERE id = 1")              // v4
      // the documented escape hatch still reaches the source: a
      // running stream skips post-anchor change commits whole
      val name3 = name + "c"
      val q3 = s.readStream.option("skipChangeCommits", "true")
        .table("graft.db.st")
        .writeStream.format("memory").queryName(name3)
        .option("checkpointLocation", s"$wh/ckpt3").start()
      try {
        q3.processAllAvailable()
        // head snapshot at anchor (v4): 5 rows — 6 minus the delete
        assert(s.table(name3).count() == 5)
        s.sql("DELETE FROM graft.db.st WHERE id = 2")            // v5
        s.sql("INSERT INTO graft.db.st VALUES (400, 800)")       // v6
        q3.processAllAvailable()
        // the mid-stream delete skips whole; the append flows
        assert(s.table(name3).count() == 6,
          "skipChangeCommits must skip the delete commit and keep " +
            "streaming appends")
      } finally q3.stop()
    }
  }

  test("graft.manifest.checkpointEvery is TBLPROPERTIES policy: " +
      "declared at CREATE or ALTER, surfaced by SHOW, cleared by " +
      "UNSET; the SQL route and the CALL route agree") {
    withCatalogSession { (s, wh) =>
      s.sql("CREATE NAMESPACE graft.db")
      s.sql("CREATE TABLE graft.db.rh (id BIGINT) TBLPROPERTIES " +
        "('graft.manifest.checkpointEvery'='1')")
      val dir = s"$wh/db/rh"
      assert(Versioned.manifestCheckpointPolicy(s, dir).contains(1))
      (0 until 4).foreach(i =>
        s.sql(s"INSERT INTO graft.db.rh VALUES ($i)"))
      // cadence 1: every post-declaration commit is a full snapshot
      val head = Versioned.latestVersion(s, dir).get
      val deltas = (2 to head).count { v =>
        val p = java.nio.file.Paths.get(dir, "_manifest",
          f"v$v%05d.txt")
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        try src.getLines().exists(_.startsWith("#base\t"))
        finally src.close()
      }
      assert(deltas == 0,
        s"cadence 1 must snapshot every commit; found $deltas deltas")
      val shown = s.sql("SHOW TBLPROPERTIES graft.db.rh").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown.get("graft.manifest.checkpointEvery").contains("1"))
      // ALTER re-declares; UNSET clears back to the process default
      s.sql("ALTER TABLE graft.db.rh SET TBLPROPERTIES " +
        "('graft.manifest.checkpointEvery'='7')")
      assert(Versioned.manifestCheckpointPolicy(s, dir).contains(7))
      s.sql("ALTER TABLE graft.db.rh UNSET TBLPROPERTIES " +
        "('graft.manifest.checkpointEvery')")
      assert(Versioned.manifestCheckpointPolicy(s, dir).isEmpty)
      // the CALL twin declares and clears the same header
      s.sql("CALL graft.system.set_policy('db.rh', " +
        "checkpoint_every => 3)")
      assert(Versioned.manifestCheckpointPolicy(s, dir).contains(3))
      s.sql("CALL graft.system.set_policy('db.rh', " +
        "checkpoint_every => 0)")
      assert(Versioned.manifestCheckpointPolicy(s, dir).isEmpty)
      // refusal: a non-positive cadence
      val e = intercept[Exception](s.sql(
        "ALTER TABLE graft.db.rh SET TBLPROPERTIES " +
          "('graft.manifest.checkpointEvery'='0')"))
      assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains(">= 1"))), e.getMessage)
      assert(s.sql("SELECT count(*) FROM graft.db.rh").head()
        .getLong(0) == 4L)
    }
  }

  test("a policy declared AFTER data exists reaches old files through " +
      "rewrites: SET TBLPROPERTIES then CALL compact makes the whole " +
      "table metadata-countable") {
    withCatalogSession { (s, wh) =>
      s.sql("CREATE NAMESPACE graft.db")
      // untracked table: three commits, no stats anywhere
      s.sql("CREATE TABLE graft.db.u AS SELECT id, id * 2 AS v " +
        "FROM range(30)")
      s.sql("INSERT INTO graft.db.u SELECT id, id FROM range(30, 40)")
      val dir = s"$wh/db/u"
      assert(Versioned.rowCountFromMetadata(s, dir).isEmpty)
      // declare the policy, then let ONE rewrite re-measure everything
      s.sql("ALTER TABLE graft.db.u SET TBLPROPERTIES " +
        "('graft.stats.cols'='id')")
      s.sql("CALL graft.system.compact('db.u')")
      assert(Versioned.rowCountFromMetadata(s, dir) == Some(40L),
        "compaction under a declared policy must measure the declared " +
          "columns, not just the (empty) observed ones")
      // row-level DML honors the declaration too: the rewritten file
      // carries id stats even though its pre-image had none
      s.sql("CREATE TABLE graft.db.u2 AS SELECT id, id * 2 AS v " +
        "FROM range(30)")
      s.sql("ALTER TABLE graft.db.u2 SET TBLPROPERTIES " +
        "('graft.stats.cols'='id')")
      s.sql("DELETE FROM graft.db.u2 WHERE id = 7")
      val dir2 = s"$wh/db/u2"
      val lines = normalizedManifests(s, dir2).last
        .filterNot(_.startsWith("#"))
      assert(lines.exists(_.contains("\tid\t")),
        s"the DML rewrite must measure the declared column: $lines")
    }
  }

  test("file-skipping policy is TABLE policy: SQL INSERT INTO a " +
      "stats+bloom table keeps metadata COUNT(*) and point-delete " +
      "pruning intact") {
    withCatalogSession { (s, wh) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE graft.db")
      val dir = s"$wh/db/t"
      // a fully tracked table: per-file id stats + a bloom over s
      Versioned.commitWithIndex(s, dir,
        (0L until 40L).map(i => (i, s"row$i")).toDF("id", "s")
          .repartitionByRange(4, col("id")),
        statCols = Seq("id"), bloomCols = Seq("s"),
        bloomExpectedItems = 1000L, bloomFpp = 0.01)
      assert(Versioned.rowCountFromMetadata(s, dir) == Some(40L))
      // SQL INSERT INTO must INHERIT the policy: its staged file gets
      // id stats (so the metadata count survives) and an s bloom (so
      // point lookups keep pruning) — without inheritance one SQL
      // INSERT kills both contracts for every later version
      s.sql("INSERT INTO graft.db.t VALUES (100, 'fresh'), (101, 'also')")
      assert(Versioned.rowCountFromMetadata(s, dir) == Some(42L),
        "one SQL INSERT must not kill metadata-only COUNT(*)")
      // a point DELETE still prunes: only the single file whose bloom
      // admits the key rewrites; every other line carries verbatim
      val linesBefore = Versioned.manifestDataLines(s, dir, 1)
      assert(linesBefore.size >= 5, s"fixture: 4 ranged + inserted files")
      s.sql("DELETE FROM graft.db.t WHERE s = 'row7'")
      val linesAfter = Versioned.manifestDataLines(s, dir, 2)
      assert(linesAfter.count(l => !linesBefore.contains(l)) == 1,
        "a bloom-pruned point delete must rewrite exactly one file")
      assert(Versioned.rowCountFromMetadata(s, dir) == Some(41L))
      // the inserted file's bloom answers point lookups directly
      assert(Versioned.plannedFilesEq(s, dir,
        col("s") === "fresh").size == 1)
      assert(Versioned.plannedFilesEq(s, dir,
        col("s") === "nowhere").isEmpty)
    }
  }
}
