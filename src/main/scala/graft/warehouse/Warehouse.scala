package graft.warehouse

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Warehouse load strategies — the reference's PostgreSQL staging + MERGE
  * design (transf.py:136-369, main.py:330-454) re-expressed over Spark
  * managed tables (environment is zero-egress; SURVEY.md §1.4 keeps JDBC
  * as an optional path the same API shape would serve).
  *
  * The reference's only pushed-down compute is two server-side MERGEs
  * (transf.py:215-273, 329-362). Spark-native equivalents are anti-join /
  * union jobs; Catalyst + AQE pick broadcast-hash vs sort-merge per side
  * sizes, so the same code serves a 1 k dim and a 100 TB fact.
  */
object Warehouse {

  /** DD1 (main.py:353-360). */
  def ensureDatabase(spark: SparkSession, name: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $name")

  /** DD2 (main.py:363-390): CREATE TABLE IF NOT EXISTS from a schema.
    * The reference builds DDL from a col→type dict; here the StructType IS
    * the dict. (The reference's `id_auto` SERIAL-PK flag is dead code —
    * always False at transf.py:175,205,310,317 — and Spark tables have no
    * serial PKs; dropped.)
    */
  def ensureTable(spark: SparkSession, name: String, schema: StructType): Unit =
    if (!spark.catalog.tableExists(name))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.format("parquet").saveAsTable(name)

  /** U2 (transf.py:211,275,324,366): TRUNCATE. */
  def truncate(spark: SparkSession, name: String): Unit =
    spark.sql(s"TRUNCATE TABLE $name")

  /** DROP TABLE IF EXISTS that also clears a stale MANAGED location.
    *
    * The in-memory catalog is per-JVM while the warehouse directory
    * persists, so after a restart `DROP TABLE IF EXISTS` can be a catalog
    * no-op while `<db>.db/<table>` still exists on disk — a subsequent
    * `saveAsTable` then takes the CREATE path and throws
    * `LOCATION_ALREADY_EXISTS` (the round-3 q43 fresh-session failure).
    * Deleting the leftover directory through the Hadoop FS restores the
    * invariant "dropped ⇒ location free". Managed fixture/staging tables
    * only — an EXTERNAL table's location is user data and is never
    * touched (external locations don't live under `<db>.db/` anyway).
    */
  def dropManagedTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val parts = table.split('.')
    val (db, tbl) =
      if (parts.length == 2) (parts(0), parts(1)) else ("default", parts(0))
    if (spark.catalog.databaseExists(db)) {
      val dbLoc = new org.apache.hadoop.fs.Path(
        spark.catalog.getDatabase(db).locationUri)
      val tblLoc = new org.apache.hadoop.fs.Path(dbLoc, tbl.toLowerCase)
      val fs = tblLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(tblLoc)) { fs.delete(tblLoc, true); () }
    }
  }

  /** End-of-run janitor: drop every graft-created database (`graft`,
    * `graft_q*`) WITH its managed-table directories. Queries create
    * these under `spark-warehouse/` in the launch directory and leave
    * them for restart-idempotency within a run — but across runs they
    * only accumulate (a month of Verify/Bench rounds would fill the
    * sandbox disk). Called by Verify/Bench after the last query; never
    * touches `default` or any non-graft database.
    */
  def dropGraftDatabases(spark: SparkSession): Unit =
    spark.catalog.listDatabases().collect().map(_.name)
      .filter(n => n == "graft" || n.startsWith("graft_q"))
      .foreach { n =>
        val loc = new org.apache.hadoop.fs.Path(
          spark.catalog.getDatabase(n).locationUri)
        spark.sql(s"DROP DATABASE IF EXISTS $n CASCADE")
        // DROP DATABASE clears the catalog; the `<db>.db` directory can
        // outlive it (same per-JVM-catalog vs on-disk gap as
        // [[dropManagedTable]]) — remove it explicitly
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) { fs.delete(loc, true); () }
      }

  /** Sweep ORPHAN `graft*.db` directories — leftovers from earlier JVMs
    * that this session's in-memory catalog never registered, which
    * [[dropGraftDatabases]] therefore cannot see. Covers BOTH the
    * session's own warehouse root and the legacy shared default
    * `./spark-warehouse`: the harness mains now run on per-JVM scratch
    * roots (so their own root is usually empty), but the default root
    * is where pre-isolation rounds accumulated corpses — the original
    * "a month of rounds fills the disk" motivation — and where any
    * default-configured session still writes. Together with
    * [[dropGraftDatabases]] (this run) and `Q.scratchWarehouse`'s
    * stale-scratch sweep (crash-killed runs), every accumulation path
    * has an owner.
    */
  def sweepOrphanGraftDirs(spark: SparkSession): Unit = {
    val roots = Seq(
      spark.conf.get("spark.sql.warehouse.dir"),
      new java.io.File("spark-warehouse").getAbsolutePath).distinct
    for (r <- roots) {
      val root = new org.apache.hadoop.fs.Path(r)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root))
        fs.listStatus(root).foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.endsWith(".db") &&
              (n == "graft.db" || n.startsWith("graft_q")))
            { fs.delete(st.getPath, true); () }
        }
    }
  }

  /** S9 (main.py:392-416): bulk append into a staging/target table. The
    * reference chunks JDBC inserts at 1000 rows (main.py:413); a Spark
    * table write is already parallel-per-partition, so no chunk knob.
    * Columns are aligned by name against the table schema (insertInto is
    * positional — misordered frames would silently corrupt).
    */
  def appendInto(spark: SparkSession, table: String, df: DataFrame): Unit = {
    val cols = spark.table(table).columns
    df.select(cols.map(col).toSeq: _*).write.mode(SaveMode.Append)
      .insertInto(table)
  }

  /** S12 (main.py:437-454, transf.py:29-34): console sink — the
    * reference's `impr_tabla` verification print.
    */
  def printTable(spark: SparkSession, name: String, n: Int = 20): Unit =
    spark.table(name).show(n, truncate = false)

  /** S9 (main.py:392-416): JDBC append sink, chunked like the reference's
    * `to_sql(chunksize=1000)`. Kept behind the same API as the native
    * path; unused in this zero-egress environment (no live database), so
    * exercised only at the API level.
    */
  def jdbcAppend(df: DataFrame, url: String, table: String,
      props: java.util.Properties, batchSize: Int = 1000): Unit =
    df.write.mode(SaveMode.Append)
      .option("batchsize", batchSize)
      .jdbc(url, table, props)

  /** S10 (main.py:437-454): JDBC full-table scan. */
  def jdbcRead(spark: SparkSession, url: String, table: String,
      props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** MG1 (transf.py:329-362): MERGE insert-if-absent — the idempotent fact
    * load. `WHEN MATCHED DO NOTHING / WHEN NOT MATCHED INSERT` on a
    * composite key becomes a left-anti join on the key columns, then
    * append. Returns rows inserted.
    *
    * Scale: the anti-join probes only the key columns of the target
    * (column-pruned scan); with a date-partitioned target the probe can be
    * partition-pruned further by restricting to the stage's date range.
    */
  def insertIfAbsent(spark: SparkSession, table: String, stage: DataFrame,
      keys: Seq[String]): Long = {
    // persist the anti-join so count + append are one probe of the target,
    // not two (round-2 review: at 100 TB the second probe dominates)
    val fresh = Merge.insertIfAbsent(spark.table(table), stage, keys)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = fresh.count()
      if (n > 0) appendInto(spark, table, fresh)
      n
    } finally { fresh.unpersist(); () }
  }

  /** MG2 (transf.py:215-273): MERGE SCD Type 1 — dimension upsert. The
    * target is rewritten as `unmatchedTarget ∪ stage-with-audit-cols`:
    *  - matched rows take ALL stage columns (SCD1 overwrite),
    *  - `fecha_actualizacion` (last-update audit) is set to `auditDate`,
    *  - `fecha_actualizacion_origen` (creation date) is PRESERVED from the
    *    existing target row on match — the reference overwrites it
    *    (transf.py:240), defeating its documented purpose (README.md:87);
    *    fixed + documented per SURVEY.md §7. (The reference's
    *    `admin4 = stg.admin3` copy-paste typo at transf.py:239 is likewise
    *    not replicated.)
    *
    * Implemented via a staging table (mirroring the reference's `_stg`
    * twins, transf.py:139-142) so the rewrite never reads the table it
    * overwrites. Full-rewrite SCD1 is the documented trade-off for a plain
    * parquet warehouse (SURVEY.md §7): fine for dimensions; a 100 TB
    * MERGE-heavy fact would use a merge-capable table format.
    */
  def scd1Upsert(spark: SparkSession, table: String, stage: DataFrame,
      key: String, auditCol: String = "fecha_actualizacion",
      originCol: String = "fecha_actualizacion_origen",
      auditDate: org.apache.spark.sql.Column = current_date()): Unit = {
    val result =
      Merge.scd1(spark.table(table), stage, key, auditCol, originCol, auditDate)
    withStagingTable(spark, table, result) { stg =>
      spark.table(stg).write.mode(SaveMode.Overwrite).insertInto(table)
    }
  }

  /** Materialize `df` into a uniquely-named staging table, run `body`,
    * and drop the stage even on failure. A per-call unique suffix (not a
    * fixed `_rewrite_stg` name — round-3 review) means two concurrent
    * upserts of the same dimension can't clobber each other's stage, and
    * a crash can't leave an orphan that a later run silently reuses; the
    * finally-DROP also clears the on-disk location so no stale dir
    * survives into a fresh session (see [[dropManagedTable]]).
    * Writers are still single-writer per TARGET table — concurrent
    * rewrites of one dimension race on the final overwrite itself, as
    * with any non-transactional table format.
    */
  private def withStagingTable(spark: SparkSession, table: String,
      df: DataFrame)(body: String => Unit): Unit = {
    val stg = table + "_stg_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(stg)
    try body(stg)
    finally dropManagedTable(spark, stg)
  }

  /** MG2 at fact scale: SCD1 upsert against a `partCol`-partitioned
    * target, rewriting ONLY the partitions the merge can change — the
    * affected set is the union of the stage's partitions and the
    * partitions holding current rows of staged keys (a column-pruned
    * (key, partCol) probe). The merge itself runs on the pruned slice and
    * lands via dynamic partition overwrite, so a 100 TB dimension pays
    * O(changed partitions), not a full-table rewrite (the round-2
    * trade-off note on plain-parquet MERGE, retired here).
    *
    * Same convergence semantics as [[scd1Upsert]] with one constraint: a
    * key whose partition value changes leaves its old partition rewritten
    * without it, EXCEPT when that rewrite would empty the partition
    * entirely (dynamic overwrite cannot replace a partition with zero
    * rows) — keep `partCol` stable per key, the usual contract for a
    * partitioned dimension.
    */
  def scd1UpsertPartitioned(spark: SparkSession, table: String,
      stage: DataFrame, key: String, partCol: String,
      auditCol: String = "fecha_actualizacion",
      originCol: String = "fecha_actualizacion_origen",
      auditDate: org.apache.spark.sql.Column = current_date()): Unit = {
    val target = spark.table(table)
    // affected partitions: stage rows' partitions ∪ partitions of target
    // rows whose key is staged (covers keys whose partition value moves);
    // a dimension's changed-partition set is driver-small by definition
    val affected = target
      .join(stage.select(key).distinct(), Seq(key), "left_semi")
      .select(partCol)
      .union(stage.select(partCol))
      .distinct().collect().map(_.get(0)).filter(_ != null)
    if (affected.nonEmpty) {
      val slice = target.filter(col(partCol).isin(affected.toSeq: _*))
      val merged =
        Merge.scd1(slice, stage, key, auditCol, originCol, auditDate)
      withStagingTable(spark, table, merged) { stg =>
        val modeKey = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.get(modeKey)
        try {
          spark.conf.set(modeKey, "dynamic")
          spark.table(stg).select(target.columns.map(col).toSeq: _*)
            .write.mode(SaveMode.Overwrite).insertInto(table)
        } finally spark.conf.set(modeKey, prev)
      }
    }
  }
}
