package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.lake.Versioned

/** Golden bytes of the manifest format: one fixture table driven
  * through every commit path and every header kind (checks, DVs,
  * blooms and their config, id-mode column mapping with a rename and
  * a drop, cluster columns, txn retention, schema enforcement,
  * maintenance thresholds, the checkpoint cadence, a txn stamp, delta
  * and snapshot versions), whose raw `_manifest/vNNNNN.txt` files
  * must equal the texts under `src/test/resources/golden-manifest`.
  * Only the per-run noise is masked (uuids, `#ts`, `~b` sizes and the
  * `#txnhw` instants); line order is compared as written.
  */
class ManifestGoldenSpec extends SparkSuite {
  import spark.implicits._

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  private def mask(line: String): String =
    line.replaceAll(Uuid, "<uuid>")
      .replaceAll("^#ts\t\\d+$", "#ts\t<ts>")
      .replaceAll("\t~b\\d+", "\t~b<size>")
      .replaceAll("^(#txnhw\t[^\t]+\t\\d+)\t\\d+$", "$1\t<instant>")

  /** Build the fixture table in `dir`; each step is one version. */
  private def buildFixture(dir: String): Unit = {
    Versioned.commitWithIndex(spark, dir,
      ids(1, 2, 3, 4).withColumnRenamed("amount", "n"),
      statCols = Seq("id", "n"), bloomCols = Seq("s"),
      bloomExpectedItems = 1000L, bloomFpp = 0.01)                  // v0
    Versioned.setColumnMapping(spark, dir)                          // v1
    Versioned.commit(spark, dir, Seq((5L, "s5", 50L, "x5"))
      .toDF("id", "s", "n", "x").coalesce(1))                       // v2
    Versioned.renameColumn(spark, dir, "n", "amount")               // v3
    Versioned.dropColumn(spark, dir, "x")                           // v4
    Versioned.addCheck(spark, dir, "pos\tid%+é", "id > 0")          // v5
    Versioned.setPolicy(spark, dir, clusterBy = Some(Seq("id")),
      txnRetention = Some(Some(86400000L)),
      manifestCheckpointEvery = Some(Some(20)),
      maintainSet = Seq("dvdebt" -> "0.25"))                        // v6
    Versioned.idempotentCommit(spark, dir, ids(6),
      "app\t%+é\nid", 5L)                                           // v7
    for (i <- 7L to 9L) Versioned.commit(spark, dir, ids(i))        // v8-v10
    Versioned.deleteWhereMor(spark, dir, col("id") === 2)           // v11
    Versioned.updateWhereMor(spark, dir, col("id") === 3,
      Map("s" -> lit("S3")))                                        // v12
    Versioned.deleteWhere(spark, dir, col("id") === 4)              // v13
    Versioned.mergeInto(spark, dir, ids(5, 10), Seq("id"))          // v14
    Versioned.setPolicy(spark, dir, schemaEnforce = Some(true),
      manifestCheckpointEvery = Some(Some(3)))                      // v15
    Versioned.dropCheck(spark, dir, "pos\tid%+é")                   // v16
    Versioned.compactSubset(spark, dir,
      smallFileBytes = Some(1L << 30))                              // v17
    Versioned.restore(spark, dir, 11)                               // v18
    Versioned.commit(spark, dir, ids(11))                           // v19
    Versioned.commit(spark, dir, ids(12, 13), replace = true)       // v20
    Versioned.commit(spark, dir, ids(14))                           // v21
  }

  private def ids(xs: Long*) =
    xs.map(i => (i, s"s$i", i * 10)).toDF("id", "s", "amount")
      .coalesce(1)

  /** The fixture's committed manifest files, masked, by file name. */
  private def maskedManifests(dir: String): Seq[(String, Seq[String])] = {
    val mdir = java.nio.file.Paths.get(dir, "_manifest")
    val names = mdir.toFile.list().toSeq
      .filter(_.matches("v\\d{5,}\\.txt")).sorted
    names.map { n =>
      val text = new String(
        java.nio.file.Files.readAllBytes(mdir.resolve(n)), "UTF-8")
      n -> text.split("\n", -1).toSeq.dropRight(1).map(mask)
    }
  }

  private def fixtureManifests(): Seq[(String, Seq[String])] = {
    val dir = tmpDir() + "/golden"
    buildFixture(dir)
    maskedManifests(dir)
  }

  private def golden(name: String): Option[Seq[String]] =
    Option(getClass.getResourceAsStream(s"/golden-manifest/$name"))
      .map { in =>
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.mkString.split("\n", -1).toSeq.dropRight(1)
        finally src.close()
      }

  test("every committed manifest file matches its golden bytes " +
      "(uuids, #ts, ~b sizes and #txnhw instants masked)") {
    val files = fixtureManifests()
    assert(files.map(_._1) == (0 to 21).map(v => f"v$v%05d.txt"))
    val all = files.flatMap(_._2)
    val kinds = Seq("#schema\t", "#ts\t", "#op\t", "#commituuid\t",
      "#txn\t", "#statcols\t", "#check\t", "#bloomcfg\t", "#colmap\t",
      "#ckptevery\t", "#coldrop\t", "#colmapmode\t", "#txnhw\t",
      "#txnseal\t", "#txnretention\t", "#clustercols\t", "#maintain\t",
      "#schemaenforce\t", "#minreader\t", "#feature\t", "#minwriter\t",
      "#writerfeature\t", "#base\t", "#rmfile\t", "#rmdv\t",
      "#rmbloom\t", "#dv\t", "#bloom\t")
    kinds.foreach(k =>
      assert(all.exists(_.startsWith(k)), s"fixture never writes $k"))
    assert(files.exists(!_._2.exists(_.startsWith("#base\t"))) &&
      files.exists(_._2.exists(_.startsWith("#base\t"))),
      "fixture needs both snapshot and delta versions")
    files.foreach { case (name, lines) =>
      val want = golden(name)
      assert(want.isDefined, s"no golden text for $name")
      assert(lines == want.get, s"$name differs from its golden text")
    }
  }
}
