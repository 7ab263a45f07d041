package graft

import graft.lake.Versioned

/** The CDC apply's NULL-key contract: `idempotentMergeCdc` merges on
  * SQL equality, so a NULL-keyed row would match nothing and insert
  * again on every later batch, where `ChangeApply.compactLog` keeps
  * one winner for the NULL key. The apply refuses such a row instead,
  * naming the key column, and publishes nothing.
  */
class VersionedCdcNullKeySpec extends SparkSuite {
  import spark.implicits._

  private def batch(rows: (Option[Long], Long, String, String)*) =
    rows.toDF("id", "seq", "op", "v")

  private def apply(dir: String, rows: Seq[(Option[Long], Long,
      String, String)], batchId: Long): Option[Int] =
    Versioned.idempotentMergeCdc(spark, dir, batch(rows: _*), Seq("id"),
      Seq("seq"), "op", "D", "cdc-app", batchId)

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString("\n")

  test("a NULL CDC key fails its batch naming the key column, on the " +
      "first commit and on a merge into an existing table") {
    val dir = tmpDir() + "/cdc-null"
    val first = intercept[Exception](apply(dir,
      Seq((None, 1L, "U", "a"), (Some(1L), 1L, "U", "x")), 0L))
    assert(messages(first).contains("CDC key column 'id' is NULL"),
      messages(first))
    assert(Versioned.latestVersion(spark, dir).isEmpty,
      "the refused batch must publish nothing")
    assert(apply(dir, Seq((Some(1L), 1L, "U", "x")), 0L).contains(0))
    val later = intercept[Exception](
      apply(dir, Seq((None, 2L, "U", "b")), 1L))
    assert(messages(later).contains("CDC key column 'id' is NULL"),
      messages(later))
    assert(Versioned.latestVersion(spark, dir).contains(0))
    assert(Versioned.read(spark, dir).as[(Option[Long], Long, String,
      String)].collect().toSeq == Seq((Some(1L), 1L, "U", "x")))
  }
}
