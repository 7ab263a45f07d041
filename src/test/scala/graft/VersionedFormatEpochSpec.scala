package graft

import graft.lake.Versioned

/** The format epoch (docs/FORMAT.md): every manifest carries `#schema`,
  * `#ts` and `#txnseal\t1`, and every checkpoint sidecar ends in a
  * valid `#eof` trailer. Each case below is a fresh table with ONE of
  * those markers taken away — the shape an earlier release wrote — and
  * each must be refused by name, never read through a fallback.
  */
class VersionedFormatEpochSpec extends SparkSuite {
  import spark.implicits._

  private def manifest(dir: String, v: Int): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "_manifest", f"v$v%05d.txt")

  private def rewrite(p: java.nio.file.Path)(
      f: List[String] => List[String]): Unit = {
    val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toList
      finally src.close()
    java.nio.file.Files.write(p,
      f(lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }

  /** `body` fails, and some cause names the epoch and `what`. */
  private def refuses(what: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(m => m.contains("predates the graft format epoch") &&
          m.contains(what))),
      e.getMessage)
  }

  private def commitRows(dir: String, n: Int): Unit =
    for (i <- 0 until n)
      Versioned.commit(spark, dir, Seq((i.toLong, s"r$i")).toDF("id", "s"))

  for (marker <- Seq("#ts", "#schema", "#txnseal"))
    test(s"a manifest without $marker predates the format epoch: " +
        "reads, header-only reads and commits refuse it by name") {
      val dir = tmpDir() + "/no-" + marker.drop(1)
      commitRows(dir, 3)                                   // v0..v2
      rewrite(manifest(dir, 2))(_.filterNot(_.startsWith(marker + "\t")))
      refuses(s"v2 predates the graft format epoch (no $marker)") {
        Versioned.read(spark, dir).count()                 // full read
      }
      refuses(s"(no $marker)") {
        Versioned.txnHighWater(spark, dir, "app")          // header only
      }
      refuses(s"(no $marker)") {
        Versioned.commit(spark, dir, Seq((9L, "x")).toDF("id", "s"))
      }
      // the refusal is per version: the untouched history still reads
      assert(Versioned.read(spark, dir, Some(1)).count() == 2)
    }

  test("a delta version whose chain is expired and whose checkpoint " +
      "sidecar has no #eof predates the format epoch") {
    val dir = tmpDir() + "/no-eof"
    commitRows(dir, 4)                                     // v0..v3
    assert(Versioned.checkpointManifest(spark, dir),
      "fixture wants a delta head to fold")
    rewrite(java.nio.file.Paths.get(dir, "_manifest", "v00003.ckpt.txt"))(
      _.filterNot(_.startsWith("#eof\t")))
    // with the chain intact the delta chain still answers
    assert(Versioned.read(spark, dir).count() == 4)
    for (v <- 0 until 3) java.nio.file.Files.delete(manifest(dir, v))
    refuses("v3 predates the graft format epoch (its delta chain is " +
        "expired") {
      Versioned.read(spark, dir).count()
    }
  }
}
