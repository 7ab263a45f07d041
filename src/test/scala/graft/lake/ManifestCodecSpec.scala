package graft.lake

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import ManifestCodec.{Manifest, RawNode}

/** Properties of the manifest codec over generated states covering
  * every [[Manifest]] field: text with tabs, `%`, `+`, non-ASCII and
  * line breaks wherever the format encodes it, `#txnhw` entries with
  * and without an instant, sidecar sizes present and absent.
  *  - `parse(render(m)) == m`, up to the two things a render derives:
  *    `#op` line breaks flatten to spaces, and the writer gate is
  *    derived from state;
  *  - the delta of `(parent, m)` applied to `parent` gives `m`;
  *  - the snapshot-or-delta choice is `deltaN * 2 > fullN`.
  */
class ManifestCodecSpec extends AnyFunSuite {

  private def check(prop: Prop, n: Int = 300): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  // text pieces the format must carry through its encodings
  private val piece: Gen[String] = Gen.oneOf("a", "Z", "0", "_", "\t",
    "%", "%09", "+", " ", "é", "中", "😀", "\n", "\r", "#",
    "~b1", "=", "-")
  private val text: Gen[String] =
    Gen.listOf(piece).map(_.take(6).mkString)
  private val nonEmptyText: Gen[String] =
    Gen.nonEmptyListOf(piece).map(_.take(6).mkString)
  private val ident: Gen[String] = for {
    h <- Gen.alphaChar
    t <- Gen.listOfN(3, Gen.alphaNumChar)
  } yield (h +: t).mkString
  private def small[A](g: Gen[A]): Gen[List[A]] =
    Gen.choose(0, 3).flatMap(Gen.listOfN(_, g))
  private def distinctSmall[A](g: Gen[A]): Gen[List[A]] =
    small(g).map(_.distinct)

  private val rel: Gen[String] = for {
    c <- Gen.choose(0, 99999)
    p <- Gen.choose(0, 9)
  } yield s"data/c-$c/part-$p.parquet"
  private def line(r: String): Gen[String] = for {
    mn <- Gen.choose(-5L, 5L)
    mx <- Gen.choose(5L, 9L)
    rows <- Gen.option(Gen.choose(0L, 99L))
    size <- Gen.option(Gen.choose(1L, 9999L))
  } yield s"$r\tid\t$mn\t$mx" + rows.map(n => s"\t~r$n").getOrElse("") +
    size.map(n => s"\t~b$n").getOrElse("")
  private val dvPair: Gen[(String, String)] = Gen.zip(rel, rel)
  private val bloomPtr: Gen[(String, String, String)] =
    Gen.zip(rel, ident, rel)
  /** Sizes for SOME of `rels`: the `~b` tail is optional. */
  private def sizesFor(rels: Seq[String]): Gen[Map[String, Long]] =
    Gen.sequence[List[Option[(String, Long)]], Option[(String, Long)]](
      rels.map(r => Gen.option(Gen.choose(1L, 99999L).map(r -> _))))
      .map(_.flatten.toMap)

  private val schema: Gen[StructType] =
    Gen.nonEmptyListOf(Gen.zip(nonEmptyText, Gen.oneOf(LongType,
      StringType), Gen.oneOf(true, false))).map { fs =>
      StructType(fs.take(3).zipWithIndex.map { case ((n, t, nl), i) =>
        StructField(s"$n$i", t, nl) })
    }

  /** Every header field, and no data. */
  private val headers: Gen[Manifest] = for {
    sc <- schema
    txn <- Gen.option(Gen.zip(nonEmptyText, Gen.choose(0L, Long.MaxValue)))
    checks <- small(Gen.zip(nonEmptyText, nonEmptyText))
    op <- Gen.option(text)
    bloomCfg <- distinctSmall(Gen.zip(ident, Gen.choose(1L, 1L << 40),
      Gen.choose(1e-6, 0.999)))
    statCols <- distinctSmall(nonEmptyText)
    ts <- Gen.choose(Long.MinValue, Long.MaxValue)
    uuid <- Gen.option(Gen.uuid.map(_.toString))
    colMap <- distinctSmall(Gen.zip(nonEmptyText, nonEmptyText)
      .suchThat(e => e._1 != e._2))
    ckptEvery <- Gen.option(Gen.choose(1, 50))
    colDrops <- distinctSmall(text)
    colMapMode <- Gen.option(Gen.const("id"))
    txnHw <- small(Gen.zip(nonEmptyText, Gen.choose(0L, Long.MaxValue),
      Gen.option(Gen.choose(0L, Long.MaxValue))))
    cluster <- distinctSmall(nonEmptyText)
    retention <- Gen.option(Gen.choose(1L, Long.MaxValue))
    enforce <- Gen.oneOf(true, false)
    maintain <- small(Gen.zip(nonEmptyText, nonEmptyText))
  } yield Manifest(sc, txn, checks, Nil, op = op, bloomCfg = bloomCfg,
    statColsPolicy = statCols, ts = ts, commitUuid = uuid,
    colMap = colMap, ckptEvery = ckptEvery, colDrops = colDrops,
    colMapMode = colMapMode, txnHw = txnHw, clusterCols = cluster,
    txnRetention = retention, schemaEnforce = enforce,
    maintain = maintain)

  /** A full state: headers plus uniquely-keyed lines, DV pairs and
    * bloom pointers, with sizes for some of the sidecars. */
  private val manifest: Gen[Manifest] = for {
    h <- headers
    rels <- distinctSmall(rel)
    lines <- Gen.sequence[List[String], String](rels.map(line))
    dvs <- distinctSmall(dvPair)
    blooms <- distinctSmall(bloomPtr)
    dvSizes <- sizesFor(dvs.map(_._2))
    bloomSizes <- sizesFor(blooms.map(_._3))
  } yield h.copy(lines = lines, dvs = dvs, blooms = blooms,
    dvSizes = dvSizes, bloomSizes = bloomSizes)

  /** A commit's next state over `p`: fresh headers; `p`'s lines, DV
    * pairs and bloom pointers with some dropped, some lines rewritten
    * (same rel, new text) and new ones appended — the shape every
    * commit publishes. */
  private def child(p: Manifest): Gen[Manifest] = for {
    h <- headers
    keep <- Gen.listOfN(p.lines.size, Gen.oneOf(0, 1, 2))
    rewritten <- Gen.sequence[List[String], String](
      p.lines.zip(keep).collect { case (l, 2) => line(ManifestCodec.relOf(l)) })
    fresh <- distinctSmall(rel.suchThat(r =>
      !p.lines.exists(ManifestCodec.relOf(_) == r)))
    freshLines <- Gen.sequence[List[String], String](fresh.map(line))
    keepDv <- Gen.listOfN(p.dvs.size, Gen.oneOf(true, false))
    newDvs <- distinctSmall(dvPair.suchThat(d => !p.dvs.contains(d)))
    keepBloom <- Gen.listOfN(p.blooms.size, Gen.oneOf(true, false))
    newBlooms <- distinctSmall(bloomPtr.suchThat(b => !p.blooms.contains(b)))
    dvSizes <- sizesFor(newDvs.map(_._2))
    bloomSizes <- sizesFor(newBlooms.map(_._3))
  } yield h.copy(
    lines = p.lines.zip(keep).collect { case (l, 1) => l } ++
      rewritten.filterNot(p.lines.contains) ++ freshLines,
    dvs = p.dvs.zip(keepDv).collect { case (d, true) => d } ++ newDvs,
    blooms = p.blooms.zip(keepBloom).collect { case (b, true) => b } ++
      newBlooms,
    dvSizes = p.dvSizes ++ dvSizes, bloomSizes = p.bloomSizes ++ bloomSizes)

  /** What a parse of `m`'s rendering must give: `#op` line breaks
    * flattened, the writer gate derived from state. */
  private def expected(m: Manifest): Manifest = {
    val writer = ManifestCodec.requiredWriterFeatures(m).sorted
    m.copy(op = m.op.map(_.replaceAll("[\\n\\r]", " ")),
      writerFeatures = writer,
      minWriter = if (writer.isEmpty) None else Some(2))
  }

  /** Render to bytes and read them back the way a reader does. */
  private def roundTrip(m: Manifest,
      delta: Option[RawNode] = None): RawNode = {
    val bytes = ManifestCodec.render(m, delta)
      .mkString("", "\n", "\n").getBytes("UTF-8")
    val raw = scala.io.Source.fromBytes(bytes, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    ManifestCodec.parse(raw, "t", 0)
  }

  test("parse(render(m)) == m for every field of a snapshot") {
    check(Prop.forAll(manifest) { m =>
      val node = roundTrip(m)
      node.base.isEmpty && node.rmFiles.isEmpty && node.rmDvs.isEmpty &&
        node.rmBlooms.isEmpty && node.m == expected(m)
    })
  }

  test("a delta of (parent, m) applied to parent gives m, and the " +
      "delta is written only when deltaN * 2 <= fullN") {
    val pairs = for {
      p <- manifest
      depth <- Gen.choose(0, 8)
      m <- child(p.copy(chainDepth = depth))
    } yield (p.copy(chainDepth = depth), m)
    // the generator must reach both outcomes of the choice
    val choices = Iterator.continually(pairs.sample).flatten.take(500)
      .map { case (p, m) => ManifestCodec.encodeDelta(p, 41, m).isDefined }
      .toSet
    assert(choices == Set(true, false), choices)
    check(Prop.forAll(pairs) { case (p, m) =>
      val deltaN = m.lines.count(l => !p.lines.contains(l)) +
        p.lines.count(l => !m.lines.contains(l)) +
        m.dvs.count(d => !p.dvs.contains(d)) +
        p.dvs.count(d => !m.dvs.contains(d)) +
        m.blooms.count(b => !p.blooms.contains(b)) +
        p.blooms.count(b => !m.blooms.contains(b))
      val fullN = m.lines.size + m.dvs.size + m.blooms.size
      ManifestCodec.encodeDelta(p, 41, m) match {
        case None => deltaN * 2 > fullN
        case Some(d) =>
          val node = roundTrip(m, Some(d))
          deltaN * 2 <= fullN &&
            node.base.contains((41, p.chainDepth + 1)) &&
            ManifestCodec.applyDelta(p, node) ==
              expected(m).copy(chainDepth = p.chainDepth + 1)
      }
    })
  }
}
