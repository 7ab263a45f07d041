package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** SQL surface for the native graft expressions, registered through the
  * sanctioned `SparkSessionExtensions` path:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions") // owns its context
  *     // or .withExtensions(new GraftExtensions)  // any builder
  *     ...
  *   // NOTE the conf form is a STATIC conf, read from the SparkContext
  *   // when the first session is built — on a pre-existing context use
  *   // withExtensions. Extensions bind at session build either way; on
  *   // an already-built session use the DataFrame API (graft.functions.*).
  *
  *   spark.sql("SELECT graft_simhash32(graft_shingle_hashes(text, 3)) ...")
  * }}}
  *
  * Every function resolves to the SAME codegen'd `Expression` the
  * DataFrame API uses — SQL users get identical semantics and identical
  * plans (no wrapper, no UDF). Integer parameters (shingle width, k,
  * planes) must be foldable literals: they parameterize generated code,
  * so a per-row value has no meaning.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        safeBuilder(name, builder)))
    }
    // SQL surface of the versioned lake: reads (incl. VERSION AS OF)
    // and INSERT/DELETE/UPDATE/MERGE against [[graft.sql.GraftCatalog]]
    // tables resolve to the same Versioned operators the Scala API
    // calls. Injected into the main resolution batch so the rule
    // claims the plans before Spark's V2 row-level rewrites and
    // capability checks would reject them.
    ext.injectResolutionRule(session => graft.sql.GraftSqlRule(session))
    // Table-valued functions over the lake — the products that are
    // PLANS, not rows: the row-level change feed is delta-sized and
    // must stay a distributed scan (a CALL procedure's LocalScan
    // channel would collect it to the driver), and history-as-a-table
    // lets SQL join/filter the audit log. Arguments are literals; the
    // target is a table directory or a 'catalog.db.t' name resolved
    // through the session's V2 catalogs.
    tableFunctions.foreach { case (name, builder) =>
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        // applyOrElse: ONLY an arity mismatch (the pattern itself)
        // maps to the arity message — a MatchError raised deep inside
        // the builder body (e.g. changesBetween) propagates verbatim
        // instead of masquerading as a wrong-argument-count error
        args => builder.applyOrElse(args,
          (a: Seq[Expression]) => throw new IllegalArgumentException(
            s"invalid number of arguments for table function $name: " +
              s"got ${a.length}; see graft.GraftExtensions"))))
    }
  }
}

object GraftExtensions {

  /** The builders below are partial functions on argument count; a raw
    * `scala.MatchError` is useless to a SQL user, so wrap each one to
    * surface a named invalid-arity error instead. `applyOrElse` keys
    * the arity message off the PATTERN alone — a MatchError raised
    * inside a builder's body propagates verbatim rather than being
    * mis-reported as a wrong argument count.
    */
  private def safeBuilder(name: String,
      builder: PartialFunction[Seq[Expression], Expression])
      : Seq[Expression] => Expression =
    args => builder.applyOrElse(args,
      (a: Seq[Expression]) => throw new IllegalArgumentException(
        s"invalid number of arguments for function $name: got " +
          s"${a.length}; see graft.GraftExtensions for the signature"))

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  /** name → builder; shared by [[GraftExtensions.apply]] and tests. */
  val functions: Seq[(String, PartialFunction[Seq[Expression], Expression])] = Seq(
    "graft_poly_hash" -> { case Seq(s) => PolyHashExpr(s) },
    "graft_norm_fingerprint" -> { case Seq(s) => NormFingerprintExpr(s) },
    "graft_shingle_hashes" -> {
      case Seq(s) => ShingleHashesExpr(s, 3)
      case Seq(s, n) => ShingleHashesExpr(s, intLit(n, "shingle width"))
    },
    "graft_char_shingle_hashes" -> {
      case Seq(s) => CharShingleHashesExpr(s, 5)
      case Seq(s, n) => CharShingleHashesExpr(s, intLit(n, "shingle width"))
    },
    "graft_segment_hashes" -> {
      case Seq(s) => SegmentHashesExpr(s, 20)
      case Seq(s, n) => SegmentHashesExpr(s, intLit(n, "segment size"))
    },
    "graft_minhash_sig" -> {
      case Seq(h) => MinHashSigExpr(h, 16)
      case Seq(h, k) => MinHashSigExpr(h, intLit(k, "signature size"))
    },
    "graft_simhash32" -> { case Seq(h) => SimHash32Expr(h) },
    "graft_char_jaccard" -> {
      case Seq(a, b) => CharJaccardExpr(a, b, 5)
      case Seq(a, b, n) => CharJaccardExpr(a, b, intLit(n, "ngram width"))
    },
    "graft_cosine" -> { case Seq(a, b) => CosineSimExpr(a, b) },
    "graft_dot" -> { case Seq(a, b) => DotExpr(a, b) },
    "graft_qdot" -> { case Seq(a, b) => QDotExpr(a, b) },
    "graft_quantize_int8" -> { case Seq(v) => QuantizeInt8Expr(v) },
    "graft_random_project" -> {
      case Seq(v, d) => RandomProjectExpr(v, intLit(d, "output dims"), 7)
      case Seq(v, d, s) => RandomProjectExpr(v, intLit(d, "output dims"),
        intLit(s, "seed"))
    },
    "graft_lsh_bucket" -> {
      case Seq(v) => LshBucketExpr(v, 8)
      case Seq(v, p) => LshBucketExpr(v, intLit(p, "plane count"))
    },
    // Aggregate: wrapped into an AggregateExpression here — an injected
    // builder's result is used as-is (unlike built-in registry entries,
    // which the analyzer wraps), so a bare AggregateFunction would reach
    // codegen unwrapped and fail.
    "graft_top_k" -> {
      case Seq(score, item, k) =>
        TopKByScore(score, item, intLit(k, "k")).toAggregateExpression()
    },
    "graft_misra_gries" -> {
      case Seq(item, capacity) =>
        MisraGries(item, intLit(capacity, "capacity")).toAggregateExpression()
    },
    "graft_bloom_sketch" -> {
      case Seq(item, n, fpp) =>
        BloomSketch(item, longLit(n, "expectedItems"),
          doubleLit(fpp, "fpp")).toAggregateExpression()
    },
    // The deterministic-sampling hash family in SQL. Built directly in
    // Catalyst (a Column-composed tree can't be injected: in Spark 4 the
    // Column API builds backend-neutral ColumnNodes whose UnresolvedF.
    // children are not re-resolved inside a function builder's output):
    // affine-with-folded-constants over the native PolyHashExpr, which
    // tests pin bit-identical to the HOF form the Scala API composes.
    "graft_sample_hash" -> { case Seq(s) => seededHashExpr(7, s) },
    "graft_seeded_hash" -> { case Seq(s, seed) =>
      seededHashExpr(intLit(seed, "seed"), s)
    },
    "graft_count_substr" -> { case Seq(s, sub) =>
      CountSubstrExpr(s, strLit(sub, "substring"))
    },
    // merge list as one literal: comma-separated space-separated pairs,
    // in application order — 't a,l e,b le,ta ble'
    "graft_bpe_encode" -> { case Seq(s, m) =>
      val merges = strLit(m, "merge list").split(",").toSeq.map { pair =>
        pair.split(" ") match {
          case Array(a, b) if a.nonEmpty && b.nonEmpty => Seq(a, b)
          case _ => throw new IllegalArgumentException(
            s"graft_bpe_encode: each merge must be 'a b', got: '$pair'")
        }
      }.flatten
      BpeEncodeExpr(s, merges)
    })

  /** name → plan builder for the lake's table-valued functions.
    *
    *  - `graft_table_changes(target, from, to, 'k1,k2')` — the
    *    row-level change feed over `(from, to]`
    *    ([[graft.lake.Versioned.changesBetween]]): table columns plus
    *    `_change_type` / `_commit_version`, AS A DISTRIBUTED PLAN —
    *    appends contribute pure scans of their new files, cost
    *    O(delta) however large the table.
    *  - `graft_history(target)` — the audit log as a queryable table.
    *
    * `target`: a table directory path (contains `/`) or a
    * `'catalog.db.t'` name resolved through the session's registered
    * V2 catalogs (the catalog must be a [[graft.sql.GraftCatalog]]).
    * The plan is built at analysis time from the manifests — the
    * same eager shape `Versioned` gives Scala callers.
    */
  val tableFunctions: Seq[(String, PartialFunction[Seq[Expression],
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])] = Seq(
    "graft_table_changes" -> { case Seq(t, from, to, keys) =>
      val spark = org.apache.spark.sql.SparkSession.active
      val dir = resolveTargetDir(spark, strLit(t, "target table"))
      // version bounds (int literals) or INSTANT bounds (string
      // literals — Delta's table_changes-by-timestamp): the feed of
      // every commit whose recorded #ts lies in [from, to]. Bounds
      // must not mix kinds. Resolution is the streaming source's:
      // the lower bound anchors at the first commit at-or-after the
      // instant, the upper
      // at the newest commit at-or-before it.
      val isInstant = (e: Expression) => e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(_,
          org.apache.spark.sql.types.StringType) => true
        case _ => false
      }
      val versionForm = !isInstant(from) && !isInstant(to)
      val (fromV, toV) =
        if (isInstant(from) || isInstant(to)) {
          require(isInstant(from) && isInstant(to),
            "graft_table_changes bounds must both be versions (int) " +
              "or both instants (string)")
          val loMs = graft.lake.Versioned.parseInstantMillis(
            strLit(from, "from instant"))
          val hiMs = graft.lake.Versioned.parseInstantMillis(
            strLit(to, "to instant"))
          require(loMs <= hiMs,
            s"graft_table_changes: from instant $loMs is after to " +
              s"instant $hiMs")
          val lo = graft.lake.Versioned
            .versionAtOrAfterInstant(spark, dir, loMs)
          val hi = graft.lake.Versioned
            .versionAsOfTimestamp(spark, dir, hiMs * 1000L)
            .getOrElse(throw new IllegalArgumentException(
              s"no version of $dir was committed at or before " +
                strLit(to, "to instant")))
          // a lower instant past the head names an empty window —
          // (head, head] feeds nothing, matching the batch-CDF shape
          (lo.map(_ - 1).getOrElse(hi), hi)
        } else
          (intLit(from, "fromVersion"), intLit(to, "toVersion"))
      val keyCols = strLit(keys, "key columns").split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq
      // an instant anchored AT the retention floor (floor > 0) has no
      // pre-image: floor-1 is expired, so changesBetween(floor-1, …)
      // would throw "version not found" — the floor-anchoring promise
      // instead renders the floor's full content as inserts (it IS
      // the first state visible in the window), mirroring the
      // below-v0 branch; version-form callers named floor-1
      // explicitly and keep the loud refusal.
      val floorAnchor: Option[Int] =
        if (fromV < 0) Some(0)
        else if (!versionForm && graft.lake.Versioned
            .oldestRetainedVersion(spark, dir).contains(fromV + 1))
          Some(fromV + 1)
        else None
      import org.apache.spark.sql.functions.lit
      val feed = floorAnchor match {
        case Some(f) =>
          val vf = graft.lake.Versioned.read(spark, dir, Some(f))
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(f))
          if (toV > f) vf.unionByName(graft.lake.Versioned
            .changesBetween(spark, dir, f, toV, keyCols))
          else vf
        case None =>
          graft.lake.Versioned.changesBetween(spark, dir, fromV, toV,
            keyCols)
      }
      feed.queryExecution.analyzed
    },
    "graft_history" -> { case Seq(t) =>
      val spark = org.apache.spark.sql.SparkSession.active
      graft.lake.Versioned.history(spark,
          resolveTargetDir(spark, strLit(t, "target table")))
        .queryExecution.analyzed
    })

  /** A TVF target string → the table directory: a path stays a path;
    * `catalog.db.t` resolves through the session's V2 catalogs. */
  private def resolveTargetDir(spark: org.apache.spark.sql.SparkSession,
      target: String): String =
    if (target.contains("/")) target
    else target.split('.') match {
      case parts if parts.length >= 2 && parts.forall(_.nonEmpty) =>
        org.apache.spark.sql.graftbridge.ColumnBridge
          .v2Catalog(spark, parts.head) match {
          case g: graft.sql.GraftCatalog =>
            val ident =
              org.apache.spark.sql.connector.catalog.Identifier.of(
                parts.tail.init, parts.last)
            require(g.tableExists(ident),
              s"table '$target' not found in catalog ${parts.head}")
            g.tableDir(ident)
          case other => throw new IllegalArgumentException(
            s"catalog '${parts.head}' is not a graft catalog: " +
              other.getClass.getName)
        }
      case _ => throw new IllegalArgumentException(
        s"bad target '$target': expected a table directory path or " +
          "'catalog.db.t'")
    }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toLong
    case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integral literal, got: $other")
  }

  private def doubleLit(e: Expression, what: String): Double = e match {
    case Literal(v: Double, org.apache.spark.sql.types.DoubleType) => v
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got: $other")
  }

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String,
        org.apache.spark.sql.types.StringType) =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got: $other")
  }

  private def seededHashExpr(seed: Int, s: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Multiply, Remainder}
    val p = graft.functions.PortableHash.P
    val a = (seed.toLong * 40503L + 17L) % p
    val b = (seed.toLong * 97L + 1L) % p
    // ((a·polyHash(s)) mod P + b) mod P — products stay ≤ ~2^60
    Remainder(
      Add(Remainder(Multiply(Literal(a), PolyHashExpr(s)), Literal(p)),
        Literal(b)),
      Literal(p))
  }
}
