package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.DoubleType

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql("SELECT vec_cosine(a, b)…")`
  * works next to the Column API. Activate with either
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$name must be an int literal, got $other")
  }
  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(s"$name must be a long literal, got $other")
  }

  private def fn(name: String, usage: String)(builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name, usage), builder)

  private def strArg(e: Expression, name: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$name must be a string literal, got $other")
  }

  private def tvf(name: String, usage: String)
                 (builder: PartialFunction[Seq[Expression],
                    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
      : (FunctionIdentifier, ExpressionInfo,
         Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier(name), new ExpressionInfo("graft.connector", name, usage),
      // a wrong argument count must read as a usage error, never a
      // bare scala.MatchError out of the partial builder
      args => builder.applyOrElse(args, (as: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name: wrong number of arguments (${as.size}) — usage: $usage")))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Whole-operator extension: native as-of join (marker → analyzer rule
    // → logical node → strategy → co-partitioned merge exec).
    ext.injectResolutionRule(_ => new graft.plans.AsOfJoinResolution)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // SQL INSERT INTO/OVERWRITE on graft tables become log commits — an
    // analyzer rewrite because relation subclasses don't survive catalog
    // resolution (see GraftInsertRule's docstring)
    ext.injectResolutionRule(_ => new graft.connector.GraftInsertRule)
    // SQL row-level DML (DELETE/UPDATE/MERGE INTO) on graft tables —
    // resolved-plan interception lowered onto copy-on-write log commits
    // (the Delta DeltaAnalysis school; see GraftDmlRule's docstring)
    ext.injectResolutionRule(_ => new graft.connector.GraftDmlRule)
    // unfiltered count(*)/min/max over a fast-path graft relation answer
    // from manifest metadata alone — the plan collapses to a
    // LocalRelation with no scan (the Delta OptimizeMetadataOnlyQuery
    // school; see GraftMetadataAggRule's docstring for the exactness
    // preconditions)
    ext.injectOptimizerRule(_ => new graft.connector.GraftMetadataAggRule)
    // SQL time travel (VERSION AS OF n / 'tag', TIMESTAMP AS OF ts) on
    // graft catalog tables. This MUST ride the hint-resolution batch:
    // ResolveRelations THROWS on V1 time travel in the same iteration it
    // would first see the node, so an extendedResolutionRule (appended
    // after it) never runs — the hints batch precedes resolution
    ext.injectHintResolutionRule(s => new graft.connector.GraftTimeTravelRule(s))
    // spark.readStream.table("cat.t") on graft V2 catalog tables lowers
    // onto the V1 format("graft") source WITH the reader's options (the
    // engine's own V2TableWithV1Fallback path drops them — see the
    // rule's docstring); CDF reads widen the output by the change columns
    ext.injectResolutionRule(s =>
      new org.apache.spark.sql.graftshim.GraftStreamingTableRule(s))
    // batch format("graft") reads of masked / drifted / registry
    // snapshots resolve onto the vectorized V2 scan instead of the
    // DSv1 Row bridge; write and DML targets keep their V1 relation
    // (see GraftV2ReadRule's docstring)
    ext.injectResolutionRule(_ => new graft.connector.GraftV2ReadRule)
    // SQL maintenance statements (OPTIMIZE / VACUUM) — a delegating
    // parser claims the two statements vanilla Spark has no grammar for
    // and lowers them onto compactDir/expireSnapshots (the Delta
    // DeltaSqlParser school; see GraftSqlParser's docstring)
    ext.injectParser((s, p) => new graft.connector.GraftSqlParser(s, p))
    // table-valued introspection over the snapshot log (the DESCRIBE
    // HISTORY / metadata-tables surface, phrased as composable TVFs)
    ext.injectTableFunction(tvf("graft_history",
      "graft_history(path) - snapshot history of a graft table") {
      case Seq(p) => graft.connector.GraftTvf.history(strArg(p, "path"))
    })
    ext.injectTableFunction(tvf("graft_files",
      "graft_files(path[, version]) - live files of a graft snapshot") {
      case Seq(p) => graft.connector.GraftTvf.files(strArg(p, "path"), None)
      case Seq(p, v) => graft.connector.GraftTvf.files(strArg(p, "path"),
        Some(longArg(v, "version")))
    })
    ext.injectTableFunction(tvf("graft_tags",
      "graft_tags(path) - snapshot tags of a graft table") {
      case Seq(p) => graft.connector.GraftTvf.tags(strArg(p, "path"))
    })
    ext.injectTableFunction(tvf("graft_schema_log",
      "graft_schema_log(path) - column-mapping (rename/drop/add) history") {
      case Seq(p) => graft.connector.GraftTvf.schemaLog(strArg(p, "path"))
    })
    ext.injectTableFunction(tvf("graft_epochs",
      "graft_epochs(warehouse) - published cross-table sync epochs") {
      case Seq(p) => graft.connector.GraftTvf.epochs(strArg(p, "warehouse"))
    })
    ext.injectTableFunction(tvf("graft_branches",
      "graft_branches(path) - live branch refs of a graft table") {
      case Seq(p) => graft.connector.GraftTvf.branches(strArg(p, "path"))
    })
    ext.injectTableFunction(tvf("graft_branch",
      "graft_branch(path, name) - read a branch's HEAD state") {
      case Seq(p, n) => graft.connector.GraftTvf.branch(strArg(p, "path"),
        strArg(n, "name"))
    })
    ext.injectTableFunction(tvf("graft_partitions",
      "graft_partitions(path[, column]) - manifest partition listing: " +
        "per (column, value) live files/rows/bytes + exactness") {
      case Seq(p) =>
        graft.connector.GraftTvf.partitions(strArg(p, "path"), None)
      case Seq(p, c) => graft.connector.GraftTvf.partitions(strArg(p, "path"),
        Some(strArg(c, "column")))
    })
    ext.injectTableFunction(tvf("graft_changes",
      "graft_changes(path, from[, to]) - row-level change feed (from, to]") {
      case Seq(p, f) => graft.connector.GraftTvf.changes(strArg(p, "path"),
        longArg(f, "from"), None)
      case Seq(p, f, t) => graft.connector.GraftTvf.changes(strArg(p, "path"),
        longArg(f, "from"), Some(longArg(t, "to")))
    })
    ext.injectFunction(fn("vec_cosine",
      "vec_cosine(a, b) - cosine similarity of two float vectors") {
      case Seq(a, b) => VecCosine(a, b)
    })
    ext.injectFunction(fn("minhash_signature",
      "minhash_signature(hashes[, numHashes, seed]) - MinHash signature of pre-hashed shingles") {
      case Seq(c)       => MinHashSignature(c, 128, 42L)
      case Seq(c, n)    => MinHashSignature(c, intArg(n, "numHashes"), 42L)
      case Seq(c, n, s) => MinHashSignature(c, intArg(n, "numHashes"), longArg(s, "seed"))
    })
    ext.injectFunction(fn("shingle_hashes",
      "shingle_hashes(text[, k]) - distinct xxhash64 set of word k-grams") {
      case Seq(c)     => ShingleHashes(c, 3)
      case Seq(c, kk) => ShingleHashes(c, intArg(kk, "k"))
    })
    ext.injectFunction(fn("shingles",
      "shingles(text[, k]) - distinct word k-gram strings") {
      case Seq(c)     => Shingles(c, 3)
      case Seq(c, kk) => Shingles(c, intArg(kk, "k"))
    })
    ext.injectFunction(fn("simhash64",
      "simhash64(hashes) - 64-bit SimHash of pre-hashed tokens") {
      case Seq(c) => SimHash64(c)
    })
    ext.injectFunction(fn("rolling_hash",
      "rolling_hash(str[, base]) - polynomial rolling-hash fingerprint") {
      case Seq(c)    => RollingHash(c, 1000003L)
      case Seq(c, b) => RollingHash(c, longArg(b, "base"))
    })
    ext.injectFunction(fn("topk_by",
      "topk_by(ord, value, k) - k values with the greatest ord, descending") {
      case Seq(o, v, kk) => TopKByAgg(o, v, intArg(kk, "k"))
    })
    ext.injectFunction(fn("heavy_hitters",
      "heavy_hitters(item, k) - Misra-Gries frequent-item candidates with weights") {
      case Seq(i, kk) => MisraGriesAgg(i, intArg(kk, "k"))
    })
    // numeric args are cast explicitly: ImplicitCastInputTypes'
    // AbstractDataType is private[sql], so the cast lives at this seam
    ext.injectFunction(fn("quantile_sketch",
      "quantile_sketch(x[, k]) - mergeable MRL/KLL quantile sketch over doubles") {
      case Seq(x)     => QuantileSketchAgg(Cast(x, DoubleType), 256)
      case Seq(x, kk) => QuantileSketchAgg(Cast(x, DoubleType), intArg(kk, "k"))
    })
    ext.injectFunction(fn("quantile_merge",
      "quantile_merge(sketch) - union of serialized quantile sketches") {
      case Seq(s) => QuantileMergeAgg(s)
    })
    ext.injectFunction(fn("quantile_value",
      "quantile_value(sketch, q) - rank-q estimate from a quantile sketch") {
      case Seq(s, q) => QuantileValue(s, Cast(q, DoubleType))
    })
    ext.injectFunction(fn("bloom_build",
      "bloom_build(key[, numBits, numHashes]) - bloom bitset over long keys") {
      case Seq(c)       => BloomBuildAgg(c, 1 << 20, 5)
      case Seq(c, b, h) => BloomBuildAgg(c, intArg(b, "numBits"), intArg(h, "numHashes"))
    })
    ext.injectFunction(fn("bloom_might_contain",
      "bloom_might_contain(bloom, key[, numHashes]) - bloom membership probe") {
      case Seq(bf, k)    => BloomMightContain(bf, k, 5)
      case Seq(bf, k, h) => BloomMightContain(bf, k, intArg(h, "numHashes"))
    })
    // args cast to long at the seam: an int literal would otherwise crash
    // interpreted eval (constant folding) while working under codegen
    ext.injectFunction(fn("zvalue",
      "zvalue(x, y[, bits]) - Morton/Z-order bit interleave of two longs") {
      case Seq(x, y) =>
        ZValue(Cast(x, org.apache.spark.sql.types.LongType),
          Cast(y, org.apache.spark.sql.types.LongType), 8)
      case Seq(x, y, bb) =>
        ZValue(Cast(x, org.apache.spark.sql.types.LongType),
          Cast(y, org.apache.spark.sql.types.LongType), intArg(bb, "bits"))
    })
    ext.injectFunction(fn("cms_merge",
      "cms_merge(sketch) - exact union of serialized count-min sketches") {
      case Seq(s) => CmsMergeAgg(s)
    })
    ext.injectFunction(fn("cms_estimate",
      "cms_estimate(sketch, item) - point-frequency estimate from a count-min sketch") {
      case Seq(s, i) => CmsEstimate(s, i)
    })
    ext.injectFunction(fn("big_endian_decimal",
      "big_endian_decimal(bytes[, precision, scale]) - Debezium precise-decimal decode") {
      case Seq(c)       => BigEndianDecimal(c, 10, 2)
      case Seq(c, p, s) => BigEndianDecimal(c, intArg(p, "precision"), intArg(s, "scale"))
    })
  }
}
