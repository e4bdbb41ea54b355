package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.execution.SparkStrategy

/** Session extension registering graft's SQL functions and planner
  * strategies — enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`. For a session that already
  * exists (e.g. one handed to SparkEntry.queries by a driver),
  * `GraftExtensions.register(spark)` injects the same functions and the
  * DML strategy imperatively, and `GraftExtensions.registerLocalScan(spark)`
  * adds the local scan.
  *
  * The local scan, `GraftLocalScan`, answers a small graft row scan on
  * the driver: when the chunks that plan-time pruning keeps decode to at
  * most 4 MiB (`GraftLocalScan.MaxDecodedBytes`), a point lookup's
  * `collect` runs no Spark job. Without the extension or
  * `registerLocalScan`, every graft scan runs as a distributed
  * `BatchScanExec`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), GraftExtensions.info(name), builder))
    }
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {
  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft", name)

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "fsst_compress" -> { args: Seq[Expression] => FsstCompressExpr(args.head) },
    "fsst_decompress" -> { args: Seq[Expression] => FsstDecompressExpr(args.head) },
    "rle_encode" -> { args: Seq[Expression] => RleEncodeExpr(args.head) },
    "rle_decode" -> { args: Seq[Expression] => RleDecodeExpr(args.head) },
    "zlib_block" -> { args: Seq[Expression] => ZlibBlockExpr(args.head) },
    "zlib_unblock" -> { args: Seq[Expression] => ZlibUnblockExpr(args.head) },
    "zstd_block" -> { args: Seq[Expression] => ZstdBlockExpr(args.head) },
    "zstd_unblock" -> { args: Seq[Expression] => ZstdUnblockExpr(args.head) },
    "lz4_block" -> { args: Seq[Expression] => Lz4BlockExpr(args.head) },
    "lz4_unblock" -> { args: Seq[Expression] => Lz4UnblockExpr(args.head) },
    "cosine_similarity" -> { args: Seq[Expression] => CosineSimilarity(args(0), args(1)) },
    "bloom_agg" -> { args: Seq[Expression] =>
      BloomAgg(args.head,
        if (args.length > 1) intLit(args, 1, "expected") else BloomAgg.DefaultExpected)
        .toAggregateExpression() },
    "bloom_contains" -> { args: Seq[Expression] => BloomContains(args(0), args(1)) },
    // minhash_signature(text, k, shingleSize) / hyperplane_bucket(vec, planes, table):
    // int args must be foldable literals — the plane/width choices shape the
    // expression tree itself
    "minhash_signature" -> { args: Seq[Expression] =>
      MinHashSignature(args(0), intLit(args, 1, "k"), intLit(args, 2, "shingleSize")) },
    "hyperplane_bucket" -> { args: Seq[Expression] =>
      HyperplaneBucket(args(0), intLit(args, 1, "planes"),
        if (args.length > 2) intLit(args, 2, "table") else 0) },
    "ngram_jaccard" -> { args: Seq[Expression] =>
      NgramJaccard(args(0), args(1),
        if (args.length > 2) intLit(args, 2, "k") else 3) },
    "zorder_key" -> { args: Seq[Expression] =>
      ZOrderKey(args, ZOrderKey.fullRange(args.size)) },
  )

  private def intLit(args: Seq[Expression], i: Int, name: String): Int = args(i) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"argument $name must be an integer literal, got $other")
  }

  /** The planner strategies; each claims only graft plans. */
  val strategies: Seq[SparkStrategy] = Seq(
    // SQL UPDATE / DELETE / MERGE INTO on graft tables
    org.apache.spark.sql.graftdml.GraftDmlStrategy,
    // small row scans answered on the driver
    graft.spark.source.GraftLocalScan)

  /** Imperative registration into an existing session (idempotent):
    * SQL functions plus the DML planner strategy (extraStrategies run
    * before built-ins, so UPDATE/MERGE on graft tables plan here instead
    * of hitting UNSUPPORTED_FEATURE.TABLE_OPERATION). The local scan is
    * not part of it (`registerLocalScan`).
    */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, name, info(name), builder)
    }
    addStrategy(spark, org.apache.spark.sql.graftdml.GraftDmlStrategy)
  }

  /** Adds `GraftLocalScan` to an existing session (idempotent), ahead of
    * the stock V2 strategy that plans a `BatchScanExec`. Kept out of
    * `register`, which callers run on a shared session for the SQL
    * surface: SparkEntry's queries do, one of them reads its scan's sort
    * claim from the `BatchScanExec` in the plan, and the rest would plan
    * differently depending on which query registered first.
    */
  def registerLocalScan(spark: SparkSession): Unit =
    addStrategy(spark, graft.spark.source.GraftLocalScan)

  private def addStrategy(spark: SparkSession, s: SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(s))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ s
}
