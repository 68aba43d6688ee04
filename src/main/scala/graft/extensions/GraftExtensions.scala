package graft.extensions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.expressions.{CosineSimilarity, HyperplaneSignature, LangIdNgram, ShingleHashes, ShingleStrings, SimHash64, SparseDotProduct, TokenCount, WsTokens}

/** Session wiring for the engine's native expressions.
  *
  * Two ways in:
  * - config: `spark.sql.extensions=graft.extensions.GraftExtensions`
  *   (injected at session build, survives `spark.sql(...)` everywhere)
  * - runtime: `GraftExtensions.register(spark)` on an existing session.
  *
  * After either, `cosine_sim(a, b)` resolves in SQL text and via
  * [[GraftExtensions.cosine_sim]] in the DataFrame API. Only the config
  * path installs the adaptive runtime rule
  * [[graft.plans.SmallSortSinglePartition]]: Spark has no hook that adds
  * one to a session already built.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineSimDescriptor)
    ext.injectFunction(GraftExtensions.hyperplaneSigDescriptor)
    ext.injectFunction(GraftExtensions.langIdNgramDescriptor)
    ext.injectFunction(GraftExtensions.langStatsDescriptor)
    ext.injectFunction(GraftExtensions.shingleStringsDescriptor)
    ext.injectFunction(GraftExtensions.shingleHashesDescriptor)
    ext.injectFunction(GraftExtensions.sparseDotDescriptor)
    ext.injectFunction(GraftExtensions.wsTokensDescriptor)
    ext.injectFunction(GraftExtensions.tokenCountDescriptor)
    ext.injectFunction(GraftExtensions.simHash64Descriptor)
    ext.injectFunction(GraftExtensions.bloomAggDescriptor)
    ext.injectFunction(GraftExtensions.mightContainDescriptor)
    ext.injectFunction(GraftExtensions.zorder2Descriptor)
    ext.injectFunction(GraftExtensions.zorderNDescriptor)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.RowNumberTopKRewrite)
    ext.injectRuntimeOptimizerRule(_ => graft.plans.SmallSortSinglePartition)
  }
}

object GraftExtensions {

  /** Arity-checked builder shared by BOTH registration paths (extension
    * injection and runtime register) — `cosine_sim(a)` must die with a clear
    * require message, not an IndexOutOfBoundsException.
    */
  private val cosineSimBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "cosine_sim expects exactly 2 array arguments")
    CosineSimilarity(asDoubleArray(exprs.head), asDoubleArray(exprs(1)))
  }

  private[extensions] val cosineSimDescriptor =
    (new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      cosineSimBuilder)

  /** `hyperplane_sig(vec, dim, bits, seed)`: dim/bits/seed parameterize the
    * deterministic hyperplane generation (model state baked into the
    * expression, not per-row data), so they must be integer literals.
    */
  private val hyperplaneSigBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 4, "hyperplane_sig expects (vec, dim, bits, seed)")
    def intLit(e: Expression, name: String): Long = e match {
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case other => throw new IllegalArgumentException(
        s"hyperplane_sig: $name must be an integer literal, got $other")
    }
    HyperplaneSignature(asDoubleArray(exprs.head),
      intLit(exprs(1), "dim").toInt, intLit(exprs(2), "bits").toInt, intLit(exprs(3), "seed"))
  }

  private[extensions] val hyperplaneSigDescriptor =
    (new FunctionIdentifier("hyperplane_sig"),
      new ExpressionInfo(classOf[HyperplaneSignature].getName, "hyperplane_sig"),
      hyperplaneSigBuilder)

  /** `lang_id_ngram(text)`: the profile map (the model state) is the
    * engine's fixed [[graft.functions.TextFunctions.NgramProfiles]] in
    * tie-break order en > de > es > fr.
    */
  private val langIdNgramBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1, "lang_id_ngram expects exactly 1 string argument")
    LangIdNgram(exprs.head, graft.functions.TextFunctions.NgramProfileOrder)
  }

  private[extensions] val langIdNgramDescriptor =
    (new FunctionIdentifier("lang_id_ngram"),
      new ExpressionInfo(classOf[LangIdNgram].getName, "lang_id_ngram"),
      langIdNgramBuilder)

  /** `lang_stats(text)`: the stopword lists (the model state) are the
    * engine's fixed [[graft.functions.TextFunctions.StopLangOrder]] in
    * tie-break order en > de > es > fr.
    */
  private val langStatsBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1, "lang_stats expects exactly 1 string argument")
    graft.expressions.LangStats(exprs.head, graft.functions.TextFunctions.StopLangOrder)
  }

  private[extensions] val langStatsDescriptor =
    (new FunctionIdentifier("lang_stats"),
      new ExpressionInfo(classOf[graft.expressions.LangStats].getName, "lang_stats"),
      langStatsBuilder)

  /** `shingle_strings(text, k)` / `shingle_hashes(text, k)`: k is the
    * shingle width — structural, so it must be an integer literal.
    */
  private def shingleK(exprs: Seq[Expression], name: String): Int = {
    require(exprs.length == 2, s"$name expects (text, k)")
    exprs(1) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$name: k must be an integer literal, got $other")
    }
  }

  private val shingleStringsBuilder: Seq[Expression] => Expression = exprs =>
    ShingleStrings(exprs.head, shingleK(exprs, "shingle_strings"))

  private val shingleHashesBuilder: Seq[Expression] => Expression = exprs =>
    ShingleHashes(exprs.head, shingleK(exprs, "shingle_hashes"))

  private[extensions] val shingleStringsDescriptor =
    (new FunctionIdentifier("shingle_strings"),
      new ExpressionInfo(classOf[ShingleStrings].getName, "shingle_strings"),
      shingleStringsBuilder)

  private[extensions] val shingleHashesDescriptor =
    (new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      shingleHashesBuilder)

  private val sparseDotBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "sparse_dot expects exactly 2 term-vector arguments")
    SparseDotProduct(exprs.head, exprs(1))
  }

  private[extensions] val sparseDotDescriptor =
    (new FunctionIdentifier("sparse_dot"),
      new ExpressionInfo(classOf[SparseDotProduct].getName, "sparse_dot"),
      sparseDotBuilder)

  private val wsTokensBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1, "ws_tokens expects exactly 1 string argument")
    WsTokens(exprs.head)
  }

  private val tokenCountBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1, "token_count expects exactly 1 string argument")
    TokenCount(exprs.head)
  }

  private[extensions] val wsTokensDescriptor =
    (new FunctionIdentifier("ws_tokens"),
      new ExpressionInfo(classOf[WsTokens].getName, "ws_tokens"),
      wsTokensBuilder)

  private[extensions] val tokenCountDescriptor =
    (new FunctionIdentifier("token_count"),
      new ExpressionInfo(classOf[TokenCount].getName, "token_count"),
      tokenCountBuilder)

  private val simHash64Builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1, "simhash64 expects exactly 1 term-vector argument")
    SimHash64(exprs.head)
  }

  /** Spark ships BloomFilterAggregate/BloomFilterMightContain but only
    * wires them into its internal runtime-filter injection — they are not
    * in the SQL function registry. Exposing them lets the engine build
    * explicit bloom pre-filtered joins (ops/BloomJoin) with stock,
    * codegen'd expressions instead of reimplementing a bloom filter.
    */
  private val bloomAggBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 3, "bloom_filter_agg expects (key, expectedItems, numBits)")
    new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      exprs.head, exprs(1), exprs(2)).toAggregateExpression()
  }

  private val mightContainBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "might_contain expects (bloom, key)")
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs.head, exprs(1))
  }

  private[extensions] val bloomAggDescriptor =
    (new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      bloomAggBuilder)

  private[extensions] val mightContainDescriptor =
    (new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      mightContainBuilder)

  private[extensions] val simHash64Descriptor =
    (new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      simHash64Builder)

  private val zorder2Builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "zorder2 expects exactly 2 bigint keys")
    graft.expressions.ZOrder2(exprs.head, exprs(1))
  }

  private[extensions] val zorder2Descriptor =
    (new FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[graft.expressions.ZOrder2].getName, "zorder2"),
      zorder2Builder)

  private val zorderNBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length >= 2 && exprs.length <= 8,
      s"zorder expects 2 to 8 bigint keys, got ${exprs.length}")
    graft.expressions.ZOrderN(exprs)
  }

  private[extensions] val zorderNDescriptor =
    (new FunctionIdentifier("zorder"),
      new ExpressionInfo(classOf[graft.expressions.ZOrderN].getName, "zorder"),
      zorderNBuilder)

  /** Unconditional cast to array<double> — children may be unresolved when
    * the builder runs (so no dataType inspection here); a same-type Cast is
    * removed by the optimizer's SimplifyCasts.
    */
  private def asDoubleArray(e: Expression): Expression = Cast(e, ArrayType(DoubleType))

  private val runtimeFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> cosineSimBuilder,
    "hyperplane_sig" -> hyperplaneSigBuilder,
    "lang_id_ngram" -> langIdNgramBuilder,
    "lang_stats" -> langStatsBuilder,
    "shingle_strings" -> shingleStringsBuilder,
    "shingle_hashes" -> shingleHashesBuilder,
    "sparse_dot" -> sparseDotBuilder,
    "ws_tokens" -> wsTokensBuilder,
    "token_count" -> tokenCountBuilder,
    "simhash64" -> simHash64Builder,
    "bloom_filter_agg" -> bloomAggBuilder,
    "might_contain" -> mightContainBuilder,
    "zorder2" -> zorder2Builder,
    "zorder" -> zorderNBuilder)

  /** Idempotent runtime registration on an existing session. Registration is
    * check-before-register: every builder here is deterministic (same name ⇒
    * same expression), so an already-present function needs no replacement —
    * and skipping it avoids the registry's replaced-a-previously-registered-
    * function WARN on every pipeline entry point.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    runtimeFunctions.foreach { case (name, builder) =>
      if (!registry.functionExists(new FunctionIdentifier(name))) {
        registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
    }
    // planner strategy + optimizer rule for the custom TopKPerKey operator
    // (idempotent)
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RowNumberTopKRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RowNumberTopKRewrite
    }
    ()
  }

  /** DataFrame-API handle (requires `register(spark)` on the session first —
    * resolution goes through the function registry).
    */
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** DataFrame-API handle for the packed LSH signature (see above for the
    * literal-argument contract).
    */
  def hyperplane_sig(vec: Column, dim: Column, bits: Column, seed: Column): Column =
    call_function("hyperplane_sig", vec, dim, bits, seed)

  /** DataFrame-API handle for the native n-gram language ID. */
  def lang_id_ngram(text: Column): Column = call_function("lang_id_ngram", text)

  /** DataFrame-API handle for the single-pass token/stopword statistics. */
  def lang_stats(text: Column): Column = call_function("lang_stats", text)

  /** DataFrame-API handles for native shingling (k must be a literal). */
  def shingle_strings(text: Column, k: Column): Column =
    call_function("shingle_strings", text, k)
  def shingle_hashes(text: Column, k: Column): Column =
    call_function("shingle_hashes", text, k)

  /** DataFrame-API handle for the sorted-term-vector dot product. */
  def sparse_dot(a: Column, b: Column): Column = call_function("sparse_dot", a, b)

  /** DataFrame-API handles for native whitespace tokenization. */
  def ws_tokens(text: Column): Column = call_function("ws_tokens", text)
  def token_count(text: Column): Column = call_function("token_count", text)

  /** DataFrame-API handle for the term-vector SimHash signature. */
  def simhash64(vec: Column): Column = call_function("simhash64", vec)
}
