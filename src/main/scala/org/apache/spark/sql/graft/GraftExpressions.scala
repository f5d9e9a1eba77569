/*
 * Native Catalyst expressions for the graft engine.
 *
 * This file lives in a subpackage of `org.apache.spark.sql` on purpose: the
 * Column <-> Expression bridge (`ExpressionUtils`) and the `AbstractDataType`
 * hierarchy are `private[sql]` in Spark 4.x, so the glue that turns our
 * expressions into user-facing `Column`s must be compiled inside the sql
 * package tree. Everything user-facing re-exports through `graft.functions`.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FuzzyImpl, JaroWinklerImpl, VectorImpl}

/** Indel-weighted fuzzy ratio (the reference's `fuzz.ratio`).
  *
  * The reference scores candidate place names with fuzzywuzzy's `fuzz.ratio`
  * (reference: src/ingest_places_data.py:58-59), which with python-Levenshtein
  * installed is `round(100 * (la + lb - d) / (la + lb))` where `d` is edit
  * distance with substitution cost 2 — equivalently `100 * 2*LCS / (la + lb)`.
  * That is NOT plain Levenshtein (SURVEY.md §2.9/F1), so Spark's builtin
  * `levenshtein()` can only approximate it.
  *
  * Implemented as a native Catalyst Expression whose generated code calls the
  * static [[graft.functions.FuzzyImpl.ratio]] — keeps the hot loop inside
  * whole-stage codegen instead of a boxed Scala UDF.
  */
case class FuzzRatio(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fuzz_ratio"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    FuzzyImpl.ratio(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.FuzzyImpl.ratio($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Jaro-Winkler similarity in [0, 1] — the record-linkage scorer for short
  * name-like strings. Semantics pinned to DuckDB's
  * `jaro_winkler_similarity` (0.7 boost threshold, prefix cap 4, empties
  * score 0), so fuzzy-match queries oracle against an INDEPENDENT
  * implementation. Generated code calls the static
  * [[graft.functions.JaroWinklerImpl.sim]] — hot loop stays inside
  * whole-stage codegen.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaroWinklerImpl.sim(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaroWinklerImpl.sim($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity over two `array<double>` columns: dot product and
  * both norms in a single pass, no intermediate array allocation — unlike a
  * `zip_with` + `aggregate` composition. The difference is the whole game when
  * the fan-out is |queries| x |corpus| rows at 100 TB (SURVEY.md §7
  * llm/SimSearch).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    VectorImpl.cosine(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorImpl.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Plain dot product, same fused-loop rationale as [[CosineSimilarity]]. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    VectorImpl.dot(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorImpl.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Nearest packed-codebook entry by (round-6 squared L2 asc, cid asc):
  * `struct<d: double, cid: bigint>` of the winner, null for an empty entry
  * array. The map-only replacement for the broadcast-join + per-(id, sub)
  * window argmin in [[graft.llm.ProductQuant]] (optimization r21): the
  * codebook is bounded model state, so folding it per row inside codegen
  * removes the ks-fold row blowup, the exchange and both sorts the window
  * form paid — and the tight double loop replaces the interpreted
  * zip_with/aggregate fold, which is why the pure-Catalyst fold variant
  * measured SLOWER than the window (array HOFs are not codegen'd).
  */
case class NearestSqEntry(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types._

  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("cid", LongType, nullable = false)))
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(DoubleType),
    ArrayType(StructType(Seq(
      StructField("cid", LongType),
      StructField("cv", ArrayType(DoubleType))))))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_sq_entry"

  override protected def nullSafeEval(v: Any, cents: Any): Any =
    graft.functions.VectorImpl.nearestSq(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cents.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ctx.freshName: two nearest-* folds fused into one codegen method must
    // not collide on the temp local (janino dup-var => silent interpreted
    // fallback for the whole stage).
    val r = ctx.freshName("graftNearestR")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object $r = graft.functions.VectorImpl.nearestSq($a, $b);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $r; }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Nearest centroid by (round-6 cosine desc, cent_id asc):
  * `struct<cscore: double, cent_id: bigint>`, null when no centroid scores
  * a real number (zero-norm input, or empty centroid set) — the
  * [[graft.llm.SimSearch]] assignTo convention, fused into one codegen'd
  * fold for the same reasons as [[NearestSqEntry]].
  */
case class NearestCosineEntry(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types._

  override def dataType: DataType = StructType(Seq(
    StructField("cscore", DoubleType, nullable = false),
    StructField("cent_id", LongType, nullable = false)))
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(DoubleType),
    ArrayType(StructType(Seq(
      StructField("cent_id", LongType),
      StructField("cent_emb", ArrayType(DoubleType))))))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cosine_entry"

  override protected def nullSafeEval(v: Any, cents: Any): Any =
    graft.functions.VectorImpl.nearestCosine(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cents.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("graftNearestR")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object $r = graft.functions.VectorImpl.nearestCosine($a, $b);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $r; }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash of a token array: FNV-1a hash per token, bitwise majority
  * vote across tokens. Near-duplicate documents differ in few bits, so
  * `bit_count(a ^ b)` is a Hamming-distance verifier (llm/Dedup). Native
  * expression — the per-token loop stays inside whole-stage codegen.
  */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(in: Any): Any =
    graft.functions.TextImpl.simhash64(
      in.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextImpl.simhash64($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Language ID over a lowercase token array: stopword-mask hash lookups,
  * one pass, argmax with alphabetical tie-break ("und" when nothing hits).
  * Replaces the pure-builtin formulation in graft.llm.TextStats
  * .langIdFromTokens, whose five higher-order `filter` lambdas evaluate
  * interpreted per row (array HOFs are not whole-stage-codegen'd) — measured
  * >5x slower at sf0.1. The builtin form remains as the oracle-replayable
  * specification; FunctionsSpec asserts the two agree.
  *
  * NULL-TOLERANT and never-null by design: a NULL token array (NULL text)
  * identifies as "und", matching the specification form — folded into the
  * expression itself so the Scala Column surface, the SQL registration, and
  * generated code all agree.
  */
case class LangId(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}

  override def dataType: DataType = StringType
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def nullable: Boolean = false
  override def prettyName: String = "lang_id"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) graft.functions.TextImpl.undLabel
    else graft.functions.TextImpl.langId(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${c.isNull}
          ? graft.functions.TextImpl.undLabel()
          : graft.functions.TextImpl.langId(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MD5 hex with a thread-local reused digest — byte-identical to the builtin
  * `md5()` but without its per-row MessageDigest allocation, which dominates
  * digest-heavy scans (minhash signatures, winnowing grams).
  */
case class FastMd5(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fast_md5"

  override protected def nullSafeEval(in: Any): Any =
    graft.functions.HashImpl.md5Hex(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.HashImpl.md5Hex($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass Shannon character entropy: struct(n_chars, n_distinct, entropy)
  * over the string's codepoints, null for the empty string. Replaces the
  * explode + two-keyed-aggregation relational form with zero shuffle AND
  * zero per-index substr (which is O(position) on UTF8 — the explode form
  * was quadratic per document). Value-identical to the relational
  * round()-chain (TextImpl.charEntropy documents the replication; LlmSpec
  * pins the differential).
  */
case class CharEntropy(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullable: Boolean = true // empty string has no distribution
  override def prettyName: String = "char_entropy"

  override protected def nullSafeEval(in: Any): Any =
    graft.functions.TextImpl.charEntropy(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextImpl.charEntropy($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All k-gram Karp–Rabin rolling hashes of a string in one expression call:
  * `array<long>` of length max(len-k+1, 1). O(1) amortized per position
  * where the md5-per-position formulation pays a full digest each — the
  * winnowing gram stream's hot path (llm/TextStats.winnowFingerprints).
  */
case class GramHashes(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(k >= 1, s"gram size k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType,
    containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gram_hashes"

  override protected def nullSafeEval(in: Any): Any =
    graft.functions.HashImpl.gramHashesData(in.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.HashImpl.gramHashesData($a, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL-surface registration of the native expressions, so `spark.sql` text
  * can call `fuzz_ratio`, `cosine_similarity`, `dot_product`, `simhash64`.
  * Two entry points: [[GraftExtensions]] for
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions` at
  * session build, and [[GraftFunctions.registerAll]] for sessions the caller
  * doesn't construct (the harness driver's).
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
  import org.apache.spark.sql.catalyst.expressions.{Cast, ExpressionInfo}
  import org.apache.spark.sql.SparkSession

  private def toDoubleArray(e: Expression): Expression =
    Cast(e, ArrayType(DoubleType))

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("fuzz_ratio"),
      new ExpressionInfo(classOf[FuzzRatio].getName, "fuzz_ratio"),
      (es: Seq[Expression]) => FuzzRatio(es(0), es(1))),
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (es: Seq[Expression]) => JaroWinkler(es(0), es(1))),
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (es: Seq[Expression]) => CosineSimilarity(toDoubleArray(es(0)), toDoubleArray(es(1)))),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (es: Seq[Expression]) => DotProduct(toDoubleArray(es(0)), toDoubleArray(es(1)))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (es: Seq[Expression]) => SimHash64(es(0))),
    (FunctionIdentifier("lang_id"),
      new ExpressionInfo(classOf[LangId].getName, "lang_id"),
      (es: Seq[Expression]) => LangId(es(0))),
    (FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy"),
      (es: Seq[Expression]) => CharEntropy(es(0))),
    (FunctionIdentifier("gram_hashes"),
      new ExpressionInfo(classOf[GramHashes].getName, "gram_hashes"),
      (es: Seq[Expression]) => GramHashes(es(0), es(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _) => k
        case other => throw new IllegalArgumentException(
          s"gram_hashes: k must be an integer literal, got $other")
      })))

  /** Register on an existing session (temp functions in its registry).
    * Idempotent: already-registered names are skipped, so repeated calls
    * (every SQL-front-door query invokes this) don't spam
    * `SimpleFunctionRegistry: function replaced` warnings over real signals
    * in bench tails (VERDICT r06 #8).
    */
  /** Sessions whose registry already carries graft's builders — consulted
    * instead of `functionExists` (ADVICE r07): the registry also answers
    * true for Spark BUILT-INS, so a future graft name colliding with a
    * builtin would silently skip registration and change semantics; the
    * owned set makes graft's builder win exactly once per session.
    */
  private val registeredSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def registerAll(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    if (registeredSessions.putIfAbsent(spark, java.lang.Boolean.TRUE) == null)
      all.foreach { case (id, _, builder) =>
        reg.createOrReplaceTempFunction(id.funcName, builder, "built-in")
      }
  }

  /** Install the graft optimizer rules on an existing session. (The
    * [[GraftExtensions]] path only works at context creation —
    * `spark.sql.extensions` is a static conf — so harness-provided sessions
    * use this runtime hook instead.)
    */
  def installOptimizations(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(ReplaceMd5WithFast))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ReplaceMd5WithFast
  }
}

/** Optimizer rule: replace the builtin `md5` expression with [[FastMd5]]
  * everywhere in the plan — byte-identical output, but without the builtin's
  * per-row MessageDigest allocation. A deliberately small, strictly
  * semantics-preserving example of `Rule[LogicalPlan]` injection; fires on
  * StringType inputs only (the builtin also accepts binary).
  */
object ReplaceMd5WithFast
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Md5
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Md5(child) if child.dataType == StringType => FastMd5(child)
      case Md5(org.apache.spark.sql.catalyst.expressions.Cast(child, BinaryType, tz, mode))
          if child.dataType == StringType => FastMd5(child)
    }
}

/** `spark.sql.extensions` hook: injects the native functions and the
  * optimizer rule at session build, the zero-code-change path for
  * spark-submit users.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => ReplaceMd5WithFast)
  }
}

/** The only legal Column<->Expression crossing point (private[sql] bridge). */
object GraftColumns {
  def simHash64(tokens: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(tokens)))

  def fastMd5(c: Column): Column =
    ExpressionUtils.column(FastMd5(ExpressionUtils.expression(c)))

  def gramHashes(c: Column, k: Int): Column =
    ExpressionUtils.column(GramHashes(ExpressionUtils.expression(c), k))

  def langId(tokens: Column): Column =
    ExpressionUtils.column(LangId(ExpressionUtils.expression(tokens)))

  def charEntropy(c: Column): Column =
    ExpressionUtils.column(CharEntropy(ExpressionUtils.expression(c)))

  def fuzzRatio(a: Column, b: Column): Column =
    ExpressionUtils.column(FuzzRatio(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def jaroWinkler(a: Column, b: Column): Column =
    ExpressionUtils.column(JaroWinkler(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(a.cast("array<double>")),
      ExpressionUtils.expression(b.cast("array<double>"))))

  def nearestSqEntry(v: Column, cents: Column): Column =
    ExpressionUtils.column(NearestSqEntry(
      ExpressionUtils.expression(v.cast("array<double>")),
      ExpressionUtils.expression(cents)))

  def nearestCosineEntry(v: Column, cents: Column): Column =
    ExpressionUtils.column(NearestCosineEntry(
      ExpressionUtils.expression(v.cast("array<double>")),
      ExpressionUtils.expression(cents)))

  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a.cast("array<double>")),
      ExpressionUtils.expression(b.cast("array<double>"))))
}
