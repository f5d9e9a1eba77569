package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** One pass per keyed change batch: the stage write that lands a frame's rows
  * gathers its keys ([[tap]]); their probe is a positions-scan filter ([[semiJoin]]). */
object KeyProbe {

  /** A frame for ONE write; after it, `count()` is its rows and `picked()` the
    * gathered tuples as a local frame (collected with no job). A task retry
    * can over-count, which neither emptiness nor a key SET can observe. */
  final case class Tap(frame: DataFrame, count: () => Long, picked: () => DataFrame)

  /** `df` re-rooted as a batch frame over its planned rows (no encoder round-trip),
    * copying out the `cols` tuple of each row `pick` accepts. */
  def tap(df: DataFrame, cols: Seq[String], pick: InternalRow => Boolean = _ => true): Tap = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    val schema = df.select(cols.map(df.col): _*).schema
    val refs = schema.map(f => BoundReference(df.schema.fieldNames.indexWhere(
      spark.sessionState.conf.resolver(_, f.name)), f.dataType, nullable = true))
    val (rows, keys) =
      (spark.sparkContext.longAccumulator, spark.sparkContext.collectionAccumulator[InternalRow])
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(refs)
      it.map { r =>
        rows.add(1L)
        if (refs.nonEmpty && pick(r)) keys.add(proj(r).copy())
        r
      }
    }
    import scala.jdk.CollectionConverters._
    Tap(spark.internalCreateDataFrame(rdd, df.schema, isStreaming = false), () => rows.value,
      () => Dataset.ofRows(spark, LocalRelation(toAttributes(schema), keys.value.asScala.toSeq)))
  }

  /** `scan` narrowed to the rows a `left_semi` join with the driver-local
    * `keySide` on `keys` keeps, None when no key can match. The join's own
    * analysis coerces the key types; both sides normalize floating keys as
    * the join does (NaN = NaN, -0.0 = 0.0); null keys never match; tuples
    * compare as the binary `UnsafeRow` a hash join compares. The key set
    * rides a broadcast variable, as the DV does: no broadcast-build job.
    */
  def semiJoin(scan: DataFrame, keySide: DataFrame, keys: Seq[String]): Option[DataFrame] = {
    val spark = scan.sparkSession.asInstanceOf[SparkSession]
    val join = scan.join(keySide, keys, "left_semi").queryExecution.analyzed
      .collectFirst { case j: Join => j }.get
    def conj(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conj(a) ++ conj(b)
      case EqualTo(a, b) if a.references.subsetOf(join.left.outputSet) => Seq(a, b)
      case EqualTo(a, b) => Seq(b, a)
    }
    val (probe, build) = conj(join.condition.get).map(normalize).grouped(2)
      .map { case Seq(p, b) => (p, Alias(b, "k")()) }.toSeq.unzip
    val toKey = UnsafeProjection.create(probe.indices.map(i =>
      BoundReference(i, probe(i).dataType, nullable = true)))
    val set = new java.util.HashSet[UnsafeRow]()
    evalLocal(spark, Project(build, join.right)).iterator.map(toKey(_)).filterNot(_.anyNull)
      .foreach(k => set.add(k.copy()))
    Option.when(!set.isEmpty)(Dataset.ofRows(spark,
      Filter(KeyIn(probe, spark.sparkContext.broadcast(set)), join.left)))
  }

  /** A plan's rows, on the driver for local relations and projections or unions of them. */
  private def evalLocal(spark: SparkSession, p: LogicalPlan): Seq[InternalRow] = p match {
    case l: LocalRelation => l.data
    case Project(list, child) =>
      val proj = UnsafeProjection.create(list, child.output)
      proj.initialize(0)
      evalLocal(spark, child).map(proj(_).copy())
    case u: Union => u.children.flatMap(evalLocal(spark, _))
    case _ => Dataset.ofRows(spark, p).queryExecution.executedPlan.executeCollect().toSeq
  }
}

/** True when the `children` tuple has no null field and is in `keys`. */
case class KeyIn(children: Seq[Expression], keys: Broadcast[java.util.HashSet[UnsafeRow]])
    extends Predicate with CodegenFallback {
  @transient private lazy val toKey = UnsafeProjection.create(children)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    toKey(input) match { case k => !k.anyNull && keys.value.contains(k) }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KeyIn =
    copy(children = c)
}
