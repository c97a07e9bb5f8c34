package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.StructType

/** The rows of a frame that is built when a job first needs them: `body`
  * runs once, on the driver thread that executes the plan, and its
  * executed plan's RDD serves that action and every later one. A body
  * that throws, or returns another schema than the declared one, fails
  * the action and runs again on the next.
  */
final class Deferred private (val schema: StructType, body: () => DataFrame)
    extends Serializable {
  @transient private var thunk: () => DataFrame = body
  @transient private var rows: RDD[InternalRow] = _
  @transient @volatile private var ran: SparkPlan = _

  private[graftbridge] def rdd: RDD[InternalRow] = synchronized {
    if (rows == null) {
      val df = thunk()
      if (df.schema != schema)
        throw new IllegalStateException(
          s"deferred frame: body returned ${df.schema.toDDL}, " +
            s"declared ${schema.toDDL}")
      val qe = df.queryExecution
      rows = qe.toRdd
      ran = qe.executedPlan
      thunk = null
    }
    rows
  }

  /** The body's executed plan, once it has run. */
  private[graftbridge] def plan: Option[SparkPlan] = Option(ran)
}

object Deferred {

  /** A frame of `schema` over a [[DeferredRelation]] of `body`; building
    * it starts no job. Registers the planning strategy with the session
    * on first use.
    */
  def frame(spark: SparkSession, schema: StructType)(
      body: => DataFrame): DataFrame = {
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(DeferredStrategy))
        exp.extraStrategies = exp.extraStrategies :+ DeferredStrategy
    }
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DeferredRelation(DataTypeUtils.toAttributes(schema),
        new Deferred(schema, () => body)))
  }
}

/** The logical leaf: a fresh instance per self-join side, and, like an
  * RDD-backed frame, the session's default size, so it is never
  * broadcast by estimate.
  */
case class DeferredRelation(output: Seq[Attribute], deferred: Deferred)
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): DeferredRelation =
    copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = conf.defaultSizeInBytes)
  override def simpleString(maxFields: Int): String =
    s"Deferred ${truncatedString(output, "[", ", ", "]", maxFields)}"
}

/** The physical leaf. Once the body has run, its executed plan shows as
  * an inner child, and the node names that plan's root operator
  * (`Scan ExistingRDD` for rows solved on the driver).
  */
case class DeferredExec(output: Seq[Attribute], deferred: Deferred)
    extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val schema = deferred.schema
    deferred.rdd.mapPartitionsWithIndexInternal { (i, it) =>
      lazy val proj = {
        val p = UnsafeProjection.create(schema); p.initialize(i); p
      }
      it.map {
        case u: UnsafeRow => u
        case r => proj(r)
      }
    }
  }
  override def innerChildren: Seq[SparkPlan] = deferred.plan.toSeq
  override def simpleString(maxFields: Int): String = {
    val state = deferred.plan.fold("not run") { p =>
      def root(q: SparkPlan): SparkPlan = q match {
        case a: AdaptiveSparkPlanExec => root(a.executedPlan)
        case w: WholeStageCodegenExec => root(w.child)
        case _ => q
      }
      s"ran ${root(p).nodeName}"
    }
    s"Deferred ${truncatedString(output, "[", ", ", "]", maxFields)}, $state"
  }
}

private object DeferredStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeferredRelation(output, deferred) =>
      DeferredExec(output, deferred) :: Nil
    case _ => Nil
  }
}
