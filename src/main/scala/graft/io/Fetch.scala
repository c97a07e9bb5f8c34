package graft.io

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.graftbridge.Deferred
import org.apache.spark.sql.types.StructType

import graft.ops.Skew

/** Driver-side row fetch, gated by [[graft.ops.Skew.BroadcastRowGate]].
  *
  * `toLocalIterator` runs one Spark job per partition, one after another;
  * for the few-row answers of an interactive read those serial round
  * trips, not data work, were most of the result time. [[rows]] runs ONE
  * job over all partitions in parallel, each task returning at most
  * `max(1, gate / numPartitions)` rows of its partition, so the driver
  * holds at most about `gate` rows after it. A partition that passed its
  * head bound is fetched again on its own, in full — what
  * `toLocalIterator` does for every partition — so an arbitrarily large
  * result still streams with one partition resident at a time. That
  * partition's final stage then runs twice: a streaming stage stops its
  * first run after the head, but a blocking one (the sort of an ORDER BY
  * or of a Turtle dump) completes both runs, and the first row waits for
  * the head job over all partitions.
  *
  * Rows come from the executed plan's RDD (`queryExecution.toRdd`, the
  * plan the DataFrame already has; `df.rdd` would plan the query again)
  * and are decoded on the driver.
  *
  * [[deferred]] exists because the library ops return lazy frames: a
  * caller builds an op's frame, persists or joins it, and times or
  * explains the action that runs it. An op that solves its answer on the
  * driver wraps that solve in [[deferred]], so its jobs run in the
  * caller's action, not when the op is called.
  */
object Fetch {

  /** Every row of `df`, in partition order (so a global sort's order). */
  def rows(df: DataFrame): Iterator[Row] = rows(df, Skew.BroadcastRowGate)

  private[graft] def rows(df: DataFrame, gate: Long): Iterator[Row] = {
    val rdd = df.queryExecution.toRdd
    val parts = rdd.getNumPartitions
    val cap = math.max(1L, math.min(gate / math.max(parts, 1),
      Int.MaxValue - 1L)).toInt
    val heads = collect(rdd, 0 until parts, cap + 1)
    val decode = decoder(df)
    Iterator.range(0, parts).flatMap { p =>
      val head = heads(p)
      heads(p) = null // keep at most one over-bound partition resident
      val all =
        if (head.length <= cap) head
        else collect(rdd, Seq(p), Int.MaxValue).head
      all.iterator.map(decode)
    }
  }

  /** All rows of `df` if it has at most `n`, else None: one job over
    * `df.limit(n + 1)`, so the driver never holds more than n + 1 rows.
    */
  private[graft] def atMost(df: DataFrame, n: Long): Option[Array[Row]] = {
    val lim = df.limit(math.min(n + 1, Int.MaxValue.toLong).toInt)
    val rdd = lim.queryExecution.toRdd
    val got = collect(rdd, 0 until rdd.getNumPartitions, Int.MaxValue).flatten
    if (got.length > n) None else Some(got.map(decoder(lim)))
  }

  /** `rows` as a one-partition RDD-backed frame of `schema`: how a result
    * solved on the driver re-enters a plan. Not a `LocalRelation`: its
    * exact small size estimate re-plans every join downstream, and with
    * it `DifferentialSpec` ran its 4 GB test heap out of memory. An
    * RDD-backed frame carries no estimate, like the checkpointed or
    * shuffled result the driver path stands in for.
    */
  private[graft] def frame(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** A frame of `schema` whose rows are `body`'s, evaluated once, when a
    * job first needs them (see
    * [[org.apache.spark.sql.graftbridge.Deferred]]): building it starts
    * no job, and a throwing `body` fails the action, not this call.
    * `body` must return `schema` exactly, or the action fails. After it
    * has run, the frame's executed plan shows `body`'s plan as an inner
    * child.
    */
  private[graft] def deferred(spark: SparkSession, schema: StructType)(
      body: => DataFrame): DataFrame =
    Deferred.frame(spark, schema)(body)

  /** One job: the first `limit` rows of each of `parts`, copied out of
    * the executors' reused row buffers.
    */
  private def collect(rdd: RDD[InternalRow], parts: Seq[Int],
      limit: Int): Array[Array[InternalRow]] =
    rdd.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => it.take(limit).map(_.copy()).toArray,
      parts)

  private def decoder(df: DataFrame): InternalRow => Row =
    ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
}
