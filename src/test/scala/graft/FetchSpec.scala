package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.TestJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{Fetch, RdfIO, TurtleWriter}
import graft.model.Term

/** The gated result fetch: one job for a result within the row gate,
  * the same rows in the same order as `toLocalIterator`, and a
  * partition past its head bound fetched again on its own.
  */
class FetchSpec extends AnyFunSuite {
  import TestSpark._

  private def jobs[T](body: => T): (T, Int) =
    TestJobs.count(spark.sparkContext)(body)

  // partitions of 2, 9, 1 and 3 rows, and no exchange
  private lazy val uneven: DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .parallelize(Seq(0L until 2L, 2L until 11L, 11L until 12L,
        12L until 15L), 4)
      .flatMap(identity).toDF("id")
      .select(col("id"),
        Term.iri(concat(lit("http://x/"), col("id").cast("string"))).as("t"))
  }

  private lazy val expected = uneven.toLocalIterator().asScala.toVector

  test("a result within the gate arrives in one job, in partition order") {
    assert(uneven.queryExecution.toRdd.getNumPartitions == 4)
    val (got, n) = jobs(Fetch.rows(uneven).toVector)
    assert(got == expected)
    assert(n == 1, s"$n jobs")
    // an empty answer plans as a scan of zero partitions
    assert(Fetch.rows(uneven.where(lit(false))).isEmpty)
  }

  test("a partition past its head bound is fetched again, in full") {
    // gate 12 over 4 partitions: each task returns at most 3 rows, so
    // only the 9-row partition is fetched again
    val (got, n) = jobs(Fetch.rows(uneven, 12).toVector)
    assert(got == expected)
    assert(n == 2, s"$n jobs")
    // gate 0: one row per task; the 2-, 9- and 3-row partitions refetch
    val (got0, n0) = jobs(Fetch.rows(uneven, 0).toVector)
    assert(got0 == expected)
    assert(n0 == 4, s"$n0 jobs")
  }

  test("ORDER BY output keeps its order, within and past the gate") {
    val sorted = spark.range(0, 2000, 1, 4)
      .select((col("id") * 7919 % 2000).as("k"))
      .orderBy(col("k").desc)
    val want = (0L until 2000L).reverse
    assert(Fetch.rows(sorted).map(_.getLong(0)).toVector == want)
    assert(Fetch.rows(sorted, 100).map(_.getLong(0)).toVector == want)
  }

  test("turtleLines through the helper groups each subject once") {
    val triples = spark.range(0, 100, 1, 4).select(
      Term.iri(concat(lit("http://x/s"), (col("id") % 20).cast("string")))
        .as("s"),
      Term.iri(concat(lit("http://x/p"), (col("id") / 20).cast("long")
        .cast("string"))).as("p"),
      Term.strLit(concat(lit("v"), col("id").cast("string"))).as("o"))
    val lines = TurtleWriter.turtleLines(triples).toVector
    val subjects = lines.filter(_.startsWith("<http://x/s"))
      .map(_.takeWhile(_ != ' '))
    assert(subjects.size == 20 && subjects.distinct.size == 20,
      subjects.mkString("\n"))
    val d = java.nio.file.Files.createTempDirectory("fetch")
    val f = d.resolve("g.ttl")
    java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
    assert(RdfIO.read(spark, f.toString, "ttl").count() == 100)
  }

  test("a deferred frame runs its body once, in the first action") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    var runs = 0
    val (df, built) = jobs(Fetch.deferred(spark, schema) {
      runs += 1
      val r = spark.range(0, 10, 1, 2).toDF("id")
      r.groupBy((col("id") % 3).as("k")).agg(max("id").as("id")).select("id")
    })
    assert(built == 0 && runs == 0, s"$built jobs, $runs runs at build")
    assert(df.count() == 3 && df.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(7L, 8L, 9L))
    assert(runs == 1)
    // persisted, then read twice
    val kept = df.persist()
    assert(kept.count() == 3 && kept.where(col("id") > 7).count() == 2)
    assert(runs == 1)
    kept.unpersist()
    // a self-join gets fresh attributes on one side
    val self = df.as("a").join(df.as("b"), col("a.id") < col("b.id"))
    assert(self.count() == 3)
    assert(runs == 1)
    // after execution, the plan shows the body's plan as an inner child
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Deferred") && plan.contains("HashAggregate"), plan)
  }

  test("a deferred body that throws or changes schema fails the action") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType, false)))
    val boom = Fetch.deferred(spark, schema) {
      throw new IllegalArgumentException("boom")
    }
    val e = intercept[Exception](boom.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "boom"), e)
    val other = Fetch.deferred(spark, schema)(
      spark.range(3).select(col("id").cast("int").as("id")))
    val m = intercept[Exception](other.count())
    assert(Iterator.iterate[Throwable](m)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalStateException]), m)
  }
}
