package graft.functions

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

/** [[RangeBucket]] against a twin of `RangePartitioner.getPartition`'s
  * linear scan (advance while the key is above the bound; NULL sorts
  * first), on both the interpreted and the generated-code path. */
class RangeBucketSpec extends SparkTestBase {

  private def linearScan(bounds: Array[UTF8String], key: UTF8String): Int =
    if (key == null) 0
    else {
      var p = 0
      while (p < bounds.length && key.binaryCompare(bounds(p)) > 0) p += 1
      p
    }

  private val rnd = new Random(23)
  // a small alphabet with one multi-byte letter, so keys collide on long
  // prefixes and byte order differs from char order
  private def randomKey(): UTF8String = UTF8String.fromString(
    Seq.fill(rnd.nextInt(6))("abcé".charAt(rnd.nextInt(4))).mkString)

  private def sortedBounds(n: Int): Array[UTF8String] =
    Array.fill(n)(randomKey()).distinct.sortWith(_.binaryCompare(_) < 0)

  /** Random keys, NULL, every bound, and a neighbour above each bound. */
  private def keysFor(bounds: Array[UTF8String]): Seq[UTF8String] =
    Seq.fill(300)(randomKey()) ++ Seq(null, UTF8String.EMPTY_UTF8) ++
      bounds.toSeq ++ bounds.toSeq.map(b => UTF8String.fromString(b.toString + "a"))

  test("interpreted and generated partition ids equal the linear scan, " +
    "for random keys, NULL and keys equal to each bound") {
    for (n <- Seq(0, 1, 2, 7, 40, 200)) {
      val bounds = sortedBounds(n)
      val e = RangeBucket(BoundReference(0, StringType, nullable = true), bounds)
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      for (k <- keysFor(bounds)) {
        val want = linearScan(bounds, k)
        val row = InternalRow(k)
        assert(e.eval(row) == want, s"interpreted, key $k, bounds ${bounds.length}")
        assert(generated(row).getInt(0) == want,
          s"generated, key $k, bounds ${bounds.length}")
      }
    }
  }

  test("inside whole-stage codegen, a NULL key goes to 0 and a bound's " +
    "own key to the bound's partition") {
    val bounds = Array("b", "d").map(UTF8String.fromString)
    // a range scan, not a local relation, so the optimizer cannot fold it
    val df = spark.range(6).select(expr(
      "element_at(array(NULL, 'a', 'b', 'c', 'd', 'e'), CAST(id + 1 AS INT))").as("k"))
    val ids = df.select(Bridge.column(
      RangeBucket(Bridge.expr(col("k")), bounds)).as("p"))
    val plan = ids.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]) &&
      plan.toString.contains("range_bucket"), plan.toString)
    assert(ids.collect().map(_.getInt(0)).toSeq == Seq(0, 0, 0, 1, 1, 2))
  }

  test("sampled bounds are strictly increasing and split distinct keys " +
    "into ranges of about equal size") {
    import spark.implicits._
    val keys = (0 until 4000).map(i => f"k$i%05d").toDF("k").repartition(3)
    val bounds = RangeBucket.sampleBounds(keys, 8)
    assert(bounds.length == 7)
    assert(bounds.toSeq.sliding(2).forall { case Seq(a, b) => a.binaryCompare(b) < 0 })
    val sizes = keys.groupBy(Bridge.column(
      RangeBucket(Bridge.expr(col("k")), bounds))).count()
      .collect().map(_.getLong(1))
    assert(sizes.length == 8 && sizes.forall(s => s > 420 && s < 580),
      s"range sizes ${sizes.mkString(",")}")
    // NULLs are not sampled; repeats and too few keys give fewer bounds
    val few = Seq[Option[String]](None, Some("x"), Some("x"), Some("y")).toDF("k")
    assert(RangeBucket.sampleBounds(few, 8).map(_.toString).toSeq == Seq("x", "y"))
    assert(RangeBucket.sampleBounds(few.limit(0), 8).isEmpty)
    assert(RangeBucket.sampleBounds(keys, 1).isEmpty)
  }
}
