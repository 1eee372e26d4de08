package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Range-partition id of a string key against sorted, distinct bounds —
  * the routing half of a range shuffle, as an expression for
  * `Dataset.repartitionById`. Keys land exactly where Spark's
  * `RangePartitioner` puts them: partition `i` holds the keys in
  * `(bounds(i-1), bounds(i)]`, so a key equal to a bound goes to the
  * lower partition, keys above the last bound go to `bounds.length`,
  * and NULL (first in ascending order) goes to 0.
  *
  * The bounds travel as a constructor value (the captured-value pattern
  * of [[BloomMightContain]]); the generated code binary-searches them
  * through a reference object, so routing stays inside whole-stage
  * codegen at O(log n) compares per row. Strings compare as unsigned
  * bytes, the order `sortWithinPartitions` and Parquet min/max use.
  */
case class RangeBucket(child: Expression, bounds: Array[UTF8String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"range_bucket expects STRING, got $t")
  }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = false

  override def prettyName: String = "range_bucket"

  /** Count of bounds strictly below `key`. */
  def bucket(key: UTF8String): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (key.binaryCompare(bounds(mid)) > 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def eval(input: InternalRow): Any = {
    val key = child.eval(input)
    if (key == null) 0 else bucket(key.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val key = child.genCode(ctx)
    val b = ctx.addReferenceObj("rangeBounds", bounds,
      classOf[UTF8String].getName + "[]")
    val hi = ctx.freshName("hi")
    val mid = ctx.freshName("mid")
    ev.copy(code = code"""
      ${key.code}
      int ${ev.value} = 0;
      if (!${key.isNull}) {
        int $hi = $b.length;
        while (${ev.value} < $hi) {
          int $mid = (${ev.value} + $hi) >>> 1;
          if (${key.value}.binaryCompare($b[$mid]) > 0) ${ev.value} = $mid + 1;
          else $hi = $mid;
        }
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RangeBucket {

  /** Bounds splitting the single string column of `keys` into `n`
    * ranges of about equal row count, chosen the way `repartitionByRange`
    * chooses them: a reservoir sample of `3 · min(s·n, 10⁶) / p` keys
    * from each of the `p` input partitions (one job), where `s` is
    * `spark.sql.execution.rangeExchange.sampleSizePerPartition`
    * (default 100); each sampled key is weighted by its partition's
    * count over its sample size, then cuts fall at every `1/n` of the
    * cumulative weight, skipping repeats. NULL keys are left out; they
    * route to partition 0. Fewer than `n - 1` bounds come back when
    * there are fewer distinct keys. */
  def sampleBounds(keys: DataFrame, n: Int): Array[UTF8String] = {
    require(keys.columns.length == 1, "sampleBounds takes one key column")
    if (n <= 1) return Array.empty
    val rows = keys.queryExecution.toRdd
    val perRange = keys.sparkSession.conf
      .get("spark.sql.execution.rangeExchange.sampleSizePerPartition", "100").toInt
    val perPartition = math.ceil(
      3.0 * math.min(perRange.toDouble * n, 1e6) / rows.getNumPartitions.max(1)).toInt
    val sketches = rows.mapPartitionsWithIndex { (idx, it) =>
      val rnd = new java.util.Random(idx)
      val sample = new Array[UTF8String](perPartition)
      var seen = 0L
      it.foreach { row =>
        if (!row.isNullAt(0)) {
          if (seen < perPartition) sample(seen.toInt) = row.getUTF8String(0).clone()
          else {
            val j = (rnd.nextDouble() * (seen + 1)).toLong
            if (j < perPartition) sample(j.toInt) = row.getUTF8String(0).clone()
          }
          seen += 1
        }
      }
      Iterator((seen, sample.take(math.min(seen, perPartition.toLong).toInt)))
    }.collect()
    val weighted = sketches.flatMap { case (seen, sample) =>
      val w = seen.toDouble / sample.length
      sample.map(_ -> w)
    }.sortWith((a, b) => a._1.binaryCompare(b._1) < 0)
    val step = weighted.map(_._2).sum / n
    val out = ArrayBuffer.empty[UTF8String]
    var cum = 0.0
    var target = step
    var i = 0
    while (i < weighted.length && out.length < n - 1) {
      val (key, w) = weighted(i)
      cum += w
      if (cum >= target && (out.isEmpty || key.binaryCompare(out.last) > 0)) {
        out += key
        target += step
      }
      i += 1
    }
    out.toArray
  }
}
