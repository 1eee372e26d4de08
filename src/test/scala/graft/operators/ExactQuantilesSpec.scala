package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** Pins [[ExactQuantiles]]'s contract: BIT-identical doubles to the
  * built-in sort-based `percentile` aggregate (whose own DuckDB
  * `quantile_cont` equivalence is hash-proven by the q50/q154/q159/
  * q160 oracle rows), on real tables and on adversarial synthetic
  * groups — ties, singletons, all-equal values, grid-point vs
  * interpolated positions, nulls, longs — plus physical-partitioning
  * invariance and the plan-shape claims the rework rests on. The
  * built-in spelling appears ONLY here (as the A/B twin); registered
  * queries must not carry it — `WindowCensusSpec`'s agg-state census
  * enforces that. */
class ExactQuantilesSpec extends SparkTestBase {

  import spark.implicits._

  private val Ps = Seq("q0" -> 0.0, "q25" -> 0.25, "q37" -> 0.371,
    "q50" -> 0.5, "q75" -> 0.75, "q100" -> 1.0)

  /** The superseded single-buffer spelling, built inline as the twin. */
  private def builtin(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val aggs = Ps.map { case (n, p) =>
      expr(s"percentile($valueCol, ${p}d)").as(n)
    } :+ count(lit(1)).as("exq_rows")
    if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact comparison — doubles by bits (NaN-free by contract). */
  private def assertSame(ours: DataFrame, twin: DataFrame,
      groupCols: Seq[String]): Unit = {
    def key(r: Row) = groupCols.map(c => String.valueOf(r.getAs[Any](c)))
      .mkString("|")
    def cells(df: DataFrame) = df.collect()
      .map(r => key(r) -> (Ps.map(p => java.lang.Double.doubleToLongBits(
        r.getAs[Double](p._1))), r.getAs[Long]("exq_rows"))).toMap
    val a = cells(ours)
    val b = cells(twin)
    assert(a == b, s"diverged from the built-in percentile\n ours: $a\n " +
      s"twin: $b")
    assert(a.nonEmpty, "twin comparison ran on empty output")
  }

  test("per-group quantiles are bit-identical to the built-in on " +
    "orders (q50 shape: 3 low-card groups, ~all-distinct doubles)") {
    val orders = Tables.orders(spark, Sf)
    assertSame(
      ExactQuantiles.quantiles(orders, Seq("o_orderstatus"),
        "o_totalprice", Ps),
      builtin(orders, Seq("o_orderstatus"), "o_totalprice"),
      Seq("o_orderstatus"))
  }

  test("global quantiles are bit-identical to the built-in on " +
    "embeddings dim 0 (q154/q159 shape)") {
    val scored = Tables.embeddings(spark, Sf)
      .select(element_at(col("embedding"), 1)
        .cast("double").as("x"))
    assertSame(ExactQuantiles.quantiles(scored, Nil, "x", Ps),
      builtin(scored, Nil, "x"), Nil)
  }

  test("long-typed values (q160 quantized-cents shape) match the " +
    "built-in, ties included") {
    val ev = Tables.events(spark, Sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("fv"))
    assertSame(
      ExactQuantiles.quantiles(ev, Seq("event_type"), "fv", Ps),
      builtin(ev, Seq("event_type"), "fv"), Seq("event_type"))
  }

  test("adversarial groups: singleton, pair, all-equal, tie-heavy, " +
    "null-bearing — all bit-identical; nulls rank-excluded but counted " +
    "in exq_rows") {
    // deterministic LCG so the fixture is stable across runs
    var seed = 0x2545f4914f6cdd1dL
    def next(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed }
    val rows = Seq.tabulate(500) { i =>
      val g = s"g${math.floorMod(next(), 7)}"
      val v: java.lang.Double =
        if (math.floorMod(next(), 11) == 0) null
        else math.floorMod(next(), 13).toDouble / 3.0 // dense ties
      (g, v)
    } ++ Seq(("single", 41.5: java.lang.Double),
      ("pair", 1.0: java.lang.Double), ("pair", 2.0: java.lang.Double),
      ("equal", 7.0: java.lang.Double), ("equal", 7.0: java.lang.Double),
      ("equal", 7.0: java.lang.Double),
      ("allnull", null: java.lang.Double))
    val df = rows.toDF("g", "v")
    // the all-null group: built-in yields a row with NULL quantiles;
    // ExactQuantiles omits the row (documented contract) — compare on
    // the groups both emit, and pin the omission explicitly
    val ours = ExactQuantiles.quantiles(df, Seq("g"), "v", Ps)
    assert(ours.filter(col("g") === "allnull").isEmpty,
      "all-null groups are omitted by contract")
    assertSame(ours, builtin(df, Seq("g"), "v").filter(col("g") =!= "allnull"),
      Seq("g"))
  }

  test("quantilesDisc matches the built-in percentile_disc on the " +
    "probe vectors that discriminate rank formulas, and on events") {
    // [10,20,30,40]: p=0.26 separates ceil(p*n) from floor(p*(n-1))+1;
    // [1,1,2,2,2,3]: tie runs around every cume_dist step
    val probes = Seq(
      Seq(10.0, 20.0, 30.0, 40.0) -> Seq(0.0, 0.25, 0.26, 0.5, 0.75, 0.76, 1.0),
      Seq(1.0, 1.0, 2.0, 2.0, 2.0, 3.0) -> Seq(0.0, 0.17, 0.34, 0.5, 0.83, 0.84, 1.0))
    probes.foreach { case (vs, pvals) =>
      val df = vs.map(v => ("g", v)).toDF("g", "v")
      val ps = pvals.zipWithIndex.map { case (p, i) => s"d$i" -> p }
      val ours = ExactQuantiles.quantilesDisc(df, Seq("g"), "v", ps)
        .collect().head
      val twin = df.groupBy("g").agg(
        ps.map { case (n, p) => expr(
          s"percentile_disc(${p}d) WITHIN GROUP (ORDER BY v)").as(n)
        }.head, ps.tail.map { case (n, p) => expr(
          s"percentile_disc(${p}d) WITHIN GROUP (ORDER BY v)").as(n)
        }: _*).collect().head
      ps.foreach { case (n, p) =>
        assert(java.lang.Double.doubleToLongBits(ours.getAs[Double](n)) ==
          java.lang.Double.doubleToLongBits(twin.getAs[Double](n)),
          s"disc p=$p on $vs: ours=${ours.getAs[Double](n)} " +
            s"builtin=${twin.getAs[Double](n)}")
      }
    }
    // real data, per-group (the q132 shape)
    val ev = Tables.events(spark, Sf).filter(col("value").isNotNull)
      .select(col("event_type"), col("value").as("v"))
    val ours = ExactQuantiles.quantilesDisc(ev, Seq("event_type"), "v",
      Seq("p05" -> 0.05, "p95" -> 0.95))
      .collect().map(r => r.getString(0) ->
        (java.lang.Double.doubleToLongBits(r.getAs[Double]("p05")),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("p95")))).toMap
    val twin = ev.groupBy("event_type").agg(
      expr("percentile_disc(0.05d) WITHIN GROUP (ORDER BY v)").as("p05"),
      expr("percentile_disc(0.95d) WITHIN GROUP (ORDER BY v)").as("p95"))
      .collect().map(r => r.getString(0) ->
        (java.lang.Double.doubleToLongBits(r.getAs[Double]("p05")),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("p95")))).toMap
    assert(ours == twin)
    assert(ours.nonEmpty)
  }

  test("NULL group keys form their own group, like the built-in " +
    "(struct join keys are null-safe — the round-11 ADVICE finding)") {
    val df = Seq(("a", 1.0), ("a", 3.0), (null, 2.0), (null, 6.0),
      (null, 10.0), ("b", 5.0)).toDF("g", "v")
    val ours = ExactQuantiles.quantiles(df, Seq("g"), "v", Ps)
    assert(ours.filter(col("g").isNull).count() == 1,
      "the NULL-keyed group must survive the internal joins")
    assertSame(ours, builtin(df, Seq("g"), "v"), Seq("g"))
    // and with a multi-column group key, nulls in either position
    val df2 = Seq(("a", "x", 1.0), ("a", null, 2.0), ("a", null, 4.0),
      (null, "x", 3.0), (null, null, 8.0)).toDF("g1", "g2", "v")
    assertSame(ExactQuantiles.quantiles(df2, Seq("g1", "g2"), "v", Ps),
      builtin(df2, Seq("g1", "g2"), "v"), Seq("g1", "g2"))
  }

  test("quantilesReleased matches quantiles and drops the internal " +
    "caches, leaving only the persisted group-sized result") {
    val orders = Tables.orders(spark, Sf)
    // absolute counts: earlier tests' by-design cache leaks are
    // GC-collected by the ContextCleaner at arbitrary times, so a
    // before/after delta races — start from a cleared cache instead
    // (unpersistRDD drops the persistentRdds entry synchronously).
    // Clearing the catalog cache alone is not enough: RDD-level
    // persists such as localCheckpoint stay registered until unpersisted
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val snap = ExactQuantiles.quantilesReleased(orders,
      Seq("o_orderstatus"), "o_totalprice", Ps)
    // the eager count inside quantilesReleased already materialized
    // every cache that will ever exist; only the snapshot may remain
    assert(spark.sparkContext.getPersistentRDDs.size == 1,
      "internal histogram/stats caches must be unpersisted")
    assertSame(snap, builtin(orders, Seq("o_orderstatus"),
      "o_totalprice"), Seq("o_orderstatus"))
    // discrete flag routes to the percentile_disc semantics (twin is
    // the built-in so this leg adds no caches of its own)
    val d = ExactQuantiles.quantilesReleased(orders, Seq("o_orderstatus"),
      "o_totalprice", Seq("p50" -> 0.5), discrete = true)
    val dt = orders.groupBy("o_orderstatus").agg(expr(
      "percentile_disc(0.5d) WITHIN GROUP (ORDER BY o_totalprice)").as("p50"),
      count(lit(1)).as("exq_rows"))
    val cols = Seq("o_orderstatus", "p50", "exq_rows")
    assert(d.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      == dt.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq)
    snap.unpersist(blocking = true)
    d.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("result is invariant to physical partitioning (run(1) === run(8))") {
    val base = Tables.documents(spark, Sf)
      .select(col("lang"), col("n_chars").cast("double").as("v"))
    def run(parts: Int) = ExactQuantiles
      .quantiles(base.repartition(parts), Seq("lang"), "v", Ps)
      .collect().map(_.toString).sorted.toSeq
    assert(run(1) == run(8))
  }

  test("empty input yields zero rows (global and grouped)") {
    val empty = spark.emptyDataset[(String, Double)].toDF("g", "v")
    assert(ExactQuantiles.quantiles(empty, Seq("g"), "v", Ps).isEmpty)
    assert(ExactQuantiles.quantiles(empty, Nil, "v", Ps).isEmpty)
  }

  test("plan shape: no value-sized aggregate buffer, no low-parallelism " +
    "window — the collapse the operator exists to remove") {
    val q = ExactQuantiles.quantiles(Tables.orders(spark, Sf),
      Seq("o_orderstatus"), "o_totalprice", Ps)
    assert(graft.plans.AggStateGuard.audit(q,
      Set("o_orderstatus")).isEmpty,
      "ExactQuantiles must not itself carry a value-sized buffer")
    assert(graft.plans.WindowGuard.audit(q, Set("o_orderstatus")).isEmpty,
      "ExactQuantiles' windows must ride aggregated/bucketed frames only")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("percentile("),
      s"the built-in percentile buffer must not appear: $plan")
  }
}
