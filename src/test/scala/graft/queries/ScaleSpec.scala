package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Scale-posture checks: plans that must hold at 100 TB. */
class ScaleSpec extends SparkTestBase {

  test("bucketed fact-fact join is co-located (no shuffle exchange)") {
    val s = spark
    val threshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.Tables.orders(s, Sf).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_bucketed")
      graft.Tables.lineitem(s, Sf).write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_bucketed")
      val joined = s.table("lineitem_bucketed")
        .join(s.table("orders_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_totalprice")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(3000)}")
      assert(joined.count() > 0)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      s.sql("DROP TABLE IF EXISTS orders_bucketed")
      s.sql("DROP TABLE IF EXISTS lineitem_bucketed")
    }
  }

  test("AQE splits a skewed shuffle partition at runtime (skew join)") {
    val s = spark
    import s.implicits._
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> s.conf.get(k))
    try {
      // shrink the skew thresholds so the test-sized skew qualifies;
      // at real scale the defaults (256MB advisory) do this unaided
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 95% of the fact rows share one key — the classic hot-key shape
      val fact = s.range(0, 200000)
        .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val dim = s.range(0, 50000).select(col("id").as("k"),
        (col("id") * 2).as("attr"))
      val joined = fact.join(dim, Seq("k"))
      // collect (not count/write) so THIS Dataset's QueryExecution runs
      // and its AdaptiveSparkPlan finalizes — count/write execute clones
      assert(joined.collect().nonEmpty)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-split join:\n${plan.take(3000)}")
    } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    val s = spark
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> s.conf.get(k))
    try {
      // creation side must be UNDER its threshold, application side
      // OVER its — relax both so the tiny test tables qualify; at real
      // scale the defaults gate this automatically
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dim = graft.Tables.orders(s, Sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = graft.Tables.lineitem(s, Sf)
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity")
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"expected a runtime bloom filter on the fact scan:\n${plan.take(3000)}")
      assert(joined.count() > 0)
    } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("managed-table DDL surface: CTAS, INSERT, catalog listing") {
    val s = spark
    try {
      graft.Tables.nation(s, Sf).createOrReplaceTempView("nation_src")
      s.sql("CREATE TABLE nation_managed USING parquet AS SELECT * FROM nation_src")
      val before = s.table("nation_managed").count()
      s.sql("INSERT INTO nation_managed SELECT * FROM nation_src WHERE n_nationkey = 0")
      assert(s.table("nation_managed").count() == before + 1)
      assert(s.catalog.tableExists("nation_managed"))
      // TRUNCATE-and-reload (the serving-store refresh idiom, SURVEY §2.3 K3)
      s.sql("TRUNCATE TABLE nation_managed")
      assert(s.table("nation_managed").count() == 0)
      s.sql("INSERT INTO nation_managed SELECT * FROM nation_src")
      assert(s.table("nation_managed").count() == before)
    } finally s.sql("DROP TABLE IF EXISTS nation_managed")
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // the star-join scale pattern: the fact is partitioned on the join
    // key, the dim filter is only known after planning — DPP turns the
    // dim's build side into a runtime partition filter on the fact
    // scan, so a 100 TB fact reads only the partitions the dim selects
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    graft.Tables.orders(spark, Sf).write.mode("overwrite")
      .partitionBy("o_orderpriority").parquet(out)
    val fact = spark.read.parquet(out)
    import spark.implicits._
    // the filter is on a NON-key dim column: the matching partitions
    // are unknowable at plan time (a filter directly on the join key
    // would constant-propagate into a STATIC partition filter, and an
    // in-memory dim would constant-FOLD the filter away entirely — the
    // dim must be a file source for a selective Filter node to exist)
    // (and an equality predicate — DPP's isLikelySelective heuristic
    // does not treat a bare boolean column as selective)
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("1-URGENT", "hot"), ("2-HIGH", "warm"), ("3-MEDIUM", "warm"),
      ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold"))
      .toDF("o_orderpriority", "urgency")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.filter(col("urgency") === "hot"), "o_orderpriority")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(3000))
    val expected = graft.Tables.orders(spark, Sf)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    assert(joined.count() == expected)
  }

  test("partitioned write prunes partitions on a partition-key filter") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    graft.Tables.documents(spark, Sf).write.mode("overwrite")
      .partitionBy("lang").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("lang") === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      plan.take(3000))
    val expected = graft.Tables.documents(spark, Sf)
      .filter(col("lang") === "en").count()
    assert(pruned.count() == expected)
  }

  test("compaction rewrites a many-small-files dir into few right-sized files") {
    val in = java.nio.file.Files.createTempDirectory("graft_frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val docs = graft.Tables.documents(spark, Sf)
    docs.repartition(40).write.mode("overwrite").parquet(in)
    def parquetFiles(d: String) = new java.io.File(d).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(in) == 40)
    graft.operators.Compaction.compact(spark, in, out)
    assert(parquetFiles(out) < 40)
    assert(spark.read.parquet(out).count() == docs.count())
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$out/gen=1")
    Seq((2L, "b", 3.5)).toDF("id", "v1", "v2").write.parquet(s"$out/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.toSet == Set("id", "v1", "v2", "gen"))
    // old-generation rows surface the new column as NULL
    val old = merged.filter(col("gen") === 1).head()
    assert(old.isNullAt(old.fieldIndex("v2")))
    assert(merged.count() == 2)
  }

  test("salted join returns exactly the plain join's rows") {
    val orders = graft.Tables.orders(spark, Sf)
    val customer = graft.Tables.customer(spark, Sf)
    val plain = orders.join(customer,
      col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_custkey", "c_mktsegment")
    val salted = graft.operators.SkewJoin.saltedInnerJoin(
      orders, col("o_custkey"), customer, col("c_custkey"),
      rowDiscriminator = Seq(col("o_orderkey")), saltBuckets = 7)
      .select("o_orderkey", "c_custkey", "c_mktsegment")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("AQE coalesces shuffle partitions in the final plan") {
    val df = graft.Tables.orders(spark, Sf)
      .groupBy("o_orderstatus").count()
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") || plan.contains("coalesced"),
      plan.take(3000))
  }

  test("json and orc round-trip the events shape") {
    val ev = graft.Tables.events(spark, Sf)
    val jsonDir = java.nio.file.Files.createTempDirectory("graft_json").toString
    val orcDir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    ev.write.mode("overwrite").json(jsonDir)
    ev.write.mode("overwrite").orc(orcDir)
    val fromJson = spark.read.schema(ev.schema).json(jsonDir)
    val fromOrc = spark.read.orc(orcDir)
    assert(fromJson.count() == ev.count())
    assert(fromOrc.count() == ev.count())
    assert(fromOrc.schema == ev.schema)
    // values survive: compare a keyed aggregate across formats
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .agg(sum("event_id"), sum(length(col("props")))).head().toSeq
    assert(sig(fromJson) == sig(ev) && sig(fromOrc) == sig(ev))
  }

  test("stratified sample respects per-language fractions") {
    val sampled = graft.queries.TextOps
      .q58StratifiedSample(spark, "/root/testdata/sf0.01").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_sampled")).toMap
    val totals = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    // Bernoulli sampling: expect fraction ± generous tolerance
    val fr = Map("en" -> 0.5, "es" -> 0.2, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.2)
    sampled.foreach { case (lang, n) =>
      val expected = totals(lang) * fr(lang)
      assert(math.abs(n - expected) < totals(lang) * 0.25 + 10,
        s"$lang: sampled $n of ${totals(lang)}, expected ~$expected")
    }
  }

  test("10x stress: iterative/graph family survives an order-of-magnitude scale-up") {
    // Opt-in (several minutes): GRAFT_STRESS=1 sbt "testOnly
    // graft.queries.ScaleSpec -- -z 10x". Converts the "would survive
    // 100x" scale commentary on q114/q67/q152/q157 into evidence: the
    // same plans run on 6M lineitem rows / 50k documents (10x sf0.1,
    // generated here, never shipped) and must complete — no broadcast-
    // size failure, no driver OOM — with their output invariants
    // intact. Growth shape mirrors reality: 10x more ORDERS over the
    // same part catalog (graph nodes stay catalog-bounded; baskets
    // multiply), and 10 exact replicas per document (dedup pressure:
    // every block's candidate count grows ~100x).
    assume(sys.env.get("GRAFT_STRESS").contains("1"),
      "opt-in stress test; set GRAFT_STRESS=1 to run")
    val base = "/root/testdata/sf0.1"
    val dir = java.nio.file.Files.createTempDirectory("graft_stress").toString
    val reps = spark.range(10).select(col("id").as("rep"))
    val li = graft.Tables.lineitem(spark, base)
    val maxOk = li.agg(max("l_orderkey")).head().getLong(0) + 1
    li.crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * maxOk)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val docs = graft.Tables.documents(spark, base)
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.crossJoin(reps)
      .withColumn("doc_id", col("doc_id") + col("rep") * maxDoc)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // orders replicate with the SAME orderkey shift as lineitem (the
    // join key stays consistent); custkeys unchanged — every customer
    // simply orders 10x more, so the bipartite/ratings graphs densify
    graft.Tables.orders(spark, base).crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * maxOk)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      info(f"$name: ${(System.nanoTime() - t0) / 1e9}%.1f s at 10x")
      r
    }
    // top-20/top-100 shapes stay fixed-size however large the input
    assert(timed("q152")(WarehouseOps.q152Itemsets(spark, dir).count()) == 20)
    assert(timed("q114")(WarehouseOps.q114PageRank(spark, dir).count()) == 100)
    assert(timed("q157")(WarehouseOps.q157KcorePeel(spark, dir).count()) > 0)
    // round-8 iterative additions: HITS, rank-1 ALS, A-priori triples —
    // all top-k-shaped outputs, so cardinality stays fixed at 10x
    assert(timed("q192")(WarehouseOps.q192Hits(spark, dir).count()) == 50)
    assert(timed("q199")(WarehouseOps.q199AlsRank1(spark, dir).count()) == 20)
    assert(timed("q206")(WarehouseOps.q206Apriori3(spark, dir).count()) == 20)
    // every replica must land in its original's cluster: labels are
    // min-reachable doc_id, so all cluster ids stay below the original
    // id range — pointer-jumping converged across the 10x replica fan
    val cc = timed("q67")(ExtendedOps.q67DedupClusters(spark, dir))
    val stats = cc.agg(count(lit(1)), max(col("cluster_id"))).head()
    assert(stats.getLong(0) >= 10L * docs.filter(col("text").isNotNull).count(),
      "every replicated doc must be clustered")
    assert(stats.getLong(1) < maxDoc,
      s"replica clusters must label with the ORIGINAL doc_id (< $maxDoc)")
    // round-9 additions — exact replicas make the scale invariants
    // sharp rather than statistical:
    // CDC chunking: replicas chunk identically, so per-source DISTINCT
    // chunks are unchanged at 10x while total bytes are exactly 10x
    val cdc1 = CorpusOps.q215CdcChunks(spark, base).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_distinct"), r.getAs[Long]("chunk_bytes"))).toMap
    val cdc10 = timed("q215")(CorpusOps.q215CdcChunks(spark, dir).collect())
    cdc10.foreach { r =>
      val (d1, b1) = cdc1(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_distinct") === d1,
        s"${r.getAs[String]("source")}: replicas invented new chunks")
      assert(r.getAs[Long]("chunk_bytes") === 10L * b1)
    }
    // SemDeDup: replicate embeddings too — every replica has its
    // original at cosine 1.0, so all 9x replicas are dropped and every
    // replica's dedup target is an ORIGINAL vector id
    val emb = graft.Tables.embeddings(spark, base)
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    emb.crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + col("rep") * maxVec)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val sd = VectorOps.q211SemDedup(spark, dir)
    val replicas = sd.filter(col("vec_id") >= maxVec)
    assert(timed("q211")(replicas.count()) === 9L * emb.count(),
      "every replicated vector must be flagged as a duplicate")
    assert(replicas.filter(col("dup_of") >= maxVec).count() === 0L,
      "every replica must dedup against an ORIGINAL vector")
    // CMS: the sketch stays 4x256 cells no matter the corpus size
    val cms = timed("q214")(TextOps.q214CountMin(spark, dir).collect())
    assert(cms.length === 20)
    cms.foreach(r => assert(r.getAs[Long]("overest") >= 0L))
    // ---- round-10 additions: the near-dup/ANN tiers' scale guards,
    // measured rather than asserted-by-comment.
    // q37 MinHash-LSH bucket cap: 10 identical replicas multiply every
    // band bucket by exactly 10, so buckets that held >6 docs blow past
    // the 64-doc cap and are carved out — the boilerplate guard must
    // FIRE under dedup pressure, and the surviving candidate-pair
    // volume must respect the exact replica identity
    // C(10s,2) = 100·C(s,2) + 45·s, minus everything the cap removed.
    def bucketStats(d: String) = {
      val sizes = TextOps.minhashBanded(TextOps.minhashDocs(spark, d))
        .groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))
        .select(col("bsz")).collect().map(_.getLong(0))
      val capped = sizes.count(_ > 64L)
      val okPairVol = sizes.filter(_ <= 64L).map(s => s * (s - 1) / 2).sum
      val rows = sizes.sum
      (capped, okPairVol, rows)
    }
    val (capped1, vol1, rows1) = bucketStats(base)
    val (capped10, vol10, rows10) = timed("q37 buckets")(bucketStats(dir))
    info(s"q37 cap hits: $capped1 buckets at 1x -> $capped10 at 10x; " +
      s"surviving pair volume $vol1 -> $vol10 (of ${rows10} banded rows)")
    assert(capped10 > capped1,
      "the 64-doc bucket cap must fire under 10x replica pressure")
    assert(vol10 < 100L * vol1 + 45L * rows1,
      s"cap must keep candidate volume strictly below the uncapped " +
        s"replica identity: $vol10 >= ${100L * vol1 + 45L * rows1}")
    // q198 PPJoin funnel: the count filter must still collapse the
    // inverted-index candidate multiplicity by >95%, and the verified
    // output must equal the exact replica identity
    // 100·pairs(1x) + 45·docs (every original pair fans to 10x10, and
    // each doc pairs with its 9 replicas).
    val (mult1, surv1, res1, nGramDocs) = TextOps.prefixJoinFunnel(spark, base)
    val (mult10, surv10, res10, _) =
      timed("q198 funnel")(TextOps.prefixJoinFunnel(spark, dir))
    info(s"q198 funnel 1x: $mult1 -> $surv1 -> $res1; " +
      s"10x: $mult10 -> $surv10 -> $res10 (gram docs: $nGramDocs)")
    assert(res10 === 100L * res1 + 45L * nGramDocs,
      s"exact-replica output identity violated: $res10 != " +
        s"${100L * res1 + 45L * nGramDocs}")
    assert(surv10 * 20L <= mult10,
      s"count filter must collapse >=95% of candidates at 10x: " +
        s"$surv10 of $mult10 survive")
    // q162 IVF probe fraction: replicas follow their originals through
    // the (deterministic, integer) k-means quantizer, so the probed
    // fraction of the corpus is IDENTICAL at 1x and 10x — scored
    // volume grows exactly linearly, never toward a full scan
    // q230 novelty: the split is a hash of the TEXT, so every replica
    // lands in its original's split — train's distinct-gram set is
    // UNCHANGED, held instances are exactly 10x, and the novelty rate
    // is IDENTICAL to the ppm
    val nov1 = CorpusOps.q230NoveltyRate(spark, base).collect()
      .map(r => r.getAs[String]("split") -> r).toMap
    val nov10 = timed("q230")(CorpusOps.q230NoveltyRate(spark, dir).collect())
    nov10.foreach { r =>
      val b = nov1(r.getAs[String]("split"))
      assert(r.getAs[Long]("n_grams") === 10L * b.getAs[Long]("n_grams"))
      assert(r.getAs[Long]("n_novel") === 10L * b.getAs[Long]("n_novel"))
      assert(r.getAs[Long]("n_distinct") === b.getAs[Long]("n_distinct"),
        "replicas must not invent distinct grams")
      assert(r.getAs[Long]("n_distinct_novel") ===
        b.getAs[Long]("n_distinct_novel"))
      assert(r.getAs[Long]("novelty_ppm") === b.getAs[Long]("novelty_ppm"),
        "the novelty RATE must be scale-invariant under replication")
    }
    val (sc1, n1, nq1) = MlOps.ivfProbeStats(spark, base)
    val (sc10, n10, nq10) = timed("q162 probes")(MlOps.ivfProbeStats(spark, dir))
    info(s"q162 probed volume: $sc1/$n1 (1x) -> $sc10/$n10 (10x), " +
      s"$nq1/$nq10 queries")
    assert(nq10 === nq1, "query ids < 5 don't replicate")
    // exact linear growth, up to the query-replica wrinkle: replicas
    // of the 5 query vectors land on the CANDIDATE side at 10x (new
    // ids >= maxVec), each following its original's argmax list —
    // bounded by 9 replicas x 5 queries x nq probing queries
    assert(sc10 >= 10L * sc1 && sc10 <= 10L * sc1 + 9L * nq1 * nq1,
      s"probed volume must scale linearly: $sc10 vs ${10L * sc1} " +
        s"(+<=${9L * nq1 * nq1} query-replica slack)")
    assert(sc10 < n10 * nq10,
      "probing must never degrade to a per-query full scan")
    // ---- round-11 additions: the six reworked window plans (q228
    // precedent — two-phase row numbering / prefix sums and
    // bounded-heap top-k) run at 10x with exact replica invariants.
    // q210: replicas multiply every (lang, token) count by exactly 10,
    // so the heap leaderboard is IDENTICAL with cnt scaled 10x
    val hh1 = TextOps.q210HeavyHittersExact(spark, base).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("token"), r.getAs[Long]("cnt"))).toMap
    val hh10 = timed("q210")(
      TextOps.q210HeavyHittersExact(spark, dir).collect())
    assert(hh10.length === hh1.size)
    hh10.foreach { r =>
      val (t1, c1) = hh1((r.getAs[String]("lang"), r.getAs[Long]("rank")))
      assert(r.getAs[String]("token") === t1,
        "replicas must not reorder the exact top-8")
      assert(r.getAs[Long]("cnt") === 10L * c1)
    }
    // q104: the Zipf head's ranks are count-scale-invariant, so
    // n_terms is unchanged and the slope moves only by the
    // floor(ln·1e6) quantization of the 10x counts
    val zf1 = CorpusOps.q104ZipfFit(spark, base).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val zf10 = timed("q104")(CorpusOps.q104ZipfFit(spark, dir).collect())
    zf10.foreach { r =>
      val b = zf1(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_terms") === b.getAs[Long]("n_terms"))
      assert(math.abs(r.getAs[Double]("slope") - b.getAs[Double]("slope"))
        < 1e-4, s"${r.getAs[String]("lang")}: slope moved beyond " +
          "quantization noise")
    }
    // q105: every replica carries its original's A-ES key (key is a
    // pure function of text and n_chars), originals win ties on
    // doc_id — so rank 1 is the SAME document, and every 10x winner
    // is a copy of a 1x winner
    val ws1 = CorpusOps.q105WeightedSample(spark, base).collect()
    val ws10 = timed("q105")(
      CorpusOps.q105WeightedSample(spark, dir).collect())
    val win1 = ws1.groupBy(_.getAs[String]("lang"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    val rank1 = ws1.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("doc_id")).toMap
    ws10.foreach { r =>
      val lang = r.getAs[String]("lang")
      assert(win1(lang).contains(r.getAs[Long]("doc_id") % maxDoc),
        s"$lang: a 10x winner is not a copy of any 1x winner")
      if (r.getAs[Int]("rank") == 1)
        assert(r.getAs[Long]("doc_id") === rank1(lang),
          s"$lang: the global-min key must keep winning at 10x")
    }
    // q72: replicas append after the originals in doc_id order, so
    // the original ids' prefix sums are bit-identical and each lang's
    // final cumulative token count is exactly 10x
    val sp1 = TextOps.q72SequencePacking(spark, base).collect()
    val sp10 = timed("q72")(TextOps.q72SequencePacking(spark, dir))
    val cum1 = sp1.map(r => (r.getAs[String]("lang"),
      r.getAs[Long]("doc_id")) -> r.getAs[Long]("cum")).toMap
    val orig10 = sp10.filter(col("doc_id") < maxDoc).collect()
    assert(orig10.length === sp1.length)
    orig10.foreach { r =>
      assert(r.getAs[Long]("cum") ===
        cum1((r.getAs[String]("lang"), r.getAs[Long]("doc_id"))),
        "replica suffix must not disturb the original prefix sums")
    }
    val tot1 = sp1.groupBy(_.getAs[String]("lang"))
      .view.mapValues(_.map(_.getAs[Long]("cum")).max).toMap
    sp10.groupBy("lang").agg(max("cum").as("m")).collect().foreach { r =>
      assert(r.getAs[Long]("m") === 10L * tot1(r.getAs[String]("lang")))
    }
    // q161: counts scale 10x exactly; the Gini of a 10x-replicated
    // distribution moves only by the discrete n -> 10n correction
    val gi1 = CorpusOps.q161GiniLengths(spark, base).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val gi10 = timed("q161")(CorpusOps.q161GiniLengths(spark, dir).collect())
    gi10.foreach { r =>
      val b = gi1(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") === 10L * b.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("total_chars") === 10L * b.getAs[Long]("total_chars"))
      assert(math.abs(r.getAs[Double]("gini") - b.getAs[Double]("gini"))
        < 0.01)
    }
    // q195: two-phase row numbering must produce a gap-free global
    // index at 10x — every block except the last holds exactly 1000
    // rows, so n_blocks = ceil(rows/1000) exactly; the clustered
    // layout's skip ratios move only by block-boundary effects
    val zm1 = WarehouseOps.q195Zonemap(spark, base).collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[String]("pred")) -> r)
      .toMap
    val zm10 = timed("q195")(WarehouseOps.q195Zonemap(spark, dir).collect())
    zm10.foreach { r =>
      val b = zm1((r.getAs[String]("layout"), r.getAs[String]("pred")))
      val total10 = r.getAs[Long]("rows_total")
      assert(total10 === 10L * b.getAs[Long]("rows_total"))
      assert(r.getAs[Long]("n_blocks") === (total10 + 999L) / 1000L,
        "global row numbers must stay gap-free (exactly-1000-row blocks)")
      assert(math.abs(r.getAs[Long]("skip_ppm") -
        b.getAs[Long]("skip_ppm")) <= 5000L,
        s"${r.getAs[String]("layout")}/${r.getAs[String]("pred")}: skip " +
          "ratio moved beyond block-boundary noise")
    }
    // q155: two-phase bucketed ranking completes at 10x; replica
    // vec_ids reshuffle fold membership, so per-fold AUC is a fresh
    // 10x-size sample of the same score/label population — it must
    // stay near the 1x value (population AUC), not exactly equal
    val auc1 = MlOps.q155RocAuc(spark, base).collect()
      .map(r => r.getAs[Int]("fold") -> r.getAs[Double]("auc")).toMap
    val auc10 = timed("q155")(MlOps.q155RocAuc(spark, dir).collect())
    assert(auc10.length === 5)
    auc10.foreach { r =>
      assert(math.abs(r.getAs[Double]("auc") -
        auc1(r.getAs[Int]("fold"))) < 0.05)
    }
    // ExactQuantiles (round-11 addendum — the agg-state rework): a
    // 10x-replicated multiset has identical cume_dist steps, so
    // DISCRETE cut points are exactly replication-invariant (q132's
    // p05/p95 must be bit-equal), row counts scale exactly 10x, and
    // interpolated medians can move only within one distinct-value
    // step around the 1x value. No buffer holds more than the task's
    // histogram slice at any size — the property the rework bought.
    spark.read.parquet(s"$base/events.parquet").crossJoin(reps).drop("rep")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val w1 = SqlOps.q132Winsorize(spark, base).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val w10 = timed("q132")(SqlOps.q132Winsorize(spark, dir).collect())
    w10.foreach { r =>
      val b = w1(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n") === 10L * b.getAs[Long]("n"))
      assert(r.getAs[Long]("n_lo") === 10L * b.getAs[Long]("n_lo"),
        "disc p05 cut must be exactly replication-invariant")
      assert(r.getAs[Long]("n_hi") === 10L * b.getAs[Long]("n_hi"),
        "disc p95 cut must be exactly replication-invariant")
    }
    val q50b = Relational.q50Percentiles(spark, base).collect()
      .map(r => r.getAs[String]("o_orderstatus") -> r).toMap
    val q50s = timed("q50")(Relational.q50Percentiles(spark, dir).collect())
    q50s.foreach { r =>
      val b = q50b(r.getAs[String]("o_orderstatus"))
      assert(r.getAs[Long]("n") === 10L * b.getAs[Long]("n"))
      Seq("p25", "p50", "p75", "med").foreach { c =>
        val d = math.abs(r.getAs[Double](c) - b.getAs[Double](c))
        assert(d <= math.abs(b.getAs[Double](c)) * 1e-3 + 1.0,
          s"$c moved beyond one distinct-price step under replication: $d")
      }
    }
    val m1 = EventOps.q160RobustOutliers(spark, base).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val m10 = timed("q160")(EventOps.q160RobustOutliers(spark, dir).collect())
    m10.foreach { r =>
      val b = m1(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n") === 10L * b.getAs[Long]("n"))
      assert(math.abs(r.getAs[Double]("median_value") -
        b.getAs[Double]("median_value")) <= 0.01,
        "median can move at most one cent under exact replication")
      assert(math.abs(r.getAs[Double]("mad_value") -
        b.getAs[Double]("mad_value")) <= 0.01)
    }
  }

  test("pipeline fails fast on missing input (documented divergence)") {
    // the reference swallows exceptions and exits 0
    // (process_iot_data.py:273-282); we fail loudly — SURVEY.md §3.1.6
    intercept[Exception] {
      graft.iot.IotPipeline.run(spark, "/nonexistent/path", "/tmp/graft_nope")
    }
  }

  test("dynamic partition overwrite replaces only touched partitions") {
    val s = spark
    val out = java.nio.file.Files.createTempDirectory("graft_dyn").toString
    val mode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val docs = graft.Tables.documents(s, Sf)
      docs.write.partitionBy("lang").mode("overwrite").parquet(out)
      val before = s.read.parquet(out).count()
      // overwrite ONLY the 'en' partition with a single row
      docs.filter(col("lang") === "en").limit(1)
        .write.partitionBy("lang").mode("overwrite").parquet(out)
      val after = s.read.parquet(out)
      val enCount = after.filter(col("lang") === "en").count()
      val otherBefore = docs.filter(col("lang") =!= "en").count()
      assert(enCount == 1)
      assert(after.filter(col("lang") =!= "en").count() == otherBefore,
        s"non-en partitions must be untouched (before=$before)")
    } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
  }

  /** `out` holds exactly the rows of `expected`, every file is sorted
    * by uid (NULL first, then unsigned-byte order) and no two files'
    * `[min, max]` uid ranges meet — a total order across the store. */
  private def assertTotallyOrdered(out: String,
      expected: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.unsafe.types.UTF8String
    val back = spark.read.parquet(out)
    assert(back.count() == expected.count(), "rows lost or duplicated")
    assert(back.exceptAll(expected).isEmpty && expected.exceptAll(back).isEmpty)
    def before(a: UTF8String, b: UTF8String) =
      b != null && (a == null || a.binaryCompare(b) < 0)
    val files = new java.io.File(out).listFiles
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    val uids = files.map(f => spark.read.parquet(f).select("uid").collect()
        .map(r => UTF8String.fromString(r.getString(0))).toSeq)
      .filter(_.nonEmpty)
    uids.foreach(u => assert(u.sliding(2).forall {
      case Seq(a, b) => !before(b, a)
      case _ => true
    }, "a store file is not sorted by uid"))
    val ranges = uids.toSeq.map(u => (u.head, u.last)).sortWith((x, y) => before(x._1, y._1))
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(before(hi, lo), s"uid ranges overlap at [$hi, $lo]")
      case _ =>
    }
  }

  test("sorted-store write produces non-overlapping uid ranges") {
    val out = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    val df = graft.iot.Transforms.transform(
      graft.iot.IotPipeline.readCsv(spark, "/root/repo/fixtures/iot_conn.csv"))
    graft.iot.IotPipeline.writeSortedByUid(df, out)
    assert(spark.read.parquet(out).count() == 8)
    assertTotallyOrdered(out, df)
    // the session-sized ranges of a tiny input coalesce (AQE) into one file
    assert(new java.io.File(out).list().count(_.endsWith(".parquet")) == 1)
  }

  test("sorted-store write stays totally ordered with NULL uids and with " +
    "every uid sharing one long prefix, through both overloads") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val prefix = "C" * 300
    val shared = (0 until 2000)
      .map(i => (prefix + rnd.alphanumeric.take(6).mkString, i)).toDF("uid", "n")
    val withNulls = (0 until 2000)
      .map(i => (if (i % 3 == 0) None else Some(rnd.alphanumeric.take(8).mkString), i))
      .toDF("uid", "n")
    for (df <- Seq(shared, withNulls)) {
      val out = java.nio.file.Files.createTempDirectory("graft_sorted").toString
      graft.iot.IotPipeline.writeSortedByUid(df, out)
      assertTotallyOrdered(out, df)
      // byte-sized: a small target forces many more ranges than cores
      val many = java.nio.file.Files.createTempDirectory("graft_sorted").toString
      graft.iot.IotPipeline.writeSortedByUid(df, many, 4096L)
      assert(new java.io.File(many).list().count(_.endsWith(".parquet")) > 4)
      assertTotallyOrdered(many, df)
    }
  }
}
