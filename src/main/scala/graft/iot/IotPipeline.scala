package graft.iot

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.RangeBucket

/** End-to-end IoT-23 batch pipeline: CSV directory scan → transform →
  * Parquet, mirroring the reference job (`process_iot_data.py:235-271`)
  * with one documented divergence: we FAIL FAST on errors instead of
  * logging-and-exiting-0 (the reference swallows all exceptions at
  * `:273-282`, so a missing input path still "succeeds" — a trap for
  * orchestration; see SURVEY.md §3.1.6).
  *
  * Scale posture (~39 GB CSV in the reference; design for 100 TB):
  * the plan is a single narrow stage — FileScan csv → Project →
  * WriteFiles — no shuffle, no wide dependency; parallelism is file
  * splits, so it scales linearly with executors. The sorted variant
  * adds the one shuffle that the semantics genuinely require, plus a
  * sampling job over the uid column alone for its range bounds; the
  * full scan and transform still run once.
  */
object IotPipeline {

  /** S1 — CSV directory scan with fixed, enforced schema
    * (`process_iot_data.py:245-253`): header row skipped but NOT
    * validated (enforceSchema trusts the declared schema positionally),
    * Zeek's `-` unset-marker ⇒ NULL, recursive lookup.
    *
    * Poison posture (PoisonInputSpec): Spark's default PERMISSIVE mode
    * is load-bearing at scale — unparseable fields and short rows
    * become NULLs, long rows drop the excess without shifting, binary
    * junk survives as a NULL-padded row, and the downstream transform
    * program is total over all of them. One malformed record must
    * never kill a 100 TB job. */
  def readCsv(spark: SparkSession, inputPath: String): DataFrame =
    spark.read
      .schema(IotSchema.raw)
      .option("header", true)
      .option("sep", ",")
      .option("nullValue", "-")
      .option("recursiveFileLookup", true)
      .option("enforceSchema", true)
      .csv(inputPath)

  /** K1 — Parquet overwrite write (`process_iot_data.py:264-267`). */
  def writeParquet(df: DataFrame, outputPath: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(outputPath)

  /** K3 — the reference's serving store is a MergeTree sorted by `uid`
    * (`clickhouse_scripts/init_db.sql:30-31`, loaded by truncate +
    * positional insert, `dags/iot_processing_dag.py:55-75`). The
    * engine-native equivalent of "sorted store" is a parquet write
    * range-partitioned AND sorted by the key: a range shuffle gives
    * non-overlapping key ranges across files and `sortWithinPartitions`
    * orders within each — together a total order usable for min/max
    * row-group pruning on `uid` lookups, which is what MergeTree's
    * primary index buys the reference. The range count is the
    * session's shuffle partition count, and AQE may merge adjacent
    * ranges of a small input; for known-large inputs use the byte-sized
    * overload below. */
  def writeSortedByUid(df: DataFrame, outputPath: String): Unit =
    writeSortedByUid(df, outputPath, None, identity)

  /** Byte-sized sorted write for the 100 TB case: the range-partition
    * count comes from the optimizer's size estimate over a target
    * bytes-per-partition, NOT from `spark.sql.shuffle.partitions` —
    * with the latter pinned to CPU count, a 100 TB input would create
    * ~TB-sized range partitions. The count is fixed up front (AQE
    * neither splits nor coalesces a counted repartition). */
  def writeSortedByUid(df: DataFrame, outputPath: String,
      targetPartitionBytes: Long): Unit = {
    val estimated = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (estimated / targetPartitionBytes).toLong.max(1L)
      .min(Int.MaxValue.toLong).toInt
    writeSortedByUid(df, outputPath, Some(n), identity)
  }

  /** The one sorted-write body. Range bounds come from a reservoir
    * sample of `df.select("uid")` — Catalyst prunes that to a uid-only
    * scan, so the sampling job skips the rest of the plan (for the IoT
    * frame: every other CSV column and the duration regexes) that
    * `repartitionByRange`'s own sampling pass re-runs in full. Rows are
    * then routed by [[graft.functions.RangeBucket]], which places each
    * key exactly where `RangePartitioner` would. `n` fixes the range
    * count; without it the count is the session's and AQE may coalesce
    * (merging adjacent ranges keeps the order total). `above` wraps the
    * sorted frame just before the write (e.g. an `observe`), so it runs
    * once, in the write's result stage. */
  private[iot] def writeSortedByUid(df: DataFrame, outputPath: String,
      n: Option[Int], above: DataFrame => DataFrame): Unit = {
    val ranges = n.getOrElse(df.sparkSession.sessionState.conf.numShufflePartitions)
    val bounds = RangeBucket.sampleBounds(df.select("uid"), ranges)
    val routed = Bridge.repartitionById(df, n,
      Bridge.column(RangeBucket(Bridge.expr(df("uid")), bounds)))
    writeParquet(above(routed.sortWithinPartitions("uid")), outputPath)
  }

  /** K2 — JDBC append sink (dead code in the reference — defined at
    * `process_iot_data.py:190-232` but never called, and guarded so an
    * incomplete config no-ops at `:209-213`). Re-expressed faithfully:
    * requires `clickhouse.jdbc_url` / `clickhouse.driver` /
    * `clickhouse.table`; password sourced from the CLICKHOUSE_PASSWORD
    * env var (`:201`); `batchsize` 100k / `socket_timeout` 300 s
    * defaults (`:207,219-220`). Returns false (no write attempted)
    * when the guard trips — mirroring the reference's silent skip. */
  def writeJdbc(df: DataFrame, cfg: Map[String, String]): Boolean = {
    val required = Seq("clickhouse.jdbc_url", "clickhouse.driver",
      "clickhouse.table")
    if (!required.forall(cfg.contains)) return false
    df.write.format("jdbc")
      .option("url", cfg("clickhouse.jdbc_url"))
      .option("driver", cfg("clickhouse.driver"))
      .option("dbtable", cfg("clickhouse.table"))
      .option("user", cfg.getOrElse("clickhouse.user", "default"))
      .option("password", sys.env.getOrElse("CLICKHOUSE_PASSWORD", ""))
      .option("batchsize", cfg.getOrElse("clickhouse.batchsize", "100000"))
      .option("socket_timeout", cfg.getOrElse("clickhouse.socket_timeout", "300000"))
      .mode(SaveMode.Append)
      .save()
    true
  }

  /** Serving-store FULL-REFRESH cycle — the reference DAG's load
    * semantic (`dags/iot_processing_dag.py:55-75`): TRUNCATE the
    * serving table, then POSITIONAL insert (ClickHouse's
    * `INSERT … SELECT … FROM file(…)` binds columns by position, not
    * name — Spark's `insertInto` has exactly that resolution rule, so
    * a frame with different column NAMES but matching positions loads
    * identically). Creates the table from the frame's schema on first
    * refresh. Idempotent by construction: any rerun — including a
    * retry after a partial failure — leaves the table equal to the
    * source frame, never appended or doubled; that is the property
    * that makes the DAG's daily refresh safe to re-run.
    *
    * NON-transactional, like the reference DAG's two-task cycle (a
    * fidelity choice): between the TRUNCATE and the completed load,
    * concurrent readers observe an empty or partially-loaded table,
    * and a crash in that window leaves the table empty UNTIL the
    * rerun — "idempotent" covers completed reruns, not mid-refresh
    * visibility. A refresh that must stay atomic for readers would
    * load into a staging table and swap names (or use
    * `insertInto(table, overwrite = true)` to collapse the two steps
    * into one job). */
  def refreshServing(spark: SparkSession, df: DataFrame,
      table: String): Unit = {
    if (!spark.catalog.tableExists(table))
      df.limit(0).write.saveAsTable(table)
    spark.sql(s"TRUNCATE TABLE $table")
    df.write.insertInto(table)
  }

  /** Full pipeline: scan → transform → overwrite parquet. Fails fast. */
  def run(spark: SparkSession, inputPath: String, outputPath: String,
      sortedByUid: Boolean = false): Unit = {
    val out = Transforms.transform(readCsv(spark, inputPath))
    if (sortedByUid) writeSortedByUid(out, outputPath)
    else writeParquet(out, outputPath)
  }

  /** Pipeline run with data-quality observability: row count, NULL
    * durations, and malicious-label count are accumulated DURING the
    * write (zero extra passes — `observe` attaches accumulators to the
    * existing job), the production replacement for the reference's
    * printSchema-only "validation" (`process_iot_data.py:256,262`). */
  def runWithMetrics(spark: SparkSession, inputPath: String,
      outputPath: String): Map[String, Long] = {
    val obs = Observation("iot_metrics")
    writeParquet(observeQuality(
      Transforms.transform(readCsv(spark, inputPath)), obs), outputPath)
    qualityCounts(obs)
  }

  /** `df` with the three data-quality counters — `rows`,
    * `null_durations`, `malicious_rows` — observed into `obs`. Put it
    * where the frame runs once (after any range shuffle): Spark applies
    * a result stage's accumulator update once per partition even when a
    * task is retried. */
  private[iot] def observeQuality(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs,
      count(lit(1)).as("rows"),
      sum(when(col("duration_sec").isNull, 1L).otherwise(0L)).as("null_durations"),
      sum(when(col("label") === "Malicious", 1L).otherwise(0L)).as("malicious_rows"))

  /** The counters of [[observeQuality]] once its action has run; a sum
    * over no rows reads 0. */
  private[iot] def qualityCounts(obs: Observation): Map[String, Long] =
    obs.get.map { case (k, v) => k -> Option(v).fold(0L)(_.asInstanceOf[Long]) }
}
