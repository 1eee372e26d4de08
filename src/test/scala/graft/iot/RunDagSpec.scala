package graft.iot

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The orchestrated DAG main ([[RunDag]]) run END-TO-END, twice —
  * the refresh-contract idempotence the reference DAG's safe daily
  * re-run relies on (r12 verdict item 7): a completed rerun leaves
  * the serving table EQUAL to the source, never appended/doubled,
  * and the cleanup task actually removes the previous cycle's
  * parquet. */
class RunDagSpec extends SparkTestBase {

  private val Csv = "/root/repo/fixtures/iot_conn.csv"

  private def location(table: String): java.io.File =
    new java.io.File(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location)

  /** The load stages each copy under a hidden name; none may remain. */
  private def assertNoStaging(table: String): Unit = {
    val names = location(table).list().toSeq
    assert(names.exists(_.endsWith(".parquet")) || spark.table(table).isEmpty)
    assert(!names.exists(_.contains("staging")), s"left behind: $names")
  }

  test("full DAG cycle twice: cleanup fires on the rerun, the serving " +
    "table equals the transform output both times (idempotent refresh), " +
    "and the observe counters match the fixture") {
    val dir = Files.createTempDirectory("graft_dag").toString + "/parquet"
    val table = "iot_dag_spec_serving"
    spark.sql(s"DROP TABLE IF EXISTS $table")

    val r1 = RunDag.runDag(spark, Csv, dir, table)
    // first cycle: nothing to clean (the dir did not exist yet)
    assert(!r1.cleanedPrevious)
    // fixture: 8 data rows, 1 with a '-' duration, 3 Malicious labels
    val expectRows = Transforms
      .transform(IotPipeline.readCsv(spark, Csv)).count()
    assert(r1.rowsWritten == expectRows && expectRows > 0)
    assert(r1.servingCount == r1.rowsWritten)
    assert(r1.servingCount == spark.table(table).count())
    assertNoStaging(table)

    def snapshot(): Seq[String] =
      spark.table(table).orderBy("uid").collect().map(_.toString).toSeq
    val snap1 = snapshot()
    assert(snap1.size == r1.servingCount)

    // rerun the WHOLE cycle: cleanup now has a previous dir to remove,
    // and the completed rerun must reproduce the identical table —
    // truncate-then-positional-load, never append
    val r2 = RunDag.runDag(spark, Csv, dir, table)
    assert(r2.cleanedPrevious)
    assert(r2.servingCount == r1.servingCount)
    assert(r2.servingCount == spark.table(table).count())
    assertNoStaging(table)
    assert(snapshot() == snap1)

    // the serving table is exactly the transform of the source CSV
    // (column-positional load through the parquet files lost nothing)
    val expected = Transforms.transform(IotPipeline.readCsv(spark, Csv))
    assert(spark.table(table).exceptAll(expected).isEmpty &&
      expected.exceptAll(spark.table(table)).isEmpty)

    // counters are real observability, not placeholders
    assert(r2.nullDurations ==
      expected.filter(col("duration_sec").isNull).count())
    assert(r2.maliciousRows ==
      expected.filter(col("label") === "Malicious").count())
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("DAG rerun survives a JVM restart: catalog metadata lost, " +
    "spark-warehouse location still populated (r13 ADVICE — saveAsTable " +
    "threw 'location already exists and is not empty' on this path)") {
    val dir = Files.createTempDirectory("graft_dag_restart").toString +
      "/parquet"
    val table = "iot_dag_restart_serving"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val r1 = RunDag.runDag(spark, Csv, dir, table)
    assert(r1.servingCount > 0)
    val snap1 = spark.table(table).orderBy("uid").collect()
      .map(_.toString).toSeq

    // simulate the restart: stash the managed location's files, DROP
    // the table (in-memory catalog forgets it AND deletes the managed
    // data), then restore the files — leaving exactly the fresh-JVM
    // state: tableExists=false, location non-empty
    val loc = java.nio.file.Paths.get(java.net.URI.create(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location.toString))
    val stash = Files.createTempDirectory("graft_dag_stash")
    // Files.list streams hold a directory handle until closed (r15
    // ADVICE: two leaked handles in the test JVM)
    def listDir(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.list(d)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
      finally s.close()
    }
    val files = listDir(loc)
    assert(files.nonEmpty, "managed location must hold data files")
    files.foreach(f => Files.copy(f, stash.resolve(f.getFileName)))
    spark.sql(s"DROP TABLE $table")
    assert(!spark.catalog.tableExists(table))
    Files.createDirectories(loc)
    listDir(stash).foreach(f => Files.copy(f, loc.resolve(f.getFileName)))

    // the daily rerun on the "restarted" catalog must succeed and
    // reproduce the identical table — stale files are registered by
    // the CREATE TABLE IF NOT EXISTS DDL and cleared by TRUNCATE
    val r2 = RunDag.runDag(spark, Csv, dir, table)
    assert(r2.servingCount == r1.servingCount)
    assert(spark.table(table).orderBy("uid").collect()
      .map(_.toString).toSeq == snap1)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("stale-location deletion guard (r15 ADVICE): a FOREIGN file " +
    "parked at the managed location is loudly warned about before the " +
    "restart path clears it, and the cycle still completes") {
    val dir = Files.createTempDirectory("graft_dag_guard").toString +
      "/parquet"
    val table = "iot_dag_guard_serving"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // park a non-table file at the location the catalog doesn't know
    val loc = java.nio.file.Paths.get(java.net.URI.create(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).toString))
    Files.createDirectories(loc)
    Files.writeString(loc.resolve("somebody_elses_data.txt"), "precious")
    // capture stderr: the guard must NAME the foreign entry
    val errBuf = new java.io.ByteArrayOutputStream()
    val r1 = Console.withErr(new java.io.PrintStream(errBuf, true)) {
      val saved = System.err
      System.setErr(new java.io.PrintStream(errBuf, true))
      try RunDag.runDag(spark, Csv, dir, table)
      finally System.setErr(saved)
    }
    assert(r1.servingCount > 0, "cycle must still complete")
    val err = errBuf.toString
    assert(err.contains("somebody_elses_data.txt") &&
      err.contains("NON-TABLE"),
      s"guard warning must list the foreign entry; got: $err")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a header-only CSV gives zero counters and an EMPTY serving table, " +
    "on a fresh table and after a loaded cycle") {
    val base = Files.createTempDirectory("graft_dag_empty")
    val emptyCsv = base.resolve("header_only.csv")
    Files.writeString(emptyCsv, Files.readAllLines(
      java.nio.file.Paths.get(Csv)).get(0) + "\n")
    val dir = base.toString + "/parquet"
    val table = "iot_dag_empty_serving"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    def assertEmptyCycle(): Unit = {
      val r = RunDag.runDag(spark, emptyCsv.toString, dir, table)
      assert(r.rowsWritten == 0 && r.nullDurations == 0 &&
        r.maliciousRows == 0 && r.servingCount == 0, r.toString)
      assert(spark.table(table).count() == 0)
      assert(spark.table(table).columns.toSeq == IotSchema.outputColumns)
      assertNoStaging(table)
    }
    assertEmptyCycle()
    assert(RunDag.runDag(spark, Csv, dir, table).servingCount > 0)
    assertEmptyCycle()
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("schema drift fails the cycle BEFORE the truncate: the error names " +
    "both schemas and the serving table keeps its rows") {
    val dir = Files.createTempDirectory("graft_dag_drift").toString + "/parquet"
    val table = "iot_dag_drift_serving"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table (uid STRING, legacy_score INT) USING parquet")
    spark.sql(s"INSERT INTO $table VALUES ('C-old', 7)")
    val e = intercept[IllegalStateException](RunDag.runDag(spark, Csv, dir, table))
    assert(e.getMessage.contains("legacy_score") &&
      e.getMessage.contains("duration_sec"), e.getMessage)
    assert(spark.table(table).collect().map(_.toString).toSeq == Seq("[C-old,7]"))
    // same names with one type changed, or the right columns in a format
    // the copied parquet files cannot serve: both refused too
    val out = Transforms.transform(IotPipeline.readCsv(spark, Csv)).schema
    for ((typeOf, using) <- Seq[(String => String, String)](
        (n => if (n == "orig_bytes") "STRING" else out(n).dataType.sql, "parquet"),
        (n => out(n).dataType.sql, "orc"))) {
      spark.sql(s"DROP TABLE $table")
      spark.sql(s"CREATE TABLE $table (${out.fieldNames.map(n =>
        s"$n ${typeOf(n)}").mkString(", ")}) USING $using")
      intercept[IllegalStateException](RunDag.runDag(spark, Csv, dir, table))
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
