package graft

import graft.operators.{Relational, Sinks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The reference's load protocols (SURVEY §3.3, FIXTURES.md §B):
  * dedup-append idempotency and the three-way upsert intent
  * (absent→append, changed→replace, identical→no-op). */
class SinksSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    tempRoot("graft_sink").toString

  private def macroDaily(rows: (Int, Int, Int, Double, Double)*): DataFrame =
    rows.toSeq.toDF("year", "month", "day", "oil_price", "gold_price")

  test("dedupAppend inserts only absent keys and is idempotent") {
    val path = tmp()
    val seed = macroDaily((2024, 1, 1, 70.0, 1900.0), (2024, 1, 2, 71.0, 1910.0))
    Sinks.append(seed, path, Seq("year", "month"))
    val batch = macroDaily(
      (2024, 1, 2, 999.0, 999.0),   // existing key — must NOT replace
      (2024, 1, 3, 72.0, 1920.0))   // new key — must append
    Sinks.dedupAppend(spark, batch, path, Seq("year", "month", "day"),
      Seq("year", "month"))
    Sinks.dedupAppend(spark, batch, path, Seq("year", "month", "day"),
      Seq("year", "month")) // second run is a no-op
    val result = spark.read.parquet(path)
    assert(result.count() == 3)
    assert(result.filter($"day" === 2).select("oil_price").head.getDouble(0) == 71.0)
  }

  test("dedupAppend initializes the table on the schemaless 'no " +
      "table yet' states: an absent path, an empty dir, and a " +
      "crashed-first-append dir holding only _temporary") {
    // these three are the legitimate create-on-first-write states;
    // tableExists maps exactly their ANALYSIS failures to "absent"
    // (a transient IO error must propagate instead — swallowing it
    // would append every candidate over a live warehouse,
    // duplicating every present key)
    val batch = macroDaily((2024, 1, 1, 70.0, 1900.0))
    val absent = tmp() + "/never_created"
    Sinks.dedupAppend(spark, batch, absent, Seq("year", "month", "day"),
      Seq("year", "month"))
    assert(spark.read.parquet(absent).count() == 1)
    val empty = tmp()
    Sinks.dedupAppend(spark, batch, empty, Seq("year", "month", "day"),
      Seq("year", "month"))
    assert(spark.read.parquet(empty).count() == 1)
    val crashed = tmp()
    Files.createDirectory(java.nio.file.Paths.get(crashed, "_temporary"))
    Sinks.dedupAppend(spark, batch, crashed, Seq("year", "month", "day"),
      Seq("year", "month"))
    assert(spark.read.parquet(crashed).count() == 1)
  }

  test("dedupAppend is idempotent for NULL-keyed rows too: a row " +
      "whose key tuple carries a NULL appends once, not once per run") {
    val path = tmp()
    // day is nullable here — the shape a failed date parse produces
    val batch = Seq(
      (2024, 1, Some(1), 70.0), (2024, 1, Option.empty[Int], 71.0))
      .toDF("year", "month", "day", "oil_price")
    Sinks.dedupAppend(spark, batch, path, Seq("year", "month", "day"),
      Seq("year", "month"))
    Sinks.dedupAppend(spark, batch, path, Seq("year", "month", "day"),
      Seq("year", "month"))
    val result = spark.read.parquet(path)
    assert(result.count() == 2,
      s"NULL-keyed row re-appended: ${result.count()} rows")
    assert(result.filter($"day".isNull).count() == 1)
  }

  test("upsertPartitions: absent appends, changed replaces, identical no-ops") {
    val path = tmp()
    val v1 = macroDaily((2024, 1, 1, 70.0, 1900.0), (2024, 2, 1, 75.0, 1950.0))
    Sinks.upsertPartitions(spark, v1, path, Seq("year", "month"))
    // changed January, identical February, new March
    val v2 = macroDaily(
      (2024, 1, 1, 99.0, 1999.0),
      (2024, 2, 1, 75.0, 1950.0),
      (2024, 3, 1, 80.0, 2000.0))
    Sinks.upsertPartitions(spark, v2, path, Seq("year", "month"))
    val result = spark.read.parquet(path)
      .select("year", "month", "day", "oil_price", "gold_price")
    assertBagEqual(result, v2.select(result.columns.map(col): _*))
    // idempotency: re-upserting the same batch changes nothing
    Sinks.upsertPartitions(spark, v2, path, Seq("year", "month"))
    assertBagEqual(spark.read.parquet(path)
      .select(result.columns.map(col): _*), v2.select(result.columns.map(col): _*))
  }

  test("upsertPartitions preserves NULL-partition rows: written, " +
      "no-op'd when identical, replaced when changed — never dropped") {
    val path = tmp()
    def batch(oil: Double) = Seq(
      (Some(1), 2024, 70.0), (Option.empty[Int], 2024, oil))
      .toDF("month", "year", "oil_price")
    Sinks.upsertPartitions(spark, batch(80.0), path, Seq("year", "month"))
    // the existing-table branch is the one that dropped NULL-keyed
    // rows pre-fix (digest flags the partition, the plain-equality
    // semi then lost it): an identical re-upsert must keep both rows
    Sinks.upsertPartitions(spark, batch(80.0), path, Seq("year", "month"))
    val r1 = spark.read.parquet(path)
    assert(r1.count() == 2, s"NULL-partition row lost: ${r1.count()}")
    assert(r1.filter($"month".isNull).select("oil_price")
      .head.getDouble(0) == 80.0)
    // and a changed NULL partition replaces, like any other partition
    Sinks.upsertPartitions(spark, batch(99.0), path, Seq("year", "month"))
    val r2 = spark.read.parquet(path)
    assert(r2.count() == 2)
    assert(r2.filter($"month".isNull).select("oil_price")
      .head.getDouble(0) == 99.0)
  }

  test("upsert replaces whole partition, not just matching rows") {
    val path = tmp()
    val v1 = macroDaily((2024, 1, 1, 70.0, 1900.0), (2024, 1, 2, 71.0, 1910.0))
    Sinks.upsertPartitions(spark, v1, path, Seq("year", "month"))
    val v2 = macroDaily((2024, 1, 5, 72.0, 1920.0)) // restated January: 1 row
    Sinks.upsertPartitions(spark, v2, path, Seq("year", "month"))
    val jan = spark.read.parquet(path)
      .filter($"year" === 2024 && $"month" === 1)
    assert(jan.count() == 1)
    assert(jan.select("day").head.getInt(0) == 5)
  }

  test("partitioned layout turns key probes into partition pruning") {
    // SURVEY §1.2: the reference's `WHERE year= AND month=` probes
    // (daily_dag.py:80) must become partition pruning, not data reads
    val path = tmp()
    Sinks.append(macroDaily(
      (2024, 1, 1, 70.0, 1900.0), (2024, 2, 1, 75.0, 1950.0),
      (2023, 12, 1, 65.0, 1850.0)), path, Seq("year", "month"))
    val probe = graft.operators.Relational.partitionProbe(
      spark.read.parquet(path), 2024, 1)
    assert(probe.count() == 1)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("year") && plan.contains("2024"),
      s"expected partition filters in plan:\n$plan")
  }

  test("compactPartitions rewrites only fragmented partitions, keeps content") {
    val path = tmp()
    // month 1 fragmented: 12 single-row appends → 12 files; month 2: one
    (1 to 12).foreach { d =>
      Sinks.append(macroDaily((2024, 1, d, 70.0 + d, 1900.0)),
        path, Seq("year", "month"))
    }
    Sinks.append(macroDaily((2024, 2, 1, 80.0, 2000.0)), path, Seq("year", "month"))
    val before = spark.read.parquet(path)
    val beforeRows = before.collect().toList
    def filesOf(month: Int): Long = spark.read.parquet(path)
      .filter(col("month") === month)
      .select(input_file_name()).distinct().count()
    val m2FileBefore = spark.read.parquet(path).filter(col("month") === 2)
      .select(input_file_name()).head.getString(0)
    assert(filesOf(1) == 12)
    Sinks.compactPartitions(spark, path, Seq("year", "month"), maxFiles = 8)
    assert(filesOf(1) == 1, s"month 1 still has ${filesOf(1)} files")
    // untouched partition keeps its exact file
    assert(spark.read.parquet(path).filter(col("month") === 2)
      .select(input_file_name()).head.getString(0) == m2FileBefore)
    // content identical bag-for-bag
    val after = spark.read.parquet(path).collect().toList
    assert(after.map(_.toString).sorted == beforeRows.map(_.toString).sorted)
  }

  test("bagEquals (A2 change detection) is order-insensitive") {
    val a = macroDaily((2024, 1, 1, 1.0, 2.0), (2024, 1, 2, 3.0, 4.0))
    val b = macroDaily((2024, 1, 2, 3.0, 4.0), (2024, 1, 1, 1.0, 2.0))
    assert(Relational.bagEquals(a, b))
    assert(!Relational.bagEquals(a, macroDaily((2024, 1, 1, 1.0, 2.0))))
  }
}
