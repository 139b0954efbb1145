package graft

import graft.operators.{Lineage, ConflationPipeline}
import graft.sources.SnapTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class LineageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def freshDirs() = {
    val base = Files.createTempDirectory("lineage").toString
    (s"$base/results", s"$base/ledger")
  }

  /** work = conflation over pages, unit key = road bucket (deterministic). */
  private def workUnits = ConflationPipeline.pages(spark, 200, 20).toDF()
    .withColumn("unit", concat(lit("road"),
      expr("pmod(xxhash64(url), 5)")))

  private def process(df: org.apache.spark.sql.DataFrame) =
    df.select(col("unit"), col("url"), length(col("text")).as("n"))

  test("exact resume: partial run + resume equals single-shot run, no dup work") {
    val (res1, led1) = freshDirs()
    // single-shot baseline
    Lineage.runIncremental(workUnits, "unit", res1, led1, "full")(process)
    val full = spark.read.parquet(res1)

    // partial run: only 2 of the 5 units succeed ("crash" = filtered input)
    val (res2, led2) = freshDirs()
    val partial = workUnits.filter(col("unit").isin("road0", "road1"))
    Lineage.runIncremental(partial, "unit", res2, led2, "run1")(process)
    assert(SnapTable.scan(spark, led2).select("unit_key").distinct().count() == 2)

    // resume with the FULL work list: only the 3 remaining units process
    val n2 = Lineage.runIncremental(workUnits, "unit", res2, led2, "run2")(process)
    val resumed = spark.read.parquet(res2)
    assert(resumed.count() == full.count())
    assert(resumed.exceptAll(full).count() == 0)
    assert(full.exceptAll(resumed).count() == 0)
    // the resume processed strictly fewer rows than the full set
    assert(n2 < full.count())

    // third call: nothing left to do
    assert(Lineage.runIncremental(workUnits, "unit", res2, led2, "run3")(process) == 0L)

    // ledger checksums match between the two paths (per-partition metrics)
    val l1 = SnapTable.scan(spark, led1).select("unit_key", "n_rows", "checksum")
    val l2 = SnapTable.scan(spark, led2).select("unit_key", "n_rows", "checksum")
    assert(l1.exceptAll(l2).count() == 0 && l2.exceptAll(l1).count() == 0)
  }

  test("re-processing a crashed unit overwrites instead of duplicating") {
    val (res, led) = freshDirs()
    val unit0 = workUnits.filter(col("unit") === "road0")
    // simulate a crash AFTER results were written but BEFORE the ledger
    // commit: write results directly, no ledger entry
    process(unit0).write.mode("overwrite").partitionBy("unit").parquet(res)
    // resume: road0 has no ledger entry → reprocessed; dynamic partition
    // overwrite replaces its directory, so no duplicates
    Lineage.runIncremental(workUnits, "unit", res, led, "recover")(process)
    val out = spark.read.parquet(res)
    assert(out.count() == workUnits.count())
    assert(out.select("url").distinct().count() == out.count())
  }

  test("SnapTable ledger: resume converges identically, commits are snapshots") {
    val (res1, led1) = freshDirs()
    Lineage.runIncremental(workUnits, "unit", res1, led1, "full")(process)
    val full = spark.read.parquet(res1)

    val (res2, led2) = freshDirs()
    val partial = workUnits.filter(col("unit").isin("road0", "road1"))
    Lineage.runIncremental(partial, "unit", res2, led2, "run1")(process)
    // first increment = snapshot v1
    assert(SnapTable.currentVersion(spark, led2).contains(1))
    val n2 = Lineage.runIncremental(workUnits, "unit", res2, led2, "run2")(process)
    assert(n2 > 0 && n2 < full.count())
    // second increment = snapshot v2; the ledger content is the SAME
    // (unit_key, n_rows, checksum) rows the single-shot run produces
    assert(SnapTable.currentVersion(spark, led2).contains(2))
    val l1 = SnapTable.scan(spark, led1).select("unit_key", "n_rows", "checksum")
    val l2 = SnapTable.scan(spark, led2)
      .select("unit_key", "n_rows", "checksum")
    assert(l1.exceptAll(l2).count() == 0 && l2.exceptAll(l1).count() == 0)
    // results converge to the single-shot run
    val resumed = spark.read.parquet(res2)
    assert(resumed.exceptAll(full).count() == 0 && full.exceptAll(resumed).count() == 0)
    // third call: nothing left, and no empty snapshot is committed
    assert(Lineage.runIncremental(workUnits, "unit", res2, led2, "run3")(process) == 0L)
    assert(SnapTable.currentVersion(spark, led2).contains(2))
    // a ledger READER is snapshot-isolated: pinning v1 still shows exactly
    // the first increment even after later commits
    assert(SnapTable.scan(spark, led2, asOf = Some(1))
      .select("unit_key").distinct().count() == 2)
  }

  test("runIncremental evaluates process once: the ledger comes from the rows written") {
    val (res, led) = freshDirs()
    val seen = spark.sparkContext.longAccumulator("process input rows")
    // nondeterministic, so the filter stays above the anti-join and counts
    // exactly the rows each evaluation of process feeds through
    val counted = udf { (_: String) => seen.add(1); true }.asNondeterministic()
    val n = Lineage.runIncremental(workUnits, "unit", res, led, "once") { df =>
      process(df.filter(counted(col("unit"))))
    }
    val total = workUnits.count()
    assert(n == total)
    assert(seen.value == total, s"process evaluated ${seen.value.toDouble / total}x")
    // the committed ledger describes the rows on disk
    val disk = spark.read.parquet(res).groupBy(col("unit").as("unit_key")).count()
    val ledger = SnapTable.scan(spark, led).select(col("unit_key"), col("n_rows").as("count"))
    assert(disk.exceptAll(ledger).count() == 0 && ledger.exceptAll(disk).count() == 0)
  }
}
