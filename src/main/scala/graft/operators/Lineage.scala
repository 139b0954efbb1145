package graft.operators

import graft.sources.SnapTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Per-partition lineage + metrics checkpoints enabling exact resume
 * (BASELINE.json north_rule). The Spark-native re-expression of the
 * reference's two resume devices: the loaded-tile ledger
 * (src/loaders/shst/loadTiles:38-50, shst_loaded_tiles table) and the
 * previously-matched skip set (ShstMatchingWorkDatabaseService.js:120-144).
 *
 * Protocol (idempotent, crash-safe at work-unit granularity):
 *  1. work is partitioned by a deterministic unit key (cell id, road bucket,
 *     tile id — anything stable under re-runs)
 *  2. `remaining` anti-joins the unit keys against the ledger
 *  3. the caller processes only the remaining units
 *  4. `commit` overwrites each unit's result directory (dynamic partition
 *     overwrite → re-processing a crashed unit replaces, never duplicates)
 *     and THEN appends the ledger rows (n_rows + order-independent checksum
 *     per unit) — the ledger row is the commit point
 *
 * The ledger is a [[graft.sources.SnapTable]] — the miniature of the
 * Iceberg table a cluster would use: each increment lands as ONE atomic
 * snapshot (create-exclusive manifest `v(N+1)`), where a bare parquet
 * append can expose a half-written file list on object stores. Readers are
 * snapshot-isolated from in-flight commits, and concurrent committers of
 * DIFFERENT unit batches serialize through the manifest CAS instead of
 * racing the directory.
 */
object Lineage {

  /** Completed unit keys from the ledger (empty when it has no snapshot). */
  def completedKeys(spark: SparkSession, ledgerRoot: String): DataFrame =
    if (SnapTable.currentVersion(spark, ledgerRoot).isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("unit_key", StringType))))
    else SnapTable.scan(spark, ledgerRoot).select("unit_key").distinct()

  /** Work rows whose unit key has no ledger entry yet (exact-resume filter). */
  def remaining(work: DataFrame, keyCol: String, ledgerRoot: String): DataFrame =
    work.join(
      completedKeys(work.sparkSession, ledgerRoot)
        .withColumnRenamed("unit_key", keyCol),
      Seq(keyCol), "left_anti")

  /** Order-independent content checksum per unit: sum of xxhash64 over the
    * canonical JSON of each row (stable across partitionings and run order). */
  private def unitMetrics(results: DataFrame, keyCol: String): DataFrame =
    results
      .withColumn("__rh", xxhash64(to_json(struct(results.columns.sorted.map(col): _*))))
      .groupBy(col(keyCol).as("unit_key"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(__rh)").as("checksum"))

  /**
   * Commit processed units: per-unit dynamic-partition overwrite of results
   * (re-processing a crashed unit replaces, never duplicates), then the
   * ledger rows (row counts + checksums as the per-partition metrics
   * channel) as one snapshot. The ledger rows are computed from the result
   * partitions of `units` as written, so `results` is evaluated once and the
   * checksums describe exactly the rows on disk. Returns the ledger increment
   * as written.
   */
  def commit(results: DataFrame, keyCol: String, units: Seq[Any], resultPath: String,
      ledgerRoot: String, runId: String): DataFrame = {
    val spark = results.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      results.write.mode("overwrite").partitionBy(keyCol).parquet(resultPath)
    } finally {
      prev.foreach(spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
    }
    // the partition values parse back as the key's own type (not inferred)
    val written = spark.read.schema(results.schema).parquet(resultPath)
      .where(col(keyCol).isin(units: _*))
    val ledger = unitMetrics(written, keyCol).withColumn("run_id", lit(runId))
    val files = SnapTable.stage(ledger, ledgerRoot)
    SnapTable.publish(spark, ledgerRoot, "append", ledger.schema.toDDL, files)
    if (files.isEmpty) ledger.limit(0)
    else spark.read.schema(ledger.schema).parquet(files.map(_.path): _*)
  }

  /**
   * Run `process` over only the not-yet-committed work units and commit the
   * output. Calling this repeatedly after partial failures converges to the
   * complete result with no recomputation of finished units and no
   * duplicates (exact resume); a call with nothing left commits no snapshot.
   * `process` runs once per call.
   */
  def runIncremental(work: DataFrame, keyCol: String, resultPath: String,
      ledgerRoot: String, runId: String)(process: DataFrame => DataFrame): Long = {
    val todo = remaining(work, keyCol, ledgerRoot)
    val units = todo.select(keyCol).distinct().collect().map(_.get(0)).toSeq
    if (units.isEmpty) 0L
    else {
      val out = process(todo)
      require(out.columns.contains(keyCol),
        s"process() must preserve the unit key column '$keyCol'")
      commit(out, keyCol, units, resultPath, ledgerRoot, runId)
        .agg(coalesce(sum("n_rows"), lit(0L))).collect()(0).getLong(0)
    }
  }
}
