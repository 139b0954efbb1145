package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Minimal snapshot-table layer over parquet — the clean-room core of what
 * BASELINE.json's "Iceberg table of Common-Crawl-style web pages" provides,
 * built from the PUBLIC table-format ideas (the Apache Iceberg spec's
 * snapshot + manifest model), with no dependency beyond Spark + Hadoop FS:
 *
 *  - **immutable data files, immutable per-snapshot manifests**: a commit
 *    never rewrites data; an overwrite just publishes a manifest that stops
 *    referencing the old files (which remain readable via time travel until
 *    [[expire]]d)
 *  - **atomic commits via create-exclusive manifest naming**: snapshot N+1
 *    is the single atomic creation of `meta/v(N+1).json` with
 *    `FileSystem.create(path, overwrite = false)` — optimistic concurrency;
 *    a loser re-reads the new head, re-merges its (already written, still
 *    private) data files against it, and retries. No HEAD pointer file:
 *    rename-based pointers double-write and can race on object stores.
 *  - **snapshot isolation + time travel**: readers resolve a manifest once
 *    and plan only its file list; `asOf` pins any retained version
 *  - **file-level min/max stats pruning**: each manifest entry carries
 *    min/max per requested stats column; a range scan plans only the files
 *    whose range intersects — the manifest-level analog of parquet row-group
 *    pruning, and what makes a 10^12-row table queryable without listing
 *    or footer-reading a million files per query.
 *
 * The per-partition lineage ledger ([[graft.operators.Lineage]]) notes "on a
 * cluster the ledger would be an Iceberg table with snapshot isolation" —
 * this is that table, in miniature.
 *
 * Layout:
 * {{{
 *   <root>/data/<uuid>/part-*.parquet   immutable data files (one dir per commit)
 *   <root>/meta/v<N>.json               manifest: schema DDL + file list + stats
 * }}}
 */
object SnapTable {

  /** Per-column min/max, stored as Spark `cast(string)` of the values; null
    * min/max (all-null file) keeps the file un-prunable (conservative). */
  final case class ColStats(min: String, max: String)

  final case class FileEntry(path: String, rows: Long, stats: Map[String, ColStats])

  /** `summary` is the Iceberg-snapshot-summary analog: a free-form
    * caller annotation committed ATOMICALLY with the file list (iterative
    * jobs persist their loop state in it — see
    * graft.operators.Fixpoint.Durable). Absent in pre-summary manifests,
    * parsed as "". */
  final case class Manifest(version: Int, parentVersion: Int, operation: String,
      schemaDdl: String, files: Seq[FileEntry], summary: String = "")

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val VName = """v(\d+)\.json""".r

  /** Highest committed snapshot version, if any. */
  def currentVersion(spark: SparkSession, root: String): Option[Int] = {
    val f = fs(spark, root)
    val meta = new Path(root, "meta")
    if (!f.exists(meta)) None
    else {
      val vs = f.listStatus(meta).toSeq.map(_.getPath.getName).collect {
        case VName(n) => n.toInt
      }
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  // ---- manifest JSON (hand-emitted; parsed with Spark's bundled Jackson) ----

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def render(m: Manifest): String = {
    val files = m.files.map { fe =>
      val stats = fe.stats.toSeq.sortBy(_._1).map { case (c, s) =>
        val mn = if (s.min == null) "null" else jstr(s.min)
        val mx = if (s.max == null) "null" else jstr(s.max)
        s"${jstr(c)}:{" + s""""min":$mn,"max":$mx}"""
      }.mkString("{", ",", "}")
      s"""{"path":${jstr(fe.path)},"rows":${fe.rows},"stats":$stats}"""
    }.mkString("[", ",", "]")
    s"""{"version":${m.version},"parent":${m.parentVersion},""" +
      s""""operation":${jstr(m.operation)},"summary":${jstr(m.summary)},""" +
      s""""schema":${jstr(m.schemaDdl)},"files":$files}"""
  }

  /** Read and parse the manifest for `version`. */
  def manifest(spark: SparkSession, root: String, version: Int): Manifest = {
    val f = fs(spark, root)
    val p = new Path(new Path(root, "meta"), s"v$version.json")
    if (!f.exists(p))
      throw new IllegalArgumentException(s"no snapshot v$version at $root")
    val in = f.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(bytes)
    import scala.jdk.CollectionConverters._
    val files = n.get("files").elements().asScala.map { fe =>
      val stats = fe.get("stats").fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> ColStats(
          if (v.get("min").isNull) null else v.get("min").asText(),
          if (v.get("max").isNull) null else v.get("max").asText())
      }.toMap
      FileEntry(fe.get("path").asText(), fe.get("rows").asLong(), stats)
    }.toSeq
    Manifest(n.get("version").asInt(), n.get("parent").asInt(),
      n.get("operation").asText(), n.get("schema").asText(), files,
      if (n.has("summary")) n.get("summary").asText() else "")
  }

  /**
   * First half of a commit: write `df`'s data files into a commit-private
   * directory and compute their per-file stats — NO manifest is published,
   * so the files are invisible to readers (and to crash recovery) until
   * [[publish]] lands. Iterative callers use the split to probe the staged
   * generation (convergence checks) between materialization and publication
   * instead of paying a separate localCheckpoint + count materialization;
   * a crash between stage and publish leaves only an orphaned data dir,
   * exactly like a crash inside [[commit]].
   */
  def stage(df: DataFrame, root: String,
      statsCols: Seq[String] = Nil): Seq[FileEntry] = {
    val spark = df.sparkSession
    val dataDir = s"$root/data/${java.util.UUID.randomUUID().toString}"
    df.write.parquet(dataDir)
    // one distributed pass over ONLY the new files for per-file row counts +
    // min/max stats (input_file_name groups rows by the physical file)
    val back = spark.read.schema(df.schema).parquet(dataDir)
    val aggs = count(lit(1)).as("__rows") +: statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    val perFile = back.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    perFile.map { r =>
      FileEntry(r.getString(0), r.getLong(1),
        statsCols.zipWithIndex.map { case (c, i) =>
          c -> ColStats(r.getString(2 + 2 * i), r.getString(3 + 2 * i))
        }.toMap)
    }.toSeq
  }

  /**
   * Commit `df` as the next snapshot: [[stage]] then [[publish]], whose
   * doc gives the `op` and `expectedParent` contract. Data is written ONCE
   * to a commit-private directory; only the manifest creation races, and a
   * lost race costs a re-read + re-merge of the (tiny) parent manifest,
   * never a data rewrite. Returns the committed version.
   */
  def commit(df: DataFrame, root: String, op: String,
      statsCols: Seq[String] = Nil, summary: String = "",
      expectedParent: Option[Int] = None): Int = {
    require(op == "append" || op == "overwrite", s"bad op $op")
    publish(df.sparkSession, root, op, df.schema.toDDL,
      stage(df, root, statsCols), summary, expectedParent)
  }

  /**
   * Second half of a commit: publish a manifest over files previously
   * written by [[stage]] as the next snapshot, and return its version.
   * `op` is `"append"` (the files join the parent manifest's list) or
   * `"overwrite"` (they replace it). The manifest is created atomically
   * if absent; a writer that loses the race re-reads the new head,
   * re-merges against it and retries.
   *
   * `expectedParent` is the Iceberg "validate base snapshot" guard: when set,
   * the commit succeeds only if the table head is still that version —
   * otherwise it throws [[java.util.ConcurrentModificationException]] BEFORE
   * publishing anything. Appends are commutative and never need it; an
   * OVERWRITE whose content was derived from a read of version V (compaction,
   * rewrite jobs) must pass `Some(V)`, or a concurrent append landing between
   * the read and the commit would be silently dropped by the overwrite.
   */
  def publish(spark: SparkSession, root: String, op: String, ddl: String,
      newFiles: Seq[FileEntry], summary: String = "",
      expectedParent: Option[Int] = None): Int = {
    require(op == "append" || op == "overwrite", s"bad op $op")
    var attempt = 0
    while (attempt < 50) {
      val parent = currentVersion(spark, root).getOrElse(0)
      expectedParent.foreach { exp =>
        if (parent != exp)
          throw new java.util.ConcurrentModificationException(
            s"commit to $root expected head v$exp but found v$parent; " +
              "re-derive from the new head and retry")
      }
      val carried =
        if (op == "overwrite" || parent == 0) Seq.empty
        else manifest(spark, root, parent).files
      val m = Manifest(parent + 1, parent, op, ddl, carried ++ newFiles, summary)
      val f = fs(spark, root)
      f.mkdirs(new Path(root, "meta"))
      val target = new Path(new Path(root, "meta"), s"v${m.version}.json")
      try {
        createExclusive(f, target,
          render(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        return m.version
      } catch {
        case _: java.io.IOException => attempt += 1 // lost the race; re-merge
      }
    }
    throw new IllegalStateException(s"snap commit lost $attempt races at $root")
  }

  /** Atomic create-if-absent. Hadoop's RawLocalFileSystem implements
    * `create(path, overwrite = false)` as a non-atomic check-then-create, so
    * for the `file` scheme this drops to POSIX O_EXCL via java.nio
    * (CREATE_NEW); HDFS's create IS atomic and keeps the Hadoop path. Object
    * stores without atomic create would need their conditional-put here —
    * exactly the pluggable point the Iceberg spec calls the "commit" of its
    * catalog. */
  private def createExclusive(f: FileSystem, target: Path, bytes: Array[Byte]): Unit =
    if (f.getScheme == "file") {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(target.toUri.getPath), bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE): Unit
    } else {
      val out = f.create(target, false)
      try out.write(bytes) finally out.close()
    }

  def append(df: DataFrame, root: String, statsCols: Seq[String] = Nil,
      summary: String = ""): Int =
    commit(df, root, "append", statsCols, summary)

  def overwrite(df: DataFrame, root: String, statsCols: Seq[String] = Nil,
      summary: String = ""): Int =
    commit(df, root, "overwrite", statsCols, summary)

  private def emptyOf(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      DataType.fromDDL(ddl).asInstanceOf[StructType])

  /** Snapshot-isolated read: plan exactly the manifest's file list with the
    * manifest's schema. `asOf` time-travels to a retained version. */
  def scan(spark: SparkSession, root: String, asOf: Option[Int] = None): DataFrame = {
    val v = asOf.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no snapshots at $root"))
    val m = manifest(spark, root, v)
    if (m.files.isEmpty) emptyOf(spark, m.schemaDdl)
    else spark.read.schema(DataType.fromDDL(m.schemaDdl).asInstanceOf[StructType])
      .parquet(m.files.map(_.path): _*)
  }

  /** Is `[lo, hi]` disjoint from the file's stats range on `column`?
    * Numeric columns compare as BigDecimal (the stats are `cast(string)`
    * forms, which round-trip exactly); everything else lexically — correct
    * for strings, and for ISO timestamps/dates (their string forms order). */
  private def disjoint(fe: FileEntry, column: String, lo: String, hi: String,
      numeric: Boolean): Boolean =
    fe.stats.get(column) match {
      case Some(ColStats(mn, mx)) if mn != null && mx != null =>
        if (numeric) {
          val (l, h) = (BigDecimal(lo), BigDecimal(hi))
          BigDecimal(mx) < l || BigDecimal(mn) > h
        } else mx < lo || mn > hi
      case _ => false // no stats for this column: never prune (conservative)
    }

  /** Manifest-pruned predicate scan, the shared engine behind
    * [[scanRange]] and [[scanBox]]: plans only the files whose min/max
    * stats intersect EVERY `(column, lo, hi)` range, then applies the
    * row-level filters — semantically identical to
    * `scan(...).filter(AND of betweens)`, but a 10^12-row table touches
    * only the matching files' footers. */
  def scanPred(spark: SparkSession, root: String,
      ranges: Seq[(String, String, String)],
      asOf: Option[Int] = None): DataFrame = {
    require(ranges.nonEmpty, "scanPred needs at least one range")
    val v = asOf.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no snapshots at $root"))
    val m = manifest(spark, root, v)
    val schema = DataType.fromDDL(m.schemaDdl).asInstanceOf[StructType]
    def numeric(c: String) =
      schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    val kept = ranges.foldLeft(m.files) { case (fs, (c, lo, hi)) =>
      fs.filterNot(disjoint(_, c, lo, hi, numeric(c)))
    }
    val base =
      if (kept.isEmpty) emptyOf(spark, m.schemaDdl)
      else spark.read.schema(schema).parquet(kept.map(_.path): _*)
    val pred = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo).cast(schema(c).dataType) &&
        col(c) <= lit(hi).cast(schema(c).dataType)
    }.reduce(_ && _)
    base.filter(pred)
  }

  /** Manifest-pruned range scan on one column — see [[scanPred]]. */
  def scanRange(spark: SparkSession, root: String, column: String,
      lo: String, hi: String, asOf: Option[Int] = None): DataFrame =
    scanPred(spark, root, Seq((column, lo, hi)), asOf)

  /** The file paths a range scan would plan — exposed so tests (and capacity
    * audits) can assert manifest-level pruning actually skips files. */
  def plannedFiles(spark: SparkSession, root: String, column: String,
      lo: String, hi: String, asOf: Option[Int] = None): Seq[String] = {
    val v = asOf.orElse(currentVersion(spark, root)).getOrElse(return Seq.empty)
    val m = manifest(spark, root, v)
    val schema = DataType.fromDDL(m.schemaDdl).asInstanceOf[StructType]
    val numeric = schema(column).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    m.files.filterNot(disjoint(_, column, lo, hi, numeric)).map(_.path)
  }

  /**
   * Compaction: rewrite the CURRENT snapshot's rows into `targetFiles`
   * files, range-clustered on `sortCol` when given, and commit the result
   * as one atomic overwrite snapshot. The table-maintenance op a long-fed
   * table needs at scale: streaming/ incremental appends leave one small
   * file per micro-batch partition, and a 10¹²-row table read through
   * thousands of tiny footers loses both scan throughput and pruning
   * power. `repartitionByRange` makes per-file min/max DISJOINT on the
   * cluster column, so [[scanRange]]'s manifest pruning afterwards plans
   * ~one file per range slice instead of all of them. Data files are
   * immutable — prior snapshots keep reading their own files (time travel
   * intact) until [[expire]] sweeps them; a crash mid-compaction leaves
   * the current snapshot untouched (the new files are orphans). The commit
   * carries `expectedParent = cur`, so an append racing in between the read
   * and the publish makes compaction FAIL (ConcurrentModificationException)
   * rather than silently drop the appended rows — the caller re-runs against
   * the new head. Returns the committed version.
   */
  def compact(spark: SparkSession, root: String, sortCol: Option[String] = None,
      targetFiles: Int = 8): Int = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no snapshots at $root"))
    val df = scan(spark, root, asOf = Some(cur))
    val arranged = sortCol match {
      case Some(c) => df.repartitionByRange(targetFiles, col(c))
        .sortWithinPartitions(col(c))
      case None => df.repartition(targetFiles)
    }
    commit(arranged, root, "overwrite", statsCols = sortCol.toSeq,
      summary = s"compact of v$cur", expectedParent = Some(cur))
  }

  /** Manifest-pruned BBOX scan: files must intersect BOTH ranges — the
    * file-level form of the tile/bbox predicate every spatial query here
    * starts with. After [[compactZorder]] the two per-file ranges are
    * simultaneously tight, so the intersection plans ~the files whose
    * z-curve block meets the box. Thin wrapper over [[scanPred]]. */
  def scanBox(spark: SparkSession, root: String,
      xCol: String, xLo: String, xHi: String,
      yCol: String, yLo: String, yHi: String,
      asOf: Option[Int] = None): DataFrame =
    scanPred(spark, root, Seq((xCol, xLo, xHi), (yCol, yLo, yHi)), asOf)

  /**
   * Z-order clustered compaction: like [[compact]], but the rewrite is
   * range-partitioned and sorted by the Morton interleave of two integer
   * cell-coordinate columns ([[graft.functions.geo.morton_key]]), and the
   * manifest records min/max stats for BOTH columns. A single-column sort
   * buys manifest pruning on that column only; the z-order curve bounds
   * every file's extent in both dimensions at once, so [[scanRange]] on
   * EITHER column — or both, intersected via [[plannedFiles]] — plans a
   * small file subset. This is the layout maintenance a 10^12-page
   * geocoded table needs for bbox queries (the same reason Iceberg/Delta
   * ship OPTIMIZE ZORDER; built here from the q85 interleave, so the
   * key is engine-replayable). The cluster key is computed only inside
   * the exchange/sort — the table schema is unchanged. Same crash/race
   * semantics as [[compact]] (expectedParent CAS, immutable data files).
   */
  def compactZorder(spark: SparkSession, root: String, xCol: String,
      yCol: String, bits: Int, targetFiles: Int = 8): Int = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no snapshots at $root"))
    val df = scan(spark, root, asOf = Some(cur))
    val z = graft.functions.geo.morton_key(col(xCol), col(yCol), bits)
    val arranged = df.repartitionByRange(targetFiles, z).sortWithinPartitions(z)
    commit(arranged, root, "overwrite", statsCols = Seq(xCol, yCol),
      summary = s"zorder compact of v$cur on ($xCol, $yCol)",
      expectedParent = Some(cur))
  }

  /**
   * Expire snapshots `< keepFrom`: delete their manifests, then delete every
   * data file referenced ONLY by expired manifests (mark-and-sweep against
   * the retained manifests' file lists). Returns (manifests deleted, data
   * files deleted).
   */
  def expire(spark: SparkSession, root: String, keepFrom: Int): (Int, Int) = {
    val f = fs(spark, root)
    val meta = new Path(root, "meta")
    if (!f.exists(meta)) return (0, 0)
    val versions = f.listStatus(meta).toSeq.map(_.getPath.getName).collect {
      case VName(n) => n.toInt
    }.sorted
    val (dead, live) = versions.partition(_ < keepFrom)
    require(live.nonEmpty, s"expire($keepFrom) would drop every snapshot at $root")
    val liveFiles = live.flatMap(v => manifest(spark, root, v).files.map(_.path)).toSet
    val deadFiles = dead.flatMap(v => manifest(spark, root, v).files.map(_.path))
      .distinct.filterNot(liveFiles)
    deadFiles.foreach(p => f.delete(new Path(p), false))
    dead.foreach(v => f.delete(new Path(meta, s"v$v.json"), false))
    (dead.size, deadFiles.size)
  }
}
