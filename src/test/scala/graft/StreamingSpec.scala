package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("streaming windowed counts equal the batch query on a bounded source") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = spark.read.parquet(s"$dir/events.parquet")
    // the file stream source wants a directory; restage the single file
    val tmp = java.nio.file.Files.createTempDirectory("streamevents").toString
    batchEvents.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(batchEvents.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val agg = StreamingOps.windowedEventCounts(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("winout")
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("winout")
      .select("hour_start", "event_type", "n", "total_value")
    val batch = StreamingOps.windowedEventCounts(
      spark.read.parquet(s"$dir/events.parquet"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("hashSplit and mixtureSample run UNCHANGED on a stream and equal " +
    "their batch twins (zero-shuffle projections are trigger-invariant)") {
    import graft.operators.TrainingSplits
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("streamsplit").toString
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val key = concat_ws("|", col("source"), col("doc_id").cast("string"))
    def pipe(df: org.apache.spark.sql.DataFrame) =
      TrainingSplits.hashSplit(
        TrainingSplits.mixtureSample(df, key, col("source"),
          Map("src0" -> 0.0), defaultRate = 0.5),
        key, Seq("train" -> 0.9, "val" -> 0.1))
        .select("doc_id", "split")
    val q = pipe(stream).writeStream.outputMode("append")
      .format("memory").queryName("splitout").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("splitout")
    val batch = pipe(docs)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-static spatial candidate join matches the batch matcher's pairs") {
    val nRoads = 10
    val pages = graft.operators.ConflationPipeline.pages(spark, 60, nRoads).toDF()
    val tmp = java.nio.file.Files.createTempDirectory("streamcand").toString
    pages.select("url", "text").repartition(3).write.mode("overwrite").parquet(tmp)
    val refs = graft.operators.ConflationPipeline.references(spark, nRoads).cache()
    val stream = spark.readStream
      .schema(pages.select("url", "text").schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val cand = StreamingOps.streamingCandidates(stream, refs, nRoads)
    val q = cand.writeStream.outputMode("append")
      .format("memory").queryName("candout").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("candout")
      .select("feature_id", "ref_id").distinct()
      .as[(String, String)].collect().toSet
    // batch twin: the pipeline's candidate join (pre-refinement pairs)
    val feats = graft.operators.ConflationPipeline.features(
      graft.operators.ConflationPipeline.pages(spark, 60, nRoads), nRoads)
    val batch = graft.operators.ConflationPipeline.matchCandidates(feats, refs)
      .select("feature_id", "ref_id").distinct()
      .as[(String, String)].collect().toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(batch.nonEmpty)
  }

  test("lineage commit: a replayed micro-batch (same batchId) is a no-op") {
    // Structured Streaming's recovery contract: a batch whose foreachBatch
    // ran but whose streaming offset was never committed is RE-EXECUTED
    // with the same batchId after restart — the lineage ledger must make
    // that replay (and a partial-bucket crash) idempotent
    val nRoads = 10
    val refs = graft.operators.ConflationPipeline.references(spark, nRoads).cache()
    val pages = graft.operators.ConflationPipeline.pages(spark, 60, nRoads).toDF()
    val cand = StreamingOps.streamingCandidates(
      pages.select("url", "text"), refs, nRoads)
    val base = java.nio.file.Files.createTempDirectory("lincommit").toString
    val (res, led) = (s"$base/result", s"$base/ledger")
    val n1 = StreamingOps.commitCandidateBatch(cand, 0L, res, led)
    assert(n1 > 0)
    val after1 = spark.read.parquet(res).select("feature_id", "ref_id")
      .collect().map(_.toString).sorted
    // full replay: nothing recommitted, table unchanged
    val n2 = StreamingOps.commitCandidateBatch(cand, 0L, res, led)
    assert(n2 == 0L)
    val after2 = spark.read.parquet(res).select("feature_id", "ref_id")
      .collect().map(_.toString).sorted
    assert(after2.sameElements(after1))
    // partial-bucket crash: wipe 2 of the committed buckets' LEDGER rows
    // (results written, ledger commit died) — replay recommits exactly them
    val keys = graft.sources.SnapTable.scan(spark, led).select("unit_key").distinct()
      .as[String].collect().sorted
    val crashed = keys.take(2).toSet
    val survivors = graft.sources.SnapTable.scan(spark, led)
      .filter(!col("unit_key").isin(crashed.toSeq: _*))
    val led2 = s"$base/ledger2"
    graft.sources.SnapTable.append(survivors, led2)
    val n3 = StreamingOps.commitCandidateBatch(cand, 0L, res, led2)
    assert(n3 > 0 && n3 < n1, s"recommitted $n3 of $n1")
    val after3 = spark.read.parquet(res).select("feature_id", "ref_id")
      .collect().map(_.toString).sorted
    assert(after3.sameElements(after1), "dynamic overwrite must not duplicate")
  }

  test("kill mid-stream + resume: final match table identical to uninterrupted run") {
    val nRoads = 10
    val refs = graft.operators.ConflationPipeline.references(spark, nRoads).cache()
    val pages = graft.operators.ConflationPipeline.pages(spark, 80, nRoads).toDF()
      .select("url", "text")
    val src = java.nio.file.Files.createTempDirectory("linsrc").toString
    val base = java.nio.file.Files.createTempDirectory("linstream").toString
    // three disjoint chunks of the page stream, arriving over time
    val chunks = (0 until 3).map(i =>
      pages.filter(pmod(xxhash64(col("url")), lit(3)) === i))
    def run(tag: String, phases: Seq[Seq[Int]]): Array[String] = {
      // each phase: stage the newly-arrived chunks, run the query to
      // exhaustion over the SAME checkpoint, then KILL it — every phase
      // boundary is a crash point (the replayed-batch crash case is
      // covered by the commit test above)
      val (res, led, ckp) = (s"$base/$tag/result", s"$base/$tag/ledger", s"$base/$tag/ckp")
      val dir = s"$src/$tag"
      phases.foreach { arrived =>
        arrived.foreach(c =>
          chunks(c).repartition(2).write.mode("overwrite").parquet(s"$dir/chunk$c"))
        val stream = spark.readStream.schema(pages.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/chunk*")
        val q = StreamingOps.streamingCandidatesToLineage(
          stream, refs, nRoads, res, led, ckp)
        try q.processAllAvailable() finally q.stop()
      }
      spark.read.parquet(res).select("feature_id", "ref_id").distinct()
        .collect().map(_.toString).sorted
    }
    // interrupted: 3 query lifetimes, chunks trickling in
    val interrupted = run("kill", Seq(Seq(0), Seq(1), Seq(2)))
    // uninterrupted: one lifetime, all chunks up front
    val clean = run("clean", Seq(Seq(0, 1, 2)))
    assert(interrupted.nonEmpty && interrupted.sameElements(clean))
  }

  test("watermark: late events inside kept, outside dropped, vs the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.parse(s))
    def hs(s: String): Long = java.time.Instant.parse(s).getEpochSecond
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = StreamingOps.windowedEventCounts(
      input.toDF().toDF("ts", "event_type", "value")) // 1h windows, 2h watermark
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("lateout").start()
    try {
      // batch 1: in-order, advances the watermark to 13:30 − 2h = 11:30
      input.addData((ts("2026-01-01T10:00:00Z"), "a", 1.0),
        (ts("2026-01-01T10:30:00Z"), "a", 2.0),
        (ts("2026-01-01T13:30:00Z"), "a", 3.0))
      q.processAllAvailable()
      // batch 2: two LATE arrivals — 10:45 lands in a window already closed
      // by the watermark (end 11:00 ≤ 11:30) and must be DROPPED; 12:15 is
      // out-of-order but inside the watermark and must be KEPT
      input.addData((ts("2026-01-01T10:45:00Z"), "a", 100.0),
        (ts("2026-01-01T12:15:00Z"), "a", 4.0))
      q.processAllAvailable()
      // batch 3: watermark → 14:00, closing the 12:00 and 13:00 windows;
      // the 16:00 window closes after the final 23:00 event (wm 21:00)
      input.addData((ts("2026-01-01T16:00:00Z"), "a", 5.0))
      q.processAllAvailable()
      input.addData((ts("2026-01-01T23:00:00Z"), "a", 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("lateout")
      .select("hour_start", "event_type", "n", "total_value")
      .as[(Long, String, Long, Double)].collect().toSet
    val expected = Set(
      (hs("2026-01-01T10:00:00Z"), "a", 2L, 3.0), // late 10:45 NOT counted
      (hs("2026-01-01T12:00:00Z"), "a", 1L, 4.0), // late-but-inside kept
      (hs("2026-01-01T13:00:00Z"), "a", 1L, 3.0),
      (hs("2026-01-01T16:00:00Z"), "a", 1L, 5.0))
    assert(streamed == expected, s"streamed=$streamed")
    // 23:00's window is still open at the final watermark — nothing emitted
    assert(!streamed.exists(_._1 == hs("2026-01-01T23:00:00Z")))
    // batch twin over the KEPT events, restricted to closed windows,
    // matches exactly
    val keptEvents = spark.createDataset(Seq(
      (ts("2026-01-01T10:00:00Z"), "a", 1.0), (ts("2026-01-01T10:30:00Z"), "a", 2.0),
      (ts("2026-01-01T13:30:00Z"), "a", 3.0), (ts("2026-01-01T12:15:00Z"), "a", 4.0),
      (ts("2026-01-01T16:00:00Z"), "a", 5.0)))
      .toDF("ts", "event_type", "value")
    val twin = StreamingOps.windowedEventCounts(keptEvents)
      .filter(col("hour_start") + 3600 <= hs("2026-01-01T21:00:00Z"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(twin == streamed)
  }

  test("streaming first-writer-wins dedup emits each url exactly once") {
    // duplicate the pages stream 3× — dedup must still emit each url once
    val pages = graft.operators.ConflationPipeline.pages(spark, 50, 10).toDF()
    val tripled = pages.union(pages).union(pages).select("url", "text")
    val tmp = java.nio.file.Files.createTempDirectory("streamdedup").toString
    tripled.repartition(3).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(tripled.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val deduped = StreamingOps.streamingDedupByUrl(stream)
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedupout").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("dedupout")
    assert(out.count() == 50)
    assert(out.select("url").distinct().count() == 50)
  }
}
