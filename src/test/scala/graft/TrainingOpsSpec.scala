package graft

import graft.operators.{Dedup, Similarity, Knn, ConflationPipeline, Multimodal, TextQuality}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TrainingOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  test("minhash LSH finds exactly the brute-force near-dup pairs (full recall at j≥0.7)") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = docs.select(col("doc_id"), Dedup.charShinglesExpr("text", 5).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("j", round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("j") >= 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == brute, s"lsh=${lsh.size} brute=${brute.size}")
    assert(brute.nonEmpty) // the fixture really contains near-dups
  }

  test("simhash: near-identical texts collide, unrelated texts don't") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "the quick brown fox jumps over the lazy cat again and again"
    val t3 = "completely different words about numerical linear algebra kernels"
    def sh(t: String) = Dedup.simhash64(t.split(" ").toSeq)
    assert(Dedup.hamming64(sh(t1), sh(t2)) <= 16)
    assert(Dedup.hamming64(sh(t1), sh(t3)) > 16)
    // pipeline produces verified pairs whose hamming really is ≤ threshold
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 16)
    assert(pairs.filter(col("hamming") > 16).count() == 0)
    assert(pairs.count() > 0)
  }

  test("ANN LSH finds planted near-neighbors (random data carries no signal)") {
    // queries = slightly perturbed copies of corpus vectors: their true
    // nearest neighbor is the source vector with cosine ≈ 0.99
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + (i % 7).cast("float") * lit(0.01f)).as("embedding"))
    val corpus = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val lsh = Similarity.lshTopK(planted, corpus, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = (0 until 20).count(i => lsh.get(i + 100000L).contains(i.toLong))
    assert(hits >= 16, s"top-1 hits: $hits/20") // ≥80% with 1-bit multiprobe
    // and brute force finds all of them (exactness baseline)
    val brute = Similarity.bruteForceTopK(planted, corpus, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert((0 until 20).forall(i => brute.get(i + 100000L).contains(i.toLong)))
  }

  test("kNN cell-ring matches brute force for points with in-ring neighbors") {
    val pts = spark.range(20).select(col("id").as("point_id"),
      (lit(-73.85) + col("id") % 20 / lit(100.0)).as("lon"),
      (lit(42.6) + col("id") % 15 / lit(100.0)).as("lat"))
    val refs = ConflationPipeline.references(spark, 40).cache()
    val ringed = Knn.nearestReferences(pts, refs, k = 3)
    val brute = Knn.bruteForce(pts, refs, k = 3)
    // for every point the ringed top-3 must agree with brute force whenever
    // the brute-force distance is within the guaranteed ring radius (~2.4km)
    val b = brute.filter(col("dist_km") <= 2.0)
      .select("point_id", "rank", "shstReferenceId").as[(Long, Int, String)].collect().toSet
    val r = ringed.select("point_id", "rank", "shstReferenceId")
      .as[(Long, Int, String)].collect().toSet
    assert(b.subsetOf(r), s"missing=${(b diff r).take(5)}")
    // plan shape: the cell join + distinct shuffle ids only — the polyline
    // payload must not ride through the Exchange under the HashAggregate
    // that implements the distinct (VERDICT r2 #5)
    val plan = ringed.queryExecution.executedPlan.toString
    val distinctAggs = plan.split("\n")
      .filter(l => l.contains("HashAggregate(keys=[point_id"))
    assert(distinctAggs.nonEmpty && distinctAggs.forall(!_.contains("coordinates")),
      distinctAggs.mkString("\n"))
  }

  test("multimodal: decode batch shape, metadata propagation, resize, frame sampling") {
    val media = docs.select(col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("media"))
    val decoded = Multimodal.decodeAndExtract(media).cache()
    assert(decoded.count() == docs.count())
    assert(decoded.schema.fieldNames.toSet ==
      Set("media_id", "width", "height", "channels", "n_frames", "format", "feature"))
    // feature is a fixed-width vector
    assert(decoded.filter(size(col("feature")) =!= 8).count() == 0)
    val resized = Multimodal.resizePlan(decoded, 128)
    assert(resized.filter(col("out_width") > 128 || col("out_height") > 128).count() == 0)
    // aspect ratio preserved within integer floor
    assert(resized.filter(col("out_width") < 1 || col("out_height") < 1).count() == 0)
    val frames = Multimodal.frameSample(decoded, 2)
    assert(frames.count() == docs.count())
    // every sampled index is even and within n_frames
    val bad = frames.select(explode(col("sampled_frames")).as("f"))
      .filter(col("f") % 2 =!= 0)
    assert(bad.count() == 0)
    // a zero-frame row (the real codec's undecodable sentinel) samples
    // NOTHING — sequence(0, -1) descends, so without the guard it would
    // claim frame 0 of a media that has no frames
    val withSentinel = decoded.select(col("media_id"), col("n_frames"))
      .union(Seq((-1L, 0)).toDF("media_id", "n_frames"))
    val sampled = Multimodal.frameSample(withSentinel, 2)
    assert(sampled.filter(col("media_id") === -1L).count() == 0)
    assert(sampled.count() == docs.count())
  }

  test("ngram df-cap: a stop-phrase shared by 1k docs can't go quadratic") {
    // 1000 docs that share ONE hot trigram but are otherwise unique, plus a
    // planted true near-dup pair. Without the df cap the hot gram alone
    // materializes ~500k join rows; with it, only real overlaps pair up.
    val hot = "shared hot stop phrase"
    val rows = (0 until 1000).map { i =>
      (i.toLong, s"$hot unique${i}a unique${i}b unique${i}c unique${i}d", "s")
    } :+ (2000L, "alpha beta gamma delta epsilon zeta eta theta", "s") :+
      (2001L, "alpha beta gamma delta epsilon zeta eta iota", "s")
    val df = rows.toDF("doc_id", "text", "source")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", "source",
      threshold = 0.2, maxDf = 50).cache()
    // the planted pair survives; no pair exists on the hot gram alone
    val got = pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((2000L, 2001L)), s"got=$got")
    // candidate volume stayed linear: the only shared grams below the cap
    // are the planted pair's — assert by construction (output is 1 row)
    assert(pairs.count() == 1)
  }

  test("ngram df-cap plan: partial-agg df table, no window over the gram key") {
    // the 100×-scale guarantee (VERDICT r2 #1): the df computation must be
    // a hash aggregate (map-side partial_count shrinks a hot gram to one
    // row per task) anti-joined back — never a window that routes every
    // occurrence of the hot key to a single task before filtering
    val df = (0 until 50).map(i => (i.toLong, s"alpha beta gamma d$i e$i", "s"))
      .toDF("doc_id", "text", "source")
    val plan = Dedup.ngramJaccardPairs(df, "doc_id", "text", "source")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("ngram df-cap: jaccard computed over the REDUCED universe consistently") {
    // two docs share a capped gram + some kept grams: the capped gram must
    // vanish from both |A| and |B| so j stays a valid Jaccard
    val hot = (0 until 60).map(i => (i.toLong, s"common hot gram only$i x$i y$i z$i", "s"))
    val df = hot.toDF("doc_id", "text", "source")
    // every doc pair shares exactly the (capped) "common hot gram" trigram
    // and nothing else → after the cap, intersection is empty → no pairs
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", "source",
      threshold = 0.01, maxDf = 10)
    assert(pairs.count() == 0)
  }

  test("simhash banding is pigeonhole-complete for the advertised radius") {
    // maxHamming=7 → 8 bands of 8 bits. Docs share a large token base and
    // differ in a few binary token choices, yielding pairs across the whole
    // 0..7 hamming range — including >3, where the old fixed 4×16-bit
    // banding had no pigeonhole guarantee.
    val baseToks = (0 until 12).map(k => s"base$k").mkString(" ")
    val rows = (0 until 60).map { i =>
      val variable = (0 until 6).map { k =>
        if ((i >> k) % 2 == 0) s"tok${('a' + k).toChar}" else s"alt${('a' + k).toChar}"
      }.mkString(" ")
      (i.toLong, s"$baseToks $variable")
    }
    val base = rows.toDF("doc_id", "text")
    val pairs16 = Dedup.simhashPairs(base, "doc_id", "text", maxHamming = 7)
    // brute-force agreement over the simhash table
    val t = Dedup.simhashTable(base, "doc_id", "text")
    val a = t.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
    val b = t.select(col("doc_id").as("id_b"), col("simhash").as("hb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= 7)
      .select("id_a", "id_b", "hamming").collect().map(_.toString).toSet
    val banded = pairs16.select("id_a", "id_b", "hamming")
      .collect().map(_.toString).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty, "fixture must contain pairs within hamming<=7")
  }

  test("simhash band mask: the 64-bit band masks ALL bits (1L<<64 wraps)") {
    assert(Dedup.bandMask(64) == -1L)
    assert(Dedup.bandMask(8) == 0xFFL)
    assert(Dedup.bandMask(1) == 1L)
    // h=0 end-to-end: pairs are EXACTLY the equal-simhash groups, through
    // the single 64-bit band (the wrapped mask of 0 still answered this
    // correctly but via one all-reps bucket; the tokenizer treats digits as
    // delimiters, so distinct tokens must differ in LETTERS)
    val rows = (0 until 20).map(i =>
      (i.toLong, s"alpha beta uniq${('a' + i).toChar}gram word$i")) :+
      (100L, "dup text one two three") :+ (101L, "dup text one two three")
    val df = rows.toDF("doc_id", "text")
    val expected = Dedup.simhashTable(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).values.flatMap { g =>
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- i + 1 until ids.size)
          yield (ids(i), ids(j), 0)
      }.toSet
    assert(expected((100L, 101L, 0)))
    val out = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 0).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      expected)
  }

  test("simhash band layout covers all 64 bits without overlap") {
    for (nBands <- Seq(1, 4, 8, 17, 32)) {
      val layout = Dedup.bandLayout(nBands)
      assert(layout.map(_._2).sum == 64)
      assert(layout.head._1 == 0)
      layout.sliding(2).foreach {
        case Seq((lo1, w1), (lo2, _)) => assert(lo1 + w1 == lo2)
        case _ =>
      }
      assert(layout.forall(_._2 >= 1))
    }
  }

  test("embedding-cosine near-dup finds exactly the planted duplicates") {
    val corpus = SmokeWorld.nearDupCorpus(emb)
    val pairs = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every planted copy pairs with its source and nothing else: raw
    // vectors top out at cosine ~0.51 (checked via brute force below)
    assert(pairs == (0 until 25).map(i => (i.toLong, i + 100000L)).toSet, pairs)
    // brute-force agreement: exact cosine over ALL pairs at the threshold
    val e = corpus.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val f = corpus.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val brute = e.crossJoin(f).filter(col("ia") < col("ib"))
      .withColumn("cos", round(Similarity.cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= 0.95)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(pairs == brute)
  }

  test("IVF ANN: planted neighbors found, deterministic across reruns") {
    import graft.operators.Ivf
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + (i % 7).cast("float") * lit(0.01f)).as("embedding"))
    val corpus = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val ivf = Ivf.ivfTopK(planted, corpus, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // a perturbed copy lands in (or probes into) its source's cluster:
    // top-1 must be the source for the vast majority
    val hits = (0 until 20).count(i => ivf.get(i + 100000L).contains(i.toLong))
    assert(hits >= 16, s"top-1 hits: $hits/20")
    // fixed-point centroid sums ⇒ bit-identical index and results on rerun
    val again = Ivf.ivfTopK(planted, corpus, "vec_id", "embedding", k = 1)
      .collect().map(_.toString).sorted
    val first = Ivf.ivfTopK(planted, corpus, "vec_id", "embedding", k = 1)
      .collect().map(_.toString).sorted
    assert(again.sameElements(first))
    // probed-list candidates never degenerate to a cross product
    val cents = Ivf.trainCentroids(corpus, "vec_id", "embedding", nlist = 16)
    val plan = Ivf.candidates(planted, corpus, "vec_id", "embedding", cents, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ANN ground truth: LSH and IVF top-k equal exact brute force on the planted corpus") {
    // the q30/q47 grading contract: on SmokeWorld.annCorpus the exact top-5
    // of every query is its planted duplicate set — the approximate indexes
    // must RECALL it, not merely re-rank their own candidates
    val corpus = SmokeWorld.annCorpus(emb).cache()
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 5)
      .collect().map(_.toString).sorted
    assert(exact.length == 50)
    val lsh = Similarity.lshTopK(queries, corpus, "vec_id", "embedding", k = 5)
      .collect().map(_.toString).sorted
    assert(lsh.sameElements(exact), "LSH top-k must equal exact top-k here")
    val ivf = graft.operators.Ivf.ivfTopK(queries, corpus, "vec_id", "embedding", k = 5)
      .collect().map(_.toString).sorted
    assert(ivf.sameElements(exact), "IVF top-k must equal exact top-k here")
  }

  test("winnowing: docs sharing a long substring share a selected hash") {
    // guarantee (Schleimer et al.): any common substring of length >=
    // k + w - 1 (= 11 here) forces a common selected k-gram hash
    val shared = "thisrunofcharactersiswaylongerthanthreshold"
    val df = Seq(
      (1L, s"prefix-one $shared suffix-one"),
      (2L, s"completely different beginning $shared and end"),
      (3L, "nothing in common with the others at all here")).toDF("doc_id", "text")
    val g = graft.operators.Dedup.kgramHashes(df, "doc_id", "text", 8)
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    val sel = g.withColumn("__n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("sel", min("h").over(win))
      .filter(col("pos") <= greatest(col("__n") - 4, lit(0)))
      .select("doc_id", "sel").distinct()
      .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert((sel(1L) intersect sel(2L)).nonEmpty, "shared substring must collide")
    // and the summary operator is consistent with the raw selection
    val fp = graft.operators.Dedup.winnowedFingerprint(df, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(fp(1L) == sel(1L).size && fp(2L) == sel(2L).size && fp(3L) == sel(3L).size)
  }

  test("winnowing: short docs still emit a fingerprint (ADVICE r2 off-by-one)") {
    // len <= k → exactly one k-gram → one (partial-window) fingerprint; and
    // a doc with n < w k-grams keeps its single whole-doc minimum
    val df = Seq((1L, "tiny"), (2L, "exactly8!"), (3L, "elevenchars"))
      .toDF("doc_id", "text")
    val fp = graft.operators.Dedup.winnowedFingerprint(df, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(fp.keySet == Set(1L, 2L, 3L), s"every doc must fingerprint: $fp")
    assert(fp(1L) == 1L && fp(2L) == 1L && fp(3L) == 1L, fp)
    // a doc with exactly w full windows selects only from full windows:
    // n = 11 k-grams (len 18, k 8), full windows at pos 0..7
    val d4 = Seq((4L, "abcdefghijklmnopqr")).toDF("doc_id", "text")
    val n4 = graft.operators.Dedup.kgramHashes(d4, "doc_id", "text", 8).count()
    assert(n4 == 11L)
  }

  test("winnowing: zero-shuffle HOF form equals the window form row-for-row") {
    // the inline form (array_min over slices, no explode/shuffle) is what
    // q49 runs at scale; it must match the relational twin on every edge:
    // text shorter than k, exactly k, n < w grams, n == w, long docs with
    // repeated substrings (duplicate minima across adjacent windows)
    val docs = Seq(
      (1L, "a"), (2L, "tiny"), (3L, "exactly8!"), (4L, "elevenchars"),
      (5L, "abcdefghijklmnopqr"),
      (6L, "the same phrase repeats the same phrase repeats the same phrase"),
      (7L, ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 4)),
      (8L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzz")).toDF("doc_id", "text")
    val win = graft.operators.Dedup.winnowedFingerprint(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val inl = graft.operators.Dedup.winnowedFingerprintInline(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(inl.sameElements(win), s"inline=${inl.toSeq} window=${win.toSeq}")
    // and the inline plan really is shuffle-free: a single narrow projection
    val plan = graft.operators.Dedup
      .winnowedFingerprintInline(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"inline winnowing must not shuffle:\n$plan")
  }

  test("multimodal: ImageIoCodec really decodes rendered PNG/BMP bytes") {
    import java.awt.image.BufferedImage
    def render(w: Int, h: Int, fmt: String, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out))
      out.toByteArray
    }
    val rows = Seq(
      (1L, render(37, 21, "png", 0xff0000)),  // pure red
      (2L, render(8, 64, "bmp", 0x0000ff)),   // pure blue
      (3L, "definitely not an image".getBytes("UTF-8")))
    val media = spark.createDataset(rows).toDF("media_id", "media")
    val decoded = Multimodal.decodeAndExtract(media,
      () => new Multimodal.ImageIoCodec()).collect()
      .map(r => r.getLong(0) -> r).toMap
    val png = decoded(1L)
    assert(png.getInt(1) == 37 && png.getInt(2) == 21)        // real width/height
    assert(png.getString(5) == "png" && png.getInt(3) == 3)   // format, RGB channels
    val pngFeat = png.getSeq[Float](6)
    assert(pngFeat(0) > 0.99f && pngFeat(1) < 0.01f)          // red-channel mean
    val bmp = decoded(2L)
    assert(bmp.getInt(1) == 8 && bmp.getInt(2) == 64 && bmp.getString(5) == "bmp")
    assert(bmp.getSeq[Float](6)(2) > 0.99f)                   // blue-channel mean
    val bad = decoded(3L)
    assert(bad.getString(5) == "undecodable" && bad.getInt(1) == 0)
    // resize plan math applies to the REAL dimensions
    val resized = Multimodal.resizePlan(Multimodal.decodeAndExtract(media,
      () => new Multimodal.ImageIoCodec()), maxSide = 16)
      .filter(col("media_id") === 2L).select("out_width", "out_height").collect().head
    assert(resized.getInt(0) == 2 && resized.getInt(1) == 16)
  }

  test("hot buckets: 10k identical docs collapse before banding (no k-squared)") {
    // the Common-Crawl failure mode VERDICT r3 #1: a boilerplate page
    // duplicated 10⁴ times shares EVERY band — without the exact-dup
    // collapse the band self-join materializes ~10⁸ candidate rows
    val k = 10000
    val boiler = (0 until k).map(i => (i.toLong, "identical boilerplate page body " * 6))
    val distinctDocs = Seq(
      (900001L, "a genuinely different document about rivers and bridges in the north"),
      (900002L, "a genuinely different document about rivers and bridges in the north country"),
      (900003L, "unrelated text concerning matrix factorization on accelerators"))
    val corpus = spark.createDataset(boiler ++ distinctDocs).toDF("doc_id", "text")
      .repartition(8)
    val (repPairs, members) = Dedup.minhashLshPairsCollapsed(corpus, "doc_id", "text")
    // the kernel sees 4 distinct texts: candidate/verify work is O(distinct²),
    // independent of k
    assert(members.count() == k + 3)
    assert(members.select("__rid").distinct().count() == 4)
    val reps = repPairs.collect()
    // the two river docs are near-dups of each other; boilerplate pairs with
    // nothing at the rep level
    assert(reps.length >= 1 && reps.length <= 3, reps.mkString(","))
    // expansion on a SMALL group is exactly brute force: 60 identical docs
    // → C(60,2) within-pairs at j=1 plus the near-dup cross pairs
    val small = spark.createDataset((0 until 60).map(i =>
      (i.toLong, "same text body for the whole group")) ++ distinctDocs)
      .toDF("doc_id", "text")
    val out = Dedup.minhashLshPairs(small, "doc_id", "text").cache()
    assert(out.filter(col("j") === 1.0).count() == 60L * 59 / 2)
    assert(out.filter(col("id_a") === 900001L && col("id_b") === 900002L).count() == 1)
    // canonical order survives expansion
    assert(out.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("hot buckets: occupancy cap drops over-cap buckets instead of exploding") {
    // 40 DISTINCT near-identical texts (distinct suffix) — they share most
    // bands, so with cap=5 the shared buckets exceed occupancy and drop;
    // the run must complete and emit a SUBSET of the uncapped pairs
    val base = "shared boilerplate prefix that dominates every shingle set " * 8
    val docsN = spark.createDataset((0 until 40).map(i => (i.toLong, base + s" tail$i")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshPairs(docsN, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashLshPairs(docsN, "doc_id", "text", maxBucket = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.nonEmpty)
    assert(capped.subsetOf(uncapped))
    assert(capped.size < uncapped.size) // the cap really engaged (and logged)
  }

  test("hot buckets: simhash distinct-value collapse bounds the band join") {
    // 3000 identical docs → ONE distinct simhash enters banding; the
    // expansion emits exactly C(3000,2)… too big to collect, so count only
    val k = 300
    val corpus = spark.createDataset((0 until k).map(i =>
      (i.toLong, "endlessly repeated boilerplate words here")) ++ Seq(
      (800001L, "some other page about glaciers and moraines"),
      (800002L, "some other page about glaciers and moraines today")))
      .toDF("doc_id", "text")
    val out = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3).cache()
    assert(out.filter(col("hamming") === 0).count() >= k.toLong * (k - 1) / 2)
    assert(out.filter(col("id_a") >= col("id_b")).count() == 0)
    // agreement with brute force over the simhash table (completeness intact)
    val t = Dedup.simhashTable(corpus, "doc_id", "text")
    val brute = t.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
      .join(t.select(col("doc_id").as("id_b"), col("simhash").as("hb")),
        col("id_a") < col("id_b"))
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.select("id_a", "id_b").as[(Long, Long)].collect().toSet == brute)
  }

  test("deterministic: rerunning minhash yields identical pairs") {
    val p1 = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("id_a", "id_b", "j").collect().map(_.toString).sorted
    val p2 = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("id_a", "id_b", "j").collect().map(_.toString).sorted
    assert(p1.sameElements(p2))
  }

  test("sig_eq_count matches the aggregate(zip_with) fold it replaces, " +
    "including unequal lengths and null inputs") {
    val rows = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),       // 3 agree
      (Seq.empty[Long], Seq(1L, 2L)),                    // empty left
      (Seq(5L, 6L, 7L), Seq(5L, 6L)),                    // zip_with pads with null
      (Seq(Long.MinValue, 0L), Seq(Long.MinValue, 0L))). // extremes, full agree
      toDF("a", "b")
      .union(Seq((null, Seq(1L)), (Seq(1L), null), (null, null))
        .asInstanceOf[Seq[(Seq[Long], Seq[Long])]].toDF("a", "b"))
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val got = rows.select(
      graft.functions.vec.sig_eq_count(col("a"), col("b")).as("fast"),
      hof.as("ref")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null parity: $r")
      if (!r.isNullAt(0)) assert(r.getInt(0) == r.getInt(1), s"value parity: $r")
    }
    // SQL surface (GraftExtensions injection path registers the same builder)
    graft.functions.geo.register(spark)
    assert(spark.sql("SELECT sig_eq_count(array(1L,2L), array(1L,3L))")
      .first().getInt(0) == 1)
  }

  test("sign_buckets kernel is bit-identical to the composed " +
    "xxhash64-hyperplane fold across float and double vectors") {
    import graft.operators.Similarity
    // deterministic pseudo-random vectors including negatives, zeros, an
    // empty vector, and a dimension mismatch with the usual 64
    val rng = new scala.util.Random(7)
    val vecs: Seq[Seq[Float]] =
      (0 until 200).map(_ => Seq.fill(64)(rng.nextFloat() * 2f - 1f)) ++
        Seq(Seq.empty[Float], Seq(0f, -0f, 0f), Seq.fill(17)(rng.nextFloat()))
    val df = vecs.toDF("v")
    for (planes <- Seq(1, 8, 13)) {
      val got = df.select(
        Similarity.lshBucket(col("v"), planes).as("fast"),
        Similarity.lshBucketExprForm(col("v"), planes).as("ref")).collect()
      got.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"planes=$planes: $r"))
      // double vectors take the other element-accessor branch
      val gotD = df.select(transform(col("v"), x => x.cast("double")).as("v"))
        .select(Similarity.lshBucket(col("v"), planes).as("fast"),
          Similarity.lshBucketExprForm(col("v"), planes).as("ref")).collect()
      gotD.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"double planes=$planes: $r"))
    }
    // null vector: the kernel is null-intolerant → null bucket (the row
    // falls out of the bucket equi-join), where the composed form's
    // when(null >= 0).otherwise(0) lumped every null embedding into bucket
    // 0 — a deliberate, pinned improvement, not an accidental divergence.
    val nullRow = Seq((None: Option[Seq[Float]])).toDF("v")
      .select(Similarity.lshBucket(col("v"), 8).as("fast"),
        Similarity.lshBucketExprForm(col("v"), 8).as("ref")).first()
    assert(nullRow.isNullAt(0) && nullRow.getLong(1) == 0L)
    // SQL surface
    graft.functions.geo.register(spark)
    assert(spark.sql(
      "SELECT sign_buckets(array(CAST(1.0 AS FLOAT)), 1)").first().getLong(0) >= 0)
  }

  test("components: a 20-node chain converges to one cluster " +
    "(propagation beyond clique diameter), clusters never merge wrongly") {
    import graft.operators.Dedup
    // chain 1-2-3-...-20 (diameter 19), plus a disjoint triangle 100/101/102
    // and an isolated pair (200, 201)
    val pairs = ((1L until 20L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))).toDF("id_a", "id_b")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 20L).foreach(i => assert(got(i) == 1L, s"chain node $i"))
    Seq(100L, 101L, 102L).foreach(i => assert(got(i) == 100L))
    Seq(200L, 201L).foreach(i => assert(got(i) == 200L))
    assert(got.size == 25)
  }

  test("componentsStar: 200-node chain (diameter 199) resolves in log²-" +
    "bounded rounds; string ids label by their lexicographic min") {
    import graft.operators.Dedup
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.componentsStar(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200)
    (1L to 200L).foreach(i => assert(got(i) == 1L, s"chain node $i"))
    // agreement with hash-min over generated graphs is DedupSpec's property
    val sgot = Dedup.componentsStar(Seq(("c", "b"), ("b", "a"), ("x", "y"))
      .toDF("id_a", "id_b")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sgot === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("stopword_hits kernel matches the per-set filter(isInCollection) " +
    "form: overlaps, nulls, empties, duplicate set entries") {
    val en = Seq("the", "and", "of")
    val de = Seq("der", "die", "the")          // "the" overlaps en on purpose
    val dup = Seq("of", "of", "")              // duplicate entry + empty string
    val sets = Seq(en, de, dup)
    val rows = Seq(
      Seq("the", "die", "of", "x", "the"),     // overlaps + repeats
      Seq.empty[String],                       // empty words array
      Seq("", "zzz"),                          // empty-string word hits dup's ""
      Seq("der", "DIE")).toDF("words")         // case must NOT fold here
      .union(Seq(null.asInstanceOf[Seq[String]]).toDF("words"))
      .union(Seq(Seq("the", null, "and")).toDF("words")) // null element
    def composed(sw: Seq[String]) =
      size(filter(col("words"), w => w.isInCollection(sw)))
    val got = rows.select(
      graft.functions.text.stopword_hits(col("words"), sets).as("fast"),
      array(composed(en), composed(de), composed(dup)).as("ref")).collect()
    got.foreach { r =>
      if (r.isNullAt(0)) {
        // null words array: the null-intolerant kernel yields null where the
        // composed per-set form yields an array of per-set nulls — same
        // information, and the kernel's null propagates cleanly through
        // getItem() in q24 exactly as the composed columns did
        assert(r.getSeq[Any](1).forall(_ == null), s"null parity: $r")
      } else assert(r.getSeq[Int](0) == r.getSeq[Int](1), s"value parity: $r")
    }
    // SQL surface: the set literal folds into the plan
    graft.functions.geo.register(spark)
    assert(spark.sql("SELECT stopword_hits(array('a','b','a'), " +
        "array(array('a'), array('b','c')))")
      .first().getSeq[Int](0) == Seq(2, 1))
    // non-foldable set argument is rejected loudly, not silently wrong
    val err = intercept[Exception] {
      spark.sql("SELECT stopword_hits(array('a'), array(array(string(rand()))))")
        .collect()
    }
    assert(err.getMessage.contains("foldable"), err.getMessage)
  }

  test("componentsStar on Fixpoint.Durable: a crash after EVERY round still " +
    "converges to the uninterrupted labels; snapshots audit the contraction") {
    import graft.operators.{Dedup, Fixpoint}
    import graft.sources.SnapTable
    val root = java.nio.file.Files.createTempDirectory("star_state").toString
    // adversarial 40-node chain — needs several contraction rounds
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val expect = Dedup.componentsStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def converged: Boolean = SnapTable.currentVersion(spark, root).exists(v =>
      SnapTable.manifest(spark, root, v).summary.contains("converged=true"))
    // simulate a driver death after every single round: each call is a
    // fresh "driver" that resumes from the durable state and runs ONE round
    var calls = 0
    while (!converged && calls < 40) {
      Dedup.componentsStar(pairs, store = Fixpoint.Durable(root, roundsThisRun = 1))
      calls += 1
    }
    assert(converged, s"after $calls calls")
    // a converged state returns the final labels without running any round
    val vDone = SnapTable.currentVersion(spark, root).get
    val got = Dedup.componentsStar(pairs, store = Fixpoint.Durable(root)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(SnapTable.currentVersion(spark, root).contains(vDone),
      "a call on a converged state must not commit new rounds")
    assert(got == expect)
    assert(got.forall(_._2 == 0L)) // one chain → one component rooted at 0
    // round state rides atomically in the manifest summary
    assert(SnapTable.manifest(spark, root, vDone).summary
      .contains("converged=true"))
    // time travel audits the contraction: v1 is the canonical input chain
    assert(SnapTable.scan(spark, root, asOf = Some(1)).count() == 39)
    // and the fixpoint needed more than one durable generation
    assert(vDone >= 3, s"chain-40 converged suspiciously fast: v$vDone")
  }

  test("nearDupKeepers: singletons keep themselves; each cluster keeps " +
    "exactly its min id; string ids survive") {
    import graft.operators.Dedup
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((2L, 4L), (4L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupKeepers(docs, "doc_id", pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(got === Seq((1L, 1L, true), (2L, 2L, true), (3L, 3L, true),
      (4L, 2L, false), (5L, 5L, true), (6L, 2L, false)))
    // string ids: component is the lexicographic min
    val sdocs = Seq("a", "b", "c").toDF("doc_id")
    val spairs = Seq(("c", "b")).toDF("id_a", "id_b")
    val sgot = Dedup.nearDupKeepers(sdocs, "doc_id", spairs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).sortBy(_._1)
    assert(sgot === Seq(("a", "a", true), ("b", "b", true), ("c", "b", false)))
  }

  // --- html_text: the north-star byte-identity extraction kernel ----------

  private def htmlX(s: String): String = {
    import org.apache.spark.unsafe.types.UTF8String
    graft.functions.TextFn.htmlExtract(UTF8String.fromString(s)).toString
  }

  test("html_text: escape→wrap→extract round-trips ANY text byte-identically") {
    val nasty = Seq(
      "plain words", "", "a < b && c > d", "&amp; already escaped",
      "tag <script>alert(1)</script> inside text",
      "quotes \" and ' stay", "tab\tnewline\n  doubled  spaces preserved",
      "ünïcödé — 中文 🚀 ≤≥", "&#39; literal numeric ref", "trailing amp &",
      "&lt;&gt;&quot;&apos;&amp;", "<", ">", "&", "a&b<c>d\"e'f")
    for (t <- nasty) {
      val esc = t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      val page = "<html><head><script>if (1 < 2) x(\"&\");</script>" +
        "<style>p > em {}</style><!-- c --></head><body><p>" + esc +
        "</p></body></html>"
      assert(htmlX(page) == t, s"round-trip broke for: $t")
    }
  }

  test("html_text: script/style whole-block removal, comments, entities, " +
    "unclosed structures, case-insensitive tags") {
    // script/style content (incl. raw '<' and '&') is removed whole
    assert(htmlX("a<script type=\"t\">1 < 2 && x</script>b") == "ab")
    assert(htmlX("a<style>p > em { }</style>b") == "ab")
    // tag-name terminator required: <scriptx> is a generic tag, not a block
    assert(htmlX("a<scriptx>keep</scriptx>b") == "akeepb")
    // ASCII case-insensitive tags and entities
    assert(htmlX("a<SCRIPT>drop</SCRIPT>b<BR/>c") == "abc")
    assert(htmlX("x&AMP;y&LT;z") == "x&y<z")
    // comments, incl. tag-looking content
    assert(htmlX("a<!-- <p>not text</p> -->b") == "ab")
    // unclosed block/comment/tag consume to EOF (documented divergence
    // from the oracle's regexp form, which only sees well-formed pages)
    assert(htmlX("a<script>never closed") == "a")
    assert(htmlX("a<!-- never closed") == "a")
    assert(htmlX("a<p never closed") == "a")
    // decimal numeric refs in 1..127 decode; everything else is verbatim
    assert(htmlX("&#65;&#97;&#32;&#39;") == "Aa '")
    assert(htmlX("&#128;&#0;&#999;&#x41;&#;&# ;&zzz;&") ==
      "&#128;&#0;&#999;&#x41;&#;&# ;&zzz;&")
    // left-to-right non-overlapping decode: &amp;lt; is a LITERAL "&lt;"
    assert(htmlX("&amp;lt;") == "&lt;")
    // text content is verbatim — no whitespace collapse between tags
    assert(htmlX("<p>a</p> \n <p>b</p>") == "a \n b")
  }

  test("html_text: binary zero-copy path + codegen plan parity with the " +
    "composed regexp/replace chain on the fixture corpus") {
    import graft.functions.text.html_text
    val esc = replace(replace(replace(col("text"),
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
    val page = concat(
      lit("<html><head><script type=\"text/javascript\">if (1 < 2) { s = \"&x\"; }</script>"),
      lit("<style>p > em { color: red }</style><!-- doc "),
      col("doc_id").cast("string"),
      lit(" --></head><body><h1 class=\"t\">"), esc, lit("</h1></body></html>"))
    val pages = docs.select(col("doc_id"), col("text"),
      encode(page, "UTF-8").as("html")).cache()
    // kernel over BINARY input (the input_hint html:binary shape)
    val kernel = pages.select(col("doc_id"), html_text(col("html")).as("tx"))
    // composed Spark built-in chain over the decoded string
    val composed = pages.select(col("doc_id"),
      replace(replace(replace(replace(replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          decode(col("html"), "UTF-8"),
          "<script[^>]*>.*?</script[^>]*>", ""),
          "<style[^>]*>.*?</style[^>]*>", ""),
          "<!--.*?-->", ""),
          "<[^>]*>", ""),
        lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
        lit("&quot;"), lit("\"")), lit("&apos;"), lit("'")),
        lit("&amp;"), lit("&")).as("tx"))
    assert(kernel.exceptAll(composed).isEmpty && composed.exceptAll(kernel).isEmpty)
    // and the invariant itself: extraction recovers `text` byte-identically
    assert(pages.join(kernel, "doc_id")
      .filter(col("tx") =!= col("text")).isEmpty)
    // the kernel stays inside whole-stage codegen (no interpreted fallback —
    // "*(n)" is the codegen-stage marker on the projection)
    val plan = kernel.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("html_text"), plan)
    pages.unpersist()
  }

  test("html_text recovers text byte-identically from the input_hint " +
    "WebPage table's html binary (the north-star invariant end-to-end)") {
    import graft.functions.text.html_text
    // the synthetic Common-Crawl-style corpus carries (url, warc_ts,
    // html:binary, text, lang); extraction from the binary must equal the
    // stored text for EVERY page
    val pages = spark.createDataFrame(
      (0L until 2000L).map(i => graft.synth.Synth.page(i, 64)))
    val bad = pages.filter(html_text(col("html")) =!= col("text"))
    assert(bad.isEmpty, bad.select("url").take(3).mkString(","))
    // and through SQL (registered surface)
    graft.functions.geo.register(spark)
    pages.createOrReplaceTempView("__pages_ht")
    assert(spark.sql(
      "SELECT count(*) FROM __pages_ht WHERE html_text(html) <> text")
      .first().getLong(0) == 0L)
  }

  test("redact_pii: emails, dotted quads, phones — multiple hits, " +
    "boundaries, clean text untouched") {
    import graft.functions.text.redact_pii
    val cases = Seq(
      ("write a.b+c@sub.example.co.uk now", "write <EMAIL> now"),
      ("ips 10.0.0.1 and 192.168.255.254.", "ips <IP> and <IP>."),
      ("call 555-123-4567 or 555-000-1111", "call <PHONE> or <PHONE>"),
      ("x@y.io 1.2.3.4 111-222-3333", "<EMAIL> <IP> <PHONE>"),
      // version strings lack a 4th octet; short digit runs aren't phones
      ("v1.2.3 build 12-34-5678 stays", "v1.2.3 build 12-34-5678 stays"),
      ("no pii here at all", "no pii here at all"))
    val got = cases.map(_._1).toDF("t")
      .select(redact_pii(col("t"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g == e) }
  }

  // --- TrainingSplits: holdout, stratified sample, sequence packing --------

  test("hashSplit: pure projection (no exchange), percent proportions, " +
    "stable under repartition") {
    import graft.operators.TrainingSplits
    val key = concat_ws("|", col("source"), col("doc_id").cast("string"))
    val splits = Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05)
    val got = TrainingSplits.hashSplit(docs, key, splits)
      .select("doc_id", "split")
    // zero shuffle: split assignment must not add an Exchange
    assert(!got.queryExecution.executedPlan.toString.contains("Exchange"),
      got.queryExecution.executedPlan.toString)
    val byName = got.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.values.sum == docs.count())
    // md5 buckets at n=500: train ≈ 450, each holdout ≈ 25 (loose bands)
    assert(byName("train") > 400 && byName("val") > 5 && byName("test") > 5)
    // membership is a function of the key alone — identical after an
    // arbitrary repartition (the resume/backfill guarantee)
    val re = TrainingSplits.hashSplit(docs.repartition(17), key, splits)
      .select("doc_id", "split")
    assert(got.exceptAll(re).isEmpty && re.exceptAll(got).isEmpty)
    // bad weights fail loudly
    intercept[IllegalArgumentException] {
      TrainingSplits.hashSplit(docs, key, Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("mixtureSample: zero-shuffle, nested kept-sets (monotone in rate), " +
    "proportions near targets, rerun-stable") {
    import graft.operators.TrainingSplits
    val key = concat_ws("|", col("source"), col("doc_id").cast("string"))
    def mix(r: Double) = TrainingSplits.mixtureSample(
      docs, key, col("source"), Map.empty, defaultRate = r)
      .select("doc_id")
    // no Exchange: membership is a pure filter
    assert(!mix(0.5).queryExecution.executedPlan.toString.contains("Exchange"))
    // monotone: the 25% kept-set is a subset of the 50% kept-set
    assert(mix(0.25).exceptAll(mix(0.5)).isEmpty)
    assert(mix(0.5).exceptAll(mix(1.0)).isEmpty)
    // rate 0 drops everything, rate 1 keeps everything
    assert(mix(0.0).isEmpty && mix(1.0).count() == docs.count())
    // per-stratum rates apply to their stratum only
    val mixed = TrainingSplits.mixtureSample(docs, key, col("source"),
      Map("src0" -> 0.0, "src2" -> 1.0), defaultRate = 0.5)
    val bySrc = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src0"))
    assert(bySrc("src2") == docs.filter(col("source") === "src2").count())
    val rest = bySrc.filterKeys(k => k != "src0" && k != "src2").values.sum
    val restAll = docs.filter(col("source") =!= "src0" &&
      col("source") =!= "src2").count()
    assert(math.abs(rest.toDouble / restAll - 0.5) < 0.15,
      s"default-rate strata kept $rest of $restAll")
    // deterministic across partitioning
    val re = TrainingSplits.mixtureSample(docs.repartition(13), key,
      col("source"), Map("src0" -> 0.0, "src2" -> 1.0), defaultRate = 0.5)
    assert(mixed.exceptAll(re).isEmpty && re.exceptAll(mixed).isEmpty)
    intercept[IllegalArgumentException] {
      TrainingSplits.mixtureSample(docs, key, col("source"), Map("a" -> 1.5))
    }
  }

  test("stratifiedSample: salted two-level plan equals the naive single " +
    "window exactly, for any salt count") {
    import graft.operators.TrainingSplits
    import org.apache.spark.sql.expressions.Window
    val key = concat_ws("|", col("source"), col("doc_id").cast("string"))
    val naive = docs
      .withColumn("__k", key).withColumn("__o", md5(col("__k")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("__o"), col("__k"))))
      .filter(col("rn") <= 25).drop("__k", "__o")
      .select("lang", "doc_id", "rn")
    for (salts <- Seq(1, 2, 64)) {
      val got = TrainingSplits.stratifiedSample(docs, Seq("lang"), key, 25, salts)
        .select("lang", "doc_id", "rn")
      assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
        s"salts=$salts diverged from the naive window")
    }
    // exactly min(k, |stratum|) per stratum
    val perLang = TrainingSplits.stratifiedSample(docs, Seq("lang"), key, 25)
      .groupBy("lang").count().collect().map(_.getLong(1))
    assert(perLang.forall(_ == 25L), perLang.toSeq.toString)
  }

  test("prioritySample: salted plan equals the naive priority window; " +
    "heavier rows dominate the sample; parallelism-invariant") {
    import graft.operators.TrainingSplits
    import org.apache.spark.sql.expressions.Window
    // salted == naive over the real documents table, weighted by n_chars
    val pr = (conv(substr(md5(col("doc_id").cast("string")), lit(1), lit(15)),
      16, 10).cast("long") + 1L) / greatest(col("n_chars"), lit(1L))
    val naive = docs
      .withColumn("__o", pr)
      .withColumn("rn", row_number().over(Window.partitionBy("source")
        .orderBy(col("__o"), col("doc_id").cast("string"))))
      .filter(col("rn") <= 5).select("source", "doc_id", "rn")
    for (salts <- Seq(1, 3, 64)) {
      val got = TrainingSplits.prioritySample(
        docs, Seq("source"), col("doc_id"), col("n_chars"), 5, salts)
        .select("source", "doc_id", "rn")
      assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
        s"salts=$salts diverged from the naive priority window")
    }
    // weighting: 10 heavy rows (w=1e6) among 90 light (w=1) — the top-5
    // must be (deterministically, and with overwhelming probability over
    // the fixed md5 draw) dominated by heavy rows
    val skewed = spark.range(100).select(
      col("id"), lit("s").as("g"),
      when(col("id") < 10, 1000000L).otherwise(1L).as("w"))
    val picked = TrainingSplits.prioritySample(
      skewed, Seq("g"), col("id"), col("w"), 5)
      .select("id").as[Long].collect()
    assert(picked.count(_ < 10) >= 4, picked.toSeq.toString)
    // and the same call at a different parallelism picks the same rows
    val picked2 = TrainingSplits.prioritySample(
      skewed.repartition(13), Seq("g"), col("id"), col("w"), 5)
      .select("id").as[Long].collect()
    assert(picked.sorted.sameElements(picked2.sorted))
  }

  test("packSequences: capacity respected, every doc placed once, bins " +
    "contiguous, oversized docs isolated, parallelism-independent") {
    import graft.operators.TrainingSplits
    val tokens = size(split(trim(col("text")), "\\s+"))
    val packed = TrainingSplits.packSequences(
      docs, col("doc_id"), tokens, capacity = 512, nShards = 8).cache()
    // every doc exactly once
    assert(packed.count() == docs.count())
    assert(packed.select("key").distinct().count() == docs.count())
    // a bin only exceeds capacity when it holds a single oversized doc
    val over = packed.groupBy("shard", "bin")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .filter(col("tot") > 512 && col("n") > 1)
    assert(over.isEmpty, over.collect().mkString(","))
    // bins are contiguous 0..max within each shard
    val bad = packed.groupBy("shard")
      .agg(max("bin").as("mx"), countDistinct("bin").as("nb"))
      .filter(col("nb") =!= col("mx") + 1)
    assert(bad.isEmpty, bad.collect().mkString(","))
    // same result regardless of input partitioning (the 4N-core guarantee)
    val re = TrainingSplits.packSequences(
      docs.repartition(23), col("doc_id"), tokens, capacity = 512, nShards = 8)
    assert(packed.exceptAll(re).isEmpty && re.exceptAll(packed).isEmpty)
    packed.unpersist()
    // planted oversize: a 10k-token doc opens its own (overflowing) bin,
    // and the following doc starts a fresh bin
    val mini = Seq((1L, 100L), (2L, 10000L), (3L, 100L))
      .toDF("id", "tok")
    val m = TrainingSplits.packSequences(
        mini, col("id"), col("tok"), capacity = 512, nShards = 1)
      .orderBy("bin", "key").collect()
      .map(r => (r.getString(1), r.getLong(3)))
    val big = m.toMap.apply("2")
    assert(m.count { case (_, b) => b == big } == 1,
      s"the oversized doc must sit alone in its bin: ${m.toSeq}")
  }

  test("incrementalDedup: exact-vs-old wins over near; exact-within-new keeps " +
      "the min id; near copy resolves to the min old id; fresh docs kept") {
    val long = "the quick brown fox jumps over the lazy dog again and again"
    val old = Seq(
      (10L, long),
      (20L, "completely different content about databases and storage engines"),
      (30L, long) // exact dup inside OLD: min matching id must still be 10
    ).toDF("doc_id", "text")
    val newDocs = Seq(
      (100L, long),                                        // exact vs old
      (101L, long + " extra!"),                            // near vs old (J≈0.85)
      (102L, "entirely new thing nobody wrote before"),    // kept
      (103L, "dup group body"),                            // kept (group min)
      (104L, "dup group body")                             // exact within new
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(
        newDocs, Dedup.signatureTable(old, "doc_id", "text"), old,
        "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (100L, "exact_dup", 10L),
      (101L, "near_dup", 10L),
      (102L, "kept", -1L),
      (103L, "kept", -1L),
      (104L, "exact_dup", 103L)))
  }

  test("bm25TopK: hand-computed Okapi scores, multi-term accumulation, " +
      "k cut, salt-invariance") {
    // N=4, avgdl=2.25; df(apple)=1 df(banana)=2 df(cherry)=2
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry"),
      (4L, "date")
    ).toDF("doc_id", "text")
    val queries = Seq(
      (100L, "apple cherry"),
      (101L, "banana cherry")
    ).toDF("query_id", "qtext")
    def run(salts: Int) = graft.operators.Search
      .bm25TopK(docs, queries, "doc_id", "text", "query_id", "qtext",
        k = 2, salts = salts)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
    val got = run(8)
    // q100: apple→doc1 (idf ln(1+3.5/1.5) × 4.4/3.5 = 1.513566),
    //       cherry→doc3 (ln2 × 6.6/4.5 = 1.016616) beats doc2 (0.726154)
    assert(got(0) == ((100L, 1L, 1L, 1.513566, 1)))
    assert(got(1) == ((100L, 3L, 1L, 1.016616, 2)))
    // q101: doc2 matches BOTH terms (2 × 0.726154… summed pre-round)
    assert(got(2) == ((101L, 2L, 2L, 1.452308, 1)))
    assert(got(3) == ((101L, 3L, 1L, 1.016616, 2)))
    assert(got.length == 4)
    assert(run(1).toSeq == got.toSeq, "salted plan must equal the naive window")
  }

  test("lmScore: hand-computed add-one bigram NLL; full-OOV doc; short doc zeros") {
    // reference: "the cat sat. the cat ran" → bigram counts (the,cat)=2,
    // (cat,sat)=1, (sat,the)=1, (cat,ran)=1; ctx the=2 cat=2 sat=1; V=4
    val ref = Seq((101L, "the cat sat. the cat ran")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the cat sat"), // p=3/6, 2/6 → NLL=(ln2+ln3·…) hand-pinned below
      (2L, "dog zebra"),   // unseen pair+ctx → p=1/(0+4); oov_frac=1
      (3L, "x")            // <2 tokens → zeros
    ).toDF("doc_id", "text")
    val got = TextQuality.lmScore(corpus, ref, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got(0)._1 == 1L && got(0)._2 == 2L)
    // -(ln(3/6)+ln(2/6))/2 = 0.8958797… → 0.89588 at 6dp
    assert(math.abs(got(0)._3 - 0.89588) < 1e-9 && got(0)._4 == 0.0)
    // -ln(1/4) = 1.3862943… → 1.386294
    assert(got(1) == ((2L, 1L, 1.386294, 1.0)))
    assert(got(2) == ((3L, 0L, 0.0, 0.0)))
  }

  test("lineDedup: global first occurrence wins; within-doc repeats collapse; " +
      "all-lost docs keep empty text; order preserved") {
    val rows = Seq(
      (1L, "boiler. alpha one. alpha one. unique one"),
      (2L, "boiler. beta two. unique two"),
      (3L, "boiler. alpha one"), // every line first-seen elsewhere
      (4L, "gamma four. boiler. gamma four. tail four")
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedup(rows, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got(0) == ((1L, "boiler. alpha one. unique one", 3L, 4L)))
    assert(got(1) == ((2L, "beta two. unique two", 2L, 3L)))
    assert(got(2) == ((3L, "", 0L, 2L)))
    assert(got(3) == ((4L, "gamma four. tail four", 2L, 4L)))
  }

  test("chunkWindows: exact chunk ids/starts/sizes, full token coverage, " +
      "window-stride overlap, empty docs drop, no exchange in the plan") {
    import graft.operators.TrainingSplits
    val w10 = (1 to 25).map(i => s"w$i").mkString(" ") // 25 tokens
    val rows = Seq(
      (1L, w10),                       // window 10 stride 6 → chunks at 1,7,13,19
      (2L, "a b c"),                   // shorter than window → one chunk
      (3L, ""),                        // empty → no rows
      (4L, (1 to 10).map(i => s"v$i").mkString(" ")) // exactly window → one chunk
    ).toDF("doc_id", "text")
    val got = TrainingSplits.chunkWindows(rows, "doc_id", "text",
      window = 10, stride = 6)
    val rowsGot = got.orderBy("doc_id", "chunk_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // doc 1: 25 tokens → 1 + ceil(15/6) = 4 chunks; last one short (19..25)
    val d1 = rowsGot.filter(_._1 == 1L)
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 1L, 10L), (1L, 7L, 10L), (2L, 13L, 10L), (3L, 19L, 7L)))
    assert(d1.last._5 == (19 to 25).map(i => s"w$i").mkString(" "))
    // consecutive chunks overlap by window - stride = 4 tokens
    assert(d1(0)._5.split(" ").takeRight(4).toSeq ==
      d1(1)._5.split(" ").take(4).toSeq)
    // every token of doc 1 is covered by some chunk
    val covered = d1.flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (1L to 25L).toSet)
    assert(rowsGot.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 1L, 3L, "a b c")))
    assert(!rowsGot.exists(_._1 == 3L))
    assert(rowsGot.filter(_._1 == 4L).map(c => (c._2, c._4)).toSeq ==
      Seq((0L, 10L)))
    // chunking is a pure projection: no Exchange anywhere in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("chunkWindows: string doc ids (urls) keep their identity — no " +
      "silent long-cast to null") {
    import graft.operators.TrainingSplits
    val rows = Seq(
      ("https://a.test/1", "one two three four"),
      ("https://b.test/2", "five six")).toDF("url", "text")
    val ids = TrainingSplits.chunkWindows(rows, "url", "text",
      window = 3, stride = 2)
      .select("doc_id").as[String].collect().toSet
    assert(ids == Set("https://a.test/1", "https://b.test/2"), ids.toString)
  }

  test("capBuckets: the shuffled fallback (hot-key set past the broadcast " +
    "limit) drops exactly the same rows as the broadcast path") {
    // buckets: (0,100) holds 4 rows (over cap 3 -> dropped), (1,200) holds 2
    val banded = spark.createDataset(
      (0 until 4).map(i => (i.toLong, 0, 100L)) ++
        Seq((10L, 1, 200L), (11L, 1, 200L)))
      .toDF("id", "__b", "__h")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val broadPath = Dedup.capBuckets(banded, 3, "spec")
      val shufPath = Dedup.capBuckets(banded, 3, "spec", broadcastLimit = 0L)
      val want = Set(10L, 11L)
      assert(broadPath.select("id").as[Long].collect().toSet == want)
      assert(shufPath.select("id").as[Long].collect().toSet == want)
      // with auto-broadcast off, only the hinted path may broadcast
      assert(broadPath.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(!shufPath.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }


  test("multimodal: renderSolidImages -> ImageIoCodec round trip matches " +
    "the exact id arithmetic the q91 oracle replays") {
    val ids = spark.range(0, 60).toDF("doc_id")
    val out = Multimodal.decodeAndExtract(
      Multimodal.renderSolidImages(ids, "doc_id"),
      () => new Multimodal.ImageIoCodec()).collect()
    assert(out.length == 60)
    out.foreach { r =>
      val id = r.getLong(0)
      if (id % 5 == 0) {
        assert(r.getInt(1) == 0 && r.getInt(2) == 0 && r.getInt(3) == 0)
        assert(r.getString(5) == "undecodable")
        assert(r.getSeq[Float](6).forall(_ == 0.0f))
      } else {
        assert(r.getInt(1) == 8 + (id % 9).toInt, s"width of $id")
        assert(r.getInt(2) == 8 + ((id * 3) % 7).toInt, s"height of $id")
        assert(r.getInt(3) == 3 && r.getInt(4) == 1)
        assert(r.getString(5) == (if (id % 2 == 0) "png" else "bmp"))
        val f = r.getSeq[Float](6)
        assert(f(0) == ((id % 256) / 255.0).toFloat, s"r_mean of $id")
        assert(f(1) == (((id * 7) % 256) / 255.0).toFloat, s"g_mean of $id")
        assert(f(2) == (((id * 13) % 256) / 255.0).toFloat, s"b_mean of $id")
        assert(f(3) == 0.0f)
      }
    }
  }

}
