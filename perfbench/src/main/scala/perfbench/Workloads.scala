package perfbench

import graft.{SmokeWorld, SparkEntry}
import graft.operators.{ConflationPipeline, Dedup, MatchPostProcessor, WebGraph}
import graft.sources.SnapTable
import graft.synth.Synth
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** One pass: its index, and the tracer when the pass is traced. */
final class Pass(val index: Int, val tracer: Option[Tracer]) {
  def traced: Boolean = tracer.isDefined
  def layer[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name, index)(body))
  /** Records a count on the innermost open span of a traced pass. */
  def note(key: String, n: Long): Unit = tracer.foreach(_.count(key, n))
}

/**
 * What a pass reports: its wall time (gate checks excluded), the operations
 * it attempted, one message per failed operation, per-operation seconds,
 * and the items it produced.
 */
final case class PassOut(wallS: Double, ops: Int, failures: Seq[String],
    opSeconds: Seq[Double], items: Map[String, Long], opNames: Seq[String] = Nil)

trait Workload {
  def name: String
  /** Generates and materializes the inputs, inside [[holdInputs]]. */
  def prepare(): Unit
  /** The untimed warm-up; returns gate failures. */
  def warmup(): Seq[String]
  def pass(p: Pass): PassOut
  /** Called after the retained-storage probe of each pass. */
  def afterPass(): Unit = ()
  /** Timed passes a run makes even when `--seconds` have passed. */
  def minPasses: Int = 1

  /** The RDDs holding this workload's own inputs: the retained-storage probe
    * skips them, so it counts only what the engine keeps. */
  final val inputIds: mutable.Set[Int] = mutable.Set.empty

  /** Runs `body` and records the RDDs it leaves stored as inputs. */
  protected def holdInputs(sc: SparkContext)(body: => Unit): Unit = {
    def stored = sc.getRDDStorageInfo.map(_.id).toSet
    val before = stored
    body
    inputIds ++= stored -- before
  }
}

object Workload {
  private[perfbench] val Level = StorageLevel.MEMORY_AND_DISK

  def families: Seq[(String, Seq[Int])] = {
    def r(a: Int, b: Int) = a to b
    Seq(
      "relational" -> (r(1, 14) ++ Seq(25, 82, 89)),
      "geo" -> (r(15, 19) ++ Seq(31, 34)),
      "conflation" -> (r(40, 44) ++ r(50, 57)),
      "text" -> (r(20, 24) ++ Seq(48, 49, 61, 66) ++ r(69, 71) ++ Seq(74, 75, 80)),
      "similarity" -> (r(26, 30) ++ Seq(46, 47, 76, 79)),
      "components" -> Seq(59, 60, 67, 77, 78),
      "io" -> Seq(32, 33, 45, 58, 68, 72, 73, 85, 88, 91),
      "sketch_sample" -> (r(62, 65) ++ Seq(81, 83, 84, 86, 87, 90)))
  }

  /** Leaf name → family. Fails unless the families cover every leaf once. */
  def familyOf(leaves: Seq[String]): Map[String, String] = {
    val byNum = families.flatMap { case (f, ns) => ns.map(_ -> f) }
    require(byNum.map(_._1).distinct.size == byNum.size, "a leaf number sits in two families")
    val numOf = leaves.map(l => l -> l.drop(1).takeWhile(_.isDigit).toInt).toMap
    val m = byNum.toMap
    val missing = leaves.filterNot(l => m.contains(numOf(l)))
    require(missing.isEmpty, s"leaves without a family: ${missing.mkString(", ")}")
    val unused = byNum.map(_._1).filterNot(numOf.values.toSet)
    require(unused.isEmpty, s"family numbers without a leaf: ${unused.mkString(", ")}")
    leaves.map(l => l -> m(numOf(l))).toMap
  }
}

/**
 * `conflate`: the conflation pipeline's body, called layer by layer through
 * ConflationPipeline's public functions, over the synthetic pages with
 * index range [k·N, (k+1)·N) on a fixed road network, where k is the seed
 * modulo [[ConflateWorkload.Slices]]. Every slice's output is pinned, so
 * every timed pass is gated whatever the seed.
 */
final class ConflateWorkload(spark: SparkSession, seed: Long, pins: Map[String, Digest])
    extends Workload {
  import ConflateWorkload._
  def name = "conflate"
  private var reference: Option[Result] = None
  private val slice = Math.floorMod(seed, Slices.toLong)

  def prepare(): Unit = ()

  override def afterPass(): Unit = spark.catalog.clearCache()

  /** One untimed, gated pass over slice 0. */
  def warmup(): Seq[String] = verify("seed0", run(0L, new Pass(-1, None)))

  def pass(p: Pass): PassOut = {
    val res = run(slice, p)
    val failures = verify(s"seed$slice", res) ++ (reference match {
      case Some(ref) if ref.copy(wallS = 0) != res.copy(wallS = 0) =>
        Seq(s"pass ${p.index} output differs from pass 0: $res vs $ref")
      case _ => Nil
    })
    if (reference.isEmpty) reference = Some(res)
    PassOut(res.wallS, 1, failures.take(1), Seq(res.wallS),
      Map("segments" -> res.segments, "tiles" -> res.tiles))
  }

  private def verify(key: String, r: Result): Seq[String] =
    (if (r.segDigest.rows != r.segments) Seq(s"segment count ${r.segments} != digest rows") else Nil) ++
      Seq("segments" -> r.segDigest, "tiles" -> r.tileDigest).flatMap { case (what, got) =>
        pins.get(s"$key.$what") match {
          case Some(want) => Gate.check(s"conflate $key $what", got, Some(want))
          case None => Some(s"conflate $key $what: no pinned digest (got ${got.render})")
        }
      }

  /** One pass over pages [s·N, (s+1)·N). */
  def run(s: Long, p: Pass): Result = {
    import spark.implicits._
    val held = mutable.ArrayBuffer.empty[Dataset[_]]
    def keep[T](ds: Dataset[T]): Dataset[T] = { held += ds; ds.persist(Workload.Level) }
    // traced passes persist and count every layer's output at its boundary;
    // untimed ones persist exactly what ConflationPipeline.run persists
    def boundary[T](ds: Dataset[T], always: Boolean = false): Dataset[T] =
      if (p.traced) { val d = keep(ds); p.note("rows", d.count()); d }
      else if (always) keep(ds) else ds
    def L[T](layer: String)(body: => T): T = p.layer(s"conflate.$layer")(body)

    val t0 = System.nanoTime()
    val pages = L("pages")(boundary(
      spark.range(s * N, (s + 1) * N).map(i => Synth.page(i, Roads)), always = true))
    val f = L("features")(boundary(ConflationPipeline.features(pages, Roads), always = true))
    val r = L("refs")(boundary(ConflationPipeline.references(spark, Roads), always = true))
    val cands = L("candidates")(boundary(ConflationPipeline.matchCandidates(f, r)))
    val scored = L("score")(boundary(ConflationPipeline.scoredCandidates(cands)))
    val matched = L("postprocess")(boundary(MatchPostProcessor(scored).toDF()))
    val enriched = L("enrich")(boundary(ConflationPipeline.enrichMatches(f, matched)))
    def counted[T](ds: Dataset[T]): (Dataset[T], Long) = {
      val d = keep(ds); val n = d.count(); p.note("rows", n); (d, n)
    }
    val (segs, nSegs) = L("kernel")(counted(ConflationPipeline.conflate(r, enriched)))
    val (tiles, nTiles) = L("tiles")(counted(ConflationPipeline.tiles(segs, 12)))
    val wall = (System.nanoTime() - t0) / 1e9
    val res = Result(nSegs, nTiles, Gate.digest(segs.toDF()), Gate.digest(tiles), wall)
    held.foreach(_.unpersist(blocking = true))
    res
  }
}

object ConflateWorkload {
  /** Pages per seed and roads in the network (25 pages per road, the ratio
    * of the paper-scale 400,000-page / 16,000-road run), sized so a pass
    * fits the benchmark's time budget. */
  val N = 10000L
  val Roads = 400
  /** Page slices with pinned outputs: seeds map onto them modulo this. */
  val Slices = 32
  val Layers = Seq("pages", "features", "refs", "candidates", "score", "postprocess",
    "enrich", "kernel", "tiles")
  final case class Result(segments: Long, tiles: Long, segDigest: Digest, tileDigest: Digest,
      wallS: Double)
}

/**
 * `dedup_corpus`: a seed-keyed corpus with planted ground truth — one
 * byte-identical boilerplate cluster, four-member near-duplicate families
 * and singletons — through signatures, the star labeler, a snapshot-table
 * write and read, incremental dedup of a planted next crawl, and PageRank
 * over a host graph derived from the corpus.
 */
final class DedupWorkload(spark: SparkSession, seed: Long, work: String, warm: Boolean)
    extends Workload {
  import DedupWorkload._
  def name = "dedup_corpus"
  private var docs: DataFrame = _
  private var crawl: DataFrame = _
  private var edges: DataFrame = _
  private var snapN = 0

  private def tokens(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(" ", transform(sequence(lit(1), lit(40)),
      i => substring(md5(concat(lit(s"$seed:"), key, lit("_"), i.cast("string"))), 1, 8)))
  private def singleton(id: org.apache.spark.sql.Column) = tokens(concat(lit("s"), id.cast("string")))

  def prepare(): Unit = holdInputs(spark.sparkContext) {
    Seq(docs, crawl, edges).filter(_ != null).foreach(_.unpersist(blocking = true))
    val id = col("id")
    val boiler = s"cookie consent notice $seed please accept our terms and conditions to " +
      "continue to the requested page thank you for visiting"
    val member = substring(md5(concat(lit(s"$seed:m"), id.cast("string"))), 1, 10)
    docs = spark.range(0, NDocs, 1, Parts).select(id.as("doc_id"),
      when(id < Boiler, lit(boiler))
        .when(id < FirstSingleton,
          concat(tokens(concat(lit("f"), ((id - Boiler) / 4).cast("long").cast("string"))),
            lit(" z"), member))
        .otherwise(singleton(id)).as("text"))
      .persist(Workload.Level)
    val j = id - NDocs
    val kind = pmod(j, lit(4))
    crawl = spark.range(NDocs, NDocs + NewDocs, 1, Parts).select(id.as("doc_id"),
      when(kind === 0, singleton(lit(FirstSingleton) + (j / 4).cast("long") * 2))
        .when(kind === 1, concat(singleton(lit(FirstSingleton) + (j / 4).cast("long") * 2 + 1),
          lit(" y"), member))
        .when(kind === 2, tokens(concat(lit("n"), j.cast("string"))))
        .otherwise(tokens(concat(lit("n"), (j - 1).cast("string")))).as("text"))
      .persist(Workload.Level)
    // every document links from its host to four others at fixed offsets:
    // each host then has in- and out-degree 4, so every rank stays at scale
    edges = docs.select((col("doc_id") % Hosts).as("src"))
      .select(col("src"), explode(array(HostOffsets.map(o => (col("src") + o) % Hosts): _*)).as("dst"))
      .persist(Workload.Level)
    docs.count(); crawl.count(); edges.count()
  }

  /** Untraced runs have no dedup warm-up of their own: the conflate
    * phase's warm-up pass, which runs first, warms the JVM and Spark, and
    * their time budget holds no second one. Traced runs (`warm`) run one
    * untimed pass, so the untraced and traced passes that `trace_overhead`
    * compares both run warm dedup code. */
  def warmup(): Seq[String] =
    if (!warm) Nil
    else { val failures = run(new Pass(-1, None))._2; afterPass(); failures }

  def pass(p: Pass): PassOut = {
    val (wall, failures) = run(p)
    PassOut(wall, 1, failures.take(1), Seq(wall), Map("docs" -> NDocs))
  }

  /** Engine caches are dropped between passes, so each pass starts alike;
    * the inputs are materialized again outside the timed window. */
  override def afterPass(): Unit = { spark.catalog.clearCache(); prepare() }

  private def run(p: Pass): (Double, Seq[String]) = {
    def L[T](layer: String)(body: => T): T = p.layer(s"dedup.$layer")(body)
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { held += df; df.persist(Workload.Level) }
    // traced passes persist and count each layer's output at its boundary
    def boundary(key: String, df: DataFrame): DataFrame =
      if (p.traced) { val d = keep(df); p.note(key, d.count()); d } else df
    snapN += 1
    val root = s"$work/snap-$snapN"
    val t0 = System.nanoTime()
    val (repPairs, members) = L("signatures") {
      val (pairs, members) = Dedup.minhashLshPairsCollapsed(docs, "doc_id", "text")
      (boundary("pairs", pairs), boundary("members", members))
    }
    val keepers = L("labeler") {
      val k = keep(Dedup.nearDupKeepersCollapsed(docs, "doc_id", repPairs, members,
        Dedup.componentsStar(_, _, _)))
      p.note("rows", k.count()); k
    }
    val oldSigs = L("snapshot") {
      SnapTable.append(Dedup.signatureTable(docs, "doc_id", "text"), root)
      boundary("rows", SnapTable.scan(spark, root))
    }
    val inc = L("incremental") {
      val d = keep(Dedup.incrementalDedup(crawl, oldSigs, docs, "doc_id", "text"))
      p.note("rows", d.count()); d
    }
    val ranks = L("pagerank") {
      val d = keep(WebGraph.pageRank(edges, "src", "dst")); p.note("rows", d.count()); d
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val failures = check(keepers, SnapTable.scan(spark, root).count(), inc, ranks)
    held.foreach(_.unpersist(blocking = true))
    Files.rmTree(new java.io.File(root))
    (wall, failures)
  }

  /** The planted ground truth. */
  private def check(keepers: DataFrame, nSnap: Long, inc: DataFrame,
      ranks: DataFrame): Seq[String] = {
    val (nKeepers, nInc, nRanks) = (keepers.count(), inc.count(), ranks.count())
    val id = col("doc_id")
    val expComp = when(id < Boiler, lit(0L))
      .when(id < FirstSingleton, lit(Boiler) + ((id - Boiler) / 4).cast("long") * 4)
      .otherwise(id)
    val badKeepers = keepers.filter(!(col("comp") === expComp) ||
      !(col("keeper") === (col("comp") === id))).count()
    val j = id - NDocs
    val kind = pmod(j, lit(4))
    val expStatus = when(kind === 1, "near_dup").when(kind === 2, "kept").otherwise("exact_dup")
    val expDup = when(kind === 0, lit(FirstSingleton) + (j / 4).cast("long") * 2)
      .when(kind === 1, lit(FirstSingleton) + (j / 4).cast("long") * 2 + 1)
      .when(kind === 3, id - 1).otherwise(lit(-1L))
    val badInc = inc.filter(!(col("status") === expStatus) || !(col("dup_of") === expDup)).count()
    val badRanks = ranks.filter(col("rank") =!= 1000000L).count()
    Seq(
      (nKeepers != NDocs) -> s"keepers: $nKeepers rows for $NDocs docs",
      (badKeepers != 0) -> s"keepers: $badKeepers docs off the planted components",
      (nSnap != NDocs) -> s"snapshot: scan read $nSnap signature rows for $NDocs docs",
      (nInc != NewDocs) -> s"incremental: $nInc rows for $NewDocs new docs",
      (badInc != 0) -> s"incremental: $badInc new docs off the planted status",
      (nRanks != Hosts) -> s"pagerank: $nRanks ranked hosts for $Hosts",
      (badRanks != 0) -> s"pagerank: $badRanks hosts off the regular-graph rank"
    ).collect { case (true, msg) => msg }
  }
}

object DedupWorkload {
  // corpus shape: a tenth boilerplate, sixty percent in four-member
  // families, the rest singletons; the next crawl adds a tenth more
  val NDocs = 4000L
  val Boiler: Long = NDocs / 10
  val FirstSingleton: Long = Boiler + 4 * (NDocs * 3 / 20)
  val NewDocs: Long = NDocs / 10
  val Hosts = 200L
  val HostOffsets = Seq(1L, 7L, 49L, 143L)
  val Parts = 8
  val Layers = Seq("signatures", "labeler", "snapshot", "incremental", "pagerank")
}

/**
 * `catalog`: a fixed panel of `SparkEntry.queries` leaves over the
 * oracle-graded SF0.01 tables (`dir`, read only), run in an order the seed
 * fixes. The panel holds at least one leaf of every family; all 86 leaves
 * are pinned and belong to a family. A leaf's time covers building
 * its DataFrame and executing it once into the output digest.
 */
final class CatalogWorkload(spark: SparkSession, seed: Long, dir: String,
    pins: Map[String, Digest]) extends Workload {
  def name = "catalog"
  private val leaves: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
  val familyOf: Map[String, String] = Workload.familyOf(leaves)
  private val order = new scala.util.Random(seed).shuffle(
    leaves.filter(l => CatalogWorkload.Panel.contains(l.take(3))))

  /** The fixtures the leaves read besides the tables: the session-cached
    * smoke world and the snapshot table, built as `graft.Bench`'s warm-up
    * builds them. */
  def prepare(): Unit = holdInputs(spark.sparkContext) {
    SmokeWorld(spark)
    SmokeWorld.snapTableFixture(spark, dir)
    ()
  }

  /** Two untimed, gated passes of the panel. Passes keep speeding up after
    * the first (one run read 7.1, 5.5 and 5.2 s for the three passes after
    * a single warm-up pass), so the second lets the JIT settle further. */
  def warmup(): Seq[String] = (1 to 2).flatMap(_ => pass(new Pass(-1, None)).failures)

  /** The median of three timed passes is robust to one slow pass. */
  override def minPasses: Int = 3

  def pass(p: Pass): PassOut = {
    val t0 = System.nanoTime()
    val results = order.map { leaf =>
      val name = s"catalog.${familyOf(leaf)}"
      p.layer(name) {
        val l0 = System.nanoTime()
        val out = try {
          val df = SparkEntry.queries(leaf)(spark, dir)
          val d = Gate.digest(df)
          val phases = df.queryExecution.tracker.phases
          p.note("plan_us", Seq("analysis", "optimization", "planning")
            .flatMap(phases.get).map(_.durationMs).sum * 1000)
          pins.get(leaf) match {
            case Some(want) => Gate.check(leaf, d, Some(want))
            case None => Some(s"$leaf: no pinned digest (got ${d.render})")
          }
        } catch {
          case e: Throwable => Some(s"$leaf: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
        ((System.nanoTime() - l0) / 1e9, out)
      }
    }
    PassOut((System.nanoTime() - t0) / 1e9, results.size, results.flatMap(_._2),
      results.map(_._1), Map("leaves" -> results.size.toLong), order)
  }

  /** Every leaf's digest, in leaf order: the catalog's pins. Each leaf runs
    * twice; differing digests mean it is not deterministic and cannot be
    * pinned. */
  def pinAll(): Seq[(String, Digest)] = leaves.map { l =>
    val first = Gate.digest(SparkEntry.queries(l)(spark, dir))
    val second = Gate.digest(SparkEntry.queries(l)(spark, dir))
    require(first == second, s"$l is not deterministic: ${first.render} then ${second.render}")
    l -> first
  }
}

object CatalogWorkload {
  /** The panel, by leaf number: the time budget of a run (one JVM start,
    * set-up and two warm-up passes included) holds about a tenth of the 86
    * leaves, and three timed passes of them. The components leaf is q59:
    * MinHash-LSH signatures and the labeler over the corpus table, 2.0–2.2 s
    * on 4 cores against 3.0 s for the star labeler's q60. As it already
    * runs the signatures, the similarity family takes a cheap leaf,
    * brute-force ANN (q29). */
  val Panel: Set[String] = Set(
    "q01", "q04", // relational
    "q15", // geo
    "q41", // conflation
    "q21", // text
    "q29", // similarity
    "q59", // components
    "q58", // io
    "q81") // sketch_sample
}
