package graft

import graft.operators.{Dedup, Fixpoint}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Properties pinning graft's twin near-dup paths to each other: the
  * collapsed and expanded LSH resolutions, and the three labeler paths
  * (hash-min, star on the local store, star on the durable store). */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Runs `prop` from a fixed seed without shrinking (every case is a
    * handful of Spark jobs); the report names the failing input. */
  private def check(prop: Prop, cases: Int): Unit = {
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(cases).withWorkers(1)
      .withInitialSeed(Seed(20141103L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private val word: Gen[String] = Gen.frequency(
    6 -> Gen.choose(2, 8).flatMap(Gen.listOfN(_, Gen.alphaLowerChar)).map(_.mkString),
    1 -> Gen.oneOf("ñandú", "日本語", "Ωμέγα", "straße", "😀ok", "façade"))

  private val text: Gen[String] = Gen.listOfN(40, word).map(_.mkString(" "))

  /** A four-member near-dup family: a base text and three one-word edits
    * of it (5-char shingle Jaccard ≈ 0.9 against the base). */
  private val family: Gen[Seq[String]] = for {
    base <- Gen.listOfN(40, word)
    edits <- Gen.listOfN(3, Gen.zip(Gen.choose(0, 39), word))
  } yield base.mkString(" ") +: edits.map { case (i, w) => base.updated(i, w).mkString(" ") }

  /** Corpus texts (None = null text): exact-dup groups, near-dup families,
    * exact copies of family members, singletons, null and empty texts. */
  private val corpus: Gen[Seq[Option[String]]] = for {
    groups <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.zip(text, Gen.choose(2, 4))))
    fams <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, family))
    copies <- Gen.someOf(fams.flatten)
    singles <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, text))
    nulls <- Gen.choose(0, 2)
    empties <- Gen.choose(0, 2)
  } yield groups.flatMap { case (t, k) => Seq.fill(k)(Some(t)) } ++
    (fams.flatten ++ copies ++ singles).map(Some(_)) ++
    Seq.fill(nulls)(None) ++ Seq.fill(empties)(Some(""))

  /** Distinct shuffled ids, so no group's representative is its first row. */
  private val docsGen: Gen[Seq[(Long, Option[String])]] = for {
    texts <- corpus
    ids <- Gen.pick(texts.size, 1L to 5000L)
    order <- Gen.pick(ids.size, ids)
  } yield order.toSeq.zip(texts)

  private val labelers: Seq[(String, (DataFrame, String, String) => DataFrame)] = Seq(
    "components" -> (Dedup.components(_, _, _)),
    "componentsStar" -> (Dedup.componentsStar(_, _, _)))

  test("nearDupKeepersCollapsed over the collapsed LSH form equals " +
    "nearDupKeepers over the expanded pairs, under both labelers") {
    check(Prop.forAllNoShrink(docsGen) { rows =>
      val docs = rows.toDF("doc_id", "text")
      val (repPairs, members) = Dedup.minhashLshPairsCollapsed(docs, "doc_id", "text")
      val expandedPairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
      labelers.map { case (name, algo) =>
        val collapsed = Dedup.nearDupKeepersCollapsed(docs, "doc_id", repPairs, members, algo)
          .as[(Long, Long, Boolean)].collect().toSet
        val expanded = Dedup.nearDupKeepers(docs, "doc_id", expandedPairs, algo = algo)
          .as[(Long, Long, Boolean)].collect().toSet
        (collapsed == expanded) :| s"$name: collapsed−expanded ${collapsed -- expanded}, " +
          s"expanded−collapsed ${expanded -- collapsed}" && collapsed.size == rows.size
      }.reduce(_ && _)
    }, cases = 6)
  }

  /** Pair graphs: disjoint chains and cliques over shuffled node ids, with
    * duplicate, reversed and self-loop pairs mixed in; sometimes empty. */
  private val pairGraph: Gen[Seq[(Long, Long)]] = {
    val shape = Gen.oneOf(
      Gen.choose(2, 24).map(n => (0 until n - 1).map(i => (i, i + 1))),
      Gen.choose(2, 6).map(n => for (i <- 0 until n; j <- i + 1 until n) yield (i, j)))
    val graph = for {
      shapes <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, shape))
      ids <- Gen.pick(shapes.map(s => s.flatMap(p => Seq(p._1, p._2)).max + 1).sum,
        0L until 500L)
      extra <- Gen.choose(0, 3)
      selfLoops <- Gen.listOfN(extra, Gen.choose(480L, 520L))
    } yield {
      val node = ids.toIndexedSeq
      val offsets = shapes.scanLeft(0)((o, s) => o + s.flatMap(p => Seq(p._1, p._2)).max + 1)
      val edges = shapes.zip(offsets).flatMap { case (s, o) =>
        s.map { case (a, b) => (node(o + a), node(o + b)) }
      }
      (edges, selfLoops)
    }
    Gen.frequency(1 -> Gen.const(Seq.empty[(Long, Long)]), 8 -> (for {
      (edges, selfLoops) <- graph
      dups <- Gen.someOf(edges)
      flips <- Gen.listOfN(edges.size, Gen.prob(0.3))
    } yield edges.zip(flips).map { case ((a, b), f) => if (f) (b, a) else (a, b) } ++
      dups.map(_.swap) ++ dups ++ selfLoops.map(v => (v, v))))
  }

  test("hash-min, star on Fixpoint.Local and star on Fixpoint.Durable " +
    "label every generated pair graph identically, numeric or string ids") {
    check(Prop.forAllNoShrink(pairGraph, Gen.prob(0.5)) { (pairs, asString) =>
      // string ids compare lexicographically ("v10" < "v9"): the min-id
      // contract must hold under that order too
      val df =
        if (asString) pairs.map { case (a, b) => (s"v$a", s"v$b") }.toDF("id_a", "id_b")
        else pairs.toDF("id_a", "id_b")
      def labels(out: DataFrame): Set[(String, String)] =
        out.collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
      val root = java.nio.file.Files.createTempDirectory("star_prop").toString
      val hashMin = labels(Dedup.components(df))
      val local = labels(Dedup.componentsStar(df))
      val durable = labels(Dedup.componentsStar(df, store = Fixpoint.Durable(root)))
      val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.size
      (hashMin == local) :| s"hash-min vs local: ${hashMin.diff(local)} / ${local.diff(hashMin)}" &&
        (local == durable) :| s"local vs durable: ${local.diff(durable)} / ${durable.diff(local)}" &&
        (hashMin.size == nodes) :| s"${hashMin.size} labels for $nodes nodes"
    }, cases = 12)
  }
}
