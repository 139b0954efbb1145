package graft

import graft.operators.{Dedup, Fixpoint, WebGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class FixpointSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("the labelers and pageRank leave one stored table each: their result") {
    val sc = spark.sparkContext
    // a 12-node chain plus a triangle: several rounds for every loop
    val pairs = ((1L until 12L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L))).toDF("id_a", "id_b")
    val root = java.nio.file.Files.createTempDirectory("fixpoint_store").toString
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "components" -> (() => Dedup.components(pairs)),
      "componentsStar local" -> (() => Dedup.componentsStar(pairs)),
      "componentsStar durable" ->
        (() => Dedup.componentsStar(pairs, store = Fixpoint.Durable(root))),
      "pageRank" -> (() => WebGraph.pageRank(pairs, "id_a", "id_b")))
    for ((name, call) <- calls) {
      val before = sc.getRDDStorageInfo.length
      val out = call()
      assert(out.count() > 0, name)
      val grew = sc.getRDDStorageInfo.length - before
      assert(grew <= 1, s"$name left $grew stored RDDs")
    }
  }
}
