package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def table = spark.range(0, 200, 1, 4).select(col("id"),
    (col("id") * 0.1).as("x"), concat(lit("k"), col("id") % 7).as("k"),
    array(col("id").cast("float"), lit(0.5f)).as("v"))

  test("dropping one output row fails the gate") {
    val pinned = Gate.digest(table)
    assert(Gate.check("t", Gate.digest(table), Some(pinned)).isEmpty)
    val dropped = Gate.digest(table.filter(col("id") =!= 42))
    assert(dropped.rows == pinned.rows - 1)
    assert(Gate.check("t", dropped, Some(pinned)).isDefined)
  }

  test("altering one value fails the gate") {
    val altered = table.withColumn("k", when(col("id") === 7, lit("other")).otherwise(col("k")))
    assert(Gate.check("t", Gate.digest(altered), Some(Gate.digest(table))).isDefined)
  }

  test("the digest ignores row order, partitioning and column order") {
    val d = Gate.digest(table)
    assert(Gate.digest(table.repartition(7).orderBy(col("id").desc)) == d)
    assert(Gate.digest(table.select("v", "k", "x", "id")) == d)
  }

  test("doubles are compared to 7 significant digits") {
    val a = spark.range(1).select(lit(0.1 + 0.2).as("x"))
    val b = spark.range(1).select(lit(0.3).as("x"))
    val c = spark.range(1).select(lit(0.3001).as("x"))
    assert(Gate.digest(a) == Gate.digest(b))
    assert(Gate.digest(a) != Gate.digest(c))
  }

  test("pins round-trip through their text form") {
    val d = Gate.digest(table)
    assert(Digest.parse(d.render) == d)
  }

  test("the catalog families cover every leaf exactly once") {
    val leaves = SparkEntry.queries.keys.toSeq
    val fam = Workload.familyOf(leaves)
    assert(fam.size == leaves.size)
    assert(fam.values.toSet == Workload.families.map(_._1).toSet)
    val numbers = Workload.families.flatMap(_._2)
    assert(numbers.size == numbers.distinct.size && numbers.size == leaves.size)
  }

  test("the catalog panel holds a leaf of every family, and every leaf is pinned") {
    val leaves = SparkEntry.queries.keys.toSeq
    val fam = Workload.familyOf(leaves)
    val panel = leaves.filter(l => CatalogWorkload.Panel.contains(l.take(3)))
    assert(panel.size == CatalogWorkload.Panel.size)
    assert(panel.map(fam).toSet == Workload.families.map(_._1).toSet)
    val pins = Gate.loadPins(new java.io.File("pins/catalog.tsv"))
    assert(leaves.forall(pins.contains))
  }

  test("every conflate page slice a seed can select is pinned") {
    val pins = Gate.loadPins(new java.io.File("pins/conflate.tsv"))
    for (k <- 0 until ConflateWorkload.Slices; what <- Seq("segments", "tiles"))
      assert(pins.contains(s"seed$k.$what"), s"seed$k.$what")
  }
}
