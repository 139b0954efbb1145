package graft.plans

import graft.functions.{GeoCall, GeoFn}
import graft.geo.Cell
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/**
 * Catalyst-native spatial rewrite (SURVEY.md §4 item 2, BASELINE.json
 * north_star "Catalyst-native operators"): a `within_ring(geom, <literal
 * polygon>)` predicate — the reference's booleanWithin containment gate
 * (ShStReferenceFeatureIterator.js:26-31) — is rewritten during optimization
 * into
 *
 *     cell_encode(first_vertex, L) ∈ <polygon cell cover>  AND  within_ring(...)
 *
 * i.e. an O(1) integer set-membership prefilter (partition-prunable,
 * codegen'd InSet) in front of the exact O(|ring|·|geom|) ray-casting test.
 * Semantics are identical: a geometry inside the ring has its first vertex
 * inside the ring's bbox, whose cells are exactly the cover set.
 *
 * Register with `.withExtensions(new GraftExtensions)` or
 * `spark.sql.extensions=graft.plans.GraftExtensions`.
 */
object SpatialFilterRewrite extends Rule[LogicalPlan] {

  private val withinRing = GeoCall.kernel("within_ring")
  private val cellEncode = GeoCall.kernel("cell_encode")

  /** Marks a within_ring call that already has its InSet prefilter, so the
    * rule is IDEMPOTENT under the optimizer's fixed-point batches — without
    * it the rewritten `And(InSet, within_ring)` matches again every
    * iteration and grows a duplicate InSet until the max-iteration cap
    * (VERDICT r1 / ADVICE: 100 duplicate conjuncts evaluated per row under
    * experimental.extraOptimizations). Tags ride along through transform
    * copies, so the marker survives surrounding rewrites. */
  private val Prefiltered =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.spatialPrefiltered")

  /** Coarsest level whose bbox cover stays ≤ 64 cells (bounded InSet). */
  private def coverFor(ring: Array[Array[Double]]): (Int, Set[Long]) = {
    var lvl = 16
    while (lvl > 2) {
      val cover = Cell.coverRing(ring, lvl)
      if (cover.length <= 64) return (lvl, cover.toSet)
      lvl -= 1
    }
    (2, Cell.coverRing(ring, 2).toSet)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val rewritten = cond.transformUp {
        case w @ GeoCall(`withinRing`, Seq(line, ring: Literal))
            if ring.value != null && w.getTagValue(Prefiltered).isEmpty =>
          val ringArr = GeoFn.toLine(
            ring.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
          val (lvl, cover) = coverFor(ringArr)
          val firstPt = ElementAt(line, Literal(1))
          val cellId = cellEncode(
            ElementAt(firstPt, Literal(1)),
            ElementAt(firstPt, Literal(2)),
            Literal(lvl, IntegerType))
          w.setTagValue(Prefiltered, true)
          And(InSet(cellId, cover.asInstanceOf[Set[Any]]), w)
      }
      if (rewritten fastEquals cond) f else f.copy(condition = rewritten)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SpatialFilterRewrite)
    // the full SQL function surface rides along: with
    // spark.sql.extensions=graft.plans.GraftExtensions a plain spark.sql
    // session has geodesic_length_km(...) etc. with no code call needed
    // (graft.functions.geo.register(spark) remains the live-session path)
    graft.functions.geo.sqlFunctions.foreach { case (name, arity, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[GraftExtensions].getName, name),
        graft.functions.geo.checkedBuilder(name, arity, builder)))
    }
  }
}
