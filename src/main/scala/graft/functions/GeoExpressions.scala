package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/**
 * Codegen-capable Catalyst expressions over the geo kernel.
 *
 * These are the engine's custom scalar surface (SURVEY.md §2.8 F1–F13 and
 * §2.11). Every plain kernel function is one row of [[GeoCall.table]] and
 * one [[GeoCall]] node: a null-intolerant call of a single static method of
 * [[GeoFn]], so it stays inside whole-stage codegen spans (no UDF boxing,
 * no CodegenFallback). The Column API (`geo.scala`), both SQL registries
 * (`geo.register`, `GraftExtensions`) and the spatial rewrite read the table.
 */

/** One row of [[GeoCall.table]]: SQL function `name` is the null-intolerant
  * call `GeoFn.<method>(args)` returning `dataType`. Arity and argument
  * types are the method's own. */
final case class GeoKernel(name: String, method: String, dataType: DataType) {

  /** The [[GeoFn]] static method behind both evaluation paths: codegen emits
    * a call of it by name, `eval` invokes it. Resolved once per JVM. */
  @transient lazy val target: Method =
    Class.forName(GeoKernel.Owner).getMethods
      .filter(m => m.getName == method && Modifier.isStatic(m.getModifiers)) match {
      case Array(m) => m
      case ms => throw new IllegalArgumentException(
        s"$name: ${GeoKernel.Owner}.$method must name one static method, found ${ms.length}")
    }

  def arity: Int = target.getParameterCount

  def apply(args: Expression*): GeoCall = GeoCall(this, args)
}

object GeoKernel {
  private[functions] val Owner = "graft.functions.GeoFn"
}

/** A call of one [[GeoKernel]] row: NULL iff an argument is NULL. */
case class GeoCall(kernel: GeoKernel, children: Seq[Expression]) extends Expression {
  require(children.length == kernel.arity,
    s"${kernel.name} expects ${kernel.arity} argument(s), got ${children.length}")

  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = kernel.name
  // print `name(args)`, not the row
  override protected def flatArguments: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    var i = 0
    while (i < args.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try kernel.target.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  // the N-ary form of Binary/Ternary/QuaternaryExpression.defineCodeGen:
  // each argument is evaluated and null-checked in turn, then one static call
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = s"${ev.value} = ${GeoKernel.Owner}.${kernel.method}(" +
      gens.map(_.value).mkString(", ") + ");"
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      val guarded = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, g), inner) => s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $decl
        $guarded""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code).reduce(_ + _)}
        $decl
        $call""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): GeoCall =
    copy(children = c)
}

object GeoCall {
  val lineType: DataType = ArrayType(ArrayType(DoubleType))
  private val points = ArrayType(DoubleType, containsNull = false)
  private val cells = ArrayType(LongType, containsNull = false)

  /** Every plain kernel function. Reference semantics mirrored (citations
    * into the reference implementation); the cell and curve-similarity rows
    * are new: they replace the external shst-match CLI
    * (SharedStreetsMatcher.js:36-144) with cell-keyed joins + similarity
    * scoring per BASELINE.json north_star. */
  val table: Seq[GeoKernel] = Seq(
    // turf.length (getShstReferenceAuxProperties.js:89-92)
    GeoKernel("geodesic_length_km", "lengthKm", DoubleType),
    // turf.distance (addMegaLevelMetadata.js:19-29)
    GeoKernel("haversine_km", "haversineKm", DoubleType),
    // turf.bearing final (src/loaders/getTargetMapFeatureBearing.js:4-15)
    GeoKernel("final_bearing", "finalBearing", IntegerType),
    GeoKernel("bearing_delta", "bearingDelta", DoubleType),
    // turf.nearestPointOnLine().properties.location
    // (getOffsetsAlongShstRefForTargetMapSegments.js:31-37)
    GeoKernel("locate_along", "locateAlong", DoubleType),
    // array(lon, lat, distAlongKm, distToKm)
    GeoKernel("nearest_point_on_line", "nearestPoint", points),
    // turf.along (partitionShstReferenceByTargetMapsMatches/index.js:81)
    GeoKernel("point_along", "pointAlong", points),
    // turf.lineSliceAlong (getOffsetsAlongShstRefForTargetMapSegments.js:45-57)
    GeoKernel("line_slice_along", "lineSliceAlong", lineType),
    GeoKernel("densify", "densify", lineType),
    GeoKernel("cell_encode", "cellEncode", LongType),
    GeoKernel("cell_ring", "cellRing", cells),
    GeoKernel("cell_disk", "cellDisk", cells),
    GeoKernel("cell_cover_line", "cellCoverLine", cells),
    // interleaved-hex curve (src/utils/getGeoProximityKey.js:5-19)
    GeoKernel("geoprox_key", "geoProxKey", StringType),
    // turf.booleanWithin (ShStReferenceFeatureIterator.js:26-31): every
    // vertex of the line lies inside the ring
    GeoKernel("within_ring", "withinRing", BooleanType),
    GeoKernel("point_in_ring", "pointInRing", BooleanType),
    GeoKernel("frechet_km", "frechetKm", DoubleType),
    GeoKernel("hausdorff_km", "hausdorffKm", DoubleType),
    // max distance (km) from any vertex of the first line to the second:
    // small iff the first lies along the second
    GeoKernel("directed_hausdorff_km", "directedHausdorffKm", DoubleType),
    GeoKernel("tile_x", "tileX", LongType),
    GeoKernel("tile_y", "tileY", LongType))

  private val byName = table.map(k => k.name -> k).toMap

  /** The row named `name` (its SQL function name). */
  def kernel(name: String): GeoKernel = byName(name)
}

/**
 * Fused candidate scoring (the conflation matcher's hot pair kernel):
 * locate both feature endpoints along the reference, apply the
 * bidirectional + overlap gates, slice the reference, and compute the
 * directed-Hausdorff score — one [[GeoFn.matchScore]] call per pair
 * instead of the composed locate_along ×2 + line_slice_along +
 * directed_hausdorff_km chain (which re-converts the reference geometry
 * per call; the allocation traffic measured as the stage's 1.68×
 * 2→8-thread CPU inflation, BENCH.md r4). NULL when a gate drops the
 * pair, so the caller filters on isnotnull; results are bit-identical to
 * the composed chain (MatchScoreSpec pins equivalence).
 */
case class MatchScore(rGeom: Expression, fGeom: Expression, revOk: Expression,
    minOverlapKm: Double, maxHausdorffKm: Double)
    extends TernaryExpression {
  override def first: Expression = rGeom
  override def second: Expression = fGeom
  override def third: Expression = revOk
  override def dataType: DataType = MatchScore.schema
  override def nullable: Boolean = true
  override def prettyName: String = "match_score"
  protected override def nullSafeEval(r: Any, f: Any, rev: Any): Any =
    GeoFn.matchScore(r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      f.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      rev.asInstanceOf[Boolean], minOverlapKm, maxHausdorffKm)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, f, rev) => s"""
      ${ev.value} = graft.functions.GeoFn.matchScore($r, $f, $rev,
        ${minOverlapKm}D, ${maxHausdorffKm}D);
      ${ev.isNull} = ${ev.value} == null;
    """)
  protected override def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): MatchScore =
    copy(a, b, c)
}

object MatchScore {
  /** struct<score: double, geometry: array<array<double>>> */
  val schema: DataType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("geometry", GeoCall.lineType, nullable = false)))
}

/**
 * [[MatchScore]] fused one step further: the slice polyline never
 * materializes — endpoints, vertex count, geodesic length, and bbox are
 * accumulated in the same kernel pass ([[GeoFn.matchSummary]]). This is the
 * production matcher's form (ConflationPipeline.scoredCandidates); the
 * geometry-returning [[MatchScore]] stays as the API + equivalence anchor
 * (MatchScoreSpec pins field-for-field identity between the two).
 */
case class MatchSummary(rGeom: Expression, fGeom: Expression, revOk: Expression,
    minOverlapKm: Double, maxHausdorffKm: Double)
    extends TernaryExpression {
  override def first: Expression = rGeom
  override def second: Expression = fGeom
  override def third: Expression = revOk
  override def dataType: DataType = MatchSummary.schema
  override def nullable: Boolean = true
  override def prettyName: String = "match_summary"
  protected override def nullSafeEval(r: Any, f: Any, rev: Any): Any =
    GeoFn.matchSummary(r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      f.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      rev.asInstanceOf[Boolean], minOverlapKm, maxHausdorffKm)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, f, rev) => s"""
      ${ev.value} = graft.functions.GeoFn.matchSummary($r, $f, $rev,
        ${minOverlapKm}D, ${maxHausdorffKm}D);
      ${ev.isNull} = ${ev.value} == null;
    """)
  protected override def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): MatchSummary =
    copy(a, b, c)
}

object MatchSummary {
  val schema: DataType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("mNumPts", IntegerType, nullable = false),
    StructField("msLon", DoubleType, nullable = false),
    StructField("msLat", DoubleType, nullable = false),
    StructField("meLon", DoubleType, nullable = false),
    StructField("meLat", DoubleType, nullable = false),
    StructField("mLenKm", DoubleType, nullable = false),
    StructField("mMinLon", DoubleType, nullable = false),
    StructField("mMinLat", DoubleType, nullable = false),
    StructField("mMaxLon", DoubleType, nullable = false),
    StructField("mMaxLat", DoubleType, nullable = false)))
}
