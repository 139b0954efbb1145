package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.Shim.{col => toCol, expr => toExpr}

/**
 * Column-level API over the custom geo expressions, plus SQL registration.
 *
 * `import graft.functions.geo._` gives the DataFrame-side surface;
 * `geo.register(spark)` exposes the same functions to `spark.sql` /
 * `expr(...)` under snake_case names.
 */
object geo {

  private def call(name: String, args: Column*): Column =
    toCol(GeoCall(GeoCall.kernel(name), args.map(toExpr)))

  def geodesic_length_km(line: Column): Column = call("geodesic_length_km", line)

  def haversine_km(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    call("haversine_km", lon1, lat1, lon2, lat2)

  def final_bearing(line: Column): Column = call("final_bearing", line)

  def bearing_delta(b1: Column, b2: Column): Column = call("bearing_delta", b1, b2)

  def locate_along(line: Column, lon: Column, lat: Column): Column =
    call("locate_along", line, lon, lat)

  def nearest_point_on_line(line: Column, lon: Column, lat: Column): Column =
    call("nearest_point_on_line", line, lon, lat)

  def point_along(line: Column, dist: Column): Column = call("point_along", line, dist)

  def line_slice_along(line: Column, start: Column, stop: Column): Column =
    call("line_slice_along", line, start, stop)

  def densify(line: Column): Column = call("densify", line)

  def cell_encode(lon: Column, lat: Column, level: Column): Column =
    call("cell_encode", lon, lat, level)

  def cell_ring(cell: Column, k: Column): Column = call("cell_ring", cell, k)

  def cell_disk(cell: Column, k: Column): Column = call("cell_disk", cell, k)

  def cell_cover_line(line: Column, level: Column): Column =
    call("cell_cover_line", line, level)

  def geoprox_key(lon: Column, lat: Column): Column = call("geoprox_key", lon, lat)

  def within_ring(line: Column, ring: Column): Column = call("within_ring", line, ring)

  def point_in_ring(ring: Column, lon: Column, lat: Column): Column =
    call("point_in_ring", ring, lon, lat)

  def frechet_km(a: Column, b: Column): Column = call("frechet_km", a, b)

  def hausdorff_km(a: Column, b: Column): Column = call("hausdorff_km", a, b)

  def directed_hausdorff_km(a: Column, b: Column): Column =
    call("directed_hausdorff_km", a, b)

  /** Fused matcher scoring: struct(score, geometry) or NULL when gated out.
    * See [[MatchScore]]; bit-identical to the composed locate/slice/
    * Hausdorff chain it replaces in ConflationPipeline.scoredCandidates. */
  def match_score(rGeom: Column, fGeom: Column, revOk: Column,
      minOverlapKm: Double, maxHausdorffKm: Double): Column =
    toCol(MatchScore(toExpr(rGeom), toExpr(fGeom), toExpr(revOk),
      minOverlapKm, maxHausdorffKm))

  /** [[match_score]] with the slice reduced to its summary in the same
    * kernel pass: struct(score, mNumPts, msLon, msLat, meLon, meLat,
    * mLenKm, mMinLon, mMinLat, mMaxLon, mMaxLat) or NULL when gated out.
    * Field-for-field identical to summarizing match_score's geometry. */
  def match_summary(rGeom: Column, fGeom: Column, revOk: Column,
      minOverlapKm: Double, maxHausdorffKm: Double): Column =
    toCol(MatchSummary(toExpr(rGeom), toExpr(fGeom), toExpr(revOk),
      minOverlapKm, maxHausdorffKm))

  def tile_x(lon: Column, zoom: Column): Column = call("tile_x", lon, zoom)

  def tile_y(lat: Column, zoom: Column): Column = call("tile_y", lat, zoom)

  /** Z-order (Morton) key: interleave the low `bits` bits of two cell
    * coordinates — x in the even positions, y in the odd — so that keys
    * close in value are close in 2-D space. The DATA-LAYOUT primitive for
    * spatial tables: range-partitioning / sorting a 10^12-row page table
    * by this key clusters each parquet file into a compact spatial block,
    * which turns every bbox predicate into file-level min/max pruning at
    * scan time (the same reason Delta/Iceberg OPTIMIZE ZORDER exists —
    * built here from shift/and/add so it stays in whole-stage codegen and
    * replays exactly in any engine). High bits beyond `bits` are ignored;
    * coordinates are expected non-negative (tile_x/tile_y, cell indices). */
  def morton_key(x: Column, y: Column, bits: Int): Column =
    toCol(mortonExpr(toExpr(x), toExpr(y), bits))

  private[graft] def mortonExpr(x: Expression, y: Expression, bits: Int): Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    require(bits >= 1 && bits <= 31, s"morton bits must be in [1,31], got $bits")
    val xl = Cast(x, LongType)
    val yl = Cast(y, LongType)
    def bit(v: Expression, b: Int, outPos: Int): Expression =
      ShiftLeft(
        BitwiseAnd(ShiftRight(v, Literal(b, IntegerType)), Literal(1L)),
        Literal(outPos, IntegerType))
    (0 until bits).flatMap(b => Seq(bit(xl, b, 2 * b), bit(yl, b, 2 * b + 1)))
      .reduce[Expression]((a, b) => Add(a, b))
  }

  /** (name, arity, builder) for every SQL-exposed function — the
    * [[GeoCall.table]] rows, then the functions built by hand — the single
    * table behind both [[register]] (temp functions on a live session) and
    * `GraftExtensions.injectFunction` (session-build-time registration via
    * `spark.sql.extensions=graft.plans.GraftExtensions`, no code call
    * needed). Arity is carried so both paths reject wrong argument counts
    * with a clear message instead of a MatchError. */
  private[graft] val sqlFunctions: Seq[(String, Int, Seq[Expression] => Expression)] =
    GeoCall.table.map(k => (k.name, k.arity, GeoCall(k, _: Seq[Expression]))) ++ Seq(
    ("html_text", 1, { case Seq(a) => HtmlText(a) }),
    ("cosine_sim", 2, { case Seq(a, b) => CosineSim(a, b) }),
    ("sig_eq_count", 2, { case Seq(a, b) => SigEqCount(a, b) }),
    ("sign_buckets", 2, { case Seq(a, b) => SignBuckets(a, b) }),
    // the stopword sets are part of the plan, not the row: SQL callers pass
    // a foldable array(array(...)) literal, folded to plain strings here
    ("stopword_hits", 2, { case Seq(w, s) =>
      require(s.foldable && s.resolved,
        "stopword_hits expects a foldable array<array<string>> set literal")
      val folded = s.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      // a NULL set literal folds to no sets (hits = empty array per row) —
      // evaluating it would NPE inside analysis as an opaque INTERNAL_ERROR
      val sets = if (folded == null) Seq.empty[Seq[String]]
      else (0 until folded.numElements()).map { i =>
        val inner = folded.getArray(i)
        (0 until inner.numElements())
          .map(j => inner.getUTF8String(j).toString): Seq[String]
      }: Seq[Seq[String]]
      StopwordHits(w, sets)
    }),
    // aggregate: the analyzer wraps a bare AggregateFunction in an
    // AggregateExpression during UnresolvedFunction resolution, same as
    // the built-in sum/min; k must be a foldable int literal because it
    // shapes the aggregation buffer
    ("kmv_distinct", 2, { case Seq(a, kArg) =>
      require(kArg.foldable && kArg.resolved,
        "kmv_distinct expects a foldable integer k literal")
      val k = kArg.eval() match {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long => l.intValue()
        // a NULL k literal analyzes to the default sketch size rather than
        // failing inside analysis as an opaque INTERNAL_ERROR (same policy
        // as stopword_hits above)
        case null => 1024
        case other => throw new IllegalArgumentException(
          s"kmv_distinct k literal must be integral, got $other")
      }
      KmvSketchAgg(a, k)
    }),
    // bits shapes the expression tree, so it must fold at analysis time
    ("morton_key", 3, { case Seq(x, y, bitsArg) =>
      require(bitsArg.foldable && bitsArg.resolved,
        "morton_key expects a foldable integer bits literal")
      val bits = bitsArg.eval() match {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long => l.intValue()
        case null => 16 // NULL analyzes to the tile_x/tile_y-at-z16 default
        case other => throw new IllegalArgumentException(
          s"morton_key bits literal must be integral, got $other")
      }
      mortonExpr(x, y, bits)
    }))

  /** Wrap a builder with an arity check (MatchError → readable error). */
  private[graft] def checkedBuilder(name: String, arity: Int,
      builder: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      require(args.length == arity,
        s"$name expects $arity argument(s), got ${args.length}")
      builder(args)
    }

  /** Register all geo functions for SQL use on this session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, arity, builder) =>
      reg.createOrReplaceTempFunction(name, checkedBuilder(name, arity, builder), "built-in")
    }
  }
}
