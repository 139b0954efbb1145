package graft

import graft.functions.{GeoCall, GeoKernel, geo}
import graft.geo.{Cell, Geo}
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Random, Try}

/** Pins every row of [[GeoCall.table]]: the interpreted and codegen'd paths
  * agree, each row calls its own kernel, each has a typed Column function
  * and prints as `name(args)`, and all of them fuse into one codegen stage. */
class GeoCallSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private type Line = Array[Array[Double]]

  private def argTypes(k: GeoKernel): Seq[DataType] =
    k.target.getParameterTypes.toSeq.map {
      case c if c == classOf[Double] => DoubleType
      case c if c == classOf[Int] => IntegerType
      case c if c == classOf[Long] => LongType
      case c if c == classOf[ArrayData] => GeoCall.lineType
      case c => fail(s"${k.name}: no generator for parameter type $c")
    }

  /** A Scala-side argument of `t`: coordinates near one city, small
    * distances, levels/zooms/ring sizes in 0..16, valid cell ids. */
  private def gen(t: DataType, r: Random): Any = {
    def near(c: Double) = c + (r.nextDouble() - 0.5) * 0.1
    t match {
      case DoubleType => r.nextInt(3) match {
        case 0 => near(-73.8)
        case 1 => near(42.7)
        case _ => r.nextDouble() * 3
      }
      case IntegerType => r.nextInt(17)
      case LongType => Cell.encode(near(-73.8), near(42.7), r.nextInt(17))
      case _ => Array.fill(2 + r.nextInt(5))(Array(near(-73.8), near(42.7)))
    }
  }

  private def toCatalyst(v: Any): Any = v match {
    case l: Array[Array[Double]] @unchecked =>
      new GenericArrayData(l.map(p => new GenericArrayData(p): Any))
    case x => x
  }

  /** Comparable form of a Catalyst or kernel value (NaN and -0.0 exact). */
  private def norm(v: Any): String = v match {
    case null => "null"
    case a: Array[_] => a.map(norm).mkString("[", ",", "]")
    case s: Iterable[_] => s.map(norm).mkString("[", ",", "]")
    case x => x.toString
  }

  private def catalystNorm(v: Any, t: DataType): String =
    norm(CatalystTypeConverters.convertToScala(v, t))

  private def outcome(t: Try[String]): Either[String, String] =
    t.fold(e => Left(e.getClass.getName), Right(_))

  /** Per-row argument lists, ~15% NULL per argument when `nulls`. */
  private def inputs(k: GeoKernel, n: Int, nulls: Boolean): Seq[Seq[Any]] = {
    val r = new Random(k.name.hashCode)
    Seq.fill(n)(argTypes(k).map(t =>
      if (nulls && r.nextDouble() < 0.15) null else gen(t, r)))
  }

  /** Kernel oracle per SQL name, straight from graft.geo. */
  private val oracle: Map[String, Seq[Any] => Any] = Map(
    "geodesic_length_km" -> { case Seq(l: Line) => Geo.lengthKm(l) },
    "haversine_km" -> { case Seq(a: Double, b: Double, c: Double, d: Double) =>
      Geo.haversineKm(a, b, c, d) },
    "final_bearing" -> { case Seq(l: Line) => Geo.lineFinalBearing(l) },
    "bearing_delta" -> { case Seq(a: Double, b: Double) => Geo.bearingDelta(a, b) },
    "locate_along" -> { case Seq(l: Line, x: Double, y: Double) => Geo.locateAlong(l, x, y) },
    "nearest_point_on_line" -> { case Seq(l: Line, x: Double, y: Double) =>
      Geo.nearestPointOnLine(l, x, y) },
    "point_along" -> { case Seq(l: Line, d: Double) => Geo.along(l, d) },
    "line_slice_along" -> { case Seq(l: Line, s: Double, e: Double) =>
      Geo.lineSliceAlong(l, s, e) },
    "densify" -> { case Seq(l: Line) => Geo.densify(l) },
    "cell_encode" -> { case Seq(x: Double, y: Double, lvl: Int) => Cell.encode(x, y, lvl) },
    "cell_ring" -> { case Seq(c: Long, k: Int) => Cell.ring(c, k) },
    "cell_disk" -> { case Seq(c: Long, k: Int) => Cell.disk(c, k) },
    "cell_cover_line" -> { case Seq(l: Line, lvl: Int) => Cell.coverLine(l, lvl) },
    "geoprox_key" -> { case Seq(x: Double, y: Double) => Geo.geoProximityKey(x, y) },
    "within_ring" -> { case Seq(l: Line, ring: Line) => Geo.lineWithinRing(ring, l) },
    "point_in_ring" -> { case Seq(ring: Line, x: Double, y: Double) =>
      Geo.pointInRing(ring, x, y) },
    "frechet_km" -> { case Seq(a: Line, b: Line) => Geo.frechetKm(a, b) },
    "hausdorff_km" -> { case Seq(a: Line, b: Line) => Geo.hausdorffKm(a, b) },
    "directed_hausdorff_km" -> { case Seq(a: Line, b: Line) => Geo.directedHausdorffKm(a, b) },
    "tile_x" -> { case Seq(x: Double, z: Int) => Cell.tile(x, 0.0, z)._2 },
    "tile_y" -> { case Seq(y: Double, z: Int) => Cell.tile(0.0, y, z)._3 })

  test("the table has 21 distinct rows, each resolving to one GeoFn method") {
    assert(GeoCall.table.size == 21)
    assert(GeoCall.table.map(_.name).distinct.size == 21)
    GeoCall.table.foreach(k => assert(k.arity == argTypes(k).size, k.name))
    assert(oracle.keySet == GeoCall.table.map(_.name).toSet)
  }

  test("every row: interpreted eval equals the codegen'd UnsafeProjection, NULLs included") {
    GeoCall.table.foreach { k =>
      for (nulls <- Seq(true, false)) {
        val refs = argTypes(k).zipWithIndex.map { case (t, i) => BoundReference(i, t, nulls) }
        val e = k(refs: _*)
        assert(e.nullable == nulls, k.name)
        val proj = GenerateUnsafeProjection.generate(Seq(e))
        var evaluated = 0
        inputs(k, 200, nulls).foreach { args =>
          val row = new GenericInternalRow(args.map(toCatalyst).toArray)
          val interpreted = Try(catalystNorm(e.eval(row), e.dataType))
          val generated = Try {
            val out = proj(row)
            if (out.isNullAt(0)) "null" else catalystNorm(out.get(0, e.dataType), e.dataType)
          }
          assert(outcome(interpreted) == outcome(generated),
            s"${k.name}${args.map(norm).mkString("(", ", ", ")")}")
          assert(interpreted.isSuccess, s"${k.name} threw on ${args.map(norm)}")
          if (args.contains(null)) assert(interpreted.get == "null", k.name)
          else evaluated += 1
        }
        assert(evaluated > 0, k.name)
      }
    }
  }

  test("every row calls its own kernel") {
    GeoCall.table.foreach { k =>
      val refs = argTypes(k).zipWithIndex.map { case (t, i) => BoundReference(i, t, false) }
      val e = k(refs: _*)
      inputs(k, 50, nulls = false).foreach { args =>
        val row = new GenericInternalRow(args.map(toCatalyst).toArray)
        assert(catalystNorm(e.eval(row), e.dataType) == norm(oracle(k.name)(args)),
          s"${k.name}${args.map(norm).mkString("(", ", ", ")")}")
      }
    }
  }

  test("every row: a typed Column function and both SQL paths print name(arg, …)") {
    geo.register(spark)
    GeoCall.table.foreach { k =>
      val names = argTypes(k).indices.map(i => s"a$i")
      val schema = StructType(argTypes(k).zip(names).map { case (t, n) => StructField(n, t) })
      val df = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      val fn = geo.getClass.getMethod(k.name, Seq.fill(k.arity)(classOf[Column]): _*)
      val c = fn.invoke(geo, names.map(col): _*).asInstanceOf[Column]
      Shim.expr(c) match {
        case GeoCall(`k`, _) =>
        case other => fail(s"geo.${k.name} builds $other")
      }
      val expected = s"${k.name}(${names.mkString(", ")})"
      assert(df.select(c).columns.toSeq == Seq(expected))
      assert(df.selectExpr(expected).columns.toSeq == Seq(expected))
      assert(df.select(c).schema == df.selectExpr(expected).schema, k.name)
    }
  }

  test("all rows projected together over a parquet scan fuse into one *(n) Project") {
    // a local Seq gets constant-folded to LocalTableScan; scan real files
    val dir = java.nio.file.Files.createTempDirectory("geocall").resolve("t").toString
    spark.range(2000).select(col("id"), (col("id") * 7919 % 1000).as("k"))
      .write.parquet(dir)
    val base = spark.read.parquet(dir)
      .select(
        (lit(-73.8) + col("id") % 100 / lit(10000.0)).as("lon"),
        (lit(42.7) + col("k") % 100 / lit(10000.0)).as("lat"),
        (col("id") % 7 + 6).cast("int").as("lvl"))
      .select(col("lon"), col("lat"), col("lvl"),
        geo.cell_encode(col("lon"), col("lat"), col("lvl")).as("cell"),
        array(array(col("lon"), col("lat")),
          array(col("lon") + 0.01, col("lat") + 0.01)).as("line"))
    val calls = GeoCall.table.map { k =>
      var d = 0
      val args = argTypes(k).map {
        case DoubleType => d += 1; if (d % 2 == 1) col("lon") else col("lat")
        case IntegerType => col("lvl")
        case LongType => col("cell")
        case _ => col("line")
      }
      Shim.col(k(args.map(Shim.expr): _*))
    }
    val q = base.select(calls: _*)
    val plan = q.queryExecution.executedPlan
    val names = GeoCall.table.map(_.name)
    val fused = plan.collect { case w: WholeStageCodegenExec =>
      w.child.collect { case p: ProjectExec => p } }.flatten
    val top = plan.collect { case p: ProjectExec
      if names.forall(n => p.projectList.exists(_.toString.startsWith(n + "("))) => p }
    assert(top.size == 1, plan)
    assert(fused.exists(_ eq top.head), plan)
    assert(plan.toString.linesIterator.exists(l =>
      l.matches(""".*\*\(\d+\) Project \[.*""") && names.forall(n => l.contains(n + "("))), plan)
    q.write.format("noop").mode("overwrite").save()
  }
}
