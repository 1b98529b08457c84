package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.SpatialJoin
import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._

/**
 * [[graft.core.SpatialJoin]] vs the brute-force crossJoin + DE-9IM
 * twin (the predicate both engines agree on is the SAME JTS kernel —
 * these rows pin the GRID machinery: candidate completeness across
 * cell borders, reference-cell exactly-once, prefilter soundness),
 * plus boundary semantics and the refusal surface.
 */
class SpatialJoinSpec extends SparkSpec {

  private lazy val s = { GeoFunctions.registerAll(spark); spark }

  /** Mixed geometry layer: triangles, rectangles, a non-convex arrow,
    * a donut (polygon with hole), a linestring — ids are unique. */
  private def layerA: DataFrame = {
    import s.implicits._
    val fixed = Seq(
      900 -> "POLYGON((0 0, 10 0, 10 10, 5 3, 0 10, 0 0))",          // non-convex
      901 -> "POLYGON((20 20, 40 20, 40 40, 20 40, 20 20),(25 25, 35 25, 35 35, 25 35, 25 25))", // hole
      902 -> "POLYGON((50 50, 70 50, 70 70, 50 70, 50 50))",         // rectangle
      903 -> "LINESTRING(80 0, 80 30, 95 30)")
    val tris = (0 until 40).map { i =>
      val ax = (i * 13) % 90; val ay = (i * 29) % 90
      i -> s"POLYGON(($ax $ay, ${ax + 9} $ay, $ax ${ay + 9}, $ax $ay))"
    }
    (tris ++ fixed).toDF("aid", "wkt")
      .select($"aid", st_geomfromtext($"wkt").as("ageom"))
  }

  private def layerB: DataFrame = {
    import s.implicits._
    (0 until 50).map { i =>
      val x = (i * 17) % 95; val y = (i * 31) % 95
      (1000 + i) -> s"POLYGON(($x $y, ${x + 6} $y, ${x + 6} ${y + 6}, $x ${y + 6}, $x $y))"
    }.toDF("bid", "wkt2")
      .select($"bid", st_geomfromtext($"wkt2").as("bgeom"))
  }

  /** ~400 grid points plus planted boundary/hole/vertex points. */
  private def pts: DataFrame = {
    import s.implicits._
    val grid = (0 until 400).map(i => (i, ((i * 7) % 100).toDouble, ((i * 23) % 100).toDouble))
    val planted = Seq(
      (9000, 5.0, 0.0),   // on the arrow's bottom edge
      (9001, 0.0, 0.0),   // on its vertex
      (9002, 30.0, 30.0), // inside the donut's hole
      (9003, 25.0, 30.0), // on the hole's boundary
      (9004, 80.0, 15.0), // on the linestring
      (9005, 2.0, 2.0))   // interior of the arrow (x=5 is inside only below the y=3 notch)
    (grid ++ planted).toDF("pid", "px", "py")
  }

  private def bruteP(mode: String): Set[(Int, Int)] =
    layerA.crossJoin(pts)
      .filter(st_relation(mode, col("ageom"), st_point(col("px"), col("py"))))
      .select("aid", "pid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet

  private def gridP(mode: String, cs: Double, salt: Int = 0): Seq[(Int, Int)] =
    SpatialJoin.pointJoin(layerA, "ageom", pts, "px", "py", mode,
        cellSize = cs, saltCells = salt)
      .select("aid", "pid").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq

  test("pointJoin equals the brute DE-9IM twin across modes and cell sizes") {
    for (mode <- Seq("intersects", "contains", "touches");
         cs <- Seq(4.0, 11.0, 1000.0)) {
      val got = gridP(mode, cs)
      // exactly-once: a point lives in ONE cell, so no pair can duplicate
      assert(got.size === got.toSet.size, s"duplicate pairs at mode=$mode cs=$cs")
      assert(got.toSet === bruteP(mode), s"pair set mismatch at mode=$mode cs=$cs")
    }
  }

  test("pointJoin boundary semantics: edge point intersects+touches, not contains") {
    val inter = gridP("intersects", 8.0).toSet
    val cont = gridP("contains", 8.0).toSet
    val touch = gridP("touches", 8.0).toSet
    assert(inter.contains((900, 9000)) && touch.contains((900, 9000)) &&
      !cont.contains((900, 9000)), "edge point")
    assert(inter.contains((900, 9001)) && !cont.contains((900, 9001)), "vertex point")
    assert(!inter.contains((901, 9002)), "hole interior point is outside the donut")
    assert(touch.contains((901, 9003)), "hole boundary point touches the donut")
    // a line CONTAINS its interior points (interiors meet, point has
    // nothing outside the line) — pinned against the brute twin
    assert(inter.contains((903, 9004)) && cont.contains((903, 9004)))
    assert(cont.contains((903, 9004)) === bruteP("contains").contains((903, 9004)))
    assert(cont.contains((900, 9005)), "interior point is contained")
  }

  test("pointJoin saltCells is row-identical to the plain join") {
    assert(gridP("intersects", 6.0, salt = 4).sorted ===
      gridP("intersects", 6.0).sorted)
  }

  private def bcastP(mode: String, cap: Int = 200000): Seq[(Int, Int)] =
    SpatialJoin.broadcastPointJoin(layerA, "ageom", pts, "px", "py", mode,
        maxBroadcastRows = cap)
      .select("aid", "pid").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq

  test("broadcastPointJoin is row-identical to pointJoin and the brute twin") {
    for (mode <- Seq("intersects", "contains", "within", "touches",
                     "overlaps", "crosses", "equals")) {
      val got = bcastP(mode)
      assert(got.size === got.toSet.size, s"duplicate pairs at mode=$mode")
      assert(got.toSet === bruteP(mode), s"pair set mismatch at mode=$mode")
    }
    // planted boundary rows ride the same verify kernel (relatePoint
    // delegates to relatePointPrepared), pinned explicitly anyway
    val inter = bcastP("intersects").toSet
    val cont = bcastP("contains").toSet
    assert(inter.contains((900, 9000)) && !cont.contains((900, 9000)))
    assert(!inter.contains((901, 9002)) && cont.contains((903, 9004)))
  }

  test("broadcastPointJoin: deterministic across point partitionings, schema = geoms ++ points") {
    val out = SpatialJoin.broadcastPointJoin(
      layerA, "ageom", pts.repartition(7), "px", "py", "intersects")
    assert(out.columns.toSeq === Seq("aid", "ageom", "pid", "px", "py"))
    assert(out.select("aid", "pid").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet === bruteP("intersects"))
  }

  test("broadcastPointJoin plan shape: BroadcastHashJoin on the index, no shuffle, no BNLJ") {
    val out = SpatialJoin.broadcastPointJoin(layerA, "ageom", pts, "px", "py",
      "intersects")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "payload attach must be a BHJ")
    assert(!plan.contains("BroadcastNestedLoop"), "no nested loop anywhere")
    assert(!plan.contains("Exchange hashpartitioning"),
      "the points side must not shuffle — that is the operator's point")
  }

  test("broadcastPointJoin refusals: cap, NULL/EMPTY geometry, NaN point, disjoint") {
    import s.implicits._
    val eCap = intercept[IllegalArgumentException] {
      SpatialJoin.broadcastPointJoin(layerA, "ageom", pts, "px", "py",
        "intersects", maxBroadcastRows = 3)
    }
    assert(eCap.getMessage.contains("maxBroadcastRows"))
    intercept[IllegalArgumentException] {
      SpatialJoin.broadcastPointJoin(layerA, "ageom", pts, "px", "py", "disjoint")
    }
    val withNull = Seq((1, "POLYGON((0 0, 2 0, 0 2, 0 0))"), (2, null))
      .toDF("aid", "w")
      .select($"aid", when($"w".isNotNull, st_geomfromtext($"w")).as("ageom"))
    val eNull = intercept[IllegalArgumentException] {
      SpatialJoin.broadcastPointJoin(withNull, "ageom", pts, "px", "py", "intersects")
    }
    assert(eNull.getMessage.contains("NULL geometry"))
    val empty = Seq(1 -> "POLYGON EMPTY").toDF("aid", "w")
      .select($"aid", st_geomfromtext($"w").as("ageom"))
    val eEmpty = intercept[IllegalArgumentException] {
      SpatialJoin.broadcastPointJoin(empty, "ageom", pts, "px", "py", "intersects")
    }
    assert(eEmpty.getMessage.contains("EMPTY geometry"))
    val nanPts = Seq((1, Double.NaN, 2.0)).toDF("pid", "px", "py")
    val eNan = intercept[Exception] {
      SpatialJoin.broadcastPointJoin(layerA, "ageom", nanPts, "px", "py",
        "intersects").count()
    }
    assert(eNan.getMessage.contains("NULL/NaN") ||
      eNan.getCause != null && eNan.getCause.getMessage.contains("NULL/NaN"))
  }

  test("arealInterpolate: hand shares, mass preservation under tiling, zero fill, refusals") {
    import s.implicits._
    // one 10x10 source zone (w=100) split by two 5x10 target halves,
    // plus a source feeding nothing and a target receiving nothing
    val src = Seq(
      (1, 100.0, "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"),
      (2, 40.0, "POLYGON((50 50, 60 50, 60 60, 50 60, 50 50))"))
      .toDF("zid", "w", "wkt")
      .select($"zid", $"w", st_geomfromtext($"wkt").as("zg"))
    val tgt = Seq(
      (10, "POLYGON((0 0, 5 0, 5 10, 0 10, 0 0))"),
      (11, "POLYGON((5 0, 10 0, 10 10, 5 10, 5 0))"),
      (12, "POLYGON((90 90, 95 90, 95 95, 90 95, 90 90))"))
      .toDF("tid", "wkt2")
      .select($"tid", st_geomfromtext($"wkt2").as("tg"))
    val got = SpatialJoin.arealInterpolate(src, "zg", "w", tgt, "tg",
        cellSize = 20.0)
      .select("tid", "interp").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got === Map(10 -> 50.0, 11 -> 50.0, 12 -> 0.0))
    // mass preservation when targets tile the sources: grid of 4 zones
    // x 16 quarter-tiles
    val zones = (0 until 4).map { i =>
      val x = (i % 2) * 10; val y = (i / 2) * 10
      (i, (i + 1) * 7.0,
        s"POLYGON(($x $y, ${x + 10} $y, ${x + 10} ${y + 10}, $x ${y + 10}, $x $y))")
    }.toDF("zid", "w", "wkt").select($"zid", $"w", st_geomfromtext($"wkt").as("zg"))
    val tiles = (0 until 16).map { i =>
      val x = (i % 4) * 5; val y = (i / 4) * 5
      (100 + i,
        s"POLYGON(($x $y, ${x + 5} $y, ${x + 5} ${y + 5}, $x ${y + 5}, $x $y))")
    }.toDF("tid", "wkt2").select($"tid", st_geomfromtext($"wkt2").as("tg"))
    val total = SpatialJoin.arealInterpolate(zones, "zg", "w", tiles, "tg",
        cellSize = 10.0)
      .agg(org.apache.spark.sql.functions.sum("interp")).head().getDouble(0)
    assert(math.abs(total - (7.0 + 14.0 + 21.0 + 28.0)) < 1e-9)
    // refusals: zero-area source, NULL weight
    val degen = Seq((1, 5.0, "POLYGON((0 0, 4 0, 0 0, 0 0))")).toDF("zid", "w", "wkt")
      .select($"zid", $"w", st_geomfromtext($"wkt").as("zg"))
    val eZero = intercept[Exception] {
      SpatialJoin.arealInterpolate(degen, "zg", "w", tgt, "tg", 20.0).collect()
    }
    assert(eZero.toString.contains("zero-area") ||
      Option(eZero.getCause).exists(_.getMessage.contains("zero-area")))
    val nullW = src.withColumn("w",
      when($"zid" === 1, lit(null).cast("double")).otherwise($"w"))
    val eNull = intercept[Exception] {
      SpatialJoin.arealInterpolate(nullW, "zg", "w", tgt, "tg", 20.0).collect()
    }
    assert(eNull.toString.contains("NULL weight") ||
      Option(eNull.getCause).exists(_.getMessage.contains("NULL weight")))
  }

  test("arealInterpolate spherical: lat/lon mass preservation, unbiased shares, bad mode refused") {
    import s.implicits._
    val R = graft.core.DistanceJoin.EarthRadiusMeters
    // a 10°-wide lon/lat zone from the equator to 60°N, split into two
    // 30°-tall target halves. PLANAR shares say 50/50 (square degrees
    // are latitude-blind); the true area split is sin(30)/sin(60) —
    // the south half holds sin30/sin60 ≈ 57.7% of the mass.
    val src = Seq((1, 90.0, "POLYGON((0 0, 10 0, 10 60, 0 60, 0 0))"))
      .toDF("zid", "w", "wkt").select($"zid", $"w", st_geomfromtext($"wkt").as("zg"))
    val tgt = Seq(
      (10, "POLYGON((0 0, 10 0, 10 30, 0 30, 0 0))"),
      (11, "POLYGON((0 30, 10 30, 10 60, 0 60, 0 30))"))
      .toDF("tid", "wkt2").select($"tid", st_geomfromtext($"wkt2").as("tg"))
    def shares(mode: String): Map[Int, Double] =
      SpatialJoin.arealInterpolate(src, "zg", "w", tgt, "tg",
          cellSize = 90.0, areaMode = mode)
        .select("tid", "interp").collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val planar = shares("planar")
    assert(math.abs(planar(10) - 45.0) < 1e-9 && math.abs(planar(11) - 45.0) < 1e-9)
    val sph = shares("spherical")
    val s30 = math.sin(math.toRadians(30)); val s60 = math.sin(math.toRadians(60))
    assert(math.abs(sph(10) - 90.0 * s30 / s60) < 1e-9,
      s"south share ${sph(10)} != ${90.0 * s30 / s60}")
    assert(math.abs(sph(11) - 90.0 * (s60 - s30) / s60) < 1e-9)
    // mass preserved in BOTH modes (the kernel cancels in Σ shares)
    assert(math.abs(sph(10) + sph(11) - 90.0) < 1e-9)
    // bad mode refused loudly
    val eBad = intercept[IllegalArgumentException] {
      SpatialJoin.arealInterpolate(src, "zg", "w", tgt, "tg", 90.0,
        areaMode = "geodesic")
    }
    assert(eBad.getMessage.contains("areaMode"))
  }

  private def bruteS(mode: String): Set[(Int, Int)] =
    layerA.crossJoin(layerB)
      .filter(st_relation(mode, col("ageom"), col("bgeom")))
      .select("aid", "bid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet

  private def gridS(mode: String, cs: Double, salt: Int = 0): Seq[(Int, Int)] =
    SpatialJoin.spatialJoin(layerA, "ageom", layerB, "bgeom", mode,
        cellSize = cs, saltCells = salt)
      .select("aid", "bid").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq

  test("spatialJoin equals the brute twin across modes and cell sizes") {
    for (mode <- Seq("intersects", "overlaps", "touches", "within", "contains", "equals");
         cs <- Seq(3.0, 13.0, 500.0)) {
      val got = gridS(mode, cs)
      // reference-cell rule: exactly one firing cell per candidate pair
      assert(got.size === got.toSet.size, s"duplicate pairs at mode=$mode cs=$cs")
      assert(got.toSet === bruteS(mode), s"pair set mismatch at mode=$mode cs=$cs")
    }
  }

  test("spatialJoin finds equal and nested pairs (same-cell corner cases)") {
    import s.implicits._
    val big = Seq(1 -> "POLYGON((0 0, 20 0, 20 20, 0 20, 0 0))",
                  2 -> "POLYGON((5 5, 9 5, 9 9, 5 9, 5 5))")
      .toDF("aid", "w").select($"aid", st_geomfromtext($"w").as("ageom"))
    val other = Seq(11 -> "POLYGON((5 5, 9 5, 9 9, 5 9, 5 5))",
                    12 -> "POLYGON((20 20, 30 20, 30 30, 20 30, 20 20))")
      .toDF("bid", "w2").select($"bid", st_geomfromtext($"w2").as("bgeom"))
    def pairs(mode: String) =
      SpatialJoin.spatialJoin(big, "ageom", other, "bgeom", mode, cellSize = 4.0)
        .select("aid", "bid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairs("equals") === Set(2 -> 11))
    // DE-9IM contains INCLUDES equal geometries (interiors meet, b has
    // no point outside a) — so 2≡11 is both equals and contains
    assert(pairs("contains") === Set(1 -> 11, 2 -> 11))
    assert(pairs("within") === Set(2 -> 11))   // a within b: only the equal pair
    assert(pairs("touches") === Set(1 -> 12))  // corner contact
    assert(pairs("intersects") === Set(1 -> 11, 2 -> 11, 1 -> 12))
  }

  test("saltCells parity on spatialJoin") {
    assert(gridS("intersects", 5.0, salt = 3).sorted ===
      gridS("intersects", 5.0).sorted)
  }

  test("refusals: disjoint mode, NULL/EMPTY geometry, NaN point, cap, column clash") {
    import s.implicits._
    val g = layerA
    intercept[IllegalArgumentException] {
      SpatialJoin.pointJoin(g, "ageom", pts, "px", "py", "disjoint", cellSize = 5.0)
    }
    intercept[IllegalArgumentException] {
      SpatialJoin.spatialJoin(g, "ageom", layerB, "bgeom", "disjoint", cellSize = 5.0)
    }
    val withNull = Seq((1, "POLYGON((0 0, 2 0, 0 2, 0 0))"), (2, null))
      .toDF("aid", "w")
      .select($"aid", when($"w".isNotNull, st_geomfromtext($"w")).as("ageom"))
    val eNull = intercept[Exception] {
      SpatialJoin.pointJoin(withNull, "ageom", pts, "px", "py", "intersects",
        cellSize = 5.0).count()
    }
    assert(eNull.getMessage.contains("NULL geometry") ||
      eNull.getCause != null && eNull.getCause.getMessage.contains("NULL geometry"))
    val empty = Seq(1 -> "POLYGON EMPTY").toDF("aid", "w")
      .select($"aid", st_geomfromtext($"w").as("ageom"))
    val eEmpty = intercept[Exception] {
      SpatialJoin.pointJoin(empty, "ageom", pts, "px", "py", "intersects",
        cellSize = 5.0).count()
    }
    assert(eEmpty.getMessage.contains("EMPTY geometry") ||
      eEmpty.getCause != null && eEmpty.getCause.getMessage.contains("EMPTY geometry"))
    val nanPts = Seq((1, Double.NaN, 2.0)).toDF("pid", "px", "py")
    val eNan = intercept[Exception] {
      SpatialJoin.pointJoin(layerA, "ageom", nanPts, "px", "py", "intersects",
        cellSize = 5.0).count()
    }
    assert(eNan.getMessage.contains("NULL/NaN") ||
      eNan.getCause != null && eNan.getCause.getMessage.contains("NULL/NaN"))
    val eCap = intercept[Exception] {
      SpatialJoin.pointJoin(layerA, "ageom", pts, "px", "py", "intersects",
        cellSize = 0.01, maxCellsPerGeom = 16).count()
    }
    assert(eCap.getMessage.contains("maxCellsPerGeom") ||
      eCap.getCause != null && eCap.getCause.getMessage.contains("maxCellsPerGeom"))
    intercept[IllegalArgumentException] { // column overlap
      SpatialJoin.pointJoin(g, "ageom", pts.withColumnRenamed("pid", "aid"),
        "px", "py", "intersects", cellSize = 5.0)
    }
    intercept[IllegalArgumentException] { // reserved scratch name
      SpatialJoin.pointJoin(g, "ageom", pts.withColumn("_scx", lit(1L)),
        "px", "py", "intersects", cellSize = 5.0)
    }
    intercept[IllegalArgumentException] { // unknown mode errors like the engine path
      SpatialJoin.pointJoin(g, "ageom", pts, "px", "py", "nearby", cellSize = 5.0)
    }
  }

  /** `df` written to Parquet and read back: a file scan, where Spark
    * pushes inferred `isnotnull` filters below the refusing projection
    * (a local relation evaluates that projection while optimizing). */
  private def onDisk(df: DataFrame): DataFrame = {
    val dir = tmpDir("sj-parquet") + "/t"
    df.write.parquet(dir)
    s.read.parquet(dir)
  }

  private def refusedWith(msg: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val texts = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(texts.exists(_.contains(msg)), s"expected '$msg', got: ${e.getMessage}")
  }

  test("file-backed inputs: NULL geometry and NULL point still refuse") {
    import s.implicits._
    val withNull = onDisk(Seq((1, "POLYGON((0 0, 2 0, 0 2, 0 0))"), (2, null))
      .toDF("aid", "w")
      .select($"aid", when($"w".isNotNull, st_geomfromtext($"w")).as("ageom")))
    refusedWith("NULL geometry") {
      SpatialJoin.spatialJoin(withNull, "ageom", layerB, "bgeom", "intersects",
        cellSize = 5.0).count()
    }
    refusedWith("NULL geometry") {
      SpatialJoin.pointJoin(withNull, "ageom", pts, "px", "py", "intersects",
        cellSize = 5.0).count()
    }
    val nullPts = onDisk(Seq[(Int, Option[Double], Double)]((1, Some(1.0), 1.0),
      (2, None, 1.0)).toDF("pid", "px", "py"))
    refusedWith("NULL/NaN x coordinate") {
      SpatialJoin.pointJoin(layerA, "ageom", nullPts, "px", "py", "intersects",
        cellSize = 5.0).count()
    }
  }

  test("plan guard: one st_envelope_bounds per geometry side, none in a Filter") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def decodes(df: DataFrame): (Int, Int) = {
      val plan: SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      def count(p: SparkPlan) = p.expressions.map(_.collect {
        case e: graft.functions.StEnvelopeBounds => e }.size).sum
      (plan.collect { case p => count(p) }.sum,
       plan.collect { case f: FilterExec => count(f) }.sum)
    }
    val (a, b, p) = (onDisk(layerA), onDisk(layerB), onDisk(pts))
    assert(decodes(SpatialJoin.spatialJoin(a, "ageom", b, "bgeom", "intersects",
      cellSize = 5.0)) === ((2, 0)))
    assert(decodes(SpatialJoin.spatialJoin(a, "ageom", b, "bgeom", "intersects",
      cellSize = 5.0, saltCells = 3)) === ((2, 0)))
    assert(decodes(SpatialJoin.pointJoin(a, "ageom", p, "px", "py", "intersects",
      cellSize = 5.0)) === ((1, 0)))
  }
}
