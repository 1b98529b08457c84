package graft

import org.apache.spark.sql.functions._

import graft.core.Tiles

/** [[graft.core.Tiles]] vs a local scalar reference of the published
  * slippy formulas, plus the seam/limit/refusal surface and the
  * quadkey prefix-nesting property the layout use case rests on. */
class TilesSpec extends SparkSpec {

  private def refX(lon: Double, z: Int): Long =
    math.min(math.floor((lon + 180.0) / 360.0 * (1L << z)).toLong, (1L << z) - 1)
  private def refY(lat: Double, z: Int): Long = {
    val phi = math.toRadians(lat)
    val y = (1.0 - math.log(math.tan(phi) + 1.0 / math.cos(phi)) / math.Pi) /
      2.0 * (1L << z)
    math.min(math.floor(y).toLong, (1L << z) - 1)
  }

  test("tileX/tileY match the scalar reference over a global grid") {
    import spark.implicits._
    val pts = (for (i <- 0 until 60; j <- 0 until 30) yield
      (i * 6.0 - 179.95, j * 5.6 - 83.9)).toDF("lon", "lat")
    for (z <- Seq(0, 1, 4, 12)) {
      val got = pts.select(col("lon"), col("lat"),
          Tiles.tileX(col("lon"), z).as("x"), Tiles.tileY(col("lat"), z).as("y"))
        .collect()
      got.foreach { r =>
        assert(r.getLong(2) === refX(r.getDouble(0), z), s"x at z=$z ${r.getDouble(0)}")
        assert(r.getLong(3) === refY(r.getDouble(1), z), s"y at z=$z ${r.getDouble(1)}")
      }
    }
  }

  test("seams and limits: lon=+180 wraps, Mercator-limit latitudes clamp into range") {
    import spark.implicits._
    val df = Seq((180.0, 0.0), (-180.0, 0.0),
      (0.0, Tiles.MaxLatDeg), (0.0, -Tiles.MaxLatDeg)).toDF("lon", "lat")
    val rows = df.select(Tiles.tileX(col("lon"), 4).as("x"),
      Tiles.tileY(col("lat"), 4).as("y")).collect()
    assert(rows(0).getLong(0) === 15L && rows(1).getLong(0) === 0L)
    assert(rows(2).getLong(1) === 0L && rows(3).getLong(1) === 15L)
  }

  test("quadkey: known cells, prefix nesting, digit alphabet") {
    import spark.implicits._
    val df = Seq((0.05, 0.05), (-100.0, 45.0), (150.0, -33.0)).toDF("lon", "lat")
    val qk = df.select(
      Tiles.quadkey(col("lon"), col("lat"), 1).as("q1"),
      Tiles.quadkey(col("lon"), col("lat"), 6).as("q6"),
      Tiles.quadkey(col("lon"), col("lat"), 10).as("q10")).collect()
    // (0.05, 0.05): x-bit 1, y-bit 0 at z=1 -> digit "1" (NE quadrant)
    assert(qk(0).getString(0) === "1")
    qk.foreach { r =>
      assert(r.getString(2).startsWith(r.getString(1)), "z=6 prefix of z=10")
      assert(r.getString(1).length === 6 && r.getString(2).length === 10)
      assert(r.getString(2).forall(c => c >= '0' && c <= '3'))
    }
  }

  test("rollup: z10 counts re-aggregated to z4 == direct z4 binning") {
    import spark.implicits._
    val pts = (0 until 2000).map(i =>
      (((i * 7) % 1400) / 10.0 - 70.0 + 0.05,
       ((i * 13) % 3600) / 10.0 - 180.0 + 0.05)).toDF("lat", "lon")
    val fine = pts.select(Tiles.quadkey(col("lon"), col("lat"), 10).as("qk"))
      .groupBy("qk").count()
    val rolled = fine.groupBy(Tiles.rollup(col("qk"), 4).as("qk4"))
      .agg(sum("count").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = pts.select(Tiles.quadkey(col("lon"), col("lat"), 4).as("qk4"))
      .groupBy("qk4").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled === direct && direct.nonEmpty)
    val eShort = intercept[Exception] {
      Seq("01").toDF("qk").select(Tiles.rollup(col("qk"), 4)).collect()
    }
    assert(eShort.toString.contains("roll a quadkey") ||
      Option(eShort.getCause).exists(_.getMessage.contains("roll a quadkey")))
  }

  test("refusals: polar latitude, out-of-range longitude, NaN, zoom bounds") {
    import spark.implicits._
    def bad(lon: Double, lat: Double) = {
      val df = Seq((lon, lat)).toDF("lon", "lat")
      intercept[Exception] {
        df.select(Tiles.tileX(col("lon"), 4), Tiles.tileY(col("lat"), 4)).collect()
      }
    }
    assert(bad(0.0, 89.0).toString.contains("Mercator") ||
      Option(bad(0.0, 89.0).getCause).exists(_.getMessage.contains("Mercator")))
    assert(bad(181.0, 0.0).toString.contains("longitude") ||
      Option(bad(181.0, 0.0).getCause).exists(_.getMessage.contains("longitude")))
    bad(Double.NaN, 0.0)
    assertThrows[IllegalArgumentException] { Tiles.tileX(lit(0.0), 31) }
    assertThrows[IllegalArgumentException] { Tiles.quadkey(lit(0.0), lit(0.0), 0) }
  }

  private val gf = new org.locationtech.jts.geom.GeometryFactory()
  /** the rectangle polygon a bbox read covers */
  private def rect(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double) =
    gf.toGeometry(new org.locationtech.jts.geom.Envelope(lonMin, lonMax, latMin, latMax))

  test("cover: every in-rect point's quadkey has a covering prefix; budget honored; empty rect") {
    import spark.implicits._
    // the property the _qk pruning's SOUNDNESS rides on: for any rect
    // (the coverGeometry cover a bbox read gets from the prefilter
    // rule), any point inside it must quadkey-bin under one of the
    // returned prefixes — across zooms, rect shapes and the budget
    val rnd = new scala.util.Random(29)
    for (z <- Seq(4, 8, 12); trial <- 0 until 8) {
      val lonMin = rnd.nextDouble() * 340 - 180
      val latMin = rnd.nextDouble() * 150 - 80
      val lonMax = math.min(180.0, lonMin + rnd.nextDouble() * 40 + 0.1)
      val latMax = math.min(Tiles.MaxLatDeg, latMin + rnd.nextDouble() * 30 + 0.1)
      val budget = Seq(4, 16, 64)(trial % 3)
      val cov = Tiles.coverGeometry(rect(lonMin, latMin, lonMax, latMax), z, budget)
      assert(cov.nonEmpty && cov.size <= budget,
        s"z=$z trial=$trial: ${cov.size} prefixes > budget $budget")
      assert(cov.forall(p => p.length <= z && p.forall(c => c >= '0' && c <= '3')))
      // 200 random interior points must all be covered
      val pts = (0 until 200).map { _ =>
        (lonMin + rnd.nextDouble() * (lonMax - lonMin),
          math.max(-Tiles.MaxLatDeg,
            latMin + rnd.nextDouble() * (latMax - latMin)))
      }.toDF("lon", "lat")
      val qks = pts.select(Tiles.quadkey($"lon", $"lat", z).as("qk"))
        .collect().map(_.getString(0))
      val missed = qks.filterNot(k => cov.exists(k.startsWith))
      assert(missed.isEmpty,
        s"z=$z trial=$trial budget=$budget: uncovered quadkeys ${missed.take(3).toSeq}")
    }
    // rect more than a tile outside the Mercator domain → empty cover
    // (no indexed row can exist there)
    assert(Tiles.coverGeometry(rect(10, 87.0, 20, 89.0), 8) === Seq.empty)
    // whole-world rect at a tight budget degrades to few coarse
    // prefixes, never to a miss
    val world = Tiles.coverGeometry(rect(-180, -85, 180, 85), 10, 4)
    assert(world.nonEmpty && world.size <= 4)
  }

  test("coverGeometry: L-shape covers every interior point, skips the notch, beats the envelope") {
    import spark.implicits._
    def poly(pts: (Double, Double)*) = gf.createPolygon(
      (pts :+ pts.head).map { case (x, y) =>
        new org.locationtech.jts.geom.Coordinate(x, y) }.toArray)
    // L: vertical arm lon [0,20] lat [-40,50]; horizontal arm
    // lon [0,80] lat [-40,-20]; notch = [20,80] x [-20,50]
    val l = poly((0, -40), (80, -40), (80, -20), (20, -20), (20, 50), (0, 50))
    for (z <- Seq(6, 9)) {
      val cov = Tiles.coverGeometry(l, z)
      val covEnv = Tiles.coverGeometry(l.getEnvelope, z)
      assert(cov.nonEmpty && cov.size <= 64)
      // coverage: every interior point's quadkey binned under a prefix
      val rnd = new scala.util.Random(31 + z)
      val pts = (0 until 300).map { _ =>
        if (rnd.nextBoolean()) (rnd.nextDouble() * 20, rnd.nextDouble() * 90 - 40)
        else (rnd.nextDouble() * 80, rnd.nextDouble() * 20 - 40)
      }.toDF("lon", "lat")
      val qks = pts.select(Tiles.quadkey($"lon", $"lat", z).as("qk"))
        .collect().map(_.getString(0))
      assert(qks.forall(k => cov.exists(k.startsWith)),
        s"z=$z: interior point escaped the mask cover")
      // tightness: a deep-notch point is NOT covered (this is exactly
      // what the envelope cover cannot do)
      val notchQk = Seq((50.0, 20.0)).toDF("lon", "lat")
        .select(Tiles.quadkey($"lon", $"lat", z)).head().getString(0)
      assert(!cov.exists(notchQk.startsWith), s"z=$z: notch tile covered")
      assert(covEnv.exists(notchQk.startsWith), "envelope keeps the notch")
      // tile-mass comparison: expand both covers to z-tile counts
      def mass(prefixes: Seq[String]) =
        prefixes.map(p => math.pow(4.0, (z - p.length).toDouble)).sum
      assert(mass(cov) < 0.75 * mass(covEnv),
        s"z=$z: mask cover ${mass(cov)} tiles vs envelope ${mass(covEnv)}")
    }
    // multipolygon + empty + budget degradation
    val two = gf.createMultiPolygon(Array(
      poly((0, 0), (5, 0), (5, 5), (0, 5)),
      poly((100, 10), (110, 10), (110, 20), (100, 20))))
    val covTwo = Tiles.coverGeometry(two, 8, 8)
    assert(covTwo.nonEmpty && covTwo.size <= 8)
    val qk1 = Seq((2.0, 2.0), (105.0, 15.0)).toDF("lon", "lat")
      .select(Tiles.quadkey($"lon", $"lat", 8)).collect().map(_.getString(0))
    assert(qk1.forall(k => covTwo.exists(k.startsWith)))
    assert(Tiles.coverGeometry(gf.createPolygon(), 8) === Seq.empty)
    intercept[IllegalArgumentException] { Tiles.coverGeometry(l, 0) }
  }
}
