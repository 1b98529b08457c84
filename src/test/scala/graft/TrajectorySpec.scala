package graft

import org.apache.spark.sql.functions._

import graft.core.Trajectory

/**
 * [[graft.core.Trajectory]] vs a local single-threaded reference
 * implementation of the Zheng et al. scan — the twin pins the
 * DISTRIBUTED plumbing (repartition/grouping/ordering/tiebreaks)
 * against the sequential semantics, across partitionings — plus
 * planted anchor-semantics rows and the refusal surface.
 */
class TrajectorySpec extends SparkSpec {

  private val R = graft.core.DistanceJoin.EarthRadiusMeters

  /** Local reference: same state machine, written directly. */
  private def ref(pts: Seq[(Long, Long, Double, Double)],
                  within: (Double, Double, Double, Double) => Boolean,
                  minDur: Long): Seq[(Long, Int, Long, Long, Int, Double, Double)] =
    pts.groupBy(_._1).toSeq.flatMap { case (k, rows) =>
      val s = rows.map(r => (r._2, r._3, r._4)).sorted
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Long, Long, Int, Double, Double)]
      var i = 0; var idx = 0
      while (i < s.length) {
        var j = i + 1
        while (j < s.length && within(s(i)._2, s(i)._3, s(j)._2, s(j)._3)) j += 1
        if (s(j - 1)._1 - s(i)._1 >= minDur) {
          val run = s.slice(i, j)
          idx += 1
          out += ((k, idx, s(i)._1, s(j - 1)._1, j - i,
            run.map(_._2).sum / run.length, run.map(_._3).sum / run.length))
          i = j
        } else i += 1
      }
      out.toSeq
    }

  private def planarWithin(r: Double)(ax: Double, ay: Double, x: Double, y: Double) = {
    val dx = x - ax; val dy = y - ay; dx * dx + dy * dy <= r * r
  }

  private def geoWithin(r: Double)(aLat: Double, aLon: Double, lat: Double, lon: Double) = {
    val dphi = math.toRadians(aLat) - math.toRadians(lat)
    val dlam = math.toRadians(aLon) - math.toRadians(lon)
    val h = math.pow(math.sin(dphi / 2), 2) +
      math.cos(math.toRadians(aLat)) * math.cos(math.toRadians(lat)) *
        math.pow(math.sin(dlam / 2), 2)
    2.0 * R * math.asin(math.min(1.0, math.sqrt(h))) <= r
  }

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getLong(3), r.getInt(4), r.getDouble(5), r.getDouble(6))).toSet

  test("planar stayPoints: hand-computed plateaus, short dwell skipped") {
    import spark.implicits._
    // key 7: plateau A (5 pts, 400s), gap, SHORT plateau (2 pts, 100s),
    // gap, plateau B (4 pts, 300s)
    val pts = Seq[(Long, Long, Double, Double)](
      (7L, 0L, 10.0, 10.0), (7L, 100L, 11.0, 10.0), (7L, 200L, 10.0, 11.0),
      (7L, 300L, 11.0, 11.0), (7L, 400L, 10.5, 10.5),
      (7L, 500L, 500.0, 500.0), (7L, 600L, 501.0, 500.0),
      (7L, 700L, 900.0, 900.0), (7L, 800L, 901.0, 900.0),
      (7L, 900L, 900.0, 901.0), (7L, 1000L, 901.0, 901.0))
    val got = collect(Trajectory.stayPoints(
      pts.toDF("dev", "t", "x", "y"), "dev", "t", "x", "y",
      radius = 3.0, minDurationSec = 200L))
    assert(got === Set(
      (7L, 1, 0L, 400L, 5, 52.5 / 5, 52.5 / 5),
      (7L, 2, 700L, 1000L, 4, 3602.0 / 4, 3602.0 / 4)))
  }

  test("anchor semantics: a slow drift splits where pairwise chaining would not") {
    import spark.implicits._
    // steps of 2 with radius 3: every consecutive pair is within r, but
    // the anchor test escapes at the third point (dist 4 > 3)
    val pts = (0 until 10).map(i => (1L, i * 100L, i * 2.0, 0.0))
    val got = collect(Trajectory.stayPoints(
      pts.toDF("dev", "t", "x", "y"), "dev", "t", "x", "y",
      radius = 3.0, minDurationSec = 100L))
    val want = ref(pts.map(p => (p._1, p._2, p._3, p._4)),
      planarWithin(3.0), 100L).toSet
    assert(got === want)
    // every emitted run spans exactly 2 points (anchor + its one
    // in-radius neighbor), never the whole drift
    assert(got.nonEmpty && got.forall(_._5 == 2))
  }

  test("distributed run equals the local reference across partitionings") {
    import spark.implicits._
    // 23 keys x ~80 points: plateaus with jitter, occasional jumps,
    // DUPLICATE timestamps (exercises the (ts, x, y) tiebreak)
    val pts = for (k <- 0L until 23L; i <- 0 until 80) yield {
      val phase = i / 16
      val x = ((k * 7 + phase * 13) % 50) * 20.0 + (i % 4)
      val y = ((k * 11 + phase * 17) % 50) * 20.0 + (i % 3)
      (k, (i / 2) * 30L, x, y) // i/2 -> every ts appears twice
    }
    val want = ref(pts, planarWithin(6.0), 120L).toSet
    for (parts <- Seq(1, 7)) {
      val got = collect(Trajectory.stayPoints(
        pts.toDF("dev", "t", "x", "y").repartition(parts),
        "dev", "t", "x", "y", radius = 6.0, minDurationSec = 120L))
      assert(got === want, s"mismatch at input partitions=$parts")
    }
  }

  test("geoStayPoints equals the local haversine reference") {
    import spark.implicits._
    val pts = for (k <- 0L until 8L; i <- 0 until 60) yield {
      val phase = i / 12
      val lat = ((k * 3 + phase * 7) % 40).toDouble + (i % 3) * 0.002
      val lon = ((k * 5 + phase * 11) % 40) * 2.0 + (i % 2) * 0.002
      (k, i * 60L, lat, lon)
    }
    val got = collect(Trajectory.geoStayPoints(
      pts.toDF("dev", "t", "lat", "lon"), "dev", "t", "lat", "lon",
      radiusMeters = 1000.0, minDurationSec = 300L))
    assert(got === ref(pts, geoWithin(1000.0), 300L).toSet)
  }

  test("kinematics: scala reference twin, NULL contract, refusals") {
    import spark.implicits._
    // tracks with duplicate timestamps (tiebreak), a coincident
    // consecutive pair (NULL heading), and a zero-dt pair (NULL speed)
    val pts = (for (k <- 0L until 6L; i <- 0 until 40) yield {
      val lon = ((k * 5 + i * 3) % 50).toDouble * 0.5 - 10.0
      val lat = ((k * 7 + i * 11) % 40).toDouble * 0.25 - 5.0
      (k, (i / 2) * 10L + (i % 2) * (if (k == 0) 0L else 3L), lon, lat)
    }) ++ Seq((9L, 0L, 1.0, 2.0), (9L, 100L, 1.0, 2.0), (9L, 200L, 3.0, 2.0))
    val got = Trajectory.kinematics(
        pts.toDF("dev", "t", "lon", "lat").repartition(5),
        "dev", "t", "lon", "lat")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(4)).map(_ => r.getLong(4)),
        Option(r.get(5)).map(_ => math.rint(r.getDouble(5) * 1e6)),
        Option(r.get(6)).map(_ => math.rint(r.getDouble(6) * 1e6)),
        Option(r.get(7)).map(_ => math.rint(r.getDouble(7) * 1e9)))).toSet
    // local scala reference replaying the documented trees
    val R = graft.core.DistanceJoin.EarthRadiusMeters
    def hav(lon1: Double, lat1: Double, lon2: Double, lat2: Double) = {
      val h = math.pow(math.sin((math.toRadians(lat1) - math.toRadians(lat2)) / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin((math.toRadians(lon1) - math.toRadians(lon2)) / 2), 2)
      2.0 * R * math.asin(math.min(1.0, math.sqrt(h)))
    }
    val want = pts.groupBy(_._1).flatMap { case (k, rows) =>
      val srt = rows.sortBy(r => (r._2, r._3, r._4))
      (None +: srt.map(Some(_)).init).zip(srt).map {
        case (None, c) => (k, c._2, None, None, None, None)
        case (Some(p), c) =>
          val dt = c._2 - p._2
          val st = hav(p._3, p._4, c._3, c._4)
          val hd = if (p._3 == c._3 && p._4 == c._4) None else Some {
            val t0 = math.atan2(
              math.sin(math.toRadians(c._3) - math.toRadians(p._3)) *
                math.cos(math.toRadians(c._4)),
              math.cos(math.toRadians(p._4)) * math.sin(math.toRadians(c._4)) -
                math.sin(math.toRadians(p._4)) * math.cos(math.toRadians(c._4)) *
                  math.cos(math.toRadians(c._3) - math.toRadians(p._3)))
            math.rint((if (t0 < 0) t0 + 2 * math.Pi else t0) * 1e9)
          }
          (k, c._2, Some(dt), Some(math.rint(st * 1e6)),
            if (dt == 0) None else Some(math.rint(st / dt * 1e6)), hd)
      }
    }.toSet
    assert(got === want)
    // the planted rows: coincident pair -> step 0, NULL heading; and a
    // zero-dt duplicate would NULL the speed (k=0 has dup timestamps)
    val k9 = got.filter(_._1 == 9L).toSeq.sortBy(_._2)
    assert(k9(1)._4 === Some(0.0) && k9(1)._6.isEmpty && k9(1)._5 === Some(0.0))
    assert(got.exists(r => r._3.contains(0L) && r._5.isEmpty),
      "a zero-dt pair must NULL the speed")
    // refusals: NULL coordinate, out-of-range longitude, name collision
    val eNull = intercept[Exception] {
      val df = Seq((1L, 0L, Option.empty[Double], Some(1.0)),
        (1L, 1L, Some(1.0), Some(1.0))).toDF("dev", "t", "lon", "lat")
      Trajectory.kinematics(df, "dev", "t", "lon", "lat").count()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(eNull).exists(_.contains("NULL longitude")))
    val eRange = intercept[Exception] {
      val df = Seq((1L, 0L, 500.0, 1.0), (1L, 1L, 1.0, 1.0))
        .toDF("dev", "t", "lon", "lat")
      Trajectory.kinematics(df, "dev", "t", "lon", "lat").count()
    }
    assert(chain(eRange).exists(_.contains("longitude out of")))
    val eName = intercept[IllegalArgumentException] {
      Trajectory.kinematics(
        Seq((1L, 0L, 1.0, 1.0)).toDF("dt_s", "t", "lon", "lat"),
        "dt_s", "t", "lon", "lat")
    }
    assert(eName.getMessage.contains("collides"))
  }

  test("spaceTimeJoin equals the brute twin, boundaries included") {
    import spark.implicits._
    val a = (0 until 120).map(i =>
      (i.toLong, ((i * 7) % 40).toDouble, ((i * 11) % 40).toDouble,
        ((i * 13) % 300).toDouble)).toDF("aid", "ax", "ay", "at")
    val b = (0 until 110).map(i =>
      (1000L + i, ((i * 5) % 40).toDouble, ((i * 17) % 40).toDouble,
        ((i * 19) % 300).toDouble)).toDF("bid", "bx", "by", "bt")
    def brute = a.crossJoin(b).filter(
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")) <= 25.0 &&
        abs(col("at") - col("bt")) <= 30.0)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((cs, bw) <- Seq((None, None), (Some(9.0), Some(45.0)))) {
      val got = graft.core.DistanceJoin.spaceTimeJoin(a, b,
          "ax", "ay", "at", "bx", "by", "bt", radius = 5.0, tau = 30.0,
          cellSize = cs, bucketWidth = bw)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.size === got.toSet.size, s"duplicate pairs at cs=$cs bw=$bw")
      assert(got.toSet === brute, s"pair set mismatch at cs=$cs bw=$bw")
    }
    // salt parity
    val salted = graft.core.DistanceJoin.spaceTimeJoin(a, b,
        "ax", "ay", "at", "bx", "by", "bt", 5.0, 30.0, saltCells = 3)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted === brute)
    // refusals: NaN timestamp, undersized bucket
    val nan = Seq((1L, 0.0, 0.0, Double.NaN)).toDF("aid2", "x2", "y2", "t2")
    val e = intercept[Exception] {
      graft.core.DistanceJoin.spaceTimeJoin(nan, b,
        "x2", "y2", "t2", "bx", "by", "bt", 5.0, 30.0).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("NULL/NaN")))
    intercept[IllegalArgumentException] {
      graft.core.DistanceJoin.spaceTimeJoin(a, b,
        "ax", "ay", "at", "bx", "by", "bt", 5.0, 30.0, bucketWidth = Some(10.0))
    }
  }

  test("segments: hand-computed legs, step ownership, singleton legs") {
    import spark.implicits._
    val pts = Seq[(Long, Long, Double, Double)](
      (1L, 0L, 0.0, 0.0), (1L, 30L, 3.0, 4.0), (1L, 60L, 3.0, 4.0),
      (1L, 2000L, 10.0, 10.0), // gap 1940 > 600 -> new singleton leg
      (2L, 5L, 7.0, 7.0))
    val got = Trajectory.segments(pts.toDF("dev", "t", "x", "y"),
        "dev", "t", "x", "y", maxGap = 600L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got === Set(
      (1L, 1, 3L, 0L, 60L, 5000000L), // steps 5.0 + 0.0
      (1L, 2, 1L, 2000L, 2000L, 0L),  // a leg's first point has no step
      (2L, 1, 1L, 5L, 5L, 0L)))
  }

  test("refusals: NULL key/ts, non-integral key, cap, bad params") {
    import spark.implicits._
    val ok = Seq((1L, 0L, 1.0, 1.0)).toDF("dev", "t", "x", "y")
    intercept[IllegalArgumentException] {
      Trajectory.stayPoints(ok, "dev", "t", "x", "y", -1.0, 10L)
    }
    intercept[IllegalArgumentException] {
      Trajectory.stayPoints(ok.withColumn("dev", col("dev").cast("string")),
        "dev", "t", "x", "y", 1.0, 10L)
    }
    intercept[IllegalArgumentException] {
      Trajectory.stayPoints(ok, "missing", "t", "x", "y", 1.0, 10L)
    }
    val withNull = Seq((java.lang.Long.valueOf(1L), 0L, 1.0, 1.0),
      (null.asInstanceOf[java.lang.Long], 1L, 1.0, 1.0))
      .toDF("dev", "t", "x", "y")
    val e = intercept[Exception] {
      Trajectory.stayPoints(withNull, "dev", "t", "x", "y", 1.0, 10L).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("NULL key")))
    val many = (0 until 100).map(i => (1L, i.toLong, 0.0, 0.0))
      .toDF("dev", "t", "x", "y")
    val eCap = intercept[Exception] {
      Trajectory.stayPoints(many, "dev", "t", "x", "y", 1.0, 10L,
        maxPointsPerKey = 50).count()
    }
    assert(msgs(eCap).exists(_.contains("maxPointsPerKey")))
  }

  /** Local reference for the STREAMING semantics: the batch anchor
    * machine stopped at the first anchor whose window reaches
    * end-of-data (the open suffix), exit-terminated runs only. */
  private def refStreaming(pts: Seq[(Long, Long, Double, Double)],
                           r2: Double, minDur: Long)
      : Seq[(Long, Int, Long, Long, Int, Double, Double)] =
    pts.groupBy(_._1).toSeq.flatMap { case (k, rows) =>
      val s = rows.map(r => (r._2, r._3, r._4)).sorted
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Long, Long, Int, Double, Double)]
      var i = 0; var idx = 0; var open = false
      while (i < s.length && !open) {
        var j = i + 1
        while (j < s.length && {
          val dx = s(j)._2 - s(i)._2; val dy = s(j)._3 - s(i)._3
          dx * dx + dy * dy <= r2 }) j += 1
        if (j == s.length) open = true
        else if (s(j - 1)._1 - s(i)._1 >= minDur) {
          val run = s.slice(i, j)
          idx += 1
          out += ((k, idx, s(i)._1, s(j - 1)._1, j - i,
            run.map(_._2).sum / run.length, run.map(_._3).sum / run.length))
          i = j
        } else i += 1
      }
      out.toSeq
    }

  test("resample: slerp reference twin, grid conventions, hold-still, refusals") {
    import spark.implicits._
    val R = math.Pi / 180.0
    // 3 keys, irregular gaps, one coincident consecutive pair (k=2)
    val pts = Seq(
      (1L, 3L, 10.0, 20.0), (1L, 27L, 14.0, 22.0), (1L, 40L, 15.0, 25.0),
      (2L, 0L, 5.0, 5.0), (2L, 30L, 5.0, 5.0), (2L, 50L, 8.0, 5.0),
      (3L, 7L, 0.0, 0.0)) // single point: emits nothing
      .toDF("dev", "ts", "lg", "lt")
    val got = Trajectory.resample(pts, "dev", "ts", "lg", "lt", stepSec = 10L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    // scala slerp reference
    def slerp(lon0: Double, lat0: Double, lon1: Double, lat1: Double,
              f: Double): (Double, Double) = {
      if (lon0 == lon1 && lat0 == lat1) return (lon0, lat0)
      val h = math.pow(math.sin((lat0 * R - lat1 * R) / 2), 2) +
        math.cos(lat0 * R) * math.cos(lat1 * R) *
          math.pow(math.sin((lon0 * R - lon1 * R) / 2), 2)
      val om = 2 * math.asin(math.min(1.0, math.sqrt(h)))
      val a = math.sin((1 - f) * om) / math.sin(om)
      val b = math.sin(f * om) / math.sin(om)
      def u(lon: Double, lat: Double) = (math.cos(lat * R) * math.cos(lon * R),
        math.cos(lat * R) * math.sin(lon * R), math.sin(lat * R))
      val (x0, y0, z0) = u(lon0, lat0); val (x1, y1, z1) = u(lon1, lat1)
      val (sx, sy, sz) = (a * x0 + b * x1, a * y0 + b * y1, a * z0 + b * z1)
      (math.toDegrees(math.atan2(sy, sx)),
        math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, sz)))))
    }
    // key 1 pairs [3,27), [27,40]: ticks 10, 20 | 30, 40
    assert(got.keySet === Set((1L, 10L), (1L, 20L), (1L, 30L), (1L, 40L),
      (2L, 0L), (2L, 10L), (2L, 20L), (2L, 30L), (2L, 40L), (2L, 50L)))
    Seq((10L, 3L, 27L, (10.0, 20.0), (14.0, 22.0)),
        (20L, 3L, 27L, (10.0, 20.0), (14.0, 22.0)),
        (30L, 27L, 40L, (14.0, 22.0), (15.0, 25.0)),
        (40L, 27L, 40L, (14.0, 22.0), (15.0, 25.0))).foreach {
      case (tt, t0, t1, (lon0, lat0), (lon1, lat1)) =>
        val f = (tt - t0).toDouble / (t1 - t0).toDouble
        val want = slerp(lon0, lat0, lon1, lat1, f)
        val g = got((1L, tt))
        assert(math.abs(g._1 - want._1) < 1e-12 &&
          math.abs(g._2 - want._2) < 1e-12, s"tick $tt: $g vs $want")
    }
    // tick ON the closing endpoint lands on it (f = 1)
    assert(math.abs(got((1L, 40L))._1 - 15.0) < 1e-9 &&
      math.abs(got((1L, 40L))._2 - 25.0) < 1e-9)
    // coincident pair holds position exactly
    assert(got((2L, 10L)) === ((5.0, 5.0)) && got((2L, 20L)) === ((5.0, 5.0)))
    // tick 30 belongs to the NEXT pair ([30, 50]) with f = 0 — the
    // slerp lands on the shared endpoint up to trig rounding
    assert(math.abs(got((2L, 30L))._1 - 5.0) < 1e-9 &&
      math.abs(got((2L, 30L))._2 - 5.0) < 1e-9)
    // duplicate timestamps refuse loudly
    val e = intercept[Exception] {
      Trajectory.resample(
        Seq((1L, 5L, 0.0, 0.0), (1L, 5L, 1.0, 1.0)).toDF("dev", "ts", "lg", "lt"),
        "dev", "ts", "lg", "lt", 10L).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("duplicate timestamp")))
    intercept[IllegalArgumentException] {
      Trajectory.resample(pts, "dev", "ts", "lg", "lt", 0L)
    }
    // antipodal consecutive points refuse loudly (omega ~ pi: the great
    // circle is not unique and sin(omega) ~ 0 would blow the weights)
    val ea = intercept[Exception] {
      Trajectory.resample(
        Seq((1L, 0L, 10.0, 20.0), (1L, 100L, -170.0, -20.0))
          .toDF("dev", "ts", "lg", "lt"),
        "dev", "ts", "lg", "lt", 10L).collect()
    }
    assert(chain(ea).exists(_.contains("antipodal")))
  }

  test("resample: grid ticks are exact for |ts| > 2^53 (long arithmetic)") {
    import spark.implicits._
    // base = 2^60: double division rounds (2^60 has 61 bits; the
    // quotient by 7 needs more than 53), so the old double-based
    // ceil/floor could land a tick one step off the true lattice
    val base = 1L << 60
    val step = 7L
    // choose endpoints straddling exactly three lattice points
    val t0 = base + 3 // next tick: first multiple of 7 >= t0
    val t1 = t0 + 21
    val got = Trajectory.resample(
      Seq((1L, t0, 0.0, 0.0), (1L, t1, 1.0, 1.0)).toDF("dev", "ts", "lg", "lt"),
      "dev", "ts", "lg", "lt", step)
      .select("t").collect().map(_.getLong(0)).sorted
    val want = Iterator.iterate(t0 + (step - (t0 % step)) % step)(_ + step)
      .takeWhile(_ <= t1).toArray
    assert(got.sameElements(want),
      s"ticks ${got.mkString(",")} vs exact ${want.mkString(",")}")
    // negative timestamps floor toward -inf on the same absolute grid
    val gotNeg = Trajectory.resample(
      Seq((1L, -23L, 0.0, 0.0), (1L, -2L, 1.0, 1.0)).toDF("dev", "ts", "lg", "lt"),
      "dev", "ts", "lg", "lt", step)
      .select("t").collect().map(_.getLong(0)).sorted
    assert(gotNeg.sameElements(Array(-21L, -14L, -7L)), gotNeg.mkString(","))
  }

  test("kinematicsStream: multi-batch == batch EXACTLY; late arrival refuses") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    def fix(lo: Int, hi: Int): Seq[(Long, Long, Double, Double)] =
      for (k <- 0L until 5L; i <- lo.toLong until hi.toLong) yield
        (k, i * 10, ((k * 5 + i * 3) % 50) * 0.5 - 10.0,
          ((k * 7 + i * 11) % 40) * 0.25 - 5.0)
    val all = fix(0, 30)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        Option(r.get(4)).map(_ => r.getLong(4)),
        Option(r.get(5)).map(_ => r.getDouble(5)),
        Option(r.get(6)).map(_ => r.getDouble(6)),
        Option(r.get(7)).map(_ => r.getDouble(7)))
    val batch = Trajectory.kinematics(all.toDF("dev", "t", "lon", "lat"),
      "dev", "t", "lon", "lat").collect().map(key).sortBy(r => (r._1, r._2)).toSeq
    // batch-mode run of the streaming operator: bit-identical doubles
    val batchMode = Trajectory.kinematicsStream(
        all.toDF("dev", "t", "lon", "lat"), "dev", "t", "lon", "lat")
      .collect().map(key).sortBy(r => (r._1, r._2)).toSeq
    assert(batchMode === batch, "batch-mode stream run must equal batch kinematics")
    // two micro-batches split mid-track: EXACT equality, no tails
    val dir = tmpDir("kin-stream")
    fix(0, 11).toDF("dev", "t", "lon", "lat").coalesce(1).write.parquet(s"$dir/f1")
    fix(11, 30).toDF("dev", "t", "lon", "lat").coalesce(1).write.parquet(s"$dir/f2")
    val sdir = tmpDir("kin-stream-in")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(sdir, "a.parquet")))
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(sdir, "b.parquet")))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(sdir, "a.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val schema = fix(0, 1).toDF("dev", "t", "lon", "lat").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(sdir)
    val out = Trajectory.kinematicsStream(stream, "dev", "t", "lon", "lat")
    val qn = s"kin_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table(qn).collect().map(key).sortBy(r => (r._1, r._2)).toSeq
    assert(got === batch, "multi-batch stream must equal batch EXACTLY (no tails)")
    // late arrival at or below the last enriched ts refuses loudly
    val sdir2 = tmpDir("kin-late")
    Seq((1L, 100L, 1.0, 1.0)).toDF("dev", "t", "lon", "lat")
      .coalesce(1).write.parquet(s"$dir/l1")
    Seq((1L, 50L, 2.0, 2.0)).toDF("dev", "t", "lon", "lat")
      .coalesce(1).write.parquet(s"$dir/l2")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/l1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(sdir2, "a.parquet")))
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/l2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(sdir2, "b.parquet")))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(sdir2, "a.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val late = Trajectory.kinematicsStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(sdir2),
      "dev", "t", "lon", "lat")
    val qn2 = s"kinl_${System.nanoTime}"
    val q2 = late.writeStream.format("memory").queryName(qn2)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val e = intercept[Exception] { q2.awaitTermination(120000) }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("last enriched timestamp")))
  }

  test("streamingStayPoints: multi-batch file stream == open-suffix reference; sp_idx continues") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    // 3 devices, 3 plateaus of 8 ticks each + 4-tick trailing dwell;
    // minDur 5 ticks => each full plateau is a stay point, the trailing
    // dwell stays open at end-of-stream
    def fix(lo: Int, hi: Int): Seq[(Long, Long, Double, Double)] =
      for (k <- 0L until 3L; i <- lo.toLong until hi.toLong) yield {
        val plateau = i / 8
        (k, i * 10, (k * 31 + plateau * 97 % 50 * 20 + i % 2).toDouble,
          (k * 17 + plateau * 53 % 50 * 20 + i % 3).toDouble)
      }
    // 32 ticks: the trailing dwell (ticks 24..31, duration 70 >= 50)
    // IS a batch stay point (end-of-data emit) but never sees an exit
    // point, so the stream must withhold it
    val all = fix(0, 32)
    val dir = tmpDir("sp-stream")
    // two files -> two micro-batches under maxFilesPerTrigger=1
    fix(0, 13).toDF("dev", "t", "x", "y")
      .coalesce(1).write.parquet(s"$dir/f1")
    fix(13, 32).toDF("dev", "t", "x", "y")
      .coalesce(1).write.parquet(s"$dir/f2")
    val sdir = tmpDir("sp-stream-in")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(sdir, "a.parquet")))
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(sdir, "b.parquet")))
    // FileStreamSource orders micro-batches by modification time — pin it
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(sdir, "a.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val schema = fix(0, 1).toDF("dev", "t", "x", "y").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(sdir)
    val out = graft.core.Trajectory.streamingStayPoints(stream,
      "dev", "t", "x", "y", radius = 5.0, minDurationSec = 50L)
    val qn = s"spst_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table(qn).collect().map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getLong(3), r.getInt(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(t => (t._1, t._2)).toSeq
    val exp = refStreaming(all, 25.0, 50L).sortBy(t => (t._1, t._2))
    assert(got === exp && got.nonEmpty)
    // the trailing dwell (ticks 24..27) was withheld; batch emits it
    val batch = graft.core.Trajectory.stayPoints(all.toDF("dev", "t", "x", "y"),
      "dev", "t", "x", "y", 5.0, 50L).count()
    assert(batch === got.length + 3L, "each device's open tail withheld")
    // batch-mode run of the streaming operator matches too
    val batchMode = graft.core.Trajectory.streamingStayPoints(
        all.toDF("dev", "t", "x", "y"), "dev", "t", "x", "y", 5.0, 50L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(batchMode === exp)
  }

  test("geoStreamingStayPoints: multi-batch == geo open-suffix reference; batch-mode == geoStayPoints minus tails") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    // 3 devices, 0.5°-separated plateaus (≫ 2 km radius), dyadic 2^-10
    // jitter (≈108 m, ≪ radius) so centroids sum exactly in any order
    def fix(lo: Int, hi: Int): Seq[(Long, Long, Double, Double)] =
      for (k <- 0L until 3L; i <- lo.toLong until hi.toLong) yield {
        val plateau = i / 8
        (k, i * 10,
          ((k * 7 + plateau * 13) % 100) * 0.5 - 25.0 + (i % 3) * 0.0009765625,
          ((k * 11 + plateau * 17) % 100) * 0.5 - 25.0 + (i % 2) * 0.0009765625)
      }
    val all = fix(0, 32)
    // batch twin: geoStayPoints minus each key's trailing open run
    val batch = graft.core.Trajectory.geoStayPoints(
        all.toDF("dev", "t", "lat", "lon"), "dev", "t", "lat", "lon",
        2000.0, 50L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(t => (t._1, t._2)).toSeq
    // every device ends inside an open dwell (ticks 24..31) -> streaming
    // withholds exactly the last stay point per device
    val exp = batch.filterNot(sp => batch.filter(_._1 == sp._1).map(_._2).max == sp._2)
    // batch-mode run of the STREAMING operator
    val got0 = graft.core.Trajectory.geoStreamingStayPoints(
        all.toDF("dev", "t", "lat", "lon"), "dev", "t", "lat", "lon",
        2000.0, 50L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got0 === exp && got0.nonEmpty)
    // two-micro-batch file stream gives the same rows, sp_idx continuous
    val dir = tmpDir("gsp-stream")
    fix(0, 13).toDF("dev", "t", "lat", "lon").coalesce(1).write.parquet(s"$dir/f1")
    fix(13, 32).toDF("dev", "t", "lat", "lon").coalesce(1).write.parquet(s"$dir/f2")
    val sdir = tmpDir("gsp-stream-in")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(sdir, "a.parquet")))
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(sdir, "b.parquet")))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(sdir, "a.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val schema = fix(0, 1).toDF("dev", "t", "lat", "lon").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(sdir)
    val out = graft.core.Trajectory.geoStreamingStayPoints(stream,
      "dev", "t", "lat", "lon", 2000.0, 50L)
    val qn = s"gspst_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table(qn).collect().map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getLong(3), r.getInt(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got === exp)
  }

  test("streamingStayPoints: late point inside a finalized SLIDE's consulted gap refuses") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val sdir = tmpDir("sp-gap")
    // batch 1: two far-apart points ts=0 and ts=1000. Anchor ts=0's
    // window escapes at ts=1000 with duration 0 < minDur, so the scan
    // FINALIZES a slide past it — a decision that consulted ts=1000.
    // batch 2 delivers ts=500 within radius of the slid anchor: had it
    // arrived in batch 1 the anchor would have emitted a 500s dwell, so
    // accepting it silently diverges from batch stayPoints. The frontier
    // must cover the consulted escape point (1000), not just the point
    // before the open anchor (0), and the arrival must REFUSE.
    val b1 = Seq((1L, 0L, 0.0, 0.0), (1L, 1000L, 500.0, 0.0))
    val b2 = Seq((1L, 500L, 0.0, 0.0))
    b1.toDF("dev", "t", "x", "y").coalesce(1).write.parquet(s"$sdir/f1")
    b2.toDF("dev", "t", "x", "y").coalesce(1).write.parquet(s"$sdir/f2")
    val in = tmpDir("sp-gap-in")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$sdir/f1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(in, "a.parquet")))
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$sdir/f2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(in, "b.parquet")))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(in, "a.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val schema = b1.toDF("dev", "t", "x", "y").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val out = graft.core.Trajectory.streamingStayPoints(stream,
      "dev", "t", "x", "y", radius = 5.0, minDurationSec = 50L)
    val qn = s"spgap_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val e = intercept[Exception] { q.awaitTermination(120000) }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("finalized frontier")))
  }

  test("streamingStayPoints: late arrival below the finalized frontier refuses") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val sdir = tmpDir("sp-late")
    // batch 1 finalizes a plateau (exit at tick 8); batch 2 delivers a
    // point BEFORE the finalized region -> loud refusal
    val b1 = (0 until 9).map(i =>
      (1L, i * 10L, if (i < 8) 0.0 else 500.0, 0.0))
    val b2 = Seq((1L, 5L, 0.0, 0.0)) // ts 5 < frontier
    b1.toDF("dev", "t", "x", "y").coalesce(1).write.parquet(s"$sdir/f1")
    b2.toDF("dev", "t", "x", "y").coalesce(1).write.parquet(s"$sdir/f2")
    val in = tmpDir("sp-late-in")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$sdir/f1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(in, "a.parquet")))
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$sdir/f2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().ifPresent(p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(in, "b.parquet")))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(in, "a.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val schema = b1.toDF("dev", "t", "x", "y").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val out = graft.core.Trajectory.streamingStayPoints(stream,
      "dev", "t", "x", "y", radius = 5.0, minDurationSec = 50L)
    val qn = s"splate_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val e = intercept[Exception] { q.awaitTermination(120000) }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("finalized frontier")))
  }

  test("mapMatch: viterbi equals brute path enumeration; beats greedy; ties; refusals") {
    import spark.implicits._
    // candidate rows: (k, t, cand, d, px, py, sx, sy)
    type C = (Long, Long, Long, Double, Double, Double, Double, Double)
    def toDf(rows: Seq[(Long, Long, Long, Double, Double, Double, Double, Double)]) =
      rows.toDF("k", "t", "c", "d", "px", "py", "sx", "sy")
    def run(rows: Seq[C], sigma: Double = 1.0, beta: Double = 1.0) =
      Trajectory.mapMatch(toDf(rows),
        "k", "t", "c", "d", "px", "py", "sx", "sy", sigma, beta)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getDouble(3)))).toMap
    // brute reference: enumerate every path, left-to-right cost
    def brute(rows: Seq[C], sigma: Double = 1.0, beta: Double = 1.0)
        : Map[(Long, Long), (Long, Double)] = {
      rows.groupBy(_._1).flatMap { case (k, rs) =>
        val pings = rs.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (t, cs) => (t, cs.sortBy(_._3)) }
        val paths = pings.map(_._2.indices.toSeq)
          .foldLeft(Seq(Seq.empty[Int]))((acc, idx) =>
            for (a <- acc; i <- idx) yield a :+ i)
        val scored = paths.map { p =>
          var cost = 0.0
          for (i <- pings.indices) {
            val c = pings(i)._2(p(i))
            if (i > 0) {
              val pc = pings(i - 1)._2(p(i - 1))
              val route = math.sqrt(math.pow(c._7 - pc._7, 2) +
                math.pow(c._8 - pc._8, 2))
              val straight = math.sqrt(math.pow(c._5 - pc._5, 2) +
                math.pow(c._6 - pc._6, 2))
              cost += math.abs(route - straight) / beta
            }
            cost += (c._4 / sigma) * (c._4 / sigma) / 2.0
          }
          (p, cost)
        }
        // min cost; ties to lexicographically-smallest candidate ids
        val best = scored.minBy { case (p, cost) =>
          (cost, p.indices.map(i => pings(i)._2(p(i))._3).mkString(","))
        }
        pings.indices.map(i =>
          (k, pings(i)._1) -> (pings(i)._2(best._1(i))._3, best._2))
      }
    }
    // CLASSIC zig-zag: two parallel horizontal roads y=0 (seg 1) and
    // y=10 (seg 2); pings at y = 4,6,4,4 — greedy picks 1,2,1,1 (the
    // nearer road each time) but the y=6 hop costs two 10-unit snap
    // jumps vs an emission difference of (36-16)/2 = 10 < 20 -> the
    // viterbi stays on road 1 throughout. All costs are exact dyadic
    // rationals (axis-aligned fixture), so no float ambiguity at all.
    val zig: Seq[C] = (0 until 4).flatMap { i =>
      val y = if (i == 1) 6.0 else 4.0
      val x = i * 3.0
      Seq((1L, i.toLong, 1L, y, x, y, x, 0.0),
          (1L, i.toLong, 2L, 10.0 - y, x, y, x, 10.0))
    }
    val gotZig = run(zig)
    assert(gotZig === brute(zig))
    assert((0 until 4).forall(i => gotZig((1L, i.toLong))._1 == 1L),
      s"viterbi should hold road 1; got $gotZig")
    // greedy (min emission per ping) DOES disagree at t=1
    assert(zig.filter(_._2 == 1L).minBy(_._4)._3 == 2L)
    // multi-key random-ish fixture vs brute
    val rnd: Seq[C] = for {
      k <- 2L to 4L; t <- 0L to 3L; c <- 1L to 3L
    } yield {
      val d = ((k * 7 + t * 3 + c * 5) % 11).toDouble / 2.0 + 0.5
      val x = t * 5.0 + k; val y = (k % 3).toDouble
      (k, t, c, d, x, y, x + ((c * 13 + t) % 7).toDouble - 3.0,
        y + ((c * 11 + k) % 5).toDouble - 2.0)
    }
    assert(run(rnd, sigma = 2.0, beta = 1.5) === brute(rnd, sigma = 2.0, beta = 1.5))
    // tie -> smaller candidate id (two identical candidates apart from id)
    val tie: Seq[C] = Seq(
      (9L, 0L, 5L, 1.0, 0.0, 0.0, 0.0, 1.0),
      (9L, 0L, 3L, 1.0, 0.0, 0.0, 0.0, -1.0))
    assert(run(tie)((9L, 0L))._1 == 3L)
    // single-ping key: min emission
    val single: Seq[C] = Seq(
      (8L, 0L, 1L, 2.0, 0.0, 0.0, 0.0, 2.0),
      (8L, 0L, 2L, 1.0, 0.0, 0.0, 0.0, -1.0))
    assert(run(single)((8L, 0L))._1 == 2L)
    // refusals
    def chain2(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val dup: Seq[C] = Seq((1L, 0L, 1L, 1.0, 0.0, 0.0, 0.0, 1.0),
      (1L, 0L, 1L, 2.0, 0.0, 0.0, 0.0, 2.0))
    assert(chain2(intercept[Exception] { run(dup) })
      .exists(_.contains("duplicate (ts, candidate)")))
    val inconsistent: Seq[C] = Seq((1L, 0L, 1L, 1.0, 0.0, 0.0, 0.0, 1.0),
      (1L, 0L, 2L, 2.0, 5.0, 0.0, 0.0, 2.0))
    assert(chain2(intercept[Exception] { run(inconsistent) })
      .exists(_.contains("disagree on the")))
    val e3 = intercept[Exception] {
      Trajectory.mapMatch(toDf(zig),
        "k", "t", "c", "d", "px", "py", "sx", "sy", 1.0, 1.0,
        maxCandidatesPerPoint = 1).collect()
    }
    assert(chain2(e3).exists(_.contains("maxCandidatesPerPoint")))
    intercept[IllegalArgumentException] {
      Trajectory.mapMatch(toDf(zig),
        "k", "t", "c", "d", "px", "py", "sx", "sy", 0.0, 1.0)
    }
  }
  test("mapMatchGeo: haversine brute twin; range refusal") {
    import spark.implicits._
    val R = graft.core.DistanceJoin.EarthRadiusMeters
    def hv(lon0: Double, lat0: Double, lon1: Double, lat1: Double): Double = {
      val dphi = math.toRadians(lat1) - math.toRadians(lat0)
      val dlam = math.toRadians(lon1) - math.toRadians(lon0)
      val h = math.pow(math.sin(dphi / 2), 2) +
        math.cos(math.toRadians(lat0)) * math.cos(math.toRadians(lat1)) *
          math.pow(math.sin(dlam / 2), 2)
      2.0 * R * math.asin(math.min(1.0, math.sqrt(h)))
    }
    // 3 keys x 4 pings x 2 lane candidates on meridians lon 10.0/10.2
    val rows = for {
      k <- 1L to 3L; t <- 0L to 3L; c <- 1L to 2L
    } yield {
      val plat = 50.0 + t * 0.1
      val plon = 10.05 + ((k + t) % 3) * 0.04
      val d = ((k * 7 + t * 3 + c * 5) % 11).toDouble * 100.0 + 50.0
      (k, t, c, d, plon, plat, 10.0 + (c - 1) * 0.2, plat)
    }
    val got = Trajectory.mapMatchGeo(
        rows.toDF("k", "t", "c", "d", "plon", "plat", "slon", "slat"),
        "k", "t", "c", "d", "plon", "plat", "slon", "slat",
        sigma = 100.0, beta = 1000.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // brute: enumerate the 16 paths per key with the same trees
    val want = rows.groupBy(_._1).flatMap { case (k, rs) =>
      val pings = rs.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (t, cs) => (t, cs.sortBy(_._3)) }
      val paths = pings.map(_._2.indices.toSeq)
        .foldLeft(Seq(Seq.empty[Int]))((acc, idx) =>
          for (a <- acc; i <- idx) yield a :+ i)
      val best = paths.map { p =>
        var cost = 0.0
        for (i <- pings.indices) {
          val c = pings(i)._2(p(i))
          if (i > 0) {
            val pc = pings(i - 1)._2(p(i - 1))
            val route = hv(pc._7, pc._8, c._7, c._8)
            val straight = hv(pc._5, pc._6, c._5, c._6)
            cost += math.abs(route - straight) / 1000.0
          }
          cost += (c._4 / 100.0) * (c._4 / 100.0) / 2.0
        }
        (p, cost)
      }.minBy(_._2)
      pings.indices.map(i =>
        (k, pings(i)._1) -> ((pings(i)._2(best._1(i))._3, best._2)))
    }
    want.foreach { case (kt, (cand, cost)) =>
      assert(got(kt)._1 === cand, s"$kt: ${got(kt)} vs ($cand, $cost)")
      assert(math.abs(got(kt)._2 - cost) < 1e-9)
    }
    // out-of-range latitude refuses (geodesic only)
    val bad = Seq((1L, 0L, 1L, 10.0, 10.0, 95.0, 10.0, 50.0))
      .toDF("k", "t", "c", "d", "plon", "plat", "slon", "slat")
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val e = intercept[Exception] {
      Trajectory.mapMatchGeo(bad, "k", "t", "c", "d", "plon", "plat",
        "slon", "slat", 100.0, 1000.0).collect()
    }
    assert(chain(e).exists(_.contains("out of")))
  }

  test("odMatrix: endpoint picks, tile parity with Tiles.quadkey, refusals") {
    import spark.implicits._
    // keys 1 and 2 share the same origin/destination tiles (different
    // exact positions), key 3 flows elsewhere; interior points are
    // planted FAR outside both tiles so a wrong endpoint pick would
    // change the matrix, not just the within-tile position
    val pts = Seq(
      (1L, 10L, 0.4, 0.3), (1L, 20L, -120.0, -60.0), (1L, 30L, 100.2, 50.7),
      (2L, 5L, 1.7, 2.2), (2L, 6L, 44.0, -80.0), (2L, 9L, 101.9, 51.3),
      (3L, 100L, -100.3, -40.2), (3L, 200L, 10.6, 10.4)
    ).toDF("k", "t", "lon", "lat")
    val got = Trajectory.odMatrix(pts, "k", "t", "lon", "lat", zoom = 2)
      .orderBy("o_qk", "d_qk")
      .as[(String, String, Long)].collect().toSeq
    // expected OD cells via the SAME quadkey kernel over the hand-listed
    // endpoints (binning itself is pinned by TilesSpec and gate q241 —
    // this spec pins the endpoint choice and the counting)
    val qk = Seq((0.4, 0.3), (100.2, 50.7), (-100.3, -40.2), (10.6, 10.4))
      .toDF("lon", "lat")
      .select(graft.core.Tiles.quadkey(col("lon"), col("lat"), 2))
      .as[String].collect()
    assert(got == Seq((qk(0), qk(1), 2L), (qk(2), qk(3), 1L))
      .sortBy(r => (r._1, r._2)))
    // two points at one instant on a key refuse loudly
    val dup = pts.union(Seq((2L, 5L, 3.0, 3.0)).toDF("k", "t", "lon", "lat"))
    def chain2(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val eDup = intercept[Exception] {
      Trajectory.odMatrix(dup, "k", "t", "lon", "lat", 2).collect()
    }
    assert(chain2(eDup).exists(_.contains("one instant")))
    // NULL coordinate refuses
    val eNull = intercept[Exception] {
      Trajectory.odMatrix(
        pts.withColumn("lat", when(col("k") === 3, lit(null)).otherwise(col("lat"))),
        "k", "t", "lon", "lat", 2).collect()
    }
    assert(chain2(eNull).exists(_.contains("NULL")))
    // out-of-range latitude refuses
    val eRange = intercept[Exception] {
      Trajectory.odMatrix(
        pts.withColumn("lat", when(col("k") === 3, lit(95.0)).otherwise(col("lat"))),
        "k", "t", "lon", "lat", 2).collect()
    }
    assert(chain2(eRange).exists(_.contains("out of")))
    // non-integral key and bad zoom refuse at plan time
    intercept[IllegalArgumentException] {
      Trajectory.odMatrix(pts.withColumn("k", col("k").cast("string")),
        "k", "t", "lon", "lat", 2)
    }
    intercept[IllegalArgumentException] {
      Trajectory.odMatrix(pts, "k", "t", "lon", "lat", 31)
    }
  }

  test("compress: JTS Douglas-Peucker twin on random tracks; hand fixture; refusals") {
    import spark.implicits._
    // hand fixture: the q276/q280 depth-1 zig-zag — keep {0,2,4} when
    // the middle deviation beats the tolerance, {0,4} otherwise
    val hand = Seq(
      (1L, 0L, 0.0, 0.0), (1L, 1L, 10.0, 2.0), (1L, 2L, 20.0, 7.0),
      (1L, 3L, 30.0, 1.0), (1L, 4L, 40.0, 0.0),
      (2L, 0L, 0.0, 0.0), (2L, 1L, 10.0, 2.0), (2L, 2L, 20.0, 4.0),
      (2L, 3L, 30.0, 1.0), (2L, 4L, 40.0, 0.0)
    ).toDF("k", "t", "x", "y")
    val gotHand = Trajectory.compress(hand, "k", "t", "x", "y", 5.0)
      .orderBy("k", "t").as[(Long, Long, Double, Double)].collect().toSeq
    assert(gotHand == Seq((1L, 0L, 0.0, 0.0), (1L, 2L, 20.0, 7.0),
      (1L, 4L, 40.0, 0.0), (2L, 0L, 0.0, 0.0), (2L, 4L, 40.0, 0.0)))
    // random integer tracks vs the JTS simplifier on the same chain —
    // both use strict-> splits and first-maximum argmax, so kept vertex
    // SEQUENCES must match exactly (integer coords keep every distance
    // decision far from FP ambiguity at this tolerance)
    val rnd = new scala.util.Random(7)
    val tracks = (1L to 30L).map { k =>
      k -> (0 until 40).map(i =>
        (i.toLong, rnd.nextInt(100).toDouble, rnd.nextInt(100).toDouble))
    }
    val df = tracks.flatMap { case (k, ps) =>
      ps.map(p => (k, p._1, p._2, p._3)) }.toDF("k", "t", "x", "y")
    val got = Trajectory.compress(df, "k", "t", "x", "y", 7.3)
      .orderBy("k", "t").as[(Long, Long, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._3, r._4)).toSeq).toMap
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    tracks.foreach { case (k, ps) =>
      // the per-key order is (t, x, y) — t is unique here, so by t
      val coords = ps.sortBy(p => (p._1, p._2, p._3))
        .map(p => new org.locationtech.jts.geom.Coordinate(p._2, p._3))
      val simp = org.locationtech.jts.simplify.DouglasPeuckerSimplifier
        .simplify(gf.createLineString(coords.toArray), 7.3)
      val ref = simp.getCoordinates.map(c => (c.x, c.y)).toSeq
      assert(got(k) == ref, s"key $k: ${got(k).size} kept vs JTS ${ref.size}")
    }
    // refusals: NULL coordinate, non-integral key, cap, bad tolerance
    def chain3(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val eNull = intercept[Exception] {
      Trajectory.compress(hand.withColumn("y",
        when(col("t") === 3, lit(null)).otherwise(col("y"))),
        "k", "t", "x", "y", 5.0).collect()
    }
    assert(chain3(eNull).exists(_.contains("NULL")))
    intercept[IllegalArgumentException] {
      Trajectory.compress(hand.withColumn("k", col("k").cast("double")),
        "k", "t", "x", "y", 5.0)
    }
    intercept[IllegalArgumentException] {
      Trajectory.compress(hand, "k", "t", "x", "y", Double.NaN)
    }
    val eCap = intercept[Exception] {
      Trajectory.compress(hand, "k", "t", "x", "y", 5.0,
        maxPointsPerKey = 3).collect()
    }
    assert(chain3(eCap).exists(_.contains("maxPointsPerKey")))
  }

  test("compressGeo: keep/collapse at 5km, antimeridian = rotated twin, refusals") {
    import spark.implicits._
    def track(k: Long, lonBase: Double, latBase: Double, dc: Double) = Seq(
      (k, 0L, lonBase, latBase),
      (k, 1L, lonBase + 0.1, latBase + 0.003),
      (k, 2L, lonBase + 0.2, latBase + dc),
      (k, 3L, lonBase + 0.3, latBase + 0.002),
      (k, 4L, lonBase + 0.4, latBase))
    // key 1 deviates ~10 km (keep), key 2 ~2 km (collapse)
    val df = (track(1L, 5.0, 10.0, 0.09) ++ track(2L, 5.0, 10.0, 0.018))
      .toDF("k", "t", "lon", "lat")
    val got = Trajectory.compressGeo(df, "k", "t", "lon", "lat", 5000.0)
      .orderBy("k", "t").as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) ==
      Seq((1L, 0L), (1L, 2L), (1L, 4L), (2L, 0L), (2L, 4L)))
    // outputs are bit-exact input pass-throughs
    assert(got.head == (1L, 0L, 5.0, 10.0))
    // ANTIMERIDIAN: a track straddling lon ±180 keeps the same vertex
    // set as its rotation to lon 0 — chord space has no seam (a planar
    // degree treatment would see a 359.8-degree jump and keep
    // everything)
    val cross = Seq(
      (1L, 0L, 179.8, 10.0), (1L, 1L, 179.9, 10.003),
      (1L, 2L, -180.0 + 0.0, 10.09), (1L, 3L, -179.9, 10.002),
      (1L, 4L, -179.8, 10.0)).toDF("k", "t", "lon", "lat")
    val rotated = Seq(
      (1L, 0L, -0.2, 10.0), (1L, 1L, -0.1, 10.003),
      (1L, 2L, 0.0, 10.09), (1L, 3L, 0.1, 10.002),
      (1L, 4L, 0.2, 10.0)).toDF("k", "t", "lon", "lat")
    def keptT(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      Trajectory.compressGeo(d, "k", "t", "lon", "lat", 5000.0)
        .orderBy("t").select("t").as[Long].collect().toSeq
    assert(keptT(cross) == Seq(0L, 2L, 4L))
    assert(keptT(cross) == keptT(rotated))
    // refusals: out-of-range longitude, NaN tolerance
    def chain4(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val eRange = intercept[Exception] {
      Trajectory.compressGeo(df.withColumn("lon",
        when(col("t") === 1, lit(200.0)).otherwise(col("lon"))),
        "k", "t", "lon", "lat", 5000.0).collect()
    }
    assert(chain4(eRange).exists(_.contains("out of")))
    intercept[IllegalArgumentException] {
      Trajectory.compressGeo(df, "k", "t", "lon", "lat", Double.NaN)
    }
  }

  test("speedFilter: spike drop, successor survives via last-kept, dup-ts refusal, geo twin") {
    import spark.implicits._
    // planar: steps of 10 units per 10 s (1 u/s), limit 3 u/s; spike at
    // t=20 jumps 100 units (10 u/s -> dropped); its successor at t=30
    // is 10 units from the last KEPT point (t=10) over 20 s = 0.5 u/s
    // -> survives. A previous-raw-point filter would wrongly drop it
    // (90 units in 10 s).
    val pts = Seq(
      (1L, 0L, 0.0, 0.0), (1L, 10L, 10.0, 0.0), (1L, 20L, 110.0, 0.0),
      (1L, 30L, 20.0, 0.0), (1L, 40L, 30.0, 0.0)
    ).toDF("k", "t", "x", "y")
    val got = Trajectory.speedFilter(pts, "k", "t", "x", "y", 3.0)
      .orderBy("t").as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.map(_._2) == Seq(0L, 10L, 30L, 40L))
    assert(got.map(_._3) == Seq(0.0, 10.0, 20.0, 30.0))
    // consecutive spikes: each measured from the same last-kept point
    val two = Seq(
      (1L, 0L, 0.0, 0.0), (1L, 10L, 100.0, 0.0), (1L, 20L, 100.0, 5.0),
      (1L, 30L, 10.0, 0.0)).toDF("k", "t", "x", "y")
    assert(Trajectory.speedFilter(two, "k", "t", "x", "y", 3.0)
      .orderBy("t").as[(Long, Long, Double, Double)].collect()
      .map(_._2).toSeq == Seq(0L, 30L))
    // geo twin on a small equatorial patch: same keep set as planar
    // with degrees ~ metres/111320
    val geo = pts.select(col("k"), col("t"),
      (col("x") / 111320.0).as("lon"), (col("y") / 111320.0).as("lat"))
    assert(Trajectory.speedFilterGeo(geo, "k", "t", "lon", "lat", 3.0)
      .orderBy("t").select("t").as[Long].collect().toSeq ==
      Seq(0L, 10L, 30L, 40L))
    // duplicate timestamp refuses loudly
    def chain5(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val eDup = intercept[Exception] {
      Trajectory.speedFilter(
        pts.union(Seq((1L, 10L, 11.0, 0.0)).toDF("k", "t", "x", "y")),
        "k", "t", "x", "y", 3.0).collect()
    }
    assert(chain5(eDup).exists(_.contains("dt = 0")))
    // out-of-range latitude refuses (geo only)
    val eRange2 = intercept[Exception] {
      Trajectory.speedFilterGeo(
        geo.withColumn("lat", when(col("t") === 20, lit(95.0))
          .otherwise(col("lat"))),
        "k", "t", "lon", "lat", 3.0).collect()
    }
    assert(chain5(eRange2).exists(_.contains("out of")))
    intercept[IllegalArgumentException] {
      Trajectory.speedFilter(pts, "k", "t", "x", "y", 0.0)
    }
  }

  /** Every message of an exception's cause chain. */
  private def chainOf(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  test("the track contract: every operator refuses NULL key/ts by name; lat 91 where range-checked") {
    import spark.implicits._
    type Df = org.apache.spark.sql.DataFrame
    def mm(geo: Boolean)(df: Df): Df = {
      val c = df.withColumn("c", lit(1L)).withColumn("d", lit(1.0))
      if (geo) Trajectory.mapMatchGeo(c, "k", "t", "c", "d", "lon", "lat", "lon", "lat", 1.0, 1.0)
      else Trajectory.mapMatch(c, "k", "t", "c", "d", "lon", "lat", "lon", "lat", 1.0, 1.0)
    }
    // (operator, whether it refuses lat 91, the run over a (k, t, lon, lat) frame)
    val ops: Seq[(String, Boolean, Df => Df)] = Seq(
      ("stayPoints", false, Trajectory.stayPoints(_, "k", "t", "lon", "lat", 1.0, 10L)),
      ("geoStayPoints", true, Trajectory.geoStayPoints(_, "k", "t", "lat", "lon", 100.0, 10L)),
      ("segments", false, Trajectory.segments(_, "k", "t", "lon", "lat", 10L)),
      ("kinematics", true, Trajectory.kinematics(_, "k", "t", "lon", "lat")),
      ("resample", true, Trajectory.resample(_, "k", "t", "lon", "lat", 1L)),
      ("compress", false, Trajectory.compress(_, "k", "t", "lon", "lat", 1.0)),
      ("compressGeo", true, Trajectory.compressGeo(_, "k", "t", "lon", "lat", 1.0)),
      ("speedFilter", false, Trajectory.speedFilter(_, "k", "t", "lon", "lat", 1.0)),
      ("speedFilterGeo", true, Trajectory.speedFilterGeo(_, "k", "t", "lon", "lat", 1.0)),
      ("odMatrix", true, Trajectory.odMatrix(_, "k", "t", "lon", "lat", 4)),
      ("kinematicsStream", true, Trajectory.kinematicsStream(_, "k", "t", "lon", "lat")),
      ("streamingStayPoints", false,
        Trajectory.streamingStayPoints(_, "k", "t", "lon", "lat", 1.0, 10L)),
      ("geoStreamingStayPoints", true,
        Trajectory.geoStreamingStayPoints(_, "k", "t", "lat", "lon", 100.0, 10L)),
      ("mapMatch", false, mm(geo = false)),
      ("mapMatchGeo", true, mm(geo = true)))
    def pts(rows: (Option[Long], Option[Long], Double)*): Df =
      rows.map { case (k, t, lat) => (k, t, 10.0, lat) }.toDF("k", "t", "lon", "lat")
    val nullKey = pts((Some(1L), Some(0L), 50.0), (None, Some(1L), 50.0))
    val nullTs = pts((Some(1L), Some(0L), 50.0), (Some(1L), None, 50.0))
    val lat91 = pts((Some(1L), Some(0L), 50.0), (Some(1L), Some(1L), 91.0))
    def refusal(run: Df => Df, df: Df): Seq[String] =
      chainOf(intercept[Exception](run(df).collect()))
    ops.foreach { case (op, rangeChecked, run) =>
      assert(refusal(run, nullKey).exists(_.contains(s"$op: NULL key — ")), op)
      assert(refusal(run, nullTs).exists(_.contains(s"$op: NULL timestamp — ")), op)
      if (rangeChecked)
        assert(refusal(run, lat91).exists(m =>
          m.contains(s"$op: ") && m.contains("out of [-90.0, 90.0], got 91.0")), op)
      else if (op.startsWith("geo")) run(lat91).collect()
    }
  }

  test("streaming operators refuse non-integral keys and timestamps like their batch twins") {
    import spark.implicits._
    // keys 1.2 and 1.7 would both cast to device 1, ts 10.5 to 10
    val fracKey = Seq((1.2, 0L, 10.0, 50.0), (1.7, 5L, 10.0, 50.0)).toDF("k", "t", "lon", "lat")
    val fracTs = Seq((1L, 0.0, 10.0, 50.0), (1L, 10.5, 10.0, 50.0)).toDF("k", "t", "lon", "lat")
    val runs: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "kinematicsStream" -> (Trajectory.kinematicsStream(_, "k", "t", "lon", "lat")),
      "streamingStayPoints" ->
        (Trajectory.streamingStayPoints(_, "k", "t", "lon", "lat", 1.0, 10L)),
      "geoStreamingStayPoints" ->
        (Trajectory.geoStreamingStayPoints(_, "k", "t", "lat", "lon", 100.0, 10L)))
    runs.foreach { case (op, run) =>
      val ek = intercept[IllegalArgumentException](run(fracKey).collect())
      assert(ek.getMessage.contains(s"$op: key column 'k' must be integral"), ek.getMessage)
      val et = intercept[IllegalArgumentException](run(fracTs).collect())
      assert(et.getMessage.contains(s"$op: timestamp column 't' must be integral"), et.getMessage)
    }
  }
}
