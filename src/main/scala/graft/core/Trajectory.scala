package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, ShortType}

/**
 * The TRAJECTORY family: per-key point tracks `(key, ts, x|lon, y|lat)`
 * — dwell detection, segmentation, kinematics, resampling, compression,
 * spike filtering, OD flows and map-matching, batch and streaming.
 *
 * One input contract, `track`: every operator names its columns
 * through it, which refuses a missing column and a non-integral key or
 * timestamp at plan time and builds the slim `(k, t, …)` frame whose
 * rows REFUSE loudly on NULL key/ts/coordinates (a silently dropped
 * point would change the answer — each operator says how, in
 * `"<op>: NULL <what> — <why>"`) and, for the geodesic operators that
 * range-check, on NaN or out-of-range lon/lat.
 *
 * One per-key scan, `perKey`: the operators that are inherently
 * SEQUENTIAL per key (stay points, Douglas–Peucker, the speed filter,
 * the Viterbi map-matcher — data-dependent jumps no window function
 * expresses) repartition the slim frame on the key, sort within
 * partitions and walk each key's whole track in one task — the repo's
 * sanctioned `mapPartitions` case. One shuffle of slim rows; each
 * key's track buffers in executor memory while it is scanned, under a
 * loud `maxPointsPerKey` cap (default 5M points ≈ 160 MB) instead of
 * an executor OOM — a hotter key belongs pre-split by (key, day)
 * upstream. Keys hash-partition, so skew is one hot key per task at
 * worst. Scan orders break duplicate timestamps on the coordinates, so
 * results never depend on shuffle arrival order.
 *
 * The window-expressible operators (segments, kinematics, resample,
 * odMatrix) and the two `flatMapGroupsWithState` streaming machines
 * share the contract but not the scan.
 */
object Trajectory {

  /**
   * Planar STAY POINTS (Zheng et al. 2009, "Mining interesting
   * locations and travel sequences from GPS trajectories", WWW — the
   * public dwell-detection algorithm): walk each key's points in
   * `(ts, x, y)` order; from an anchor `i`, advance `j` while `p_j`
   * stays within `radius` of the ANCHOR (not pairwise); when the first
   * point escapes (or the trajectory ends), the run `[i, j)` is a stay
   * point iff it lasted at least `minDurationSec` — emit its centroid
   * (arithmetic mean) and time span, and restart from `j`; otherwise
   * slide the anchor by one. The anchor test compares SQUARED distance
   * (pure `-`/`*` arithmetic — bit-portable like
   * [[DistanceJoin.radiusJoin]]). `radius` in coordinate units,
   * `minDurationSec` in `tsCol` units.
   *
   * Output: `(<keyCol> long, sp_idx int, start_ts long, end_ts long,
   * n_points int, cx double, cy double)` — `sp_idx` is the 1-based stay
   * index within the key, centroids are arithmetic means in input
   * units.
   */
  def stayPoints(points: DataFrame, keyCol: String, tsCol: String,
                 xCol: String, yCol: String,
                 radius: Double, minDurationSec: Long,
                 maxPointsPerKey: Int = 5000000): DataFrame = {
    val r2 = radius * radius
    run(points, keyCol, tsCol, planar(xCol, yCol), minDurationSec, maxPointsPerKey,
      "stayPoints", radius,
      (ax, ay, x, y) => { val dx = x - ax; val dy = y - ay; dx * dx + dy * dy <= r2 })
  }

  /** Geodesic stay points — lat/lon degrees, great-circle `radiusMeters`
    * anchor test (x=lat, y=lon in the output's cx/cy); inherits the
    * haversine ulp classes at the radius boundary (documented on
    * [[DistanceJoin.geoRadiusJoin]]). Latitude and longitude are
    * range-checked like every geodesic trajectory operator's. */
  def geoStayPoints(points: DataFrame, keyCol: String, tsCol: String,
                    latCol: String, lonCol: String,
                    radiusMeters: Double, minDurationSec: Long,
                    earthRadiusMeters: Double = DistanceJoin.EarthRadiusMeters,
                    maxPointsPerKey: Int = 5000000): DataFrame =
    run(points, keyCol, tsCol, latLonAsXY(latCol, lonCol), minDurationSec,
      maxPointsPerKey, "geoStayPoints", radiusMeters,
      (aLat, aLon, lat, lon) =>
        GeoOps.haversineMeters(aLat, aLon, lat, lon, earthRadiusMeters) <= radiusMeters)

  private def run(points: DataFrame, keyCol: String, tsCol: String,
                  coords: Seq[Coord], minDurationSec: Long, maxPointsPerKey: Int,
                  op: String, radius: Double,
                  within: (Double, Double, Double, Double) => Boolean): DataFrame = {
    require(radius > 0 && !radius.isInfinite,
      s"$op: radius must be finite > 0, got $radius")
    require(minDurationSec >= 0, s"$op: minDurationSec must be >= 0")
    require(maxPointsPerKey >= 2, s"$op: maxPointsPerKey must be >= 2")
    val spark = points.sparkSession
    import spark.implicits._
    val slim = track(points, op, "a dropped point would silently split a dwell",
      keyCol, tsCol, coords).as[(Long, Long, Double, Double)]
    perKey(slim, "t", "x", "y") { (key, rows) =>
      val (ts, xs, ys) = columns(op, key, rows, maxPointsPerKey)
      scanKey(key, ts, xs, ys, minDurationSec, within)
    }.toDF("k", "sp_idx", "start_ts", "end_ts", "n_points", "cx", "cy")
      .withColumnRenamed("k", keyCol)
  }

  /** A double column of a track: input column, slim name, the noun its
    * refusals use, and the `[lo, hi]` it is range-checked against (NaN
    * included); `None` refuses NULL only. */
  private final case class Coord(in: String, as: String, what: String,
                                 range: Option[(Double, Double)] = None)
  private val Lon = Some((-180.0, 180.0))
  private val Lat = Some((-90.0, 90.0))
  private def planar(x: String, y: String) =
    Seq(Coord(x, "x", "x coordinate"), Coord(y, "y", "y coordinate"))
  private def lonLat(lon: String, lat: String) =
    Seq(Coord(lon, "lon", "longitude", Lon), Coord(lat, "lat", "latitude", Lat))
  /** Ranged (lat, lon) under the planar slim names, which the stay-point
    * kernels read. */
  private def latLonAsXY(lat: String, lon: String) =
    Seq(Coord(lat, "x", "latitude", Lat), Coord(lon, "y", "longitude", Lon))

  /**
   * The family's one input contract. At plan time: every column must
   * exist, and the key, the timestamp and each `ids` column
   * `(column, slim name, noun)` must be integral (the scans order and
   * subtract them exactly). The result is the slim frame
   * `(k, t, <ids>, <coords>)` — integral columns as long, coordinates
   * as double — whose rows refuse a NULL as `"<op>: NULL <what> —
   * <why>"` (`NULL/NaN`, NaN included, on the coordinates when `nan`)
   * and a ranged coordinate outside its range or NaN as `"<op>: <what>
   * out of [lo, hi], got v"`.
   */
  private def track(points: DataFrame, op: String, why: String,
                    keyCol: String, tsCol: String, coords: Seq[Coord],
                    ids: Seq[(String, String, String)] = Nil,
                    nan: Boolean = false): DataFrame = {
    val ints = Seq((keyCol, "k", "key"), (tsCol, "t", "timestamp")) ++ ids
    (ints.map(_._1) ++ coords.map(_.in)).foreach { c =>
      require(points.columns.contains(c),
        s"$op: column '$c' missing from ${points.columns.mkString("[", ",", "]")}")
    }
    ints.foreach { case (c, _, what) =>
      val t = points.schema(c).dataType
      require(t == LongType || t == IntegerType || t == ShortType,
        s"$op: $what column '$c' must be integral (got $t)")
    }
    def refuse(c: String, bad: Column, what: String, to: DataType) =
      when(bad, raise_error(lit(s"$op: $what — $why")).cast(to))
        .otherwise(col(c).cast(to))
    def ranged(c: Column, what: String, range: (Double, Double)) = {
      val (lo, hi) = range
      when(c < lo || c > hi || isnan(c),
        raise_error(concat(lit(s"$op: $what out of [$lo, $hi], got "),
          c.cast("string"))).cast(DoubleType)).otherwise(c)
    }
    points.select(ints.map { case (c, as, what) =>
        refuse(c, col(c).isNull, s"NULL $what", LongType).as(as)
      } ++ coords.map { case Coord(c, as, what, range) =>
        val v =
          if (nan) refuse(c, col(c).isNull || isnan(col(c).cast(DoubleType)),
            s"NULL/NaN $what", DoubleType)
          else refuse(c, col(c).isNull, s"NULL $what", DoubleType)
        range.fold(v)(ranged(v, what, _)).as(as)
      }: _*)
  }

  /**
   * The family's one per-key scan: repartition `slim` on `k` (one
   * shuffle), sort each partition by `k` then `order`, and hand `scan`
   * each key with its rows in that order; `scan` consumes the rows and
   * returns the key's output.
   */
  private def perKey[I <: Product, O: Encoder](slim: Dataset[I], order: String*)(
      scan: (Long, Iterator[I]) => Iterable[O]): Dataset[O] =
    slim.repartition(col("k"))
      .sortWithinPartitions(("k" +: order).map(col): _*)
      .mapPartitions((it: Iterator[I]) => {
        val in = it.buffered
        def keyOf(r: I) = r.productElement(0).asInstanceOf[Long]
        Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
          val key = keyOf(in.head)
          scan(key, new Iterator[I] {
            def hasNext: Boolean = in.hasNext && keyOf(in.head) == key
            def next(): I = in.next()
          })
        }
      })

  /** One key's `(t, x, y)` rows as columns, under the loud per-key cap. */
  private def columns(op: String, key: Long, rows: Iterator[(Long, Long, Double, Double)],
                      cap: Int): (ArrayBuffer[Long], ArrayBuffer[Double], ArrayBuffer[Double]) = {
    val ts = new ArrayBuffer[Long]
    val xs = new ArrayBuffer[Double]
    val ys = new ArrayBuffer[Double]
    rows.foreach { case (_, t, x, y) =>
      ts += t; xs += x; ys += y
      capped(op, key, ts.length, cap)
    }
    (ts, xs, ys)
  }

  private def capped(op: String, key: Long, n: Int, cap: Int): Unit =
    require(n <= cap, s"$op: key $key exceeds maxPointsPerKey ($cap) — " +
      "pre-split the trajectory (e.g. by day) or raise the cap")

  /**
   * Trip/leg SEGMENTATION: split each key's trajectory into legs at
   * time gaps larger than `maxGap`, and aggregate each leg's point
   * count, time span and planar path length. UNLIKE [[stayPoints]]
   * this is NOT sequential-with-jumps — a window lag + running sum
   * expresses it exactly — so it composes entirely from native
   * Catalyst operators (one shuffle for the window partition, reused
   * by the per-leg aggregate; no custom plan, no mapPartitions).
   *
   * Path length is emitted as MICRO-UNITS in a BIGINT
   * (`path_len_um` = Σ round(step·10⁶) per step): per-step doubles
   * are identical cross-engine (same sqrt expression tree), and the
   * integer sum is order-free — a double sum's order-dependent last
   * ulp (and a decimal's encoding surface) would both be hash
   * hazards. A leg's first point contributes no step; each step
   * belongs to the LATER point's leg.
   *
   * Output: `(<keyCol> long, leg int, n_points long, start_ts long,
   * end_ts long, path_len_um long)`; `leg` is 1-based per key, in
   * time order. Same integral key/ts and NULL-refusal contract as
   * [[stayPoints]]; duplicate timestamps order by `(ts, x, y)`.
   */
  def segments(points: DataFrame, keyCol: String, tsCol: String,
               xCol: String, yCol: String, maxGap: Long): DataFrame = {
    require(maxGap > 0, s"segments: maxGap must be > 0, got $maxGap")
    val slim = track(points, "segments",
      "a dropped point would silently merge or split a leg", keyCol, tsCol,
      planar(xCol, yCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("t"), col("x"), col("y"))
    val stepX = col("x") - lag(col("x"), 1).over(w)
    val stepY = col("y") - lag(col("y"), 1).over(w)
    val brk = when(lag(col("t"), 1).over(w).isNull ||
      col("t") - lag(col("t"), 1).over(w) > maxGap, 1).otherwise(0)
    slim
      .withColumn("_brk", brk)
      .withColumn("_leg", sum(col("_brk"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)).cast("int"))
      .withColumn("_step_um",
        when(col("_brk") === 1, lit(0L))
          .otherwise(round(sqrt(stepX * stepX + stepY * stepY) * 1e6)
            .cast("long")))
      .groupBy(col("k"), col("_leg").as("leg"))
      .agg(count(lit(1)).as("n_points"),
        min(col("t")).as("start_ts"), max(col("t")).as("end_ts"),
        sum(col("_step_um")).as("path_len_um"))
      .withColumnRenamed("k", keyCol)
  }

  /**
   * Per-point KINEMATICS enrichment: for every point, its time gap,
   * great-circle step, speed and heading relative to the PREVIOUS
   * point of the same key in `(ts, lon, lat)` order. Like
   * [[segments]], this is window-expressible — one `lag` window (one
   * shuffle on the key) plus closed-form column trees; no custom plan,
   * no mapPartitions, and the work is embarrassingly parallel at any
   * corpus size.
   *
   * The distance tree is [[DistanceJoin.geoRadiusJoin]]'s haversine
   * verify verbatim and the heading tree is
   * [[GeoOps.azimuthSpherical]]'s navigation atan2 verbatim — built as
   * Column expressions directly (NOT via the WKB scalar functions:
   * four point serializations per row just to unwrap them again is
   * the kind of per-row overhead a 100-TB enrichment pass cannot
   * carry), so external engines replay both bit-for-bit.
   *
   * NULL semantics (all documented, all replayable): a key's FIRST
   * point has NULL `dt_s`/`step_m`/`speed_mps`/`heading_rad`;
   * COINCIDENT consecutive points have NULL `heading_rad` (no bearing
   * — the scalar function refuses, the enrichment pass must not);
   * `dt_s = 0` (duplicate timestamps, ordered by the `(ts, lon, lat)`
   * tiebreak) leaves `speed_mps` NULL rather than infinite. NULL
   * key/ts/coordinates and out-of-range coordinates REFUSE loudly —
   * a silently dropped point would corrupt its successor's step.
   *
   * Output: the four input columns (cast long/long/double/double) +
   * `(dt_s long, step_m double, speed_mps double, heading_rad
   * double)`.
   */
  def kinematics(points: DataFrame, keyCol: String, tsCol: String,
                 lonCol: String, latCol: String,
                 earthRadiusMeters: Double = DistanceJoin.EarthRadiusMeters)
      : DataFrame = {
    val slim = track(points, "kinematics",
      "a dropped point would corrupt its successor's step", keyCol, tsCol,
      lonLat(lonCol, latCol))
    Seq("dt_s", "step_m", "speed_mps", "heading_rad").foreach { c =>
      require(!Seq(keyCol, tsCol, lonCol, latCol).contains(c),
        s"kinematics: input column '$c' collides with an output column — rename it")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("t"), col("lon"), col("lat"))
    val pT = lag(col("t"), 1).over(w)
    val pLon = lag(col("lon"), 1).over(w)
    val pLat = lag(col("lat"), 1).over(w)
    // geoRadiusJoin's verify tree: prev -> curr haversine
    val dphi = radians(pLat) - radians(col("lat"))
    val dlam = radians(pLon) - radians(col("lon"))
    val hav = pow(sin(dphi / 2), 2) +
      cos(radians(pLat)) * cos(radians(col("lat"))) * pow(sin(dlam / 2), 2)
    val step = lit(2.0 * earthRadiusMeters) * asin(least(lit(1.0), sqrt(hav)))
    // azimuthSpherical's navigation tree: initial bearing prev -> curr
    val dl = radians(col("lon")) - radians(pLon)
    val t0 = atan2(sin(dl) * cos(radians(col("lat"))),
      cos(radians(pLat)) * sin(radians(col("lat"))) -
        sin(radians(pLat)) * cos(radians(col("lat"))) * cos(dl))
    val heading = when(pLon === col("lon") && pLat === col("lat"),
        lit(null).cast("double"))
      .otherwise(when(t0 < 0, t0 + lit(2 * math.Pi)).otherwise(t0))
    val dt = col("t") - pT
    slim
      .withColumn("dt_s", dt)
      .withColumn("step_m", when(pT.isNull, lit(null).cast("double")).otherwise(step))
      .withColumn("speed_mps",
        when(dt.isNull || dt === 0, lit(null).cast("double"))
          .otherwise(step / dt.cast("double")))
      .withColumn("heading_rad", heading)
      .withColumnRenamed("k", keyCol).withColumnRenamed("t", tsCol)
      .withColumnRenamed("lon", lonCol).withColumnRenamed("lat", latCol)
  }

  /**
   * TRACK RESAMPLING: interpolate each key's trajectory onto the
   * absolute time grid `t ≡ 0 (mod stepSec)` — every grid instant
   * covered by a consecutive point pair emits one position, SLERP'd
   * along the great circle between the endpoints:
   *
   *   p(f) = (sin((1−f)·ω)·p₀ + sin(f·ω)·p₁) / sin(ω)
   *
   * on unit vectors, with ω the central angle from the haversine tree
   * the whole geodesic family shares and `f = (t* − t₀)/(t₁ − t₀)`.
   * The absolute grid (not per-key offsets) makes resampled tracks
   * JOINABLE on the timestamp across keys — the point of resampling.
   *
   * Like [[segments]], this is window + explode — one shuffle on the
   * key, then `sequence()` generates each pair's covered grid ticks
   * and closed-form column trees do the rest; no custom plan, no
   * mapPartitions, embarrassingly parallel after the lag.
   *
   * Conventions pinned: a grid tick ON an input point's timestamp
   * emits (f = 0 or 1 — the slerp degenerates to the endpoint); each
   * pair covers `[t₀, t₁)` and the key's LAST point closes `[t₀, t₁]`,
   * so interior points emit once; single-point keys emit nothing (no
   * segment to interpolate on); COINCIDENT endpoints hold position
   * (ω = 0 — the slerp is 0/0, the answer is the point). DUPLICATE
   * timestamps REFUSE loudly — two positions at one instant make
   * interpolation ill-defined (dedup upstream, explicitly); ANTIPODAL
   * consecutive points refuse too (ω ≈ π — infinitely many great
   * circles, and sin(ω)→0 would amplify the weights into garbage that
   * coordinate clamping would silently legitimize); NULL /
   * out-of-range coordinates refuse like the rest of the family.
   *
   * Output: `(<keyCol> long, t long, lon double, lat double)` — the
   * resampled track.
   */
  def resample(points: DataFrame, keyCol: String, tsCol: String,
               lonCol: String, latCol: String, stepSec: Long): DataFrame = {
    require(stepSec > 0, s"resample: stepSec must be > 0, got $stepSec")
    val slim = track(points, "resample",
      "a dropped point would silently bend the interpolated track", keyCol, tsCol,
      lonLat(lonCol, latCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("t"))
    val prevT = lag(col("t"), 1).over(w)
    val paired = slim
      .withColumn("t0", when(prevT === col("t"),
        raise_error(concat(lit("resample: duplicate timestamp "),
          col("t").cast("string"),
          lit(" — two positions at one instant make interpolation " +
            "ill-defined; dedup upstream"))).cast("long"))
        .otherwise(prevT))
      .withColumn("lon0", lag(col("lon"), 1).over(w))
      .withColumn("lat0", lag(col("lat"), 1).over(w))
      .withColumn("_last", lead(col("t"), 1).over(w).isNull)
      .filter(col("t0").isNotNull)
    // grid ticks covered by [t0, t) — the closing point's pair covers
    // [t0, t]; ceil/floor on integral ts via EXACT long arithmetic:
    // a - pmod(a, s) is a multiple of s, so integral `div` recovers the
    // floor quotient with no double rounding (double division rounds
    // the quotient for |ts| > 2^53 — e.g. nanosecond-epoch longs — and
    // a tick can land one grid step off; r15 ADVICE). ceil(a/s) =
    // -floor(-a/s); the negation and the pmod subtraction stay in range
    // for any |ts| ≤ Long.MaxValue - stepSec, far beyond any epoch unit.
    def floorDiv(a: Column) =
      call_function("div", a - pmod(a, lit(stepSec)), lit(stepSec))
    val kLo = -floorDiv(-col("t0"))
    val kHiOpen = floorDiv(col("t") - 1)
    val kHiClosed = floorDiv(col("t"))
    val kHi = when(col("_last"), kHiClosed).otherwise(kHiOpen)
    val ticks = paired
      .withColumn("_kk", explode(when(kLo <= kHi,
        sequence(kLo, kHi)).otherwise(array().cast("array<long>"))))
      .withColumn("tt", col("_kk") * stepSec)
    // slerp on unit vectors; omega via the shared haversine tree
    def rad(c: Column) = radians(c)
    def ux(lon: Column, lat: Column) = cos(rad(lat)) * cos(rad(lon))
    def uy(lon: Column, lat: Column) = cos(rad(lat)) * sin(rad(lon))
    def uz(lat: Column) = sin(rad(lat))
    val dphi = rad(col("lat0")) - rad(col("lat"))
    val dlam = rad(col("lon0")) - rad(col("lon"))
    val hav = pow(sin(dphi / 2), 2) +
      cos(rad(col("lat0"))) * cos(rad(col("lat"))) * pow(sin(dlam / 2), 2)
    // ANTIPODAL refusal (r15 ADVICE): ω within ε of π means the
    // endpoints are (numerically) antipodal — infinitely many great
    // circles connect them, and sin(ω) ≈ 1e-16 blows the a/b weights
    // into garbage coordinates that lat-clamping would then silently
    // legitimize. Refuse loudly like the duplicate-timestamp case.
    val omegaRaw = lit(2.0) * asin(least(lit(1.0), sqrt(hav)))
    val omega = when(omegaRaw > math.Pi - 1e-9,
      raise_error(lit("resample: consecutive points are antipodal — " +
        "the great circle between them is not unique, interpolation " +
        "is ill-defined; split the track upstream")).cast("double"))
      .otherwise(omegaRaw)
    val f = (col("tt") - col("t0")).cast("double") /
      (col("t") - col("t0")).cast("double")
    val a = sin((lit(1.0) - f) * omega) / sin(omega)
    val b = sin(f * omega) / sin(omega)
    def mix(c0: Column, c1: Column) = a * c0 + b * c1
    val sx = mix(ux(col("lon0"), col("lat0")), ux(col("lon"), col("lat")))
    val sy = mix(uy(col("lon0"), col("lat0")), uy(col("lon"), col("lat")))
    val sz = mix(uz(col("lat0")), uz(col("lat")))
    // coincident endpoints: omega = 0, the slerp is 0/0 — hold position
    val still = col("lon0") === col("lon") && col("lat0") === col("lat")
    ticks.select(col("k").as(keyCol), col("tt").as("t"),
      when(still, col("lon0"))
        .otherwise(degrees(atan2(sy, sx))).as("lon"),
      when(still, col("lat0"))
        .otherwise(degrees(asin(greatest(lit(-1.0), least(lit(1.0), sz)))))
        .as("lat"))
  }

  /**
   * Douglas–Peucker TRACK COMPRESSION: per key, points order by
   * `(ts, x, y)` (the family tiebreak) and the classic DP recursion
   * keeps the first point, the last point, and every vertex whose
   * planar SEGMENT distance from the current chord exceeds
   * `tolerance` — the standard lossy compressor a 100-TB GPS corpus
   * runs before storage (Douglas & Peucker 1973, public). Distances
   * use the same three-case squared form as
   * [[DistanceJoin.segmentRadiusJoin]] (behind-A / beyond-B /
   * cross²/len²) compared against `tolerance²` — pure `-`/`*`/`/`
   * arithmetic, bit-portable; the split comparison is STRICT
   * (`> tol²`) and the argmax keeps the FIRST maximum, matching the
   * JTS simplifier's conventions so `st_simplify` on the same chain
   * keeps the same vertices. The recursion runs on an explicit stack
   * (a pathological track would otherwise overflow the call stack at
   * executor depth limits).
   *
   * Like [[stayPoints]] this is inherently sequential per key — the
   * family's one per-key scan (`perKey`), one shuffle carrying slim
   * `(k, t, x, y)` rows, with the same
   * loud `maxPointsPerKey` cap (a key's full track buffers while it is
   * scanned) and NULL refusals (a silently dropped point would bend
   * the kept chain). Output: the KEPT points `(<keyCol> long, t long,
   * x double, y double)`, original coordinates untouched.
   */
  def compress(points: DataFrame, keyCol: String, tsCol: String,
               xCol: String, yCol: String, tolerance: Double,
               maxPointsPerKey: Int = 5000000): DataFrame = {
    require(tolerance >= 0 && !tolerance.isInfinite && !tolerance.isNaN,
      s"compress: tolerance must be finite >= 0, got $tolerance")
    require(maxPointsPerKey >= 2, "compress: maxPointsPerKey must be >= 2")
    val spark = points.sparkSession
    import spark.implicits._
    val slim = track(points, "compress", "a dropped point would silently bend the kept chain",
      keyCol, tsCol, planar(xCol, yCol)).as[(Long, Long, Double, Double)]
    val tol2 = tolerance * tolerance
    perKey(slim, "t", "x", "y") { (key, rows) =>
      val (ts, xs, ys) = columns("compress", key, rows, maxPointsPerKey)
      dpKey(key, ts, xs, ys, tol2)
    }.toDF("k", "t", "x", "y").withColumnRenamed("k", keyCol)
  }

  /**
   * GPS SPEED FILTER: per key, walk points in `(ts, x, y)` order and
   * keep a point iff the speed it implies FROM THE LAST KEPT POINT is
   * `<= maxSpeed` (first point always kept) — the standard greedy
   * teleport-spike cleaner run before dwell/kinematics analysis (one
   * bad fix otherwise manufactures two enormous legs that masquerade
   * as movement). Measuring from the last KEPT point, not the previous
   * raw point, is what makes a spike's SUCCESSOR survive: its speed is
   * assessed over the spike-free span. Planar variant (`speedFilter`,
   * coordinate units/sec); geodesic variant ([[speedFilterGeo]],
   * haversine metres/sec, range-refused coordinates). Duplicate
   * timestamps on one key REFUSE loudly (dt = 0 makes speed
   * undefined — silently dropping or keeping either point would be a
   * coin flip); NULLs refuse; same per-key scan (`perKey`) and loud
   * per-key cap as the rest of the family. Output: the KEPT rows
   * `(<keyCol> long, t long, x double, y double)` (`lon`/`lat` from the
   * geodesic variant), values untouched.
   */
  def speedFilter(points: DataFrame, keyCol: String, tsCol: String,
                  xCol: String, yCol: String, maxSpeed: Double,
                  maxPointsPerKey: Int = 5000000): DataFrame =
    speedFilterImpl(points, keyCol, tsCol, xCol, yCol, maxSpeed,
      maxPointsPerKey, "speedFilter", geo = false)

  /** [[speedFilter]] over lon/lat with haversine metres/sec. */
  def speedFilterGeo(points: DataFrame, keyCol: String, tsCol: String,
                     lonCol: String, latCol: String, maxSpeedMps: Double,
                     maxPointsPerKey: Int = 5000000): DataFrame =
    speedFilterImpl(points, keyCol, tsCol, lonCol, latCol, maxSpeedMps,
      maxPointsPerKey, "speedFilterGeo", geo = true)

  private def speedFilterImpl(points: DataFrame, keyCol: String,
      tsCol: String, xCol: String, yCol: String, maxSpeed: Double,
      maxPointsPerKey: Int, op: String, geo: Boolean): DataFrame = {
    require(maxSpeed > 0 && !maxSpeed.isInfinite && !maxSpeed.isNaN,
      s"$op: maxSpeed must be finite > 0, got $maxSpeed")
    require(maxPointsPerKey >= 2, s"$op: maxPointsPerKey must be >= 2")
    val spark = points.sparkSession
    import spark.implicits._
    val slim = track(points, op, "a silently dropped point would change which spikes get caught",
      keyCol, tsCol, if (geo) lonLat(xCol, yCol) else planar(xCol, yCol))
      .as[(Long, Long, Double, Double)]
    val bigR = DistanceJoin.EarthRadiusMeters
    val dist: (Double, Double, Double, Double) => Double =
      if (geo) (x0, y0, x1, y1) => GeoOps.haversineMeters(y0, x0, y1, x1, bigR)
      else euclid
    // scan order (t, x, y) or (t, lon, lat): every slim column after the key
    perKey(slim, slim.columns.tail.toIndexedSeq: _*) { (key, rows) =>
      val kept = new ArrayBuffer[(Long, Long, Double, Double)]
      var n = 0
      var lastT = Long.MinValue
      var lastKT = 0L
      var lastKX = 0.0
      var lastKY = 0.0
      rows.foreach { row =>
        n += 1
        capped(op, key, n, maxPointsPerKey)
        require(row._2 != lastT,
          s"$op: key $key has two points at timestamp ${row._2} — " +
          "dt = 0 makes speed undefined; dedup upstream")
        lastT = row._2
        if (kept.isEmpty ||
            dist(lastKX, lastKY, row._3, row._4) <= maxSpeed * (row._2 - lastKT).toDouble) {
          kept += row
          lastKT = row._2; lastKX = row._3; lastKY = row._4
        }
      }
      kept
    }.toDF("k", "t", if (geo) "lon" else "x", if (geo) "lat" else "y")
      .withColumnRenamed("k", keyCol)
  }

  /** The planar step metric of the speed filter and the map-matcher. */
  private val euclid: (Double, Double, Double, Double) => Double =
    (x0, y0, x1, y1) => {
      val dx = x1 - x0; val dy = y1 - y0
      math.sqrt(dx * dx + dy * dy)
    }

  /**
   * GEODESIC track compression — [[compress]] for lon/lat tracks with
   * the tolerance in METRES. Points lift to the geodesic join family's
   * CHORD-SPACE XYZ (`chord = 2R·sin(arc/2R)`), the tolerance converts
   * through the same mapping, and the DP compares point-to-chord-
   * segment distances against it — no latitude bias, no antimeridian
   * seam, no pole special case (a track at lon ±179.99 compresses
   * exactly like its rotation to lon 0, which the spec pins). At
   * compressor tolerances the chord/arc divergence is negligible
   * (< 2e-5 relative at 100 km) and both sides of every comparison
   * convert consistently. Same DP conventions as [[compress]]
   * (strict-`>` split, first-max argmax, explicit stack, `(ts,lon,lat)`
   * order, loud per-key cap); coordinates outside lon/lat range REFUSE
   * like the rest of the geodesic family; output keeps the ORIGINAL
   * lon/lat values untouched — the lift is decision-only, so the
   * emitted rows are bit-exact pass-throughs.
   */
  def compressGeo(points: DataFrame, keyCol: String, tsCol: String,
                  lonCol: String, latCol: String, toleranceMeters: Double,
                  maxPointsPerKey: Int = 5000000): DataFrame = {
    require(toleranceMeters >= 0 && !toleranceMeters.isInfinite &&
      !toleranceMeters.isNaN,
      s"compressGeo: tolerance must be finite >= 0 metres, got $toleranceMeters")
    require(maxPointsPerKey >= 2, "compressGeo: maxPointsPerKey must be >= 2")
    val spark = points.sparkSession
    import spark.implicits._
    val slim = track(points, "compressGeo", "a dropped point would silently bend the kept chain",
      keyCol, tsCol, lonLat(lonCol, latCol)).as[(Long, Long, Double, Double)]
    val bigR = DistanceJoin.EarthRadiusMeters
    val tolChord = 2.0 * bigR * math.sin(toleranceMeters / (2.0 * bigR))
    val tol2 = tolChord * tolChord
    perKey(slim, "t", "lon", "lat") { (key, rows) =>
      val (ts, lons, lats) = columns("compressGeo", key, rows, maxPointsPerKey)
      dpKeyGeo(key, ts, lons, lats, tol2, bigR)
    }.toDF("k", "t", "lon", "lat").withColumnRenamed("k", keyCol)
  }

  /** [[dpKey]] in chord-space: lift once per point, then the identical
    * explicit-stack DP with the 3D three-case squared distance (the
    * perpendicular case is `|p−a|² − w²/len²`, the 3D identity of the
    * planar cross²/len² form). Emits the ORIGINAL lon/lat. */
  private def dpKeyGeo(key: Long, ts: ArrayBuffer[Long],
                       lons: ArrayBuffer[Double], lats: ArrayBuffer[Double],
                       tol2: Double, bigR: Double): Seq[(Long, Long, Double, Double)] = {
    val n = ts.length
    if (n <= 2)
      return (0 until n).map(i => (key, ts(i), lons(i), lats(i)))
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    val zs = new Array[Double](n)
    var p = 0
    while (p < n) {
      val phi = math.toRadians(lats(p))
      val lam = math.toRadians(lons(p))
      val c = math.cos(phi)
      xs(p) = bigR * c * math.cos(lam)
      ys(p) = bigR * c * math.sin(lam)
      zs(p) = bigR * math.sin(phi)
      p += 1
    }
    val keep = new Array[Boolean](n)
    keep(0) = true
    keep(n - 1) = true
    val stack = scala.collection.mutable.Stack[(Int, Int)]((0, n - 1))
    while (stack.nonEmpty) {
      val (i, j) = stack.pop()
      if (j - i >= 2) {
        val dx = xs(j) - xs(i)
        val dy = ys(j) - ys(i)
        val dz = zs(j) - zs(i)
        val len2 = dx * dx + dy * dy + dz * dz
        var maxD2 = -1.0
        var maxK = -1
        var k = i + 1
        while (k < j) {
          val px = xs(k) - xs(i)
          val py = ys(k) - ys(i)
          val pz = zs(k) - zs(i)
          val p2 = px * px + py * py + pz * pz
          val w = px * dx + py * dy + pz * dz
          val d2 =
            if (len2 == 0.0 || w <= 0.0) p2
            else if (w >= len2)
              (xs(k) - xs(j)) * (xs(k) - xs(j)) +
                (ys(k) - ys(j)) * (ys(k) - ys(j)) +
                (zs(k) - zs(j)) * (zs(k) - zs(j))
            else p2 - w * w / len2
          if (d2 > maxD2) { maxD2 = d2; maxK = k }
          k += 1
        }
        if (maxD2 > tol2) {
          keep(maxK) = true
          stack.push((i, maxK))
          stack.push((maxK, j))
        }
      }
    }
    (0 until n).filter(i => keep(i)).map(i => (key, ts(i), lons(i), lats(i)))
  }

  /** One key's DP over the sorted track: explicit stack, strict `>`
    * split, first-maximum argmax (the JTS conventions). */
  private def dpKey(key: Long, ts: ArrayBuffer[Long], xs: ArrayBuffer[Double],
                    ys: ArrayBuffer[Double],
                    tol2: Double): Seq[(Long, Long, Double, Double)] = {
    val n = ts.length
    if (n <= 2)
      return (0 until n).map(i => (key, ts(i), xs(i), ys(i)))
    val keep = new Array[Boolean](n)
    keep(0) = true
    keep(n - 1) = true
    val stack = scala.collection.mutable.Stack[(Int, Int)]((0, n - 1))
    while (stack.nonEmpty) {
      val (i, j) = stack.pop()
      if (j - i >= 2) {
        val ax = xs(i); val ay = ys(i)
        val dx = xs(j) - ax; val dy = ys(j) - ay
        val len2 = dx * dx + dy * dy
        var maxD2 = -1.0
        var maxK = -1
        var k = i + 1
        while (k < j) {
          val w = (xs(k) - ax) * dx + (ys(k) - ay) * dy
          val d2 =
            if (len2 == 0.0 || w <= 0.0)
              (xs(k) - ax) * (xs(k) - ax) + (ys(k) - ay) * (ys(k) - ay)
            else if (w >= len2)
              (xs(k) - xs(j)) * (xs(k) - xs(j)) + (ys(k) - ys(j)) * (ys(k) - ys(j))
            else {
              val crs = (xs(k) - ax) * dy - (ys(k) - ay) * dx
              crs * crs / len2
            }
          if (d2 > maxD2) { maxD2 = d2; maxK = k }
          k += 1
        }
        if (maxD2 > tol2) {
          keep(maxK) = true
          stack.push((i, maxK))
          stack.push((maxK, j))
        }
      }
    }
    (0 until n).filter(i => keep(i)).map(i => (key, ts(i), xs(i), ys(i)))
  }

  /**
   * ORIGIN–DESTINATION flow matrix: per key, the trip origin is the
   * position at the key's EARLIEST timestamp, the destination at its
   * LATEST; both bin into Web-Mercator tiles at `zoom` ([[Tiles.quadkey]]
   * — the engine's spatial partition key, so OD cells line up with the
   * tile aggregates and the quadkey index layout) and flows aggregate to
   * `(o_qk, d_qk, n_trips)`. Two shuffles, both with map-side partial
   * aggregation: the per-key endpoint pick (`min_by`/`max_by`, constant
   * state per key) and the OD-pair count — nothing is windowed and no
   * per-point row survives the first aggregate, so the plan scales with
   * DISTINCT keys then DISTINCT od pairs, not with points. A key holding
   * two points at one instant REFUSES loudly (`min_by` would pick the
   * endpoint nondeterministically — the duplicate-timestamp contract
   * shared with [[resample]]); NULLs and out-of-range coordinates refuse
   * like the rest of the family. The duplicate probe is a `countDistinct`
   * beside the endpoint aggregates (one Expand pass), deliberately
   * chosen over a second shuffle on `(key, ts)`.
   */
  def odMatrix(points: DataFrame, keyCol: String, tsCol: String,
               lonCol: String, latCol: String, zoom: Int): DataFrame = {
    require(zoom >= 0 && zoom <= 23,
      s"odMatrix: zoom must be in [0, 23], got $zoom")
    val slim = track(points, "odMatrix",
      "a dropped point could silently move a trip's endpoint", keyCol, tsCol,
      lonLat(lonCol, latCol))
    val ends = slim.groupBy(col("k")).agg(
      count(lit(1)).as("_n"),
      countDistinct(col("t")).as("_nd"),
      min_by(struct(col("lon"), col("lat")), col("t")).as("_o"),
      max_by(struct(col("lon"), col("lat")), col("t")).as("_d"))
    // the refusal rides the origin longitude — an expression the quadkey
    // PROVABLY consumes, so column pruning can never elide the guard
    val oLon = when(ends("_n") =!= ends("_nd"),
      raise_error(concat(lit("odMatrix: key "), col("k").cast("string"),
        lit(" has two points at one instant — the trip endpoint would " +
          "be picked nondeterministically; dedup upstream"))).cast("double"))
      .otherwise(col("_o.lon"))
    ends.select(
        Tiles.quadkey(oLon, col("_o.lat"), zoom).as("o_qk"),
        Tiles.quadkey(col("_d.lon"), col("_d.lat"), zoom).as("d_qk"))
      .groupBy("o_qk", "d_qk")
      .agg(count(lit(1)).as("n_trips"))
  }

  /**
   * STREAMING kinematics — [[kinematics]] as a stateful streaming
   * enrichment (`flatMapGroupsWithState`): per-key state is ONE point
   * (the last enriched), and every arrival emits immediately with its
   * dt/step/speed/heading against that predecessor. Unlike the dwell
   * scans there is no lookahead, so the bounded-stream twin is batch
   * [[kinematics]] EXACTLY — no held-back tails — whenever arrivals
   * respect per-key time order ACROSS batches; within one batch
   * arrivals sort by `(ts, lon, lat)` like the batch window, so
   * intra-batch disorder is harmless. An arrival at or below the last
   * enriched timestamp REFUSES loudly (its successor's already-emitted
   * row would change — the same rewrite-history contract as
   * [[streamingStayPoints]], with the frontier simply the last point).
   *
   * The scalar trees are [[kinematics]]'s verbatim (`Math.sin`/`pow`/
   * `asin`/`atan2` in the same order), so streaming and batch agree
   * bit-for-bit — the spec pins it. State per key is 24 bytes
   * (t, lon, lat): a NEVER-moving device costs the same as a busy one,
   * and there is no cap to tune. Same input contract (integral key and
   * timestamp, NULL and range refusals) and NULL-output contract as batch (first point all-NULL, coincident pair NULL
   * heading, zero-dt NULL speed — zero dt can only happen inside one
   * batch, where the tiebreak orders it).
   */
  def kinematicsStream(points: DataFrame, keyCol: String, tsCol: String,
                       lonCol: String, latCol: String,
                       earthRadiusMeters: Double = DistanceJoin.EarthRadiusMeters)
      : DataFrame = {
    val bigR = earthRadiusMeters
    val spark = points.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val slim = track(points, "kinematicsStream",
      "a dropped point would corrupt its successor's step", keyCol, tsCol,
      lonLat(lonCol, latCol)).as[(Long, Long, Double, Double)]
    slim.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double, Double),
          (Long, Long, Double, Double, Option[Long], Option[Double],
           Option[Double], Option[Double])](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, it, state) =>
          val incoming = it.map(r => (r._2, r._3, r._4)).toVector
            .sortBy(p => (p._1, p._2, p._3))
          incoming.headOption.foreach { p =>
            state.getOption.foreach { case (lastT, _, _) =>
              if (p._1 <= lastT)
                throw new IllegalArgumentException(
                  s"kinematicsStream: key $key received ts ${p._1} at or " +
                  s"below the last enriched timestamp $lastT — its " +
                  "successor's already-emitted step would change; replay " +
                  "through the batch operator")
            }
          }
          var prev = state.getOption
          val out = incoming.map { case (t, lon, lat) =>
            val row = prev match {
              case None => (key, t, lon, lat, Option.empty[Long],
                Option.empty[Double], Option.empty[Double], Option.empty[Double])
              case Some((pt, plon, plat)) =>
                val dt = t - pt
                // the batch Column trees, verbatim
                val step = GeoOps.haversineMeters(plat, plon, lat, lon, bigR)
                val heading =
                  if (plon == lon && plat == lat) None
                  else {
                    val dl = math.toRadians(lon) - math.toRadians(plon)
                    val t0 = math.atan2(
                      math.sin(dl) * math.cos(math.toRadians(lat)),
                      math.cos(math.toRadians(plat)) * math.sin(math.toRadians(lat)) -
                        math.sin(math.toRadians(plat)) * math.cos(math.toRadians(lat)) *
                          math.cos(dl))
                    Some(if (t0 < 0) t0 + 2 * math.Pi else t0)
                  }
                (key, t, lon, lat, Some(dt), Some(step),
                  if (dt == 0) None else Some(step / dt.toDouble), heading)
            }
            prev = Some((t, lon, lat))
            row
          }
          prev.foreach(state.update)
          out.iterator
      }
      .toDF("k", "t", "lon", "lat", "dt_s", "step_m", "speed_mps", "heading_rad")
      .withColumnRenamed("k", keyCol).withColumnRenamed("t", tsCol)
      .withColumnRenamed("lon", lonCol).withColumnRenamed("lat", latCol)
  }

  /**
   * STREAMING stay-point detection — [[stayPoints]] as a stateful
   * streaming operator (`flatMapGroupsWithState`, the repo's custom-
   * state tool of record): per-device dwell detection over an
   * unbounded point stream. Emits a stay point as soon as it is
   * FINALIZED — the anchor's window hit a point OUTSIDE the radius,
   * so no future arrival can extend or invalidate it; the still-open
   * tail run (everything from the first anchor whose window reached
   * the end of the buffered suffix) is carried in state and emitted
   * only when a later batch delivers its exit point. A dwell that the
   * stream simply stops inside is therefore NEVER emitted — the
   * bounded-stream twin is batch [[stayPoints]] MINUS each key's
   * trailing end-of-data runs (the q247 oracle encodes exactly that).
   *
   * Ordering contract: within the buffered suffix points sort by
   * `(ts, x, y)` exactly like the batch scan, so intra-buffer disorder
   * is harmless; an arrival with ts AT OR BELOW the finalized frontier
   * — the maximum timestamp CONSULTED by any finalized slide/emit
   * decision, i.e. the latest escape point whose radius test sealed a
   * decision — would rewrite history and REFUSES loudly; feed late
   * corpora through the batch operator instead. (The frontier tracks
   * consulted escape points, not merely emitted spans: a slide past a
   * sparse anchor consults the far side of the gap, and a late point
   * landing inside that gap could flip the slide to an emit.) State per key is the open
   * suffix only, bounded by the longest real dwell (a never-moving
   * device grows it until the loud `maxPointsPerKey` cap — split
   * permanent fixtures upstream).
   *
   * Output schema and input contract = [[stayPoints]]'s; `sp_idx`
   * continues across batches. Works identically on a batch Dataset (state lives for
   * the single batch) — the spec pins streaming ≡ batch-minus-tails.
   */
  def streamingStayPoints(points: DataFrame, keyCol: String, tsCol: String,
                          xCol: String, yCol: String,
                          radius: Double, minDurationSec: Long,
                          maxPointsPerKey: Int = 5000000): DataFrame = {
    val r2 = radius * radius
    streamingRun(points, keyCol, tsCol, planar(xCol, yCol), radius, minDurationSec,
      maxPointsPerKey, "streamingStayPoints",
      (ax, ay, x, y) => { val dx = x - ax; val dy = y - ay; dx * dx + dy * dy <= r2 })
  }

  /** GEODESIC streaming stay points — [[streamingStayPoints]] with the
    * great-circle anchor test of [[geoStayPoints]] (lat/lon degrees,
    * `radiusMeters` metres; x=lat, y=lon in the output's cx/cy). Same
    * finalized-frontier contract, same batch-minus-open-tails twin. */
  def geoStreamingStayPoints(points: DataFrame, keyCol: String, tsCol: String,
                             latCol: String, lonCol: String,
                             radiusMeters: Double, minDurationSec: Long,
                             earthRadiusMeters: Double = DistanceJoin.EarthRadiusMeters,
                             maxPointsPerKey: Int = 5000000): DataFrame =
    streamingRun(points, keyCol, tsCol, latLonAsXY(latCol, lonCol), radiusMeters,
      minDurationSec, maxPointsPerKey, "geoStreamingStayPoints",
      (aLat, aLon, lat, lon) =>
        GeoOps.haversineMeters(aLat, aLon, lat, lon, earthRadiusMeters) <= radiusMeters)

  private def streamingRun(points: DataFrame, keyCol: String, tsCol: String,
                           coords: Seq[Coord], radius: Double, minDurationSec: Long,
                           maxPointsPerKey: Int, op: String,
                           within: (Double, Double, Double, Double) => Boolean): DataFrame = {
    require(radius > 0 && !radius.isInfinite,
      s"$op: radius must be finite > 0, got $radius")
    require(minDurationSec >= 0, s"$op: minDurationSec must be >= 0")
    require(maxPointsPerKey >= 2, s"$op: maxPointsPerKey must be >= 2")
    val minDur = minDurationSec
    val cap = maxPointsPerKey
    val spark = points.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val slim = track(points, op, "a dropped point would silently split a dwell",
      keyCol, tsCol, coords).as[(Long, Long, Double, Double)]
    slim.groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[(Long, Double, Double)], Int, Long),
                              (Long, Int, Long, Long, Int, Double, Double)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, it, state) =>
          val (prevBuf, prevIdx, frontier) =
            state.getOption.getOrElse((Seq.empty[(Long, Double, Double)], 0, Long.MinValue))
          val incoming = it.map(r => (r._2, r._3, r._4)).toVector
          incoming.foreach { p =>
            if (p._1 <= frontier)
              throw new IllegalArgumentException(
                s"$op: key $key received ts ${p._1} at or below " +
                s"the finalized frontier $frontier — a finalized slide/emit " +
                "already consulted a point at that timestamp, so accepting it " +
                "would rewrite history; replay through the batch operator")
          }
          val pts = (prevBuf.toVector ++ incoming).sortBy(p => (p._1, p._2, p._3))
          require(pts.length <= cap,
            s"$op: key $key open suffix exceeds " +
            s"maxPointsPerKey ($cap) — split permanent fixtures upstream")
          val n = pts.length
          val out = new ArrayBuffer[(Long, Int, Long, Long, Int, Double, Double)]
          var i = 0
          var spIdx = prevIdx
          var pending = -1
          // Max timestamp CONSULTED by any decision finalized this scan.
          // Every slide and every emit tested the escape point pts(j) —
          // a later arrival at or below its ts could have sorted inside
          // the window and flipped the decision, so the frontier must
          // cover the escape point, not just the point before the open
          // anchor (which can sit WELL below the consulted span when the
          // buffer is sparse).
          var consulted = Long.MinValue
          while (i < n && pending < 0) {
            var j = i + 1
            while (j < n &&
              within(pts(i)._2, pts(i)._3, pts(j)._2, pts(j)._3)) j += 1
            if (j == n) pending = i // window ran out of data: still open
            else {
              if (pts(j)._1 > consulted) consulted = pts(j)._1
              if (pts(j - 1)._1 - pts(i)._1 >= minDur) {
                var sx = 0.0; var sy = 0.0
                var p = i
                while (p < j) { sx += pts(p)._2; sy += pts(p)._3; p += 1 }
                spIdx += 1
                out += ((key, spIdx, pts(i)._1, pts(j - 1)._1, j - i,
                  sx / (j - i), sy / (j - i)))
                i = j
              } else i += 1
            }
          }
          val keep = if (pending >= 0) pts.drop(pending) else Vector.empty
          val newFrontier =
            if (consulted == Long.MinValue) frontier // nothing finalized
            else math.max(frontier, consulted)
          state.update((keep, spIdx, newFrontier))
          out.iterator
      }
      .toDF("k", "sp_idx", "start_ts", "end_ts", "n_points", "cx", "cy")
      .withColumnRenamed("k", keyCol)
  }

  /**
   * HMM MAP-MATCHING — the Viterbi pass over per-ping snap candidates
   * (Newson & Krumm 2009, the public formulation), composing with the
   * [[DistanceJoin]] snap family: feed it `segmentRadiusJoin` /
   * `geoSegmentRadiusJoin` output (one row per (key, ts, candidate
   * segment) with the snap distance and snapped point) and it picks
   * the ROUTE-CONSISTENT candidate per ping instead of the greedy
   * nearest segment — the classic fix for GPS zig-zag across parallel
   * roads.
   *
   * Cost model (negative log-likelihoods, minimized; orders pinned for
   * oracle replay):
   *   emission(c)   = (d/σ)·(d/σ)/2           (Gaussian GPS noise)
   *   transition(c→c') = |route − straight|/β (exponential discrepancy)
   * with `route` = the Euclidean distance between consecutive SNAP
   * points and `straight` = between the raw pings — the GRAPH-FREE
   * simplification of Newson–Krumm's route distance (their shortest
   * path needs a router; with none, a candidate that forces a jump
   * between distant snap positions is penalized by exactly that jump's
   * excess over the ping movement). A path's cost accumulates strictly
   * left-to-right (e₁+t₁₂+e₂+…), so an external engine replays the
   * winning path's cost bit-for-bit.
   *
   * Viterbi per key over the pings PRESENT in the candidate table
   * (a ping whose snap join found nothing is absent here and absent
   * from the output — candidate generation's radius owns that
   * semantic); ties at any argmin break to the SMALLER candidate id,
   * so the result is deterministic across any parallelism. DUPLICATE
   * (ts, candidate) rows refuse loudly (ambiguous emission), as do
   * candidates of one ping that disagree on the ping's coordinates,
   * NULLs/NaNs anywhere, and the two loud caps (`maxCandidatesPerPoint`
   * — a ping with hundreds of candidate roads is a radius bug;
   * `maxPointsPerKey` — pre-split multi-day tracks).
   *
   * Scale: the DP runs in the family's one per-key scan (`perKey`,
   * like [[stayPoints]]): one shuffle on the key, a per-key
   * O(T·K²) scan with K ≤ the candidate cap, state = one key's
   * candidate lists. 100 TB of pings stream key by key; nothing is
   * driver-side.
   *
   * Output: `(<keyCol> long, <tsCol> long, <candCol> long,
   * path_cost double)` — the chosen candidate per ping; `path_cost`
   * is the key's TOTAL winning cost (repeated per row) for replay.
   */
  def mapMatch(candidates: DataFrame, keyCol: String, tsCol: String,
               candCol: String, distCol: String,
               pxCol: String, pyCol: String,
               snapXCol: String, snapYCol: String,
               sigma: Double, beta: Double,
               maxCandidatesPerPoint: Int = 64,
               maxPointsPerKey: Int = 1000000): DataFrame =
    mapMatchImpl(candidates, keyCol, tsCol, candCol, distCol, pxCol, pyCol,
      snapXCol, snapYCol, sigma, beta, maxCandidatesPerPoint, maxPointsPerKey,
      geodesic = false, DistanceJoin.EarthRadiusMeters, "mapMatch")

  /**
   * GEODESIC [[mapMatch]] — the Viterbi pass over lat/lon snap
   * candidates (feed it [[DistanceJoin.geoSegmentRadiusJoin]] /
   * `geoSnapToSegments` output): identical DP, cost model and
   * refusal/tie contracts, with `route` and `straight` measured as
   * GREAT-CIRCLE metres (the [[kinematics]] haversine tree, so the
   * whole trajectory family shares one formulation) — σ and β are
   * therefore in metres, matching the snap join's `dist_m` emission.
   * Coordinate columns are (lon, lat) degrees, range-refused like the
   * rest of the geodesic family.
   */
  def mapMatchGeo(candidates: DataFrame, keyCol: String, tsCol: String,
                  candCol: String, distCol: String,
                  lonCol: String, latCol: String,
                  snapLonCol: String, snapLatCol: String,
                  sigma: Double, beta: Double,
                  maxCandidatesPerPoint: Int = 64,
                  maxPointsPerKey: Int = 1000000,
                  earthRadiusMeters: Double = DistanceJoin.EarthRadiusMeters)
      : DataFrame =
    mapMatchImpl(candidates, keyCol, tsCol, candCol, distCol, lonCol, latCol,
      snapLonCol, snapLatCol, sigma, beta, maxCandidatesPerPoint,
      maxPointsPerKey, geodesic = true, earthRadiusMeters, "mapMatchGeo")

  private def mapMatchImpl(candidates: DataFrame, keyCol: String, tsCol: String,
               candCol: String, distCol: String,
               pxCol: String, pyCol: String,
               snapXCol: String, snapYCol: String,
               sigma: Double, beta: Double,
               maxCandidatesPerPoint: Int,
               maxPointsPerKey: Int,
               geodesic: Boolean, earthRadiusMeters: Double,
               op: String): DataFrame = {
    require(sigma > 0 && !sigma.isInfinite, s"$op: sigma must be finite > 0, got $sigma")
    require(beta > 0 && !beta.isInfinite, s"$op: beta must be finite > 0, got $beta")
    require(maxCandidatesPerPoint >= 1 && maxPointsPerKey >= 1,
      s"$op: caps must be >= 1")
    val (lon, lat) = if (geodesic) (Lon, Lat) else (None, None)
    val spark = candidates.sparkSession
    import spark.implicits._
    val slim = track(candidates, op, "a dropped candidate would silently reroute the track",
        keyCol, tsCol,
        Seq(Coord(distCol, "d", "snap distance"),
          Coord(pxCol, "px", "point x", lon), Coord(pyCol, "py", "point y", lat),
          Coord(snapXCol, "sx", "snap x", lon), Coord(snapYCol, "sy", "snap y", lat)),
        ids = Seq((candCol, "c", "candidate id")), nan = true)
      .as[(Long, Long, Long, Double, Double, Double, Double, Double)]
    // step metric: planar Euclid or the kinematics haversine tree —
    // the ONLY difference between the planar and geodesic operators
    val bigR = earthRadiusMeters
    val dist: (Double, Double, Double, Double) => Double =
      if (!geodesic) euclid
      else (lon0, lat0, lon1, lat1) => GeoOps.haversineMeters(lat1, lon1, lat0, lon0, bigR)
    perKey(slim, "t", "c") { (key, rows) =>
      // gather one key: pings in ts order, candidates per ping
      val ts = new ArrayBuffer[Long]
      val px = new ArrayBuffer[Double]; val py = new ArrayBuffer[Double]
      val cands = new ArrayBuffer[ArrayBuffer[(Long, Double, Double, Double)]]
      rows.foreach { case (_, t, c, d, x, y, sx, sy) =>
        if (ts.isEmpty || ts.last != t) {
          ts += t; px += x; py += y
          cands += new ArrayBuffer[(Long, Double, Double, Double)]
          capped(op, key, ts.length, maxPointsPerKey)
        } else {
          require(cands.last.isEmpty || cands.last.last._1 != c,
            s"$op: duplicate (ts, candidate) = ($t, $c) for key " +
            s"$key — the emission is ambiguous; dedup the candidates")
          require(x == px.last && y == py.last,
            s"$op: candidates of key $key ts $t disagree on the " +
            s"ping's coordinates (($x, $y) vs (${px.last}, ${py.last}))")
        }
        cands.last += ((c, d, sx, sy))
        require(cands.last.length <= maxCandidatesPerPoint,
          s"$op: key $key ts $t exceeds maxCandidatesPerPoint " +
          s"($maxCandidatesPerPoint) — shrink the candidate radius or raise the cap")
      }
      viterbiKey(key, ts, px, py, cands, sigma, beta, dist)
    }.toDF("k", "t", "c", "path_cost")
      .withColumnRenamed("k", keyCol).withColumnRenamed("t", tsCol)
      .withColumnRenamed("c", candCol)
  }

  /** One key's Viterbi: O(T·K²), backpointers, smaller-id tie-breaks.
    * Cost accumulation is STRICTLY left-to-right per path so the
    * winner's total replays bit-for-bit externally. */
  private def viterbiKey(key: Long, ts: ArrayBuffer[Long],
                         px: ArrayBuffer[Double], py: ArrayBuffer[Double],
                         cands: ArrayBuffer[ArrayBuffer[(Long, Double, Double, Double)]],
                         sigma: Double, beta: Double,
                         dist: (Double, Double, Double, Double) => Double)
      : ArrayBuffer[(Long, Long, Long, Double)] = {
    val tN = ts.length
    def em(i: Int, j: Int): Double = {
      val e = cands(i)(j)._2 / sigma; e * e / 2.0
    }
    var prev: Array[Double] = Array.tabulate(cands(0).length)(j => em(0, j))
    val back = new ArrayBuffer[Array[Int]]
    var i = 1
    while (i < tN) {
      val cur = new Array[Double](cands(i).length)
      val bp = new Array[Int](cands(i).length)
      val straight = dist(px(i - 1), py(i - 1), px(i), py(i))
      var j = 0
      while (j < cands(i).length) {
        val (_, _, sx, sy) = cands(i)(j)
        var best = Double.PositiveInfinity; var bestP = -1
        var p = 0
        while (p < cands(i - 1).length) {
          val (_, _, psx, psy) = cands(i - 1)(p)
          val route = dist(psx, psy, sx, sy)
          val cost = prev(p) + math.abs(route - straight) / beta
          // strict < keeps the FIRST (smallest candidate id — the sort
          // order) on ties
          if (cost < best) { best = cost; bestP = p }
          p += 1
        }
        cur(j) = best + em(i, j); bp(j) = bestP
        j += 1
      }
      back += bp
      prev = cur
      i += 1
    }
    var bestJ = 0
    var j = 1
    while (j < prev.length) { if (prev(j) < prev(bestJ)) bestJ = j; j += 1 }
    val total = prev(bestJ)
    val path = new Array[Int](tN)
    path(tN - 1) = bestJ
    var s = tN - 2
    while (s >= 0) { path(s) = back(s)(path(s + 1)); s -= 1 }
    val res = new ArrayBuffer[(Long, Long, Long, Double)]
    var q = 0
    while (q < tN) { res += ((key, ts(q), cands(q)(path(q))._1, total)); q += 1 }
    res
  }

  /** The Zheng et al. state machine over one key's time-ordered points. */
  private def scanKey(key: Long, ts: ArrayBuffer[Long],
                      xs: ArrayBuffer[Double], ys: ArrayBuffer[Double],
                      minDur: Long,
                      within: (Double, Double, Double, Double) => Boolean)
      : ArrayBuffer[(Long, Int, Long, Long, Int, Double, Double)] = {
    val n = ts.length
    val res = new ArrayBuffer[(Long, Int, Long, Long, Int, Double, Double)]
    var i = 0
    var spIdx = 0
    while (i < n) {
      var j = i + 1
      while (j < n && within(xs(i), ys(i), xs(j), ys(j))) j += 1
      if (ts(j - 1) - ts(i) >= minDur) {
        var sx = 0.0; var sy = 0.0
        var p = i
        while (p < j) { sx += xs(p); sy += ys(p); p += 1 }
        spIdx += 1
        res += ((key, spIdx, ts(i), ts(j - 1), j - i,
          sx / (j - i), sy / (j - i)))
        i = j
      } else i += 1
    }
    res
  }
}
