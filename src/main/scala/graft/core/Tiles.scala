package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Web-Mercator TILE indexing (the OSM/slippy z/x/y scheme and its
 * Bing-style quadkey string form) as plain Column compositions — the
 * standard spatial PARTITION KEY for serving and for locality-
 * preserving layout: `df.repartition(col("qk"))` or a groupBy on the
 * tile column gives per-tile aggregates with one shuffle, and quadkey
 * PREFIXES nest (a z=10 key's first 6 chars are its z=6 ancestor), so
 * one stored column answers every coarser zoom by `substring` — no
 * re-binning scan at 100 TB.
 *
 * Formulas are the published slippy-map ones:
 *   x = floor((lon + 180) / 360 · 2^z)
 *   y = floor((1 − asinh(tan φ) / π) / 2 · 2^z)
 * with the x = 2^z seam at lon = +180 clamped to 2^z − 1 (the standard
 * wrap). Latitudes beyond the Mercator limit (|φ| > 85.0511287798066,
 * where the projection diverges) are REFUSED loudly, as are NULL/NaN
 * coordinates and longitudes outside [−180, 180] — a clamped-silently
 * pole row would land every polar point in one seam tile.
 *
 * EXACTNESS NOTE (the cross-engine contract every gate states): tile_x
 * is pure affine arithmetic — bit-portable. tile_y rides `ln`/`tan`
 * (one ulp-class each, libm-dependent), so a point PATHOLOGICALLY
 * close to a tile boundary (within ~1e-15 relative) could bin
 * differently across engines; the q241 fixture audits its margins like
 * the geodesic gates do. For production layout keys this is harmless —
 * a boundary flip moves a point to the adjacent tile, it never loses
 * the point.
 */
object Tiles {

  /** Mercator latitude limit: atan(sinh(pi)) in degrees. */
  final val MaxLatDeg: Double = 85.0511287798066

  private def checkedLon(lon: Column): Column =
    when(lon.isNull || isnan(lon) || lon < -180.0 || lon > 180.0,
      raise_error(concat(lit("tiles: longitude out of [-180, 180]: "),
        lon.cast("string"))).cast("double"))
    .otherwise(lon)

  private def checkedLat(lat: Column): Column =
    when(lat.isNull || isnan(lat) ||
         lat < -MaxLatDeg || lat > MaxLatDeg,
      raise_error(concat(lit("tiles: latitude outside the Mercator range "),
        lit(s"[-$MaxLatDeg, $MaxLatDeg]: "), lat.cast("string"),
        lit(" — filter or clamp polar rows explicitly"))).cast("double"))
    .otherwise(lat)

  private def require_z(z: Int): Unit =
    require(z >= 0 && z <= 30, s"tiles: zoom must be in [0, 30], got $z")

  /** Slippy tile x at zoom `z` (BIGINT column). */
  def tileX(lon: Column, z: Int): Column = {
    require_z(z)
    val n = 1L << z
    least(floor((checkedLon(lon) + 180.0) / 360.0 * n).cast("long"),
      lit(n - 1)) // lon = +180 seam wraps into the last column
  }

  /** Slippy tile y at zoom `z` (BIGINT column); asinh(tan φ) written as
    * ln(tan φ + 1/cos φ) — the exact published form, replayable in any
    * engine with ln/tan/cos. */
  def tileY(lat: Column, z: Int): Column = {
    require_z(z)
    val n = 1L << z
    val phi = radians(checkedLat(lat))
    val y = (lit(1.0) - log(tan(phi) + lit(1.0) / cos(phi)) / math.Pi) / 2.0 * n
    // the lat = ±MaxLat edges map to exactly 0 / 2^z in real arithmetic,
    // but one ulp of ln/tan drift puts them at -1 / 2^z in floats: clamp
    // BOTH seams into [0, 2^z - 1] (same convention as the x seam)
    greatest(lit(0L), least(floor(y).cast("long"), lit(n - 1)))
  }

  /** Quadkey PREFIX rollup: the z-level ancestor key of a finer
    * quadkey column — `substring` only, which is the point: per-tile
    * aggregates stored at one fine zoom answer every coarser zoom by
    * re-aggregating on this column, never by re-binning coordinates.
    * Refuses (per row) keys shorter than `toZ`. */
  def rollup(qk: Column, toZ: Int): Column = {
    require_z(toZ)
    require(toZ >= 1, "tiles: rollup needs zoom >= 1")
    when(qk.isNull || length(qk) < toZ,
      raise_error(concat(lit(s"tiles: cannot roll a quadkey up to z=$toZ: "),
        coalesce(qk, lit("NULL")))).cast("string"))
    .otherwise(substring(qk, 1, toZ))
  }

  /**
   * QUADKEY PREFIX COVER of a geometry — the driver-side planning half
   * of the quadkey physical layout (`GeoDb.createIndex(method =
   * "quadkey")`): the returned prefixes turn into `_qk BETWEEN
   * p||'00…' AND p||'33…'` range predicates that parquet row-group
   * string min/max stats prune against. A rectangle (a bbox read) is
   * the common case; the quadtree descends with JTS tests against the
   * geometry itself, so an L-shaped / multipart region covers only the
   * tiles it actually touches — the notch of an L contributes NO
   * prefixes, where the envelope cover keeps it all.
   *
   * Soundness: the DROP decision (subtree emits nothing) tests
   * disjointness against the node rect EXPANDED by one z-level tile on
   * every side, absorbing the documented tile_y ulp class (a centroid
   * binned with a drifted `ln`/`tan` on an executor can land at most
   * one tile off); the EMIT decision (JTS `covers` of the unexpanded
   * rect, or hitting the depth floor) only chooses coarse-vs-recurse —
   * both sound. Iterative deepening caps the prefix count at
   * `maxPrefixes` (a coarser prefix only WIDENS the ranges), with an
   * early-abort so a huge coastline at deep zoom cannot enumerate
   * millions of boundary tiles before coarsening. EMPTY geometry, or
   * one more than a tile away from the Mercator domain → empty cover
   * (nothing indexed can match it).
   *
   * The caller owns the centroid-containment argument: pruning a
   * centroid-quadkey layout with this cover is exact for POINT rows
   * (centroid = the point) and needs the CONVEX HULL of the mask for
   * general rows — see `plans.EnvelopePrefilter.qkPrefix` (the hull
   * cover) and `GeoDb.getCollectionByMask` (the pointsOnly cover).
   */
  def coverGeometry(geom: org.locationtech.jts.geom.Geometry, z: Int,
                    maxPrefixes: Int = 64): Seq[String] = {
    require_z(z)
    require(z >= 1, "tiles: coverGeometry needs zoom >= 1")
    require(maxPrefixes >= 4, s"tiles: maxPrefixes must be >= 4, got $maxPrefixes")
    require(geom != null, "tiles: coverGeometry got a null geometry")
    if (geom.isEmpty) return Seq.empty
    val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(geom)
    val gf = geom.getFactory
    val n = 1L << z
    val eps = 360.0 / n // >= one z-tile in degrees on both axes
    def lonOf(x: Long): Double = x.toDouble / n * 360.0 - 180.0
    def latOf(y: Long): Double =
      math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * y.toDouble / n))))
    def coverAtDepth(maxD: Int): Option[Vector[String]] = {
      val out = Vector.newBuilder[String]
      var cnt = 0
      var overflow = false
      def rec(d: Int, nx: Long, ny: Long, prefix: String): Unit = {
        if (overflow) return
        val shift = z - d
        val rx0 = nx << shift; val rx1 = ((nx + 1L) << shift) - 1
        val ry0 = ny << shift; val ry1 = ((ny + 1L) << shift) - 1
        val lonLo = lonOf(rx0); val lonHi = lonOf(rx1 + 1)
        val latHi = latOf(ry0); val latLo = latOf(ry1 + 1)
        val grown = gf.toGeometry(new org.locationtech.jts.geom.Envelope(
          lonLo - eps, lonHi + eps, latLo - eps, latHi + eps))
        if (!prep.intersects(grown)) ()
        else if (d == maxD || prep.covers(gf.toGeometry(
            new org.locationtech.jts.geom.Envelope(lonLo, lonHi, latLo, latHi)))) {
          out += prefix; cnt += 1
          // 4x headroom: past it this depth can never win the
          // maxPrefixes loop, so stop enumerating and coarsen
          if (cnt > 4 * maxPrefixes) overflow = true
        }
        else (0 until 4).foreach { q =>
          rec(d + 1, nx * 2 + (q & 1), ny * 2 + (q >> 1), prefix + q)
        }
      }
      rec(0, 0L, 0L, "")
      if (overflow) None else Some(out.result())
    }
    var depth = z
    var res = coverAtDepth(depth)
    while (depth > 0 && (res.isEmpty || res.get.size > maxPrefixes)) {
      depth -= 1; res = coverAtDepth(depth)
    }
    res.getOrElse(Vector(""))
  }

  /** Bing-style quadkey: z base-4 digits, digit i (from the most
    * significant) = 2·bit(y, z−1−i) + bit(x, z−1−i). Prefix-nesting is
    * the point: `substring(quadkey(z=12), 1, 8)` IS the z=8 key. */
  def quadkey(lon: Column, lat: Column, z: Int): Column = {
    require_z(z)
    require(z >= 1, "tiles: quadkey needs zoom >= 1")
    val x = tileX(lon, z)
    val y = tileY(lat, z)
    val digits = (z - 1 to 0 by -1).map { b =>
      (shiftright(y, b) % 2 * 2 + shiftright(x, b) % 2).cast("string")
    }
    concat(digits: _*)
  }
}
