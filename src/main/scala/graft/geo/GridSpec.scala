package graft.geo

/** A north-up raster grid: upper-left corner, square resolution, CRS, dims.
  *
  * Equivalent to the GDAL geotransform `gt = [ulx, res, 0, uly, 0, -res]`
  * produced by the reference's warp (`warplib.py:139`). Rotation terms are not
  * supported (the reference never produces them on its own outputs).
  */
final case class GridSpec(ulx: Double, uly: Double, res: Double, crs: String,
                          w: Int, h: Int) {
  require(res > 0, s"res must be > 0, got $res")

  /** Extent of the full grid: gt-derived corners (`gt_extent`/`corner_extent`
    * `geolib.py:1216-1248`). */
  def extent: Extent = Extent(ulx, uly - h * res, ulx + w * res, uly)

  /** Map → (fractional) pixel with the GDAL upper-left-corner model and the
    * −0.5 px center shift — `mapToPixel` `geolib.py:293-309`. */
  def mapToPixel(mx: Double, my: Double): (Double, Double) =
    ((mx - ulx) / res - 0.5, (my - uly) / (-res) - 0.5)

  /** Pixel (center) → map — `pixelToMap` adds 0.5 px (`geolib.py:311-323`). */
  def pixelToMap(px: Double, py: Double): (Double, Double) =
    (ulx + (px + 0.5) * res, uly - (py + 0.5) * res)

  /** Integer pixel containing a map point (floor of fractional + 0.5 shift back
    * to the cell model used by `sample` `geolib.py:940-947`). */
  def mapToCell(mx: Double, my: Double): (Int, Int) = {
    val (px, py) = mapToPixel(mx, my)
    (math.floor(px + 0.5).toInt, math.floor(py + 0.5).toInt)
  }
}

object GridSpec {
  /** Construct the target grid of a warp given extent/res, matching
    * `warplib.py:120-139`: `nl = int(round((ymax-ymin)/res))`,
    * `ns = int(round((xmax-xmin)/res))`, `gt = [xmin, res, 0, ymax, 0, -res]`.
    * Python 3 round() is banker's rounding → math.rint. */
  def fromExtentRes(extent: Extent, res: Double, crs: String): GridSpec = {
    val nl = math.rint((extent.ymax - extent.ymin) / res).toInt
    val ns = math.rint((extent.xmax - extent.xmin) / res).toInt
    GridSpec(extent.xmin, extent.ymax, res, crs, ns, nl)
  }

  /** Resolution statistics over a list of per-image resolutions —
    * `get_res_stats` `geolib.py:1100-1116` (min/max/mean/median). */
  def resStats(rs: Seq[Double]): (Double, Double, Double, Double) = {
    require(rs.nonEmpty)
    val sorted = rs.sorted
    val n = sorted.length
    val med = if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
    (sorted.head, sorted.last, rs.sum / n, med)
  }

  /** `parse_res` strategies — `warplib.py:312-364`. */
  def parseRes(strategy: String, rs: Seq[Double]): Double = {
    val (mn, mx, mean, med) = resStats(rs)
    strategy match {
      case "first" => rs.head
      case "last"  => rs.last
      case "min"   => mn
      case "max"   => mx
      case "mean"  => mean
      case "med"   => med
      // common_scale_factor = sqrt(max/min) * min — warplib.py:353-355
      case "common_scale_factor" => math.sqrt(mx / mn) * mn
      case other => other.toDouble
    }
  }

  /** `parse_extent` strategies — `warplib.py:366-419`. Disjoint intersection
    * is an error in the reference (`warplib.py:404-405`). */
  def parseExtent(strategy: String, es: Seq[Extent]): Extent = strategy match {
    case "first"        => es.head
    case "last"         => es.last
    case "union"        => Extent.unionAll(es)
    case "intersection" =>
      Extent.intersectionAll(es).getOrElse(
        throw new IllegalArgumentException("Input extents do not intersect"))
    case s =>
      val p = s.split("[ ,]+").map(_.toDouble)
      Extent(p(0), p(1), p(2), p(3))
  }

  /** Precision used for the no-op-warp elision compare — `warplib.py:496-504`:
    * 1e-8 for geographic CRS (degrees), 1e-3 for projected (meters). */
  def comparePrecision(crs: String): Double =
    if (Srs.isGeographic(crs)) 1e-8 else 1e-3
}
