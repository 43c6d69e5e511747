package layerbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{StackOps, Stencil, Warp}
import graft.sources.ImageTable

/** Raster side: analyze → bilinear warp to tiles → per-pixel stack stats →
  * per-pixel trend → 4-pixel-halo gaussian stencil, over spread images
  * `ImageTable.row(offset + i, spread = true)`. The tiles are not persisted
  * (as in `graft.Bench`), so every call after `warp.tiles` re-runs the warp.
  * One work item = one input image carried through the whole chain. */
final class TilePipeline(spark: SparkSession, a: Args) extends Workload {
  import spark.implicits._

  val nImages: Int = a.images.getOrElse(if (a.tiny) 120 else 1200)
  /** The seed shifts the image indices by whole rows of image clusters
    * (`ClusterSize` × `ClusterCols` images), so every seed gets the same
    * spread layout over different rasters; seed 0 is `graft.Bench`'s set. */
  val offset: Int = (math.floorMod(a.seed, 1000L) * ImageTable.ClusterSize * ImageTable.ClusterCols).toInt

  val itemsName = ("images_per_s", "images/s")
  val nominalPassS = 3.0

  private var images: DataFrame = _
  private var last: (Long, Long, Long) = (0L, 0L, 0L)

  def build(): Unit = {
    val off = offset
    images = spark.range(0, nImages, 1, 32)
      .map(i => ImageTable.row(off + i.toInt, spread = true)).toDF().cache()
    images.count()
  }

  def release(): Unit = images.unpersist(blocking = true)

  def pass(t: Trace, checks: Checks): PassOut = {
    val t0 = System.nanoTime()
    val target = t.call("warp.analyze")(Warp.analyze(images, "min", "union"))
    val ntx = (target.w + Warp.TileSize - 1) / Warp.TileSize
    val nty = (target.h + Warp.TileSize - 1) / Warp.TileSize
    val tiles = Warp.warpToTiles(spark, images, target, "bilinear")
    val w = t.call("warp.tiles")(tiles.agg(count(lit(1)), sum(col("n_valid"))).head())
    val s = t.call("stack.stats") {
      StackOps.stackStats(tiles).map(st => st.count.foldLeft(0L)(_ + _))
        .agg(count(lit(1)), sum(col("value"))).head()
    }
    val nTrend = t.call("stack.trend")(StackOps.trend(tiles).count())
    val nStencil = t.call("stencil.gauss") {
      Stencil(tiles, ntx, nty, halo = 4)(Stencil.gaussKernel(1.5)).count()
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val (nTiles, validPx) = (w.getLong(0), w.getLong(1))
    val (nStats, countSum) = (s.getLong(0), s.getLong(1))
    checks.check("stencil rows = warp rows", nStencil == nTiles, s"$nStencil vs $nTiles")
    checks.check("stats per-pixel counts = valid tile pixels", countSum == validPx,
      s"$countSum vs $validPx")
    checks.check("stats rows = trend rows", nStats == nTrend, s"$nStats vs $nTrend")
    last = (nTiles, nStats, nTrend)
    PassOut(nImages, seconds)
  }

  /** At seed 0 and 16,000 images the input is `graft.Bench`'s, whose
    * pipeline_counts pin the tile/stats/trend row counts. */
  def finalChecks(checks: Checks): Unit =
    if (offset == 0 && nImages == 16000)
      checks.check("graft.Bench pipeline_counts", last == ((65675L, 3315L, 3315L)), s"$last")

  override def namedMetrics(spans: Seq[Span]): Seq[(String, Double, String, Int)] =
    Seq(Main.p50(spans, "stack_call_s.p50", Set("stack.stats", "stack.trend")),
      Main.p50(spans, "stencil_call_s.p50", Set("stencil.gauss")))

  override def layerCounts(stats: Map[String, ScopeStats], spans: Seq[Span]): Map[String, Double] =
    Map("warp.tiles.rows" -> last._1.toDouble)
}
