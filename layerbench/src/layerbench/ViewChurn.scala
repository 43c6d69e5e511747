package layerbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{StackOps, StatsView, TileRow, TrendView, Warp}
import graft.sources.{ImageTable, SnapshotTable}

/** Write path: the churn history of the engine's q111 protocol against a
  * fresh catalog root each pass — append b0, append b1, corrupting merge of
  * b0, restoring merge of b0, delete b1, re-append b1, append b2 — with a
  * `StatsView.refresh` and a `TrendView.refresh` after every commit. The
  * tiles (and the corrupted b0) are warped and cached in set-up, so a pass
  * times only the catalog and the views. One work item = one
  * version committed and refreshed into both views. */
final class ViewChurn(spark: SparkSession, a: Args) extends Workload {
  import spark.implicits._

  /** Image indices scanned; the kept subset is the quantised, exact-time one
    * (index ≡ 0 mod 3, 8-bit formats), on which the views' double sums are
    * exact and must equal the batch folds bit for bit. */
  val nIndices: Int = if (a.tiny) 360 else 600
  val offset: Int = (math.floorMod(a.seed, 1000L) * ImageTable.ClusterSize * ImageTable.ClusterCols).toInt
  val BatchSql = "(CAST(substring(image_id, 5, 8) AS INT) DIV 6) % 3"
  val PayloadBytes: Long = 4L * Warp.TileSize * Warp.TileSize

  val itemsName = ("versions_per_s", "versions/s")
  val Writes = Set("catalog.commit", "catalog.merge", "catalog.delete")
  val Refreshes = Set("view.stats_refresh", "view.trend_refresh")
  /** One pass is 21 calls (about 15 s); its medians draw on 7 writes and
    * 14 refreshes. */
  override def minPasses: Int = 1
  val nominalPassS = 15.0

  private var images: DataFrame = _
  private var tiles: DataFrame = _
  /** Views over the cached tiles, one per batch. */
  private var batches: IndexedSeq[DataFrame] = _
  private var corrupt0: DataFrame = _
  private var rows: IndexedSeq[Long] = _
  private var passNo = 0
  private var root: String = _
  private var diskBytes = 0L

  def build(): Unit = {
    val off = offset
    images = spark.range(off, off + nIndices, 1, 16)
      .filter(i => i % 3 == 0 && ImageTable.fmtOf(i.toInt) != "raw")
      .map(i => ImageTable.row(i.toInt, spread = true)).toDF().cache()
    val target = Warp.analyze(images, "min", "union")
    tiles = Warp.warpToTiles(spark, images, target, "near").toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)
    batches = (0 until 3).map(b => tiles.filter(expr(BatchSql) === b))
    rows = batches.map(_.count())
    val ndv = ImageTable.Ndv
    corrupt0 = batches(0).as[TileRow].map { t =>
      t.copy(payload = t.payload.map(v => if (v == ndv) v else v + 1.0f))
    }.toDF().persist(StorageLevel.MEMORY_AND_DISK)
    corrupt0.count()
  }

  def release(): Unit =
    Seq(images, tiles, corrupt0).foreach(_.unpersist(blocking = true))

  private def tilesRoot = s"$root/tiles"
  private def statsRoot = s"$root/stats"
  private def trendRoot = s"$root/trend"

  private val keys = Seq("image_id", "tile_id")
  private def commit(b: => DataFrame): (String, () => Unit) =
    ("catalog.commit", () => SnapshotTable.commit(spark, tilesRoot, b))
  private def merge(b: => DataFrame): (String, () => Unit) =
    ("catalog.merge", () => SnapshotTable.merge(spark, tilesRoot, b, keys))
  private def delete(batch: Int): (String, () => Unit) =
    ("catalog.delete", () => SnapshotTable.delete(spark, tilesRoot, expr(s"$BatchSql = $batch")))

  /** The q111 churn history, one write per version. */
  private def history = Seq(commit(batches(0)), commit(batches(1)), merge(corrupt0),
    merge(batches(0)), delete(1), commit(batches(1)), commit(batches(2)))

  /** Writes `steps` against a fresh catalog root, refreshing both views
    * after each; returns the seconds the calls took. */
  private def run(t: Trace, checks: Checks, steps: Seq[(String, () => Unit)]): Double = {
    cleanup()
    passNo += 1
    root = s"${a.work}/churn-$passNo"
    var seconds = 0.0
    for (((scope, write), i) <- steps.zipWithIndex) {
      val v = i + 1
      val t0 = System.nanoTime()
      t.call(scope)(write())
      val s = t.call("view.stats_refresh")(StatsView.refresh(spark, tilesRoot, statsRoot))
      val r = t.call("view.trend_refresh")(TrendView.refresh(spark, tilesRoot, trendRoot))
      seconds += (System.nanoTime() - t0) / 1e9
      checks.check(s"views cover v$v", s == v && r == v, s"stats v$s, trend v$r")
    }
    seconds
  }

  def pass(t: Trace, checks: Checks): PassOut = {
    val steps = history
    val seconds = run(t, checks, steps)
    val files = Files.walk(Paths.get(tilesRoot))
    try diskBytes = files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally files.close()
    PassOut(steps.size, seconds)
  }

  /** An append and a merge, each followed by both refreshes, instead of the
    * whole history: the calls that dominate a pass, warmed once. */
  override def warmUp(t: Trace, checks: Checks): Unit =
    run(t, checks, Seq(commit(batches(0)), merge(corrupt0)))

  /** The views after the last pass against the batch folds over the
    * catalog's final version, compared column by column per tile. */
  def finalChecks(checks: Checks): Unit = {
    val live = SnapshotTable.read(spark, tilesRoot).as[TileRow]
    def mismatches(view: DataFrame, batch: DataFrame): Long = {
      val cols = batch.columns.filter(_ != "tile_id")
      val v = view.select(col("tile_id") +: cols.map(c => col(c).as(s"v_$c")): _*)
      v.join(batch, Seq("tile_id"), "full_outer")
        .filter(not(cols.map(c => col(s"v_$c") <=> col(c)).reduce(_ && _))).count()
    }
    val nTiles = live.select("tile_id").distinct().count()
    checks.check("final version has tiles", nTiles > 0)
    val ms = mismatches(StatsView.stats(spark, statsRoot), StackOps.stackStats(live).toDF())
    checks.check("StatsView.stats = StackOps.stackStats(final version)", ms == 0, s"$ms of $nTiles tiles differ")
    val mt = mismatches(TrendView.trend(spark, trendRoot), StackOps.trend(live).toDF())
    checks.check("TrendView.trend = StackOps.trend(final version)", mt == 0, s"$mt of $nTiles tiles differ")
  }

  override def namedMetrics(spans: Seq[Span]): Seq[(String, Double, String, Int)] =
    Seq(Main.p50(spans, "commit_s.p50", Writes), Main.p50(spans, "refresh_s.p50", Refreshes))

  override def layerCounts(stats: Map[String, ScopeStats], spans: Seq[Span]): Map[String, Double] = {
    val passes = spans.count(_.name == "pass")
    val written = Writes.toSeq.flatMap(stats.get).map(_.outputBytes).sum
    // payload rows handed to commit/merge in one pass: b0, b1, b0', b0, b1, b2
    val logical = (3 * rows(0) + 2 * rows(1) + rows(2)) * PayloadBytes
    Map("catalog.bytes_written" -> written.toDouble / math.max(1, passes),
      "catalog.write_amp" -> diskBytes.toDouble / logical,
      "view.refresh_s.p90" -> Main.percentile(spans.filter(s => Refreshes(s.name)).map(_.seconds), 0.9))
  }

  override def cleanup(): Unit = if (root != null) SnapshotTable.deleteRecursively(root)
}
