package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.sources.{ImageTable, SnapshotTable}

/** Incrementally-maintained per-pixel stack statistics — a MATERIALIZED
  * VIEW over a snapshot-catalog table of stack tiles.
  *
  * The reference recomputes `compute_stats` (`malib.py:559-587`) over the
  * whole stack every run; at 100 TB the stack is a catalog table that new
  * image layers land in continuously (q107's streaming ingest), and a full
  * recompute per arrival is O(history). This operator keeps the per-tile
  * MERGEABLE sufficient statistics (count/Σv/Σv²/min/max per pixel — the
  * same `StatsBuf` the batch aggregator folds) as a second catalog table
  * and advances it per refresh by
  *
  *   1. `SnapshotTable.changes(from, to)` — ONLY the layers committed
  *      since the last refresh (O(delta) scan, file-level);
  *   2. the partial-fold of those layers into per-tile buffers
  *      (one shuffle keyed on tile_id);
  *   3. ONE typed equi-join against the current view rows of the affected
  *      tiles (stats-pruned read) merging old+new buffers element-wise with
  *      a hand-written while-loop (JITs to straight array arithmetic; the
  *      `zip_with` alternative is a CodegenFallback interpreted lambda,
  *      measured ~30× slower — IncrementalView.scala:17-22);
  *   4. a `merge` commit keyed on tile_id — only view files whose tile
  *      range intersects the delta are rewritten (stats-bounded write
  *      amplification), and the refreshed SOURCE VERSION rides in the
  *      manifest as an idempotent-writer marker, so a crashed/replayed
  *      refresh is a no-op, never a double-count.
  *
  * Addition order never matters on integer-valued payloads (exact double
  * sums), so the view is bit-identical to the batch `stackStats` — which
  * is exactly what q108's strict oracle (q41's twin, verbatim) checks.
  */
object StatsView {

  /** One view row: tile id + the raw mergeable buffer (NOT the finished
    * mean/std — finishing is not mergeable; the view stores moments).
    * Arrays are PACKED little-endian binary cells
    * ([[IncrementalView.packD]] family): parquet moves a binary cell as
    * one memcopy where array columns pay a per-element writer call; the
    * bits round-trip exactly, so finished stats are unchanged. */
  final case class MvRow(tile_id: Long, n: Int, cnt: Array[Byte],
                         sum: Array[Byte], sumsq: Array[Byte],
                         vmin: Array[Byte], vmax: Array[Byte])

  /** The batch stats fold re-targeted to emit raw buffers: zero/reduce/
    * merge ARE TileStatsAgg's (one definition of the moments), only finish
    * differs (it packs). */
  private class MvAgg(tileLen: Int, ndv: Float)
      extends Aggregator[TileRow, StackOps.StatsBuf, MvRow] with Serializable {
    private val inner = new StackOps.TileStatsAgg(tileLen, ndv)
    def zero: StackOps.StatsBuf = inner.zero
    def reduce(b: StackOps.StatsBuf, t: TileRow): StackOps.StatsBuf = inner.reduce(b, t)
    def merge(a: StackOps.StatsBuf, b: StackOps.StatsBuf): StackOps.StatsBuf = inner.merge(a, b)
    def finish(b: StackOps.StatsBuf): MvRow = {
      import IncrementalView._
      MvRow(-1L, b.n, packI(b.cnt), packD(b.sum), packD(b.sumsq),
        packF(b.vmin), packF(b.vmax))
    }
    def bufferEncoder: Encoder[StackOps.StatsBuf] = Encoders.product[StackOps.StatsBuf]
    def outputEncoder: Encoder[MvRow] = Encoders.product[MvRow]
  }

  /** Source version the view last folded in, -1 for a fresh view. */
  def refreshedVersion(mvRoot: String, tilesRoot: String): Long =
    IncrementalView.refreshedVersion(mvRoot, tilesRoot, "statsview")

  /** Advance the view at `mvRoot` to cover `tilesRoot`'s current version.
    * Returns the source version now covered (unchanged if already
    * current). Safe to re-run: a refresh that already happened (or raced a
    * twin) is skipped by the manifest marker. Delta fold + old⊕new merge +
    * marker bookkeeping all live in [[IncrementalView.refresh]]; the
    * combine is the SAME element-wise arithmetic as `TileStatsAgg.merge`
    * (delta-first operand order), as a JIT-friendly while-loop. */
  def refresh(spark: SparkSession, tilesRoot: String, mvRoot: String,
              tileSize: Int = Warp.TileSize,
              ndv: Float = ImageTable.Ndv): Long = {
    import IncrementalView._
    val agg = new MvAgg(tileSize * tileSize, ndv)
    IncrementalView.refresh(spark, tilesRoot, mvRoot, "statsview", agg,
      (tid: Long, b: StackOps.StatsBuf) => agg.finish(b).copy(tile_id = tid),
      (d: MvRow, o: MvRow) => MvRow(d.tile_id, d.n + o.n, sumIP(d.cnt, o.cnt),
        sumDP(d.sum, o.sum), sumDP(d.sumsq, o.sumsq),
        minFP(d.vmin, o.vmin), maxFP(d.vmax, o.vmax)))(agg.outputEncoder)
  }

  /** View-table maintenance (tile-sorted compaction + snapshot expiry);
    * refresh markers survive — see [[IncrementalView.maintain]]. */
  def maintain(spark: SparkSession, mvRoot: String, targetFiles: Int = 1,
               keepLast: Int = 3): (Int, Int) =
    IncrementalView.maintain(spark, mvRoot, targetFiles, keepLast)

  /** Finished per-tile statistics from the stored moments — the same
    * emission as `TileStatsAgg.finish`, restated over the view columns so
    * finished values are bit-identical to the batch fold on exact-sum
    * (integer-valued) stacks. */
  def stats(spark: SparkSession, mvRoot: String,
            tileSize: Int = Warp.TileSize,
            ndv: Float = ImageTable.Ndv): DataFrame = {
    import spark.implicits._
    val tileLen = tileSize * tileSize
    SnapshotTable.read(spark, mvRoot).as[MvRow].map { r =>
      import IncrementalView._
      val cnt = unpackI(r.cnt); val sum = unpackD(r.sum)
      val sumsq = unpackD(r.sumsq)
      val vmin = unpackF(r.vmin); val vmax = unpackF(r.vmax)
      val mean = new Array[Float](tileLen); val std = new Array[Float](tileLen)
      val mn = new Array[Float](tileLen); val mx = new Array[Float](tileLen)
      var i = 0
      while (i < tileLen) {
        if (cnt(i) == 0) {
          mean(i) = ndv; std(i) = ndv; mn(i) = ndv; mx(i) = ndv
        } else {
          val m = sum(i) / cnt(i)
          mean(i) = m.toFloat
          std(i) = if (cnt(i) <= 1) ndv
                   else math.sqrt(math.max(0.0, sumsq(i) / cnt(i) - m * m)).toFloat
          mn(i) = vmin(i); mx(i) = vmax(i)
        }
        i += 1
      }
      StackOps.TileStats(r.tile_id, r.n, cnt, mean, std, mn, mx)
    }.toDF()
  }
}
