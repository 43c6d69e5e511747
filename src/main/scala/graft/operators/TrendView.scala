package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.sources.{ImageTable, SnapshotTable}

/** Incrementally-maintained per-pixel OLS trend — [[StatsView]]'s sibling
  * over the normal-equation sufficient statistics (per-pixel Σt, Σt², Σv,
  * Σtv, Σv², count, t-envelope: the `TileTrendAgg` buffer, `malib.py:
  * 1084-1092`). The reference refits the whole stack per run (`ma_linreg`
  * `malib.py:999-1171`); at 100 TB with layers landing continuously the
  * refit is O(history) per arrival, while this view advances by
  * `SnapshotTable.changes` CDC in O(delta) and re-finishes only affected
  * tiles.
  *
  * The OLS time coordinate is t = ts_us/86 400e6 − 20 000 (days, epoch-
  * shifted); on the engine's day+3-hour-grid fixtures t is DYADIC and
  * payloads integer-valued, so every moment sum is exact in double and the
  * incrementally-merged buffers are bit-identical to the batch fold under
  * ANY commit grouping — q110's strict oracle is q42's DuckDB twin
  * verbatim. The finish arithmetic is NOT re-stated here: stored moments
  * are loaded back into a `TrendBuf` and run through the same
  * `TileTrendAgg.finish` as the batch path (one definition of the
  * normal-equation chain, `StackOps.scala:250-295`). */
object TrendView {

  /** One view row: tile id + the raw mergeable OLS buffer (finishing —
    * slope/r²/T0 — is not mergeable; the view stores moments). */
  final case class MvRow(tile_id: Long, n: Int, cnt: Array[Byte],
                         st: Array[Byte], stt: Array[Byte],
                         sy: Array[Byte], sty: Array[Byte],
                         syy: Array[Byte],
                         tmin: Array[Byte], tmax: Array[Byte])

  /** The batch trend fold re-targeted to emit raw buffers: zero/reduce/
    * merge ARE TileTrendAgg's, only finish differs. */
  private[operators] class MvAgg(tileLen: Int, ndv: Float)
      extends Aggregator[TileRow, StackOps.TrendBuf, MvRow] with Serializable {
    private val inner = new StackOps.TileTrendAgg(tileLen, ndv, nThresh = 2,
      minDtPtp = 0.0)
    def zero: StackOps.TrendBuf = inner.zero
    def reduce(b: StackOps.TrendBuf, t: TileRow): StackOps.TrendBuf = inner.reduce(b, t)
    def merge(a: StackOps.TrendBuf, b: StackOps.TrendBuf): StackOps.TrendBuf = inner.merge(a, b)
    def finish(b: StackOps.TrendBuf): MvRow = {
      import IncrementalView._
      MvRow(-1L, b.n, packI(b.cnt), packD(b.st), packD(b.stt), packD(b.sy),
        packD(b.sty), packD(b.syy), packD(b.tmin), packD(b.tmax))
    }
    def bufferEncoder: Encoder[StackOps.TrendBuf] = Encoders.product[StackOps.TrendBuf]
    def outputEncoder: Encoder[MvRow] = Encoders.product[MvRow]
  }

  /** Source version the view last folded in, -1 for a fresh view. */
  def refreshedVersion(mvRoot: String, tilesRoot: String): Long =
    IncrementalView.refreshedVersion(mvRoot, tilesRoot, "trendview")

  /** Element-wise old⊕new (`TileTrendAgg.merge`'s arithmetic, delta-first
    * operand order) as a JIT-friendly while-loop. */
  private[operators] def combineRows(d: MvRow, o: MvRow): MvRow = {
    import IncrementalView._
    MvRow(d.tile_id, d.n + o.n, sumIP(d.cnt, o.cnt), sumDP(d.st, o.st),
      sumDP(d.stt, o.stt), sumDP(d.sy, o.sy), sumDP(d.sty, o.sty),
      sumDP(d.syy, o.syy), minDP(d.tmin, o.tmin), maxDP(d.tmax, o.tmax))
  }

  /** Advance the view at `mvRoot` to cover `tilesRoot`'s current version.
    * Same contract as [[StatsView.refresh]]; the combine is
    * `TileTrendAgg.merge`'s element-wise arithmetic (delta-first operand
    * order) as a JIT-friendly while-loop. */
  def refresh(spark: SparkSession, tilesRoot: String, mvRoot: String,
              tileSize: Int = Warp.TileSize,
              ndv: Float = ImageTable.Ndv): Long = {
    val agg = new MvAgg(tileSize * tileSize, ndv)
    IncrementalView.refresh(spark, tilesRoot, mvRoot, "trendview", agg,
      (tid: Long, b: StackOps.TrendBuf) => agg.finish(b).copy(tile_id = tid),
      combineRows)(agg.outputEncoder)
  }

  /** View-table maintenance (tile-sorted compaction + snapshot expiry);
    * refresh markers survive — see [[IncrementalView.maintain]]. */
  def maintain(spark: SparkSession, mvRoot: String, targetFiles: Int = 1,
               keepLast: Int = 3): (Int, Int) =
    IncrementalView.maintain(spark, mvRoot, targetFiles, keepLast)

  /** Finished per-tile OLS from the stored moments — the batch
    * `TileTrendAgg.finish` run over a `TrendBuf` reconstructed from view
    * rows, so slope/intercept/r²/T0 are the same correctly-rounded doubles
    * as `StackOps.trend` on the full stack. Gate parameters mirror
    * `trend`'s. */
  def trend(spark: SparkSession, mvRoot: String,
            tileSize: Int = Warp.TileSize,
            ndv: Float = ImageTable.Ndv, nThresh: Int = 2,
            minDtPtp: Double = 0.0, confTest: Boolean = false,
            alpha: Double = 0.05,
            diagnostics: Boolean = true): DataFrame = {
    import spark.implicits._
    val tileLen = tileSize * tileSize
    val fin = new StackOps.TileTrendAgg(tileLen, ndv, nThresh, minDtPtp,
      confTest, alpha, diagnostics)
    SnapshotTable.read(spark, mvRoot).as[MvRow].map { r =>
      import IncrementalView._
      fin.finish(StackOps.TrendBuf(r.n, unpackI(r.cnt), unpackD(r.st),
        unpackD(r.stt), unpackD(r.sy), unpackD(r.sty), unpackD(r.syy),
        unpackD(r.tmin), unpackD(r.tmax))).copy(tile_id = r.tile_id)
    }.toDF()
  }
}
