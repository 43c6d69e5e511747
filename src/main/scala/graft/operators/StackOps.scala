package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.sources.ImageTable

/** Per-pixel stack statistics over aligned tiles — `compute_stats`
  * `malib.py:559-587` and `compute_dt_stats` `malib.py:310-324` — plus the
  * per-pixel OLS trend `ma_linreg` `malib.py:999-1171`.
  *
  * Scale design: the time axis aggregates with VECTOR buffers (one
  * groupBy(tile_id) row per tile, buffer = per-pixel running sums) instead of
  * exploding to (cell, value) rows — a 4096× reduction in shuffled rows, the
  * Spark analog of the reference's batched `linalg.solve` over pixel columns
  * (`malib.py:1076-1092`). The explode path (`toCells`) exists for exact
  * per-pixel median/NMAD and for oracle-style verification at test scale. */
object StackOps {

  final case class StatsBuf(var n: Int, cnt: Array[Int], sum: Array[Double],
                            sumsq: Array[Double], vmin: Array[Float], vmax: Array[Float])
  final case class TileStats(tile_id: Long, n_layers: Int, count: Array[Int],
                             mean: Array[Float], std: Array[Float],
                             vmin: Array[Float], vmax: Array[Float])

  final case class BandTileStats(band: Int, tile_id: Long, n_layers: Int,
                                 count: Array[Int], mean: Array[Float],
                                 std: Array[Float], vmin: Array[Float],
                                 vmax: Array[Float])

  /** count/mean/std/min/max per pixel; std masked (NaN) where count ≤ 1
    * (`malib.py:569`); everything masked where count == 0. */
  class TileStatsAgg(tileLen: Int, ndv: Float)
      extends Aggregator[TileRow, StatsBuf, TileStats] with Serializable {
    def zero: StatsBuf = StatsBuf(0, new Array[Int](tileLen), new Array[Double](tileLen),
      new Array[Double](tileLen), Array.fill(tileLen)(Float.MaxValue),
      Array.fill(tileLen)(Float.MinValue))
    def reduce(b: StatsBuf, t: TileRow): StatsBuf = {
      b.n += 1
      var i = 0
      while (i < tileLen) {
        val v = t.payload(i)
        if (v != ndv) {
          b.cnt(i) += 1; b.sum(i) += v; b.sumsq(i) += v.toDouble * v
          if (v < b.vmin(i)) b.vmin(i) = v
          if (v > b.vmax(i)) b.vmax(i) = v
        }
        i += 1
      }
      b
    }
    def merge(a: StatsBuf, b: StatsBuf): StatsBuf = {
      a.n += b.n
      var i = 0
      while (i < tileLen) {
        a.cnt(i) += b.cnt(i); a.sum(i) += b.sum(i); a.sumsq(i) += b.sumsq(i)
        if (b.vmin(i) < a.vmin(i)) a.vmin(i) = b.vmin(i)
        if (b.vmax(i) > a.vmax(i)) a.vmax(i) = b.vmax(i)
        i += 1
      }
      a
    }
    def finish(b: StatsBuf): TileStats = {
      val mean = new Array[Float](tileLen); val std = new Array[Float](tileLen)
      val mn = new Array[Float](tileLen); val mx = new Array[Float](tileLen)
      var i = 0
      while (i < tileLen) {
        if (b.cnt(i) == 0) {
          mean(i) = ndv; std(i) = ndv; mn(i) = ndv; mx(i) = ndv
        } else {
          val m = b.sum(i) / b.cnt(i)
          mean(i) = m.toFloat
          // population std like np.ma.std (malib.py:568); masked at count<=1
          std(i) = if (b.cnt(i) <= 1) ndv
                   else math.sqrt(math.max(0.0, b.sumsq(i) / b.cnt(i) - m * m)).toFloat
          mn(i) = b.vmin(i); mx(i) = b.vmax(i)
        }
        i += 1
      }
      TileStats(-1L, b.n, b.cnt, mean, std, mn, mx)
    }
    def bufferEncoder: Encoder[StatsBuf] = Encoders.product[StatsBuf]
    def outputEncoder: Encoder[TileStats] = Encoders.product[TileStats]
  }

  /** Explicit width for the CPU-bound vector-fold stages (shared with the
    * incremental views' fused refresh): never below the machine's
    * parallelism, because the ~100-200× compressed shuffle size would let
    * AQE coalesce a decode-bound fold to 1-2 tasks. */
  private[operators] def foldWidth(spark: SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** ONE-shuffle vector fold: co-locate rows by tile, sort each partition
    * by tile_id, and stream one complete group at a time through the
    * aggregator's zero/reduce; `finish(tile_id, buffer)` emits the tile's
    * row. Spark's own hash aggregation holds every group's vector buffer
    * simultaneously and spills (measured 5× slower in round 1); the local
    * sort makes each tile one contiguous run, so a single live buffer per
    * task suffices and finished rows stream straight out. Fold order
    * follows partitioning; outputs are order-independent on the engine's
    * exact-sum payloads (integer-valued floats, dyadic time), as the
    * strict oracle gate checks at two CPU counts. */
  private[operators] def partialFold[B, O: Encoder](
      tiles: Dataset[TileRow], agg: Aggregator[TileRow, B, O])(
      finish: (Long, B) => O): Dataset[O] = {
    // explicit partition count (not AQE-advisory-sized): the fold is
    // CPU-bound per DECODED byte, and the ~100-200× compressed shuffle
    // size would coalesce it to 1-2 tasks (same pathology as the catalog
    // scans). A tile's rows land in one partition regardless of count —
    // one buffer per tile exists in total; the raw-row shuffle is small
    // (payloads compress well) — guide §2.3's "shuffle fewer bytes" here
    // means shuffling rows, not buffers.
    val spark = tiles.sparkSession
    import org.apache.spark.sql.functions.col
    val p = foldWidth(spark)
    val coloc = tiles.repartition(p, col("tile_id"))
      .sortWithinPartitions(col("tile_id"))
    coloc.mapPartitions { it =>
      new scala.collection.AbstractIterator[O] {
        private var cur: TileRow = if (it.hasNext) it.next() else null
        def hasNext: Boolean = cur != null
        def next(): O = {
          val tid = cur.tile_id
          var b = agg.zero
          while (cur != null && cur.tile_id == tid) {
            b = agg.reduce(b, cur)
            cur = if (it.hasNext) it.next() else null
          }
          finish(tid, b)
        }
      }
    }
  }

  def stackStats(tiles: Dataset[TileRow], tileSize: Int = Warp.TileSize,
                 ndv: Float = ImageTable.Ndv): Dataset[TileStats] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val agg = new TileStatsAgg(tileSize * tileSize, ndv)
    partialFold(tiles, agg)((tid, b) => agg.finish(b).copy(tile_id = tid))
  }

  /** Per-band, per-pixel stack stats over multi-band tiles. The band folds
    * into the aggregation key (band-composite tile id: tile_id·nBands +
    * band), so the SAME partial-fold + TileStatsAgg path serves
    * every band and bands aggregate independently — the distributed form
    * of running malib's stack stats once per band (`malib.py:559-587`
    * driven by the `warplib.py:146-153` band loop). One shuffle keyed on
    * (band, tile); no cross-band traffic by construction. */
  def stackStatsBands(tiles: Dataset[BandTileRow], nBands: Int,
                      tileSize: Int = Warp.TileSize,
                      ndv: Float = ImageTable.Ndv): Dataset[BandTileStats] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    require(nBands >= 1, s"nBands $nBands")
    val keyed = tiles.map(b => TileRow(b.image_id, b.ts_us,
      b.tile_id * nBands + b.band, b.tx, b.ty, b.payload, b.n_valid, b.elided))
    stackStats(keyed, tileSize, ndv).map { st =>
      BandTileStats((st.tile_id % nBands).toInt, st.tile_id / nBands,
        st.n_layers, st.count, st.mean, st.std, st.vmin, st.vmax)
    }
  }

  /** Reduce a multi-layer stack to ONE composite layer per tile (per-pixel
    * mean over valid samples) — the reduction `tileDiff` requires on each
    * side (diffing two stacks pairwise is |A|×|B| per tile, not the
    * reference's raster−raster semantics). ts = earliest layer timestamp. */
  def compositeMean(tiles: Dataset[TileRow], tileSize: Int = Warp.TileSize,
                    ndv: Float = ImageTable.Ndv,
                    label: String = "composite"): Dataset[TileRow] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val len = tileSize * tileSize
    tiles.groupByKey(_.tile_id).mapGroups { (tid, it) =>
      val sum = new Array[Double](len); val cnt = new Array[Int](len)
      var tx = 0; var ty = 0; var ts = Long.MaxValue
      it.foreach { t =>
        tx = t.tx; ty = t.ty; if (t.ts_us < ts) ts = t.ts_us
        var i = 0
        while (i < len) {
          val v = t.payload(i)
          if (v != ndv) { sum(i) += v; cnt(i) += 1 }
          i += 1
        }
      }
      val out = new Array[Float](len); var n = 0
      var i = 0
      while (i < len) {
        if (cnt(i) > 0) { out(i) = (sum(i) / cnt(i)).toFloat; n += 1 } else out(i) = ndv
        i += 1
      }
      TileRow(label, ts, tid, tx, ty, out, n, elided = false)
    }.filter(_.n_valid > 0)
  }

  final case class TrendBuf(var n: Int, cnt: Array[Int], st: Array[Double],
                            stt: Array[Double], sy: Array[Double], sty: Array[Double],
                            syy: Array[Double],
                            tmin: Array[Double], tmax: Array[Double])
  final case class TileTrend(tile_id: Long, count: Array[Int],
                             slope_yr: Array[Float], intercept: Array[Float],
                             r2: Array[Float], t_stat: Array[Float])

  /** Per-pixel OLS via normal-equation sums (`malib.py:1084-1092`); gates:
    * count ≥ nThresh (`malib.py:1014-1016`) and time-spread ≥ minDtPtp days
    * (`malib.py:1020-1025`); slope ×365.25 → units/yr (`malib.py:1169`).
    * t in days, internally shifted by the first layer's day (shift-invariant
    * slope/r2/T0; conditions the t² sums). Diagnostics per the rsq/conf_test
    * blocks (`malib.py:1139-1156`): r2 = SSreg/SStot, T0 = slope/SE with
    * SE = √(SSres/(n−2)/Sxx); with `confTest`, slope/intercept are masked
    * where |T0| ≤ t_{α/2, n−2} (the scipy t.ppf gate, here graft TDist). */
  class TileTrendAgg(tileLen: Int, ndv: Float, nThresh: Int, minDtPtp: Double,
                     confTest: Boolean = false, alpha: Double = 0.05,
                     diagnostics: Boolean = true)
      extends Aggregator[TileRow, TrendBuf, TileTrend] with Serializable {
    // r²/T0 need Σy² (the syy sums); confTest masks on T0, so it implies them
    require(diagnostics || !confTest, "confTest requires diagnostics sums")
    def zero: TrendBuf = TrendBuf(0, new Array[Int](tileLen), new Array[Double](tileLen),
      new Array[Double](tileLen), new Array[Double](tileLen), new Array[Double](tileLen),
      new Array[Double](tileLen),
      Array.fill(tileLen)(Double.MaxValue), Array.fill(tileLen)(Double.MinValue))
    def reduce(b: TrendBuf, r: TileRow): TrendBuf = {
      b.n += 1
      val t = r.ts_us / 86400e6 - 20000.0
      var i = 0
      while (i < tileLen) {
        val v = r.payload(i)
        if (v != ndv) {
          b.cnt(i) += 1; b.st(i) += t; b.stt(i) += t * t; b.sy(i) += v; b.sty(i) += t * v
          if (diagnostics) b.syy(i) += v.toDouble * v
          if (t < b.tmin(i)) b.tmin(i) = t
          if (t > b.tmax(i)) b.tmax(i) = t
        }
        i += 1
      }
      b
    }
    def merge(a: TrendBuf, b: TrendBuf): TrendBuf = {
      a.n += b.n
      var i = 0
      while (i < tileLen) {
        a.cnt(i) += b.cnt(i); a.st(i) += b.st(i); a.stt(i) += b.stt(i)
        a.sy(i) += b.sy(i); a.sty(i) += b.sty(i); a.syy(i) += b.syy(i)
        if (b.tmin(i) < a.tmin(i)) a.tmin(i) = b.tmin(i)
        if (b.tmax(i) > a.tmax(i)) a.tmax(i) = b.tmax(i)
        i += 1
      }
      a
    }
    def finish(b: TrendBuf): TileTrend = {
      val slope = new Array[Float](tileLen); val icpt = new Array[Float](tileLen)
      val r2 = new Array[Float](tileLen); val tstat = new Array[Float](tileLen)
      // t_{α/2, df} memo — one inversion per distinct sample count
      val critMemo = scala.collection.mutable.HashMap.empty[Int, Double]
      var i = 0
      while (i < tileLen) {
        val n = b.cnt(i)
        val ptp = if (n > 0) b.tmax(i) - b.tmin(i) else 0.0
        slope(i) = ndv; icpt(i) = ndv; r2(i) = ndv; tstat(i) = ndv
        if (n >= nThresh && ptp >= minDtPtp) {
          val det = n * b.stt(i) - b.st(i) * b.st(i)
          if (det != 0.0) {
            val sl = (n * b.sty(i) - b.st(i) * b.sy(i)) / det
            val ic = (b.sy(i) - sl * b.st(i)) / n
            var keep = true
            if (diagnostics) {
              val sxx = b.stt(i) - b.st(i) * b.st(i) / n
              val sxy = b.sty(i) - b.st(i) * b.sy(i) / n
              val syyC = b.syy(i) - b.sy(i) * b.sy(i) / n
              val ssres = syyC - sl * sxy
              if (syyC > 0) r2(i) = (sl * sxy / syyC).toFloat
              if (n > 2) {
                if (ssres > 0) {
                  val se = math.sqrt(ssres / (n - 2) / sxx)
                  val t0 = sl / se
                  tstat(i) = t0.toFloat
                  if (confTest) {
                    val ta = critMemo.getOrElseUpdate(n,
                      graft.functions.TDist.crit(alpha, n - 2.0))
                    keep = math.abs(t0) > ta // malib.py:1153-1156 (mask insignificant)
                  }
                } // ssres == 0: perfect fit, T0 → ∞, always significant
              } else if (confTest) keep = false // df < 1: no significance evidence
            }
            if (keep) {
              slope(i) = (sl * 365.25).toFloat
              // intercept reported at t=0 epoch days (undo the -20000 shift)
              icpt(i) = (ic - sl * 20000.0).toFloat
            }
          }
        }
        i += 1
      }
      TileTrend(-1L, b.cnt, slope, icpt, r2, tstat)
    }
    def bufferEncoder: Encoder[TrendBuf] = Encoders.product[TrendBuf]
    def outputEncoder: Encoder[TileTrend] = Encoders.product[TileTrend]
  }

  def trend(tiles: Dataset[TileRow], tileSize: Int = Warp.TileSize,
            ndv: Float = ImageTable.Ndv, nThresh: Int = 2,
            minDtPtp: Double = 0.0, confTest: Boolean = false,
            alpha: Double = 0.05,
            diagnostics: Boolean = true): Dataset[TileTrend] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val agg = new TileTrendAgg(tileSize * tileSize, ndv, nThresh, minDtPtp, confTest,
      alpha, diagnostics)
    partialFold(tiles, agg)((tid, b) => agg.finish(b).copy(tile_id = tid))
  }

  /** The reference's default time-spread gate when none is given
    * (`malib.py:1020-1025`): 10 % of the 96th percentile of the per-pixel
    * date range. Exact percentile here (test scale); at 100 TB swap in
    * percentile_approx — the gate is a heuristic, not an oracle surface. */
  def autoMinDtPtp(tiles: Dataset[TileRow], tileSize: Int = Warp.TileSize,
                   ndv: Float = ImageTable.Ndv): Double = {
    val dt = dtStats(tiles, tileSize, ndv).toDF()
      .select(explode(col("ptp_us")).as("ptp_us"))
      .filter(col("ptp_us") >= 0)
    val p96 = dt.agg(expr("percentile(ptp_us, 0.96)")).head().getDouble(0)
    0.10 * p96 / 86400e6
  }

  /** Per-pixel first/last valid timestamp + ptp + center —
    * `compute_dt_stats` `malib.py:310-324` — via min/max ts vector agg. */
  final case class DtBuf(tmin: Array[Long], tmax: Array[Long])
  final case class TileDt(tile_id: Long, t_first_us: Array[Long], t_last_us: Array[Long],
                          ptp_us: Array[Long], center_us: Array[Long])

  class TileDtAgg(tileLen: Int, ndv: Float)
      extends Aggregator[TileRow, DtBuf, TileDt] with Serializable {
    def zero: DtBuf = DtBuf(Array.fill(tileLen)(Long.MaxValue), Array.fill(tileLen)(Long.MinValue))
    def reduce(b: DtBuf, r: TileRow): DtBuf = {
      var i = 0
      while (i < tileLen) {
        if (r.payload(i) != ndv) {
          if (r.ts_us < b.tmin(i)) b.tmin(i) = r.ts_us
          if (r.ts_us > b.tmax(i)) b.tmax(i) = r.ts_us
        }
        i += 1
      }
      b
    }
    def merge(a: DtBuf, b: DtBuf): DtBuf = {
      var i = 0
      while (i < tileLen) {
        if (b.tmin(i) < a.tmin(i)) a.tmin(i) = b.tmin(i)
        if (b.tmax(i) > a.tmax(i)) a.tmax(i) = b.tmax(i)
        i += 1
      }
      a
    }
    def finish(b: DtBuf): TileDt = {
      val f = new Array[Long](tileLen); val l = new Array[Long](tileLen)
      val p = new Array[Long](tileLen); val c = new Array[Long](tileLen)
      var i = 0
      while (i < tileLen) {
        if (b.tmin(i) == Long.MaxValue) { f(i) = -1; l(i) = -1; p(i) = -1; c(i) = -1 }
        else {
          f(i) = b.tmin(i); l(i) = b.tmax(i)
          val ptp = b.tmax(i) - b.tmin(i)
          p(i) = if (ptp == 0) -1 else ptp        // ptp masked where 0, malib.py:322
          c(i) = b.tmin(i) + ptp / 2
        }
        i += 1
      }
      TileDt(-1L, f, l, p, c)
    }
    def bufferEncoder: Encoder[DtBuf] = Encoders.product[DtBuf]
    def outputEncoder: Encoder[TileDt] = Encoders.product[TileDt]
  }

  def dtStats(tiles: Dataset[TileRow], tileSize: Int = Warp.TileSize,
              ndv: Float = ImageTable.Ndv): Dataset[TileDt] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val agg = new TileDtAgg(tileSize * tileSize, ndv)
    partialFold(tiles, agg)((tid, b) => agg.finish(b).copy(tile_id = tid))
  }

  /** Long form: one row per valid pixel — `get_xyz` `malib.py:1854-1859`
    * (tile → pixels explode). Exact median/NMAD and any relational op run
    * from here; at scale use only after heavy filtering. */
  def toCells(tiles: Dataset[TileRow], tileSize: Int = Warp.TileSize,
              ndv: Float = ImageTable.Ndv): DataFrame = {
    tiles.toDF()
      .select(col("image_id"), col("ts_us"), col("tile_id"),
        posexplode(col("payload")).as(Seq("pidx", "v")))
      .filter(col("v") =!= ndv)
      .select(col("image_id"), col("ts_us"),
        (col("tile_id") * (tileSize * tileSize) + col("pidx")).as("cell_id"),
        col("v"))
  }

  /** Guarded per-cell OLS from (cell_id, t, y): degenerate cells (n=1 or
    * zero time spread → det=0) yield NULL slope instead of an ANSI-mode
    * DIVIDE_BY_ZERO (Spark 4 defaults ANSI on). */
  private def fitOls(cells: DataFrame): DataFrame =
    cells.groupBy(col("cell_id")).agg(
        count(lit(1)).as("n"), sum(col("t")).as("st"), sum(col("t") * col("t")).as("stt"),
        sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sty"))
      .withColumn("det", col("n") * col("stt") - col("st") * col("st"))
      .select(col("cell_id"), col("n"),
        when(col("det") =!= 0.0,
          (col("n") * col("sty") - col("st") * col("sy")) / col("det")).as("slope"),
        when(col("det") =!= 0.0,
          (col("sy") - (col("n") * col("sty") - col("st") * col("sy")) / col("det") * col("st"))
            / col("n")).as("icpt"))

  /** OLS with iterative 3σ residual-outlier removal — `ma_linreg`
    * `malib.py:1103-1120`: fit, drop samples with |residual| > 3·σ_resid,
    * refit; at most `maxIter` rounds (reference caps at 3), stopping early
    * when no samples were removed. Long-form cells in, per-cell slope out.
    * Each round is one groupBy agg + one join — the chained-passes plan
    * from SURVEY §2.5. */
  def trendOutlierIter(cells0: DataFrame, nThresh: Int = 2,
                       maxIter: Int = 3, sigma: Double = 3.0): DataFrame = {
    var cells = cells0.select(col("cell_id"),
      (col("ts_us").cast("double") / 86400e6).as("t"), col("v").cast("double").as("y"))
    // one action per round: carry the survivor count forward instead of
    // re-counting the previous round's plan (was 2 count() jobs/round)
    var prevCount = cells.count()
    var prevCached: DataFrame = null
    var it = 0
    var changed = true
    while (it < maxIter && changed) {
      val fit = fitOls(cells)
      val withResid = cells.join(fit, Seq("cell_id"))
        .withColumn("resid", col("y") - (col("slope") * col("t") + col("icpt")))
      // detrended spread = NMAD of residuals (malib.py:1101) — robust, so
      // the outlier cannot inflate its own rejection threshold
      val rmed = withResid.groupBy(col("cell_id"))
        .agg(expr("percentile(resid, 0.5)").as("rmed"))
      val bounds = withResid.join(rmed, Seq("cell_id"))
        .groupBy(col("cell_id"))
        .agg(expr("1.4826 * percentile(abs(resid - rmed), 0.5)").as("rstd"))
      val filtered = withResid.join(bounds, Seq("cell_id"))
        .filter(col("resid").isNull || col("rstd").isNull || col("rstd") === 0.0 ||
                abs(col("resid")) <= col("rstd") * sigma)
        .select(col("cell_id"), col("t"), col("y"))
        .cache()
      val after = filtered.count() // materializes the new cache
      if (prevCached != null) prevCached.unpersist()
      prevCached = filtered
      changed = after < prevCount
      prevCount = after
      cells = filtered
      it += 1
    }
    // refit on the final survivor set (the reference refits after removal),
    // then materialize (lineage-truncated, ContextCleaner-managed blocks) so
    // the round-local cache can be released — long-lived sessions must not
    // accumulate one orphaned CacheManager entry per invocation
    val out = fitOls(cells)
      .filter(col("n") >= nThresh && col("slope").isNotNull)
      .select(col("cell_id"), col("n"), (col("slope") * 365.25).as("slope_yr"),
              col("icpt").as("intercept"))
      .localCheckpoint(true)
    if (prevCached != null) prevCached.unpersist(false)
    out
  }

  /** Robust per-cell Theil–Sen trend from long form — the `ma_linreg`
    * robust variant (`malib.py:960-998`: TheilSen via sklearn + mp.Pool;
    * here the median of pairwise slopes per cell, O(n²) per cell, run as a
    * grouped fold — the shuffle-by-pixel the reference's process pool
    * approximates). Gates mirror OLS: count ≥ nThresh, time-spread > 0. */
  def theilSen(cells: DataFrame, nThresh: Int = 2): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    cells.select(col("cell_id"), col("ts_us"), col("v"))
      .as[(Long, Long, Float)]
      .groupByKey(_._1)
      .mapGroups { (cell, it) =>
        val pts = it.map(r => (r._2 / 86400e6, r._3.toDouble)).toArray
        if (pts.length < nThresh || pts.map(_._1).distinct.length < 2) {
          (cell, pts.length, Double.NaN, Double.NaN)
        } else {
          val slopes = for {
            i <- pts.indices; j <- (i + 1) until pts.length
            if pts(j)._1 != pts(i)._1
          } yield (pts(j)._2 - pts(i)._2) / (pts(j)._1 - pts(i)._1)
          val ss = slopes.sorted
          val slope = if (ss.length % 2 == 1) ss(ss.length / 2)
                      else (ss(ss.length / 2 - 1) + ss(ss.length / 2)) / 2
          // intercept = median(y - slope*t), the standard Theil-Sen form
          val ic = pts.map { case (t, y) => y - slope * t }.sorted
          val icpt = if (ic.length % 2 == 1) ic(ic.length / 2)
                     else (ic(ic.length / 2 - 1) + ic(ic.length / 2)) / 2
          (cell, pts.length, slope * 365.25, icpt)
        }
      }
      .toDF("cell_id", "n", "slope_yr", "intercept")
  }

  /** RANSAC per-cell line fit — the `ma_linreg` robust variant
    * (`malib.py:960-993` runs sklearn's RANSACRegressor): `trials`
    * deterministic 2-point hypotheses per cell (indices from a splitmix
    * hash of (cell, trial) — no RNG state, partition-invariant), inliers =
    * |residual| ≤ max(absThresh, NMAD of y) (sklearn's default threshold is
    * the MAD of y), best trial = max inliers with lowest-trial tie-break,
    * final slope = OLS over the winning inlier set. Gates mirror OLS. */
  def ransac(cells: DataFrame, nThresh: Int = 2, trials: Int = 16,
             absThresh: Double = 0.0): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    cells.select(col("cell_id"), col("ts_us"), col("v"))
      .as[(Long, Long, Float)]
      .groupByKey(_._1)
      .mapGroups { (cell, it) =>
        val pts = it.map(r => (r._2 / 86400e6, r._3.toDouble)).toArray
          .sortBy(p => (p._1, p._2)) // deterministic order independent of shuffle
        val n = pts.length
        if (n < nThresh || pts.map(_._1).distinct.length < 2) {
          (cell, n, Double.NaN, Double.NaN, 0)
        } else {
          val ys = pts.map(_._2).sorted
          val med = if (n % 2 == 1) ys(n / 2) else (ys(n / 2 - 1) + ys(n / 2)) / 2
          val devs = pts.map(p => math.abs(p._2 - med)).sorted
          val mad = if (n % 2 == 1) devs(n / 2) else (devs(n / 2 - 1) + devs(n / 2)) / 2
          val thr = math.max(absThresh, math.max(1.4826 * mad, 1e-9))
          var bestInliers: Array[Int] = null
          var t = 0
          while (t < trials) {
            val i = (math.floorMod(mix(cell * 1000003L + t), n.toLong)).toInt
            var j = (math.floorMod(mix(cell * 998244353L + t * 31L + 7L), n.toLong)).toInt
            if (j == i) j = (j + 1) % n
            if (pts(i)._1 != pts(j)._1) {
              val sl = (pts(j)._2 - pts(i)._2) / (pts(j)._1 - pts(i)._1)
              val ic = pts(i)._2 - sl * pts(i)._1
              val inl = (0 until n).filter(q =>
                math.abs(pts(q)._2 - (sl * pts(q)._1 + ic)) <= thr).toArray
              if (bestInliers == null || inl.length > bestInliers.length)
                bestInliers = inl
            }
            t += 1
          }
          if (bestInliers == null || bestInliers.length < nThresh) {
            (cell, n, Double.NaN, Double.NaN, 0)
          } else {
            // OLS refit over the winning inlier set
            val sel = bestInliers.map(pts)
            val m = sel.length.toDouble
            val st = sel.map(_._1).sum; val sy = sel.map(_._2).sum
            val stt = sel.map(p => p._1 * p._1).sum
            val sty = sel.map(p => p._1 * p._2).sum
            val det = m * stt - st * st
            if (det == 0.0) (cell, n, Double.NaN, Double.NaN, sel.length)
            else {
              val sl = (m * sty - st * sy) / det
              (cell, n, sl * 365.25, (sy - sl * st) / m, sel.length)
            }
          }
        }
      }
      .toDF("cell_id", "n", "slope_yr", "intercept", "n_inliers")
  }

  /** Stack clip by cell-range predicate — `stack_clip` `malib.py:733-816`:
    * keep only tiles intersecting a pixel-window of the target grid (the
    * partition-pruning form of the reference's crop + gt update). */
  def stackClip(tiles: Dataset[TileRow], tx0: Int, ty0: Int, tx1: Int, ty1: Int): Dataset[TileRow] =
    tiles.filter(t => t.tx >= tx0 && t.tx <= tx1 && t.ty >= ty0 && t.ty <= ty1)

  /** Layer subset — `get_stack_subset` `malib.py:820-884`: boolean predicate
    * over layer metadata (here: a time window on ts_us). */
  def stackSubset(tiles: Dataset[TileRow], tsMinUs: Long, tsMaxUs: Long): Dataset[TileRow] =
    tiles.filter(t => t.ts_us >= tsMinUs && t.ts_us <= tsMaxUs)

  /** Exact per-cell median + NMAD from long form (`fast_median`/`mad`
    * `malib.py:1499-1532`): two exact percentile passes. */
  def cellMedianNmad(cells: DataFrame): DataFrame = {
    val med = cells.groupBy(col("cell_id"))
      .agg(expr("percentile(v, 0.5)").as("med"))
    cells.join(med, Seq("cell_id"))
      .groupBy(col("cell_id"))
      .agg(first(col("med")).as("med"),
           expr("1.4826 * percentile(abs(v - med), 0.5)").as("nmad"))
  }
}
