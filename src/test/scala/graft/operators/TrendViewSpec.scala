package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ImageTable, SnapshotTable}

/** Incremental materialized OLS trend: bit-equality with the batch fold on
  * exact-time stacks (dyadic t → associative moment sums), replay-safe
  * markers, and finish-parameter passthrough (confTest gating applied at
  * read time over the SAME stored moments). */
class TrendViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshRoot(tag: String): String = {
    val r = s"/tmp/graft_tv_test_$tag"
    SnapshotTable.deleteRecursively(r); r
  }

  // hour = idx % 24; keep multiples of 3 so t = day + hr/24 is dyadic and
  // every normal-equation sum is exact (the q42/q110 oracle precondition)
  private val idx = substring(col("image_id"), 5, 8).cast("int")

  test("view after N incremental refreshes == batch trend, bit for bit") {
    import spark.implicits._
    val tilesRoot = freshRoot("eq_t"); val mvRoot = freshRoot("eq_mv")
    val images = ImageTable.generate(spark, 54).filter(idx % 3 === 0)
    val target = Warp.analyze(images, "min", "union")
    (0 until 3).foreach { b =>
      SnapshotTable.commit(spark, tilesRoot,
        Warp.warpToTiles(spark, images.filter(floor(idx / 3) % 3 === b),
          target, "near").toDF())
      assert(TrendView.refresh(spark, tilesRoot, mvRoot) == b + 1)
    }
    val incr = TrendView.trend(spark, mvRoot).as[StackOps.TileTrend]
      .collect().map(s => s.tile_id -> s).toMap
    val batch = StackOps.trend(
      Warp.warpToTiles(spark, images, target, "near")).collect()
    assert(batch.nonEmpty && incr.size == batch.length)
    batch.foreach { s =>
      val i = incr(s.tile_id)
      assert(i.count.toSeq == s.count.toSeq &&
        i.slope_yr.toSeq == s.slope_yr.toSeq &&
        i.intercept.toSeq == s.intercept.toSeq &&
        i.r2.toSeq == s.r2.toSeq && i.t_stat.toSeq == s.t_stat.toSeq,
        s"tile ${s.tile_id}")
    }
    // a pixel-bearing tile actually fit something (not a vacuous pass)
    assert(batch.exists(_.slope_yr.exists(_ != ImageTable.Ndv)))
  }

  test("finish gates run at read time over the same stored moments") {
    import spark.implicits._
    val tilesRoot = freshRoot("gate_t"); val mvRoot = freshRoot("gate_mv")
    val images = ImageTable.generate(spark, 36).filter(idx % 3 === 0)
    val target = Warp.analyze(images, "min", "union")
    SnapshotTable.commit(spark, tilesRoot,
      Warp.warpToTiles(spark, images, target, "near").toDF())
    TrendView.refresh(spark, tilesRoot, mvRoot)
    val tiles = Warp.warpToTiles(spark, images, target, "near")
    // confTest masks insignificant slopes — view and batch agree under the
    // gate too (one finish implementation, parameterized identically)
    val gatedV = TrendView.trend(spark, mvRoot, confTest = true)
      .as[StackOps.TileTrend].collect().map(s => s.tile_id -> s).toMap
    val gatedB = StackOps.trend(tiles, confTest = true).collect()
    gatedB.foreach { s =>
      val i = gatedV(s.tile_id)
      assert(i.slope_yr.toSeq == s.slope_yr.toSeq, s"tile ${s.tile_id}")
    }
    // the gate bites somewhere (masked vs unmasked differ)
    val open = TrendView.trend(spark, mvRoot).as[StackOps.TileTrend]
      .collect().map(s => s.tile_id -> s).toMap
    assert(gatedB.exists(s =>
      open(s.tile_id).slope_yr.toSeq != s.slope_yr.toSeq))
  }

  test("refresh is idempotent; replayed marker epoch is skipped") {
    val tilesRoot = freshRoot("idem_t"); val mvRoot = freshRoot("idem_mv")
    val images = ImageTable.generate(spark, 12).filter(idx % 3 === 0)
    val target = Warp.analyze(images, "min", "union")
    SnapshotTable.commit(spark, tilesRoot,
      Warp.warpToTiles(spark, images, target, "near").toDF())
    assert(TrendView.refresh(spark, tilesRoot, mvRoot) == 1)
    val v1 = SnapshotTable.currentVersion(mvRoot)
    assert(TrendView.refresh(spark, tilesRoot, mvRoot) == 1)
    assert(SnapshotTable.currentVersion(mvRoot) == v1)
    assert(TrendView.refreshedVersion(mvRoot, tilesRoot) == 1)
    val replayed = SnapshotTable.commitStreamBatch(spark, mvRoot,
      SnapshotTable.read(spark, mvRoot), s"trendview:$tilesRoot", 1L)
    assert(replayed.isEmpty, "replayed refresh epoch must be skipped")
  }

  test("vanished tiles read empty; a later re-append revives them exactly") {
    import spark.implicits._
    val tilesRoot = freshRoot("van_t"); val mvRoot = freshRoot("van_mv")
    val images = ImageTable.generate(spark, 18).filter(idx % 3 === 0)
    val target = Warp.analyze(images, "min", "union")
    def tiles() = Warp.warpToTiles(spark, images, target, "near").toDF()
    SnapshotTable.commit(spark, tilesRoot, tiles())
    assert(TrendView.refresh(spark, tilesRoot, mvRoot) == 1)
    // delete EVERY row: all tiles vanish; the view keeps their identity
    // rows, which must read as "no data" (count 0, every output masked)
    SnapshotTable.delete(spark, tilesRoot, lit(true))
    assert(TrendView.refresh(spark, tilesRoot, mvRoot) == 2)
    val ndv = ImageTable.Ndv
    val zeroed = TrendView.trend(spark, mvRoot).as[StackOps.TileTrend].collect()
    assert(zeroed.nonEmpty && zeroed.forall(s => s.count.forall(_ == 0) &&
      Seq(s.slope_yr, s.intercept, s.r2, s.t_stat).forall(_.forall(_ == ndv))))
    // re-append the same layers: view matches batch again, bit for bit
    SnapshotTable.commit(spark, tilesRoot, tiles())
    assert(TrendView.refresh(spark, tilesRoot, mvRoot) == 3)
    val incr = TrendView.trend(spark, mvRoot).as[StackOps.TileTrend]
      .collect().map(s => s.tile_id -> s).toMap
    val batch = StackOps.trend(
      SnapshotTable.read(spark, tilesRoot).as[TileRow]).collect()
    assert(batch.nonEmpty && incr.size == batch.length)
    batch.foreach { s =>
      val i = incr(s.tile_id)
      assert(i.count.toSeq == s.count.toSeq &&
        i.slope_yr.toSeq == s.slope_yr.toSeq &&
        i.intercept.toSeq == s.intercept.toSeq &&
        i.r2.toSeq == s.r2.toSeq && i.t_stat.toSeq == s.t_stat.toSeq,
        s"tile ${s.tile_id}")
    }
    assert(batch.exists(_.slope_yr.exists(_ != ndv)))
  }

  test("source churn (merge + delete) recomputes affected tiles, bit-exact") {
    import spark.implicits._
    val tilesRoot = freshRoot("churn_t"); val mvRoot = freshRoot("churn_mv")
    val images = ImageTable.generate(spark, 54).filter(idx % 3 === 0)
    val target = Warp.analyze(images, "min", "union")
    def tiles(f: org.apache.spark.sql.Column) =
      Warp.warpToTiles(spark, images.filter(f), target, "near").toDF()
    def viewEqualsLive(): Unit = {
      val incr = TrendView.trend(spark, mvRoot).as[StackOps.TileTrend]
        .collect().map(s => s.tile_id -> s).toMap
      val batch = StackOps.trend(
        SnapshotTable.read(spark, tilesRoot).as[TileRow]).collect()
      batch.foreach { s =>
        val i = incr.getOrElse(s.tile_id, fail(s"view lacks tile ${s.tile_id}"))
        assert(i.count.toSeq == s.count.toSeq &&
          i.slope_yr.toSeq == s.slope_yr.toSeq &&
          i.intercept.toSeq == s.intercept.toSeq &&
          i.r2.toSeq == s.r2.toSeq && i.t_stat.toSeq == s.t_stat.toSeq,
          s"tile ${s.tile_id}")
      }
    }
    SnapshotTable.commit(spark, tilesRoot, tiles(idx < 30))            // v1
    assert(TrendView.refresh(spark, tilesRoot, mvRoot) == 1)
    // MERGE shifts 5 layers' payloads by +1: the OLS moments of their
    // tiles change; an adds-only fold would double-count Σv/Σtv/Σv²
    val ndvF = s"CAST(${ImageTable.Ndv} AS FLOAT)"
    val shifted = tiles(idx < 15).withColumn("payload",
      expr(s"transform(payload, v -> IF(v = $ndvF, v, v + CAST(1.0 AS FLOAT)))"))
    SnapshotTable.merge(spark, tilesRoot, shifted, Seq("image_id", "tile_id"))
    assert(TrendView.refresh(spark, tilesRoot, mvRoot) == 2)
    viewEqualsLive()
    // DELETE the shifted layers entirely — their moments must vanish
    SnapshotTable.delete(spark, tilesRoot,
      expr("CAST(substring(image_id, 5, 8) AS INT) < 15"))
    assert(TrendView.refresh(spark, tilesRoot, mvRoot) == 3)
    viewEqualsLive()
    // and the fast append path still works on top of churned history
    SnapshotTable.commit(spark, tilesRoot, tiles(idx >= 30))
    assert(TrendView.refresh(spark, tilesRoot, mvRoot) == 4)
    viewEqualsLive()
  }
}
