package layerbench

import java.awt.geom.Path2D
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{MultiPolygon, Polygon, Ring, Wkb}
import graft.operators.{Knn, SpatialJoin}
import graft.sources.PolygonTable

/** Vector side, under skew: the shuffle form of `SpatialJoin.pipJoin`
  * (auto salt, no polygon broadcast) over points of which 30 % fall in one
  * 64 m cell stacked with 16 many-vertex polygons, then `Knn.knn(k = 5)` on
  * the uniform `PolygonTable.points` layer. One work item = one point
  * through the PIP join. */
final class JoinSkew(spark: SparkSession, a: Args) extends Workload {
  import spark.implicits._
  import JoinSkew._

  val nPoints: Int = if (a.tiny) 20000 else 300000
  val nKnnLayer: Int = if (a.tiny) 20000 else 120000
  val knnEvery: Int = if (a.tiny) 100 else 40 // ≈ nKnnLayer / knnEvery queries

  val itemsName = ("points_per_s", "points/s")
  val nominalPassS = 2.7

  private var points: DataFrame = _
  private var polys: DataFrame = _
  private var knnLayer: DataFrame = _
  private var queries: DataFrame = _
  private var nQueries = 0L
  private val pipCounts = scala.collection.mutable.ArrayBuffer.empty[Long]

  def build(): Unit = {
    val seed = a.seed
    points = spark.range(0, nPoints, 1, 16).map { id =>
      val hot = unit(seed, id, 0) < HotShare
      val (x, y) =
        if (hot) (HotX + CellSize * unit(seed, id, 1), HotY + CellSize * unit(seed, id, 2))
        else (499900.0 + 8592.0 * unit(seed, id, 1), 5300100.0 - 2400.0 * unit(seed, id, 2))
      (f"pt_$id%09d", x, y)
    }.toDF("pt_id", "x", "y").cache()
    points.count()
    val cols = Seq("poly_id", "geom_wkb", "xmin", "ymin", "xmax", "ymax")
    polys = PolygonTable.generate(spark, 400).select(cols.map(col): _*)
      .unionByName(hotPolygons.toDF(cols: _*)).cache()
    polys.count()
    knnLayer = PolygonTable.points(spark, nKnnLayer).select("pt_id", "x", "y").cache()
    knnLayer.count()
    queries = knnLayer.filter(pmod(xxhash64(col("pt_id"), lit(seed)), lit(knnEvery)) === 0).cache()
    nQueries = queries.count()
  }

  def release(): Unit =
    Seq(points, polys, knnLayer, queries).foreach(_.unpersist(blocking = true))

  private def pipJoin(pts: DataFrame, salt: Int = 0): DataFrame =
    SpatialJoin.pipJoin(spark, pts, polys, CellSize, salt, broadcastPolys = false)

  /** Runs `body` with broadcast joins off. The regime under test is a
    * polygon side too big to broadcast: without this the planner (which
    * runs when the join executes, not when it is built) broadcasts the
    * small layer and the skewed shuffle disappears. */
  private def unbroadcast[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** The salt `pipJoin` picks for the full point set. */
  private lazy val saltFactor = SpatialJoin.autoSaltFactor(points, CellSize)

  def pass(t: Trace, checks: Checks): PassOut = {
    val t0 = System.nanoTime()
    val nPip = unbroadcast(t.call("join.pip")(t.call("join.salt")(pipJoin(points)).count()))
    val nKnn = t.call("knn")(Knn.knn(spark, queries, knnLayer, k = 5).count())
    checks.check("knn returns k rows per query", nKnn == 5 * nQueries, s"$nKnn vs ${5 * nQueries}")
    checks.check("pip hits repeat across passes", pipCounts.forall(_ == nPip), s"$nPip vs $pipCounts")
    pipCounts += nPip
    PassOut(nPoints, (System.nanoTime() - t0) / 1e9)
  }

  def finalChecks(checks: Checks): Unit = {
    // PIP: the engine's pairs for a fixed point sample against a driver-side
    // even-odd test (java.awt.geom) of every point against every polygon
    val sample = points.filter(pmod(xxhash64(col("pt_id"), lit(a.seed + 1)), lit(nPoints / 2000)) === 0)
      .as[(String, Double, Double)].collect()
    // the sample joins with the salt the full point set gets, so the hot
    // cell's points take the salted path they take in a pass
    val engine = unbroadcast(pipJoin(sample.toSeq.toDF("pt_id", "x", "y"), saltFactor)
      .select("pt_id", "poly_id").as[(String, String)].collect().toSet)
    val shapes = polys.select("poly_id", "geom_wkb").as[(String, Array[Byte])].collect()
      .map { case (id, wkb) => (id, path(Wkb.read(wkb))) }
    val brute = (for ((pid, x, y) <- sample; (poly, p) <- shapes if p.contains(x, y))
      yield (pid, poly)).toSet
    checks.check("pipJoin = brute-force PIP on a point sample", engine == brute,
      s"${engine.size} engine pairs vs ${brute.size} brute; ${(engine diff brute).take(3)} ${(brute diff engine).take(3)}")
    checks.check("point sample hits the hot cell", sample.exists { case (_, x, y) =>
      x >= HotX && x < HotX + CellSize && y >= HotY && y < HotY + CellSize })

    // kNN: the ring-pass operator against the brute-force cross join
    val qs = queries.orderBy(xxhash64(col("pt_id"), lit(a.seed))).limit(KnnSample).cache()
    def rows(df: DataFrame) = df.select("q_id", "c_id", "rnk").as[(String, String, Int)].collect().toSet
    val fast = rows(Knn.knn(spark, qs, knnLayer, k = 5))
    val slow = rows(Knn.knnBrute(spark, qs, knnLayer, k = 5))
    checks.check("knn = knnBrute on a query sample", fast == slow && fast.size == 5 * KnnSample,
      s"${fast.size} vs ${slow.size}")
    qs.unpersist()
  }

  override def namedMetrics(spans: Seq[Span]): Seq[(String, Double, String, Int)] = {
    def rate(name: String, items: Double) = {
      val ts = spans.filter(_.name == name).map(_.seconds)
      (Main.median(ts.map(items / _)), ts.size)
    }
    val (pip, nPip) = rate("join.pip", nPoints)
    val (knn, nKnn) = rate("knn", nQueries)
    Seq(("pip_points_per_s", pip, "points/s", nPip), ("knn_queries_per_s", knn, "queries/s", nKnn))
  }

  override def layerCounts(stats: Map[String, ScopeStats], spans: Seq[Span]): Map[String, Double] = {
    // candidates: the covering-cell equi-join without the PIP refine (each
    // point meets one salt copy of each candidate, so salt is irrelevant)
    val cells = SpatialJoin.polyCells(spark, polys, CellSize, 1)
    val candidates = points
      .withColumn("cell_id", graft.functions.GraftFunctions.planarCell(col("x"), col("y"), lit(CellSize)))
      .join(cells, Seq("cell_id")).count().toDouble
    val hits = pipCounts.last.toDouble
    Map("join.salt.factor" -> saltFactor.toDouble,
      "join.pip.candidates" -> candidates, "join.pip.hits" -> hits,
      "join.pip.hit_ratio" -> hits / candidates)
  }
}

object JoinSkew {
  val CellSize = 64.0
  val HotShare = 0.3
  val KnnSample = 10
  /** Lower-left corner of the hot 64 m cell. */
  val HotX = 501952.0
  val HotY = 5298944.0

  /** splitmix64 finalizer. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1), a pure function of (seed, id, stream). */
  def unit(seed: Long, id: Long, stream: Int): Double =
    (mix(mix(seed) ^ (id * 4 + stream)) >>> 11) * (1.0 / (1L << 53))

  /** 16 wavy 256-vertex rings around the hot cell, all containing it: every
    * hot point refines against every one of them. */
  def hotPolygons: Seq[(String, Array[Byte], Double, Double, Double, Double)] =
    (0 until 16).map { k =>
      val cx = HotX + CellSize / 2; val cy = HotY + CellSize / 2; val nv = 256
      val th = (0 until nv).map(2 * math.Pi * _ / nv)
      val r = th.map(t => 60.0 + 3 * k + 5 * math.sin(8 * t))
      val ring = Ring(th.indices.map(j => cx + r(j) * math.cos(th(j))).toArray,
                      th.indices.map(j => cy + r(j) * math.sin(th(j))).toArray)
      val mp = MultiPolygon(Seq(Polygon(ring, Nil)))
      val bb = mp.bbox
      (f"hot_$k%03d", Wkb.writeMultiPolygon(mp), bb.xmin, bb.ymin, bb.xmax, bb.ymax)
    }

  /** Every ring of a multipolygon in one even-odd path: parts are disjoint,
    * so even-odd over all rings is "inside a shell and outside its holes". */
  def path(mp: MultiPolygon): Path2D.Double = {
    val p = new Path2D.Double(Path2D.WIND_EVEN_ODD)
    for (poly <- mp.polys; r <- poly.shell +: poly.holes) {
      p.moveTo(r.xs(0), r.ys(0))
      (1 until r.n).foreach(i => p.lineTo(r.xs(i), r.ys(i)))
      p.closePath()
    }
    p
  }
}
