package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.geo.{HexCell, PlanarCell, S2Lite, ZCell}
import graft.operators.TestSpark

class CellExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val pts = {
    import spark.implicits._
    Seq((-122.33, 47.61), (0.0, 0.0), (179.9, -89.0), (10.5, 80.2))
      .toDF("lon", "lat")
  }

  test("expressions equal the pure codecs (codegen path)") {
    val rows = pts.select(col("lon"), col("lat"),
      GraftFunctions.zcell(col("lon"), col("lat"), lit(9)).as("z"),
      GraftFunctions.hexcell(col("lon"), col("lat"), lit(8)).as("h"),
      GraftFunctions.s2cell(col("lon"), col("lat"), lit(14)).as("s"),
      GraftFunctions.planarCell(col("lon") * 1000, col("lat") * 1000, lit(64.0)).as("p"))
      .collect()
    rows.foreach { r =>
      val lon = r.getDouble(0); val lat = r.getDouble(1)
      assert(r.getLong(2) == ZCell.encode(lon, lat, 9))
      assert(r.getLong(3) == HexCell.encode(lon, lat, 8))
      assert(r.getLong(4) == S2Lite.encode(lon, lat, 14))
      assert(r.getLong(5) == PlanarCell.encode(lon * 1000, lat * 1000, 64.0))
    }
  }

  test("expressions survive CODEGEN_ONLY factory mode (no interpreter fallback)") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val n = pts.select(GraftFunctions.zcell(col("lon"), col("lat"), lit(9)))
        .distinct().count()
      assert(n == 4)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("SQL registration: SELECT zcell/hexcell/s2cell/planar_cell works") {
    GraftFunctions.register(spark)
    pts.createOrReplaceTempView("pts_cells")
    val r = spark.sql(
      """SELECT zcell(lon, lat, 9) z, hexcell(lon, lat, 8) h,
        |       s2cell(lon, lat, 14) s, planar_cell(lon*1000, lat*1000, 64.0) p,
        |       size(planar_kring(planar_cell(lon*1000, lat*1000, 64.0), 1)) kr
        |FROM pts_cells WHERE lon = -122.33""".stripMargin).head()
    assert(r.getLong(0) == ZCell.encode(-122.33, 47.61, 9))
    assert(r.getLong(1) == HexCell.encode(-122.33, 47.61, 8))
    assert(r.getLong(2) == S2Lite.encode(-122.33, 47.61, 14))
    assert(r.getInt(4) == 9)
  }

  test("spark.sql.extensions path: functions AND planner strategy injected at build") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // force shared-session init first
    // every registered function, once each, on one row
    val allFns =
      """SELECT zcell(-122.33, 47.61, 9) z, hexcell(-122.33, 47.61, 8) h,
        |       s2cell(-122.33, 47.61, 14) s,
        |       planar_cell(-122330.0, 47610.0, 64.0) p,
        |       planar_kring(planar_cell(-122330.0, 47610.0, 64.0), 1) kr,
        |       vec_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
        |               array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) d""".stripMargin
    GraftFunctions.register(prev)
    val registered = prev.sql(allFns).head()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions = the same injection surface spark.sql.extensions uses
    // (the static conf can't be changed on the already-running test context)
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      assert(s2 ne prev)
      // SQL functions resolve with NO manual registration (the spark-submit
      // path), and each agrees with the register() path
      assert(s2.sql("SELECT zcell(0.0, 0.0, 5)").head().getLong(0) ==
        ZCell.encode(0.0, 0.0, 5))
      val injected = s2.sql(allFns).head()
      assert(injected.schema.fieldNames.toSeq == Seq("z", "h", "s", "p", "kr", "d"))
      assert(injected == registered)
      assert(injected.getSeq[Long](4).length == 9 && injected.getDouble(5) == 11.0)
      // the custom as-of strategy plans with NO AsOf.install
      import s2.implicits._
      import org.apache.spark.sql.GraftSqlBridge
      val l = Seq((1L, 100L, 10L)).toDF("k", "lt", "lid")
      val r = Seq((1L, 90L, 5L), (1L, 250L, 6L)).toDF("rk", "rt", "rid")
      val node = graft.plans.AsOfJoinNode(
        GraftSqlBridge.logicalPlan(l), GraftSqlBridge.logicalPlan(r),
        GraftSqlBridge.expression(l("k")), GraftSqlBridge.expression(l("lt")),
        GraftSqlBridge.expression(r("rk")), GraftSqlBridge.expression(r("rt")),
        GraftSqlBridge.expression(r("rid")))
      val out = GraftSqlBridge.ofRows(s2, node).collect()
      assert(out.length == 1 && out(0).getLong(5) == 5L) // nearest at Δ=10
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
      // s2 shares the SparkContext — do not stop it
    }
  }

  test("null inputs yield null, not a crash") {
    import spark.implicits._
    val df = Seq((Some(1.0), Option.empty[Double])).toDF("a", "b")
    val r = df.select(GraftFunctions.zcell(col("a"), col("b"), lit(5))).head()
    assert(r.isNullAt(0))
  }
}

class PipExpressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val df = {
    import spark.implicits._
    val box = graft.geo.Polygon.box(graft.geo.Extent(0, 0, 10, 10))
    val wkb = graft.geo.Wkb.writeMultiPolygon(graft.geo.MultiPolygon(Seq(box)))
    Seq((("p1"), wkb, 5.0, 5.0, true), (("p1"), wkb, 15.0, 5.0, false),
        (("p1"), wkb, 9.99, 9.99, true), (("p1"), wkb, -0.01, 5.0, false))
      .toDF("poly_id", "geom_wkb", "x", "y", "want")
  }

  test("pip_contains matches direct geometry evaluation (codegen path)") {
    val rows = df.select(col("want"), PipFunctions.pipContains(
      lit("e1"), col("poly_id"), col("geom_wkb"), col("x"), col("y")).as("got")).collect()
    rows.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1)))
  }

  test("pip_contains survives CODEGEN_ONLY factory mode and no ScalaUDF in plan") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val q = df.filter(PipFunctions.pipContains(
        lit("e2"), col("poly_id"), col("geom_wkb"), col("x"), col("y")))
      assert(q.count() == 2)
      assert(!q.queryExecution.executedPlan.toString.contains("ScalaUDF"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("vec_dot is SQL-callable after registration") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val got = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b").selectExpr("vec_dot(a, b) AS d").head().getDouble(0)
    assert(got == 32.0)
  }
}
