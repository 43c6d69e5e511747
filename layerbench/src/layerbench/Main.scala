package layerbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see README.md). */
final case class Args(workload: String, seed: Long, seconds: Int, traced: Boolean,
                      cores: Int, tiny: Boolean, images: Option[Int], work: String,
                      traceDir: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, kv.get("size").contains("tiny"),
      kv.get("images").map(_.toInt), need("work"), need("trace-dir"))
  }
}

/** Output checks of a run: every check and every failed call counts
  * against the run. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[layerbench] CHECK FAILED $name $detail")
    }
  }
}

/** What one pass reports: the work items it completed and the seconds they
  * took (the calls the workload's throughput is defined over). */
final case class PassOut(items: Double, seconds: Double)

/** One named workload: inputs generated from the seed, a closed-loop pass
  * through the engine's public calls, and checks on a second code path. */
trait Workload {
  /** Name and unit `items_per_s` goes by in the report (README.md table). */
  def itemsName: (String, String)
  /** Generate and cache the inputs (repeatable after `release`). */
  def build(): Unit
  def release(): Unit
  /** One pass through the workload's calls, each issued after the previous
    * returns. Cheap consistency checks on the call outputs go to `checks`. */
  def pass(t: Trace, checks: Checks): PassOut
  /** The warm-up that ends set-up, outside the measured loop: `WarmPasses`
    * passes unless a workload warms its main call types with less. Pass
    * times fall over the first passes of a fresh JVM while the JIT compiles
    * Spark's planner and the engine, so a single warm-up pass left the
    * first measured pass far slower than the rest. */
  def warmUp(t: Trace, checks: Checks): Unit = (1 to Workload.WarmPasses).foreach(_ => pass(t, checks))
  /** Checks of the last pass's outputs against a second code path. */
  def finalChecks(checks: Checks): Unit
  /** Workload-specific end-to-end figures for the report, by the names the
    * benchmark's README uses: name → (value, unit, samples). */
  def namedMetrics(spans: Seq[Span]): Seq[(String, Double, String, Int)] = Nil
  /** Layer counts of a traced run beyond the per-scope counters. */
  def layerCounts(stats: Map[String, ScopeStats], spans: Seq[Span]): Map[String, Double] = Map.empty
  def cleanup(): Unit = ()
  /** Seconds one pass takes on the reference host (README.md); a run
    * measures `passes(seconds)` passes, a count fixed by `--seconds` alone. */
  def nominalPassS: Double
  /** Fewest passes a run measures, so that its medians have at least this
    * many samples however short `--seconds` is. */
  def minPasses: Int = 3
  /** Passes a run of `seconds` measures. The count does not depend on how
    * fast the host runs: with a deadline instead, a slow host measured
    * fewer and earlier (still warming) passes, which made it look slower
    * still, and runs flipped between two and three passes. */
  def passes(seconds: Int): Int = math.max(minPasses, math.round(seconds / nominalPassS).toInt)
}

object Workload {
  val WarmPasses = 2
}

object Main {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median latency of the calls named `names`, as a report entry. */
  def p50(spans: Seq[Span], metric: String, names: Set[String]): (String, Double, String, Int) = {
    val ts = spans.filter(s => names(s.name)).map(_.seconds)
    (metric, median(ts), "s", ts.size)
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  val BuildReps = 3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val probePre = Host.probe()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"layerbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop")
      // a host pause longer than the default heartbeat horizon would lose
      // the local executor mid-run; these only harden the harness
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val checks = new Checks
    val w: Workload = a.workload match {
      case "tile_pipeline" => new TilePipeline(spark, a)
      case "join_skew"     => new JoinSkew(spark, a)
      case "view_churn"    => new ViewChurn(spark, a)
      case other => sys.error(s"unknown workload $other")
    }
    var exit = 0
    try {
      // set-up: inputs generated and cached BuildReps times (median kept),
      // then the untimed warm-up
      val buildS = (1 to BuildReps).map { i =>
        if (i > 1) w.release()
        val tb = System.nanoTime(); w.build(); (System.nanoTime() - tb) / 1e9
      }
      val tw = System.nanoTime()
      w.warmUp(new Trace(spark.sparkContext, traced = false, "warmup"), checks)
      val warmS = (System.nanoTime() - tw) / 1e9
      val setupS = sessionS + median(buildS) + warmS

      val plain = new Trace(spark.sparkContext, traced = false, "plain")
      val jit0 = jitS()
      val (nPass, plainOuts, plainWall) = loop(w, plain, checks, w.passes(a.seconds))
      val loopJitS = jitS() - jit0
      val liveHeap = LiveHeap.mb()

      val out = new StringBuilder
      var tracedSpans = Seq.empty[Span]
      val metrics: Seq[(String, Double, String)] = if (!a.traced) {
        val ms = Seq(
          ("setup_s", setupS, "s"),
          ("items_per_s", median(plainOuts.map(o => o.items / o.seconds)), "items/s"),
          ("live_heap_mb", liveHeap, "MB"))
        // the same figures under the names of each workload's README table
        val named = Seq(("setup_s", setupS, "s", BuildReps),
            (w.itemsName._1, ms(1)._2, w.itemsName._2, plainOuts.size)) ++
          w.namedMetrics(plain.spans.toSeq) ++
          Seq(("live_heap_mb", liveHeap, "MB", 1))
        named.foreach { case (n, v, u, k) => out ++= f"# ${a.workload} $n = $v%.6g $u (samples $k)%n" }
        ms
      } else {
        // traced run: as many passes as the untraced one, per-layer numbers
        // from this run only
        val traced = new Trace(spark.sparkContext, traced = true, s"seed${a.seed}")
        val (_, _, tracedWall) = loop(w, traced, checks, nPass)
        traced.drain()
        traced.close()
        tracedSpans = traced.spans.toSeq
        val stats = ScopeStats.of(traced)
        TraceOut.write(a, traced, stats)
        val counts = w.layerCounts(stats, tracedSpans)
        PerLayer.metrics(stats, a.cores) ++
          PerLayer.CountUnits.map { case (k, u) => (k, counts.getOrElse(k, 0.0), u) } ++
          Seq(("trace.overhead_s", tracedWall - plainWall, "s"))
      }
      val tc = System.nanoTime()
      w.finalChecks(checks)
      System.err.println(f"[layerbench] session $sessionS%.2f s, builds ${buildS.map(b => f"$b%.2f").mkString(" ")} s, " +
        f"warm-up $warmS%.2f s, ${plainOuts.size} passes in $plainWall%.2f s " +
        s"(${plainOuts.map(o => f"${o.seconds}%.2f").mkString(" ")}), " +
        f"JIT compiling $loopJitS%.2f s (all threads) during them, checks ${(System.nanoTime() - tc) / 1e9}%.2f s")
      val probePost = Host.probe()
      val host = Seq(
        ("host.cpu_kips_ms.pre", probePre._1, "kiter/ms"), ("host.cpu_kips_ms.post", probePost._1, "kiter/ms"),
        ("host.membw_mbps.pre", probePre._2, "MB/s"), ("host.membw_mbps.post", probePost._2, "MB/s"))
      host.foreach { case (n, v, u) => out ++= f"# ${a.workload} $n = $v%.6g $u%n" }
      val calls = (plain.spans ++ tracedSpans).count(_.name != "pass")
      val attempted = checks.attempted + calls
      val failShare = checks.failed.toDouble / math.max(1L, attempted)
      out ++= f"# ${a.workload} fail_share = $failShare%.6g ratio (attempted $attempted, failed ${checks.failed})%n"
      val all = if (a.traced) metrics ++ host else metrics
      val body = all.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ")
      val correct = checks.failed == 0
      out ++= s"""{"correct": $correct, "attempted": $attempted, "failed": ${checks.failed}, "metrics": {$body}}"""
      println(out.toString)
      if (!correct) exit = 1
    } catch {
      case e: Throwable =>
        System.err.println(s"[layerbench] run aborted: $e")
        e.printStackTrace()
        exit = 2
    } finally {
      scala.util.Try(w.cleanup())
      spark.stop()
    }
    sys.exit(exit)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Seconds the JIT compilers have worked since the JVM started. */
  private def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Closed loop: `passes` passes back to back. A pass whose call throws
    * counts one failure; three failed passes end the loop. */
  private def loop(w: Workload, t: Trace, checks: Checks,
                   passes: Int): (Int, Seq[PassOut], Double) = {
    val outs = scala.collection.mutable.ArrayBuffer.empty[PassOut]
    System.gc() // every pass starts from a collected heap
    val start = System.nanoTime()
    var n = 0; var bad = 0
    while (n < passes && bad < 3) {
      try outs += t.call("pass")(w.pass(t, checks))
      catch {
        case e: Exception =>
          bad += 1; checks.attempted += 1; checks.failed += 1
          System.err.println(s"[layerbench] pass failed: $e")
      }
      n += 1
      System.gc()
    }
    require(outs.nonEmpty, "no pass completed")
    (n, outs.toSeq, (System.nanoTime() - start) / 1e9)
  }
}

/** Per-scope counters as flat per-layer metrics. Scopes a workload does not
  * reach report 0 (the layer did no work there). */
object PerLayer {
  val Scopes = Seq(
    "warp.analyze", "warp.tiles", "stack.stats", "stack.trend", "stencil.gauss",
    "join.salt", "join.pip", "knn",
    "catalog.commit", "catalog.merge", "catalog.delete",
    "view.stats_refresh", "view.trend_refresh")
  /** Scopes that contain other scopes; only they report a self time that
    * differs from their wall time. */
  val Parents = Set("join.pip")

  def metrics(stats: Map[String, ScopeStats], cores: Int): Seq[(String, Double, String)] =
    Scopes.flatMap { s =>
      val st = stats.get(s)
      def v(f: ScopeStats => Double) = st.map(f).getOrElse(0.0)
      Seq(
        (s"$s.wall_s", v(_.wallS), "s"),
        (s"$s.cpu_s", v(_.cpuS), "s"),
        (s"$s.core_util", v(x => if (x.wallS > 0) x.cpuS / (x.wallS * cores) else 0.0), "ratio"),
        (s"$s.shuffle_bytes", v(_.shuffleBytes.toDouble), "B"),
        (s"$s.spill_bytes", v(_.spillBytes.toDouble), "B"),
        (s"$s.input_bytes", v(_.inputBytes.toDouble), "B"),
        (s"$s.task_skew", v(_.taskSkew), "ratio"),
        (s"$s.jobs", v(_.jobs.toDouble), "count")) ++
        (if (Parents(s)) Seq((s"$s.self_s", v(_.selfS), "s")) else Nil)
    }

  /** Layer counts each workload may add (0 where it does not apply), with
    * their units (see README.md). */
  val CountUnits = Seq(
    "join.salt.factor" -> "count", "join.pip.candidates" -> "count",
    "join.pip.hits" -> "count", "join.pip.hit_ratio" -> "ratio",
    "warp.tiles.rows" -> "count", "catalog.bytes_written" -> "B",
    "catalog.write_amp" -> "ratio", "view.refresh_s.p90" -> "s")
}

/** Writes a traced run's spans and per-scope counters as one JSON file. */
object TraceOut {
  def write(a: Args, t: Trace, stats: Map[String, ScopeStats]): Unit = {
    Files.createDirectories(Paths.get(a.traceDir))
    val self = t.selfSeconds
    val t0 = if (t.spans.isEmpty) 0L else t.spans.map(_.startNs).min
    val spans = t.spans.map { s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "run": "${s.runId}", """ +
        f""""start_s": ${(s.startNs - t0) / 1e9}%.6f, "end_s": ${(s.endNs - t0) / 1e9}%.6f, "self_s": ${self(s.id)}%.6f}"""
    }.mkString(",\n  ")
    val scopes = stats.toSeq.sortBy(_._1).map { case (n, s) =>
      f""""$n": {"calls": ${s.calls}, "wall_s": ${s.wallS}%.6f, "self_s": ${s.selfS}%.6f, """ +
        f""""cpu_s": ${s.cpuS}%.6f, "shuffle_bytes": ${s.shuffleBytes}, "spill_bytes": ${s.spillBytes}, """ +
        f""""input_bytes": ${s.inputBytes}, "output_bytes": ${s.outputBytes}, "task_skew": ${s.taskSkew}%.4f, "jobs": ${s.jobs}}"""
    }.mkString(",\n  ")
    val path = Paths.get(a.traceDir, s"${a.workload}-seed${a.seed}.json")
    Files.writeString(path, s"{\"spans\": [\n  $spans],\n \"scopes\": {\n  $scopes}}\n")
  }
}
