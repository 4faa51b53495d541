package xlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point (one workload, one seed, one JVM):
  * {{{
  *   xlbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --goldens <file>
  *   xlbench.Main --make-goldens --work <dir> --goldens <file>
  * }}}
  * Prints progress lines, then as its LAST stdout line one JSON object
  * {correct, attempted, failed, metrics}. Exits 0 only if every output
  * check passed. `run.py` builds the program and calls this. */
object Main {
  /** The query fixture is the same for every seed, so goldens are fixed. */
  val FixtureSf = 0.01
  val FixtureSeed = 20260817L
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    // JVM start-up and class loading up to here belong to the first set-up
    val startupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val goldens = Paths.get(a("goldens")).toAbsolutePath
    val code =
      if (argv.contains("--make-goldens")) {
        val ctx = new Ctx(0L, traced = false, work, work.resolve("fixture"), goldens)
        Fixtures.writeQueryFixture(ctx.fixture, FixtureSf, FixtureSeed)
        ctx.newSession()
        Goldens.make(ctx, goldens)
        ctx.spark.stop(); 0
      } else run(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
        work, goldens, startupS)
    System.out.flush()
    sys.exit(code)
  }

  def say(s: String): Unit = println(s"[xlbench] $s")

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, work: Path,
      goldens: Path, startupS: Double): Int = {
    val wl = Workloads.byName(name)
    val ctx = new Ctx(seed, traced, work, work.resolve("fixture"), goldens)

    // inputs: not part of set-up time
    val g0 = System.nanoTime()
    Fixtures.writeQueryFixture(ctx.fixture, FixtureSf, FixtureSeed)
    // the program's fixed calibration scan runs over a 6k-row lineitem
    val calibDir = work.resolve("calibration")
    Fixtures.writeQueryFixture(calibDir, 0.001, FixtureSeed, only = Set("lineitem"))
    val fixtureFiles = QueryWorkload.Tables.:+("events").sorted.map(t => ctx.fixture.resolve(s"$t.parquet"))
    say(s"query fixture sf $FixtureSf seed $FixtureSeed sha256 " +
      Fixtures.sha256(fixtureFiles.iterator.map(f => Files.readAllBytes(f))))
    wl.generate(ctx).foreach(say)
    val genSeconds = (System.nanoTime() - g0) / 1e9
    say(f"inputs generated in $genSeconds%.2f s")

    // set-up, several times; the first is measured from JVM start
    val setups = (1 to Setups).map { _ =>
      val t0 = System.nanoTime()
      ctx.pass = 0
      ctx.newSession()
      ctx.spans.setOp("p0/setup")
      ctx.group("p0/setup")(wl.warmUp(ctx))
      (System.nanoTime() - t0) / 1e9
    }
    val setupTimes = (setups.head + startupS) +: setups.tail
    say(s"setup seconds: ${setupTimes.map(x => f"$x%.3f").mkString(" ")} (the first from JVM start)")

    def calibrate(): (Double, Double) = ctx.group("p0/calibration") {
      (graft.Bench.calibrationSec(ctx.spark, calibDir.toString),
        graft.Bench.calibrationParSec(ctx.spark, calibDir.toString))
    }
    val c0 = System.nanoTime()
    val calStart = calibrate()
    val calStartSeconds = (System.nanoTime() - c0) / 1e9

    // timed passes
    var recs = Vector.empty[OpRecord]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    var pass = 0
    while (pass < wl.minPasses || elapsed < seconds) {
      pass += 1
      ctx.pass = pass
      val rs = wl.ops(ctx).map { op =>
        ctx.spans.setOp(s"p$pass/${op.id}")
        Harness.timeOp(op.copy(run = () => ctx.spans("op")(op.run())), pass)
      }
      recs ++= wl.afterPass(ctx, rs)
    }
    val window = elapsed
    val c1 = System.nanoTime()
    val calEnd = calibrate()
    val calSeconds = (System.nanoTime() - c1) / 1e9 + calStartSeconds
    val s = Harness.summarize(recs)
    recs.filterNot(_.ok).foreach(r => say(s"FAILED ${r.id} (pass ${r.pass}): ${r.error}"))

    // retained heap after forced full GCs, and storage memory still pinned
    val pinnedMb = ctx.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    (1 to 3).foreach(_ => System.gc())
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    say(f"$name seed $seed: $pass passes in $window%.2f s, ${s.attempted} ops, ${s.failed} failed, " +
      f"failed_share ${s.failedShare}%.4f")
    say(f"wall: inputs $genSeconds%.2f s, set-ups ${setupTimes.sum}%.2f s, calibration $calSeconds%.2f s, " +
      f"passes $window%.2f s")
    say(f"calibration_sec ${calStart._1}%.4f -> ${calEnd._1}%.4f, calibration_par_sec " +
      f"${calStart._2}%.4f -> ${calEnd._2}%.4f")
    say(s"op_tail_s is p${s.tailPct} of ${s.samples} warm ops; op_p50_s of ${s.samples} warm ops")
    val e2e = Seq(
      "setup_s" -> (Stats.median(setupTimes), "s"),
      "total_s" -> (s.total, "s"),
      "warm_total_s" -> (s.warmTotal, "s"),
      "op_p50_s" -> (s.p50, "s"),
      "op_tail_s" -> (s.tail, "s"),
      "rows_per_s" -> (s.rowsPerSecond, "rows/s"),
      "retained_heap_mb" -> (heapMb, "MB"))
    // per-op time in every pass (on the query workloads, the memo
    // build-once/serve-many gap between the cold and the warm passes)
    recs.groupBy(_.id).toSeq.sortBy(_._1).foreach { case (id, rs) =>
      say(s"op $id: " + rs.sortBy(_.pass).map(r => f"p${r.pass}=${r.seconds}%.3f").mkString(" "))
    }
    val metrics =
      if (!traced) e2e
      else {
        val layers = Layers.metrics(ctx, wl, recs, calStart, calEnd, pinnedMb) ++
          Seq("trace.total_s" -> (s.total, "s"), "trace.op_p50_s" -> (s.p50, "s"))
        Files.createDirectories(work.resolve("trace"))
        ctx.spans.writeJsonl(work.resolve("trace").resolve("spans.jsonl"))
        e2e.foreach { case (k, (v, u)) => say(f"traced run's $k $v%.6f $u") }
        layers
      }
    ctx.spark.stop()
    val json = Json.obj(Seq(
      "correct" -> (s.failed == 0).toString,
      "attempted" -> s.attempted.toString,
      "failed" -> s.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(json)
    if (s.failed == 0) 0 else 1
  }
}
