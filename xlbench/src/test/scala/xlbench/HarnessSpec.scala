package xlbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(49) == 75)
    assert(Stats.beyond(49, 75) == 12)
    assert(Stats.beyond(49, 90) == 4)
    assert(Stats.tailPercentile(224) == 90)
    assert(Stats.beyond(224, 90) == 22)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(39) == 50)
    assert(Stats.tailPercentile(40) == 75)
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 49).map(_.toDouble)
    assert(Stats.percentile(xs, 75) == 37.0)
    assert(Stats.percentile(xs, 50) == 25.0)
    assert(Stats.percentile(Seq(3.0), 90) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the time direct children cover") {
    // op [0,100) holds build [10,40) and action [40,90); action holds count [50,80)
    val spans = Seq(
      Span("op", "p1/a", 0, 100, -1),
      Span("build", "p1/a", 10, 40, 0),
      Span("action", "p1/a", 40, 90, 0),
      Span("count", "p1/a", 50, 80, 2))
    val self = Spans.selfSeconds(spans).map { case (s, v) => s.name -> math.round(v * 1e9) }.toMap
    assert(self == Map("op" -> 20L, "build" -> 30L, "action" -> 20L, "count" -> 30L))
    assert(self.values.sum == 100L) // self times partition the root span
  }

  test("the span recorder nests by call structure") {
    val sp = new Spans(enabled = true)
    sp.setOp("p1/x")
    sp("op") { sp("inner") { Thread.sleep(2) } }
    val Seq(op, inner) = sp.all
    assert(inner.parent == 0 && op.parent == -1)
    assert(op.startNs <= inner.startNs && inner.endNs <= op.endNs)
    val Seq((_, opSelf), (_, innerSelf)) = sp.selfSeconds
    assert(opSelf >= 0 && innerSelf >= 0.002)
    val off = new Spans(enabled = false)
    assert(off("op")(7) == 7 && off.all.isEmpty)
  }

  test("a throwing op and a wrong-count op both fail, and their time is excluded") {
    def op(id: String, run: () => Long, want: Long) =
      Op(id, "k", "m", run, rows => Option.when(rows != want)(s"$rows != $want"))
    val recs = Seq(
      Harness.timeOp(op("good", () => 5L, 5L), 1),
      Harness.timeOp(op("throws", () => { Thread.sleep(30); sys.error("boom") }, 5L), 1),
      Harness.timeOp(op("wrong", () => { Thread.sleep(30); 4L }, 5L), 1),
      Harness.timeOp(op("good2", () => 7L, 7L), 2))
    assert(recs.map(_.ok) == Seq(true, false, false, true))
    assert(recs(1).error.contains("boom") && recs(2).error.contains("4 != 5"))
    val s = Harness.summarize(recs)
    assert(s.attempted == 4 && s.failed == 2 && s.failedShare == 0.5)
    assert(s.total == recs(0).seconds) // the two slow failures are not in the first-pass sum
    assert(s.warmTotal == recs(3).seconds && s.p50 == recs(3).seconds && s.samples == 1)
    assert(s.rowsPerSecond == 7L / recs(3).seconds)
    // with one pass, its failures are likewise left out of every figure
    val one = Harness.summarize(recs.take(3))
    assert(one.total == recs(0).seconds && one.p50 == recs(0).seconds && one.samples == 1)
    // a post-pass check marks ops failed the same way
    val failedLater = Harness.fail(recs, 2, Set("good2"), "table mismatch")
    assert(Harness.summarize(failedLater).failed == 3)
  }

  test("import corpus: same seed, same bytes; another seed, other bytes") {
    def digest(seed: Long) = {
      val d = Files.createTempDirectory("xlbench-corpus")
      try ImportCorpus.generate(d, seed, 6).digest finally Workloads.deleteTree(d)
    }
    assert(digest(11) == digest(11))
    assert(digest(11) != digest(12))
  }

  test("import corpus strata: one log-stratum midpoint each, the same for every seed") {
    val s = ImportCorpus.sheetRows(20)
    assert(s.forall(n => n >= 500 && n <= 50000) && s == s.sorted)
    s.zipWithIndex.foreach { case (n, i) =>
      assert(n == math.round(500 * math.pow(100, (i + 0.5) / 20.0)))
    }
    def rows(seed: Long) = {
      val d = Files.createTempDirectory("xlbench-corpus")
      try ImportCorpus.generate(d, seed, 8).ops.map(_.rows).sum finally Workloads.deleteTree(d)
    }
    assert(math.abs(rows(1) - rows(2)).toDouble / rows(1) < 0.1)
  }

  test("query fixture: same seed, same parquet bytes; another seed, other bytes") {
    def digest(seed: Long) = {
      val d = Files.createTempDirectory("xlbench-fixture")
      try {
        Fixtures.writeQueryFixture(d, 0.001, seed)
        val files = Seq("lineitem", "documents", "embeddings", "events").map(t => d.resolve(s"$t.parquet"))
        Fixtures.sha256(files.iterator.map(f => Files.readAllBytes(f)))
      } finally Workloads.deleteTree(d)
    }
    assert(digest(5) == digest(5))
    assert(digest(5) != digest(6))
  }

  test("the benchmark's own xlsx reader reads what its writer wrote") {
    import Ooxml._
    val d = Files.createTempDirectory("xlbench-ooxml")
    try for (shared <- Seq(true, false)) {
      val f = d.resolve(s"b$shared.xlsx")
      Ooxml.write(f, Seq(Sheet("s", Seq("id", "name", "when", "ok"), IndexedSeq(
        Array[Cell](Num(1), Str("ab"), Date(40000), Bool(true)),
        Array[Cell](Num(2), Blank, Date(40001), Bool(false)),
        Array[Cell](Num(3.5), Str("c<d"), Blank, Blank)))), shared)
      val s = Ooxml.summarize(f.toFile)
      assert(s.rows == 3 && s.header == Seq("id", "name", "when", "ok"))
      assert(s.numSum("id") == 6.5 && s.textLen("name") == 5L)
      assert(s.nonBlank == Map("id" -> 3L, "name" -> 2L, "when" -> 2L, "ok" -> 2L))
    } finally Workloads.deleteTree(d)
  }
}
