package xlbench

import scala.util.{Failure, Success, Try}

/** One operation of a workload: `run` does the op and returns the rows it
  * moved (ETL) or counted (queries); `check` inspects that number (and
  * anything else it can see) outside the timed region and returns an error
  * message when the output is wrong. */
final case class Op(id: String, kind: String, module: String,
    run: () => Long, check: Long => Option[String])

/** Outcome of one timed op. A failed op keeps its measured time here but
  * is excluded from every timing metric. */
final case class OpRecord(id: String, kind: String, module: String, pass: Int,
    seconds: Double, ok: Boolean, rows: Long, error: String)

object Harness {

  /** Time `op.run`, then check its result untimed. A throw and a failed
    * check both mark the record failed. */
  def timeOp(op: Op, pass: Int): OpRecord = {
    val t0 = System.nanoTime()
    val res = Try(op.run())
    val secs = (System.nanoTime() - t0) / 1e9
    def rec(ok: Boolean, rows: Long, err: String) =
      OpRecord(op.id, op.kind, op.module, pass, secs, ok, rows, err)
    res match {
      case Failure(e) => rec(ok = false, 0L, s"threw: $e")
      case Success(rows) => Try(op.check(rows)) match {
        case Success(None) => rec(ok = true, rows, "")
        case Success(Some(msg)) => rec(ok = false, rows, msg)
        case Failure(e) => rec(ok = false, rows, s"check threw: $e")
      }
    }
  }

  /** Mark the records of `ids` in `pass` failed (a post-pass check found
    * their output wrong). */
  def fail(recs: Seq[OpRecord], pass: Int, ids: Set[String], why: String): Seq[OpRecord] =
    recs.map(r => if (r.pass == pass && ids(r.id) && r.ok) r.copy(ok = false, error = why) else r)

  final case class Summary(attempted: Int, failed: Int, total: Double, warmTotal: Double,
      p50: Double, tailPct: Int, tail: Double, rowsPerSecond: Double, samples: Int) {
    def failedShare: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  /** The end-to-end figures of a run's records. `total` sums the first
    * (cold) pass. Everything else describes the later (warm) passes, or the
    * first pass when there is no other: `warmTotal` is the median pass
    * sum, `rowsPerSecond` the median pass rate, and the nearest-rank
    * latency percentiles pool their ops. Failed ops count as attempted and
    * failed, and their time is in no figure. */
  def summarize(recs: Seq[OpRecord]): Summary = {
    val passes = recs.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.filter(_.ok))
    val total = passes.headOption.map(_.map(_.seconds).sum).getOrElse(0.0)
    val warm = if (passes.size > 1) passes.tail else passes
    val lat = warm.flatten.map(_.seconds)
    val pct = Stats.tailPercentile(lat.size)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Summary(recs.size, recs.count(!_.ok), total,
      med(warm.map(_.map(_.seconds).sum)),
      if (lat.isEmpty) 0.0 else Stats.percentile(lat, 50), pct,
      if (lat.isEmpty) 0.0 else Stats.percentile(lat, pct),
      med(warm.filter(_.nonEmpty).map(p => p.map(_.rows).sum / p.map(_.seconds).sum)),
      lat.size)
  }
}
