package xlbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** Run-wide state shared by the workloads: the session, the work
  * directory, the query fixture, and (in the traced run) the span
  * recorder and the Spark listener. */
final class Ctx(val seed: Long, val traced: Boolean,
    val work: Path, val fixture: Path, val goldens: Path) {
  val spans = new Spans(traced)
  val trace: Option[SparkTrace] = if (traced) Some(new SparkTrace) else None
  var spark: SparkSession = _
  var pass = 0
  /** Seconds spent waiting for the listener bus: pure tracing cost. */
  var drainSeconds = 0.0

  def sfDir: String = fixture.toAbsolutePath.toString
  def master: String = s"local[${graft.GraftSession.cpus}]"

  /** (Re)build the session through the program's shared builder and, when
    * tracing, register the listeners on it. */
  def newSession(): Unit = {
    if (spark != null) spark.stop()
    spark = graft.GraftSession.build()
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
  }

  /** Run `f` with its Spark jobs attributed to `group` (traced run only);
    * the listener bus is drained afterwards so the group's counters are
    * complete before anything else runs. */
  def group[T](group: String)(f: => T): T = trace match {
    case None => f
    case Some(t) =>
      val sc = spark.sparkContext
      t.current = group
      sc.setJobGroup(group, group)
      try f
      finally {
        sc.clearJobGroup()
        val t0 = System.nanoTime()
        org.apache.spark.ListenerBusDrain(sc)
        drainSeconds += (System.nanoTime() - t0) / 1e9
        t.current = SparkTrace.Unattributed
      }
  }

  /** Job group name of one phase of op `id` in the current pass. */
  def phase(id: String, name: String): String = s"p$pass/$id|$name"

  /** A span around a call into a layer, with its jobs in the op's group. */
  def layer[T](op: String, name: String)(f: => T): T =
    spans(name)(group(phase(op, name))(f))
}
