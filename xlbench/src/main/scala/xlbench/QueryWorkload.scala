package xlbench

import graft.queries._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graded queries built with `Q.build` and executed with `.count()` over
  * the query fixture: a cold pass in a fresh application, then warm
  * passes. Every count is compared with its golden; the traced run also
  * compares an order-insensitive content digest. */
final class QueryWorkload(val name: String, chosen: Seq[String]) extends Workload {
  // a cold pass of about 18 s, then three warm passes of about 6.5 s
  override val minPasses = 4
  private var keys: Seq[String] = Nil
  private var goldens: Map[String, (Long, String)] = Map.empty

  def generate(ctx: Ctx): Seq[String] = {
    goldens = Goldens.read(ctx.goldens)
    keys = ImportCorpus.shuffle(chosen, new java.util.SplittableRandom(ctx.seed))
    Seq(s"$name order: ${keys.mkString(",")}")
  }

  def warmUp(ctx: Ctx): Unit = {
    val s = ctx.spark; val d = ctx.sfDir
    // one scan-aggregate and one untimed graded query that no workload
    // times; everything else a timed query touches first is its cold cost
    s.read.parquet(s"$d/lineitem.parquet").groupBy("l_returnflag").count().count()
    graft.GraftConf.scoped(s)(QueryWorkload.query(QueryWorkload.WarmUpKey).build(s, d).count())
  }

  def ops(ctx: Ctx): Seq[Op] = keys.map { k =>
    val q = QueryWorkload.query(k)
    var df: DataFrame = null
    Op(k, if (ctx.pass == 1) "cold" else "warm", QueryWorkload.moduleOf(k), () =>
      graft.GraftConf.scoped(ctx.spark) {
        df = ctx.layer(k, "queries.build")(q.build(ctx.spark, ctx.sfDir))
        ctx.layer(k, "queries.action")(df.count())
      },
      rows => {
        val (want, digest) = goldens(k)
        if (rows != want) Some(s"$k counted $rows rows, golden $want")
        else if (ctx.traced && digest != Goldens.Unstable) {
          val got = ctx.group(ctx.phase(k, "digest"))(graft.GraftConf.scoped(ctx.spark)(Goldens.digest(df)))
          Option.when(got != digest)(s"$k content digest $got, golden $digest")
        } else None
      })
  }
}

object QueryWorkload {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  val Modules: Seq[(String, QueryModule)] = Seq(
    "Relational" -> Relational, "Windows" -> Windows, "Aggregates" -> Aggregates,
    "AdvancedJoins" -> AdvancedJoins, "Scalars" -> Scalars, "Llm" -> Llm,
    "VectorQuant" -> VectorQuant, "TableFormat" -> TableFormat, "StreamingBatch" -> StreamingBatch,
    "Sources" -> Sources, "Extras" -> Extras, "Analytics" -> Analytics,
    "TextScoring" -> TextScoring, "ScalePatterns" -> ScalePatterns, "Fuzzed" -> Fuzzed)

  private lazy val byKey: Map[String, (String, Q)] =
    Modules.flatMap { case (m, mod) => mod.queries.map { case (k, q) => k -> (m, q) } }.toMap

  def query(k: String): Q = byKey(k)._2
  def moduleOf(k: String): String = byKey(k)._1

  /** Run untimed during set-up, so no timed query starts the JVM cold. */
  val WarmUpKey = "q01_pricing_summary"

  val AnnModules = Set("VectorQuant", "TableFormat")

  /** The pipeline queries in a fixed round-robin order over the 13
    * modules: the first 13 hold one query of each module, and any longer
    * prefix samples every module about equally. */
  lazy val pipelineOrder: Seq[String] = {
    val lists = Modules.filterNot { case (m, _) => AnnModules(m) }
      .map(_._2.queries.map(_._1).filterNot(_ == WarmUpKey))
    (0 until lists.map(_.size).max).flatMap(i => lists.flatMap(_.lift(i)))
  }

  /** ANN and table-format queries whose cold build fits a run, ordered so
    * a short prefix already holds one memo build of each kind: the SQ8
    * codebook, a manifest table staging, the PCA basis, then the IVF-ADC
    * coarse and product quantisers. */
  val annOrder: Seq[String] = Seq(
    "q214_sq8_assign", "q260_manifest_corpus", "q238_embedding_pca", "q234_semdedup_sq8",
    "q220_ivfadc_topk", "q215_sq8_recall", "q264_manifest_widen", "q221_ivfadc_recall",
    "q239_embedding_abtt", "q225_adc_rerank_topk", "q273_manifest_drop", "q256_manifest_timetravel",
    "q216_pq_assign", "q217_pq_recall", "q218_adc_topk", "q219_adc_recall",
    "q226_adc_rerank_recall", "q235_semdedup_sq8_agreement", "q261_manifest_schema",
    "q262_manifest_changes", "q267_manifest_bloom", "q269_manifest_rename",
    "q272_manifest_count", "q258_manifest_replace")

  /** One pipeline query of each of the 13 modules and three ANN queries
    * (cold, about 0.6 s per pipeline query and 2 s per ANN query at sf
    * 0.01 on 4 cores; warm, about 0.45 s and 0.6 s). */
  def queries: QueryWorkload =
    new QueryWorkload("queries", pipelineOrder.take(13) ++ annOrder.take(3))
}

/** Golden results of every graded query over the query fixture: row count
  * and an order-insensitive content digest (`-` where the content is not
  * reproducible run to run). */
object Goldens {
  val Unstable = "-"

  def read(p: java.nio.file.Path): Map[String, (Long, String)] =
    scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
        val Array(k, n, d) = l.split("\t")
        k -> (n.toLong, d)
      }.toMap

  /** Sum of per-row 64-bit hashes (as an exact decimal) and the row count. */
  def digest(df: DataFrame): String = scala.util.Try {
    val h = xxhash64(df.columns.toIndexedSeq.map(df.col): _*)
    val r = df.select(h.cast("decimal(38,0)").as("h")).agg(sum(col("h")), count(lit(1))).collect()(0)
    s"${r.get(0)}:${r.getLong(1)}"
  }.getOrElse("error")

  /** Compute goldens for every registered query (run twice; a digest that
    * differs between the runs is recorded as unstable). */
  def make(ctx: Ctx, out: java.nio.file.Path): Unit = {
    val all = QueryWorkload.Modules.flatMap(_._2.queries)
    def once(): Map[String, (Long, String)] = all.map { case (k, q) =>
      val r = graft.GraftConf.scoped(ctx.spark) {
        val df = q.build(ctx.spark, ctx.sfDir)
        (df.count(), digest(df))
      }
      System.err.println(s"[goldens] $k ${r._1} ${r._2}")
      k -> r
    }.toMap
    val a = once(); val b = once()
    val lines = all.map { case (k, _) =>
      require(a(k)._1 == b(k)._1, s"$k: count differs between runs")
      val d = if (a(k)._2 == b(k)._2 && a(k)._2 != "error") a(k)._2 else Unstable
      s"$k\t${a(k)._1}\t$d"
    }
    java.nio.file.Files.write(out, ("# key\tcount\tdigest (query fixture sf " +
      s"${Main.FixtureSf}, seed ${Main.FixtureSeed})\n" + lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
