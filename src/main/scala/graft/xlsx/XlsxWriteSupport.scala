package graft.xlsx

import java.io.File
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Distributed sink for `df.write.format("xlsx").mode(...).save(dir)`:
  * each non-empty partition writes its own workbook
  * (`part-NNNNN-<job>.xlsx`) into the target directory — xlsx is not a
  * splittable format, so "distributed xlsx" IS a directory of workbooks,
  * which is exactly what the read side consumes
  * (`spark.read.format("xlsx").load(dir)` plans one partition per file).
  *
  * Wired through the V1 `CreatableRelationProvider` hook on
  * [[XlsxDataSource]] (Spark routes `save()` there because the V2 table
  * deliberately does not claim BATCH_WRITE: the V2 write path resolves
  * the query **by name against the target's inferred schema**, which
  * cannot exist yet for a fresh directory).
  *
  * Semantics (two-phase commit, FileOutputCommitter-v1 style):
  *  - tasks write to a hidden attempt-unique `.staging` name, then
  *    rename it to `.staged` as the LAST task-side step — so only
  *    attempts that finished their write completely are ever eligible
  *    for commit. The DRIVER finalizes after the whole job succeeds,
  *    promoting exactly one `.staged` file per partition to its
  *    deterministic final name; a half-written zombie/speculative
  *    attempt never reaches `.staged` and can never be published, and
  *    a completed duplicate attempt is byte-equivalent by determinism
  *    of the writer, so either copy is a valid winner;
  *  - a mid-job failure leaves nothing visible (only hidden litter,
  *    which start-of-job sweeps remove once it is demonstrably stale —
  *    age-gated so a CONCURRENT writer to the same directory is not
  *    sabotaged);
  *  - Overwrite deletes the PRE-EXISTING workbooks after the new ones
  *    are all in place (deletes are checked — a survivor fails the
  *    job loudly rather than silently polluting the "overwritten"
  *    directory); Append adds files; ErrorIfExists/Ignore behave
  *    as documented on [[SaveMode]];
  *  - a partition buffers in memory before writing (the shared-string
  *    pool needs the full sheet anyway) and is capped at the sheet
  *    format limit — `repartition(n)` first for big frames;
  *  - supported column types: string, double, float, int, long,
  *    boolean, timestamp, date; null → blank cell. Others are rejected
  *    before any task runs, matching what the reader can round-trip;
  *  - an empty DataFrame still writes one header-only workbook so the
  *    schema round-trips;
  *  - [[XlsxSink.write]] returns the number of rows it committed, summed
  *    once per partition id, so callers need not re-read the source to
  *    report it.
  */
object XlsxSink {
  val MaxRowsPerSheet: Int = 1048575 // sheet limit minus the header row

  /** Test failpoint: invoked with each task's COMPLETED `.staged` file,
    * right after the task-side commit rename. Local mode never runs the
    * speculation scheduler, so the duplicate-attempt spec uses this to
    * materialize exactly the state a completed speculative attempt
    * leaves behind — a second byte-identical `.staged` file for the same
    * partition under a different attempt id — and proves the driver
    * commit promotes exactly one. Production never sets it. */
  private[xlsx] var onTaskStaged: java.io.File => Unit = _ => ()

  /** Hidden litter older than this is assumed to belong to a dead job. */
  private val StaleAfterMs = 60L * 60 * 1000

  private[xlsx] def checkSchema(schema: StructType): Unit = schema.fields.foreach { f =>
    f.dataType match {
      case StringType | DoubleType | FloatType | IntegerType | LongType |
           BooleanType | TimestampType | DateType =>
      case dt => throw new IllegalArgumentException(
        s"xlsx sink cannot write column '${f.name}' of type ${dt.sql} " +
          "(supported: string, double, float, int, long, boolean, timestamp, date)")
    }
  }

  private def existingWorkbooks(dir: File): Seq[File] = {
    val fs = dir.listFiles()
    if (fs == null) Seq.empty
    else fs.filter(f => f.isFile && f.getName.toLowerCase.endsWith(".xlsx")).toSeq
  }

  private def hiddenLitter(d: File): Seq[File] =
    Option(d.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile &&
        (f.getName.endsWith(".staging") || f.getName.endsWith(".staged")))
      .toSeq

  def write(df: DataFrame, dir: String, mode: SaveMode, sheet: String): Long = {
    checkSchema(df.schema)
    val d = new File(dir)
    require(!d.isFile, s"xlsx sink target $dir exists and is a file, not a directory")
    val old = existingWorkbooks(d)
    mode match {
      case SaveMode.ErrorIfExists if old.nonEmpty =>
        throw new IllegalStateException(
          s"$dir already contains ${old.size} workbook(s) (mode=ErrorIfExists)")
      case SaveMode.Ignore if old.nonEmpty => return 0L
      case _ =>
    }
    if (!d.exists()) require(d.mkdirs(), s"cannot create output directory $dir")

    // start-of-job sweep: only demonstrably STALE litter — an mtime gate
    // keeps a concurrent writer's in-flight files safe. A long-running
    // concurrent job's COMPLETED (.staged) files can legitimately cross
    // any age horizon before its driver commits, so a wrong sweep here
    // is survivable only because the owning job's commit verifies every
    // non-empty partition against its accumulator and fails loudly.
    hiddenLitter(d)
      .filter(_.lastModified() < System.currentTimeMillis() - StaleAfterMs)
      .foreach(f => require(f.delete() || !f.exists(),
        s"cannot remove stale staging file $f"))

    val schema = df.schema
    val header = schema.fieldNames.toSeq
    // job-unique token in every file name: task attempt ids RESTART per
    // SparkContext, so without it a re-run Overwrite would write files
    // with the same names as the previous run's and then delete them as
    // "pre-existing"
    val jobId = java.util.UUID.randomUUID().toString.take(8)
    // records which partitions actually produced a workbook, and how
    // many rows, so the driver commit can PROVE it promoted one file per
    // non-empty partition — without this, a .staged file deleted out
    // from under the job (crash cleanup, concurrent sweep, operator
    // error) would turn into a silently incomplete "successful" write.
    // A duplicate attempt adds its partition a second time with the same
    // count; keying by partition id counts it once.
    val nonEmpty = df.sparkSession.sparkContext.collectionAccumulator[(Int, Long)]("xlsxNonEmptyParts")
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val ctx = TaskContext.get()
        // attempt id in the hidden names: concurrent attempts of the
        // same partition must not clobber each other's files
        val base = f".part-${ctx.partitionId()}%05d-$jobId-a${ctx.taskAttemptId()}.xlsx"
        val staging = new File(dir, s"$base.staging")
        val buf = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
        rows.foreach { r =>
          require(buf.length < MaxRowsPerSheet,
            s"partition ${ctx.partitionId()} exceeds $MaxRowsPerSheet rows " +
              "(the xlsx sheet limit) — repartition the DataFrame before writing")
          buf += r.toSeq
        }
        XlsxWriter.write(staging.getPath, Seq(XlsxWriter.Sheet(sheet, header, buf.toSeq)))
        nonEmpty.add(ctx.partitionId() -> buf.length.toLong)
        // completion marker: the atomic rename is the task's commit —
        // an attempt killed mid-write never produces a .staged file
        val done = new File(dir, s"$base.staged")
        require(staging.renameTo(done), s"cannot rename $staging to $done")
        onTaskStaged(done)
      }
    }

    // driver-side commit: one COMPLETED file per partition id promoted
    // to the deterministic final name — duplicate attempts of a
    // partition are discarded here, never made visible
    val Staged = raw"\.part-(\d{5})-$jobId-a\d+\.xlsx\.staged".r
    val staged = Option(d.listFiles()).getOrElse(Array.empty[File])
      .flatMap(f => f.getName match {
        case Staged(pid) => Some(pid -> f)
        case _ => None
      })
    val parts = nonEmpty.value.asScala.toMap
    val expected = parts.keySet.map(i => f"$i%05d")
    val present = staged.map(_._1).toSet
    require(expected.subsetOf(present),
      s"xlsx commit is missing staged output for partition(s) " +
        s"${(expected -- present).toSeq.sorted.mkString(", ")} — " +
        "a staged file was removed before commit; failing instead of " +
        "publishing an incomplete result")
    staged.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (pid, attempts) =>
      val sorted = attempts.map(_._2).sortBy(_.getName)
      val winner = sorted.head
      val target = new File(d, s"part-$pid-$jobId.xlsx")
      java.nio.file.Files.move(winner.toPath, target.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      sorted.tail.foreach(dup => require(dup.delete() || !dup.exists(),
        s"cannot remove duplicate attempt output $dup"))
    }

    if (mode == SaveMode.Overwrite) old.foreach(f =>
      require(f.delete() || !f.exists(),
        s"overwrite cannot delete pre-existing workbook $f — " +
          "directory would contain a mix of old and new files"))

    // empty input: keep the schema readable from the directory
    if (existingWorkbooks(d).isEmpty)
      XlsxWriter.write(new File(d, s"part-00000-$jobId-empty.xlsx").getPath,
        Seq(XlsxWriter.Sheet(sheet, header, Seq.empty)))

    // end-of-job sweep: OUR leftovers only (a crashed zombie's .staging
    // with this jobId); other jobs' files are left alone
    hiddenLitter(d).filter(_.getName.contains(s"-$jobId-"))
      .foreach(f => require(f.delete() || !f.exists(),
        s"cannot remove leftover staging file $f"))
    parts.values.sum
  }
}
