package xlbench

import java.nio.file.Path
import java.util.SplittableRandom
import scala.collection.mutable
import xlbench.Ooxml._

/** The import workload's seeded workbook corpus and the table states the
  * loads must produce.
  *
  * The properties parse and inference cost depend on are stratified, not
  * drawn independently, so every seed gives the same cells of the same
  * kinds (the seed moves values, column order and op order):
  *  - rows per workbook: log-uniform over [500, 50000], the midpoint of
  *    each stratum, split evenly over its 1–3 sheets; 3–9 columns a sheet;
  *  - column kinds: integers, decimals, low- and high-cardinality text,
  *    dates, booleans and a half-blank numeric column;
  *  - shared-string and inline-string workbooks alternate.
  * Ops are replace loads, appends onto an earlier table, and upserts that
  * re-drop an earlier sheet with some rows changed and some added. */
object ImportCorpus {

  sealed trait Kind { def tag: String }
  case object IntNum extends Kind { val tag = "int" }
  case object DecNum extends Kind { val tag = "dec" }
  case object LowStr extends Kind { val tag = "cat" }
  case object HighStr extends Kind { val tag = "txt" }
  case object DateCol extends Kind { val tag = "date" }
  case object BoolCol extends Kind { val tag = "flag" }
  case object Sparse extends Kind { val tag = "opt" }
  val Kinds: Seq[Kind] = Seq(IntNum, DecNum, LowStr, HighStr, DateCol, BoolCol, Sparse)

  /** A sheet's shape: its table name, column kinds (after `id`) and value seed. */
  final case class SheetSpec(table: String, kinds: Seq[Kind], salt: Long) {
    def header: Seq[String] = "ID" +: kinds.zipWithIndex.map { case (k, j) => s"Col $j ${k.tag.capitalize}" }
    /** The names the loader's sanitiser gives those headers. */
    def columns: Seq[String] = "id" +: kinds.zipWithIndex.map { case (k, j) => s"col_${j}_${k.tag}" }
  }

  final case class ImportOp(id: String, mode: String, path: Path, sheets: Seq[(SheetSpec, IndexedSeq[Array[Cell]])]) {
    def rows: Long = sheets.map(_._2.size.toLong).sum
  }

  final case class Corpus(ops: Seq[ImportOp], expected: Map[String, TableCheck], digest: String, bytes: Long)

  /** Row count plus checksum aggregates of one table. `intSum` sums the
    * first integer column, `textLen` the lengths of all text cells. */
  final case class TableCheck(rows: Long, idSum: Double, nonNull: Map[String, Long],
      intSum: Double, textLen: Long)

  private def value(kind: Kind, id: Long, salt: Long, rowsHint: Int): Cell = {
    val r = new SplittableRandom(salt * 1000003L + id)
    kind match {
      case IntNum => Num(r.nextInt(100000).toDouble)
      case DecNum => Num(r.nextInt(10000000) / 100.0)
      case LowStr => Str(Seq("north", "south", "east", "west", "central")(r.nextInt(5)))
      case HighStr => Str(s"item-${r.nextInt(rowsHint max 1)}-${r.nextInt(1000)}")
      case DateCol => Date(36526 + r.nextInt(9000)) // 2000-01-01 onwards
      case BoolCol => Bool(r.nextBoolean())
      case Sparse => if (r.nextBoolean()) Blank else Num(r.nextInt(1000).toDouble)
    }
  }

  private def rowOf(spec: SheetSpec, id: Long, salt: Long, rowsHint: Int): Array[Cell] =
    (Num(id.toDouble): Cell) +: spec.kinds.zipWithIndex.map { case (k, j) => value(k, id, salt * 31 + j, rowsHint) }.toArray

  /** Log-uniform row counts over [lo, hi], one per stratum: value `i` of
    * `n` is the midpoint of the `i`-th of `n` equal slices of the log
    * range, so the sizes (and the work) are the same for every seed. */
  def sheetRows(n: Int, lo: Int = 500, hi: Int = 50000): IndexedSeq[Int] =
    (0 until n).map(i => math.round(lo * math.pow(hi.toDouble / lo, (i + 0.5) / n)).toInt)

  def generate(dir: Path, seed: Long, nOps: Int, maxRows: Int = 50000): Corpus = {
    val rnd = new SplittableRandom(seed)
    // per-op shape: every sixth op appends and every sixth upserts; the
    // rest are replace loads of 1-3 fresh sheets
    val modes = (0 until nOps).map(i => if (i % 6 == 3) "append" else if (i % 6 == 5) "upsert" else "replace")
    val nFresh = modes.count(_ == "replace")
    // stratum k fixes a workbook's rows, sheet count and column kinds; the
    // seed only decides which op loads which stratum, and the column order
    val sizes = sheetRows(nFresh, 500 min maxRows, maxRows)
    val strata = shuffle(0 until nFresh, rnd)
    def kindsOf(k: Int, sheet: Int): Seq[Kind] = {
      val r = (k + sheet) % Kinds.size
      shuffle((Kinds.drop(r) ++ Kinds.take(r)).take(3 + r), rnd)
    }

    val tables = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[Long, Array[Cell]]]
    val specs = mutable.ArrayBuffer.empty[(SheetSpec, Int)] // created tables and their base size
    val nextId = mutable.Map.empty[String, Long]
    var fresh = 0
    val allBytes = mutable.ArrayBuffer.empty[Array[Byte]]
    val ops = modes.zipWithIndex.map { case (mode, i) =>
      val id = f"imp$i%03d"
      val sheets: Seq[(SheetSpec, IndexedSeq[Array[Cell]])] = mode match {
        case "replace" =>
          val k = strata(fresh)
          val n = 1 + k % 3
          fresh += 1
          (0 until n).map { s =>
            val spec = SheetSpec(f"t$i%03d_$s", kindsOf(k, s), rnd.nextLong())
            val rows = (sizes(k) / n) max 100
            specs += ((spec, rows))
            nextId(spec.table) = rows.toLong
            spec -> (0 until rows).map(r => rowOf(spec, r.toLong, spec.salt, rows))
          }
        case "append" =>
          val (spec, base) = middleSheet(specs.toSeq)
          val n = (base / 4) max 100
          val from = nextId(spec.table); nextId(spec.table) = from + n
          Seq(spec -> (0 until n).map(r => rowOf(spec, from + r, spec.salt, base)))
        case _ => // upsert: re-drop of an earlier sheet, every 10th row changed, 5% new keys
          val (spec, base) = middleSheet(specs.toSeq)
          val current = tables(spec.table)
          val salt2 = rnd.nextLong()
          val changed = current.keys.toIndexedSeq.map { k =>
            if (k % 10 == 7) rowOf(spec, k, salt2, base) else current(k)
          }
          val n = (base / 20) max 10
          val from = nextId(spec.table); nextId(spec.table) = from + n
          Seq(spec -> (changed ++ (0 until n).map(r => rowOf(spec, from + r, salt2, base))))
      }
      // apply the op to the expected table states
      sheets.foreach { case (spec, rows) =>
        val t = if (mode == "replace") {
          val m = mutable.LinkedHashMap.empty[Long, Array[Cell]]; tables(spec.table) = m; m
        } else tables(spec.table)
        rows.foreach(r => t(r(0).asInstanceOf[Num].v.toLong) = r)
      }
      val path = dir.resolve(s"$id.xlsx")
      allBytes += Ooxml.write(path, sheets.map { case (s, r) => Sheet(s.table, s.header, r) },
        sharedStrings = i % 2 == 0)
      ImportOp(id, mode, path, sheets)
    }
    val specByTable = specs.map { case (s, _) => s.table -> s }.toMap
    val expected = tables.map { case (t, rows) => t -> check(specByTable(t), rows.values.toSeq) }.toMap
    Corpus(ops, expected, Fixtures.sha256(allBytes.iterator), allBytes.map(_.length.toLong).sum)
  }

  /** The earlier sheet whose size is closest to the geometric middle of
    * the range, so appends and upserts cost about the same for any seed. */
  private def middleSheet(specs: Seq[(SheetSpec, Int)]): (SheetSpec, Int) =
    specs.minBy { case (_, n) => math.abs(math.log(n / 5000.0)) }

  def check(spec: SheetSpec, rows: Seq[Array[Cell]]): TableCheck = {
    val cols = spec.columns
    val nonNull = cols.indices.map(j => cols(j) -> rows.count(r => r(j) != Blank).toLong).toMap
    val intCol = spec.kinds.indexOf(IntNum) + 1
    TableCheck(rows.size.toLong, rows.map(_(0).asInstanceOf[Num].v).sum, nonNull,
      if (intCol > 0) rows.map(_(intCol).asInstanceOf[Num].v).sum else 0.0,
      rows.map(_.collect { case Str(s) => s.length.toLong }.sum).sum)
  }

  /** The same aggregates, as DuckDB SQL over a loaded table. */
  def checkSql(spec: SheetSpec): String = {
    val intCol = spec.kinds.indexOf(IntNum) + 1
    val texts = spec.kinds.zipWithIndex.collect { case (k, j) if k == LowStr || k == HighStr => spec.columns(j + 1) }
    val textLen = if (texts.isEmpty) "0" else texts.map(c => s"coalesce(sum(length(\"$c\")), 0)").mkString(" + ")
    s"SELECT count(*), coalesce(sum(id), 0), " +
      spec.columns.map(c => s"count(\"$c\")").mkString(", ") +
      s", ${if (intCol > 0) s"coalesce(sum(\"${spec.columns(intCol)}\"), 0)" else "0"}, $textLen FROM \"${spec.table}\""
  }

  def shuffle[T](xs: Seq[T], rnd: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}
