package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types._

/** Container format of a generated file. The format decides how an
  * extended ("user-defined") missing is written: Stata `.a`–`.c` (byte
  * columns), SAS `.A`–`.C`, or an SPSS declared missing code.
  */
sealed abstract class Fmt(val name: String, val ext: String)

object Fmt {
  case object Dta extends Fmt("dta", "dta")
  case object Sas extends Fmt("sas", "sas7bdat")
  case object SasRle extends Fmt("sas_rle", "sas7bdat")
  case object SasRdc extends Fmt("sas_rdc", "sas7bdat")
  case object Sav extends Fmt("sav", "sav")
  case object Zsav extends Fmt("zsav", "zsav")
  /** In-memory frames: an extended missing is a plain null. */
  case object Plain extends Fmt("plain", "")

  /** SPSS declared missing codes standing for extended missings 1..3. */
  val SavMissingCodes: Seq[Double] = Seq(-7.0, -8.0, -9.0)
}

/** One generated column. Every numeric value is a multiple of 0.25, so
  * double sums are exact whatever order an engine adds them in.
  */
sealed trait Col {
  def name: String
  def dataType: DataType
}

/** Low-cardinality code 1..levels; `labels` (if non-empty) are its value labels. */
final case class Coded(name: String, levels: Int, missing: Double,
    labels: IndexedSeq[String] = IndexedSeq.empty) extends Col {
  def dataType: DataType = DoubleType
}

/** `step * k` for k in 0 until steps. */
final case class Amount(name: String, step: Double, steps: Int, missing: Double) extends Col {
  def dataType: DataType = DoubleType
}

/** A date `from + k` days for k in 0 until span. */
final case class Day(name: String, from: Int, span: Int) extends Col {
  def dataType: DataType = DateType
}

/** A string from `pool`, padded to `width` in the container. */
final case class Text(name: String, pool: IndexedSeq[String], width: Int, missing: Double) extends Col {
  def dataType: DataType = StringType
}

/** Constant per file: lets a consumer attribute rows to the file they came in. */
final case class FileId(name: String) extends Col {
  def dataType: DataType = DoubleType
}

/** A generated table shape: its columns, the column the filter ops test
  * (`predCol >= 4`) and the columns the subset ops project. With
  * `dtaBytes`, dta files store codes as Stata `byte`, the type whose
  * extended missings read back as null (on Stata doubles `.a`–`.z` read
  * back as NaN values, so dta doubles carry system missings only).
  */
final case class Table(cols: IndexedSeq[Col], predCol: String, subset: Seq[String],
    dtaBytes: Boolean = false) {
  val schema: StructType = StructType(cols.map(c => StructField(c.name, c.dataType)))
  def byteCoded(fmt: Fmt, i: Int): Boolean = dtaBytes && fmt == Fmt.Dta && cols(i).isInstanceOf[Coded]
  def schemaFor(fmt: Fmt): StructType = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
    if (byteCoded(fmt, i)) f.copy(dataType = ByteType) else f
  })
  def index(name: String): Int = cols.indexWhere(_.name == name)
  def widths: Map[String, Int] = cols.collect { case t: Text => t.name -> t.width }.toMap
  def dtaLabels: Map[String, Map[Int, String]] = cols.collect {
    case c: Coded if c.labels.nonEmpty =>
      c.name -> c.labels.zipWithIndex.map { case (l, i) => (i + 1) -> l }.toMap
  }.toMap
  def savLabels: Map[String, Map[Double, String]] =
    dtaLabels.map { case (c, m) => c -> m.map { case (k, v) => k.toDouble -> v } }
  def savMissing: Map[String, Seq[Double]] = cols.collect {
    case c: Coded if c.missing > 0 => c.name -> Fmt.SavMissingCodes
    case a: Amount if a.missing > 0 => a.name -> Fmt.SavMissingCodes
  }.toMap
  def names: Seq[String] = cols.map(_.name)
  def withExtra(c: Col): Table = copy(cols = cols :+ c)
}

object Tables {
  private val regions = IndexedSeq("North", "North East", "East", "South East", "South",
    "South West", "West", "North West", "Central")
  private val names = IndexedSeq("Ana", "Bo", "Chiara", "Dmitri", "Esther", "Farouk",
    "Grace", "Hiroshi", "Ines", "Jamal", "Katarzyna", "Liam", "Mei", "Nikolai", "Olu",
    "Priya", "Quentin", "Rosa", "Sven", "Tomasz", "Uma", "Viktor", "Wanjiru", "Xavier",
    "Yusuf", "Zofia", "Alejandro", "Bridget", "Chen", "Dolores")
  private val comments = IndexedSeq("refused income item", "proxy interview",
    "callback scheduled", "language assistance", "partial complete", "no comment",
    "respondent hard of hearing", "interviewer note: dog", "moved since last wave",
    "consent withdrawn for linkage", "complete", "complete, long interview")

  /** Household-survey microdata: codes with labels, missings, padded strings, dates. */
  def survey(labels: Boolean): Table = Table(
    IndexedSeq[Col](
      Coded("region", 9, 0.0, if (labels) regions else IndexedSeq.empty),
      Amount("age", 1.0, 73, 0.03),
      Amount("income", 250.0, 800, 0.08),
      Amount("weight", 0.25, 16, 0.0),
      Coded("hh_size", 8, 0.01)) ++
      (1 to 6).map(i => Coded(s"q$i", 5, 0.05)) ++
      IndexedSeq(
        Day("interview_date", 18262, 1826), // 2020-01-01 .. 2024-12-30
        Text("name", names, 16, 0.02),
        Text("comment", comments, 40, 0.3)),
    predCol = "q1", subset = Seq("q1", "income", "name"), dtaBytes = labels)

  /** A questionnaire with `items` Likert columns (projection-pushdown case). */
  def wide(items: Int): Table = Table(
    (1 to items).map(i => Coded(f"v$i%03d", 5, 0.02): Col) ++
      IndexedSeq(Text("name", names, 16, 0.02), Text("comment", comments, 40, 0.3)),
    predCol = "v001", subset = Seq("v001", "v002", "name"), dtaBytes = true)

  /** Small-file intake shape: no value labels, so every format reads back
    * with one schema; `file_id` attributes rows to their file.
    */
  def intake: Table = survey(labels = false).withExtra(FileId("file_id"))
}

/** Closed-form aggregates of generated rows, per column: non-null count
  * and sum (values; string lengths; epoch days), plus the summed label
  * lengths of labeled codes, which read back as their label strings.
  */
final class Acc(table: Table) {
  private val n = table.cols.length
  var rows = 0L
  val count = new Array[Long](n)
  val sum = new Array[Double](n)
  val labelLen = new Array[Long](n)

  /** Folds one generated row (in generator terms, before format encoding). */
  def add(v: Array[Any]): Unit = {
    rows += 1
    var i = 0
    while (i < n) {
      v(i) match {
        case null =>
        case d: java.lang.Double if Gen.isExtended(d) =>
        case d: java.lang.Double =>
          count(i) += 1; sum(i) += d
          table.cols(i) match {
            case c: Coded if c.labels.nonEmpty => labelLen(i) += c.labels(d.toInt - 1).length
            case _ =>
          }
        case s: String => count(i) += 1; sum(i) += s.length
        case d: java.sql.Date => count(i) += 1; sum(i) += d.toLocalDate.toEpochDay.toDouble
        case x => throw new IllegalStateException(s"unexpected generated value $x")
      }
      i += 1
    }
  }

  def merge(o: Acc): Unit = {
    rows += o.rows
    for (i <- 0 until n) { count(i) += o.count(i); sum(i) += o.sum(i); labelLen(i) += o.labelLen(i) }
  }
}

/** Expectations of a set of generated rows: all of them, and the ones
  * passing the table's predicate `predCol >= 4`.
  */
final class Expect(val table: Table) {
  val all = new Acc(table)
  val pred = new Acc(table)
  private val pi = table.index(table.predCol)

  def add(v: Array[Any]): Unit = {
    all.add(v)
    v(pi) match {
      case d: java.lang.Double if !Gen.isExtended(d) && d >= 4 => pred.add(v)
      case _ =>
    }
  }

  def merge(o: Expect): Expect = {
    require(o.table == table, "merging expectations of different tables")
    all.merge(o.all); pred.merge(o.pred)
    this
  }
}

/** Seeded row generator. Rows come in chunks of [[Gen.Chunk]] with one
  * random stream per (seed, file, chunk), so a file reads the same however
  * its chunks are spread over tasks.
  */
object Gen {
  val Chunk = 8192

  /** Extended missings are tagged in generator terms as negative tags
    * stored in a dedicated boxed double, never produced by a column.
    */
  private final val ExtBase = -1000.0
  def extended(tag: Int): java.lang.Double = java.lang.Double.valueOf(ExtBase - tag)
  def isExtended(d: java.lang.Double): Boolean = d <= ExtBase - 1
  def extTag(d: java.lang.Double): Int = (ExtBase - d).toInt

  def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L ^ b * 0xC2B2AE3D27D4EB4FL ^ c * 0x165667B19E3779F9L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    h
  }

  /** Generated values of rows [chunk*Chunk, min(nRows, (chunk+1)*Chunk)). */
  def chunk(t: Table, seed: Long, file: Int, chunk: Int, nRows: Long): Iterator[Array[Any]] = {
    val rng = new SplittableRandom(mix(seed, file.toLong, chunk.toLong))
    val start = chunk.toLong * Chunk
    val end = math.min(nRows, start + Chunk)
    Iterator.range(0, (end - start).toInt).map(_ => row(t, rng, file))
  }

  def rows(t: Table, seed: Long, file: Int, nRows: Long): Iterator[Array[Any]] =
    Iterator.range(0, ((nRows + Chunk - 1) / Chunk).toInt)
      .flatMap(c => chunk(t, seed, file, c, nRows))

  private def missingCell(rng: SplittableRandom): Any =
    if (rng.nextBoolean()) null else extended(1 + rng.nextInt(3))

  private def row(t: Table, rng: SplittableRandom, file: Int): Array[Any] = {
    val v = new Array[Any](t.cols.length)
    var i = 0
    while (i < v.length) {
      v(i) = t.cols(i) match {
        case c: Coded =>
          if (c.missing > 0 && rng.nextDouble() < c.missing) missingCell(rng)
          else java.lang.Double.valueOf((1 + rng.nextInt(c.levels)).toDouble)
        case a: Amount =>
          if (a.missing > 0 && rng.nextDouble() < a.missing) missingCell(rng)
          else java.lang.Double.valueOf(a.step * rng.nextInt(a.steps))
        case d: Day => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay((d.from + rng.nextInt(d.span)).toLong))
        case s: Text =>
          if (s.missing > 0 && rng.nextDouble() < s.missing) null
          else s.pool(rng.nextInt(s.pool.length))
        case _: FileId => java.lang.Double.valueOf(file.toDouble)
      }
      i += 1
    }
    v
  }

  /** A generated row encoded for `f`: extended missings become the
    * format's tagged-missing pattern (or declared code, or null).
    */
  def encode(v: Array[Any], f: Fmt, t: Table): Row = {
    val out = v.clone()
    var i = 0
    while (i < out.length) {
      out(i) match {
        case d: java.lang.Double if isExtended(d) => out(i) = extendedFor(f, extTag(d), t.byteCoded(f, i))
        case d: java.lang.Double if t.byteCoded(f, i) => out(i) = java.lang.Byte.valueOf(d.byteValue)
        case _ =>
      }
      i += 1
    }
    new GenericRow(out)
  }

  /** Extended missing `tag` (1 = `.a`) as `f` stores it in a double column
    * (or a Stata byte column when `byte`).
    */
  def extendedFor(f: Fmt, tag: Int, byte: Boolean = false): Any = f match {
    case Fmt.Dta => if (byte) java.lang.Byte.valueOf((0x65 + tag).toByte) else null
    case Fmt.Sas | Fmt.SasRle | Fmt.SasRdc =>
      java.lang.Double.longBitsToDouble(0xFFFF000000000000L | ((0xFF ^ (0x40 + tag)).toLong << 40))
    case Fmt.Sav | Fmt.Zsav => Fmt.SavMissingCodes(tag - 1)
    case Fmt.Plain => null
  }

  /** Rows for `f` that fold into `exp` as they are produced. */
  def tracked(t: Table, seed: Long, file: Int, nRows: Long, f: Fmt, exp: Expect): Iterator[Row] =
    rows(t, seed, file, nRows).map { v => exp.add(v); encode(v, f, t) }

  /** The closed-form aggregates of one file, without encoding it. */
  def expect(t: Table, seed: Long, file: Int, nRows: Long): Expect = {
    val e = new Expect(t)
    rows(t, seed, file, nRows).foreach(e.add)
    e
  }
}
