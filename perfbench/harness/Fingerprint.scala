package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical result fingerprint: a digest of the schema plus the SORTED
  * canonical rendering of every row, so it does not depend on row order,
  * on how a float accumulated, or on how a null is spelled.
  *
  *  - rows are rendered cell by cell, then sorted as strings;
  *  - doubles keep 10 significant digits and floats 6: enough to tell
  *    wrong answers apart, few enough that a different summation order
  *    (shuffle arrival order) renders the same;
  *  - `-0.0` renders as `0`, every NaN as `NaN`;
  *  - null renders as `\N`; a string cell is escaped, so the string
  *    `"\N"` renders as `\\N` and never collides with null;
  *  - nested arrays, maps and structs render recursively (maps sorted by
  *    rendered key); text inside them also escapes the delimiters they
  *    are joined with, so `["a,b"]` never renders as `["a","b"]`.
  */
object Fingerprint {

  private val CellSep = "\u0001"

  def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\n", "\\n").replace(CellSep, "\\1")

  /** `escape`, then a backslash before every delimiter of nested values. */
  def escapeNested(s: String): String = escape(s).replaceAll("([,:()\\[\\]{}])", "\\\\$1")

  private def real(d: Double, digits: Int): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else {
      val bd = new java.math.BigDecimal(d)
        .round(new java.math.MathContext(digits, java.math.RoundingMode.HALF_EVEN))
        .stripTrailingZeros
      bd.toString
    }

  def cell(v: Any): String = render(v, nested = false)

  private def render(v: Any, nested: Boolean): String = v match {
    case null => "\\N"
    case d: Double => real(d, 10)
    case f: Float => real(f.toDouble, 6)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render(_, nested = true)).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (render(k, nested = true), render(x, nested = true)) }
        .sortBy(_._1).map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render(_, nested = true)).mkString("[", ",", "]")
    case other => if (nested) escapeNested(other.toString) else escape(other.toString)
  }

  def row(r: Row): String = r.toSeq.map(cell).mkString(CellSep)

  /** Canonical text of a result: schema header, then the sorted rows. */
  def canonical(schema: StructType, rows: Seq[Row]): String = {
    val header = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(CellSep)
    (header +: rows.map(row).sorted).mkString("\n")
  }

  def of(schema: StructType, rows: Seq[Row]): String =
    MessageDigest.getInstance("SHA-256")
      .digest(canonical(schema, rows).getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
