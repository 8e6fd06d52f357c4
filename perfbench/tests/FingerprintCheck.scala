package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Checks of the fingerprint canonicalisation; exits non-zero on the
  * first failure. Compiled and run by test_fingerprint.py. */
object FingerprintCheck {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL: $what") }

  def main(args: Array[String]): Unit = {
    val d = StructType(Seq(StructField("x", DoubleType), StructField("s", StringType)))
    def fp(rows: Row*): String = Fingerprint.of(d, rows)

    // row order
    check("row order does not matter",
      fp(Row(1.0, "a"), Row(2.0, "b"), Row(3.0, null)) ==
        fp(Row(3.0, null), Row(1.0, "a"), Row(2.0, "b")))
    check("row multiplicity matters", fp(Row(1.0, "a")) != fp(Row(1.0, "a"), Row(1.0, "a")))

    // float rendering
    check("summation-order noise in a double renders the same",
      fp(Row(0.1 + 0.2, "a")) == fp(Row(0.3, "a")))
    check("a real difference in a double shows", fp(Row(1.0, "a")) != fp(Row(1.0001, "a")))
    check("-0.0 renders as 0.0", fp(Row(-0.0, "a")) == fp(Row(0.0, "a")))
    check("NaN renders as NaN", Fingerprint.cell(Double.NaN) == "NaN")
    check("integral double renders without a fraction", Fingerprint.cell(5.0) == "5")
    check("float keeps 6 significant digits",
      Fingerprint.cell(0.1f + 0.2f) == Fingerprint.cell(0.3f) &&
        Fingerprint.cell(1.5f) == "1.5" && Fingerprint.cell(1.25f) != Fingerprint.cell(1.26f))
    check("decimal scale does not matter",
      Fingerprint.cell(new java.math.BigDecimal("1.500")) == "1.5")

    // nulls
    check("null is not the string \\N", fp(Row(1.0, null)) != fp(Row(1.0, "\\N")))
    check("null is not the empty string", fp(Row(1.0, null)) != fp(Row(1.0, "")))
    check("null renders as \\N", Fingerprint.cell(null) == "\\N")
    check("a string cannot forge a cell boundary",
      fp(Row(1.0, "a\u0001b")) != fp(Row(1.0, "a"), Row(1.0, "b")))

    // nested values
    check("null inside an array",
      Fingerprint.cell(Seq(1.0, null)) == "[1,\\N]")
    check("map order does not matter",
      Fingerprint.cell(Map("b" -> 2, "a" -> 1)) == Fingerprint.cell(Map("a" -> 1, "b" -> 2)))
    check("struct fields render in order", Fingerprint.cell(Row(1, "x")) == "(1,x)")
    check("a string in an array cannot forge an element boundary",
      Fingerprint.cell(Seq("a,b")) != Fingerprint.cell(Seq("a", "b")))
    check("a string in a map cannot forge a key/value boundary",
      Fingerprint.cell(Map("a:b" -> "c")) != Fingerprint.cell(Map("a" -> "b:c")))
    check("a string in a struct cannot forge a field boundary",
      Fingerprint.cell(Row("a,b", "c")) != Fingerprint.cell(Row("a", "b,c")))
    check("a string in an array cannot close it",
      Fingerprint.cell(Seq(Seq("a"), Seq("b"))) != Fingerprint.cell(Seq(Seq("a],[b"))))
    check("an escaped delimiter is not an escaped backslash",
      Fingerprint.cell(Seq("a\\,b")) != Fingerprint.cell(Seq("a\\", "b")))
    check("top-level strings keep their delimiters as they are",
      Fingerprint.cell("a,b:(c)") == "a,b:(c)")

    // schema
    val renamed = StructType(Seq(StructField("y", DoubleType), StructField("s", StringType)))
    check("column names are part of the fingerprint",
      Fingerprint.of(renamed, Seq(Row(1.0, "a"))) != fp(Row(1.0, "a")))

    if (failures > 0) sys.exit(1)
    println("fingerprint checks passed")
  }
}
