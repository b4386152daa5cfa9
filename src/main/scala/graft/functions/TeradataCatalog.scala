package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Teradata compatibility functions (reference:
  * presto-teradata-functions/.../TeradataStringFunctions.java,
  * TeradataDateFunctions.java, dateformat/DateFormatParser.java).
  *
  * The Teradata datetime format language is tiny — eight lowercase
  * tokens (`dd hh24 hh mm mi ss yyyy yy`, DateFormat.g4) plus a
  * restricted literal set — and translates 1:1 onto java.time pattern
  * letters, so `to_char`/`to_date`/`to_timestamp` become Spark's
  * codegen'd `date_format`/`to_date`/`to_timestamp` behind a foldable
  * pattern translator (same design as [[PrestoDatetime]] for the MySQL
  * `%`-dialect). `to_char`/`to_date`/`to_timestamp` are Spark builtin
  * names with different semantics (number formatting / java.time
  * patterns), so the Teradata forms take a `teradata_` prefix — the
  * same convention as `presto_date_format`.
  */
object TeradataDatetime {
  /** Translate a Teradata format string to a java.time pattern.
    * Token table mirrors DateFormatParser.createDateTimeFormatter:
    * dd→day-of-month, hh24→hour-of-day, hh→hour-of-halfday,
    * mm→month, mi→minute, ss→second, yyyy→year, yy→two-digit year
    * (both engines pivot two-digit years into 2000–2099). Only the
    * grammar's literal set (whitespace and `-/,.;:`) may appear
    * outside a token — anything else is an error, as in the
    * reference's UNRECOGNIZED branch.
    */
  def translateFormat(td: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < td.length) {
      if (td.startsWith("hh24", i)) { out.append("HH"); i += 4 }
      else if (td.startsWith("yyyy", i)) { out.append("yyyy"); i += 4 }
      else if (td.startsWith("yy", i)) { out.append("yy"); i += 2 }
      else if (td.startsWith("mm", i)) { out.append("MM"); i += 2 }
      else if (td.startsWith("mi", i)) { out.append("mm"); i += 2 }
      else if (td.startsWith("ss", i)) { out.append("ss"); i += 2 }
      else if (td.startsWith("dd", i)) { out.append("dd"); i += 2 }
      // joda appendHourOfHalfday is 0–11 → java.time 'K' (not 'h',
      // which is clock-hour 1–12)
      else if (td.startsWith("hh", i)) { out.append("KK"); i += 2 }
      else {
        val c = td.charAt(i)
        if (c == ' ' || c == '\r' || c == '\n' || c == '\t' ||
          "-/,.;:".indexOf(c.toInt) >= 0) { out.append(c); i += 1 }
        else throw new IllegalArgumentException(
          s"Failed to tokenize string [$c] at offset [$i]")
      }
    }
    out.toString
  }
}

/** Foldable Teradata-format → java.time-pattern translation; literal
  * formats constant-fold so the per-row path is Spark's own codegen'd
  * datetime kernel. */
case class TeradataPatternExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "teradata_pattern"
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(TeradataDatetime.translateFormat(v.toString))
  override protected def withNewChildInternal(newChild: Expression): TeradataPatternExpr =
    copy(child = newChild)
}

object TeradataCatalog {

  private[graft] val sqlMacros: Seq[(String, String, String)] = Seq(
    // TeradataStringFunctions.index — 1-based position of the first
    // occurrence, 0 when absent (delegates to strpos, like Presto)
    ("index", "(s STRING, sub STRING) RETURNS BIGINT",
      "cast(instr(s, sub) AS BIGINT)"),
    // TeradataStringFunctions.char2HexInt — upper-case hex of the
    // UTF-16BE encoding of the string
    ("char2hexint", "(s STRING) RETURNS STRING",
      "upper(hex(encode(s, 'UTF-16BE')))"),
    // TeradataDateFunctions to_char/to_date/to_timestamp under the
    // teradata_ prefix (the bare names are Spark builtins with
    // different format semantics)
    ("teradata_to_char", "(t TIMESTAMP, f STRING) RETURNS STRING",
      "date_format(t, teradata_pattern(f))"),
    ("teradata_to_date", "(s STRING, f STRING) RETURNS DATE",
      "to_date(s, teradata_pattern(f))"),
    ("teradata_to_timestamp", "(s STRING, f STRING) RETURNS TIMESTAMP",
      "to_timestamp(s, teradata_pattern(f))")
  )

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("teradata_pattern"),
      new ExpressionInfo(classOf[TeradataPatternExpr].getName, "teradata_pattern"),
      (args: Seq[Expression]) => TeradataPatternExpr(args.head))
    SqlMacros.register(spark, sqlMacros)
  }
}
