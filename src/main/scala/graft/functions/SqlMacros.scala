package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CapturesConfig, FunctionIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.catalog.{SQLFunction, UserDefinedFunction}
import org.apache.spark.sql.internal.SQLConf

/** The one registration path for the SQL-macro catalogs
  * ([[PrestoCatalog]], [[GeoCatalog]], [[TeradataCatalog]]).
  *
  * Each macro `(name, "(params) RETURNS type", body)` becomes the same
  * temporary `SQLFunction` that `CREATE OR REPLACE TEMPORARY FUNCTION
  * name params RETURNS type RETURN body` registers — same input schema,
  * return type, body text, determinism and properties (captured SQL
  * configs, current catalog/namespace, referred temporary functions) —
  * built directly and handed to the session catalog. What is skipped is
  * the command's creation-time analysis of the body: run per macro at
  * every session start it cost 5–8 s of session build time in a cold
  * JVM on a 4-core VM (BENCH_NOTES.md). The body is analyzed at its
  * first call, as it always was. SqlMacroEquivalenceSpec replays the
  * command for every macro and asserts the two registrations are equal,
  * so the creation-time checks run in CI instead of in every session.
  *
  * Macros are registered in list order: a body may call only functions
  * registered before it, as with the command.
  */
object SqlMacros {

  /** Registers every macro; returns the registered functions by name. */
  def register(spark: SparkSession, macros: Seq[(String, String, String)])
      : Map[String, SQLFunction] = {
    val state = spark.sessionState
    val parser = state.sqlParser
    val catalog = state.catalog
    val manager = state.catalogManager
    // the properties every function created now shares, as the command
    // computes them: captured session SQL configs + current namespace
    val sessionProps = CapturedConfigs(state.conf) ++
      SQLFunction.catalogAndNamespaceToProps(
        manager.currentCatalog.name, manager.currentNamespace.toIndexedSeq)
    macros.map { case (name, sig, body) =>
      val (paramText, returnText) = splitSignature(name, sig)
      val fn = SQLFunction(
        name = FunctionIdentifier(name),
        inputParam = paramText.map(UserDefinedFunction.parseRoutineParam(_, parser)),
        returnType = SQLFunction.parseReturnTypeText(returnText, isTableFunc = false, parser).get,
        exprText = Some(body),
        queryText = None,
        comment = None,
        // every macro body is a deterministic expression without
        // subqueries, so it reads no table (CONTAINS SQL, not READS SQL
        // DATA): the values the command derives from the analyzed body,
        // checked per macro by the equivalence spec
        deterministic = Some(true),
        containsSQL = Some(true),
        isTableFunc = false,
        properties = Map.empty)
      val expr = fn.getExpressionAndQuery(parser, isTableFunc = false)._1.get
      // temporary functions the body calls, in the command's order
      // (pre-order, distinct): inside the body, analysis resolves only
      // the temporary functions listed here
      val referred = expr.collect {
        case u: UnresolvedFunction if u.nameParts.length == 1 &&
            catalog.isTemporaryFunction(FunctionIdentifier(u.nameParts.head)) =>
          u.nameParts.head
      }.distinct
      val registered = fn.copy(properties = sessionProps ++
        SQLFunction.referredTempNamesToProps(Nil, referred, Nil))
      catalog.registerSQLScalarFunction(registered, overrideIfExists = true)
      name -> registered
    }.toMap
  }

  /** Registers `fn` a second time under `alias`: the same function,
    * body and properties, reachable by another name. */
  def alias(spark: SparkSession, fn: SQLFunction, alias: String): Unit =
    spark.sessionState.catalog.registerSQLScalarFunction(
      fn.copy(name = FunctionIdentifier(alias)), overrideIfExists = true)

  /** The SQL configs a `CREATE FUNCTION` captures into the function's
    * properties, computed by Spark's own helper. */
  private object CapturedConfigs extends CapturesConfig {
    def apply(conf: SQLConf): Map[String, String] =
      sqlConfigsToProps(conf, UserDefinedFunction.SQL_CONFIG_PREFIX)
  }

  /** "(a STRING, b INT) RETURNS T" -> (Some("a STRING, b INT"), "T");
    * an empty parameter list is None, as the parser reports it. */
  private def splitSignature(name: String, sig: String): (Option[String], String) = {
    val sep = ") RETURNS "
    val at = sig.indexOf(sep)
    require(sig.startsWith("(") && at > 0,
      s"SQL macro '$name': signature must read '(params) RETURNS type': $sig")
    (Some(sig.substring(1, at).trim).filter(_.nonEmpty),
      sig.substring(at + sep.length).trim)
  }
}
