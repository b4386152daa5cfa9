package graft

import graft.functions.{GeoCatalog, PrestoCatalog, TeradataCatalog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SQLFunctionExpression
import org.apache.spark.sql.catalyst.catalog.SQLFunction
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.util.{Success, Try}

/** SqlMacros registers each SQL macro directly instead of running
  * `CREATE OR REPLACE TEMPORARY FUNCTION`. This pins that the two paths
  * register the same function: for every macro, the directly registered
  * `SQLFunction` equals the one the command registers, field by field
  * except the creation time. Replaying the command also runs its
  * creation-time body validation (analysis, aggregate/window/generator
  * checks, cyclic references) once per macro — the checks every session
  * start used to pay for.
  */
class SqlMacroEquivalenceSpec extends AnyFunSuite with SparkFixture with Matchers {

  private val macros =
    PrestoCatalog.sqlMacros ++ GeoCatalog.macros ++ TeradataCatalog.sqlMacros

  /** The SQL function registered under `name`: the registry's builder
    * wraps it into every call it builds (tried at each arity up to 8,
    * since the builder checks the argument count). */
  private def sqlFunction(s: SparkSession, name: String): SQLFunction = {
    val builder = s.sessionState.functionRegistry
      .lookupFunctionBuilder(FunctionIdentifier(name))
      .getOrElse(fail(s"$name is not registered"))
    (0 to 8).iterator
      .map(n => Try(builder(Seq.fill(n)(Literal(null)))))
      .collectFirst { case Success(SQLFunctionExpression(_, f, _, _)) =>
        f.copy(createTimeMs = 0L) }
      .getOrElse(fail(s"$name is not a SQL function"))
  }

  /** A fresh session with the engine's functions, registered directly. */
  private def freshSession(): SparkSession = {
    val s = spark.newSession()
    GraftSession.registerFunctions(s)
    s
  }

  test("every macro registers the same SQLFunction as CREATE TEMPORARY FUNCTION") {
    val s = freshSession()
    val direct = macros.map { case (n, _, _) => n -> sqlFunction(s, n) }.toMap
    val catalog = s.sessionState.catalog
    (macros.map(_._1) ++ GeoCatalog.prestoAliases.map(_._1))
      .foreach(catalog.dropTempFunction(_, ignoreIfNotExists = false))
    macros.foreach { case (name, sig, body) =>
      s.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION $name $sig RETURN $body")
    }
    macros.foreach { case (name, _, _) =>
      val viaCommand = sqlFunction(s, name)
      withClue(s"$name: ") {
        direct(name).inputParam shouldBe viaCommand.inputParam
        direct(name).returnType shouldBe viaCommand.returnType
        direct(name).exprText shouldBe viaCommand.exprText
        direct(name).deterministic shouldBe viaCommand.deterministic
        direct(name).containsSQL shouldBe viaCommand.containsSQL
        direct(name).properties shouldBe viaCommand.properties
        direct(name) shouldBe viaCommand
      }
    }
  }

  test("each Presto-cased geo alias plans as its original, up to the parameter qualifier") {
    // analysis qualifies a SQL function's parameters with the function's
    // name; that name is all an alias may change
    def unqualified(p: LogicalPlan): LogicalPlan = p.transformAllExpressions {
      case a: AttributeReference => a.withQualifier(Nil)
      case a: Alias =>
        Alias(a.child, a.name)(a.exprId, Nil, a.explicitMetadata, a.nonInheritableMetadataKeys)
    }
    GeoCatalog.prestoAliases.foreach { case (alias, orig) =>
      val params = sqlFunction(spark, orig).inputParam.get
      val input = spark.range(3).selectExpr(
        params.map(p => s"cast(id AS ${p.dataType.sql}) AS ${p.name}").toSeq: _*)
      def plan(fn: String) = unqualified(input
        .selectExpr(s"$fn(${params.names.mkString(", ")}) AS r")
        .queryExecution.optimizedPlan).canonicalized
      withClue(s"$alias vs $orig: ") { plan(alias) shouldBe plan(orig) }
    }
  }
}
