package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graftshim.{ExtensionsProbe, PlanBridge}

/** The spark.sql.extensions injection path. A genuinely fresh session can't
  * be built inside the shared-JVM test run (extensions are static conf,
  * fixed at SparkContext creation, and an existing context wins regardless
  * of builder.create()), so this spec verifies the injection structurally:
  * GraftExtensions must register builders that produce working expressions.
  * The end-to-end session path is exercised by every query closure through
  * VectorFunctions.register (same builders, same registry mechanism). */
class GraftExtensionsSpec extends SparkSpec {

  test("GraftExtensions installs builders producing working expressions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; injects the kernel table

    val dot = functions.DotProductD(
      Literal.create(Seq(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
      Literal.create(Seq(3.0, 4.0), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)))
    assert(dot.eval(null) === 11.0)

    val sig = functions.MinHashSigStr(Literal.create(Seq("a b c", "b c d"),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
    val arr = sig.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(arr.numElements() === 64)
  }

  test("LevenshteinGuardRule prepends the length guard and preserves results") {
    val s = SparkSpec.session
    import org.apache.spark.sql.functions.expr
    import s.implicits._
    // file-backed on purpose: a LocalRelation filter is constant-folded
    // away before any optimizer rule can be observed in the plan.
    val tmp = tempDir("lev_rule")
    Seq(("kitten", "sitting"), ("abc", "abcd"), ("a", "zzzzzzzzzz"),
      ("same", "same"), (null, "x")).toDF("x", "y")
      .write.mode("overwrite").parquet(tmp)
    val df = s.read.parquet(tmp)
    def q() = df.filter(expr("levenshtein(x, y) <= 3")).select("x", "y")
    val before = q().collect().map(_.toSeq.toList).sortBy(_.toString).toList
    val prev = s.experimental.extraOptimizations
    try {
      plans.LevenshteinGuardRule.install(s)
      plans.LevenshteinGuardRule.install(s) // idempotent
      assert(s.experimental.extraOptimizations.count(_ == plans.LevenshteinGuardRule) === 1)
      val opt = q().queryExecution.optimizedPlan.toString
      assert(opt.contains("length") && opt.contains("abs"),
        s"length guard not injected:\n$opt")
      // fixpoint-idempotent: exactly one guard per predicate
      assert(opt.linesIterator.count(_.contains("levenshtein")) === 1)
      val after = q().collect().map(_.toSeq.toList).sortBy(_.toString).toList
      assert(after === before)
    } finally {
      s.experimental.extraOptimizations = prev
    }
  }

  test("builders are also reachable via the session registry (runtime path)") {
    val s = SparkSpec.session // shared session, registry-based registration
    functions.VectorFunctions.register(s)
    assert(s.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0) === 11.0)
    assert(s.sql("SELECT graft_sorted_intersect_long(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS n")
      .head().getInt(0) === 2)
  }

  test("GraftExtensions and VectorFunctions.register expose the same 12 kernels") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = ExtensionsProbe.functions(ext)
    val injectedNames = injected.listFunction().map(_.funcName).toSet
    // a fresh session of the shared context: its registry holds only the
    // builtins, so every graft_ name in it came from register
    val fresh = SparkSpec.session.newSession()
    functions.VectorFunctions.register(fresh)
    val registered = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(injectedNames === registered)
    assert(registered.size === 12)

    // literal arguments per kernel; each call must resolve and evaluate
    // through both paths to the same value
    val args = Map(
      "graft_dot" -> Seq("array(1.0D, 2.0D)", "array(3.0D, 4.0D)"),
      "graft_minhash" -> Seq("array(1L, 2L, 3L)"),
      "graft_minhash_str" -> Seq("array('a b c', 'b c d')"),
      "graft_simhash" -> Seq("array(1L, 2L, 3L)"),
      "graft_sorted_intersect" -> Seq("array('a', 'b')", "array('b', 'c')"),
      "graft_shingle_hashes" -> Seq("array('a', 'b', 'c', 'd', 'e', 'f')"),
      "graft_sorted_intersect_long" -> Seq("array(1L, 2L, 3L)", "array(2L, 3L, 4L)"),
      "graft_winnow" -> Seq("array('a', 'b', 'c', 'd', 'e', 'f', 'g', 'h')"),
      "graft_sorted_intersect_minw" ->
        Seq("array(1L, 2L, 3L)", "array(5L, 6L, 7L)", "array(2L, 3L)", "array(1L, 9L)"),
      "graft_sorted_intersect_arr" -> Seq("array(1L, 2L, 3L)", "array(2L, 3L, 4L)"),
      "graft_holt" -> Seq("array(1L, 2L, 3L, 4L, 5L)"),
      "graft_holt_winters" -> Seq("array(1L, 2L, 3L, 4L, 5L, 6L)", "2"))
    assert(args.keySet === registered)
    args.foreach { case (name, as) =>
      val built = injected.lookupFunction(FunctionIdentifier(name),
        as.map(a => PlanBridge.expression(expr(a))))
      val viaExt = fresh.range(1).select(PlanBridge.column(built)).collect().toSeq
      val viaSql = fresh.sql(s"SELECT $name(${as.mkString(", ")})").collect().toSeq
      assert(viaExt === viaSql, name)
    }
  }
}
