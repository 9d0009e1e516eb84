package graft

import graft.plans.AsofJoinPlan
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions=graft.functions.GraftExtensions` config path,
  * end-to-end: a session built through it must resolve the graft_* SQL
  * functions, rewrite naive range joins via the injected optimizer rule,
  * and plan a raw [[AsofJoinPlan]] via the injected strategy — WITHOUT any
  * programmatic `install()`/`register()` call. This is the spark-submit
  * deployment path; everything else in the suite uses the programmatic
  * twins.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions session wires functions, optimizer rule, and planner strategy") {
    // a brand-new session: fresh function registry and session state, the
    // extensions re-applied at construction — nothing registered by other
    // suites' programmatic register()/install() calls can leak in
    val s = SparkTestSession.spark.newSession()
    try {

      // 1. injected SQL functions resolve with no register() call: every
      // name of the one registration table, and one of them end to end
      graft.functions.GraftFunctions.fns.map(_._1).foreach { name =>
        assert(s.catalog.functionExists(name), s"$name not injected")
      }
      val toks = s.sql("SELECT graft_tokenize('Hello, World! 42') AS t")
        .collect().head.getSeq[String](0)
      assert(toks.contains("hello") && toks.contains("42"), toks)

      // 2. injected optimizer rule: a naive |a-b| <= k inner join plans as
      // the expand-to-equi shape, not a nested loop
      import s.implicits._
      // Int positions: the rule conservatively refuses Long operands
      // (x ± k could wrap), so the positive case mirrors the rule spec
      val a = (0 until 200).map(i => (i, i * 3 % 50)).toDF("aid", "apos")
      val b = (0 until 200).map(i => (i, i * 7 % 50)).toDF("bid", "bpos")
      val naive = a.join(b, abs(col("apos") - col("bpos")) <= 2)
      naive.collect()
      val p = naive.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"range-join rule not applied via extensions:\n${p.take(2000)}")

      // 3. injected planner strategy: a RAW AsofJoinPlan (no install())
      // resolves and executes
      val l = Seq((1L, 10L, 100L), (2L, 5L, 200L)).toDF("k", "t", "lv")
        .queryExecution.analyzed
      val r0 = Seq((1L, 8L, 7L), (2L, 9L, 8L)).toDF("rk", "rt", "rv")
        .queryExecution.analyzed
      val r = Project(r0.output.map(x => Alias(x, x.name)()), r0)
      val node = AsofJoinPlan(l, r,
        Seq(l.output.head), Seq(r.output.head),
        l.output(1), r.output(1))
      val rows = org.apache.spark.sql.graft.PlanBridge.ofRows(s, node)
        .select("lv", "rv").collect()
        .map(x => (x.getLong(0), if (x.isNullAt(1)) None else Some(x.getLong(1))))
        .toSet
      assert(rows == Set((100L, Some(7L)), (200L, None)), rows)
    } finally {
      SparkSession.setDefaultSession(SparkTestSession.spark)
      SparkSession.setActiveSession(SparkTestSession.spark)
    }
  }
}
