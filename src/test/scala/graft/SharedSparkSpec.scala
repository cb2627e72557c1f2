package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinStrategy, DedupXmlParses, PushLambdaThroughGetItem}

/** The shared test session plans like the gates: it carries the
  * GraftExtensions rules and strategy, and the rule-off session does not. */
class SharedSparkSpec extends AnyFunSuite with SharedSpark {

  test("shared session: GraftExtensions optimizer rules and planner " +
      "strategy are registered, with the gate confs") {
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    assert(rules.contains(DedupXmlParses), rules)
    assert(rules.contains(PushLambdaThroughGetItem), rules)
    assert(spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
    Sessions.confs(SharedSpark.Cpus).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("rule-off session: same confs, no GraftExtensions") {
    ruleOff { sp =>
      assert(!(sp eq spark))
      val rules = sp.sessionState.optimizer.extendedOperatorOptimizationRules
      assert(!rules.contains(DedupXmlParses), rules)
      assert(!sp.sessionState.planner.strategies.contains(AsOfJoinStrategy))
      Sessions.confs(SharedSpark.Cpus).foreach { case (k, v) =>
        assert(sp.conf.get(k) == v, k)
      }
    }
  }
}
