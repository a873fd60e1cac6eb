package graft

import graft.plans.Scope
import org.scalatest.{BeforeAndAfterEach, Suite}

/** A fresh `Scope` per test, closed after the test: the operators a
  * test calls register their caches into it.
  */
trait ScopePerTest extends BeforeAndAfterEach { this: Suite =>
  private var current: Scope = _
  implicit def scope: Scope = current

  override def beforeEach(): Unit = {
    current = new Scope(SparkSpec.spark)
    super.beforeEach()
  }

  override def afterEach(): Unit =
    try super.afterEach() finally current.close()
}
