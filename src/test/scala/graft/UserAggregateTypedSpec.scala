package graft

import graft.model.ClickEvent
import graft.ops.UserAggregateTyped
import org.apache.spark.sql.functions._

/** The typed accumulator aggregate must agree with the declarative
  * session expressions on the FIXTURES.md sequences — the A/B fidelity
  * check SURVEY.md §7.4 calls for.
  */
class UserAggregateTypedSpec extends SparkSpec {
  import spark.implicits._

  private def ce(user: Int, ts: Long, eventType: String, productType: String): ClickEvent =
    ClickEvent("ip", ts, "web", eventType, productType, user, 0L, 0L)

  private def run(events: Seq[ClickEvent]) =
    events.toDS()
      .groupByKey(_.userid)
      .agg(UserAggregateTyped.toColumn.name("s"))
      .collect().toMap

  test("buy session: snapshot at checkout, sorted dept set") {
    val out = run(Seq(
      ce(1, 1000, "browse", "Kitchen"),
      ce(1, 1100, "browse", "Garden"),
      ce(1, 1200, "browse", "Kitchen"),
      ce(1, 1300, "order_checkout", "N/A")))(1)
    assert(out.eventCount === 3)
    assert(out.orderCheckoutEventCount === 3)
    assert(out.deptList === Seq("Garden", "Kitchen"))
    assert(out.eventKey === 1)
  }

  test("post-checkout browse + multi-checkout last-wins") {
    val out = run(Seq(
      ce(2, 1000, "browse", "A"),
      ce(2, 1100, "order_checkout", "N/A"),
      ce(2, 1200, "browse", "B"),
      ce(2, 1300, "order_checkout", "N/A"),
      ce(2, 1400, "browse", "C")))(2)
    assert(out.eventCount === 3)
    assert(out.orderCheckoutEventCount === 2) // snapshot at ts=1300: A, B counted
  }

  test("tie rule: qualifying event sharing the last checkout's ts is counted") {
    // same-timestamp pin (ADVICE r2): the snapshot is "qualifying events
    // with ts <= last checkout ts", shared with the declarative sessionize
    // and TimerSessionizer — NOT a running count at the checkout's
    // sort position
    val out = run(Seq(
      ce(4, 1000, "browse", "A"),
      ce(4, 1300, "order_checkout", "N/A"),
      ce(4, 1300, "browse", "B"),
      ce(4, 1400, "browse", "C")))(4)
    assert(out.eventCount === 3)
    assert(out.orderCheckoutEventCount === 2) // A and the tied B; not C
  }

  test("non-qualifying noise ignored; arrival order irrelevant (replay sorts)") {
    val events = Seq(
      ce(3, 1400, "browse", null),
      ce(3, 1100, "browse", ""),
      ce(3, 1000, "browse", "Books"),
      ce(3, 1200, "order_checkout", "N/A"),
      ce(3, 1300, "browse", "N/A"))
    val out = run(events)(3)
    assert(out.eventCount === 1)
    assert(out.orderCheckoutEventCount === 1)
    assert(out.deptList === Seq("Books"))
    assert(run(events.reverse)(3) === out)
  }
}
