package graft.core

/** A capacity guard's DELIBERATE refusal — thrown when a fail-fast
  * guard (`graft.d4.maxPairs`, `graft.d5.maxVectors`) declines to
  * launch work whose output/compute volume exceeds its configured cap.
  *
  * A distinct type, not a message convention: tooling (`graft.Verify`'s
  * verify.json) must report "refused by design" separately from "crashed" —
  * BENCH_100X.json listed d4_simhash_pairs' by-design guard trip under
  * `"failed"`, which driver tooling cannot distinguish from a broken
  * query (round-18 verdict item 1). Extends IllegalArgumentException so
  * existing callers treating a refusal as the precondition violation it
  * is (PlanSpec's guard intercepts) keep working unchanged.
  */
final class GuardRefusal(message: String)
    extends IllegalArgumentException(message)

object GuardRefusal {
  /** `require`-shaped guard: refuse (throw [[GuardRefusal]]) unless
    * `cond` holds. Only CAPACITY guards use this — a misconfiguration
    * check (e.g. d5's grid-size sanity) stays a plain `require`,
    * because tripping it IS an error, not a designed refusal.
    */
  def check(cond: Boolean, message: => String): Unit =
    if (!cond) throw new GuardRefusal(message)

  /** The refusal in `e`'s cause chain, if any — how a record writer
    * classifies a caught Throwable without assuming the guard threw at
    * the top level (Spark may wrap driver-side exceptions).
    */
  def unapply(e: Throwable): Option[String] = {
    var cur: Throwable = e
    var hops = 0
    while (cur != null && hops < 16) {
      cur match {
        case g: GuardRefusal => return Some(g.getMessage)
        case _ => cur = cur.getCause; hops += 1
      }
    }
    None
  }
}
