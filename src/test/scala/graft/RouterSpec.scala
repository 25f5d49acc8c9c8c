package graft

import graft.sources.{ReplicaRouter, Router}
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic routing semantics for the point-serving replica
  * router (reference distributed/load_balancer.rs): exact pick
  * sequences per strategy, health-based routing-around, in-flight
  * accounting across failures, and stats.
  */
class RouterSpec extends AnyFunSuite {

  private def router(strategy: Router.Strategy,
                     n: Int = 3,
                     weights: IndexedSeq[Double] = IndexedSeq.empty) =
    new ReplicaRouter[Int]((0 until n).toIndexedSeq, strategy, weights,
      clockNanos = () => 0L)

  test("round-robin cycles replicas and skips unhealthy ones") {
    val r = router(Router.RoundRobin)
    assert(Seq.fill(6)(r.pick()) == Seq(0, 1, 2, 0, 1, 2))
    r.markHealthy(1, ok = false)
    assert(Seq.fill(4)(r.pick()) == Seq(0, 2, 0, 2))
    r.markHealthy(1, ok = true)
    assert((1 to 3).map(_ => r.pick()).toSet == Set(0, 1, 2))
  }

  test("smooth weighted round-robin interleaves by weight, deterministically") {
    // the canonical smooth-WRR example: weights 3/1 give A A B A per cycle
    // with the heavy node never starving the light one
    val r = router(Router.WeightedRoundRobin, n = 2, weights = IndexedSeq(3.0, 1.0))
    val picks = Seq.fill(8)(r.pick())
    assert(picks == Seq(0, 0, 1, 0, 0, 0, 1, 0), s"got $picks")
    assert(r.stats(0).routed == 6L && r.stats(1).routed == 2L)
  }

  test("least-connections prefers the idle replica") {
    val r = router(Router.LeastConnections, n = 2)
    // hold replica 0 busy: route() from inside a route'd call sees
    // replica 0 in flight and must pick 1
    val inner = r.route { a0 =>
      assert(a0 == 0, "tie breaks to the lowest index when all idle")
      Seq.fill(3)(r.pick())
    }
    assert(inner == Seq(1, 1, 1), "in-flight replica is never least-connections")
    // released after completion: back to the lowest index
    assert(r.pick() == 0)
    assert(r.stats.values.forall(_.inFlight == 0))
  }

  test("load-based scoring penalizes slow replicas via the latency EMA") {
    var now = 0L
    val r = new ReplicaRouter[Int](IndexedSeq(0, 1), Router.LoadBased,
      clockNanos = () => now)
    // replica 0 answers in 50ms, replica 1 instantly: after one round
    // of each, every further pick goes to 1
    r.route { a => assert(a == 0); now += 50L * 1000000L }
    r.route { a => assert(a == 1) }
    assert(Seq.fill(3)(r.pick()) == Seq(1, 1, 1))
    assert(r.stats(0).emaLatencyMs == 50.0)
  }

  test("EMA seeds from the first completed route even after bare picks") {
    var now = 0L
    val r = new ReplicaRouter[Int](IndexedSeq(0), Router.LoadBased,
      clockNanos = () => now)
    r.pick() // a routing-stat-only pick records no latency...
    r.route { _ => now += 80L * 1000000L }
    // ...so the first completed call must SEED the EMA, not blend
    // 80ms with the zero-initialized state (0.3*80 = 24)
    assert(r.stats(0).emaLatencyMs == 80.0)
  }

  test("concurrent least-connections routes never stampede one replica") {
    // 8 threads x 50 routes over 4 replicas, each call holding its
    // replica briefly: with atomic pick+acquire the in-flight counts
    // keep concurrent calls spread out, so per-replica totals stay
    // balanced and nothing leaks
    val r = new ReplicaRouter[Int]((0 until 4).toIndexedSeq, Router.LeastConnections)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 8).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = (1 to 50).foreach { _ =>
            r.route { _ => Thread.sleep(1) }
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val counts = r.stats.values.map(_.routed)
    assert(counts.sum == 400L)
    assert(r.stats.values.forall(_.inFlight == 0), "no in-flight leak")
    assert(counts.max <= 2 * counts.min + 8,
      s"stampede: per-replica counts $counts should stay balanced")
  }

  test("in-flight is released when the replica throws; no healthy replicas raises") {
    val r = router(Router.LeastConnections, n = 2)
    intercept[RuntimeException](r.route[Int](_ => throw new RuntimeException("boom")))
    assert(r.stats.values.forall(_.inFlight == 0),
      "a throwing replica must not leak connection count")
    r.markHealthy(0, ok = false)
    r.markHealthy(1, ok = false)
    intercept[Router.NoHealthyReplicas](r.pick())
  }
}
