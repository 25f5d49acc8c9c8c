package graft.sources

/** Replica routing for the point-serving tier (reference
  * grape-vector-db src/distributed/load_balancer.rs:122
  * IntelligentLoadBalancer, strategies :35).
  *
  * Spark owns balancing for BATCH queries — task scheduling, shuffle
  * partitioning, speculative execution ARE the cluster's load
  * balancer, and re-wrapping them would shadow the real machinery.
  * The in-JVM [[PointServe]] path answers with zero Spark jobs, so it
  * takes the reference's own routing logic for replicated serving
  * handles:
  *
  *  - round-robin (load_balancer.rs:357), skipping unhealthy nodes
  *  - weighted round-robin (:370) — as SMOOTH weighted round-robin
  *    (the nginx algorithm) rather than the reference's RNG draw:
  *    same stationary distribution, but deterministic, so the spec
  *    can assert the exact pick sequence
  *  - least-connections (:397) on live in-flight counts
  *  - load-based (:410): weight / (1+connections) / (1+avg latency),
  *    latency as an EMA fed by [[ReplicaRouter.route]]
  *
  * plus node health marking (:250 update_node_health — an unhealthy
  * replica is routed around until re-marked) and per-replica routing
  * stats (:489 get_routing_stats). Ties break to the lowest replica
  * index everywhere, so every strategy is fully deterministic.
  */
object Router {

  sealed trait Strategy
  case object RoundRobin extends Strategy
  case object WeightedRoundRobin extends Strategy
  case object LeastConnections extends Strategy
  case object LoadBased extends Strategy

  final case class ReplicaStats(routed: Long, inFlight: Int, healthy: Boolean,
                                emaLatencyMs: Double)

  /** No healthy replica to route to (load_balancer.rs
    * LoadBalancerError::NoHealthyNodes).
    */
  final class NoHealthyReplicas extends RuntimeException("no healthy replicas")
}

final class ReplicaRouter[A](replicas: IndexedSeq[A],
                             strategy: Router.Strategy = Router.LoadBased,
                             weights: IndexedSeq[Double] = IndexedSeq.empty,
                             clockNanos: () => Long = () => System.nanoTime()) {
  import Router._

  require(replicas.nonEmpty, "router needs at least one replica")
  private val n = replicas.size
  private val w: IndexedSeq[Double] =
    if (weights.isEmpty) IndexedSeq.fill(n)(1.0)
    else { require(weights.size == n, "one weight per replica"); weights }
  require(w.forall(_ >= 0) && w.sum > 0, "weights must be >= 0, not all zero")

  private val healthy = Array.fill(n)(true)
  private val inFlight = new Array[Int](n)
  private val routed = new Array[Long](n)
  private val emaMs = new Array[Double](n)
  private val emaSamples = new Array[Long](n)
  private val currentWeight = new Array[Double](n) // smooth-WRR state
  private var rrCounter = 0
  private val EmaAlpha = 0.3

  private def healthyIdx: Seq[Int] = (0 until n).filter(healthy)

  // caller must hold the monitor
  private def pickLocked(): Int = {
    val live = healthyIdx
    if (live.isEmpty) throw new NoHealthyReplicas
    val i = strategy match {
      case RoundRobin =>
        val idx = live(rrCounter % live.size)
        rrCounter = (rrCounter + 1) % live.size
        idx
      case WeightedRoundRobin =>
        // smooth WRR: raise every live current-weight by its weight,
        // pick the max, drop the winner by the live total
        live.foreach(j => currentWeight(j) += w(j))
        val winner = live.maxBy(j => (currentWeight(j), -j))
        currentWeight(winner) -= live.map(w).sum
        winner
      case LeastConnections =>
        live.minBy(j => (inFlight(j), j))
      case LoadBased =>
        live.maxBy(j => (w(j) / (1.0 + inFlight(j)) / (1.0 + emaMs(j)), -j))
    }
    routed(i) += 1
    i
  }

  /** Select a replica index by the configured strategy over healthy
    * replicas only (load_balancer.rs:298 route_request dispatch).
    */
  def pick(): Int = synchronized { pickLocked() }

  /** Route one call: pick a replica, track it in-flight, feed its
    * latency EMA on completion. Pick + in-flight acquisition is ONE
    * atomic step — a separate increment would let two concurrent
    * routes both observe a replica as idle and stampede it, exactly
    * the imbalance LeastConnections/LoadBased exist to prevent.
    * In-flight is released on ANY exit — a throwing replica must not
    * leak connection count.
    */
  def route[T](f: A => T): T = {
    val i = synchronized { val j = pickLocked(); inFlight(j) += 1; j }
    val t0 = clockNanos()
    try f(replicas(i))
    finally synchronized {
      inFlight(i) -= 1
      val ms = (clockNanos() - t0) / 1e6
      // first COMPLETED sample seeds the EMA (a pick()-only call or a
      // still-in-flight overlap must not blend a real latency with the
      // zero-initialized state)
      emaMs(i) =
        if (emaSamples(i) == 0L) ms else EmaAlpha * ms + (1 - EmaAlpha) * emaMs(i)
      emaSamples(i) += 1
    }
  }

  /** Mark a replica (un)healthy (update_node_health): unhealthy
    * replicas are skipped by every strategy until re-marked.
    */
  def markHealthy(i: Int, ok: Boolean): Unit = synchronized { healthy(i) = ok }

  /** Per-replica routing statistics (get_routing_stats). */
  def stats: Map[Int, Router.ReplicaStats] = synchronized {
    (0 until n).map(i =>
      i -> ReplicaStats(routed(i), inFlight(i), healthy(i), emaMs(i))).toMap
  }
}
