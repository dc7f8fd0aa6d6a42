package graft.scenario

import graft.Tables
import graft.graph.Traverse
import graft.state.Snapshot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dynamic-topology scenario replay (SURVEY.md §2 scenario layer; reference:
  * demo_did_graph/02_topology_dynamic/benchmark_scenario_a.py:25-93 and its
  * Cypher twin benchmark_scenario_c.py:30-78). The reference's signature
  * experiment interleaves delegation-edge mutation with timed recursive
  * chain queries: per step it re-points a sampled fraction of drones at the
  * headquarters (`UPDATE delegation SET hq_id=<hq> WHERE drone_id=<did>`),
  * then benchmarks the depth-bounded `WITH RECURSIVE` chain count
  * (common/bench_utils.py:9-34) at depths [4,8,12,16].
  *
  * This engine models the mutable delegation table as a snapshot +
  * [[graft.state.Snapshot.updateWhere]] rewrites, and the chain query as
  * [[graft.graph.Traverse.expand]]. Two deliberate deviations from the
  * reference's *mechanics* (not its semantics):
  *
  *  - The reference samples update targets with `random.sample`; replay
  *    uses the modular family `drone_id % modulo = step` instead, so the
  *    exact mutation schedule is reproducible in ANSI SQL and the
  *    post-mutation results hash-match a DuckDB oracle applying the same
  *    schedule. The sampled fraction (1/modulo = 5%) matches the
  *    reference's `update_ratio` shape.
  *  - The delegation forest is derived deterministically from `customer`:
  *    drones `0..fanout-1` report to HQ, drone k reports to drone
  *    `k - fanout` otherwise — a `fanout`-ary forest whose depth grows
  *    with the scale factor, so depth-16 walks are non-degenerate.
  *
  * Scale design: mutations are narrow `CASE` rewrites over the snapshot
  * (no shuffle), the per-level traversal joins broadcast the frontier under
  * AQE, and nothing collects to the driver. At 100 TB the delegation
  * snapshot would live as a bucketed table keyed on `hq_id`; the step
  * rewrites stay map-side.
  */
object DynamicReplay {

  val DefaultFanout = 64
  val DefaultModulo = 20
  /** Turn-taking depth schedule and churn depth cycle — shared with the
    * oracle SQL generators (ScenarioQueries) and the bench's
    * steps-per-second denominator, so changing a schedule cannot silently
    * desynchronize the oracle or the reported throughput.
    */
  val DefaultDepths: Seq[Int] = Seq(4, 8, 12, 16)
  val DefaultCycle: Seq[Int] = Seq(4, 8, 12, 16, 12, 8, 4)

  /** Deterministic delegation snapshot: `delegation(drone_id, hq_id)` over
    * the customer keys (contiguous 0..N-1 in the test data).
    */
  def baseDelegation(spark: SparkSession, sfDir: String,
      fanout: Int = DefaultFanout): DataFrame =
    Tables.customer(spark, sfDir).select(
      col("c_custkey").as("drone_id"),
      when(col("c_custkey") < fanout, lit("HQ"))
        .otherwise((col("c_custkey") - fanout).cast("string")).as("hq_id"))

  /** One turn-taking step: re-point the step's modular family of drones at
    * the headquarters (the reference's per-step delegation UPDATE).
    */
  def mutateStep(delegation: DataFrame, step: Int,
      modulo: Int = DefaultModulo): DataFrame =
    Snapshot.updateWhere(delegation,
      col("drone_id") % modulo === step, Map("hq_id" -> lit("HQ")))

  /** Apply a mutation and MATERIALIZE the post-step snapshot
    * (`localCheckpoint`). Without this, the evolving snapshot is a
    * lineage stack — step i's edges recompute steps 1..i's
    * CASE/anti-join rewrites from parquet — and every one of the up to
    * 16 traversal levels that follows re-executes the whole stack: the
    * walk cost grows O(steps × depth) in recomputed plans. A mutable
    * engine (the reference's UPDATE against PG heap tables) pays the
    * write once and reads settled state; checkpointing after each step
    * is that same contract, and it bounds both the plan depth the
    * analyzer sees and the work each traversal level does. The
    * materialization cost is charged INSIDE the step (eager
    * checkpoint), so cycle timings still include the write path.
    * [[Snapshot.settle]] also holds the partition count to the previous
    * snapshot's (or the default parallelism): a rewire step's anti-join +
    * union would otherwise add the new edges' partitions every step.
    *
    * Every settled snapshot is registered with [[CacheRegistry]]: a
    * replay settles one snapshot per step and the result rows stay lazy
    * until the caller's action, so the snapshots cannot be unpersisted
    * mid-replay (localCheckpoint truncates lineage — dropped blocks are
    * unrecoverable) — but once the action completes they are dead
    * weight. Unregistered, a full dynamic block (4 scenarios × steps ×
    * cycles) left ~80 orphaned snapshot RDDs pinning executor storage,
    * and the shuffle-heavy queries timed AFTER the block (r10 sweep: d4
    * flat at 2× its headline steady state) paid for the lost execution
    * memory.
    */
  private def settle(mutated: DataFrame, before: DataFrame): DataFrame =
    graft.CacheRegistry.register(Snapshot.settle(mutated, before))

  /** Delegation snapshot as (parent, child) edges for [[Traverse.expand]]. */
  def edges(delegation: DataFrame): DataFrame =
    delegation.select(col("hq_id").as("parent"),
      col("drone_id").cast("string").as("child"))

  /** The reference bench query: depth-bounded recursive chain count from a
    * root (common/bench_utils.py:9-34). One row, `n` = reachable drones
    * within `depth` hops.
    */
  def chainCount(spark: SparkSession, delegation: DataFrame, depth: Int,
      root: String = "HQ"): DataFrame = {
    import spark.implicits._
    // expectTinyFrontier: the delegation forest has bounded fanout (every
    // frontier is at most the modular-family size), so the walk skips the
    // per-level caches — recompute of tiny joins is cheaper (measured
    // ~20% of a rewire replay cycle).
    Traverse.expand(Seq(root).toDF("node"), edges(delegation),
        maxDepth = depth, expectTinyFrontier = true)
      .agg(count(lit(1)).as("n"))
  }

  /** Scenario 1 (turn-taking): T mutation steps, each followed by the chain
    * query at the step's depth. Output: one row per step
    * `(step, depth, n)` — the post-mutation results the reference prints
    * per depth (benchmark_scenario_a.py:36-45).
    */
  def turnTaking(spark: SparkSession, sfDir: String,
      depths: Seq[Int] = DefaultDepths): DataFrame = {
    var delegation = baseDelegation(spark, sfDir)
    val rows = depths.zipWithIndex.map { case (depth, i) =>
      val step = i + 1
      delegation = settle(mutateStep(delegation, step), delegation)
      chainCount(spark, delegation, depth)
        .select(lit(step).as("step"), lit(depth).as("depth"), col("n"))
    }
    rows.reduce(_ unionByName _).orderBy(col("step"))
  }

  /** Scenario 2 (chain-churn): cycle the depth up and back down, mutating a
    * fresh modular family before each probe
    * (benchmark_scenario_a.py:49-68 — `depth_cycle`).
    */
  def chainChurn(spark: SparkSession, sfDir: String,
      cycle: Seq[Int] = DefaultCycle): DataFrame = {
    var delegation = baseDelegation(spark, sfDir)
    val rows = cycle.zipWithIndex.map { case (depth, i) =>
      val step = i + 1
      delegation = settle(mutateStep(delegation, step), delegation)
      chainCount(spark, delegation, depth)
        .select(lit(step).as("step"), lit(depth).as("depth"), col("n"))
    }
    rows.reduce(_ unionByName _).orderBy(col("step"))
  }

  /** Scenario 4 (rewire twin of turn-taking): the same modular mutation
    * schedule executed with the reference's OTHER mutation mechanic — the
    * Cypher delete+create edge batch (`UNWIND ... MATCH ()-[r]->(d) DELETE
    * r` then `MATCH (hq),(d) CREATE (hq)-[:DELEGATES]->(d)`,
    * demo_did_graph/02_topology_dynamic/benchmark_scenario_c.py:46-65) via
    * [[Snapshot.rewire]] (M3) over the (parent, child) edge view, instead
    * of the UPDATE-style [[mutateStep]]. Post-mutation state is identical
    * by construction, so the oracle is the same stacked-CASE schedule —
    * hash equality proves the two mutation styles converge.
    *
    * The rewire batch is derived from the base key table (not from the
    * evolving edge snapshot), keeping each step's plan a flat anti-join +
    * union rather than a self-referential pyramid.
    */
  def rewireReplay(spark: SparkSession, sfDir: String,
      depths: Seq[Int] = DefaultDepths, modulo: Int = DefaultModulo,
      fanout: Int = DefaultFanout): DataFrame = {
    import spark.implicits._
    var e = edges(baseDelegation(spark, sfDir, fanout))
    val rows = depths.zipWithIndex.map { case (depth, i) =>
      val step = i + 1
      val batch = Tables.customer(spark, sfDir)
        .filter(col("c_custkey") % modulo === step)
        .select(col("c_custkey").cast("string").as("child"))
      val newEdges = batch.select(lit("HQ").as("parent"), col("child"))
      e = settle(Snapshot.rewire(e, batch, newEdges), e)
      Traverse.expand(Seq("HQ").toDF("node"), e, maxDepth = depth,
          expectTinyFrontier = true) // bounded-fanout forest, see chainCount
        .agg(count(lit(1)).as("n"))
        .select(lit(step).as("step"), lit(depth).as("depth"), col("n"))
    }
    rows.reduce(_ unionByName _).orderBy(col("step"))
  }

  /** Scenario 3 (partition + reconciliation,
    * benchmark_scenario_a.py:71-93): during the split the two halves of the
    * top-level drones report to their own partition headquarters; after
    * reconciliation every root reports to HQ again. Emits the chain count
    * per phase at `depth`: both partition views during the split, the
    * reunified view after.
    */
  def partitionReconcile(spark: SparkSession, sfDir: String,
      depth: Int = 8, fanout: Int = DefaultFanout): DataFrame = {
    val base = baseDelegation(spark, sfDir, fanout)
    val boundary = fanout / 2
    val split = Snapshot.updateWhere(
      Snapshot.updateWhere(base,
        col("drone_id") < boundary, Map("hq_id" -> lit("HQA"))),
      col("drone_id") >= boundary && col("drone_id") < fanout,
      Map("hq_id" -> lit("HQB")))
    val reconciled = Snapshot.updateWhere(split,
      col("hq_id").isin("HQA", "HQB"), Map("hq_id" -> lit("HQ")))
    Seq(
      chainCount(spark, split, depth, root = "HQA")
        .select(lit("split_a").as("phase"), lit(depth).as("depth"), col("n")),
      chainCount(spark, split, depth, root = "HQB")
        .select(lit("split_b").as("phase"), lit(depth).as("depth"), col("n")),
      chainCount(spark, reconciled, depth)
        .select(lit("reconciled").as("phase"), lit(depth).as("depth"), col("n")))
      .reduce(_ unionByName _).orderBy(col("phase"))
  }
}
