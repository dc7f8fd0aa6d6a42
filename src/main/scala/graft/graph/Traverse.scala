package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded variable-length traversal — the engine's core graph operator.
  *
  * Re-expresses the reference's recursive constructs Spark-first:
  *   - PostgreSQL `WITH RECURSIVE` delegation chains
  *     (reference: demo_did_graph/common/bench_utils.py:9-34)
  *   - Cypher var-length `-[:DELEGATES*1..d]->` patterns
  *     (reference: demo_did_graph/01_multi_layer/benchmark_scenario_c.py:47-53)
  *   - Web-of-trust path counting `*1..L`
  *     (reference: demo_did_graph/04_web_of_trust/benchmark_scenario_a.py:214-224)
  *   - ABAC reachability
  *     (reference: demo_did_graph/04_web_of_trust/benchmark_scenario_a.py:267-278)
  *
  * Semantics (deliberately identical to the reference):
  *   - **Bag / path semantics**: `UNION ALL`, no dedup, no visited set. One
  *     output row per distinct *path* of length 1..maxDepth. A cyclic graph
  *     duplicates rows exactly as PostgreSQL's RecursiveUnion does; the only
  *     termination guarantee is the depth bound.
  *   - The seed rows themselves (level 0) are not emitted.
  *
  * Execution model / scale design:
  *   - The edge table is the big, reused side. Edges that must be computed
  *     (parquet scans, joins, aggregates) are persisted once (Spark's cache
  *     manager dedupes by logical plan, so repeated calls over the same
  *     edges reuse one materialization). Edges that are already in memory —
  *     only projections and filters over a checkpoint or a local relation,
  *     e.g. a settled CDC snapshot — are read in place: a second copy would
  *     cost one build per fresh snapshot, one job per cache reference under
  *     AQE, and a cached table nothing releases. Each per-level join then
  *     broadcasts the frontier when it fits (a shuffle-free broadcast-hash
  *     join probing the edges in place) or shuffles the frontier — the
  *     smaller side — under AQE.
  *   - Each level's OUTPUT is lazily cached while the frontier is believed
  *     big, so every level is computed exactly once: without this, UNION
  *     branch k re-derives the whole k-1 join prefix and a depth-d walk
  *     probes the edges sum(1..d) times instead of d. Once a cadence probe
  *     proves the frontier tiny, caching stops — recompute within one
  *     checkpoint window is cheaper than per-level InMemoryRelation
  *     materialization (both branches measured at sf1; see inline notes).
  *   - The accumulated plan grows linearly with
  *     depth, so the frontier is `localCheckpoint`ed every `checkpointEvery`
  *     levels to truncate lineage (reference depths reach 16:
  *     demo_did_graph/02_topology_dynamic/benchmark_scenario_a.py:111).
  *   - `earlyExit` stops expanding when a frontier is empty (fixpoint before
  *     the bound). The emptiness probe is piggybacked on the eager
  *     localCheckpoint so it does not add a second job per level.
  *
  * Contract:
  *   - `edges` must have `parentCol` and `childCol`; any *other* column of
  *     `edges` is treated as per-edge payload and emitted on each output row
  *     (describing the last edge of the path — e.g. `child_type` for the
  *     role-tagged expansion of benchmark_scenario_a.py:48-66).
  *   - `seed` must have `nodeCol`; any other column of `seed` is a carry
  *     column propagated unchanged to every path row (e.g. the path origin
  *     for path-count queries). Carry names must not collide with payload
  *     names.
  *   - Output columns: carry ++ payload ++ `nodeCol` (the path endpoint) ++
  *     `lvl` (path length, 1-based).
  */
object Traverse {

  def expand(
      seed: DataFrame,
      edges: DataFrame,
      maxDepth: Int,
      parentCol: String = "parent",
      childCol: String = "child",
      nodeCol: String = "node",
      earlyExit: Boolean = true,
      checkpointEvery: Int = 4,
      keepPaths: Boolean = false,
      probeThreshold: Long = 1000L,
      expectTinyFrontier: Boolean = false): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")

    // keepPaths materializes the visited-node string `path`
    // ("seed->a->b") on every output row — the Cypher `RETURN path`
    // surface. It rides through the loop as an ordinary carry column, so
    // the join structure (and scale behavior) is unchanged; row width
    // grows O(depth).
    val pathSeed =
      if (keepPaths) seed.withColumn("path", col(nodeCol)) else seed

    val payloadCols = edges.columns.filterNot(c => c == parentCol || c == childCol).toSeq
    val carryCols = pathSeed.columns.filterNot(_ == nodeCol).toSeq
    val overlap = carryCols.intersect(payloadCols)
    require(overlap.isEmpty, s"seed carry columns collide with edge payload columns: $overlap")
    // The cached-level frontier re-projects levelOut by bare name, so a
    // payload/carry column shadowing nodeCol or the output 'lvl' column
    // would hit AMBIGUOUS_REFERENCE (or silently alias) mid-loop — reject
    // it up front with a nameable error instead.
    val reserved = (payloadCols ++ carryCols).filter(c => c == nodeCol || c == "lvl")
    require(reserved.isEmpty,
      s"edge payload / seed carry columns collide with reserved output columns ($nodeCol, lvl): $reserved")

    // Cache the reused side once unless it is already in memory
    // (inMemory); rename join columns to avoid capture.
    // Registered so callers can release it after materializing the result
    // (graft.CacheRegistry.releaseAll) — long-lived sessions would
    // otherwise accumulate cached edge tables.
    //
    // Deliberately NOT pre-partitioned on the join key: once the per-level
    // outputs are cached (below), each level either broadcasts its frontier
    // and scans this cache in place, or AQE shuffles the (smaller) frontier.
    // A repartition("__parent") here was measured at sf1 and bought nothing
    // on the broad walks while costing +40% on the depth-20 trust chain
    // (the exchange under the cache stays pinned at
    // spark.sql.shuffle.partitions, so 20 near-empty task waves).
    // Storage level pinned EXPLICITLY to MEMORY_AND_DISK (the Dataset
    // default today, but load-bearing here, so it must not drift with a
    // spark.sql.defaultCacheStorageLevel override): under memory
    // pressure the level caches and this edge cache are the first
    // blocks the store evicts, and a MEMORY_ONLY eviction silently
    // recomputes the whole per-level join prefix — the r12 driver
    // capture saw the flagship traversal degrade 9x mid-run at 20.9 GB
    // RSS exactly that way. Disk-backed blocks degrade to a re-read
    // instead of a re-derivation.
    val renamed = edges
      .withColumnRenamed(parentCol, "__parent")
      .withColumnRenamed(childCol, "__child")
    val e =
      if (inMemory(edges)) renamed
      else graft.CacheRegistry.register(
        renamed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // Carry columns pass through unchanged except `path`, which extends
    // with the newly reached node on every step.
    def carried: Seq[org.apache.spark.sql.Column] = carryCols.map {
      case "path" if keepPaths =>
        concat(col("f.path"), lit("->"), col("e.__child")).as("path")
      case c => col(s"f.$c")
    }

    var frontier = pathSeed // carry ++ node
    val levels = Seq.newBuilder[DataFrame]
    var lvl = 1
    var done = false
    // expectTinyFrontier is an execution HINT (like Spark's broadcast()):
    // callers that know the walk shape — bounded-fanout forests, linear
    // trust chains — skip the level caches from level 1 instead of paying
    // for them until the first cadence probe. It is self-correcting: a
    // probe that sees the frontier above probeThreshold flips the state
    // and caching resumes. Semantics are identical either way.
    //
    // The hint gates ONLY the cache decision. The mid-cadence isEmpty
    // early-exit probe keys on provenTiny — an actual cadence count —
    // because firing it on a merely-hinted walk adds one job per cadence
    // window for nothing (the rewire replay's walks never empty).
    var tinyFrontier = expectTinyFrontier
    var provenTiny = false
    var hintChecked = false
    while (lvl <= maxDepth && !done) {
      val joined = frontier.alias("f")
        .join(e.alias("e"), col(s"f.$nodeCol") === col("e.__parent"))
      val outCols =
        carried ++
        payloadCols.map(c => col(s"e.$c")) ++
        Seq(col("e.__child").as(nodeCol), lit(lvl).as("lvl"))
      // Each level's output is cached LAZILY: the next frontier is a
      // projection of this cached output, so level k's plan probes the
      // edges exactly once and reads level k-1 from memory. Without this,
      // every UNION branch re-derived the whole join prefix from scratch —
      // sum(1..d) edge probes instead of d (the depth-4 role-tagged walk
      // paid 10). cache() adds no job (unlike per-level localCheckpoint,
      // which round 4 showed doubles shallow-walk medians); the single
      // final action materializes each level once, in dependency order.
      //
      // Cost-gated on the cadence probes: a frontier proven tiny makes
      // branch recompute bounded by one cheap cadence window, while the
      // per-level InMemoryRelation materialization (~tens of ms) would
      // dominate — the depth-20 single-row WoT chain regressed ~15% when
      // every level was cached. Assume big until a probe says otherwise
      // (sf1 measurements: role-tagged 5.3→0.7 s cached, ABAC flat).
      val rawOut = joined.select(outCols: _*)
      val levelOut =
        if (tinyFrontier) rawOut
        else graft.CacheRegistry.register(rawOut.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      levels += levelOut

      if (lvl < maxDepth) {
        // Cached level: the next frontier MUST project from the cache so
        // the chain materializes once. Uncached level: project the join
        // directly — routing through rawOut's wider projection only adds
        // plan nodes for the analyzer to chew on, which is real driver
        // time over the dynamic scenarios' deep snapshot plans.
        var next =
          if (tinyFrontier) joined.select(
            (carried :+ col("e.__child").as(nodeCol)): _*)
          else levelOut.select(
            (carryCols.map(col) :+ col(nodeCol)): _*)
        // Lineage is truncated by an eager localCheckpoint ONLY on the fixed
        // cadence — the count probe piggybacks on it (reads cached
        // partitions, nearly free). Off-cadence, once the frontier has
        // shrunk below probeThreshold, probe emptiness with the much cheaper
        // `isEmpty` (a take(1)-style job over a ≤checkpointEvery-deep plan of
        // tiny joins) so deep bounded walks over near-chains (the WoT shape:
        // depth 20, frontier ~1 row) still exit at the exact fixpoint level
        // instead of up to checkpointEvery-1 levels late. Checkpointing every
        // tiny level (round-4 behavior) materialized a full job per level and
        // doubled shallow-walk medians — the probe must stay O(first row).
        if (checkpointEvery > 0 && lvl % checkpointEvery == 0) {
          next = next.localCheckpoint(true)
          val n = next.count()
          if (earlyExit && n == 0) done = true
          // A wrong expectTinyFrontier hint on a broad walk pays
          // sum(1..checkpointEvery) uncached edge probes before this
          // first probe corrects it — bounded, but worth surfacing:
          // the counter lets harnesses (and the property spec) catch a
          // caller whose "known-tiny" walk isn't.
          if (expectTinyFrontier && !hintChecked) {
            hintChecked = true
            if (n > probeThreshold) hintContradictedCount.incrementAndGet(): Unit
          }
          tinyFrontier = n <= probeThreshold
          provenTiny = tinyFrontier
        } else if (earlyExit && provenTiny &&
            checkpointEvery > 1 && lvl % checkpointEvery == checkpointEvery / 2 &&
            next.isEmpty) {
          // One probe per cadence window (mid-cadence) bounds exit lateness
          // at ~checkpointEvery/2 empty levels while halving probe jobs on
          // walks whose tiny frontier never empties before the depth bound.
          done = true
        }
        frontier = next
      }
      lvl += 1
    }
    levels.result().reduce(_ union _) // UNION ALL — bag semantics, like the reference
  }

  /** True when `df` is only deterministic projections, filters and aliases
    * over in-memory leaves: a materialized checkpoint (`LogicalRDD`) or a
    * `LocalRelation`. Scanning such a plan reads memory and recomputes
    * nothing costly, so [[expand]] does not cache it again.
    */
  private def inMemory(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.analyzed.find {
      case r: org.apache.spark.sql.execution.LogicalRDD => !r.rdd.isCheckpointed
      case _: LocalRelation | _: SubqueryAlias => false
      case p: Project => !p.projectList.forall(_.deterministic)
      case f: Filter => !f.condition.deterministic
      case _ => true
    }.isEmpty
  }

  /** Count of walks where an `expectTinyFrontier` hint was contradicted by
    * the first cadence probe (frontier above probeThreshold). Monotone,
    * process-wide; a profiling harness can diff around a workload to catch
    * mis-hinted callers. The worst case of a wrong hint is bounded —
    * sum(1..checkpointEvery) uncached edge probes — and pinned by spec.
    */
  val hintContradictedCount = new java.util.concurrent.atomic.AtomicLong

  /** True iff the runtime supports native `WITH RECURSIVE` (SPARK-24497,
    * shipped in Spark 4.x). Probed once per JVM; [[expandRcte]] uses the
    * native form and the iterative [[expand]] loop is the portable
    * fallback with identical bag semantics.
    */
  def nativeRcteSupported(spark: org.apache.spark.sql.SparkSession): Boolean =
    rcteProbe.synchronized {
      rcteProbe.getOrElseUpdate((), try {
        spark.sql("WITH RECURSIVE __p AS (SELECT 1 AS n UNION ALL " +
          "SELECT n + 1 FROM __p WHERE n < 2) SELECT * FROM __p").collect()
        true
      } catch { case _: Exception => false })
    }
  private val rcteProbe = scala.collection.mutable.Map[Unit, Boolean]()

  /** Native recursive-CTE expansion: same contract as [[expand]] for the
    * no-carry, no-payload case (node + lvl output). Catalyst plans the
    * whole recursion as one UnionLoop operator instead of a driver loop —
    * one job, no per-level lineage growth.
    */
  def expandRcte(spark: org.apache.spark.sql.SparkSession, edges: DataFrame,
      seedNode: String, maxDepth: Int,
      parentCol: String = "parent", childCol: String = "child"): DataFrame = {
    // Unique view name (identityHashCode can collide after GC); the seed is
    // bound as a named parameter, never interpolated — a quote in the seed
    // must not break or inject SQL. Column names and the depth bound are
    // code-owned identifiers/literals, not user data.
    val view = s"__graft_edges_${rcteViewId.incrementAndGet()}"
    // Materialize the edge table behind the view: UnionLoop re-plans and
    // re-executes the view subtree on EVERY recursion step, and that
    // per-step planning bypasses cache substitution — a `.cache()` here
    // never matches (the plan dump shows raw LogicalRelations, not
    // InMemoryRelation, inside the loop), so a derived edge set re-pays
    // its scans+joins maxDepth times per query. localCheckpoint rewrites
    // the view plan itself to a memory-backed LogicalRDD scan, which
    // needs no lookup to be reused; the checkpoint RDD is released by
    // the ContextCleaner once the plan is unreachable.
    materializeForRcte(edges).createOrReplaceTempView(view)
    try {
      // The frontier (chain) is broadcast into the edge scan each step:
      // the per-step planner sees a stats-less LogicalRDD on both sides
      // and would otherwise shuffle the full edge set once per level.
      val out = spark.sql(
        s"""WITH RECURSIVE chain AS (
           |  SELECT $childCol AS node, 1 AS lvl FROM $view WHERE $parentCol = :seed
           |  UNION ALL
           |  SELECT /*+ BROADCAST(c) */ e.$childCol, c.lvl + 1 FROM chain c
           |  JOIN $view e ON e.$parentCol = c.node
           |  WHERE c.lvl < $maxDepth
           |) SELECT node, lvl FROM chain""".stripMargin,
        Map("seed" -> seedNode))
      // Analysis is eager, so the resolved plan no longer needs the view.
      spark.catalog.dropTempView(view)
      out
    } catch {
      case e: Exception => spark.catalog.dropTempView(view); throw e
    }
  }
  private val rcteViewId = new java.util.concurrent.atomic.AtomicLong(0L)
  private val rcteEdgeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Materialize an edge DataFrame for use behind a recursive-CTE view.
    * UnionLoop re-plans the loop body per step WITHOUT cache
    * substitution (PLANS.md "UnionLoop bypasses cache substitution"), so
    * a plain `.cache()` behind the view is silently ignored and a
    * derived edge set re-executes every step. localCheckpoint rewrites
    * the plan itself into a memory-backed LogicalRDD scan; checkpoints
    * are memoized per content-aware plan key (PlanKeys — same
    * foreign-corpus guard as the closure/index memos) so a resident
    * service pays the materialization once, not per query. Unkeyable
    * plans (LocalRelation) checkpoint per call.
    */
  def materializeForRcte(edges: DataFrame): DataFrame =
    graft.PlanKeys.planKey(edges) match {
      case Some(k) =>
        if (rcteEdgeMemo.size > 32) rcteEdgeMemo.clear()
        rcteEdgeMemo.computeIfAbsent(k, _ => edges.localCheckpoint())
      case None => edges.localCheckpoint()
    }

  /** Path-count between a single source and a single target within `maxLen`
    * hops: the web-of-trust shape (reference:
    * demo_did_graph/04_web_of_trust/benchmark_scenario_d.py:200-203 counts
    * one row per path — duplicates kept).
    */
  def pathCount(
      edges: DataFrame,
      source: String,
      target: String,
      maxLen: Int,
      parentCol: String = "parent",
      childCol: String = "child"): Long = {
    val spark = edges.sparkSession
    import spark.implicits._
    val seed = Seq(source).toDF("node")
    expand(seed, edges, maxLen, parentCol, childCol)
      .filter(col("node") === target)
      .count()
  }
}
