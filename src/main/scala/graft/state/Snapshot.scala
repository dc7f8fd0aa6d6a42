package graft.state

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot mutation model (SURVEY.md §2.8 M1-M5, M8 and §4 item 2).
  *
  * The reference mutates PostgreSQL/AgensGraph state in place (UPSERT,
  * chunked UPDATE, DELETE, edge rewire:
  * demo_did_graph/02_topology_dynamic/setup_scenario_a.py:64-71,
  * 03_equalization/benchmark_scenario_a.py:62-69,
  * 02_topology_dynamic/benchmark_scenario_c.py:50-65,
  * 05_abac/benchmark_scenario_a.py:74-91). Spark Datasets are immutable, so
  * the engine models mutable state as **current-snapshot DataFrame + delta
  * application**: each mutation is a declarative rewrite producing the next
  * snapshot. Correctness equals the reference's post-mutation query results,
  * not in-place storage.
  *
  * Scale notes: every operation here is a single shuffle on the snapshot key
  * (or none when the delta is broadcast-small — Catalyst/AQE picks a
  * broadcast anti-join automatically for chunk-sized batches like the
  * reference's chunk_size=500). Nothing collects to the driver. With a
  * transactional table format underneath, `upsert` maps 1:1 onto MERGE INTO;
  * the snapshot algebra keeps the engine format-agnostic.
  */
object Snapshot {

  /** M1: keyed upsert — `INSERT ... ON CONFLICT (key) DO UPDATE` analog.
    * Rows of `updates` win over rows of `current` with the same key.
    */
  def upsert(current: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    current.join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates)
      // USING-joins move the join keys to the front; a mutation must not
      // reorder the table's columns.
      .select(current.columns.map(col).toIndexedSeq: _*)

  /** M2: batched conditional UPDATE — `UPDATE t SET c = v WHERE pred`.
    * Each assignment column is rewritten under `cond`, others pass through.
    */
  def updateWhere(current: DataFrame, cond: Column,
      assignments: Map[String, Column]): DataFrame =
    assignments.foldLeft(current) { case (df, (name, value)) =>
      df.withColumn(name, when(cond, value).otherwise(col(name)))
    }

  /** M4: DELETE by predicate (`DELETE FROM t WHERE drone_id = ANY(...)`). */
  def delete(current: DataFrame, cond: Column): DataFrame =
    current.filter(!cond)

  /** M5: TRUNCATE — next snapshot is empty with the same schema. */
  def truncate(current: DataFrame): DataFrame = current.limit(0)

  /** M3: edge rewire — drop all edges into the batch's target nodes, then
    * append the replacement edges (the reference's `UNWIND ... DELETE r`
    * followed by `MATCH ... CREATE` per chunk).
    * `batch` must carry exactly the edge-destination key column(s).
    */
  def rewire(edges: DataFrame, batch: DataFrame, newEdges: DataFrame): DataFrame =
    edges.join(batch, batch.columns.toSeq, "left_anti").unionByName(newEdges)
      .select(edges.columns.map(col).toIndexedSeq: _*) // keep input column order

  /** Settle the next snapshot: coalesce `merged` to at most
    * max(partitions of `before`, the session's default parallelism), then
    * materialize it with an eager localCheckpoint (lineage truncated, plan
    * depth bounded). An anti-join + union merge ([[rewire]], the CDC sink's
    * merge) keeps every partition of `before` and appends the delta's, so
    * without the coalesce a settled snapshot gains a partition per merge
    * and every later scan of it runs one more task. The coalesce is
    * narrow: it adds no shuffle, and it never raises the partition count.
    */
  def settle(merged: DataFrame, before: DataFrame): DataFrame = {
    val target = math.max(before.queryExecution.toRdd.getNumPartitions,
      merged.sparkSession.sparkContext.defaultParallelism)
    merged.coalesce(target).localCheckpoint(true)
  }

  /** M13: full three-clause MERGE — the `MERGE INTO target USING source ON
    * keys` statement a transactional lakehouse table executes:
    * `WHEN MATCHED AND deleteWhen THEN DELETE` /
    * `WHEN MATCHED THEN UPDATE SET *` (the source row replaces the target
    * row) / `WHEN NOT MATCHED THEN INSERT *`. [[upsert]] is the two-clause
    * special case; [[applyCdc]] is the op-column-driven variant — this is
    * the conditional-clause general form the reference's per-row psycopg
    * dispatch loops compose by hand (delete+insert rewiring,
    * demo_did_graph/05_abac/benchmark_scenario_a.py:74-91).
    *
    * `source` must carry the target's column set (extra columns are
    * dropped); `deleteWhen` is evaluated over the SOURCE columns of matched
    * rows (nulls read as keep). One full-outer join on the keys — a single
    * hash shuffle of |target|+|source| rows (SortMergeJoin(FullOuter);
    * full-outer cannot broadcast, so one exchange per side is this
    * operator's optimum — [[graft.tools.MergePlan]] is the audit). At
    * 100 TB this is the MERGE plan itself, minus the file-level skipping a
    * table format layers on top; keys are assumed non-null on both sides
    * (enforce upstream), matching SQL MERGE's never-match-on-null.
    */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
      deleteWhen: Column): DataFrame = {
    val pre = "__src_"
    val marked = source.withColumn("__del", coalesce(deleteWhen, lit(false)))
    val src = source.columns.foldLeft(marked)((df, c) =>
      df.withColumnRenamed(c, pre + c))
    val t = target.withColumn("__t", lit(true))
    val s = src.withColumn("__s", lit(true))
    val cond = keys.map(k => t(k) === s(pre + k)).reduce(_ && _)
    t.join(s, cond, "full_outer")
      .filter(!(col("__t").isNotNull && col("__s").isNotNull && col("__del")))
      .select(target.columns.map(c =>
        when(col("__s").isNotNull, col(pre + c)).otherwise(col(c)).as(c))
        .toIndexedSeq: _*)
  }

  /** M8: CDC apply — keyed last-writer-wins merge of a change batch: the
    * batch twin of the streaming `foreachBatch` sink
    * (reference: demo_sqlite_cdc/01_unit_test/06_postgres_cdc_sink.py:32-64 —
    * c/r/u ⇒ upsert, d ⇒ delete). The final state per key is the latest
    * event by `orderCols`; keys whose latest op is `d` disappear.
    * Shuffles once on the key — the partitioned window is the scalable
    * form of the reference's per-row dispatch loop.
    */
  def applyCdc(events: DataFrame, keys: Seq[String], orderCols: Seq[Column],
      opCol: String = "op", deleteOp: String = "d"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= deleteOp)
      .drop("__rn")
  }

  /** Snapshot reconciliation: classify every key across two snapshot
    * versions as added / removed / changed / unchanged — the table-diff
    * behind change-data-feed reconstruction, replication audits, and
    * "what did this batch actually do" debugging. One full-outer hash
    * join on the key (the operator's shuffle optimum, same argument as
    * [[merge]]); payload comparison is a single null-safe struct
    * equality (`<=>`), so genuinely-NULL fields compare equal instead of
    * poisoning the diff. Emits the KEY columns plus `diff_status` —
    * deliberately not the payloads (a 100 TB diff result that carries
    * both row images is another full copy of the table); callers
    * aggregate or filter from there and join a payload back by key if
    * they need one.
    *
    * Both inputs must share the schema; key columns must be non-null on
    * the side they exist (standard snapshot contract, enforced by the
    * full-outer join itself: a null key never matches, surfacing as
    * added+removed — the honest answer).
    */
  def diff(before: DataFrame, after: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(before.columns.sameElements(after.columns),
      "diff requires identical schemas: " +
        s"${before.columns.mkString(",")} vs ${after.columns.mkString(",")}")
    val payload = before.columns.filterNot(keys.contains).toIndexedSeq
    val b = before.select(keys.map(col) ++
      Seq(struct(payload.map(col): _*).as("__b_pay"), lit(true).as("__b")): _*)
    val a = after.select(keys.map(col) ++
      Seq(struct(payload.map(col): _*).as("__a_pay"), lit(true).as("__a")): _*)
    b.join(a, keys, "full_outer")
      .withColumn("diff_status",
        when(col("__b").isNull, lit("added"))
          .when(col("__a").isNull, lit("removed"))
          .when(col("__b_pay") <=> col("__a_pay"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(keys.map(col) :+ col("diff_status"): _*)
  }
}
