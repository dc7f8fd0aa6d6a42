package graft

import graft.streaming.CdcStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Model-based fuzz of the CDC micro-batch merge (SURVEY.md §2.8 M8 /
  * §2.10): random change batches — duplicate keys in one batch,
  * out-of-order timestamps, create/update/delete interleavings — applied
  * through [[CdcStream.mergeCdcBatch]] must converge to a driver-side
  * last-writer-wins model keyed on (ts_ms desc, seq desc).
  */
class CdcPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // (id, name, op, ts_ms, seq)
  private case class Ev(id: Long, name: String, op: String, ts: Long, seq: Long)

  private val evGen: Gen[Ev] = for {
    id <- Gen.choose(0L, 9L)
    n <- Gen.choose(0, 99)
    op <- Gen.oneOf("c", "u", "d", "r")
    ts <- Gen.choose(0L, 5L) // narrow range forces ts collisions
  } yield Ev(id, s"n$n", op, ts, 0L)

  private def batches(seed: Long, n: Int = 5): List[List[Ev]] =
    Gen.listOfN(n, Gen.listOfN(12, evGen))(Gen.Parameters.default, Seed(seed))
      .getOrElse(Nil)
      // a global seq disambiguates like a source offset would
      .map(_.zipWithIndex.map { case (e, i) => e.copy(seq = i.toLong) })

  // model: the winner per id is max by (ts, seq); d removes the key
  private def applyModel(model: Map[Long, String], b: List[Ev]): Map[Long, String] =
    b.groupBy(_.id).foldLeft(model) { case (m, (id, evs)) =>
      val w = evs.maxBy(e => (e.ts, e.seq))
      if (w.op == "d") m - id else m + (id -> w.name)
    }

  private def batchDf(b: List[Ev]) =
    b.map(e => (e.id, e.name, e.op, e.ts, e.seq))
      .toDF("id", "name", "op", "ts_ms", "seq")

  test("random CDC batch sequences match the last-writer-wins model") {
    (1 to 6).foreach { i =>
      var model = Map[Long, String](1L -> "init1", 2L -> "init2")
      var snap = model.toSeq.toDF("id", "name")
      batches(1000L + i).foreach { b =>
        model = applyModel(model, b)
        snap = CdcStream.mergeCdcBatch(snap, batchDf(b))
          .localCheckpoint(true) // the sink materializes per micro-batch
      }
      val got = snap.select("id", "name").as[(Long, String)].collect().toMap
      assert(got == model, s"case $i diverged")
    }
  }

  test("SnapshotHandle keeps the partition count bounded over 32 merges") {
    // Each merge unions the surviving snapshot with the batch's upserts,
    // which adds a partition; the handle's settle must coalesce it back to
    // max(initial count, default parallelism) without changing a row.
    val handle = new CdcStream.SnapshotHandle(spark)
    var model = Map[Long, String](1L -> "init1", 2L -> "init2")
    handle.set(model.toSeq.toDF("id", "name"))
    def parts = handle.snapshot.rdd.getNumPartitions
    val bound = math.max(parts, spark.sparkContext.defaultParallelism)
    batches(2000L, n = 32).zipWithIndex.foreach { case (b, k) =>
      model = applyModel(model, b)
      handle.set(CdcStream.mergeCdcBatch(handle.get(spark), batchDf(b)))
      assert(parts <= bound, s"batch $k: $parts partitions > $bound")
    }
    val got = handle.snapshot.select("id", "name").as[(Long, String)]
      .collect().toMap
    assert(got == model)
  }
}
