package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Direct three-set Instance behavior — port of the reference's
  * instance-level tests (reference: core/src/database/instance.rs:300-481):
  * staging, epoch transitions, dedup-on-merge, geometric compaction.
  */
class InstanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def inst = new Instance[Int](spark.emptyDataset[Int])
  private def ds(xs: Int*) = spark.createDataset(xs)

  test("insert stages only; changed() promotes; second changed() folds") {
    val i = inst
    i.insert(ds(1, 2, 2, 3))
    assert(i.pendingCount == 1 && !i.hasRecent && i.stableCount == 0)
    assert(i.changed()) // to_add -> recent (dedup'd)
    assert(i.hasRecent && i.recent.collect().sorted.toSeq == Seq(1, 2, 3))
    assert(!i.changed()) // recent -> stable, nothing pending
    assert(!i.hasRecent && i.stableCount == 3)
    assert(i.stable.collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("promotion anti-joins against stable (dedup across epochs)") {
    val i = inst
    i.insert(ds(1, 2, 3)); i.changed(); i.changed()
    i.insert(ds(2, 3, 4, 4))
    assert(i.changed())
    assert(i.recent.collect().sorted.toSeq == Seq(4)) // only the novel tuple
    i.insert(ds(1, 2, 3, 4))
    i.changed()
    assert(!i.hasRecent || i.recent.isEmpty) // nothing genuinely new
    assert(i.stableCount == 4)
  }

  test("geometric compaction: equal batches collapse, large batches persist") {
    val i = inst
    // equal 3-row batches, merging while last <= 2*recent:
    // [3] → [6] → [9] → 9 > 6 ⇒ [9,3]
    (0 until 4).foreach { k =>
      i.insert(ds(k * 10 + 1, k * 10 + 2, k * 10 + 3))
      i.changed(); i.changed()
    }
    assert(i.stableCount == 12)
    assert(i.stableBatchCount == 2, s"expected runs [9,3], got ${i.stableBatchCount}")
    // fifth batch cascades: 3<=6 ⇒ 6; 9<=12 ⇒ [15]
    i.insert(ds(41, 42, 43))
    i.changed(); i.changed()
    assert(i.stableBatchCount == 1, s"expected cascade collapse, got ${i.stableBatchCount}")
    assert(i.stableCount == 15)
    // a 1-row batch does NOT merge into the 15-row run (15 > 2)
    i.insert(ds(100))
    i.changed(); i.changed()
    assert(i.stableBatchCount == 2, s"expected separate run, got ${i.stableBatchCount}")
    assert(i.stableCount == 16)
  }

  test("multiple staged batches drain in one epoch") {
    val i = inst
    i.insert(ds(1, 2)); i.insert(ds(2, 3)); i.insert(ds(3, 4))
    assert(i.pendingCount == 3)
    assert(i.changed())
    assert(i.recent.collect().sorted.toSeq == Seq(1, 2, 3, 4))
    assert(i.pendingCount == 0)
  }

  test("fused-promotion gate rejects order-dependent and opaque plans") {
    import org.apache.spark.sql.functions._
    val base = spark.range(100).select(col("id"))
    // limit selects a shuffle-fetch-order-dependent row SET even though
    // every expression is deterministic: evaluating the staged plan twice
    // (broadcast build + anti-join probe) could pick different rows
    assert(!Instance.provablyFusable(base.distinct().limit(10)))
    assert(!Instance.provablyFusable(base.offset(5)))
    assert(!Instance.provablyFusable(base.sample(0.5)))
    assert(!Instance.provablyFusable(base.select(rand().as("r"))))
    assert(!Instance.provablyFusable(base.as[Long].map(_ + 1).toDF()))
    // closure nodes OUTSIDE the ObjectProducer/Consumer traits: a typed
    // filter or groupByKey key extractor can hide an impure closure too
    assert(!Instance.provablyFusable(base.as[Long].filter((x: Long) => x > 5).toDF()))
    assert(!Instance.provablyFusable(
      base.as[Long].groupByKey(_ % 3).count().toDF()))
    // plain deterministic relational plans certify
    assert(Instance.provablyFusable(base.filter(col("id") > 5).distinct()))
  }

  test("estimate-upper-bound gate: row/size-expanding nodes rejected, reducers pass") {
    import org.apache.spark.sql.functions._
    val base = spark.range(100).select(col("id"))
    // expanding nodes: the non-CBO estimate can under-count their output
    assert(!Instance.estimateUpperBoundSafe(
      base.select(explode(array(col("id"), col("id"))).as("x"))))
    assert(!Instance.estimateUpperBoundSafe(base.sample(withReplacement = true, 2.0)))
    assert(!Instance.estimateUpperBoundSafe(base.as[Long].map(_ + 1).toDF()))
    assert(!Instance.estimateUpperBoundSafe(base.as[Long].groupByKey(_ % 3).count().toDF()))
    // row-reducing / schema-preserving plans pass even where the
    // determinism gate must refuse them — the pinned checkpoint fixes
    // which rows both join references see
    assert(Instance.estimateUpperBoundSafe(base.as[Long].filter((x: Long) => x > 5).toDF()))
    assert(Instance.estimateUpperBoundSafe(base.distinct().limit(10)))
    assert(Instance.estimateUpperBoundSafe(base.select(rand().as("r"))))
  }

  test("pinned fused promotion evaluates an uncertifiable staged plan exactly once") {
    // both storage policies build the same pinned plan: deferred under
    // LocalCheckpoint, written as a parquet batch under ReliableStore
    val policies = Seq(
      Instance.LocalCheckpoint,
      Instance.ReliableStore(java.nio.file.Files.createTempDirectory("graft_pin_").toString))
    policies.foreach { policy =>
      val i = new Instance[Int](spark.emptyDataset[Int], policy)
      i.insert(ds(1, 2, 3)); i.changed(); i.changed() // stable = {1,2,3}
      val acc = spark.sparkContext.longAccumulator("typedFilterEvals")
      // TypedFilter closure: impure on purpose — counts its invocations.
      // Uncertifiable (opaque closure) but estimate-upper-bound-safe, so the
      // promotion takes the pinned fused path; the lazy checkpoint must pin
      // ONE evaluation (the old direct fuse would have run it twice).
      val staged = spark.createDataset(1 to 10).filter { x => acc.add(1); x > 3 }
      i.insert(staged)
      assert(i.changed())
      assert(acc.value == 10L, s"$policy: closure ran ${acc.value} times, want one pass over 10 rows")
      assert(i.recent.collect().sorted.toSeq == (4 to 10))
      i.close()
    }
  }
}
