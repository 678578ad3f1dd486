package perfbench

import scala.collection.mutable

import graft.core._
import graft.tables._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The two IVM workloads: a `CoddSession` whose stored views are kept fresh
  * while base relations grow epoch by epoch. One epoch is
  * insert → stabilizeAll → evaluate and consume every view (→ one `sql`
  * aggregate in the trickle), timed from the insert until the last read ends.
  */
object Ivm {

  /** Seeded bucket of a key: the same seed gives the same assignment. */
  private def bucket(key: String, seed: Long, n: Int) =
    pmod(xxhash64(col(key), lit(seed)), lit(n))

  /** Set equality in both directions, rows compared by position. */
  private def sameSet(got: DataFrame, want: DataFrame): Boolean =
    got.collect().toSet == want.collect().toSet

  private final class Trickle(ctx: Ctx, customer: Dataset[Customer]) {
    import ctx.spark.implicits._
    val db = new CoddSession(ctx.spark)
    val cust: Rel[Customer] = db.addRelation[Customer]("customer")
    val ev: Rel[Event] = db.addRelation[Event]("events")
    val ord: Rel[Order] = db.addRelation[Order]("orders")
    db.insert(cust, customer)
    // σπ over events; a chain view over it; the delta join orders ⋈ customer;
    // a two-level union of the chain view, the join view and a σπ selection
    val sigmaPi: ViewExpr[(Long, String)] =
      db.storeView(ev.select(_.value > 100.0).project(e => (e.user_id, e.event_type)))
    val chain: ViewExpr[Long] = db.storeView(sigmaPi.select(_._2 == "click").project(_._1))
    val joined: ViewExpr[(Long, String, Long)] = db.storeView(
      ord.withKey(_.o_custkey).join(cust.withKey(_.c_custkey))
        .on((k, o, c) => (k, c.c_name, o.o_orderkey)))
    val unioned: ViewExpr[(Long, String)] = db.storeView(
      chain.project(u => (u, "click"))
        .union(joined.project(t => (t._1, t._2)))
        .union(sigmaPi.select(_._2 == "purchase").project(t => (t._1, "purchase"))))
    val views: Seq[ViewExpr[_]] = Seq(sigmaPi, chain, joined, unioned)
    val aggSql =
      s"SELECT _2 AS kind, count(*) AS n FROM view_${unioned.ref.id} " +
        "WHERE _2 IN ('click', 'purchase') GROUP BY _2"
  }

  /** Read every view, then the aggregate; returns the aggregate's rows. */
  private def readAll(ctx: Ctx, t: Trickle): Array[org.apache.spark.sql.Row] = {
    t.views.foreach { v =>
      val ds = ctx.tracer.span("core.evaluate")(t.db.evaluate(v))
      ctx.consume(ds.toDF())
    }
    val agg = ctx.tracer.span("core.sql")(t.db.sql(t.aggSql))
    ctx.tracer.span("consume")(agg.collect())
  }

  /** Driver-side seeded bucket of a key (splitmix64 finalizer). */
  private def bucketOf(key: Long, seed: Long, n: Int): Int = {
    var z = key ^ (seed * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    java.lang.Math.floorMod(z, n.toLong).toInt
  }

  /** Time one epoch as an operation; an epoch that throws is recorded as
    * failed and leaves no latency sample.
    */
  private def epoch(ctx: Ctx, opId: Int, name: String, rows: Long)(
      write: => Unit)(read: => Unit): OpRec = {
    ctx.tracer.setOp(opId)
    val t0 = System.nanoTime()
    var readNs = 0L
    val ok =
      try {
        ctx.tracer.span("epoch") {
          write
          val r0 = System.nanoTime()
          read
          readNs = System.nanoTime() - r0
        }
        true
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: $name failed: $e")
          false
      }
    val t1 = System.nanoTime()
    System.err.println(f"perfbench: $name ${(t1 - t0) / 1e9}%.3f s")
    OpRec(opId, name, t0, t1, readNs, rows, ok, ctx.storage()._1)
  }

  /** Time one set-up; set-up spans belong to no operation. */
  private def setup[A](ctx: Ctx, samples: mutable.Buffer[Double])(body: => A): A = {
    ctx.tracer.setOp(0)
    val t0 = System.nanoTime()
    val a = ctx.tracer.span("setup")(body)
    samples += (System.nanoTime() - t0) / 1e9
    ctx.storage()
    a
  }

  private def check(name: String, ok: Boolean): Boolean = {
    if (!ok) System.err.println(s"perfbench: check failed: $name")
    ok
  }

  /** Seconds one trickle epoch takes at the seed commit on 4 cores. */
  private val NominalEpochS = 5

  /** Many small epochs: each inserts one seeded-hash bucket of `events` and
    * of `orders` as driver-side rows, the way an application receives them.
    */
  def trickle(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val nBuckets = 48
    val customer = Tables.customer(spark, ctx.dataDir)
    // inputs, generated once per run from the seed (not part of set-up)
    val evBatches = Tables.events(spark, ctx.dataDir).collect()
      .groupBy(e => bucketOf(e.event_id, ctx.seed, nBuckets))
    val ordBatches = Tables.orders(spark, ctx.dataDir).collect()
      .groupBy(o => bucketOf(o.o_orderkey, ctx.seed, nBuckets))

    val setups = mutable.Buffer.empty[Double]
    var t: Trickle = null
    for (_ <- 1 to Main.SetupRepeats) {
      if (t != null) t.db.close()
      t = setup(ctx, setups) {
        val x = new Trickle(ctx, customer)
        ctx.tracer.span("core.stabilizeAll")(x.db.stabilizeAll())
        readAll(ctx, x)
        x
      }
    }

    val ops = mutable.Buffer.empty[OpRec]
    var lastAgg = Array.empty[org.apache.spark.sql.Row]
    def runEpoch(k: Int): OpRec = {
      val evB = evBatches.getOrElse(k, Array.empty[Event]).toSeq
      val ordB = ordBatches.getOrElse(k, Array.empty[Order]).toSeq
      epoch(ctx, k + 1, s"epoch_$k", evB.size + ordB.size) {
        ctx.tracer.span("core.insert") { t.db.insert(t.ev, evB); t.db.insert(t.ord, ordB) }
        ctx.tracer.span("core.stabilizeAll")(t.db.stabilizeAll())
      } { lastAgg = readAll(ctx, t) }
    }
    // The first epochs warm the maintenance path on a session that holds
    // data (JIT, codegen; the set-ups ran it on empty ones only). They are
    // inserted and checked but not timed. The number of timed epochs follows
    // from --seconds at a nominal epoch time rather than from a deadline, so
    // every run of a seed does the same work whatever the program's speed and
    // its counts and storage compare across commits.
    val warm = 2
    val k = warm + math.max(2, ctx.seconds / NominalEpochS)
    require(k <= nBuckets, s"--seconds ${ctx.seconds} needs more than $nBuckets buckets")
    (0 until warm).foreach(runEpoch)
    (warm until k).foreach(e => ops += runEpoch(e))

    // untimed: every view against a from-scratch recomputation
    val evAll = spark.createDataset((0 until k).flatMap(b => evBatches.getOrElse(b, Array.empty[Event])))
    val ordAll = spark.createDataset((0 until k).flatMap(b => ordBatches.getOrElse(b, Array.empty[Order])))
    val w1 = evAll.filter($"value" > 100.0).select($"user_id", $"event_type").distinct()
    val w2 = w1.filter($"event_type" === "click").select($"user_id").distinct()
    val w3 = ordAll.join(customer, $"o_custkey" === $"c_custkey")
      .select($"o_custkey", $"c_name", $"o_orderkey").distinct()
    val w4 = w2.select($"user_id".as("id"), lit("click").as("kind"))
      .union(w3.select($"o_custkey", $"c_name"))
      .union(w1.filter($"event_type" === "purchase").select($"user_id", lit("purchase")))
      .distinct()
    val wAgg = w4.filter($"kind".isin("click", "purchase")).groupBy($"kind").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotAgg = lastAgg.map(r => r.getString(0) -> r.getLong(1)).toMap
    val checks = Seq(
      check("sigma_pi view", sameSet(t.db.evaluate(t.sigmaPi).toDF(), w1)),
      check("chain view", sameSet(t.db.evaluate(t.chain).toDF(), w2)),
      check("join view", sameSet(t.db.evaluate(t.joined).toDF(), w3)),
      check("union view", sameSet(t.db.evaluate(t.unioned).toDF(), w4)),
      check("sql aggregate", wAgg == gotAgg && wAgg.nonEmpty))
    t.db.close()
    Outcome(ops.toSeq, setups.toSeq, checks.count(!_), checks.size,
      Map("epochs_inserted" -> k, "buckets" -> nBuckets),
      Map("storage.mb_after_release" -> ctx.storage()._1))
  }

  private final class Bulk(ctx: Ctx, orders: Dataset[Order], customer: Dataset[Customer]) {
    import ctx.spark.implicits._
    val db = new CoddSession(ctx.spark)
    val cust: Rel[Customer] = db.addRelation[Customer]("customer")
    val ord: Rel[Order] = db.addRelation[Order]("orders")
    val li: Rel[Lineitem] = db.addRelation[Lineitem]("lineitem")
    db.insert(cust, customer)
    db.insert(ord, orders)
    val sigmaPi: ViewExpr[(Long, Int, Double)] = db.storeView(
      li.select(_.l_quantity < 25.0).project(l => (l.l_orderkey, l.l_linenumber, l.l_extendedprice)))
    val joined: ViewExpr[(Long, Int, Long)] = db.storeView(
      li.withKey(_.l_orderkey).join(ord.withKey(_.o_orderkey))
        .on((k, l, o) => (k, l.l_linenumber, o.o_custkey)))
    val views: Seq[ViewExpr[_]] = Seq(sigmaPi, joined)
  }

  /** Thousands of rows in each `lineitem` slice of one load cycle; the seed
    * permutes the order and assigns orders to slices by hash.
    */
  private val SliceSizesK = Seq(75, 100, 125, 140, 160)

  /** Seconds one bulk load cycle takes at the seed commit on 4 cores. */
  private val NominalCycleS = 25

  /** A few large epochs: `lineitem` arrives as seeded-hash slices of the
    * parquet Dataset. A load cycle inserts all of it into a fresh session,
    * and each cycle's set-up is one set-up sample.
    */
  def bulk(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val orders = Tables.orders(spark, ctx.dataDir)
    val customer = Tables.customer(spark, ctx.dataDir)
    val lineitem = Tables.lineitem(spark, ctx.dataDir)
    val sizes = new scala.util.Random(ctx.seed).shuffle(SliceSizesK)
    val cuts = sizes.scanLeft(0)(_ + _)
    val slices = cuts.zip(cuts.tail).map { case (lo, hi) =>
      val b = bucket("l_orderkey", ctx.seed, cuts.last)
      lineitem.filter(b >= lo && b < hi)
    }
    val sliceRows = slices.map(_.count())

    val setups = mutable.Buffer.empty[Double]
    val ops = mutable.Buffer.empty[OpRec]
    var opSeq = 0
    def newBulk(): Bulk = setup(ctx, setups) {
      val x = new Bulk(ctx, orders, customer)
      ctx.tracer.span("core.stabilizeAll")(x.db.stabilizeAll())
      x.views.foreach(v => ctx.consume(ctx.tracer.span("core.evaluate")(x.db.evaluate(v)).toDF()))
      x
    }
    def cycle(b: Bulk, timed: Boolean): Unit = slices.indices.foreach { i =>
      opSeq += 1
      val rec = epoch(ctx, opSeq, s"slice_${sizes(i)}k", sliceRows(i)) {
        ctx.tracer.span("core.insert")(b.db.insert(b.li, slices(i)))
        ctx.tracer.span("core.stabilizeAll")(b.db.stabilizeAll())
      } {
        b.views.foreach(v => ctx.consume(ctx.tracer.span("core.evaluate")(b.db.evaluate(v)).toDF()))
      }
      if (timed) ops += rec
    }
    var b: Bulk = null
    for (_ <- 1 to Main.SetupRepeats) {
      if (b != null) b.db.close()
      b = newBulk()
    }
    // the first cycle warms the maintenance path and is not timed
    cycle(b, timed = false)
    // timed cycles, as many as --seconds holds at a nominal cycle time
    for (_ <- 1 to math.max(1, ctx.seconds / NominalCycleS)) {
      b.db.close()
      b = newBulk()
      cycle(b, timed = true)
    }
    // untimed: the last session's views against a recomputation over the
    // whole table (every slice of its cycle was inserted)
    val w1 = lineitem.filter($"l_quantity" < 25.0)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice").distinct()
    val w2 = lineitem.join(orders, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber", $"o_custkey").distinct()
    val checks = Seq(
      check("sigma_pi view", sameSet(b.db.evaluate(b.sigmaPi).toDF(), w1)),
      check("join view", sameSet(b.db.evaluate(b.joined).toDF(), w2)))
    b.db.close()
    Outcome(ops.toSeq, setups.toSeq, checks.count(!_), checks.size,
      Map("slice_rows" -> sliceRows),
      Map("storage.mb_after_release" -> ctx.storage()._1))
  }
}
