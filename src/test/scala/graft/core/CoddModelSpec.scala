package graft.core

import graft.TestSpark
import org.apache.spark.sql.{Encoder, Encoders}
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Model-based differential testing of the IVM core: random programs of
  * inserts, stored views, `evaluate`, `sql`, `stabilizeAll`, `fork` and
  * `ReliableStore` restarts run against a [[CoddSession]] and against the
  * plain-Scala [[CoddModel]], which must agree on every answer, every
  * error, and on set semantics (no duplicate rows).
  */
class CoddModelSpec extends AnyFunSuite {
  import CoddModelSpec._

  lazy val spark = TestSpark.spark

  private val seen = mutable.Set.empty[String]
  private var chains, fanOuts, recovered = 0

  private def nodes(e: Expr[_]): Unit = {
    seen += e.getClass.getSimpleName
    e.children.foreach(nodes)
  }

  /** Engine and model agree: same distinct rows, or the same engine error. */
  private def agree(label: String)(engine: => Seq[P], model: => Set[Any]): Unit =
    (Try(engine), Try(model)) match {
      case (Success(got), Success(want)) =>
        assert(got.size == got.toSet.size, s"$label: duplicate rows in $got")
        assert(got.toSet == want, s"$label: engine ${got.toSet} != model $want")
      case (Failure(a: CoddError), Failure(b: CoddError)) =>
        assert(a == b, s"$label: engine raised $a, model $b")
      case (e, m) => fail(s"$label: engine $e, model $m")
    }

  /** One session under test, its model and the view definitions stored. */
  private final class Driver(reliable: Boolean) {
    private val dirs = mutable.Buffer.empty[String]
    private def newSession(): CoddSession =
      if (!reliable) new CoddSession(spark)
      else {
        dirs += java.nio.file.Files.createTempDirectory("graft_model_").toString
        new CoddSession(spark, Instance.ReliableStore(dirs.last))
      }
    var db: CoddSession = newSession()
    var model = new CoddModel
    private val defs = mutable.Buffer.empty[Expr[P]]
    private val retired = mutable.Buffer.empty[(CoddSession, CoddModel)]
    rels.values.foreach(r => db.addRelation[P](r.name))

    def run(op: Op): Unit = op match {
      case Insert(rel, rows) =>
        db.insert(rels(rel), rows); model.insert(rels(rel), rows)
      case Evaluate(e) =>
        nodes(e)
        agree(s"evaluate $e")(db.evaluate(e).collect().toSeq, model.evaluate(e))
      case StoreView(e) =>
        nodes(e)
        (Try(db.storeView(e).ref.id), Try(model.storeView(e))) match {
          case (Success(a), Success(b)) =>
            assert(a == b, s"view ids differ: $a vs $b")
            if (e.viewDeps.nonEmpty) chains += 1
            if (defs.exists(d => (d.relDeps & e.relDeps).nonEmpty)) fanOuts += 1
            defs += e
          case (Failure(a: CoddError), Failure(b: CoddError)) => assert(a == b)
          case (a, b) => fail(s"storeView $e: engine $a, model $b")
        }
      case Sql =>
        model.stabilizeAll()
        rels.keys.foreach { n =>
          agree(s"sql $n")(db.sql(s"SELECT * FROM $n").as(pEnc).collect().toSeq,
            model.evaluate(rels(n)))
        }
        (0 until model.viewCount).foreach { i =>
          agree(s"sql view_$i")(db.sql(s"SELECT * FROM view_$i").as(pEnc).collect().toSeq,
            model.view(i))
        }
      case StabilizeAll =>
        db.stabilizeAll(); model.stabilizeAll()
      case Fork =>
        retired += ((db, model))
        db = db.fork(); model = model.fork()
      case Restart =>
        // crash and recover: only what stabilization committed survives
        db.close()
        val from = dirs.last
        db = newSession()
        rels.values.foreach { r =>
          val rel = db.addRelation[P](r.name)
          val dir = s"$from/rel_${r.name}"
          if (new java.io.File(dir).exists) {
            val df = Instance.loadBatches(spark, dir)
            if (df.columns.nonEmpty) { db.insert(rel, df.as(pEnc)); recovered += 1 }
          }
        }
        defs.foreach(db.storeView(_))
        model = model.restarted()
    }

    /** Check every relation and view of every session, then free them. */
    def finish(): Unit =
      try (retired :+ ((db, model))).foreach { case (d, m) =>
        rels.values.foreach(r => agree(s"final ${r.name}")(d.evaluate(r).collect().toSeq, m.evaluate(r)))
        (0 until m.viewCount).foreach { i =>
          val v = ViewExpr[P](ViewRef(i))
          agree(s"final view_$i")(d.evaluate(v).collect().toSeq, m.evaluate(v))
        }
      } finally {
        (retired.map(_._1) :+ db).foreach(_.close())
        dirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
      }
  }

  private def check(programs: Int, reliable: Boolean): Unit = {
    val prop = Prop.forAllNoShrink(genProgram(reliable)) { ops =>
      val d = new Driver(reliable)
      try ops.foreach(d.run) finally d.finish()
      true
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(programs).withInitialSeed(20261017L),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("random programs with forks match the model; every Expr node is exercised") {
    check(programs = 20, reliable = false)
    assert(seen == Set("Rel", "Select", "Project", "Prod", "EquiJoin", "Union", "Intersect",
      "Difference", "EmptyRel", "FullRel", "Singleton", "ViewExpr"), seen)
    assert(chains > 0 && fanOuts > 0, s"chained views $chains, fanned-out views $fanOuts")
  }

  test("random programs with ReliableStore restarts match the model") {
    check(programs = 10, reliable = true)
    assert(recovered > 0, "no restart recovered a relation")
  }

  test("a failed stabilization round rolls back; a retry matches the model") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val db = new CoddSession(spark)
    val m = new CoddModel
    val r = Rel[P]("r")
    db.addRelation[P]("r")
    val defs = Seq[Expr[P]](
      Select(r, failWhenArmed), // view 0: its closure throws while armed
      Project(r, projs(0)), // view 1: a sibling of view 0
      Project(ViewExpr[P](ViewRef(0)), projs(1))) // view 2: chained on view 0
    defs.foreach { e => db.storeView(e); m.storeView(e) }
    def failingRound(): Unit = {
      FailFlag.armed = true
      try intercept[Exception](db.stabilizeAll())
      finally FailFlag.armed = false
      db.stabilizeAll(); m.stabilizeAll()
      agree("r")(db.evaluate(r).collect().toSeq, m.evaluate(r))
      defs.indices.foreach { i =>
        val v = ViewExpr[P](ViewRef(i))
        agree(s"view_$i")(db.evaluate(v).collect().toSeq, m.evaluate(v))
      }
      db.instances.foreach(i => assert(i.stableCount == i.stable.distinct().count()))
    }
    // epoch 1: every view promotion defers, so the failure hits a wave action
    val rows1 = (0 until 6).flatMap(a => Seq((a, a), (a, 5 - a)))
    db.insert(r, rows1); m.insert(r, rows1)
    failingRound()
    // epoch 2: the relation's typed-filter batch takes the pinned fused
    // promotion, then view 0's prepare-time broadcast fails
    val rows2 = Seq((0, 1), (2, 3), (4, 4), (1, 1))
    db.insert(r, spark.createDataset(rows2)(pEnc).filter((t: P) => t._2 >= 0)); m.insert(r, rows2)
    failingRound()
    db.close()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"storage still pinned after close: $leaked")
  }
}

object CoddModelSpec {
  type P = (Int, Int)
  implicit val pEnc: Encoder[P] = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
  implicit val kEnc: Encoder[Int] = Encoders.scalaInt

  val rels: Map[String, Rel[P]] = Map("r" -> Rel[P]("r"), "s" -> Rel[P]("s"))

  object FailFlag { @volatile var armed = false }

  val failWhenArmed: P => Boolean = t => {
    if (FailFlag.armed) throw new IllegalStateException("injected view failure")
    t._1 % 2 == 0
  }

  // closures over a 0..5 domain, so every relation stays under 36 tuples
  val preds: Seq[P => Boolean] = Seq(_._1 % 2 == 0, _._2 > 2, t => t._1 != t._2)
  val projs: Seq[P => P] =
    Seq(t => (t._2, t._1), t => (t._1 % 3, t._2), t => (t._1, (t._1 + t._2) % 6))
  val keys: Seq[P => Int] = Seq(_._1, _._2)
  val joiners: Seq[(Int, P, P) => P] = Seq((k, a, b) => (k, (a._2 + b._2) % 6), (_, a, b) => (a._2, b._2))
  val prods: Seq[(P, P) => P] = Seq((a, b) => (a._1, b._2), (a, b) => ((a._1 + b._1) % 6, a._2))

  sealed trait Op
  final case class Insert(rel: String, rows: List[P]) extends Op
  final case class Evaluate(e: Expr[P]) extends Op
  final case class StoreView(e: Expr[P]) extends Op
  case object Sql extends Op
  case object StabilizeAll extends Op
  case object Fork extends Op
  case object Restart extends Op

  private val small = Gen.choose(0, 5)

  /** A random expression tree; `adHoc` trees may hold the non-monotone
    * `Difference` and the unevaluable `FullRel`, which views never get.
    */
  def genExpr(depth: Int, nViews: Int, adHoc: Boolean): Gen[Expr[P]] = {
    val leaves = Seq[(Int, Gen[Expr[P]])](
      4 -> Gen.oneOf(rels.values.toSeq),
      1 -> Gen.const(EmptyRel[P]()),
      1 -> Gen.zip(small, small).map(t => Singleton[P](t))) ++
      (if (nViews > 0) Seq(4 -> Gen.choose(0, nViews - 1).map(i => ViewExpr[P](ViewRef(i))))
       else Nil) ++
      (if (adHoc) Seq(1 -> Gen.const(FullRel[P]())) else Nil)
    val leaf = Gen.frequency(leaves: _*)
    if (depth == 0) leaf
    else {
      val sub = genExpr(depth - 1, nViews, adHoc)
      Gen.frequency(Seq[(Int, Gen[Expr[P]])](
        3 -> leaf,
        2 -> Gen.zip(sub, Gen.oneOf(preds)).map { case (c, p) => Select(c, p) },
        2 -> Gen.zip(sub, Gen.oneOf(projs)).map { case (c, f) => Project(c, f) },
        1 -> Gen.zip(sub, sub).map { case (l, r) => Union(l, r) },
        1 -> Gen.zip(sub, sub).map { case (l, r) => Intersect(l, r) },
        1 -> Gen.zip(sub, sub, Gen.oneOf(prods)).map { case (l, r, f) => Prod(l, r, f) },
        2 -> Gen.zip(sub, sub, Gen.oneOf(keys), Gen.oneOf(keys), Gen.oneOf(joiners))
          .map { case (l, r, lk, rk, f) => EquiJoin(l, r, lk, rk, f) }) ++
        (if (adHoc) Seq(1 -> Gen.zip(sub, sub).map { case (l, r) => Difference(l, r) })
         else Nil): _*)
    }
  }

  private def genOp(nViews: Int, reliable: Boolean): Gen[Op] =
    Gen.frequency(Seq[(Int, Gen[Op])](
      4 -> Gen.zip(Gen.oneOf(rels.keys.toSeq), Gen.listOfN(4, Gen.zip(small, small)))
        .map { case (n, rows) => Insert(n, rows) },
      3 -> genExpr(2, nViews, adHoc = true).map(Evaluate(_)),
      // one stored definition in eight is non-monotone and must be rejected
      (if (nViews < 4) 3 else 0) -> Gen.frequency(
        7 -> genExpr(2, nViews, adHoc = false),
        1 -> genExpr(1, nViews, adHoc = false).map(e => Difference(e, Rel[P]("s"))))
        .map(StoreView(_)),
      1 -> Gen.const(Sql),
      2 -> Gen.const(StabilizeAll),
      1 -> Gen.const(if (reliable) Restart else Fork)).filter(_._1 > 0): _*)

  private def genOps(n: Int, nViews: Int, reliable: Boolean): Gen[List[Op]] =
    if (n == 0) Gen.const(Nil)
    else
      genOp(nViews, reliable).flatMap { op =>
        val stored = op match {
          case StoreView(e) if !Expr.containsDifference(e) => 1
          case _                                          => 0
        }
        genOps(n - 1, nViews + stored, reliable).map(op :: _)
      }

  def genProgram(reliable: Boolean): Gen[List[Op]] =
    Gen.choose(8, 12).flatMap(genOps(_, 0, reliable))
}
