package graft.core

import scala.collection.mutable

/** Plain-Scala reference model of codd, the oracle the IVM specs compare
  * the engine against. Relations are in-memory sets and every answer —
  * ad-hoc query or stored view — is FULL RECOMPUTATION over them
  * (SURVEY §1, the reference's `evaluate.rs` semantics), reusing each
  * [[Expr]] node's own closures. No Spark, no deltas, no epochs.
  *
  * The only state beyond the sets is what is needed to model durability:
  * a relation's inserts become `committed` when a stabilization reaches it
  * (an `evaluate` whose dependency closure names it, `sql`,
  * `stabilizeAll`), and only committed tuples survive a
  * [[Instance.ReliableStore]] restart through [[Instance.loadBatches]];
  * staged inserts are the caller's to replay (instance.rs `to_add`).
  */
final class CoddModel private (
    committed: mutable.Map[String, Set[Any]],
    staged: mutable.Map[String, Set[Any]],
    views: mutable.ArrayBuffer[Expr[Any]]) {

  def this() = this(mutable.Map.empty, mutable.Map.empty, mutable.ArrayBuffer.empty)

  def insert[T](rel: Rel[T], rows: Seq[T]): Unit =
    staged(rel.name) = staged.getOrElse(rel.name, Set.empty[Any]) ++ rows

  /** Register a view and return its id; a `Difference` is rejected, as in
    * the engine (validate.rs).
    */
  def storeView[T](expr: Expr[T]): Int = {
    if (Expr.containsDifference(expr))
      throw CoddError.UnsupportedExpression("Difference", "View")
    views += expr.asInstanceOf[Expr[Any]]
    views.size - 1
  }

  def evaluate[T](expr: Expr[T]): Set[Any] = {
    val vs = mutable.Set.empty[Int]
    def addV(id: Int): Unit = if (id < views.size && vs.add(id)) views(id).viewDeps.foreach(addV)
    expr.viewDeps.foreach(addV)
    commit(expr.relDeps ++ vs.flatMap(views(_).relDeps))
    eval(expr)
  }

  /** What `stabilizeAll` and `sql` do to the store: commit everything. */
  def stabilizeAll(): Unit = commit(staged.keySet.toSet)

  def viewCount: Int = views.size

  /** Full content of view `id`. */
  def view(id: Int): Set[Any] = eval(views(id))

  def fork(): CoddModel = new CoddModel(committed.clone(), staged.clone(), views.clone())

  /** The session a restart rebuilds: each relation's recovered (committed)
    * content re-inserted as staged, the same view definitions re-stored.
    */
  def restarted(): CoddModel =
    new CoddModel(mutable.Map.empty, committed.clone(), views.clone())

  private def commit(names: Iterable[String]): Unit = names.foreach { n =>
    staged.remove(n).foreach(s => committed(n) = committed.getOrElse(n, Set.empty[Any]) ++ s)
  }

  private def content(name: String): Set[Any] =
    committed.getOrElse(name, Set.empty[Any]) ++ staged.getOrElse(name, Set.empty[Any])

  private def eval(e: Expr[_]): Set[Any] = e match {
    case r: Rel[_]      => content(r.name)
    case v: ViewExpr[_] =>
      if (v.ref.id < views.size) eval(views(v.ref.id))
      else throw CoddError.InstanceNotFound(v.ref.toString)
    case _: EmptyRel[_]  => Set.empty
    case _: FullRel[_]   => throw CoddError.UnsupportedExpression("Full", "Evaluate")
    case s: Singleton[_] => Set(s.tuple)
    case s: Select[_] =>
      val ss = s.asInstanceOf[Select[Any]]
      eval(ss.child).filter(ss.p)
    case p: Project[_, _] =>
      val pp = p.asInstanceOf[Project[Any, Any]]
      eval(pp.child).map(pp.f)
    case u: Union[_]      => eval(u.left) ++ eval(u.right)
    case i: Intersect[_]  => eval(i.left).intersect(eval(i.right))
    case d: Difference[_] => eval(d.left) -- eval(d.right)
    case p: Prod[_, _, _] =>
      val pp = p.asInstanceOf[Prod[Any, Any, Any]]
      // both sides first: an unevaluable side fails even when the other is empty
      val (l, r) = (eval(pp.left), eval(pp.right))
      for (a <- l; b <- r) yield pp.f(a, b)
    case j: EquiJoin[_, _, _, _] =>
      val jj = j.asInstanceOf[EquiJoin[Any, Any, Any, Any]]
      val (l, r) = (eval(jj.left), eval(jj.right))
      for (a <- l; b <- r if jj.leftKey(a) == jj.rightKey(b)) yield jj.f(jj.leftKey(a), a, b)
  }
}
