package graft

/** Driver-side reference for the linear closure rule
  * `closure(x, y) :- edge(x, y) ; edge(x, z), closure(z, y), keep(x)` —
  * the independent expectation the fixpoint specs compare against. */
object DriverClosure {
  def of(edges: Set[(Long, Long)],
      keep: Long => Boolean = _ => true): Set[(Long, Long)] = {
    val out = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var total = edges
    var frontier = edges
    while (frontier.nonEmpty) {
      val next = for {
        (z, y) <- frontier
        x <- out.getOrElse(z, Set.empty[Long]) if keep(x)
      } yield (x, y)
      frontier = next -- total
      total ++= frontier
    }
    total
  }

  /** The `(a, b)` pairs of `:edge` datoms. */
  def edgesOf(datoms: Seq[graft.model.Datom]): Set[(Long, Long)] =
    datoms.map(d => (d.e, d.v.native.asInstanceOf[Long])).toSet

  def tuples(pairs: Set[(Long, Long)]): Set[Seq[Any]] =
    pairs.map { case (a, b) => Seq(a, b): Seq[Any] }
}
