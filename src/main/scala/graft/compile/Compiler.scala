package graft.compile

import graft.kernel.Ckpt._

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.domain.AttributeSource
import graft.model._
import graft.model.ValueKind._

/** A compiled relation: a DataFrame in Z-set (weighted multiset) form.
  *
  * Invariant: `df.columns == vars.indices.map(i => s"c$i") :+ "_w"`. The
  * `_w` column is the differential-dataflow diff (`isize` multiplicity) made
  * explicit as data: joins multiply it, negation flips it, distinct
  * normalizes it to 1, consolidation sums it. This keeps every operator a
  * plain Catalyst-optimizable DataFrame transform while staying faithful to
  * the reference's Z-set semantics (`src/lib.rs:243`).
  *
  * `isPathArray` marks pull results whose tuples have heterogeneous arity
  * and are therefore packed into a single `array<variant>` column.
  */
final case class Rel(
    vars: Seq[Int],
    kinds: Seq[ValueKind],
    df: DataFrame,
    isPathArray: Boolean = false,
    unit: Boolean = false,
    // Known-small relation (e.g. a fixpoint delta whose checkpointed RDD
    // carries no Catalyst size stats): join sites broadcast it instead of
    // shuffling. A property of the RELATION consumed at join sites — never
    // a df-level hint, which would leak into unions (HintErrorLogger spam,
    // round-2 advice).
    small: Boolean = false,
    // Rows are already set-distinct at weight 1 (e.g. a Union output):
    // lets the fixpoint skip a second distinct shuffle per round.
    distinct: Boolean = false) {

  def idx(v: Int): Int = {
    val i = vars.indexOf(v)
    require(i >= 0, s"variable $v not bound by relation over $vars")
    i
  }
  def colOf(v: Int): Column = col(Rel.c(idx(v)))
  def kindOf(v: Int): ValueKind = kinds(idx(v))
}

object Rel {
  val W = "_w"
  def c(i: Int): String = s"c$i"
  def names(n: Int): Seq[String] = (0 until n).map(c) :+ W
}

object Compiler extends Serializable {
  /** Shared rule-cache key: (source (data epoch, as-of) version,
    * aggregation-semantics flag, transitive rule definitions). The source
    * version makes staleness structurally impossible: any domain mutation
    * or different as-of view changes the key. */
  type RuleCacheKey = ((Long, Long), Boolean, Seq[(String, Plan)])

  /** Normalize a rational to gcd-reduced form with positive denominator
    * (the reference's `Rational32` results). Off the hot path: only
    * AVG/VARIANCE parity queries use it. Lives on the companion so the
    * closure doesn't capture a (non-serializable) Compiler instance. */
  private[compile] val rationalizeUdf =
    org.apache.spark.sql.functions.udf { (num: Long, den: Long) =>
      val sign = if (den < 0) -1L else 1L
      @annotation.tailrec
      def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
      val g = gcd(math.abs(num), math.abs(den))
      val gg = if (g == 0) 1L else g
      (sign * num / gg, sign * den / gg)
    }
}

/** Compiles the `Plan` algebra to DataFrames — the analog of the reference's
  * `implement` (`src/lib.rs:933-1023`). Batch-first: every operator is a
  * declarative DataFrame transform, so Catalyst gets predicate pushdown,
  * column pruning and join planning for free; recursion (`NameExpr`
  * self-reference) runs as a driver-side fixpoint loop (see `compileRule`).
  */
class Compiler(
    source: AttributeSource,
    rules: Map[String, Rule] = Map.empty,
    maxIterations: Int = 10000,
    aggregateSetSemantics: Boolean = false,
    // Cross-compiler rule-result cache (the reference shares one
    // arrangement per rule across all queries — src/domain/mod.rs:605-610).
    // Keyed by the rule's TRANSITIVE definition (its own plan plus every
    // reachable rule's plan), so equal derivations share work and renamed
    // or redefined rules don't collide. Only safe when every participating
    // compiler reads the same immutable source (the bulk path).
    sharedCache: Option[mutable.Map[Compiler.RuleCacheKey, Rel]] = None) {

  import Rel.{c, W}
  import graft.model.{Plan => P}

  private val memo = mutable.Map.empty[String, Rel]

  /** Compile and consolidate a plan (multiset canonicalization, as the
    * reference applies to every rule result — `src/lib.rs:1012-1016`). */
  def run(plan: Plan): Rel = {
    val rel = compile(plan, Map.empty)
      .getOrElse(sys.error("plan compiled to the empty relation"))
    rel.copy(df = consolidate(rel.df))
  }

  /** Compile a named rule, solving recursive references via a driver-side
    * fixpoint (the Spark analog of the reference's iterative scope with
    * per-rule `Variable`s, `src/lib.rs:943-1022`). Rules in recursive
    * cliques are solved first and memoized; everything downstream of them
    * then compiles as plain stratified lookups. */
  def compileRule(name: String): Rel = memo.get(name) match {
    case Some(rel) => rel
    case None =>
      val key = cacheKey(name)
      sharedCache.flatMap(_.get(key)) match {
        case Some(rel) =>
          memo(name) = rel
          rel
        case None =>
          val reach = reachable(name) + name
          val cyclic = reach.filter(r => reachable(r).contains(r))
          if (cyclic.exists(!memo.contains(_))) fixpoint(cyclic)
          val rel = memo.getOrElseUpdate(name,
            compile(rules(name).plan, Map.empty)
              .getOrElse(sys.error(s"rule $name compiled to the empty relation")))
          sharedCache.foreach(_.update(key, rel))
          rel
      }
  }

  private def cacheKey(name: String): Compiler.RuleCacheKey =
    (source.version, aggregateSetSemantics,
      (reachable(name) + name).toSeq.sorted.map(n => (n, rules(n).plan)))

  /** Rules transitively reachable from `name`'s plan (NameExpr references
    * to base relations are data, not rules — excluded). */
  private def reachable(name: String): Set[String] = {
    val seen = mutable.Set.empty[String]
    def go(n: String): Unit = rules.get(n).foreach { r =>
      val (_, rs) = P.dependencies(r.plan)
      rs.filter(rules.contains).foreach { dep => if (seen.add(dep)) go(dep) }
    }
    go(name)
    seen.toSet
  }

  /** Solve a recursive clique to fixpoint and memoize every member's final
    * relation. Set semantics inside the loop (the reference closes recursion
    * variables under `distinct`/`consolidate`, `src/lib.rs:999-1019`).
    *
    * Two strategies:
    *  - **Semi-naive** when every clique rule is monotone and linearly
    *    recursive (≤ 1 recursive reference per body): each round evaluates
    *    bodies against only the previous round's *delta*, so per-round join
    *    input tracks the growth frontier rather than the accumulated total —
    *    at scale the difference between O(frontier · depth) and
    *    O(total · depth) shuffled bytes. Totals accumulate as unions of
    *    checkpointed deltas (no recomputation).
    *  - **Naive recompute** otherwise, with convergence decided by a content
    *    signature (row count, weight sum, order-independent row-hash sum) —
    *    bare counts can stay equal while sets oscillate under non-monotone
    *    operators (Negate/Antijoin inside the recursion).
    */
  private val fixpointDebug = sys.env.contains("GRAFT_FIXPOINT_DEBUG")

  private def fixpoint(cyclicAll: Set[String]): Unit = {
    val debugT0 = System.nanoTime()
    // Previously solved cliques (this compiler or a sibling sharing the
    // cache) resolve without re-iterating.
    sharedCache.foreach { cache =>
      cyclicAll.filterNot(memo.contains).foreach { r =>
        cache.get(cacheKey(r)).foreach(rel => memo(r) = rel)
      }
    }
    val cyclic = cyclicAll.filterNot(memo.contains)
    if (cyclic.isEmpty) return
    val ordered = cyclic.toSeq.sorted
    val semiNaive = ordered.forall { r =>
      isMonotone(rules(r).plan) && recRefCount(rules(r).plan, cyclic) <= 1
    }
    var iter = 0

    val spark = org.apache.spark.sql.SparkSession.active
    val shufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // Keep fixpoint internals' partition counts proportional to their row
    // counts: checkpointed deltas/deps are often tiny (a few k rows spread
    // over every shuffle partition), and per-round cost is dominated by
    // task scheduling, not data. ~500k rows per partition of narrow tuples.
    def compacted(df: DataFrame, rows: Long): DataFrame = {
      val p = math.max(1L, math.min(shufflePartitions.toLong, rows / 500000L + 1L))
      df.coalesce(p.toInt)
    }

    // Non-cyclic rules referenced from the clique are re-read every round —
    // materialize them once so each iteration scans a (right-sized)
    // checkpoint instead of re-deriving (e.g. re-distincting an edge list
    // out of the fact table).
    ordered.flatMap(r => reachable(r)).distinct
      .filterNot(cyclic).filter(rules.contains).foreach { dep =>
        val rel = compileRule(dep)
        val chk = rel.df.graftCheckpoint(false)
        memo(dep) = rel.copy(df = compacted(chk, chk.count()))
        if (fixpointDebug) System.err.println(
          s"[fixpoint] dep $dep materializedMs=${(System.nanoTime() - debugT0) / 1000000}")
      }

    // The loop's conf overrides are THREAD-LOCAL (a cloned SQLConf
    // installed via SQLConf.withExistingConf), never session-global:
    // Catalyst's rules all read SQLConf.get, which prefers the calling
    // thread's override, so concurrent queries on the same session (the
    // WsServer case) plan under the user's untouched settings while only
    // this fixpoint sees the tuned ones. Memoized results are consumed
    // after the loop on whatever thread asks — i.e. under user settings.
    //
    // The AQE-off setting below is meant to spare each round's shuffles
    // their own query stages, but on Spark 4.1 it does not take effect:
    // InsertAdaptiveSparkPlan reads the session's conf, not this
    // thread-local one, so rounds still plan adaptively (see
    // TunedControlScopeSpec). The codegen setting does apply.
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val wscgKey = "spark.sql.codegen.wholeStage"
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val fpConf = org.apache.spark.sql.internal.SQLConf.get.clone()
    fpConf.setConfString(aqeKey, "false")
    // Each round is a NEW small plan: whole-stage codegen would generate
    // and Janino-compile fresh classes every round, costing more driver
    // time than the interpreted path costs executor time at per-round data
    // sizes. (The memoized result is consumed downstream under the user's
    // codegen setting.)
    fpConf.setConfString(wscgKey, "false")
    // Constraint propagation walks the full lineage per analysis pass —
    // on fixpoint plans (anti-join chains over checkpoints, growing unions)
    // that driver-side walk costs more than any pruning it could buy.
    fpConf.setConfString(cpKey, "false")
    org.apache.spark.sql.internal.SQLConf.withExistingConf(fpConf) {

    // Broadcast only what actually fits: estimated bytes (rows × a
    // conservative per-column width) against
    // spark.sql.autoBroadcastJoinThreshold — a bare row-count gate would
    // happily broadcast 5M wide tuples and OOM the driver (round-2
    // advice). Oversized sides fall back to shuffled plans.
    def canBroadcast(rows: Long, cols: Int): Boolean =
      graft.kernel.RddKernel.broadcastable(spark, rows, 24L * cols + 8L)

    // Set semantics inside the loop applies to the LEAVES too — in BOTH
    // strategies: a Z-set input tuple with NEGATIVE net support (possible
    // on signed-delta sources; engine Distinct/LWW inputs never go
    // negative) would otherwise enter the round bodies at its raw weight,
    // and its negative join products cancel genuine derivations BEFORE
    // distinctify nets candidate weights — dropping tuples the support
    // set derives (MutualFixpointRepro pins the linear case, its
    // non-linear variant the naive-recompute case). So every in-loop
    // evaluation runs through a child compiler whose source serves each
    // referenced attribute as its materialized SUPPORT SET (net weight >
    // 0 → weight 1): exact for monotone bodies (multiplicities cannot
    // change a monotone body's support set), it defines the
    // negative-support case correctly for the rest (recursion closes
    // every round under distinct anyway), and — as a side effect — each
    // attribute is scanned once per FIXPOINT instead of once per round,
    // with measured counts driving broadcast hints. Unit sources are
    // already weight-1 and pass through untouched, so the engine's bulk
    // path pays nothing. Non-recursive rule references are served from
    // the parent-materialized results via the env, set-normalized under
    // the same rule.
    val scanAttrs: Set[String] = ordered.flatMap { r =>
      P.dependencies(rules(r).plan)._1
    }.toSet.filter(a => source.has(a) && !source.unit(a))
    val normScans: Map[String, (DataFrame, Long)] = scanAttrs.map { a =>
      val df = distinctify(source.collection(a)).graftCheckpoint(false)
      a -> ((df, df.count()))
    }.toMap
    val loopComp: Compiler =
      if (scanAttrs.isEmpty) this
      else {
        val outer = source
        val loopSource: AttributeSource = new AttributeSource {
          def has(name: String): Boolean = outer.has(name)
          def kind(name: String): ValueKind = outer.kind(name)
          def unit(name: String): Boolean =
            outer.unit(name) || normScans.contains(name)
          def collection(name: String): DataFrame =
            normScans.get(name).map(_._1).getOrElse(outer.collection(name))
          override def version: (Long, Long) = outer.version
          override def relation(name: String): Option[(DataFrame, Seq[ValueKind])] =
            outer.relation(name)
          override def small(name: String): Boolean =
            normScans.get(name).map { case (_, n) => canBroadcast(n, 2) }
              .getOrElse(outer.small(name))
          override def fused(names: Seq[String]): Option[DataFrame] =
            outer.fused(names)
        }
        // No shared cache: nothing may memoize set-normalized results
        // under the raw source's cache key.
        new Compiler(loopSource, rules, maxIterations, aggregateSetSemantics)
      }
    val depEnv: Map[String, Option[Rel]] =
      ordered.flatMap(r => reachable(r)).distinct
        .filterNot(cyclic).filter(rules.contains).map { dep =>
          val rel = memo(dep)
          val ndf =
            if (rel.distinct || rel.unit) rel.df
            else distinctify(rel.df).graftCheckpoint(false)
          dep -> (Some(rel.copy(df = ndf, distinct = true)): Option[Rel])
        }.toMap

    if (semiNaive) {
      // Per-round bodies are the DERIVATIVE of the rule: union branches
      // without the recursive reference are constants whose delta is empty,
      // so only the recursive branch is re-evaluated after round 0.
      val derived: Map[String, Plan] =
        ordered.map(r => r -> derivative(rules(r).plan, cyclic)).toMap
      // Round 0: deltas = full bodies evaluated with empty recursion vars.
      // LAZY local checkpoint + count(): one Spark job both materializes
      // the checkpoint and yields the row count (the eager-checkpoint-
      // then-count variant ran two jobs per rule per round).
      var delta: Map[String, Option[Rel]] = ordered.map { r =>
        r -> loopComp.compile(rules(r).plan,
            ordered.map(_ -> (None: Option[Rel])).toMap ++ depEnv)
          .map(rel => rel.copy(df =
            (if (rel.distinct) rel.df else distinctify(rel.df)).graftCheckpoint(false)))
      }.toMap
      var totalCount: Map[String, Long] =
        ordered.map(r => r -> delta(r).map(_.df.count()).getOrElse(0L)).toMap
      var changed = totalCount.valuesIterator.exists(_ > 0)
      if (fixpointDebug) System.err.println(
        s"[fixpoint] round0 doneMs=${(System.nanoTime() - debugT0) / 1000000}")
      // Round-0 rels keep each rule's vars/kinds for the final result.
      val template: Map[String, Option[Rel]] = delta

      // Delta-minimization (candidate MINUS accumulated total) runs as an
      // anti-join CHAIN against the per-round checkpointed deltas, all
      // hash-partitioned on the tuple columns with the same partition
      // count: localCheckpoint preserves partitioning and ordering, so
      // after the candidate's own distinct shuffle every link in the chain
      // is exchange-free. Unlike a driver broadcast of the total (OOM at
      // scale) or a per-round exceptAll (re-shuffles the whole total every
      // round), per-round shuffled bytes stay O(candidate) — the totals
      // never move again once checkpointed.
      // Totals typically grow several-fold past round 0; ~500k narrow rows
      // per partition (task overhead dominates below that, locally and on a
      // cluster).
      val pLoop = math.max(1L, math.min(shufflePartitions.toLong,
        totalCount.values.max * 8L / 60000L + 1L)).toInt
      fpConf.setConfString(spKey, pLoop.toString)
      def repart(df: DataFrame): DataFrame = {
        val dataCols = df.columns.filter(_ != W).toSeq
        df.repartition(pLoop, dataCols.map(col): _*)
      }

      // Single-rule linear recursion whose derivative is `static ⋈ Δrec`
      // with a broadcastable static side (transitive closure, reachability,
      // label propagation — the dominant recursive workloads) runs on the
      // iterative RDD kernel instead: identical shuffle structure, zero
      // per-round Catalyst planning. Falls through to the general
      // DataFrame loop whenever the shape or size gates fail.
      if (ordered.lengthCompare(1) == 0 && changed) {
        val r = ordered.head
        loopComp.kernelLinear(spark, r, derived(r), depEnv,
          template(r).get, delta(r).get,
          totalCount(r), pLoop, shufflePartitions, canBroadcast, debugT0) match {
          case Some(rel) =>
            memo(r) = rel
            sharedCache.foreach(_.update(cacheKey(r), rel))
            return
          case None => ()
        }
      }
      // Accumulated total per rule = vector of checkpointed delta frames
      // (co-partitioned); compacted into one frame when the chain grows.
      var totalParts: Map[String, Vector[DataFrame]] = ordered.map { r =>
        r -> delta(r).map(rel =>
          Vector(repart(rel.df).graftCheckpoint(false))).getOrElse(Vector.empty)
      }.toMap
      val maxChain = 16
      delta = ordered.map { r =>
        r -> delta(r).map(rel =>
          rel.copy(df = compacted(rel.df, totalCount(r)),
            small = canBroadcast(totalCount(r), rel.vars.length)))
      }.toMap
      while (changed && iter < maxIterations) {
        iter += 1
        val stepped = ordered.map { r =>
          val tPlan0 = if (fixpointDebug) System.nanoTime() else 0L
          val cand = loopComp.compile(derived(r), delta ++ depEnv)
          val fresh: Option[Rel] = (cand, totalParts(r)) match {
            case (None, _) => None
            case (Some(c), parts) =>
              val dataCols = c.df.columns.filter(_ != W).toSeq
              // Union-rooted bodies are already set-distinct — a second
              // distinct here would cost a duplicate shuffle per round.
              val cd = if (c.distinct) c.df else distinctify(c.df)
              val minus = parts.foldLeft(cd.drop(W))(
                (acc, d) => acc.join(d.drop(W), dataCols, "left_anti"))
              Some(c.copy(df = minus.withColumn(W, lit(1L))))
          }
          val freshChk = fresh.map(rel => rel.copy(df = rel.df.graftCheckpoint(false)))
          val tCount0 = if (fixpointDebug) System.nanoTime() else 0L
          val n = freshChk.map(_.df.count()).getOrElse(0L)
          if (fixpointDebug) System.err.println(
            s"[fixpoint]   $r planMs=${(tCount0 - tPlan0) / 1000000} " +
              s"countActionMs=${(System.nanoTime() - tCount0) / 1000000}")
          // Checkpointed RDDs carry no size stats; mark small deltas so the
          // next round's body joins broadcast them AT THE JOIN SITE (a
          // df-level hint here would ride into downstream unions and spam
          // HintErrorLogger warnings). The chain part keeps the RAW
          // checkpoint — coalescing would discard its partitioning and
          // reintroduce an exchange per link.
          val flagged = freshChk.map(rel =>
            rel.copy(df = compacted(rel.df, n),
              small = canBroadcast(n, rel.vars.length)))
          r -> ((if (n > 0) flagged else None, n, if (n > 0) freshChk else None))
        }.toMap
        changed = stepped.values.exists(_._1.isDefined)
        totalParts = ordered.map { r =>
          r -> (stepped(r)._3 match {
            case None    => totalParts(r)
            case Some(d) =>
              val grown = totalParts(r) :+ d.df
              if (grown.length <= maxChain) grown
              // One shuffle of the total every maxChain rounds keeps both
              // the chain length and the plan-analysis cost bounded in
              // deep fixpoints.
              else Vector(repart(grown.reduce(_ unionAll _)).graftCheckpoint(false))
          })
        }.toMap
        totalCount = ordered.map(r => r -> (totalCount(r) + stepped(r)._2)).toMap
        delta = stepped.view.mapValues(_._1).toMap
        if (fixpointDebug) System.err.println(
          s"[fixpoint] iter=$iter deltas=${stepped.view.mapValues(_._2).toMap} " +
            s"totals=$totalCount elapsedMs=${(System.nanoTime() - debugT0) / 1000000}")
      }
      ordered.foreach { r =>
        val parts = totalParts(r)
        val templ = template(r)
          .getOrElse(sys.error(s"recursive rule $r has no base case"))
        val rel = templ.copy(df = parts.reduce(_ unionAll _), small = false)
        memo(r) = rel
        sharedCache.foreach(_.update(cacheKey(r), rel))
      }
    } else {
      var env: Map[String, Option[Rel]] = ordered.map(_ -> (None: Option[Rel])).toMap
      var sigs: Map[String, (Long, Long)] = ordered.map(_ -> (-1L, -1L)).toMap
      var stable = false
      while (!stable && iter < maxIterations) {
        iter += 1
        val newEnv = ordered.map { r =>
          // Same leaf support-set compiler + set-normalized deps as the
          // semi-naive branch: raw signed leaf weights must not cancel
          // derivations here either (non-linear monotone cliques land in
          // this branch — the non-linear MutualFixpointRepro variant).
          r -> loopComp.compile(rules(r).plan, env ++ depEnv).map { rel =>
            // Lazy checkpoint: the signature aggregation below is the
            // materializing action (one job per rule-round, not two).
            rel.copy(df =
              (if (rel.distinct) rel.df else distinctify(rel.df))
                .graftCheckpoint(false))
          }
        }.toMap
        val newSigs = ordered.map { r =>
          r -> newEnv(r).map(rel => contentSignature(rel.df)).getOrElse((0L, 0L))
        }.toMap
        stable = newSigs == sigs
        env = newEnv
        sigs = newSigs
      }
      ordered.foreach { r =>
        val rel = env(r).getOrElse(sys.error(s"recursive rule $r has no base case"))
        memo(r) = rel
        sharedCache.foreach(_.update(cacheKey(r), rel))
      }
    }
    }
  }

  /** Iterative RDD kernel for single-rule linear recursion.
    *
    * Applies when the rule's derivative is (modulo projections)
    * `Join(target, static, NameExpr(rec))` with the recursive reference a
    * BARE NameExpr and the static side free of recursion. Replaces the
    * per-round DataFrame pipeline (compile → distinct → anti-join chain →
    * checkpoint → count: one SQL job plus 200-450 ms of driver-side plan
    * construction/analysis per round) with the classic iterative-graph
    * kernel (what GraphX exists for): the static side is collected and
    * broadcast once (size-gated), candidates are generated map-side, and
    * dedup + subtract-from-total run as co-partitioned `zipPartitions`
    * (narrow) over hash-partitioned deltas — one cheap RDD job per round.
    * Shuffle structure is identical to the DataFrame loop (O(candidate)
    * bytes per round, totals never move once written), so the scale story
    * is unchanged; only constant per-round overhead drops.
    *
    * Filter layers between the union branch and the join (bounded
    * reachability, guarded propagation) compile to JVM predicates applied
    * during candidate generation — ordering predicates gated to
    * long-backed kinds so JVM comparison matches Catalyst's exactly.
    *
    * Falls back (returns None) on: multi-rule cliques (caller guards),
    * non-Join shapes, wrapped recursive references, duplicate variables,
    * non-scalar column kinds (rational/variant), ordering filters over
    * non-long kinds, or a static side too big to broadcast.
    */
  private def kernelLinear(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      derived: Plan,
      env: Map[String, Option[Rel]],
      template: Rel,
      delta0: Rel,
      rows0: Long,
      pLoop: Int,
      userPartitions: Int,
      canBroadcast: (Long, Int) => Boolean,
      debugT0: Long): Option[Rel] = {
    val maxChain = 16
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.Row
    import scala.collection.immutable.ArraySeq

    // ---- shape detection -------------------------------------------------
    // Unwrap Project/Filter layers down to the Join; filters apply to the
    // candidate BEFORE the final projection (by variable id, so layer
    // order is immaterial for Project-only reshuffles).
    def inner(p: Plan, fs: List[P.Filter]): Option[(P.Join, List[P.Filter])] =
      p match {
        case j: P.Join            => Some((j, fs))
        case P.Project(_, x)      => inner(x, fs)
        case f @ P.Filter(_, _, x, _) => inner(x, f :: fs)
        case _                    => None
      }
    val (finalVars, j, filters) = derived match {
      case P.Union(vs, Seq(b)) => inner(b, Nil) match {
        case Some((jj, fs)) => (vs, jj, fs)
        case None           => return None
      }
      case P.Project(vs, x) => inner(x, Nil) match {
        case Some((jj, fs)) => (vs, jj, fs)
        case None           => return None
      }
      case _ => return None
    }
    val rec = Set(name)
    val (recVars, staticPlan) = (j.leftPlan, j.rightPlan) match {
      case (P.NameExpr(nvs, n), s) if n == name && recRefCount(s, rec) == 0 => (nvs, s)
      case (s, P.NameExpr(nvs, n)) if n == name && recRefCount(s, rec) == 0 => (nvs, s)
      case _ => return None
    }
    val target = j.variables
    // KReal excluded everywhere: JVM Double equality/hashing disagrees with
    // Catalyst's NormalizeFloatingNumbers on -0.0/NaN, so kernel join keys
    // and tuple dedup could diverge from the DataFrame loop.
    def kernelKind(k: ValueKind): Boolean =
      k != ValueKind.KRational && k != ValueKind.KVariant && k != ValueKind.KReal
    if (!template.kinds.forall(kernelKind) || recVars.distinct != recVars)
      return None
    if (!target.forall(recVars.contains)) return None

    // ---- static side: compile once, size-gate, collect + broadcast -------
    val sRel = compile(staticPlan, env).getOrElse(return None)
    val sVars = sRel.vars
    if (!sRel.kinds.forall(kernelKind)) return None
    if (sVars.distinct != sVars || !target.forall(sVars.contains)) return None
    val recipe: Array[(Boolean, Int)] = finalVars.map { v =>
      val ri = recVars.indexOf(v)
      if (ri >= 0) (true, ri)
      else {
        val si = sVars.indexOf(v)
        if (si < 0) return None
        (false, si)
      }
    }.toArray
    val maxStaticRows = {
      // invert the canBroadcast estimate to a row cap for this arity
      var lo = 0L; var hi = 1L << 32
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (canBroadcast(mid, sVars.length)) lo = mid else hi = mid - 1
      }
      lo
    }
    if (maxStaticRows <= 0) return None
    val sDf = (if (sRel.distinct) sRel.df else distinctify(sRel.df)).drop(W)
    val keyIdxS: Array[Int] = target.map(sVars.indexOf).toArray
    val keyIdxR: Array[Int] = target.map(recVars.indexOf).toArray
    type Tup0 = ArraySeq[Any]
    def asLongK(x: Any): Long = x match {
      case l: Long => l
      case i: Int  => i.toLong
      case other   => sys.error(s"kernel filter expected a long, got $other")
    }

    // ---- filters: compile to JVM predicates over (rec tuple, static row).
    // Operand lookup is by variable id (rec side preferred — target vars
    // carry equal values on both). Ordering predicates are gated to
    // long-backed kinds so JVM comparison matches Catalyst's exactly;
    // EQ/NEQ allow any scalar (universal equals == Catalyst equality for
    // scalars). Anything else bails to the DataFrame loop.
    type Operand = (Boolean, Int) // (fromRec, idx)
    def operandOf(v: Int): Option[Operand] = {
      val ri = recVars.indexOf(v)
      if (ri >= 0) Some((true, ri))
      else {
        val si = sVars.indexOf(v)
        if (si < 0) None else Some((false, si))
      }
    }
    def kindOfOperand(o: Operand): ValueKind =
      if (o._1) template.kinds(o._2) else sRel.kinds(o._2)
    def longKind(k: ValueKind): Boolean =
      k == ValueKind.KNumber || k == ValueKind.KEid || k == ValueKind.KInstant
    val filterFns: Array[(Tup0, Array[Any]) => Boolean] = filters.map { f =>
      val ordering = f.predicate match {
        case Predicate.EQ | Predicate.NEQ => false
        case _                            => true
      }
      def check(pred: Predicate, a: Any, b: Any): Boolean =
        // Catalyst three-valued logic: any null operand fails the filter.
        if (a == null || b == null) false
        else pred match {
          case Predicate.EQ  => a == b
          case Predicate.NEQ => a != b
          case Predicate.LT  => asLongK(a) < asLongK(b)
          case Predicate.LTE => asLongK(a) <= asLongK(b)
          case Predicate.GT  => asLongK(a) > asLongK(b)
          case Predicate.GTE => asLongK(a) >= asLongK(b)
        }
      val o0 = operandOf(f.variables(0)).getOrElse(return None)
      if (ordering && !longKind(kindOfOperand(o0))) return None
      def value(o: Operand, t: Tup0, s: Array[Any]): Any =
        if (o._1) t(o._2) else s(o._2)
      def constOk(k: Value): Boolean = !ordering ||
        k.isInstanceOf[Value.VNumber] || k.isInstanceOf[Value.VEid] ||
        k.isInstanceOf[Value.VInstant]
      (f.constants.lift(0).flatten, f.constants.lift(1).flatten) match {
        case (Some(k), _) =>
          if (!constOk(k)) return None
          val kn = k.native
          (t: Tup0, s: Array[Any]) => check(f.predicate, kn, value(o0, t, s))
        case (_, Some(k)) =>
          if (!constOk(k)) return None
          val kn = k.native
          (t: Tup0, s: Array[Any]) => check(f.predicate, value(o0, t, s), kn)
        case _ =>
          val o1 = operandOf(f.variables(1)).getOrElse(return None)
          if (ordering && !longKind(kindOfOperand(o1))) return None
          (t: Tup0, s: Array[Any]) =>
            check(f.predicate, value(o0, t, s), value(o1, t, s))
      }
    }.toArray

    // Cheap RAW-cardinality gate probe: the limit pushes into the scan
    // (no distinct aggregate runs just to decide). raw ≤ cap ⇒ distinct
    // ≤ cap, so the broadcast path is safe; raw > cap routes to the
    // arrangement without a full distinct pass — at most conservative
    // for duplicate-heavy statics whose distinct form would have fit.
    val rawCap = math.min(maxStaticRows + 1, Int.MaxValue.toLong).toInt
    val rawOverCap = sRel.df.limit(rawCap).count() > maxStaticRows
    if (fixpointDebug) System.err.println(
      s"[fixpoint] kernel gate rawOverCap=$rawOverCap cap=$maxStaticRows " +
        s"distinct=${sRel.distinct} " +
        s"elapsedMs=${(System.nanoTime() - debugT0) / 1000000}")
    if (rawOverCap) {
      // ---- partitioned static arrangement (static past the broadcast
      // gate) — the batch sibling of the maintained kernel's
      // arrangement (IncrementalQuery.kernelArrangement): instead of
      // falling back to per-round Catalyst semi-naive plans, the static
      // join index is built ONCE as one hash map per partition (keyed
      // by the join columns under the loop's HashPartitioner) and
      // reused by EVERY round; a round re-keys its delta by the join
      // key (one O(frontier) shuffle — the documented cost of losing
      // map-side k-hop batching) and probes partition-locally. Same
      // filters, same recipe, same dedup/subtract loop as the broadcast
      // path, so the two cannot diverge semantically.
      // Duplicates in the static index are harmless — every round's
      // candidates are deduped and subtracted — and positive-weight plans
      // skip the distinct pass entirely; anything that can emit negative
      // or net-cancelling weights keeps the set consolidation. NOT
      // isMonotone: that predicate treats NameExpr as an opaque constant
      // (correct for the semi-naive distribution property), but here a
      // rule reference whose BODY negates would surface retracted rows
      // into the index, so the check must recurse through rule plans.
      val sStatic =
        if (sRel.distinct || positiveWeights(staticPlan)) sRel.df.drop(W)
        else sDf
      val sc = spark.sparkContext
      val pArr = math.max(pLoop, math.min(userPartitions, 16))
      val partA = new HashPartitioner(pArr)
      val nColsA = template.vars.length
      val keyIdxSL = keyIdxS
      val keyIdxRL = keyIdxR
      val recipeL = recipe
      val filterFnsL = filterFns
      // BOTH shuffles of the arrangement scheme run through Tungsten
      // (`repartition(n, keyCols)` — the same deterministic
      // HashPartitioning expression on the join-key columns on both
      // sides, so zipPartitions alignment holds by construction) instead
      // of an RDD partitionBy of boxed tuples: the static build is one
      // columnar shuffle + a partition-local boxed index build, and each
      // round's delta re-key is one frontier-sized columnar shuffle.
      val sCols = sStatic.columns
      val sKeyCols = keyIdxS.toIndexedSeq.map(i => col(sCols(i)))
      val dSchemaP = org.apache.spark.sql.types.StructType(
        template.df.schema.fields.take(nColsA))
      val dKeyColsP = keyIdxR.toIndexedSeq.map(i => col(dSchemaP.fields(i).name))

      // ---- primitive packed arrangement (the dominant ALL-LONG case:
      // closure/reachability relations) — the static index per partition
      // is ONE lex-sorted primitive long array (key columns first), built
      // straight off the Tungsten shuffle's InternalRows with zero boxing
      // (~10× the boxed HashMap build); probes are a binary search + a
      // contiguous prefix scan. The null audit is FUSED into the build
      // pass (a separate audit scan would re-pay the whole upstream
      // distinct); any null bails to the boxed sibling, and a null-able
      // round-0 delta is audited with one delta-sized scan like the
      // binary fast path's.
      val primOk = (template.kinds ++ sRel.kinds).forall(longKind) &&
        (delta0.df.schema.fields.take(nColsA).forall(!_.nullable) ||
          delta0.df.where(delta0.df.columns.take(nColsA).toIndexedSeq
            .map(col(_).isNull).reduce(_ || _)).isEmpty)
      val primArr: Option[RDD[Array[Long]]] = if (!primOk) None else {
        val sw = sVars.length
        val restIdx = (0 until sw).filterNot(keyIdxS.contains).toArray
        val colOrder: Array[Int] = keyIdxS ++ restIdx // packed pos -> orig col
        val built: RDD[(Array[Long], Boolean)] =
          sStatic.repartition(pArr, sKeyCols: _*)
            .queryExecution.toRdd.mapPartitions({ it =>
              val buf = scala.collection.mutable.ArrayBuilder.make[Long]
              var sawNull = false
              it.foreach { r =>
                var i = 0
                while (i < sw) {
                  if (r.isNullAt(colOrder(i))) sawNull = true
                  buf += r.getLong(colOrder(i)); i += 1
                }
              }
              Iterator.single((
                graft.streaming.PackedRuns.sortRecords(buf.result(), sw),
                sawNull))
            }, preservesPartitioning = false)
            .persist(StorageLevel.MEMORY_AND_DISK)
        val (staticRows, anyNull) = built
          .map(p => (p._1.length.toLong / sw, p._2))
          .fold((0L, false))((a, b) => (a._1 + b._1, a._2 || b._2))
        if (fixpointDebug) System.err.println(
          s"[fixpoint] kernel static PACKED ARRANGEMENT rows=$staticRows " +
            s"nulls=$anyNull partitions=$pArr filters=${filterFns.length} " +
            s"elapsedMs=${(System.nanoTime() - debugT0) / 1000000}")
        if (anyNull) { built.unpersist(blocking = false); None }
        else {
          val arrP = built.map(_._1).persist(StorageLevel.MEMORY_AND_DISK)
          // Materialize off the cached build, then drop the build copy —
          // leaving it persisted would keep the packed static resident
          // TWICE for the whole loop (and leak it past this compile).
          arrP.count()
          built.unpersist(blocking = false)
          Some(arrP)
        }
      }
      primArr.foreach { arrP =>
        val sw = sVars.length
        val kw = keyIdxS.length
        val restIdx = (0 until sw).filterNot(keyIdxS.contains).toArray
        val colOrder: Array[Int] = keyIdxS ++ restIdx
        val posOf: Array[Int] = {
          val pp = new Array[Int](sw)
          var i = 0
          while (i < sw) { pp(colOrder(i)) = i; i += 1 }
          pp
        }
        val d0p: RDD[(Tup0, Null)] = delta0.df.rdd.map { r =>
          val a = new Array[Any](nColsA); var i = 0
          while (i < nColsA) { a(i) = r.get(i); i += 1 }
          (ArraySeq.unsafeWrapArray(a): Tup0, null)
        }.partitionBy(partA).persist(StorageLevel.MEMORY_AND_DISK)
        d0p.count()
        val keyIdxRL2 = keyIdxR
        val recipeL2 = recipe
        val filterFnsL2 = filterFns
        val expandP: RDD[(Tup0, Null)] => RDD[(Tup0, Null)] = { delta =>
          val deltaDf = spark.createDataFrame(
            delta.map { case (t, _) => Row.fromSeq(t) }, dSchemaP)
          val keyed = deltaDf.repartition(pArr, dKeyColsP: _*)
            .queryExecution.toRdd
          arrP.zipPartitions(keyed, preservesPartitioning = false) { (aIt, dIt) =>
            val tArr = aIt.next()
            val nRec = tArr.length / sw
            val key = new Array[Long](kw)
            dIt.flatMap { r =>
              val t = new Array[Any](nColsA); var i = 0
              while (i < nColsA) { t(i) = r.getLong(i); i += 1 }
              val tSeq: Tup0 = ArraySeq.unsafeWrapArray(t)
              var j = 0
              while (j < kw) { key(j) = r.getLong(keyIdxRL2(j)); j += 1 }
              var lb = 0; var ub = nRec
              while (lb < ub) {
                val mid = (lb + ub) >>> 1
                val o = mid * sw
                var c = 0; var k = 0
                while (c == 0 && k < kw) {
                  c = java.lang.Long.compare(tArr(o + k), key(k)); k += 1
                }
                if (c < 0) lb = mid + 1 else ub = mid
              }
              val startKey = key.clone() // detach from the shared scratch
              new scala.collection.AbstractIterator[(Tup0, Null)] {
                private var off = lb * sw
                private var ready: (Tup0, Null) = _
                private def prefixOk(o: Int): Boolean = {
                  var k = 0
                  while (k < kw) {
                    if (tArr(o + k) != startKey(k)) return false
                    k += 1
                  }
                  true
                }
                private def step(): Unit = {
                  ready = null
                  while (ready == null && off < tArr.length && prefixOk(off)) {
                    val pass = filterFnsL2.isEmpty || {
                      val sBox = new Array[Any](sw); var i2 = 0
                      while (i2 < sw) {
                        sBox(colOrder(i2)) = tArr(off + i2); i2 += 1
                      }
                      var ok = true; var fi = 0
                      while (ok && fi < filterFnsL2.length) {
                        ok = filterFnsL2(fi)(tSeq, sBox); fi += 1
                      }
                      ok
                    }
                    if (pass) {
                      val out = new Array[Any](recipeL2.length); var oi = 0
                      while (oi < recipeL2.length) {
                        val (fromRec, idx) = recipeL2(oi)
                        out(oi) =
                          if (fromRec) tSeq(idx)
                          else (tArr(off + posOf(idx)): Any)
                        oi += 1
                      }
                      ready = ((ArraySeq.unsafeWrapArray(out): Tup0), null)
                    }
                    off += sw
                  }
                }
                step()
                def hasNext: Boolean = ready != null
                def next(): (Tup0, Null) = { val o = ready; step(); o }
              }
            }
          }
        }
        val (parts, total) = kernelIterateRdd(d0p, rows0, partA, expandP, debugT0)
        arrP.unpersist(blocking = false)
        return Some(toTemplateDf(template,
          sc.union(parts.map(_.map(p => Row.fromSeq(p._1 :+ 1L)))), total, pLoop))
      }

      val arr: RDD[java.util.HashMap[Seq[Any], Array[Array[Any]]]] =
        sStatic.repartition(pArr, sKeyCols: _*).rdd.mapPartitions({ it =>
          val m = new java.util.HashMap[Seq[Any], Array[Array[Any]]]()
          val tmp = new java.util.HashMap[Seq[Any],
            scala.collection.mutable.ArrayBuffer[Array[Any]]]()
          it.foreach { r =>
            val a = new Array[Any](r.length); var i = 0
            while (i < r.length) { a(i) = r.get(i); i += 1 }
            val k: Seq[Any] = ArraySeq.unsafeWrapArray(keyIdxSL.map(a(_)))
            tmp.computeIfAbsent(k,
              _ => scala.collection.mutable.ArrayBuffer.empty) += a
          }
          tmp.forEach((k, vs) => m.put(k, vs.toArray))
          Iterator.single(m)
        }, preservesPartitioning = false)
          .persist(StorageLevel.MEMORY_AND_DISK)
      val staticKeys = arr.map(_.size.toLong).fold(0L)(_ + _)
      if (fixpointDebug) System.err.println(
        s"[fixpoint] kernel static ARRANGEMENT keys=$staticKeys " +
          s"partitions=$pArr filters=${filterFns.length} " +
          s"elapsedMs=${(System.nanoTime() - debugT0) / 1000000}")
      val dSchema = org.apache.spark.sql.types.StructType(
        template.df.schema.fields.take(nColsA))
      val dKeyCols = keyIdxR.toIndexedSeq.map(i => col(dSchema.fields(i).name))
      val d0a: RDD[(Tup0, Null)] = delta0.df.rdd.map { r =>
        val a = new Array[Any](nColsA); var i = 0
        while (i < nColsA) { a(i) = r.get(i); i += 1 }
        (ArraySeq.unsafeWrapArray(a): Tup0, null)
      }.partitionBy(partA).persist(StorageLevel.MEMORY_AND_DISK)
      d0a.count()
      val expand: RDD[(Tup0, Null)] => RDD[(Tup0, Null)] = { delta =>
        val deltaDf = spark.createDataFrame(
          delta.map { case (t, _) => Row.fromSeq(t) }, dSchema)
        val keyed = deltaDf.repartition(pArr, dKeyCols: _*).rdd
        arr.zipPartitions(keyed, preservesPartitioning = false) { (mIt, dIt) =>
          val m = mIt.next()
          dIt.flatMap { r =>
            val t0arr = new Array[Any](nColsA); var i = 0
            while (i < nColsA) { t0arr(i) = r.get(i); i += 1 }
            val t: Tup0 = ArraySeq.unsafeWrapArray(t0arr)
            val rows = m.get(
              ArraySeq.unsafeWrapArray(keyIdxRL.map(t0arr(_))): Seq[Any])
            if (rows == null) Iterator.empty
            else rows.iterator
              .filter { v =>
                var ok = true; var fi = 0
                while (ok && fi < filterFnsL.length) {
                  ok = filterFnsL(fi)(t, v); fi += 1
                }
                ok
              }
              .map { v =>
                val out = new Array[Any](recipeL.length); var oi = 0
                while (oi < recipeL.length) {
                  val (fromRec, idx) = recipeL(oi)
                  out(oi) = if (fromRec) t(idx) else v(idx)
                  oi += 1
                }
                (ArraySeq.unsafeWrapArray(out): Tup0, null)
              }
          }
        }
      }
      val (parts, total) = kernelIterateRdd(d0a, rows0, partA, expand, debugT0)
      // Every chain member is localCheckpoint-materialized by the loop,
      // so dropping the arrangement cannot strand a recomputation.
      arr.unpersist(blocking = false)
      return Some(toTemplateDf(template,
        sc.union(parts.map(_.map(p => Row.fromSeq(p._1 :+ 1L)))), total, pLoop))
    }
    val sArr = sDf.limit(rawCap).collect()
    // raw ≤ cap ⇒ distinct ≤ cap; guards a source that grew between scans.
    if (sArr.length > maxStaticRows) return None
    // Lazy: only the generic boxed path reads this index; the binary-long
    // fast path below builds its own primitive map from sArr directly.
    lazy val sMap: Map[Seq[Any], Array[Array[Any]]] = {
      val full = sArr.map { row =>
        val a = new Array[Any](row.length); var i = 0
        while (i < row.length) { a(i) = row.get(i); i += 1 }
        a
      }
      full.groupBy(a => ArraySeq.unsafeWrapArray(keyIdxS.map(a(_))): Seq[Any])
    }

    if (fixpointDebug) System.err.println(
      s"[fixpoint] kernel static=${sArr.length} rows filters=${filterFns.length} " +
        s"elapsedMs=${(System.nanoTime() - debugT0) / 1000000}")

    // ---- iterate ---------------------------------------------------------
    type Tup = ArraySeq[Any]
    val sc = spark.sparkContext
    // Totals typically grow well past round 0 (closure depth × branching),
    // and the per-round subtract hashes the whole accumulated total — keep
    // a floor of parallelism so that work spreads across cores even when
    // round 0 alone would fit one partition. Eight near-empty tasks cost
    // ~ms; a single-threaded 200k-row hash chain costs hundreds.
    val pKernel =
      if (rows0 > 2000) math.max(pLoop, math.min(userPartitions, 16))
      else pLoop
    val part = new HashPartitioner(pKernel)
    val nCols = template.vars.length

    // ---- binary-long fast path ------------------------------------------
    // The dominant recursion shape (transitive closure / reachability:
    // binary long-keyed relations joined on one variable, no filters) runs
    // the whole iteration over primitive (Long, Long) tuples — Tuple2 is
    // @specialized on Long, so candidates, dedup sets, and shuffle keys
    // carry ZERO boxed allocations, where the generic path boxes every
    // field into an ArraySeq[Any] (at 100 TB the boxing, not the logic, is
    // the memory-bandwidth bill). Nulls anywhere bail to the generic path
    // for exact Catalyst parity.
    if (nCols == 2 && recVars.length == 2 && sVars.length == 2 &&
        target.length == 1 && filterFns.isEmpty &&
        (template.kinds ++ sRel.kinds).forall(longKind) &&
        !sArr.exists(r => r.isNullAt(0) || r.isNullAt(1)) &&
        (delta0.df.schema.fields.take(2).forall(!_.nullable) ||
          delta0.df.where(delta0.df.columns.take(2).map(col(_).isNull)
            .reduce(_ || _)).isEmpty)) {
      val jR = keyIdxR(0)
      val jS = keyIdxS(0)
      val sOther = 1 - jS
      // Output position codes: 0 -> rec._1, 1 -> rec._2, 2 -> static
      // other. A static-side entry can only be the NON-key column: the
      // join var is in target ⊆ recVars, so recipe always maps it to the
      // rec side first.
      val codes: Array[Int] = recipe.map {
        case (true, idx) => idx
        case (false, idx) =>
          require(idx != jS, "static join-key position must map to the rec side")
          2
      }
      val (code0, code1) = (codes(0), codes(1))
      val pairMap = new java.util.HashMap[Long, Array[Long]]()
      sArr.iterator.map(r => (r.getLong(jS), r.getLong(sOther)))
        .toArray.groupBy(_._1)
        .foreach { case (k, vs) => pairMap.put(k, vs.map(_._2)) }
      val bcPairs = sc.broadcast(pairMap)
      val d0p: RDD[((Long, Long), Null)] = delta0.df.rdd
        .map(r => ((r.getLong(0), r.getLong(1)), null))
        .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
      d0p.count()
      val jRL = jR
      val mkExpand: () => ((Long, Long)) => Iterator[(Long, Long)] = () => {
        val m = bcPairs.value
        (t: (Long, Long)) => {
          val key = if (jRL == 0) t._1 else t._2
          val arr = m.get(key)
          if (arr == null) Iterator.empty
          else arr.iterator.map { o =>
            @inline def v(c: Int): Long =
              if (c == 0) t._1 else if (c == 1) t._2 else o
            (v(code0), v(code1))
          }
        }
      }
      val (parts, total) = kernelIterate(d0p, rows0, part, mkExpand, debugT0)
      return Some(toTemplateDf(template,
        sc.union(parts.map(_.map(p => Row(p._1._1, p._1._2, 1L)))), total, pLoop))
    }

    val bcMap = sc.broadcast(sMap)
    val d0: RDD[(Tup, Null)] = delta0.df.rdd.map { r =>
      val a = new Array[Any](nCols); var i = 0
      while (i < nCols) { a(i) = r.get(i); i += 1 }
      (ArraySeq.unsafeWrapArray(a): Tup, null)
    }.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    d0.count()
    val recipeL = recipe // local vals only in closures (no `this` capture)
    val keyIdxRL = keyIdxR
    val filterFnsL = filterFns

    // K-hop round batching: the static side is a broadcast map, so a
    // candidate can expand through it again WITHOUT a shuffle — each
    // kernel job expands the delta up to k hops map-side (local
    // per-partition dedup) before the one global dedup/subtract. On deep
    // thin recursions (path-shaped graphs: tiny deltas, many rounds) jobs
    // drop from O(depth) to O(depth/k). On shallow dense graphs in-batch
    // hops lack the GLOBAL dedup that keeps semi-naive candidate volume
    // linear, so a per-partition work budget truncates hopping — mid-hop
    // truncation is safe because every emitted fresh tuple lands in the
    // next delta and is expanded then; in-batch expansion is only a
    // prepayment. Fresh tuples found at hops < k get re-expanded once
    // more next round (subtracted away), a bounded ~2× on candidate
    // volume in exchange for k× fewer jobs where depth dominates.
    val mkExpand: () => Tup => Iterator[Tup] = () => {
      val m = bcMap.value
      (t: Tup) => {
        val key: Seq[Any] = ArraySeq.unsafeWrapArray(keyIdxRL.map(t(_)))
        m.get(key) match {
          case None => Iterator.empty
          case Some(ms) => ms.iterator
            .filter(s => filterFnsL.forall(f => f(t, s)))
            .map { s =>
              val out = new Array[Any](recipeL.length); var i = 0
              while (i < recipeL.length) {
                val (fromRec, idx) = recipeL(i)
                out(i) = if (fromRec) t(idx) else s(idx)
                i += 1
              }
              ArraySeq.unsafeWrapArray(out): Tup
            }
        }
      }
    }
    val (parts, total) = kernelIterate(d0, rows0, part, mkExpand, debugT0)
    Some(toTemplateDf(template,
      sc.union(parts.map(_.map(p => Row.fromSeq(p._1 :+ 1L)))), total, pLoop))
  }

  /** Kernel output -> weighted DataFrame in the template's schema (shared
    * by the primitive and boxed paths so they cannot diverge). */
  private def toTemplateDf(template: Rel,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
      total: Long, pLoop: Int): Rel = {
    val pOut = math.max(1L, math.min(pLoop.toLong, total / 500000L + 1L)).toInt
    val df = template.df.sparkSession
      .createDataFrame(rows, template.df.schema).coalesce(pOut)
    template.copy(df = df, small = false)
  }

  /** The shared semi-naive iteration, generic over the tuple key K (the
    * boxed ArraySeq path and the primitive pair fast path run the SAME
    * loop): expand the delta k-hop-batched, dedup/subtract via RddKernel,
    * chain + compact, until no fresh tuples. `mkExpand` is invoked once
    * per partition (it typically dereferences a broadcast); closures
    * capture only params/locals, never `this`.
    *
    * K-hop round batching: the static side is a broadcast map, so a
    * candidate can expand through it again WITHOUT a shuffle — each
    * kernel job expands the delta up to k hops map-side before the one
    * global dedup/subtract. On deep thin recursions jobs drop from
    * O(depth) to O(depth/k). Hop 1 is the rule's semantics and always
    * runs in full — STREAMED into the shuffle writer in O(1) memory; a
    * budget-capped sample of its candidates seeds hops 2..k, which are
    * pure prepayments: anything the cap or mid-hop truncation skips lands
    * in the next delta and is expanded then (a bounded ~2× on candidate
    * volume in exchange for k× fewer jobs where depth dominates). */
  private def kernelIterate[K](
      d0: org.apache.spark.rdd.RDD[(K, Null)], rows0: Long,
      part: org.apache.spark.HashPartitioner,
      mkExpand: () => K => Iterator[K],
      debugT0: Long)(implicit ct: scala.reflect.ClassTag[K])
      : (Vector[org.apache.spark.rdd.RDD[(K, Null)]], Long) = {
    val kHops = graft.kernel.RddKernel.KernelHops
    val hopBudget = 1 << 16
    val expand: org.apache.spark.rdd.RDD[(K, Null)] =>
        org.apache.spark.rdd.RDD[(K, Null)] = { delta =>
      delta.mapPartitions { it =>
        val expandOne = mkExpand()
        val seen = new java.util.LinkedHashSet[K]()
        val hop1 = it.flatMap { case (t, _) =>
          expandOne(t).map { c =>
            if (seen.size < hopBudget) seen.add(c)
            (c, null)
          }
        }
        // Iterator.++'s right side is by-name: this block runs only
        // after hop 1 is exhausted (and `seen` is fully populated).
        hop1 ++ locally {
          val extra = scala.collection.mutable.ArrayBuffer.empty[K]
          var frontier: Array[K] = {
            import scala.jdk.CollectionConverters._
            seen.iterator.asScala.toArray
          }
          var hop = 1
          while (hop < kHops && frontier.nonEmpty && seen.size < hopBudget) {
            val next = scala.collection.mutable.ArrayBuffer.empty[K]
            val cs = frontier.iterator.flatMap(expandOne(_))
            while (cs.hasNext && seen.size < hopBudget) {
              val c = cs.next()
              if (seen.add(c)) { next += c; extra += c }
            }
            frontier = next.toArray
            hop += 1
          }
          extra.iterator.map((_, null))
        }
      }
    }
    kernelIterateRdd(d0, rows0, part, expand, debugT0)
  }

  /** The shared semi-naive loop over an RDD-level expand step — the
    * broadcast kernel passes a map-side (k-hop-batched) expansion, the
    * past-the-gate arrangement kernel passes a re-key + co-partitioned
    * probe: dedup/subtract via RddKernel, chain + compact, until no
    * fresh tuples. */
  private def kernelIterateRdd[K](
      d0: org.apache.spark.rdd.RDD[(K, Null)], rows0: Long,
      part: org.apache.spark.HashPartitioner,
      expand: org.apache.spark.rdd.RDD[(K, Null)] =>
        org.apache.spark.rdd.RDD[(K, Null)],
      debugT0: Long)(implicit ct: scala.reflect.ClassTag[K])
      : (Vector[org.apache.spark.rdd.RDD[(K, Null)]], Long) = {
    import org.apache.spark.rdd.RDD
    val maxChain = 16
    // Round-loop job batching (r19, shared with the maintained
    // recursion): up to B semi-naive iterations chain LAZILY and
    // materialize through one tagged-count job — a depth-d fixpoint
    // costs ⌈d/B⌉ scheduler round-trips instead of d. Iterations are
    // consumed in order and the first empty one ends the loop
    // (expand(∅)=∅, so later speculative links are definitionally
    // empty and cost only empty partitions) — identical loop
    // semantics, batched materialization.
    val roundBatch = graft.kernel.RddKernel.RoundBatch
    var parts = Vector[RDD[(K, Null)]](d0)
    var delta: RDD[(K, Null)] = d0
    var total = rows0
    var n = rows0
    var iter = 0
    while (n > 0 && iter < maxIterations) {
      val b = math.min(roundBatch, maxIterations - iter)
      val chain = new Array[RDD[(K, Null)]](b)
      var i = 0
      var prev = delta
      while (i < b) {
        val cand: RDD[(K, Null)] = expand(prev)
        chain(i) = graft.kernel.RddKernel.freshDelta(
          cand, part, parts ++ chain.take(i))
        prev = chain(i)
        i += 1
      }
      val counts =
        graft.streaming.CommitLedger.materialize(
          delta.sparkContext, chain.toIndexedSeq)._1
      var j = 0
      var stop = false
      while (j < b && !stop) {
        iter += 1
        n = counts(j)
        if (n > 0) {
          parts = parts :+ chain(j)
          delta = chain(j)
          total += n
          if (parts.length >= maxChain)
            parts = Vector(graft.kernel.RddKernel.compact(parts))
        } else stop = true
        if (fixpointDebug) System.err.println(
          s"[fixpoint] kernel iter=$iter delta=$n total=$total " +
            s"elapsedMs=${(System.nanoTime() - debugT0) / 1000000}")
        j += 1
      }
    }
    (parts, total)
  }

  /** Order-independent content signature: (row count, sum of per-row
    * 64-bit hashes over all columns incl. weight). Equal signatures across
    * a full round ⇒ fixed point; hash-sum collision between *different*
    * consecutive states is the only failure mode (astronomically unlikely,
    * vs. certain failure for bare counts under equal-cardinality drift). */
  private def contentSignature(df: DataFrame): (Long, Long) = {
    val row = df.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(df.columns.toIndexedSeq.map(col): _*)), lit(0L)).as("h")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Monotone plans distribute over union in each input — the precondition
    * for semi-naive evaluation (and the reference's implicit assumption for
    * recursion, SURVEY.md §7.4). */
  private def isMonotone(p: Plan): Boolean = p match {
    case _: P.MatchA | _: P.MatchEA | _: P.MatchAV | _: P.NameExpr | _: P.PullAll => true
    case P.Project(_, x)              => isMonotone(x)
    case P.Join(_, l, r)              => isMonotone(l) && isMonotone(r)
    case P.Hector(_, bs)              => !bs.exists(_.isInstanceOf[Binding.Not])
    case P.Union(_, ps)               => ps.forall(isMonotone)
    case P.Filter(_, _, x, _)         => isMonotone(x)
    case P.Transform(_, _, x, _, _)   => isMonotone(x)
    case P.PullLevel(_, x, _, _, _, _) => isMonotone(x)
    case P.Pull(_, ps)                => ps.forall(isMonotone)
    case _: P.Negate | _: P.Antijoin | _: P.Aggregate => false
  }

  /** Weight-positivity of the COMPILED relation — the arrangement-build
    * precondition at the kernel gate. Unlike [[isMonotone]] (where a rule
    * reference is an opaque constant of the recursion), a NameExpr here
    * must recurse into the referenced rule's plan: a body containing
    * Negate compiles to a Rel whose rows can carry negative weights or
    * net to zero, which the broadcast path consolidates away
    * (`distinctify`) and the arrangement must too. Base-relation
    * references are unit-weighted data; cyclic rules resolve through the
    * fixpoint, whose accumulated result is W=1 rows (positive). */
  private def positiveWeights(p: Plan, seen: Set[String] = Set.empty): Boolean = p match {
    case P.NameExpr(_, n) =>
      !rules.contains(n) || seen.contains(n) ||
        positiveWeights(rules(n).plan, seen + n)
    case _: P.MatchA | _: P.MatchEA | _: P.MatchAV | _: P.PullAll => true
    case P.Project(_, x)              => positiveWeights(x, seen)
    case P.Join(_, l, r) => positiveWeights(l, seen) && positiveWeights(r, seen)
    case P.Hector(_, bs)              => !bs.exists(_.isInstanceOf[Binding.Not])
    case P.Union(_, ps)               => ps.forall(positiveWeights(_, seen))
    case P.Filter(_, _, x, _)         => positiveWeights(x, seen)
    case P.Transform(_, _, x, _, _)   => positiveWeights(x, seen)
    case P.PullLevel(_, x, _, _, _, _) => positiveWeights(x, seen)
    case P.Pull(_, ps)                => ps.forall(positiveWeights(_, seen))
    case _: P.Negate | _: P.Antijoin | _: P.Aggregate => false
  }

  /** Differentiate a linear body with respect to its (single) recursive
    * reference: drop union branches that don't contain it — they are
    * constants across rounds, already folded into the total by round 0.
    * Valid at any depth because monotone operators distribute over union in
    * each argument (the semi-naive precondition). */
  private def derivative(p: Plan, rec: Set[String]): Plan = p match {
    case u @ P.Union(vs, ps) =>
      val (recPs, _) = ps.partition(recRefCount(_, rec) > 0)
      if (recPs.isEmpty) u else P.Union(vs, recPs.map(derivative(_, rec)))
    case P.Project(vs, x)                 => P.Project(vs, derivative(x, rec))
    case j @ P.Join(vs, l, r) =>
      if (recRefCount(l, rec) > 0) P.Join(vs, derivative(l, rec), r)
      else if (recRefCount(r, rec) > 0) P.Join(vs, l, derivative(r, rec))
      else j
    case P.Filter(vs, pr, x, cs)          => P.Filter(vs, pr, derivative(x, rec), cs)
    case P.Transform(vs, rv, x, f, cs)    => P.Transform(vs, rv, derivative(x, rec), f, cs)
    case P.PullLevel(vs, x, pv, pas, pth, cm) =>
      P.PullLevel(vs, derivative(x, rec), pv, pas, pth, cm)
    case P.Pull(vs, ps)                   => P.Pull(vs, ps.map(derivative(_, rec)))
    case other                            => other
  }

  /** Number of direct references to clique rules in a plan body (clique
    * bodies can only reference clique members directly — a rule outside the
    * clique that reached back in would itself be cyclic). */
  private def recRefCount(p: Plan, rec: Set[String]): Int = p match {
    case P.NameExpr(_, n)             => if (rec(n)) 1 else 0
    case P.Project(_, x)              => recRefCount(x, rec)
    case P.Join(_, l, r)              => recRefCount(l, rec) + recRefCount(r, rec)
    case P.Antijoin(_, l, r)          => recRefCount(l, rec) + recRefCount(r, rec)
    case P.Negate(x)                  => recRefCount(x, rec)
    case P.Union(_, ps)               => ps.map(recRefCount(_, rec)).sum
    case P.Filter(_, _, x, _)         => recRefCount(x, rec)
    case P.Transform(_, _, x, _, _)   => recRefCount(x, rec)
    case P.Aggregate(_, x, _, _, _, _) => recRefCount(x, rec)
    case P.PullLevel(_, x, _, _, _, _) => recRefCount(x, rec)
    case P.Pull(_, ps)                => ps.map(recRefCount(_, rec)).sum
    case _                            => 0
  }

  /** Core lowering. `env` carries in-progress recursive rule bodies; `None`
    * marks a not-yet-populated recursion variable (empty relation), which
    * propagates bottom-up except through Union (which just drops the
    * branch). */
  def compile(plan: Plan, env: Map[String, Option[Rel]]): Option[Rel] = plan match {

    case P.MatchA(e, a, v) =>
      val base = source.collection(a)
      if (e == v) {
        Some(Rel(Seq(e), Seq(KEid),
          base.where(col("e") === col("v")).select(col("e").as(c(0)), col(W)),
          unit = source.unit(a), small = source.small(a)))
      } else {
        Some(Rel(Seq(e, v), Seq(KEid, source.kind(a)),
          base.select(col("e").as(c(0)), col("v").as(c(1)), col(W)),
          unit = source.unit(a), small = source.small(a)))
      }

    case P.MatchEA(eid, a, v) =>
      Some(Rel(Seq(v), Seq(source.kind(a)),
        source.collection(a).where(col("e") === lit(eid))
          .select(col("v").as(c(0)), col(W)),
        unit = source.unit(a)))

    case P.MatchAV(e, a, value) =>
      Some(Rel(Seq(e), Seq(KEid),
        source.collection(a).where(col("v") === Value.asLiteral(value))
          .select(col("e").as(c(0)), col(W)),
        unit = source.unit(a)))

    case P.Project(vs, p) =>
      compile(p, env).map(projectTo(_, vs))

    case P.Join(vs, l, r) =>
      for { lr <- compile(l, env); rr <- compile(r, env) } yield join(vs, lr, rr)

    case P.Antijoin(vs, l, r) =>
      for { lr <- compile(l, env); rr <- compile(r, env) } yield antijoin(vs, lr, rr)

    case P.Negate(p) =>
      compile(p, env).map(rel =>
        rel.copy(df = rel.df.withColumn(W, -col(W)), unit = false, distinct = false))

    case P.Union(vs, ps) =>
      val rels = ps.flatMap(compile(_, env))
      if (rels.isEmpty) None
      else {
        val projected = rels.map(projectTo(_, vs))
        val all = projected.map(_.df).reduce(_ unionAll _)
        // `concat.distinct()` — src/plan/union.rs:73-77 (set semantics).
        // A single already-distinct branch permuted onto the same variable
        // set needs no distinct shuffle (common in fixpoint round 0, where
        // every union branch but the base case drops out).
        val needsDistinct = !(rels.lengthCompare(1) == 0 && rels.head.distinct &&
          vs.toSet == dedupFirst(rels.head.vars).toSet)
        Some(Rel(vs, projected.head.kinds,
          if (needsDistinct) distinctify(all) else all,
          unit = true, distinct = true))
      }

    case P.Filter(fvars, pred, p, consts) =>
      compile(p, env).map { rel =>
        def cmp(a: Column, b: Column): Column = pred match {
          case Predicate.LT  => a < b
          case Predicate.GT  => a > b
          case Predicate.LTE => a <= b
          case Predicate.GTE => a >= b
          case Predicate.EQ  => a === b
          case Predicate.NEQ => a =!= b
        }
        // constants(0) = constant LEFT operand, constants(1) = constant
        // RIGHT operand — src/plan/filter.rs:111-130.
        val cond = consts.lift(0).flatten match {
          case Some(k) => cmp(Value.asLiteral(k), rel.colOf(fvars(0)))
          case None => consts.lift(1).flatten match {
            case Some(k) => cmp(rel.colOf(fvars(0)), Value.asLiteral(k))
            case None    => cmp(rel.colOf(fvars(0)), rel.colOf(fvars(1)))
          }
        }
        rel.copy(df = rel.df.where(cond))
      }

    case P.Transform(tvars, resultVar, p, fn, consts) =>
      compile(p, env).map(transform(_, tvars, resultVar, fn, consts))

    case P.Aggregate(vs, p, fns, keyVars, aggVars, withVars) =>
      compile(p, env).map(aggregate(_, vs, fns, keyVars, aggVars, withVars))

    case P.NameExpr(vs, name) =>
      val base: Option[Rel] =
        if (env.contains(name)) env(name)
        else if (rules.contains(name)) Some(memo.getOrElse(name, compileRule(name)))
        else source.relation(name) match {
          case Some((df, kinds)) =>
            val renamed = df.toDF(df.columns.indices.map(c): _*)
              .withColumn(W, lit(1L))
            Some(Rel(vs, kinds, renamed, unit = true))
          case None =>
            throw GraftError.notFound(s"$name is neither a rule nor a base relation")
        }
      base.map { rel =>
        require(rel.vars.length == vs.length,
          s"NameExpr($vs, $name): arity mismatch with ${rel.vars}")
        rel.copy(vars = vs)
      }

    case P.Hector(vs, bindings) => hector(vs, bindings, env)

    case P.PullLevel(_, p, pullVar, pullAttrs, pathAttrs, cardMany) =>
      compile(p, env).map(pullLevel(_, pullVar, pullAttrs, pathAttrs, cardMany))

    case P.Pull(_, paths) =>
      val rels = paths.flatMap(compile(_, env))
      if (rels.isEmpty) None
      else {
        // Paths may have heterogeneous arity (src/plan/pull.rs:239-284), so
        // pack each tuple into one array<variant> column before the union.
        val dfs = rels.map { rel =>
          val cols = rel.vars.indices.map { i =>
            val cc = col(c(i))
            if (rel.kinds(i) == KVariant) cc else Variant.encode(cc, rel.kinds(i))
          }
          rel.df.select(array(cols: _*).as(c(0)), col(W))
        }
        Some(Rel(Seq(-1), Seq(KVariant), dfs.reduce(_ unionAll _),
          isPathArray = true, unit = rels.forall(_.unit)))
      }

    case P.PullAll(_, pullAttrs) =>
      // [e a v] for every attribute — src/plan/pull.rs:288-358.
      val dfs = pullAttrs.map { a =>
        source.collection(a).select(
          col("e").as(c(0)),
          lit(a).as(c(1)),
          Variant.encode(col("v"), source.kind(a)).as(c(2)),
          col(W))
      }
      Some(Rel(Seq(-1, -2, -3), Seq(KEid, KAid, KVariant), dfs.reduce(_ unionAll _),
        unit = pullAttrs.forall(source.unit)))
  }

  /** pull_v2: per-path keyed output — one relation per
    * `path_attributes :+ aid`, unmerged (`src/plan/pull_v2.rs:26-141`;
    * PullAll `:146-227`). Each path stream's tuple is the input path tuple
    * plus the pulled value, so every stream has a FIXED homogeneous schema
    * — the Spark-native win of the v2 shape: plain typed DataFrames
    * instead of v1's variant-packed union, and downstream consumers
    * (json-doc assembly, per-path sinks) pick their paths without
    * filtering a merged stream. */
  def compilePullV2(p: Plan,
      env: Map[String, Option[Rel]] = Map.empty): Seq[(Seq[String], Rel)] =
    p match {
      case P.Pull(_, paths) => paths.flatMap(compilePullV2(_, env))
      case P.PullLevel(_, plan, pullVar, pullAttrs, pathAttrs, _) =>
        require(pullAttrs.nonEmpty, "pull_v2 level needs pull attributes")
        compile(plan, env).toSeq.flatMap { input =>
          val eIdx = input.idx(pullVar)
          val n = input.vars.length
          pullAttrs.map { a =>
            val attrDf = source.collection(a)
              .select(col("e").as("_pe"), col("v").as("_pv"), col(W).as("_pw"))
            val joined = input.df.join(attrDf, col(c(eIdx)) === col("_pe"))
            val outCols = (0 until n).map(i => col(c(i))) :+ col("_pv").as(c(n))
            val df = joined.select(outCols :+ (col(W) * col("_pw")).as(W): _*)
            val rel = Rel((0 to n).map(i => -(i + 1)),
              input.kinds :+ source.kind(a), df,
              unit = input.unit && source.unit(a))
            (pathAttrs :+ a, rel)
          }
        }
      case P.PullAll(_, pullAttrs) =>
        require(pullAttrs.nonEmpty, "pull_v2 PullAll needs pull attributes")
        pullAttrs.map { a =>
          val df = source.collection(a)
            .select(col("e").as(c(0)), col("v").as(c(1)), col(W))
          (Seq(a),
            Rel(Seq(-1, -2), Seq(KEid, source.kind(a)), df, unit = source.unit(a)))
        }
      case other => sys.error(s"pull_v2 expects Pull/PullLevel/PullAll, got $other")
    }

  // ---------------------------------------------------------------- helpers

  /** Multiset canonicalization (differential `consolidate()`). */
  def consolidate(df: DataFrame): DataFrame = {
    val cols = df.columns.toIndexedSeq.filter(_ != W).map(col)
    df.groupBy(cols: _*).agg(sum(col(W)).as(W)).where(col(W) =!= 0L)
  }

  /** Z-set distinct: rows with positive accumulated weight, at weight 1. */
  def distinctify(df: DataFrame): DataFrame = {
    val cols = df.columns.toIndexedSeq.filter(_ != W).map(col)
    df.groupBy(cols: _*).agg(sum(col(W)).as(W))
      .where(col(W) > 0L).withColumn(W, lit(1L))
  }

  private def dedupFirst(vars: Seq[Int]): Seq[Int] = vars.distinct

  /** Reorder/drop columns; weights ride along (multiset projection). */
  def projectTo(rel: Rel, vars: Seq[Int]): Rel = {
    val cols = vars.zipWithIndex.map { case (v, i) => rel.colOf(v).as(c(i)) } :+ col(W)
    Rel(vars, vars.map(rel.kindOf), rel.df.select(cols: _*), unit = rel.unit,
      small = rel.small)
  }

  /** Binary equijoin on `target`; output = key ++ leftRest ++ rightRest
    * (`src/plan/join.rs:119-180`). Weights multiply. */
  def join(target: Seq[Int], l: Rel, r: Rel): Rel = {
    val lRest = dedupFirst(l.vars).filterNot(target.contains)
    val rRest = dedupFirst(r.vars).filterNot(target.contains)
    val outVars = target ++ lRest ++ rRest

    val ldf0 = l.df.toDF(l.vars.indices.map(i => s"l$i") :+ "_wl": _*)
    val rdf0 = r.df.toDF(r.vars.indices.map(i => s"r$i") :+ "_wr": _*)
    // Join-site broadcast for known-small sides (checkpointed fixpoint
    // deltas have no size stats, so Catalyst would pick a shuffle join).
    val ldf = if (l.small) broadcast(ldf0) else ldf0
    val rdf = if (r.small) broadcast(rdf0) else rdf0
    val cond = target.map(v => col(s"l${l.idx(v)}") === col(s"r${r.idx(v)}"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val joined = ldf.join(rdf, cond)

    val sel =
      target.zipWithIndex.map { case (v, i) => col(s"l${l.idx(v)}").as(c(i)) } ++
        lRest.zipWithIndex.map { case (v, i) => col(s"l${l.idx(v)}").as(c(target.length + i)) } ++
        rRest.zipWithIndex.map { case (v, i) =>
          col(s"r${r.idx(v)}").as(c(target.length + lRest.length + i))
        } :+ (col("_wl") * col("_wr")).as(W)

    val kinds = target.map(l.kindOf) ++ lRest.map(l.kindOf) ++ rRest.map(r.kindOf)
    Rel(outVars, kinds, joined.select(sel: _*), unit = l.unit && r.unit)
  }

  /** Left tuples whose key has no match in right; both sides distinct-ed
    * (`src/plan/antijoin.rs:95-98`). Output = key ++ leftRest. */
  def antijoin(target: Seq[Int], l: Rel, r: Rel): Rel = {
    val lRest = dedupFirst(l.vars).filterNot(target.contains)
    val outVars = target ++ lRest
    val leftD = distinctify(projectTo(l, outVars).df)
    val rightK0 = distinctify(projectTo(r, target).df).drop(W)
    val rightK = if (r.small) broadcast(rightK0) else rightK0
    val result = leftD.join(rightK, target.indices.map(c), "left_anti")
    Rel(outVars, outVars.map(l.kindOf), result, unit = true)
  }

  /** TRUNCATE / ADD / SUBTRACT — the shared arithmetic
    * ([[graft.streaming.LinearRows.Arith]]) as one column. */
  private def transform(
      rel: Rel, tvars: Seq[Int], resultVar: Int, fn: Fn,
      consts: Seq[Option[Value]]): Rel = {
    val operands = tvars.map(rel.colOf)
    val a = graft.streaming.LinearRows.arith(fn, consts, operands.size)
    def term(x: Either[Int, Long]): Column = x.fold(operands, lit(_))
    val newCol =
      if (a.mod > 0L) operands.head - (operands.head % lit(a.mod))
      else a.terms.tail.foldLeft(term(a.terms.head._2)) { case (acc, (plus, x)) =>
        if (plus) acc + term(x) else acc - term(x)
      }
    val n = rel.vars.length
    val df = rel.df.select(
      (rel.vars.indices.map(i => col(c(i))) :+ newCol.as(c(n)) :+ col(W)): _*)
    Rel(rel.vars :+ resultVar, rel.kinds :+ a.kind, df, unit = rel.unit)
  }

  private def rationalCol(num: Column, den: Column): Column =
    Compiler.rationalizeUdf(num, den).cast("struct<num:bigint,den:bigint>")

  /** Grouped aggregation with the reference's multiset semantics
    * (`src/plan/aggregate_neu.rs:45-285`):
    *  - COUNT/SUM/AVG/VARIANCE are computed in the diff monoid (weighted);
    *  - MIN/MAX/MEDIAN operate on the *distinct* set of (value ++ withs)
    *    tuples per key, MEDIAN being the element at `len/2` of the sorted
    *    distinct list (upper median), not an interpolated percentile;
    *  - aggregate results are re-inserted at their original find-clause
    *    positions (`output_offsets`, `aggregate_neu.rs:108-120`);
    *  - `withVariables` ride along in the pre-aggregation tuple so equal
    *    contributions from different provenance don't consolidate away.
    */
  private def aggregate(
      rel: Rel, outVars: Seq[Int], fns: Seq[AggregationFn],
      keyVars: Seq[Int], aggVars: Seq[Int], withVars: Seq[Int]): Rel = {
    import AggregationFn._

    val valueVars = dedupFirst(aggVars ++ withVars).filterNot(keyVars.contains)
    val pre = projectTo(rel, keyVars ++ valueVars)
    // Unit-weight inputs (the bulk/static path) go straight to groupBy:
    // one shuffle, map-side partial aggregation, exactly the plan you'd
    // write by hand. Non-unit (Z-set) inputs are consolidated first: order
    // statistics need the distinct support set, and empty-support detection
    // (below) needs per-value net weights. Under set semantics (the
    // reference's feature-flagged aggregate.rs variant) the projected
    // tuples are distinct-ed before ALL aggregations — SUM/AVG/VARIANCE
    // see each distinct (key, value ++ withs) record once
    // (src/plan/aggregate.rs:180-245).
    val cons =
      if (aggregateSetSemantics) distinctify(pre.df)
      else if (!pre.unit) consolidate(pre.df)
      else pre.df
    val unitWeights = pre.unit || aggregateSetSemantics

    val keyCols = keyVars.indices.map(i => col(c(i)))
    def vcol(v: Int): Column = col(c(pre.idx(v)))
    val withCols = withVars.map(vcol)

    val aggExprs: Seq[Column] = fns.zipWithIndex.map { case (f, i) =>
      val v = vcol(aggVars(i))
      val out = s"a$i"
      f match {
        case MIN => min(when(col(W) > 0, v)).as(out)
        case MAX => max(when(col(W) > 0, v)).as(out)
        case MEDIAN =>
          // vals[len / 2] over the sorted *distinct* (value ++ withs) tuples
          // — src/plan/aggregate_neu.rs:157-164 (differential reduce sees
          // each distinct record once). collect_set gives the support set
          // whether or not the input was consolidated.
          val entry = struct((v.as("v") +: withCols.zipWithIndex.map {
            case (wc, j) => wc.as(s"w$j")
          }): _*)
          val arr = sort_array(collect_set(when(col(W) > 0, entry)))
          element_at(arr, (size(arr).cast("int") / 2).cast("int") + 1).getField("v").as(out)
        case COUNT => sum(col(W)).as(out)
        case SUM   => sum(v * col(W)).as(out)
        case AVG   => rationalCol(sum(v * col(W)), sum(col(W))).as(out)
        case VARIANCE =>
          // (ssq/c) - (s/c)^2 computed exactly as a rational
          // — src/plan/aggregate_neu.rs:231-239.
          val ssq = sum(v * v * col(W))
          val s = sum(v * col(W))
          val cnt = sum(col(W))
          rationalCol(ssq * cnt - s * s, cnt * cnt).as(out)
      }
    }

    // Keys whose consolidated support is empty must vanish (the reference's
    // reduce/count emit nothing for them) — reachable only on the non-unit
    // path via Negate: track positive-support and net-weight alongside.
    val supExprs =
      if (unitWeights) Seq.empty
      else Seq(sum(when(col(W) > 0, 1L).otherwise(0L)).as("_sup"),
        sum(col(W)).as("_wsum"))
    val allExprs = aggExprs ++ supExprs

    val rawGrouped =
      if (keyVars.nonEmpty) cons.groupBy(keyCols: _*).agg(allExprs.head, allExprs.tail: _*)
      else {
        // Global aggregation must produce nothing on empty input (the
        // reference's reduce is per-key); group by a dummy key and drop it.
        cons.groupBy(lit(0).as("_g")).agg(allExprs.head, allExprs.tail: _*).drop("_g")
      }
    val grouped =
      if (unitWeights) rawGrouped
      else {
        val base = rawGrouped.where(col("_sup") > 0L)
        // Net-zero weight sums make COUNT/SUM vanish, but MIN/MAX/MEDIAN
        // over the positive-support set stay well-defined (Z-set {A:+1,
        // B:-1}: sup=1, wsum=0). Drop the whole row only when COUNT/SUM
        // are the only aggregates; with mixed functions, null out just the
        // weight-sensitive outputs. AVG/VARIANCE at net count 0 are
        // UNDEFINED (the reference's Rational32 panics on a zero
        // denominator) — fail loudly rather than ship a denominator-0
        // rational; the maintained path (IncrementalQuery.aggOf) throws
        // the same way.
        val wSensitive = fns.zipWithIndex.collect {
          case (f, i) if f == COUNT || f == SUM => i
        }
        val rationals = fns.zipWithIndex.collect {
          case (f, i) if f == AVG || f == VARIANCE => i
        }
        val guarded = rationals.foldLeft(base) { (df, i) =>
          df.withColumn(s"a$i", when(col("_wsum") =!= 0L, col(s"a$i"))
            .otherwise(raise_error(concat(
              lit(s"ill-formed Z-set history: ${fns(i)} support non-empty " +
                "but net count 0 for key ("),
              concat_ws(",", keyCols: _*), lit(")")))
              .cast(df.schema(s"a$i").dataType)))
        }
        if (wSensitive.isEmpty) guarded
        else if (wSensitive.length == fns.length) guarded.where(col("_wsum") =!= 0L)
        else wSensitive.foldLeft(guarded) { (df, i) =>
          df.withColumn(s"a$i", when(col("_wsum") =!= 0L, col(s"a$i")))
        }
      }

    // Re-insert aggregation results at their find-clause positions
    // (output_offsets, src/plan/aggregate_neu.rs:108-120): the i-th
    // aggregation consumes the first unconsumed occurrence of its variable.
    val work = mutable.ArrayBuffer(outVars.map(Option(_)): _*)
    val posToAgg = mutable.Map.empty[Int, Int]
    for (i <- fns.indices) {
      val pos = work.indexOf(Some(aggVars(i)))
      require(pos >= 0, s"aggregation variable ${aggVars(i)} not in output $outVars")
      work(pos) = None
      posToAgg(pos) = i
    }
    val slots: Seq[Either[Int, Int]] = outVars.indices.map { j =>
      posToAgg.get(j) match {
        case Some(i) => Right(i)
        case None    => Left(outVars(j))
      }
    }

    def aggKind(i: Int): ValueKind = fns(i) match {
      case COUNT | SUM        => KNumber
      case AVG | VARIANCE     => KRational
      case MIN | MAX | MEDIAN => pre.kindOf(aggVars(i))
    }

    val sel = slots.zipWithIndex.map {
      case (Left(kv), j)  => col(c(keyVars.indexOf(kv))).as(c(j))
      case (Right(i), j)  => col(s"a$i").as(c(j))
    } :+ lit(1L).as(W)
    val kinds = slots.map {
      case Left(kv) => pre.kindOf(kv)
      case Right(i) => aggKind(i)
    }
    Rel(outVars, kinds.toSeq, grouped.select(sel.toSeq: _*), unit = true)
  }

  /** N-way conjunction solver — same *results* as the reference's
    * worst-case-optimal Hector (`src/plan/hector.rs`), produced with
    * constant-pushed attribute scans + greedily ordered binary equijoins
    * (Catalyst/AQE then picks physical strategies). The count/propose/
    * validate machinery of the reference is an incremental-maintenance
    * trick that batch recomputation doesn't need (SURVEY.md §2.4).
    */
  private def hector(
      target: Seq[Int], bindings: Seq[Binding],
      env: Map[String, Option[Rel]]): Option[Rel] = {
    val attrBs = bindings.collect { case a: Binding.Attr => a }
    val notBs = bindings.collect { case Binding.Not(a: Binding.Attr) => a }
    val unsupported = bindings.collect {
      case Binding.Not(inner) if !inner.isInstanceOf[Binding.Attr] => inner
    }
    require(unsupported.isEmpty,
      s"Not bindings over non-attribute bindings are not executable: $unsupported")
    val constOf: Map[Int, Value] =
      bindings.collect { case Binding.Const(x, v) => x -> v }.toMap
    val preds = bindings.collect { case p: Binding.BinaryPred => p }
    require(attrBs.nonEmpty, "Hector requires at least one attribute binding")

    def scan(a: Binding.Attr): Rel = {
      var df = source.collection(a.a)
      constOf.get(a.e).foreach(v => df = df.where(col("e") === Value.asLiteral(v)))
      constOf.get(a.v).foreach(v => df = df.where(col("v") === Value.asLiteral(v)))
      if (a.e == a.v)
        Rel(Seq(a.e), Seq(KEid), df.where(col("e") === col("v"))
          .select(col("e").as(c(0)), col(W)), unit = source.unit(a.a),
          small = source.small(a.a))
      else
        Rel(Seq(a.e, a.v), Seq(KEid, source.kind(a.a)),
          df.select(col("e").as(c(0)), col("v").as(c(1)), col(W)),
          unit = source.unit(a.a), small = source.small(a.a))
    }

    // ---- Co-located attribute fusion --------------------------------
    // [?e :t/a ?x][?e :t/b ?y] is the EAV encoding of "read two columns
    // of one row". When the source derives those attributes from a
    // single one-row-per-entity table (AttributeSource.fused), the
    // pairwise e-joins collapse into ONE multi-column scan — identical
    // semantics (equijoins on a unique key between projections of the
    // same row set), zero shuffles. At 100 TB that is one table scan
    // instead of k scans plus k−1 shuffles of the fact table.
    val clusters: Seq[Seq[Binding.Attr]] = {
      val candidates = attrBs.filter(a => a.e != a.v && source.unit(a.a))
      val fusedSets: Map[Int, Seq[Binding.Attr]] = candidates.groupBy(_.e)
        .collect {
          case (e, cl) if cl.lengthCompare(1) > 0 &&
            source.fused(cl.map(_.a)).isDefined => e -> cl
        }
      val emitted = mutable.Set.empty[Int]
      attrBs.flatMap { a =>
        fusedSets.get(a.e) match {
          case Some(cl) if cl.exists(_ eq a) =>
            if (emitted.add(a.e)) Some(cl) else None
          case _ => Some(Seq(a))
        }
      }
    }

    def scanCluster(cl: Seq[Binding.Attr]): Rel =
      if (cl.lengthCompare(1) == 0) scan(cl.head)
      else {
        var df = source.fused(cl.map(_.a))
          .getOrElse(sys.error("fused() vanished between planning and scan"))
        constOf.get(cl.head.e).foreach(v =>
          df = df.where(col("e") === Value.asLiteral(v)))
        cl.zipWithIndex.foreach { case (a, i) =>
          constOf.get(a.v).foreach(v =>
            df = df.where(col(s"v$i") === Value.asLiteral(v)))
        }
        // A value var bound by TWO cluster members pins an equality
        // filter and keeps one column (the join would equate them).
        val keep = mutable.ArrayBuffer[(Int, String, ValueKind)](
          (cl.head.e, "e", KEid))
        cl.zipWithIndex.foreach { case (a, i) =>
          keep.find(_._1 == a.v) match {
            case Some((_, existing, _)) =>
              df = df.where(col(s"v$i") === col(existing))
            case None => keep += ((a.v, s"v$i", source.kind(a.a)))
          }
        }
        Rel(keep.map(_._1).toSeq, keep.map(_._3).toSeq,
          df.select(keep.toSeq.zipWithIndex.map { case ((_, src, _), j) =>
            col(src).as(c(j))
          } :+ lit(1L).as(W): _*),
          unit = true,
          small = cl.forall(a => source.small(a.a)))
      }

    // Greedy binding order: most-constrained first (constants), then any
    // binding sharing a variable with the bound prefix (plan_order's
    // reachability constraint, src/plan/hector.rs:209-309). Known-small
    // bindings (streaming deltas) break ties first, so the delta anchors
    // the join prefix and every state side streams through a broadcast
    // join instead of re-shuffling per batch.
    def constrainedness(a: Binding.Attr): Int =
      Seq(a.e, a.v).count(constOf.contains)
    val startCluster = clusters.sortBy(cl => (
      -cl.map(constrainedness).max,
      if (cl.forall(a => source.small(a.a))) 0 else 1)).head
    var rel = scanCluster(startCluster)
    var remaining = clusters.filterNot(_ eq startCluster)
    val appliedPreds = mutable.Set.empty[Binding.BinaryPred]

    def applyPreds(): Unit =
      preds.filterNot(appliedPreds.contains).foreach { p =>
        // An operand is usable once its variable is a bound column, or
        // immediately if it is Const-bound (constants are pushed into scans
        // and never become columns — substitute the literal).
        def operand(v: Int): Option[Column] =
          if (rel.vars.contains(v)) Some(rel.colOf(v))
          else constOf.get(v).map(Value.asLiteral)
        (operand(p.x), operand(p.y)) match {
          case (Some(a), Some(b)) =>
            val cond = p.predicate match {
              case Predicate.LT  => a < b
              case Predicate.GT  => a > b
              case Predicate.LTE => a <= b
              case Predicate.GTE => a >= b
              case Predicate.EQ  => a === b
              case Predicate.NEQ => a =!= b
            }
            rel = rel.copy(df = rel.df.where(cond))
            appliedPreds += p
          case _ => ()
        }
      }

    applyPreds()
    while (remaining.nonEmpty) {
      val next = remaining
        .find(_.exists(a => rel.vars.contains(a.e) || rel.vars.contains(a.v)))
        .getOrElse(remaining.head) // disconnected => cross product
      val nextRel = scanCluster(next)
      val shared = nextRel.vars.filter(rel.vars.contains)
      rel = join(shared, rel, nextRel)
      remaining = remaining.filterNot(_ eq next)
      applyPreds()
    }

    // The reference panics on predicates over unbound variables — a silent
    // drop would return a superset with no error.
    require(appliedPreds.size == preds.size,
      s"predicate bindings over unbound variables: ${preds.filterNot(appliedPreds.contains)}")

    // Target variables bound ONLY by a Const binding never become columns
    // (constants are pushed into scans); synthesize them as literal columns
    // — the reference's ConstantExtender proposes the constant value
    // (src/plan/hector.rs:980-1021).
    val constOnly = target.filterNot(rel.vars.contains).filter(constOf.contains)
    if (constOnly.nonEmpty) {
      val n = rel.vars.length
      val sel = rel.vars.indices.map(i => col(c(i))) ++
        constOnly.zipWithIndex.map { case (v, i) =>
          Value.asLiteral(constOf(v)).as(c(n + i))
        } :+ col(W)
      rel = Rel(rel.vars ++ constOnly,
        rel.kinds ++ constOnly.map(v => ValueKind.of(constOf(v))),
        rel.df.select(sel: _*), unit = rel.unit)
    }

    // Negation-as-antijoin (AntijoinBinding, src/plan/hector.rs:1494-1529).
    notBs.foreach { nb =>
      val notRel = scan(nb)
      val sharedVars = notRel.vars.filter(rel.vars.contains)
      require(sharedVars.nonEmpty, "Not binding shares no variable with prefix")
      rel = rel.copy(df = rel.df.join(
        distinctify(projectTo(notRel, sharedVars).df).drop(W)
          .toDF(sharedVars.indices.map(i => s"n$i"): _*),
        sharedVars.zipWithIndex.map { case (v, i) => rel.colOf(v) === col(s"n$i") }
          .reduce(_ && _),
        "left_anti"))
    }

    Some(projectTo(rel, target))
  }

  /** Single pull level — `src/plan/pull.rs:94-237`: the layouts of
    * [[graft.streaming.LinearRows.pullBranch]] as columns, so the
    * maintained path decorates each row exactly as this compiles. */
  private def pullLevel(
      input: Rel, pullVar: Int, pullAttrs: Seq[String],
      pathAttrs: Seq[String], cardMany: Boolean): Rel = {
    import graft.streaming.LinearRows.{Cell, Col, Enc, Lit, interleave, pullBranch}
    val n = input.vars.length
    // The pulled value, column `n` of a branch's layout, is `_pv`.
    def column(cell: Cell): Column = cell match {
      case Col(i)    => if (i < n) col(c(i)) else col("_pv")
      case Lit(v)    => lit(v)
      case Enc(e, k) => Variant.encode(column(e), k)
    }
    def select(df: DataFrame, cells: Seq[(Cell, ValueKind)], w: Column) =
      df.select(cells.zipWithIndex.map { case ((cell, _), i) => column(cell).as(c(i)) } :+
        w.as(W): _*)

    if (pullAttrs.isEmpty) {
      if (pathAttrs.isEmpty) input
      else {
        val inter = interleave(input.kinds, pathAttrs)
        Rel(inter.indices.map(i => -(i + 1)), inter.map(_._2),
          select(input.df, inter, col(W)), unit = input.unit)
      }
    } else {
      val eIdx = input.idx(pullVar)
      val branches: Seq[DataFrame] = pullAttrs.map { a =>
        val attrDf = source.collection(a)
          .select(col("e").as("_pe"), col("v").as("_pv"), col(W).as("_pw"))
        select(input.df.join(attrDf, col(c(eIdx)) === col("_pe")),
          pullBranch(input.kinds, pathAttrs, cardMany, Some((a, source.kind(a)))),
          col(W) * col("_pw"))
      }

      val withDbId: Seq[DataFrame] =
        if (pathAttrs.isEmpty || cardMany) branches
        else branches :+ select(input.df,
          pullBranch(input.kinds, pathAttrs, cardMany, None), col(W))

      val unioned = withDbId.reduce(_ unionAll _)
      val arity = unioned.columns.length - 1
      val pathKinds = pullBranch(input.kinds, pathAttrs, cardMany,
        Some((pullAttrs.head, source.kind(pullAttrs.head)))).map(_._2)
      // Weight-1 input × weight-1 attributes ⇒ weight-1 paths.
      Rel((0 until arity).map(i => -(i + 1)), pathKinds, unioned,
        unit = input.unit && pullAttrs.forall(source.unit))
    }
  }
}
