package graft.streaming

/** Generic CEP NFA — the row-type-agnostic core behind [[Cep]] (the
  * Event-typed Scala API) and [[MatchRecognize]]'s generic-relation
  * front-end. The reference runs MATCH_RECOGNIZE over any input
  * RowType (reference: flink-table-planner-blink/.../exec/stream/
  * StreamExecMatch.java:90; the NFA itself is row-type-generic via
  * flink-libraries/flink-cep/.../nfa/NFA.java); this core mirrors that
  * by being generic in the event type `E` — the only capability it
  * needs from a row is an event-time extractor (`tsMs`), supplied at
  * the call site.
  *
  * Semantics (quantifiers, contiguity, negation, skip strategies,
  * until, followedByAny, consecutive/allowCombinations) are documented
  * on [[Cep]]; this file holds the machinery, including the two loops
  * every front-end runs the NFA in: [[scanSortedPartition]] (batch)
  * and [[watermarkStep]] (watermarked streaming, stored through
  * [[StreamingOps.Keyed]]).
  *
  * Two capabilities live only here:
  *  - predicates see the PREVIOUS ROW in the partition (`(Option[E],
  *    E) => Boolean`) — SQL MATCH_RECOGNIZE PREV navigation, which is
  *    physical (previous input row, not previous matched row;
  *    reference: MatchCodeGenerator.scala PREV/NEXT,
  *    FlinkSqlOperatorTable.java:1147-1151);
  *  - [[Group]] elements — a whole sub-sequence as one pattern unit,
  *    quantifiable with oneOrMore/times, the reference's GroupPattern
  *    (flink-libraries/flink-cep/.../pattern/GroupPattern.java). A
  *    `(A B)+` loop is compiled as a back-edge from the group's last
  *    step to its first; each completed iteration forks an exit branch
  *    (emitting if the tail completes) and a loop branch — the
  *    reference's oneOrMore-default reluctant semantics.
  */
object CepCore {

  /** A pattern element: either a single [[Step]] or a [[Group]]
    * sub-sequence.
    */
  sealed trait Elem[E]

  /** What a navigation-aware DEFINE predicate sees besides the current
    * row: the physical previous row in the partition (PREV) and the
    * partial match so far — its rows with their step labels, in match
    * order (FIRST/LAST logical navigation; reference:
    * MatchCodeGenerator.scala FIRST|LAST visitCall + IterativeCondition
    * .Context.getEventsForPattern in flink-libraries/flink-cep/.../
    * pattern/conditions/IterativeCondition.java). `rows`/`labels` are
    * parallel and cheap views of the partial's own buffers — no copy.
    */
  final case class NavCtx[E](prev: Option[E], rows: Seq[E],
      labels: Seq[String])

  /** One pattern step (field semantics documented on [[Cep]]).
    * `predicate` receives (previous row in partition, current row);
    * APIs without PREV wrap a 1-arg predicate. `loopBackTo` is
    * internal: set by [[SequencePattern.expanded]] on the last step of
    * a oneOrMore group, pointing at the group's first expanded index.
    */
  final case class Step[E](
      name: String,
      predicate: (Option[E], E) => Boolean,
      times: Int = 1,
      optional: Boolean = false,
      oneOrMore: Boolean = false,
      greedy: Boolean = false,
      timesMax: Int = 0,
      until: Option[E => Boolean] = None,
      negated: Boolean = false,
      anyMatch: Boolean = false,
      consecutive: Boolean = false,
      combinations: Boolean = false,
      /** The predicate reads its `prev` argument (PREV navigation).
        * Streaming keeps a key's last row in state iff some step needs
        * it — otherwise the state cell is dropped when no partials
        * survive, as before.
        */
      needsPrev: Boolean = false,
      loopBackTo: Option[Int] = None,
      /** Ordered-choice alternation WITHIN one step — SQL `(A|B)`,
        * `(A|B)+`, `(A|B){n}` with single-variable alternatives
        * (reference: the Calcite row-pattern grammar accepts grouped
        * alternation; Flink's NFA runs it via GroupPattern branching).
        * Each consumed row is labeled with the FIRST choice whose
        * predicate accepts (regex-standard ordered choice), so every
        * loop iteration may take a different variable. When non-empty,
        * `predicate` must be the choices' disjunction and `name` is
        * display-only.
        */
      choices: Seq[(String, (Option[E], E) => Boolean)] = Seq.empty,
      /** Match-aware predicate — SQL FIRST/LAST logical navigation
        * inside DEFINE (the reference's iterative conditions). When
        * set it REPLACES `predicate` at every evaluation site: the NFA
        * hands it the partial match's rows+labels so `LAST(V.col, n)`
        * can bind against the rows variable V matched so far.
        */
      navPredicate: Option[(NavCtx[E], E) => Boolean] = None
  ) extends Elem[E] {
    /** The label to record for a row this step just consumed. */
    def labelFor(prev: Option[E], e: E): String =
      if (choices.isEmpty) name
      else choices.find(_._2(prev, e)).map(_._1).getOrElse(name)
    require(choices.isEmpty || (!negated && !anyMatch && until.isEmpty),
      "choice steps (grouped alternation) cannot combine with " +
        "negation, followedByAny, or until")
    require(navPredicate.isEmpty || choices.isEmpty,
      "FIRST/LAST navigation inside grouped alternation (A|B) is out " +
        "of scope — give each alternative its own top-level branch")
    require(times >= 1)
    require(times == 1 || (!optional && !oneOrMore),
      "times(n) cannot combine with optional/oneOrMore on one step")
    require(timesMax == 0 || timesMax >= times,
      "times(n, m) needs m >= n")
    require(until.isEmpty || oneOrMore, "until only applies to oneOrMore loops")
    require(!negated || (times == 1 && timesMax == 0 && !optional && !oneOrMore),
      "a negated step consumes nothing and cannot be quantified")
    require(!anyMatch || (times == 1 && timesMax == 0 && !optional &&
      !oneOrMore && !negated),
      "followedByAny applies to plain single steps (quantify with " +
        "oneOrMore/times instead of combining them with anyMatch)")
    require(!consecutive || oneOrMore,
      "consecutive() pins loop contiguity — it applies to oneOrMore steps")
    require(!combinations || oneOrMore,
      "allowCombinations() relaxes loop contiguity — it applies to oneOrMore steps")
    require(!(consecutive && combinations),
      "consecutive and allowCombinations are opposite contiguity modes")
    require(!(combinations && greedy),
      "a greedy loop consumes maximally; combining it with allowCombinations " +
        "is contradictory")
  }

  /** A sub-sequence as one pattern unit (reference GroupPattern.java):
    * `(A B)+` = Group(Seq(A, B), oneOrMore = true); `(A B){n}` =
    * Group(Seq(A, B), times = n). The oneOrMore loop is reluctant —
    * every completed iteration count emits (the reference's oneOrMore
    * default); greedy group loops are out of scope. Sub-steps may use
    * times(n[, m]) but not optional/oneOrMore/negation (the loop
    * back-edge anchors on the group's last step CONSUMING, which an
    * optional or looping tail would break).
    */
  final case class Group[E](
      steps: Seq[Step[E]],
      oneOrMore: Boolean = false,
      times: Int = 1
  ) extends Elem[E] {
    require(steps.nonEmpty, "a group needs at least one step")
    require(times >= 1)
    require(!(oneOrMore && times > 1),
      "quantify a group with oneOrMore OR times(n), not both")
    require(steps.forall(s => !s.optional && !s.oneOrMore && !s.negated &&
      !s.anyMatch),
      "group sub-steps must be plain or times(n[, m]) with m == n — " +
        "optional/oneOrMore/negated/anyMatch sub-steps are out of scope")
    require(steps.forall(s => s.timesMax == 0 || s.timesMax == s.times),
      "a range-quantified sub-step times(n, m) with m > n makes the " +
        "group's last consumed step ambiguous — use fixed times(n)")
  }

  sealed trait SkipStrategy
  case object NoSkip extends SkipStrategy
  case object SkipToNext extends SkipStrategy
  case object SkipPastLastEvent extends SkipStrategy
  /** Resume matching AT the first/last row the named variable matched
    * in the emitted match (reference AfterMatchSkipStrategy
    * .skipToFirst/.skipToLast): partials starting before that row are
    * discarded, overlap beyond it is allowed. A boundary equal to the
    * match's own start cannot make progress and throws, as does a
    * variable that matched no row (both mirror the reference).
    * `members` is the label set the boundary row may carry — the
    * variable itself by default, or its SUBSET union members when the
    * skip target is a SUBSET name (the reference Calcite grammar
    * accepts union variables as skip targets).
    */
  final case class SkipToFirst(variable: String,
      members: Set[String] = Set.empty) extends SkipStrategy {
    def memberSet: Set[String] = if (members.isEmpty) Set(variable) else members
  }
  final case class SkipToLast(variable: String,
      members: Set[String] = Set.empty) extends SkipStrategy {
    def memberSet: Set[String] = if (members.isEmpty) Set(variable) else members
  }

  /** A sequence pattern over elements (steps and groups); see
    * [[Cep.SequencePattern]] for the semantics of `strict` and `skip`.
    * `orElse` holds ADDITIONAL alternative element sequences — SQL
    * PATTERN alternation `A B | C D` (reference: the Calcite row-pattern
    * grammar StreamExecMatch compiles accepts alternation; the CEP
    * library's GroupPattern/branching NFA runs it). Each alternative is
    * a full branch of the NFA: a fresh partial forks per branch, and
    * the after-match skip strategy arbitrates across branches exactly
    * as it does within one (ties prefer the earlier alternative — the
    * regex-standard ordered-choice rule).
    */
  final case class SequencePattern[E](
      elems: Seq[Elem[E]],
      withinMs: Long,
      strict: Boolean,
      skip: SkipStrategy = NoSkip,
      orElse: Seq[Seq[Elem[E]]] = Nil,
      /** Variable names inside SQL `{- ... -}` exclusion markers: the
        * rows still MATCH (and feed MEASURES) but are omitted from
        * ALL ROWS PER MATCH output (SQL:2016 row-pattern exclusion).
        * The NFA ignores this — it is carried for the output stage.
        */
      excluded: Set[String] = Set.empty
  ) {
    require(elems.nonEmpty)
    require(orElse.forall(_.nonEmpty), "an empty PATTERN alternative")

    /** One alternative's elems flattened to the step list the NFA runs:
      * groups unrolled (times(n) statically, oneOrMore via a back-edge
      * on the last sub-step), then per-step times(n[, m]) unrolled — n
      * required copies plus m - n optional ones.
      */
    private def expand(es: Seq[Elem[E]]): Seq[Step[E]] = {
      val out = Seq.newBuilder[Step[E]]
      var idx = 0
      def emit(s: Step[E]): Unit = { out += s; idx += 1 }
      def expandStep(s: Step[E]): Unit = {
        val mx = if (s.timesMax > 0) s.timesMax else s.times
        (1 to s.times).foreach(_ => emit(s.copy(times = 1, timesMax = 0)))
        (1 to mx - s.times).foreach(_ =>
          emit(s.copy(times = 1, timesMax = 0, optional = true)))
      }
      es.foreach {
        case s: Step[E] => expandStep(s)
        case g: Group[E] =>
          if (g.oneOrMore) {
            val start = idx
            // unroll sub-step times within the single loop body, then
            // put the back-edge on the very last emitted copy
            val body = Seq.newBuilder[Step[E]]
            g.steps.foreach { s =>
              (1 to s.times).foreach(_ => body += s.copy(times = 1, timesMax = 0))
            }
            val b = body.result()
            b.init.foreach(emit)
            emit(b.last.copy(loopBackTo = Some(start)))
          } else {
            (1 to g.times).foreach(_ => g.steps.foreach(expandStep))
          }
      }
      out.result()
    }

    /** One expanded step list per alternative; partials carry the index
      * of the branch they run on.
      */
    val branches: Seq[Seq[Step[E]]] = (elems +: orElse).map(expand)

    /** True when the compiled NFA can fork multiple live partials or
      * re-enter loop steps per row: PATTERN alternation (orElse
      * branches), grouped ordered choice (step choices), or unbounded
      * oneOrMore loops (step-level or a group back-edge). These shapes
      * make the per-row NFA step the CPU-dominant phase of a batch
      * detect; bounded patterns (plain sequences, times(n) unrolls)
      * evaluate a constant handful of predicates per row. r22 (guide
      * §2.5): the batch entry points pin an explicit partition count on
      * the key exchange ONLY for cpu-bound patterns — measured r21, the
      * pin wins on alternation/loop patterns (group_alt 0.73–0.75×) and
      * costs scheduling overhead where the NFA is cheap and downstream
      * MEASURES windows dominate (nav_measures 1.22–1.35×).
      */
    lazy val cpuBoundNfa: Boolean =
      orElse.nonEmpty || branches.exists(_.exists(s =>
        s.oneOrMore || s.loopBackTo.nonEmpty || s.choices.nonEmpty))

    /** The first (or only) branch — the pre-alternation step list. */
    val expanded: Seq[Step[E]] = branches.head

    branches.foreach { steps =>
      require(!steps.head.negated,
        "a pattern cannot start with a negation (nothing precedes it)")
      require(!steps.head.anyMatch,
        "followedByAny describes the edge INTO a step; the first step has none")
      require(!strict || !steps.exists(_.anyMatch),
        "followedByAny is relaxed contiguity; it cannot appear in a strict (next) pattern")
      require(!steps.iterator.sliding(2).withPartial(false)
        .exists(w => w.head.negated && w(1).negated),
        "two adjacent negated steps are ambiguous — merge the predicates")
    }

    /** Some predicate navigates to PREV: streaming state must retain
      * the key's last row even when no partial matches survive.
      */
    val needsPrev: Boolean = branches.exists(_.exists(_.needsPrev))
  }

  /** A live partial match. `inLoop` marks a oneOrMore step that has
    * consumed at least one event and may consume more; `startSeq` /
    * `lastSeq` are per-key event sequence numbers for skip-strategy
    * overlap checks. `rows` holds the matched events themselves (the
    * generic front-end emits them back out; the Event facade projects
    * ids).
    */
  final case class PartialMatch[E](
      stepIdx: Int,
      inLoop: Boolean,
      startTs: Long,
      lastTs: Long,
      startSeq: Long,
      lastSeq: Long,
      rows: Seq[E],
      labels: Seq[String],
      /** Which [[SequencePattern.branches]] alternative this partial
        * runs on (0 when the pattern has no alternation).
        */
      branch: Int = 0,
      /** Per-row sequence numbers, parallel to `rows` — the skip-to-
        * variable strategies prune on the boundary row's seq.
        */
      rowSeqs: Seq[Long] = Seq.empty
  )

  /** NFA state for one key. `prev` is the last row this key's ordered
    * stream has processed — the PREV navigation target for the next
    * event (persisted so PREV works across micro-batches).
    */
  final case class NfaState[E](
      partials: Seq[PartialMatch[E]],
      nextSeq: Long,
      prev: Option[E] = None
  )

  /** A completed match: the matched rows in order with their step
    * labels. Keys are the caller's concern (advance runs per key).
    */
  final case class Match[E](start_ts: Long, end_ts: Long, rows: Seq[E],
      labels: Seq[String])

  // branch participates in the emission sort only as a tie-break:
  // alternatives emitting the same span prefer the earlier one (the
  // regex-standard ordered-choice rule)
  private final case class Emit[E](startSeq: Long, lastSeq: Long, branch: Int,
      m: Match[E], rowSeqs: Seq[Long])

  /** Advance the NFA over time-ordered events, returning completed
    * matches (in emission order) and the surviving state. `tsMs`
    * extracts each row's event-time milliseconds (ordering is the
    * caller's contract; used for `within` bounds and match spans).
    */
  def advance[E](
      pattern: SequencePattern[E],
      events: Seq[E],
      initial: NfaState[E],
      tsMs: E => Long
  ): (Seq[Match[E]], NfaState[E]) = {
    val branches = pattern.branches
    var partials = initial.partials
    var seq = initial.nextSeq
    var prevE: Option[E] = initial.prev
    val out = Seq.newBuilder[Match[E]]

    // positions reachable without consuming an event: exit a satisfied
    // loop, skip optional steps. Linear chain per branch — each
    // position has at most one epsilon edge.
    def closure(steps: Seq[Step[E]], idx: Int, inLoop: Boolean): Seq[(Int, Boolean)] = {
      val n = steps.size
      val acc = Seq.newBuilder[(Int, Boolean)]
      var i = idx
      var loop = inLoop
      acc += ((i, loop))
      var go = true
      while (go && i < n) {
        if (loop) { i += 1; loop = false; acc += ((i, false)) }
        else if (steps(i).optional) { i += 1; acc += ((i, false)) }
        else go = false
      }
      acc.result()
    }

    def negationPending(p: PartialMatch[E]): Boolean = {
      val steps = branches(p.branch)
      p.stepIdx < steps.size && steps(p.stepIdx).negated
    }

    // Pattern.until: the loop at step i refuses e once the stop
    // condition matches (the until event is never consumed by the loop)
    def untilHit(steps: Seq[Step[E]], i: Int, e: E): Boolean =
      steps(i).until.exists(f => f(e))

    // a step's predicate, routed through the match-aware form when the
    // DEFINE uses FIRST/LAST navigation (the partial's rows+labels are
    // the navigation target; for a fresh partial they are empty —
    // LAST(V.col, n) over an empty history is NULL, SQL semantics)
    def accepts(s: Step[E], p: PartialMatch[E], prev: Option[E], e: E): Boolean =
      s.navPredicate match {
        case Some(f) => f(NavCtx(prev, p.rows, p.labels), e)
        case None => s.predicate(prev, e)
      }

    /** Try to consume `e` from partial `p`. Returns (consumed,
      * successors, emits). A greedy in-loop partial whose loop
      * predicate accepts takes only the loop branch. `prev` is the
      * physical previous row in the partition (PREV navigation).
      */
    def consume(p: PartialMatch[E], e: E, prev: Option[E], ts: Long, s: Long)
        : (Boolean, Seq[PartialMatch[E]], Seq[Emit[E]]) = {
      val steps = branches(p.branch)
      val n = steps.size
      val succ = Seq.newBuilder[PartialMatch[E]]
      val emits = Seq.newBuilder[Emit[E]]
      var consumed = false
      // greedy loop branch wins outright — unless the stop condition
      // closes the loop, in which case the exit positions take over
      val greedyLoop = p.inLoop && steps(p.stepIdx).greedy &&
        accepts(steps(p.stepIdx), p, prev, e) && !untilHit(steps, p.stepIdx, e)
      val positions =
        if (greedyLoop) Seq((p.stepIdx, true))
        else closure(steps, p.stepIdx, p.inLoop)
      positions.foreach { case (i, _) =>
        if (i < n && accepts(steps(i), p, prev, e) &&
          !(steps(i).oneOrMore && untilHit(steps, i, e))) {
          consumed = true
          val ids = p.rows :+ e
          val labs = p.labels :+ steps(i).labelFor(prev, e)
          val sq = p.rowSeqs :+ s
          if (steps(i).oneOrMore) {
            val looping =
              p.copy(stepIdx = i, inLoop = true, lastTs = ts, lastSeq = s,
                rows = ids, labels = labs, rowSeqs = sq)
            succ += looping
            // allowCombinations: between iterations the loop may also
            // SKIP this matching event and take a later one — keep a
            // not-take branch so every combination sharing the loop's
            // first element forks its own match
            if (steps(i).combinations && p.inLoop && i == p.stepIdx)
              succ += p
            // reluctant loop that can already exit to the accept state
            // emits at this length too
            if (!steps(i).greedy && reachesEnd(steps, i, true))
              emits += Emit(p.startSeq, s, p.branch,
                Match(p.startTs, ts, ids, labs), sq)
          } else {
            val next =
              p.copy(stepIdx = i + 1, inLoop = false, lastTs = ts, lastSeq = s,
                rows = ids, labels = labs, rowSeqs = sq)
            if (reachesEnd(steps, i + 1, false))
              emits += Emit(p.startSeq, s, p.branch,
                Match(p.startTs, ts, ids, labs), sq)
            if (i + 1 < n) succ += next
            // followedByAny: the take did not consume the ignore edge —
            // keep a branch pinned AT this step (epsilon moves already
            // applied) so every later candidate forks its own match
            if (steps(i).anyMatch)
              succ += p.copy(stepIdx = i, inLoop = false)
            // group loop back-edge (reference GroupPattern oneOrMore):
            // a completed iteration ALSO forks back to the group's
            // first step for another round — reluctant, so the exit
            // branch above already emitted/advanced
            steps(i).loopBackTo.foreach { j =>
              succ += p.copy(stepIdx = j, inLoop = false, lastTs = ts,
                lastSeq = s, rows = ids, labels = labs, rowSeqs = sq)
            }
          }
        }
      }
      (consumed, succ.result(), emits.result())
    }

    events.foreach { e =>
      val ts = tsMs(e)
      val prev = prevE
      val s = seq
      seq += 1

      // retire expired partials; a completable greedy loop emits its
      // (already fully-within-bound) match on retirement, and a
      // trailing negation that saw no forbidden event resolves as a
      // match
      val (alive, expired) = partials.partition(p => ts - p.startTs <= pattern.withinMs)
      val emitsB = Seq.newBuilder[Emit[E]]
      expired.foreach(p => retireEmit(branches, p).foreach(emitsB += _))

      val nextPartials = Seq.newBuilder[PartialMatch[E]]
      alive.foreach { p =>
        val steps = branches(p.branch)
        val n = steps.size
        if (negationPending(p)) {
          val i = p.stepIdx
          if (accepts(steps(i), p, prev, e)) {
            // the forbidden event arrived inside the negation window:
            // the partial dies silently (both notNext and notFollowedBy)
          } else if (pattern.strict) {
            // notNext: the immediate-next event is not the forbidden
            // one — the negation resolves NOW. A trailing negation
            // completes (the resolving event is not part of the match);
            // a mid-pattern negation hands this same event to the
            // continuation (error notNext(x) next(b): b checks the very
            // event that cleared the notNext).
            if (reachesEnd(steps, i + 1, false))
              emitsB += Emit(p.startSeq, p.lastSeq, p.branch,
                Match(p.startTs, p.lastTs, p.rows, p.labels), p.rowSeqs)
            if (i + 1 < n) {
              val p2 = p.copy(stepIdx = i + 1)
              val (consumed2, succ2, emits2) = consume(p2, e, prev, ts, s)
              if (consumed2) { nextPartials ++= succ2; emitsB ++= emits2 }
              // not consumed → the strict continuation dies with the
              // negation already resolved above
            }
          } else {
            // notFollowedBy: the negation stays pending until the
            // following step consumes (which resolves it — the required
            // event arrived before any forbidden one) or the within
            // horizon passes
            val p2 = p.copy(stepIdx = i + 1)
            val (consumed2, succ2, emits2) =
              if (i + 1 < n) consume(p2, e, prev, ts, s)
              else (false, Seq.empty[PartialMatch[E]], Seq.empty[Emit[E]])
            if (consumed2) { nextPartials ++= succ2; emitsB ++= emits2 }
            else nextPartials += p
          }
        } else {
          val (consumed, succ, emits) = consume(p, e, prev, ts, s)
          if (consumed) {
            nextPartials ++= succ
            emitsB ++= emits
          } else if (pattern.strict) {
            // strict contiguity: the partial dies; a pending greedy loop
            // emits its maximal match first (the run just ended)
            retireEmit(branches, p).foreach(emitsB += _)
          } else {
            // relaxed: keep waiting; an until-hit permanently closes an
            // open loop — as does ANY unconsumed event when the loop is
            // `consecutive` (strict between iterations) — a terminal
            // greedy loop emits its maximal match, a mid-pattern loop
            // continues from the exit position
            if (p.inLoop && p.stepIdx < n && steps(p.stepIdx).oneOrMore
              && (untilHit(steps, p.stepIdx, e) || steps(p.stepIdx).consecutive)) {
              if (p.stepIdx + 1 == n) retireEmit(branches, p).foreach(emitsB += _)
              else nextPartials += p.copy(stepIdx = p.stepIdx + 1, inLoop = false)
            } else nextPartials += p
          }
        }
      }

      // can this event start a new partial? One fresh fork per branch
      // (alternation: every alternative competes from the same start).
      var startedHere = false
      val freshSucc = Seq.newBuilder[PartialMatch[E]]
      branches.indices.foreach { b =>
        // Vector buffers: O(log n) append per consumed row and O(log n)
        // indexed access for navigation — a List here would make every
        // append and every nav lookup O(match length)
        val fresh = PartialMatch[E](0, inLoop = false, ts, ts, s, s,
          Vector.empty, Vector.empty, b, Vector.empty)
        val (c, succ, emits) = consume(fresh, e, prev, ts, s)
        if (c) startedHere = true
        freshSucc ++= succ
        emitsB ++= emits
      }
      var pending = nextPartials.result()
      val candidates = emitsB.result()
        .sortBy(em => (em.startSeq, em.lastSeq, em.branch))
      var freshAllowed = startedHere

      // after-match skip strategy
      pattern.skip match {
        case NoSkip =>
          candidates.foreach(em => out += em.m)
        case SkipToNext =>
          // at most one match per start event; drop partials sharing an
          // emitted start (including the fresh one born this event)
          val seen = scala.collection.mutable.Set.empty[Long]
          candidates.foreach { em =>
            if (!seen.contains(em.startSeq)) {
              seen += em.startSeq
              out += em.m
              pending = pending.filterNot(_.startSeq == em.startSeq)
            }
          }
          if (seen.contains(s)) freshAllowed = false
        case SkipPastLastEvent =>
          // emit the earliest candidate, prune everything overlapping
          // it (candidates and live partials), repeat — same loop as
          // flush(). Multiple candidates can retire on one event with
          // disjoint spans (e.g. two within-expired greedy loops from
          // separate bursts); emitting only the head silently dropped
          // the later ones.
          var rest = candidates
          while (rest.nonEmpty) {
            val em = rest.head
            out += em.m
            // discard everything overlapping the match, including
            // fresh partials born on its last event
            pending = pending.filter(_.startSeq > em.lastSeq)
            if (em.lastSeq >= s) freshAllowed = false
            rest = rest.tail.filter(_.startSeq > em.lastSeq)
          }
        case sk: SkipToFirst =>
          var rest = candidates
          while (rest.nonEmpty) {
            val em = rest.head
            out += em.m
            val b = skipBoundary(em, sk.variable, sk.memberSet, first = true)
            pending = pending.filter(_.startSeq >= b)
            rest = rest.tail.filter(_.startSeq >= b)
          }
        case sk: SkipToLast =>
          var rest = candidates
          while (rest.nonEmpty) {
            val em = rest.head
            out += em.m
            val b = skipBoundary(em, sk.variable, sk.memberSet, first = false)
            pending = pending.filter(_.startSeq >= b)
            rest = rest.tail.filter(_.startSeq >= b)
          }
      }
      partials = if (freshAllowed) pending ++ freshSucc.result() else pending
      prevE = Some(e)
    }

    (out.result(), NfaState(partials, seq, prevE))
  }

  /** End-of-input flush: retire every pending partial, emitting
    * completable greedy loops and trailing negations (see
    * [[retireEmit]]) under the pattern's skip strategy.
    */
  def flush[E](pattern: SequencePattern[E], st: NfaState[E]): Seq[Match[E]] = {
    val emits = st.partials.flatMap(retireEmit(pattern.branches, _))
      .sortBy(em => (em.startSeq, em.lastSeq, em.branch))
    pattern.skip match {
      case NoSkip => emits.map(_.m)
      case SkipToNext =>
        emits.groupBy(_.startSeq).toSeq.sortBy(_._1).map(_._2.head.m)
      case SkipPastLastEvent =>
        // emit the earliest, drop overlaps, repeat
        val out = Seq.newBuilder[Match[E]]
        var rest = emits
        while (rest.nonEmpty) {
          val head = rest.head
          out += head.m
          rest = rest.filter(_.startSeq > head.lastSeq)
        }
        out.result()
      case sk: SkipToFirst =>
        skipToVarFlush(emits, sk.variable, sk.memberSet, first = true)
      case sk: SkipToLast =>
        skipToVarFlush(emits, sk.variable, sk.memberSet, first = false)
    }
  }

  /** A partial retired without consuming (strict break, closed loop,
    * within expiry, end of input) emits only if it is a greedy loop
    * that can exit — its maximal run; reluctant loops already emitted
    * per length — or waits at a trailing negation, which resolves
    * positively: no forbidden row came, and the match ends at its last
    * consumed row.
    */
  private def retireEmit[E](branches: Seq[Seq[Step[E]]],
      p: PartialMatch[E]): Option[Emit[E]] = {
    val steps = branches(p.branch)
    val emits = p.stepIdx < steps.size && (
      (p.inLoop && steps(p.stepIdx).greedy && reachesEnd(steps, p.stepIdx, true)) ||
        (steps(p.stepIdx).negated && reachesEnd(steps, p.stepIdx + 1, false)))
    if (emits) Some(Emit(p.startSeq, p.lastSeq, p.branch,
      Match(p.startTs, p.lastTs, p.rows, p.labels), p.rowSeqs))
    else None
  }

  /** Step `idx` reaches the accept state by epsilon moves alone. */
  private def reachesEnd[E](steps: Seq[Step[E]], idx: Int, inLoop: Boolean): Boolean = {
    val n = steps.size
    var i = idx
    var loop = inLoop
    var go = true
    while (go && i < n) {
      if (loop) { i += 1; loop = false }
      else if (steps(i).optional) i += 1
      else go = false
    }
    i == n
  }

  private def skipToVarFlush[E](emits: Seq[Emit[E]], v: String,
      members: Set[String], first: Boolean): Seq[Match[E]] = {
    val out = Seq.newBuilder[Match[E]]
    var rest = emits
    while (rest.nonEmpty) {
      val head = rest.head
      out += head.m
      val b = skipBoundary(head, v, members, first)
      rest = rest.tail.filter(_.startSeq >= b)
    }
    out.result()
  }

  /** The resume boundary of a skip-to-variable strategy: the seq of
    * the first/last row whose label is in `members` (the variable
    * itself, or the SUBSET's member labels). No such row, or a
    * boundary at the match's own start (no progress possible), throws
    * — the reference AfterMatchSkipStrategy does the same.
    */
  private def skipBoundary[E](em: Emit[E], v: String, members: Set[String],
      first: Boolean): Long = {
    val what = s"AFTER MATCH SKIP TO ${if (first) "FIRST" else "LAST"} $v"
    val idx =
      if (first) em.m.labels.indexWhere(members)
      else em.m.labels.lastIndexWhere(members)
    if (idx < 0) throw new IllegalArgumentException(
      s"$what: the variable matched no row of the emitted match")
    val b = em.rowSeqs(idx)
    if (b == em.startSeq) throw new IllegalArgumentException(
      s"$what points at the match's own start row — matching cannot " +
        "advance past it")
    b
  }

  /** The batch loop every front-end runs per partition: `rows` arrive
    * sorted by key, then event time. Each key's rows advance one NFA; a
    * new key, or the end of the partition, flushes the previous key.
    * `emit` turns a completed match into output rows, given its key and
    * its 1-based ordinal within the key. Working memory is the live
    * partials (bounded by `within`), never a key's row list, so a hot
    * key cannot exhaust a task.
    */
  private[streaming] def scanSortedPartition[E, K, O](
      pattern: SequencePattern[E],
      rows: Iterator[E],
      keyOf: E => K,
      tsMs: E => Long
  )(emit: (K, Match[E], Long) => Seq[O]): Iterator[O] =
    new Iterator[O] {
      private var buf: Iterator[O] = Iterator.empty
      private var curKey: K = _
      private var open = false
      private var st = NfaState[E](Seq.empty, 0L)
      private var ordinal = 0L
      // strict, so ordinals are numbered before the next key resets them
      private def emitAll(ms: Seq[Match[E]]): Seq[O] =
        ms.flatMap { m => ordinal += 1; emit(curKey, m, ordinal) }
      private def fill(): Unit =
        while (!buf.hasNext && (rows.hasNext || open)) {
          if (rows.hasNext) {
            val e = rows.next()
            val k = keyOf(e)
            val tail =
              if (open && k == curKey) Seq.empty
              else {
                val t = if (open) emitAll(flush(pattern, st)) else Seq.empty
                curKey = k
                open = true
                ordinal = 0L
                st = NfaState[E](Seq.empty, 0L)
                t
              }
            val (ms, s) = advance(pattern, Seq(e), st, tsMs)
            st = s
            buf = (tail ++ emitAll(ms)).iterator
          } else {
            buf = emitAll(flush(pattern, st)).iterator
            open = false
          }
        }
      override def hasNext: Boolean = { fill(); buf.hasNext }
      override def next(): O = {
        if (!hasNext) throw new NoSuchElementException("empty iterator")
        buf.next()
      }
    }

  /** The event-time step every watermarked streaming front-end runs per
    * key and trigger — the reference CepOperator's design (flink-cep
    * .../operator/CepOperator.java: buffer out-of-order elements,
    * advance the NFA in timestamp order on watermark, clear state on
    * event-time timers):
    *  - merge `arrivals` into the sorted `buffer` and release the rows
    *    the watermark has passed (`releaseAll` releases every arrival,
    *    for callers that buffer nothing);
    *  - retire partials whose `within` horizon the watermark passed
    *    (pending greedy loops and trailing negations emit);
    *  - advance the NFA over the released rows;
    *  - drop the cell when nothing is buffered, no partial lives, and
    *    either PREV is unused or the prev-only cell's idle timer fired
    *    (an event after a full within horizon of silence is late
    *    anyway);
    *  - otherwise keep (NFA, unripe rows) and wake at the first of:
    *    the earliest buffered row ripening, the earliest partial's
    *    within expiry, or — for a prev-only cell — a within horizon past
    *    now (no horizon without a within bound: the cell is kept, as
    *    partials are).
    * The result is a [[StreamingOps.Keyed]] (within-expired
    * retirements emit first); the caller maps the kept pair into its
    * state class and stores it with the one drop-or-wake rule.
    * Buffered rows are bounded by the watermark delay and partials by
    * `within`; nothing grows with the stream's length.
    */
  private[streaming] def watermarkStep[E](
      pattern: SequencePattern[E],
      buffer: Seq[E],
      arrivals: Seq[E],
      nfa: NfaState[E],
      wm: Long,
      releaseAll: Boolean,
      order: Ordering[E],
      tsMs: E => Long
  ): StreamingOps.Keyed[(NfaState[E], Seq[E]), Match[E]] = {
    val sorted = (buffer ++ arrivals).sorted(order)
    val (ripe, young) =
      if (releaseAll) (sorted, Seq.empty[E]) else sorted.partition(tsMs(_) <= wm)
    val (expired, alive) =
      nfa.partials.partition(p => wm - p.startTs > pattern.withinMs)
    val expiredMatches = flush(pattern, nfa.copy(partials = expired))
    val (matches, nfa1) = advance(pattern, ripe, nfa.copy(partials = alive), tsMs)
    val idle = young.isEmpty && nfa1.partials.isEmpty
    // a key runs without arrivals only when its timer fired
    val remove = idle && (!pattern.needsPrev || arrivals.isEmpty)
    val wakes =
      young.headOption.map(tsMs).toSeq ++
        (if (nfa1.partials.nonEmpty)
           Seq(nfa1.partials.map(_.startTs + pattern.withinMs).min)
         else Nil) ++
        (if (idle && pattern.withinMs != Long.MaxValue) Seq(wm + pattern.withinMs)
         else Nil)
    StreamingOps.Keyed(if (remove) None else Some((nfa1, young)),
      expiredMatches ++ matches, wakes.minOption)
  }
}
