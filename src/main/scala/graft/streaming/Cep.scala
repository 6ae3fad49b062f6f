package graft.streaming

import graft.streaming.StreamingOps.{Event, Keyed, eventOrder, perUser}
import org.apache.spark.sql.Dataset

/** CEP — the reference's MATCH_RECOGNIZE / Pattern API core
  * (reference: flink-libraries/flink-cep/.../pattern/Pattern.java:
  * 128-477, SQL node StreamExecMatch.java:90, after-match skip
  * strategies under flink-cep/.../nfa/aftermatch/). Scope: sequence
  * patterns over a keyed stream with strict (`next`) or relaxed
  * (`followedBy`) contiguity, a `within` time bound, `times(n)`,
  * `optional`, `oneOrMore` (reluctant or `greedy`) quantifiers,
  * group patterns (`(A B)+` — reference GroupPattern.java), and
  * NO_SKIP / SKIP_TO_NEXT / SKIP_PAST_LAST_EVENT strategies.
  *
  * The NFA itself lives in [[CepCore]], generic in the row type (the
  * reference NFA is likewise row-type-generic); this object is the
  * Event-typed API every graft CEP query and the SQL front-end's
  * Event path use. One NFA serves both modes:
  *  - batch: each key's time-ordered history in one pass plus an
  *    end-of-input flush for pending greedy loops;
  *  - streaming: the keyed-state driver [[StreamingOps.perUser]]
  *    keeping the set of partial matches per key as state; each
  *    micro-batch advances them.
  * Partial-match state is bounded by `within` (expired partials are
  * retired on every event), so state can't grow unboundedly on a hot
  * key.
  *
  * Quantifier semantics follow the reference NFA:
  *  - reluctant `oneOrMore` emits a match at every loop length (the
  *    NFA branches on each loop event: stay-in-loop vs exit);
  *  - `greedy` consumes every event the loop predicate accepts (the
  *    loop branch wins over the exit branch) and emits only the
  *    maximal match, when the loop resolves;
  *  - `optional` is an epsilon edge past the step.
  * Skip strategies (reference: AfterMatchSkipStrategy.java):
  *  - NoSkip: every match, overlaps allowed;
  *  - SkipToNext: at most one match per start event (partials sharing
  *    the emitted match's start are discarded);
  *  - SkipPastLastEvent: after a match, every partial overlapping it
  *    is discarded and its last event cannot start a new partial.
  */
object Cep {

  type SkipStrategy = CepCore.SkipStrategy
  val NoSkip: CepCore.NoSkip.type = CepCore.NoSkip
  val SkipToNext: CepCore.SkipToNext.type = CepCore.SkipToNext
  val SkipPastLastEvent: CepCore.SkipPastLastEvent.type = CepCore.SkipPastLastEvent

  /** Skip-to-variable strategies (reference AfterMatchSkipStrategy
    * .skipToFirst/.skipToLast): resume AT the first/last row the
    * variable matched in the emitted match.
    */
  def SkipToFirst(variable: String): CepCore.SkipToFirst =
    CepCore.SkipToFirst(variable)
  def SkipToLast(variable: String): CepCore.SkipToLast =
    CepCore.SkipToLast(variable)

  type Step = CepCore.Step[Event]
  type Group = CepCore.Group[Event]
  type SequencePattern = CepCore.SequencePattern[Event]
  type PartialMatch = CepCore.PartialMatch[Event]
  type NfaState = CepCore.NfaState[Event]

  /** One pattern step. `times` (Pattern.times) asks for that many
    * consecutive occurrences — with `timesMax > times` it becomes the
    * range quantifier times(n, m) (n required + up to m-n more);
    * `optional` (Pattern.optional) lets the step match zero events;
    * `oneOrMore` (Pattern.oneOrMore) loops the step, reluctantly
    * unless `greedy` (Pattern.greedy); `until` (Pattern.until) stops a
    * loop; `negated` forbids (notNext/notFollowedBy); `anyMatch`
    * (Pattern.followedByAny) forks on every candidate; `consecutive` /
    * `combinations` pin or relax loop contiguity (Pattern.consecutive
    * / Pattern.allowCombinations).
    */
  def Step(
      name: String,
      predicate: Event => Boolean,
      times: Int = 1,
      optional: Boolean = false,
      oneOrMore: Boolean = false,
      greedy: Boolean = false,
      timesMax: Int = 0,
      until: Option[Event => Boolean] = None,
      negated: Boolean = false,
      anyMatch: Boolean = false,
      consecutive: Boolean = false,
      combinations: Boolean = false
  ): Step =
    CepCore.Step[Event](name, (_, e) => predicate(e), times, optional,
      oneOrMore, greedy, timesMax, until, negated, anyMatch, consecutive,
      combinations)

  /** A step whose predicate also sees the PREVIOUS row in the
    * partition (`None` for the partition's first row) — the Scala-API
    * form of SQL MATCH_RECOGNIZE PREV navigation (`DEFINE UP AS
    * value > PREV(value)`; reference: MatchCodeGenerator.scala,
    * FlinkSqlOperatorTable.java:1147-1151). PREV is physical: the
    * prior input row in the ordered partition, matched or not.
    */
  def StepPrev(
      name: String,
      predicate: (Option[Event], Event) => Boolean,
      times: Int = 1,
      optional: Boolean = false,
      oneOrMore: Boolean = false,
      greedy: Boolean = false,
      timesMax: Int = 0
  ): Step =
    CepCore.Step[Event](name, predicate, times, optional, oneOrMore, greedy,
      timesMax, needsPrev = true)

  /** A sub-sequence as one pattern unit (reference GroupPattern.java):
    * `Group(Seq(a, b), oneOrMore = true)` is `(A B)+` — reluctant, one
    * match emitted per completed iteration count; `times = n` repeats
    * the whole group exactly n times.
    */
  def Group(steps: Seq[Step], oneOrMore: Boolean = false, times: Int = 1): Group =
    CepCore.Group[Event](steps, oneOrMore, times)

  /** Grouped alternation as ONE ordered-choice step — the Scala-API
    * form of SQL `(A|B)` with an optional quantifier (reference: the
    * Calcite row-pattern grammar's grouped alternation). Each consumed
    * row is labeled with the FIRST choice whose predicate accepts, so
    * a quantified choice (`oneOrMore`, `times`) may take a different
    * variable on every iteration — unlike `orElse` branch alternation,
    * which fixes one alternative per match.
    */
  def Choice(
      choices: Seq[(String, Event => Boolean)],
      times: Int = 1,
      optional: Boolean = false,
      oneOrMore: Boolean = false,
      greedy: Boolean = false,
      timesMax: Int = 0
  ): Step = {
    require(choices.nonEmpty, "a choice step needs at least one choice")
    val lifted = choices.map { case (n, p) =>
      (n, (_: Option[Event], e: Event) => p(e))
    }
    CepCore.Step[Event](
      choices.map(_._1).mkString("|"),
      (prev, e) => lifted.exists(_._2(prev, e)),
      times, optional, oneOrMore, greedy, timesMax,
      choices = lifted)
  }

  /** A sequence pattern: elements (steps or groups) matched in order;
    * `strict` demands the very next event match (Flink `next`),
    * otherwise non-matching events in between are skipped
    * (`followedBy`). Quantified times(n) steps are expanded to n
    * consecutive copies.
    */
  def SequencePattern(
      steps: Seq[CepCore.Elem[Event]],
      withinMs: Long,
      strict: Boolean,
      skip: SkipStrategy = NoSkip,
      orElse: Seq[Seq[CepCore.Elem[Event]]] = Nil,
      excluded: Set[String] = Set.empty
  ): SequencePattern =
    CepCore.SequencePattern[Event](steps, withinMs, strict, skip, orElse,
      excluded)

  def NfaState(partials: Seq[PartialMatch], nextSeq: Long): NfaState =
    CepCore.NfaState[Event](partials, nextSeq, None)

  final case class Match(key: Long, start_ts: Long, end_ts: Long, event_ids: Seq[Long],
      step_names: Seq[String])

  private val tsMs: Event => Long = _.ts.getTime

  private def toMatch(key: Long, m: CepCore.Match[Event]): Match =
    Match(key, m.start_ts, m.end_ts, m.rows.map(_.event_id), m.labels)

  /** Advance the NFA over time-ordered events, returning completed
    * matches (in emission order) and the surviving state.
    */
  def advance(
      pattern: SequencePattern,
      key: Long,
      events: Seq[Event],
      initial: NfaState
  ): (Seq[Match], NfaState) = {
    val (ms, st) = CepCore.advance(pattern, events, initial, tsMs)
    (ms.map(toMatch(key, _)), st)
  }

  /** End-of-input flush: retire every pending partial, emitting
    * completable greedy loops under the pattern's skip strategy.
    */
  def flush(pattern: SequencePattern, key: Long, st: NfaState): Seq[Match] =
    CepCore.flush(pattern, st).map(toMatch(key, _))

  /** Batch detection: each key's events processed in event-time order,
    * then pending greedy loops flushed at end-of-input (bounded data
    * has a real end).
    *
    * Hot-key safe: instead of flatMapGroups (which would materialize a
    * key's FULL event history in one task's memory — a hot key with
    * 10^8 events is an OOM, the skew shape Reshape exists for), the
    * events are secondary-sorted (repartition by key, disk-backed
    * sortWithinPartitions by key/time) and scanned per partition by
    * [[CepCore.scanSortedPartition]], one NFA step per event.
    */
  def detectBatch(events: Dataset[Event], pattern: SequencePattern,
      pinParallelism: Boolean = true): Dataset[Match] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.col
    // r21: explicit partition count — the NFA scan is per-row CPU
    // (row→case-class conversion + predicate steps), and AQE's
    // byte-based coalescing would fold a few MB of events into 1-2
    // tasks, serializing it (paired A/B: double_error 0.81x r21, and
    // 1.27x when the pin was removed in an r22 trial). r22:
    // `pinParallelism` lets a caller whose COST IS DOWNSTREAM of the
    // NFA (the MEASURES pipeline — explode + event join + per-match
    // re-group) opt out for bounded patterns, where the pin only
    // bought scheduling overhead (nav_measures 1.22-1.35x r21, 0.87x
    // once unpinned): see MatchRecognize.detectBatchWithMeasures,
    // which passes pattern.cpuBoundNfa.
    val keyed =
      if (pinParallelism)
        events.repartition(
          events.sparkSession.sessionState.conf.numShufflePartitions,
          col("user_id"))
      else events.repartition(col("user_id"))
    keyed
      // Timestamp columns order by micros == (getTime, getNanos) here
      // (Catalyst precision is micros), so this matches
      // StreamingOps.eventOrder
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .mapPartitions { rows =>
        CepCore.scanSortedPartition(pattern, rows, (e: Event) => e.user_id,
          tsMs) { (key, m, _) => Seq(toMatch(key, m)) }
      }
  }

  /** Streaming detection: partial matches survive across micro-batches
    * in keyed state. Events are ordered within each batch; cross-batch
    * order is arrival order (pair with a watermark-sorted upstream for
    * strict event-time guarantees). Pending greedy loops emit when the
    * loop breaks or `within` expires — an unbounded stream never ends.
    *
    * State caveat for PREV patterns: a pattern whose DEFINE navigates
    * to PREV keeps one row (the key's last) in state even when no
    * partials survive, and this variant has no timer facility
    * (NoTimeout) to retire idle cells — state grows with key
    * cardinality. For unbounded key spaces use
    * [[detectStreamExpiring]] / [[detectStreamOrdered]], whose
    * watermark timers drop a prev-only cell once it has been idle a
    * full `within` horizon.
    */
  def detectStream(events: Dataset[Event], pattern: SequencePattern): Dataset[Match] = {
    import events.sparkSession.implicits._
    perUser[NfaState, Match](events, None) { (key, rows, prior, _) =>
      val (matches, st) = advance(pattern, key, rows, prior.getOrElse(NfaState(Seq.empty, 0L)))
      // no live partials → drop the key's state entirely; the seq
      // counter may reset, which is safe because skip-strategy
      // comparisons only ever involve live partials. A pattern using
      // PREV keeps one row (the key's last) in state instead — physical
      // navigation must survive micro-batch boundaries.
      Keyed(Some(st).filter(_ => st.partials.nonEmpty || pattern.needsPrev), matches)
    }
  }

  /** [[detectStream]] with watermark-driven state expiry: a key that
    * stops receiving events still retires its partials once the
    * watermark passes their `within` horizon — pending greedy loops
    * emit their match, everything else is dropped, and the key's state
    * cell is freed. Without this a dead key would hold partial-match
    * state forever (the reference clears NFA state through the same
    * within timers its PatternStream registers).
    */
  def detectStreamExpiring(
      events: Dataset[Event],
      pattern: SequencePattern,
      watermarkDelay: String
  ): Dataset[Match] = {
    import events.sparkSession.implicits._
    perUser[NfaState, Match](events, Some(watermarkDelay)) { (key, rows, prior, wm) =>
      // every arrival is released, nothing is buffered
      val step = CepCore.watermarkStep(pattern, Seq.empty, rows,
        prior.getOrElse(NfaState(Seq.empty, 0L)), wm.get, releaseAll = true, eventOrder, tsMs)
      Keyed(step.state.map(_._1), step.out.map(toMatch(key, _)), step.wakeAt)
    }
  }

  /** Keyed state for [[detectStreamOrdered]]: the not-yet-ripe event
    * buffer plus the NFA over the already-released prefix.
    */
  final case class OrderedNfaState(buffer: Seq[Event], nfa: NfaState)

  /** Out-of-order streaming CEP: one stateful operator that buffers
    * each key's events until the watermark passes them, releases them
    * into the NFA in strict event-time order, and expires partials per
    * `within` — the reference CepOperator's design, which buffers
    * out-of-order elements internally and processes them on watermark
    * (reference: flink-cep/.../operator/CepOperator.java
    * bufferEvent/processElement + onEventTime advancing the NFA in
    * timestamp order). Arrival order within the watermark delay no
    * longer affects the match set; events later than the delay are
    * dropped by the watermark like any late data.
    *
    * Buffered state per key is bounded by the watermark delay; NFA
    * partials are bounded by `within` — nothing grows with the
    * stream's length.
    */
  def detectStreamOrdered(
      events: Dataset[Event],
      pattern: SequencePattern,
      watermarkDelay: String
  ): Dataset[Match] = {
    import events.sparkSession.implicits._
    perUser[OrderedNfaState, Match](events, Some(watermarkDelay)) { (key, rows, prior, wm) =>
      val st0 = prior.getOrElse(OrderedNfaState(Seq.empty, NfaState(Seq.empty, 0L)))
      val step = CepCore.watermarkStep(pattern, st0.buffer, rows, st0.nfa, wm.get,
        releaseAll = false, eventOrder, tsMs)
      Keyed(step.state.map { case (nfa, buf) => OrderedNfaState(buf, nfa) },
        step.out.map(toMatch(key, _)), step.wakeAt)
    }
  }
}
