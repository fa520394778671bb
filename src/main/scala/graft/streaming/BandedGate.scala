package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one stateful step under the six banded dedup gates
  * ([[StreamingNearDup]], [[StreamingAudioDedup]],
  * [[StreamingImageDedup]], [[StreamingSemDedup]],
  * [[StreamingSemDedupPq]], [[StreamingContainment]]): a streaming
  * similarity join of every arriving row against the entries already
  * stored under the same `Long` key — an LSH band, a fingerprint
  * block, a sign-LSH cell, a trigram hash. A gate supplies only how it
  * derives its rows, how a row is compared with an entry, and which
  * rows probe and which store ([[Rule]]).
  *
  * State design (the 100 TB story): state is keyed by the same key the
  * batch join buckets or shuffles on, so it shards with the shuffle and
  * a hot key never concentrates more than its own bucket. Each key keeps
  * at most `maxPerKey` entries, newest-first (the bounded-candidates rule
  * banding gives the batch side), so per-key state is bounded regardless
  * of stream length. `stateTtlMs > 0` drops a key idle longer than the
  * TTL wholesale (processing-time timeout, the [[StreamingDedup]]
  * horizon rule), so the key count is bounded too: total state is
  * O(active keys · maxPerKey), not one entry per row ever seen.
  *
  * Within a batch, a key's rows run in row-id order (a stable sort, the
  * SessionProcessor sort-by-offset rule), so emissions are arrival-order
  * deterministic under replay. A probing row is compared with the
  * stored entries newest-first, skipping its own id; a storing row then
  * goes in front with ONE SLOT PER ID: a redelivered or replayed row
  * replaces its earlier copy instead of taking a second slot (evicting
  * distinct candidates early) or emitting duplicate pairs against its
  * own stale copy. Compare-before-store means a same-batch pair emits
  * from the later id only. */
object BandedGate {

  /** One gate's per-row semantics over rows `R`, stored entries `S` and
    * emissions `O`: `id` and `entryId` name the row and the entry,
    * `hit` is the match test with its threshold, `entry` is what a row
    * stores (`None`: it only probes), and `probes` marks the rows that
    * are compared at all (the others only store). */
  final case class Rule[R, S, O](
      id: R => Long,
      entryId: S => Long,
      entry: R => Option[S],
      hit: (R, S) => Option[O],
      probes: R => Boolean = (_: R) => true)

  /** One key's batch: `rows` against the stored entries `seen`, newest
    * first. Returns the emissions and the entries to store. */
  def step[R, S, O](rule: Rule[R, S, O], maxPerKey: Int, rows: Seq[R],
      seen: List[S]): (Seq[O], List[S]) = {
    var kept = seen
    val out = Seq.newBuilder[O]
    rows.sortBy(rule.id).foreach { r =>
      val id = rule.id(r)
      if (rule.probes(r)) kept.foreach { s =>
        if (rule.entryId(s) != id) out ++= rule.hit(r, s)
      }
      rule.entry(r).foreach { s =>
        kept = (s :: kept.filterNot(rule.entryId(_) == id)).take(maxPerKey)
      }
    }
    (out.result(), kept)
  }

  /** The `flatMapGroupsWithState` function: a timed-out key is removed
    * and emits nothing; otherwise [[step]], then store and re-arm the
    * TTL. */
  private[graft] def update[R, S, O](rule: Rule[R, S, O], maxPerKey: Int,
      stateTtlMs: Long)(rows: Iterator[R], state: GroupState[List[S]])
      : Iterator[O] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val (out, seen) =
        step(rule, maxPerKey, rows.toSeq, state.getOption.getOrElse(Nil))
      state.update(seen)
      if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
      out.iterator
    }

  /** The gate: `rows` grouped by `key`, each key's state a
    * `List[S]` of at most `maxPerKey` entries. */
  def attach[R, S, O](rows: Dataset[R], key: R => Long, rule: Rule[R, S, O],
      maxPerKey: Int, stateTtlMs: Long)(
      implicit stateEnc: Encoder[List[S]], outEnc: Encoder[O]): Dataset[O] = {
    import rows.sparkSession.implicits._
    LocalCheckpointFiles.install(rows.sparkSession)
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    rows.groupByKey(key)
      .flatMapGroupsWithState[List[S], O](OutputMode.Append(), timeout) {
        (_, in, state) => update(rule, maxPerKey, stateTtlMs)(in, state)
      }
  }
}
