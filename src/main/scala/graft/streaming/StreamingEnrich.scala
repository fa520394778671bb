package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming as-of enrichment — the streaming counterpart of the batch
  * q42 as-of join, and the engine form of the reference's "look up the
  * latest stored result for this key" pattern (K2 retrieval,
  * `redis_queue.py:316-344`): one keyed stream carries both metric
  * UPDATES and REQUESTS; per-key state holds the newest metric, and
  * each request is answered with the latest metric at or before its
  * event time.
  *
  * Within a micro-batch, ticks process in (time, kind, value) order
  * with metrics before requests at the same timestamp — matching
  * q42's inclusive `req.t >= metric.t` convention. Duplicate metrics
  * at the same (key, timestamp) resolve to max(value), exactly q42's
  * pre-dedup rule, so stream and batch agree regardless of arrival
  * order. Across micro-batches the state carries forward; a metric
  * arriving LATER than an already-answered request is not retroactive
  * (same semantics as the reference's store: you read what has been
  * stored so far).
  */
object StreamingEnrich {

  final case class Tick(key: Long, tUs: Long, isReq: Boolean,
      value: Double, reqId: Long)

  final case class Enriched(reqId: Long, key: Long, tUs: Long,
      hasValue: Boolean, asofValue: Double, asofTUs: Long)

  final case class EnrichState(lastTUs: Long, lastVal: Double, has: Boolean)

  def attach(ticks: Dataset[Tick]): Dataset[Enriched] = {
    LocalCheckpointFiles.install(ticks.sparkSession)
    implicit val stateEnc = Encoders.product[EnrichState]
    implicit val outEnc = Encoders.product[Enriched]
    ticks.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[EnrichState, Enriched](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, gs: GroupState[EnrichState]) =>
          var st = gs.getOption.getOrElse(EnrichState(Long.MinValue, 0.0, false))
          val out = Seq.newBuilder[Enriched]
          it.toSeq.sortBy(t => (t.tUs, t.isReq, t.value)).foreach { t =>
            if (!t.isReq) {
              // strictly-newer wins; at an equal timestamp keep
              // max(value) — q42's same-(key,t) dedup rule
              if (t.tUs > st.lastTUs || !st.has ||
                  (t.tUs == st.lastTUs && t.value > st.lastVal))
                st = EnrichState(t.tUs, t.value, has = true)
            } else {
              val ok = st.has && st.lastTUs <= t.tUs
              out += Enriched(t.reqId, key, t.tUs, ok,
                if (ok) st.lastVal else 0.0,
                if (ok) st.lastTUs else Long.MinValue)
            }
          }
          gs.update(st)
          out.result().iterator
      }
  }
}
