package graft.streaming

import graft.{Detector, Geodesic}
import graft.functions.Geo
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One clustered hit (station key carries the position — the grid of
  * Geodesic.stationLat/Lon/H derives lat/lon/h deterministically). */
case class GeoMember(eventId: Long, station: Long, startNs: Long)

/** One open criterion component (a reference `event_constructor`,
  * coincidencefilter.h:41-47). */
case class OpenGeoComp(members: List[GeoMember])

/** One open gap-session: the candidate pool for criterion matching. The
  * session layer is load-bearing for batch parity — the batch engine
  * evaluates the C1 criterion WITHIN gap-sessions (Geodesic.geoComps), and
  * criterion edges longer than the session gap (Δt ∈ (gap, maxTime]) must
  * NOT connect events the gap rule separates. */
case class OpenGeoSession(minStart: Long, maxStart: Long, timeoutNs: Long,
                          comps: List[OpenGeoComp])

/** Keyed state: the open sessions of one time bucket. */
case class GeoBucketState(sessions: List[OpenGeoSession])

/** An emitted geodesic coincidence component. Members ride along (sorted
  * by eventId) so bucket-boundary compaction can re-evaluate the criterion
  * across fragments; singletons ARE emitted for the same reason, and sinks
  * filter n ≥ 2 exactly as the reference's sinks do. */
case class EmittedGeoCluster(clusterStart: Long, clusterEnd: Long, n: Long,
                             nStations: Long, conflicting: Boolean,
                             members: List[GeoMember])

/** Structured-Streaming GEODESIC coincidence clustering — the event-time
  * lift of the reference's online filter WITH the space-time criterion
  * (reference src/analysis/coincidencefilter.cpp:94-143: each incoming
  * event is scored against every open constructor via
  * `m_criterion->apply`, joins the first match, and bridge-merges every
  * further match; constructors seal on timeout).
  *
  * Two-level state per time bucket:
  *   - gap-sessions (the simple rule of StreamingCoincidence) bound the
  *     candidate pool and the sealing deadline;
  *   - within a session, components are built incrementally by scoring
  *     each event against the open components' members with the C1
  *     chord-distance/ToF criterion (positions derived from the station
  *     key) — `addEvent` mirrors the reference's next_match loop
  *     including the transitive bridge-merge.
  *
  * Sealing is eager, like the reference's constructor timeout: a session
  * seals in the micro-batch whose hits close it, not one batch later when
  * the event-time watermark catches up. The watermark delay is the
  * lateness bound for each bucket's newest held hit (see [[clusterStream]]).
  *
  * Sealed output equals the batch `coincidence_geo` components exactly
  * (GeoStreamingSpec proves it on the sf0.001 corpus); clusters split by
  * a bucket boundary are restored by [[compactGeoClusters]], which pools
  * fragment members and re-runs the same session + criterion rules.
  */
object StreamingGeoCoincidence {

  /** Station-key grid position (scalar twin of Geodesic.stationLat/Lon/H;
    * ECEF through the same Geo.toEcef kernel, so the chord distance is
    * bit-identical to the batch column expressions). */
  private[streaming] def stationEcef(st: Long): (Double, Double, Double) =
    Geo.toEcef(50.0 + (st % 10) * 0.02,
      10.0 + ((st / 10) % 10) * 0.03,
      100.0 + (st % 7) * 10.0)

  /** C1 valid-edge test between two members (scaled constants by default,
    * like the batch operator; reference src/analysis/coincidence.cpp:14-27
    * — score > 0 ⇔ Δt below the pair's time-of-flight window). */
  private[streaming] def validEdge(a: GeoMember, b: GeoMember,
                                   speedMPerNs: Double = Geodesic.SpeedMPerNs,
                                   minTofNs: Double = Geodesic.MinTofNs,
                                   maxTimeNs: Long = Geodesic.MaxTimeNs): Boolean = {
    val delta = math.abs(a.startNs - b.startNs)
    if (delta > maxTimeNs) false
    else {
      val (xa, ya, za) = stationEcef(a.station)
      val (xb, yb, zb) = stationEcef(b.station)
      val dx = xa - xb; val dy = ya - yb; val dz = za - zb
      val dist = math.sqrt(dx * dx + dy * dy + dz * dz)
      delta.toDouble < math.max(dist / speedMPerNs, minTofNs)
    }
  }

  /** Merge an event into the open-session set, scoring component
    * membership with the criterion (the reference's process(event):
    * join the first matching constructor, bridge-merge every further
    * match, open a new constructor when none match —
    * coincidencefilter.cpp:96-143).
    *
    * Invariant: each open session's comps are exactly the connected
    * components of the criterion-edge graph over its members. The common
    * path (event lands in ≤ 1 session) preserves it incrementally —
    * scoring the event against every open component's members is the
    * reference's next_match loop, and edges between EXISTING members are
    * unchanged. An out-of-order event that bridges ≥ 2 open sessions
    * voids the induction (cross-session member pairs were never scored:
    * a Δt ∈ (gap, maxTime] edge can connect them), so that rare path
    * rebuilds components from the pooled members. */
  private[streaming] def addEvent(sessions: List[OpenGeoSession],
                                  e: StreamHit, gapNs: Long,
                                  crit: (GeoMember, GeoMember) => Boolean)
      : List[OpenGeoSession] = {
    val m = GeoMember(e.eventId, e.station, e.startNs)
    val (touching, rest) = sessions.partition(s =>
      e.startNs >= s.minStart - gapNs && e.startNs <= s.maxStart + gapNs)
    val comps =
      if (touching.size <= 1) {
        val pooled = touching.flatMap(_.comps)
        // next_match over every open constructor; all matches bridge-merge
        val (matched, others) = pooled.partition(_.members.exists(crit(m, _)))
        OpenGeoComp(m :: matched.flatMap(_.members)) :: others
      } else
        rebuildComps(m :: touching.flatMap(_.comps.flatMap(_.members)), crit)
    OpenGeoSession(
      (e.startNs :: touching.map(_.minStart)).min,
      (e.startNs :: touching.map(_.maxStart)).max,
      (gapNs :: touching.map(_.timeoutNs)).max,
      comps) :: rest
  }

  /** Full criterion union-find over one session's members (the
    * session-bridge repair path and the compaction path share it). */
  private def rebuildComps(members: List[GeoMember],
                           crit: (GeoMember, GeoMember) => Boolean)
      : List[OpenGeoComp] = {
    val hs = members.sortBy(_.eventId).toArray
    val n = hs.length
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var r = i; while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (crit(hs(i), hs(j))) {
          val ri = find(i); val rj = find(j)
          if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
        }
        j += 1
      }
      i += 1
    }
    hs.indices.groupBy(find).valuesIterator
      .map(idx => OpenGeoComp(idx.map(hs).toList)).toList
  }

  private def emit(s: OpenGeoSession): Iterator[EmittedGeoCluster] =
    s.comps.iterator.map { c =>
      val starts = c.members.map(_.startNs)
      val nSt = c.members.map(_.station).distinct.size.toLong
      EmittedGeoCluster(starts.min, starts.max, c.members.size.toLong, nSt,
        c.members.size > nSt, c.members.sortBy(_.eventId))
    }

  /** The streaming query: keyed by time bucket, each sealed session
    * emitting its criterion components.
    *
    * With `horizon` = max(watermark, newest hit held for the bucket −
    * `watermarkDelay`), a session seals once maxStart + timeout < horizon,
    * in the batch that folds the hit moving the horizon past it. A hit
    * more than `watermarkDelay` behind the bucket's newest held hit (as
    * held before its batch's fold) is dropped as late: it could touch a
    * session already emitted. Spark applies the same rule one batch later
    * (it filters late rows against the previous batch's watermark), so
    * for hits no later than the delay the clusters equal the
    * watermark-only sealing and only the emitting batch moves. */
  def clusterStream(hits: Dataset[StreamHit],
                    gapNs: Long = Detector.GapNs,
                    bucketNs: Long = Detector.BucketNs,
                    watermarkDelay: String = "30 seconds",
                    speedMPerNs: Double = Geodesic.SpeedMPerNs,
                    minTofNs: Double = Geodesic.MinTofNs,
                    maxTimeNs: Long = Geodesic.MaxTimeNs)
      : Dataset[EmittedGeoCluster] = {
    val spark = hits.sparkSession
    import spark.implicits._
    // the delay exactly as withWatermark parses it
    val delayNs = EventTimeWatermark.getDelayMs(
      IntervalUtils.fromIntervalString(watermarkDelay)) * 1000000L
    hits
      .withColumn("ts", timestamp_micros(expr("startNs div 1000")))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey { case (_, _, startNs, _) => startNs / bucketNs }
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        processBucket(gapNs, delayNs, speedMPerNs, minTofNs, maxTimeNs))
  }

  private def processBucket(gapNs: Long, delayNs: Long, speedMPerNs: Double,
                            minTofNs: Double, maxTimeNs: Long)(
      key: Long,
      events: Iterator[(Long, Long, Long, java.sql.Timestamp)],
      state: GroupState[GeoBucketState]): Iterator[EmittedGeoCluster] = {
    val crit = (a: GeoMember, b: GeoMember) =>
      validEdge(a, b, speedMPerNs, minTofNs, maxTimeNs)
    val wmNs = state.getCurrentWatermarkMs() * 1000000L
    // newest held hit − delay; no hit held ⇒ no bound
    def horizon(ss: List[OpenGeoSession]): Long =
      ss.iterator.map(_.maxStart).maxOption.fold(Long.MinValue)(_ - delayNs)
    var sessions = state.getOption.map(_.sessions).getOrElse(Nil)
    val lateNs = horizon(sessions)

    if (!state.hasTimedOut)
      for ((eid, st, startNs, _) <- events if startNs >= lateNs)
        sessions = addEvent(sessions, StreamHit(eid, st, startNs), gapNs, crit)

    val sealNs = math.max(wmNs, horizon(sessions))
    val (closed, open) = sessions.partition(s => s.maxStart + s.timeoutNs < sealNs)
    if (open.isEmpty) state.remove()
    else {
      state.update(GeoBucketState(open))
      val deadlineMs = open.map(s => s.maxStart + s.timeoutNs).min / 1000000L + 1
      state.setTimeoutTimestamp(math.max(deadlineMs,
        state.getCurrentWatermarkMs() + 1))
    }
    closed.sortBy(_.minStart).iterator.flatMap(emit)
  }

  /** Union-find criterion components over one pooled session's members —
    * the same closure the batch path computes (Geodesic.components),
    * applied during boundary compaction. */
  private def componentsOf(members: Seq[GeoMember],
                           crit: (GeoMember, GeoMember) => Boolean)
      : Seq[EmittedGeoCluster] = {
    rebuildComps(members.toList, crit).map { c =>
      val starts = c.members.map(_.startNs)
      val nSt = c.members.map(_.station).distinct.size.toLong
      EmittedGeoCluster(starts.min, starts.max, c.members.size.toLong, nSt,
        c.members.size > nSt, c.members.sortBy(_.eventId))
    }
  }

  /** Bucket-boundary compaction: fragments whose envelopes chain under
    * the gap rule pool their members, are re-sessionized (gap rule over
    * the pooled member times), and each restored session re-runs the
    * criterion union-find — i.e. exactly the batch pipeline applied to
    * the tiny boundary set. Fragments in singleton groups pass through
    * untouched (within-bucket output is already exact). */
  def compactGeoClusters(frags: Seq[EmittedGeoCluster], gapNs: Long,
                         speedMPerNs: Double = Geodesic.SpeedMPerNs,
                         minTofNs: Double = Geodesic.MinTofNs,
                         maxTimeNs: Long = Geodesic.MaxTimeNs)
      : Seq[EmittedGeoCluster] = {
    if (frags.isEmpty) return Nil
    val crit = (a: GeoMember, b: GeoMember) =>
      validEdge(a, b, speedMPerNs, minTofNs, maxTimeNs)
    val sorted = frags.sortBy(f => (f.clusterStart, f.clusterEnd))
    val out = scala.collection.mutable.ArrayBuffer[EmittedGeoCluster]()
    var group = List(sorted.head)
    var gMax = sorted.head.clusterEnd

    def flush(): Unit = {
      if (group.size == 1) out += group.head
      else {
        // restore sessions over the pooled members, then components
        val pooled = group.flatMap(_.members).sortBy(m => (m.startNs, m.eventId))
        var sess = List.empty[List[GeoMember]]
        var cur = List(pooled.head)
        for (m <- pooled.tail) {
          if (m.startNs - cur.head.startNs > gapNs) { sess ::= cur.reverse; cur = Nil }
          cur ::= m
        }
        sess ::= cur.reverse
        out ++= sess.reverse.flatMap(componentsOf(_, crit))
      }
      ()
    }

    for (f <- sorted.tail) {
      if (f.clusterStart - gMax <= gapNs) { group ::= f; gMax = math.max(gMax, f.clusterEnd) }
      else { flush(); group = List(f); gMax = f.clusterEnd }
    }
    flush()
    out.toSeq
  }
}
