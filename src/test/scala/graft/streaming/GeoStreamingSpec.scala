package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Stream/batch parity for the GEODESIC coincidence family: the streaming
  * clusterer applies the C1 chord-distance/ToF criterion online (the
  * reference's coincidencefilter next_match) and must reproduce the batch
  * `coincidence_geo` components exactly on the real corpus. */
class GeoStreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val S = 1000000000L
  private val B = 1000L * S
  private val gap = graft.Detector.GapNs // 30 s; criterion MaxTime = 60 s

  // Scaled-criterion geometry used below: stations 0 and 1 are one grid
  // step apart (Δlat 0.02° ≈ 2.22 km ⇒ ToF ≈ 22.2 s at the scaled speed);
  // same-station pairs have dist 0 ⇒ the 5 s MinTof floor applies.

  test("criterion in addEvent: invalid edge opens a new component") {
    val crit = (a: GeoMember, b: GeoMember) =>
      StreamingGeoCoincidence.validEdge(a, b)
    var ss = StreamingGeoCoincidence.addEvent(Nil, StreamHit(1, 0, B), gap, crit)
    // Δt 25 s > ToF 22.2 s: same gap-session, but criterion-invalid →
    // separate component (the reference opens a new constructor)
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(2, 1, B + 25 * S), gap, crit)
    assert(ss.size == 1 && ss.head.comps.size == 2)
    // Δt(3,1) = 10 s < 22.2 s valid; Δt(3,2) = 15 s but same station as 2
    // ⇒ MinTof floor 5 s ⇒ invalid: joins event 1's component only
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(3, 1, B + 10 * S), gap, crit)
    assert(ss.head.comps.size == 2)
    assert(ss.head.comps.map(_.members.map(_.eventId).sorted).toSet ==
      Set(List(1L, 3L), List(2L)))
  }

  test("criterion bridge-merge: one event unions two open components") {
    val crit = (a: GeoMember, b: GeoMember) =>
      StreamingGeoCoincidence.validEdge(a, b)
    var ss = StreamingGeoCoincidence.addEvent(Nil, StreamHit(1, 0, B), gap, crit)
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(2, 1, B + 25 * S), gap, crit)
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(3, 1, B + 10 * S), gap, crit)
    assert(ss.head.comps.size == 2) // {1,3} and {2}
    // event 4 at station 0, t+20: to 1 — same station, Δt 20 > 5 s floor ⇒
    // invalid; to 2 — Δt 5 s < 22.2 valid; to 3 — Δt 10 s < 22.2 valid →
    // matches BOTH components through different members ⇒ bridge-merge
    // (the reference's erase-and-merge loop)
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(4, 0, B + 20 * S), gap, crit)
    assert(ss.head.comps.size == 1)
    assert(ss.head.comps.head.members.map(_.eventId).sorted ==
      List(1L, 2L, 3L, 4L))
  }

  test("session bridge rebuild: unscored cross-session edge is recovered") {
    val crit = (a: GeoMember, b: GeoMember) =>
      StreamingGeoCoincidence.validEdge(a, b)
    // events 1 (st 0, t 0) and 2 (st 3, t 50 s) open two sessions
    // (50 > 30 gap); their edge (Δt 50 s < ToF(0,3) ≈ 66.8 s ⇒ VALID) was
    // never scored. Event 3 (st 4, t 20 s) bridges the sessions; it is
    // valid to 1 (Δt 20 < ToF(0,4) ≈ 89 s) but invalid to 2
    // (Δt 30 > ToF(3,4) ≈ 22.3 s). A naive incremental merge would leave
    // {1,3},{2}; the rebuild must recover the 1–2 edge → one component.
    var ss = StreamingGeoCoincidence.addEvent(Nil, StreamHit(1, 0, B), gap, crit)
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(2, 3, B + 50 * S), gap, crit)
    assert(ss.size == 2)
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(3, 4, B + 20 * S), gap, crit)
    assert(ss.size == 1)
    assert(ss.head.comps.map(_.members.map(_.eventId).sorted).toSet ==
      Set(List(1L, 2L, 3L)))
  }

  /** Batch ground truth: the coincidence_geo query rows (n ≥ 2). */
  private def batchGeo(dir: String): Set[(Long, Long, Long, Long, Boolean)] =
    graft.Geodesic.queries("coincidence_geo")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet

  private def corpusHits(dir: String): Seq[StreamHit] = {
    import spark.implicits._
    // same µs truncation as the batch geo query (events.ts is ns parquet)
    graft.Tables.events(spark, dir)
      .selectExpr("event_id", "user_id AS station",
        "(ts div 1000) * 1000 AS start_ns")
      .as[(Long, Long, Long)].collect()
      .map { case (id, st, t) => StreamHit(id, st, t) }.toSeq
  }

  private def runGeoStream(rows: Seq[StreamHit], bucketNs: Long)
      : Seq[EmittedGeoCluster] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamHit]
    val out = StreamingGeoCoincidence.clusterStream(mem.toDS(),
      gapNs = gap, bucketNs = bucketNs, watermarkDelay = "0 seconds")
    val name = s"geoparity_$bucketNs"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      mem.addData(StreamHit(-1L, 999L, rows.map(_.startNs).max + gap * 1000))
      q.processAllAvailable()
      mem.addData(StreamHit(-2L, 999L, rows.map(_.startNs).max + gap * 2000))
      q.processAllAvailable()
      spark.table(name).as[EmittedGeoCluster].collect().toSeq
        .filter(c => !c.members.exists(_.station == 999L))
    } finally q.stop()
  }

  test("stream/batch geodesic parity on the real sf0.001 corpus") {
    val dir = "/root/testdata/sf0.001"
    val batch = batchGeo(dir)
    val got = runGeoStream(corpusHits(dir), bucketNs = Long.MaxValue / 4)
      .filter(_.n >= 2)
      .map(c => (c.clusterStart, c.clusterEnd, c.n, c.nStations,
        c.conflicting)).toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("checkpoint recovery: open geodesic sessions survive a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("geockpt").toString
    val mem = MemoryStream[StreamHit]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[EmittedGeoCluster]()
    def start() = StreamingGeoCoincidence.clusterStream(mem.toDS(),
        gapNs = gap, bucketNs = Long.MaxValue / 4,
        watermarkDelay = "0 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EmittedGeoCluster],
                       _: Long) =>
        batch.collect().foreach(seen.add)
      }
      .start()
    val q1 = start()
    try {
      // open a session with two criterion-valid members, leave it open
      mem.addData(StreamHit(1, 0, B), StreamHit(2, 1, B + 10 * S))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // after restart, a third member must land in the SAME component
      // (state restored), then a far sentinel seals it
      mem.addData(StreamHit(3, 1, B + 15 * S))
      q2.processAllAvailable()
      mem.addData(StreamHit(-1L, 999L, B + 100000 * S))
      q2.processAllAvailable()
      mem.addData(StreamHit(-2L, 999L, B + 200000 * S))
      q2.processAllAvailable()
      val got = seen.toArray(Array.empty[EmittedGeoCluster])
        .filter(c => !c.members.exists(_.station == 999L) && c.n >= 2)
      // e3: Δt to e1 = 15 s < ToF(0,1) ≈ 22.2 s valid; to e2 same-station
      // Δt 5 s = MinTof floor 5 s → NOT strictly below → invalid edge,
      // but transitivity through e1 holds the component together
      assert(got.map(c => (c.n, c.members.map(_.eventId).sorted)).toSeq ==
        Seq((3L, List(1L, 2L, 3L))))
    } finally q2.stop()
  }

  /** One-bucket clusterStream with a 10 s delay on `s`, every emitted
    * cluster recorded with the id of the micro-batch that emitted it. */
  private def startDelayed(s: SparkSession, mem: MemoryStream[StreamHit],
                           seen: ConcurrentLinkedQueue[(Long, EmittedGeoCluster)])
      : StreamingQuery =
    StreamingGeoCoincidence.clusterStream(mem.toDS(), gapNs = gap,
        bucketNs = Long.MaxValue / 4, watermarkDelay = "10 seconds")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[EmittedGeoCluster], id: Long) =>
        batch.collect().foreach(c => seen.add((id, c)))
      }
      .start()

  test("eager seal: a session closed by a later hit emits in that hit's batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamHit]
    val seen = new ConcurrentLinkedQueue[(Long, EmittedGeoCluster)]()
    val q = startDelayed(spark, mem, seen)
    try {
      mem.addData(StreamHit(1, 0, B), StreamHit(2, 1, B + 10 * S))
      q.processAllAvailable()
      assert(seen.isEmpty)
      // same bucket, 190 s later: newest − delay passes the session's
      // deadline (maxStart + 30 s gap)
      mem.addData(StreamHit(3, 999, B + 200 * S))
      q.processAllAvailable()
      val t0 = System.nanoTime()
      def hitBatch = q.recentProgress.find(_.numInputRows == 1).map(_.batchId)
      while (hitBatch.isEmpty && System.nanoTime() - t0 < 10 * S) Thread.sleep(20)
      // watermark-only sealing emits the same members, but only from the
      // next batch, once the watermark has caught up with hit 3
      assert(seen.asScala.toSeq.map { case (id, c) =>
        (id, c.members.map(_.eventId)) } == Seq((hitBatch.get, List(1L, 2L))))
    } finally q.stop()
  }

  test("late hit: more than the delay behind the bucket's newest is dropped") {
    // no no-data batches: each addData is one batch, so Spark's own late
    // filter still holds the previous batch's low watermark
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[StreamHit]
    val seen = new ConcurrentLinkedQueue[(Long, EmittedGeoCluster)]()
    val q = startDelayed(s, mem, seen)
    try {
      mem.addData(StreamHit(1, 0, B), StreamHit(2, 1, B + 10 * S))
      q.processAllAvailable()
      mem.addData(StreamHit(-1L, 999L, B + 200 * S)) // seals {1, 2}
      q.processAllAvailable()
      // criterion-valid to 1 and inside {1, 2}'s gap, but 185 s behind
      // the bucket's newest hit: it must not reopen or fragment {1, 2}
      mem.addData(StreamHit(3, 1, B + 15 * S))
      q.processAllAvailable()
      mem.addData(StreamHit(-2L, 999L, B + 100000 * S))
      q.processAllAvailable()
      mem.addData(StreamHit(-3L, 999L, B + 200000 * S))
      q.processAllAvailable()
      val got = seen.asScala.toSeq.map(_._2)
        .filter(c => !c.members.exists(_.station == 999L))
      assert(got.map(_.members.map(_.eventId)) == Seq(List(1L, 2L)))
    } finally q.stop()
  }

  test("bucket-boundary compaction restores batch geodesic components") {
    val dir = "/root/testdata/sf0.001"
    val batch = batchGeo(dir)
    // 90-second buckets deliberately split sessions at boundaries
    val frags = runGeoStream(corpusHits(dir), bucketNs = 3 * gap)
    val compacted = StreamingGeoCoincidence.compactGeoClusters(frags, gap)
      .filter(_.n >= 2)
      .map(c => (c.clusterStart, c.clusterEnd, c.n, c.nStations,
        c.conflicting)).toSet
    assert(compacted == batch)
    // the fragments alone must NOT already match — the pass does real work
    assert(frags.filter(_.n >= 2)
      .map(c => (c.clusterStart, c.clusterEnd, c.n, c.nStations,
        c.conflicting)).toSet != batch)
  }
}
