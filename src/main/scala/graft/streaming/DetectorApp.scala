package graft.streaming

import graft.{Detector, Geodesic, SessHit, Wire}
import graft.functions.Kernel
import graft.operators.Sessionize
import graft.sources.MqttParser
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** One parsed, station-keyed wire hit entering the supervision chain. */
case class AppHit(station: Long, startNs: Long, timeAcc: Long, ublox: Int,
                  fix: Int)

/** Per-station supervision state for the composed DAG's gate stage: the
  * S4 detector-info completeness mask plus the R6 reliability fold. */
case class GateState(mask: Long, reg: StationState)

/** A formatted sink row of the composed DAG (uuid keys the cluster). */
case class SinkLine(uuid: Long, msg: String)

/** THE COMPOSED END-TO-END STREAMING DETECTOR APPLICATION — the
  * reference's entry-point wiring (reference src/application.cpp:68-250:
  * mqtt source → supervision::station (registry gate) →
  * supervision::timebase → coincidence_filter → event sink collection
  * with MQTT/ASCII formatters) as ONE standing Structured-Streaming DAG:
  *
  *   wire lines ─ parse (S1/S2, stateless scan)
  *     → per-station registry gate (R5 accept + S4 known-mask + R6
  *       reliability fold; flatMapGroupsWithState keyed by station —
  *       the supervision::station state machine)
  *     → geodesic coincidence clustering (C1/C4 criterion;
  *       StreamingGeoCoincidence, flatMapGroupsWithState keyed by time
  *       bucket — the coincidence_filter)
  *     → n ≥ 2 fan-out to the O3 MQTT-text and O4 ASCII sink formats
  *       (foreachBatch multicast, the sink::collection).
  *
  * Both stateful stages run INSIDE one streaming query (Spark ≥ 3.4
  * multiple-stateful-operator support; the gate is append-mode and
  * timeout-free, so no watermark crosses it).
  *
  * The SAME composition exists as batch queries (`detector_dag`,
  * `detector_dag_mqtt`, `detector_dag_ascii`) built from the batch
  * operators (MqttParser → per-station prefix fold → Sessionize →
  * Geodesic union-find), each with a full DuckDB oracle — the gate fold
  * is a recursive CTE. DetectorAppSpec pins stream == batch on the real
  * sf0.001 corpus at the sink-row level.
  *
  * Ordering note: the registry fold consumes each station's events in
  * event-time order within a micro-batch and in arrival order across
  * micro-batches — the reference's own semantics (its registry folds
  * MQTT arrival order). The batch twin folds the global event-time
  * order; the two agree whenever delivery is station-monotone (the
  * parity spec drives in-order delivery).
  *
  * 100 TB shape: parse is a stateless scan-stage projection; the gate
  * shuffles once on station (state = one tiny struct per station); the
  * clusterer shuffles once on time bucket (state bounded by the session
  * gap); the formatters are stateless projections of the emitted
  * clusters. No stage holds corpus-scale state.
  */
object DetectorApp {

  /** S4 completeness: 6 detinfo fields ⇒ mask 63 (batch R9 known set). */
  final val DetinfoFields = 6
  private final val FullMask = (1L << DetinfoFields) - 1
  /** R5 accept bound in wire units (events.value ≤ 50 ⇔ time_acc ≤ 500). */
  final val R5MaxTimeAcc = 500L

  private def initState =
    GateState(0L, StationState(0L, 0L, 0L, 0L, 0L, "created"))

  // ---- stage 1: wire parse (stateless; stream and batch share it) ----

  /** topic/payload lines → station-keyed hits. The numeric station id is
    * recovered from the topic's user token (`u<id>`) — the key the grid
    * positions and the batch geo family are defined over. */
  def parseStage(lines: DataFrame): Dataset[AppHit] = {
    val spark = lines.sparkSession
    import spark.implicits._
    graft.functions.PolyHash.register(spark)
    MqttParser.parseHits(lines)
      .select(
        expr("CAST(substring(user, 2) AS BIGINT)").as("station"),
        col("start_ns").as("startNs"),
        col("time_acc").as("timeAcc"),
        col("ublox_counter").as("ublox"),
        col("fix"))
      .filter(col("station").isNotNull)
      .as[AppHit]
  }

  // ---- stage 2: the per-station registry gate ----

  /** One supervision step (reference src/supervision/station.cpp:28-46):
    * fold the event into the detinfo mask and the R6 reliability state,
    * then decide forwarding — known (mask complete) AND classified
    * reliable AND past the R5 accept gate. Shared verbatim by the
    * streaming stage and the batch twin. */
  private[streaming] def gateFold(st: GateState, e: AppHit)
      : (GateState, Boolean) = {
    val mask = st.mask | (1L << (e.ublox % DetinfoFields).toInt)
    val reg = StreamingRegistry.fold(st.reg,
      StationEvent(e.station, e.startNs, e.timeAcc * 10, e.ublox.toLong))
    val forward = mask == FullMask && reg.status == "reliable" &&
      e.fix == 1 && e.timeAcc <= R5MaxTimeAcc
    (GateState(mask, reg), forward)
  }

  /** Deterministic member id for the clusterer (never exposed by a sink;
    * it only orders member lists). */
  private[streaming] def hitId(e: AppHit): Long = e.startNs + e.ublox

  /** In-batch fold order: event time, then the wire tiebreaks. */
  private[streaming] def foldKey(e: AppHit) =
    (e.startNs, e.ublox, e.timeAcc, e.fix)

  def gateStage(hits: Dataset[AppHit]): Dataset[StreamHit] = {
    val spark = hits.sparkSession
    import spark.implicits._
    hits.groupByKey(_.station)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[AppHit], state: GroupState[GateState]) => {
          var st = state.getOption.getOrElse(initState)
          val out = List.newBuilder[StreamHit]
          for (e <- it.toSeq.sortBy(foldKey)) {
            val (ns, fwd) = gateFold(st, e)
            st = ns
            if (fwd) out += StreamHit(hitId(e), e.station, e.startNs)
          }
          state.update(st)
          out.result().iterator
        })
  }

  // ---- stages 3+4: clustering and sink formats ----

  /** The composed stream: parse → gate → geodesic clusterer. */
  def composedStream(lines: DataFrame,
                     gapNs: Long = Detector.GapNs,
                     bucketNs: Long = Detector.BucketNs,
                     watermarkDelay: String = "30 seconds")
      : Dataset[EmittedGeoCluster] =
    StreamingGeoCoincidence.clusterStream(
      gateStage(parseStage(lines)), gapNs, bucketNs, watermarkDelay)

  /** O3 MQTT-text formatter over (uuid, n, station, start_ns) member
    * rows — identical string recipe to the batch `l1_mqtt_format`
    * (station hex, per-station truncated geohash, relative time). */
  private def mqttFormat(members: DataFrame): DataFrame =
    members
      .withColumn("lat", Geodesic.stationLat(col("station")))
      .withColumn("lon", Geodesic.stationLon(col("station")))
      .withColumn("_ghlen", (lit(4) + col("station") % 3).cast("int"))
      .select(col("uuid"),
        concat_ws(" ",
          format_string("%016x", col("station")),
          Kernel.geohash_enc(col("lat"), col("lon"), col("_ghlen")),
          col("n"),
          col("start_ns") - col("uuid"),
          col("start_ns")).as("msg"))

  /** n ≥ 2 MQTT fan-out of emitted clusters: one line per member; uuid =
    * the cluster's min member start (the batch formatter's cluster key). */
  def mqttLines(clusters: Dataset[EmittedGeoCluster]): DataFrame = {
    val spark = clusters.sparkSession
    import spark.implicits._
    mqttFormat(clusters.filter(_.n >= 2)
      .flatMap(c => c.members.map(m =>
        (c.clusterStart, c.n, m.station, m.startNs)))
      .toDF("uuid", "n", "station", "start_ns"))
  }

  /** n ≥ 2 ASCII fan-out (O4 shape): the valid-pair count is re-derived
    * from the members with the same C1 edge rule the clusterer applied —
    * the batch twin formats from the union-find's own n_valid, so the
    * parity spec cross-checks the two derivations. */
  def asciiLines(clusters: Dataset[EmittedGeoCluster]): DataFrame = {
    val spark = clusters.sparkSession
    import spark.implicits._
    clusters.filter(_.n >= 2).map { c =>
      val ms = c.members.toIndexedSeq
      var v = 0L
      for (i <- ms.indices; j <- i + 1 until ms.size)
        if (StreamingGeoCoincidence.validEdge(ms(i), ms(j))) v += 1
      SinkLine(c.clusterStart,
        "Event: n=%d %d/%d %s dt=%d".format(c.n, v, c.n * (c.n - 1) / 2,
          if (c.conflicting) "C" else "V", c.clusterEnd - c.clusterStart))
    }.toDF("uuid", "msg")
  }

  /** The standing application: file-source wire lines in, the two
    * formatted sink directories out (foreachBatch multicast — the
    * reference's sink::collection fan-out, O1).
    *
    * Sets `spark.sql.streaming.checkpointFileManagerClass` on the
    * caller's session to Spark's FileSystem-based checkpoint manager.
    * Spark's default commits every state delta and offset/commit log
    * file through Hadoop's FileContext, whose local filesystem, without
    * the native Hadoop library, forks `chmod`/`stat` processes about 20
    * times per file; the FileSystem manager writes the same files with a
    * rename and a fraction of the forks. */
  def run(spark: SparkSession, inDir: String, outDir: String,
          checkpointDir: String,
          trigger: Trigger = Trigger.ProcessingTime("10 seconds"))
      : StreamingQuery = {
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
    val lines = spark.readStream
      .schema("topic STRING, payload STRING")
      .json(inDir)
    composedStream(lines)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[EmittedGeoCluster], _: Long) =>
        val cached = batch.persist()
        mqttLines(cached).write.mode("append").parquet(s"$outDir/mqtt")
        asciiLines(cached).write.mode("append").parquet(s"$outDir/ascii")
        cached.unpersist()
        ()
      }
      .start()
  }

  // ---- the batch twin (driver-checked queries + the parity anchor) ----

  /** Batch gate: the identical prefix fold per station, over the global
    * event-time order. */
  private[streaming] def batchGated(s: SparkSession, dir: String): Dataset[StreamHit] = {
    import s.implicits._
    parseStage(Wire.wireLinesPublic(s, dir))
      .groupByKey(_.station)
      .flatMapGroups { (_: Long, it: Iterator[AppHit]) =>
        var st = initState
        it.toSeq.sortBy(foldKey).flatMap { e =>
          val (ns, fwd) = gateFold(st, e)
          st = ns
          if (fwd) Some(StreamHit(hitId(e), e.station, e.startNs)) else None
        }.iterator
      }
  }

  /** Batch clustering of the gated hits: the REAL batch geo pipeline
    * (Sessionize + Geodesic union-find), with members kept for the sink
    * formatters. Shared per (session, dir) by the three DAG queries. */
  private def batchComps(s: SparkSession, dir: String): DataFrame =
    graft.ScanCache.get(s, s"detector-dag:$dir") {
      import s.implicits._
      val hits = batchGated(s, dir)
        .select(col("eventId").as("event_id"), col("station"),
          col("startNs").as("start_ns"))
        .withColumn("lat", Geodesic.stationLat(col("station")))
        .withColumn("lon", Geodesic.stationLon(col("station")))
        .withColumn("h", Geodesic.stationH(col("station")))
      val sess = Sessionize.withClusterKey(Geodesic.withEcef(hits),
        Detector.GapNs, Detector.BucketNs)
      sess.select("cluster_key", "event_id", "station", "start_ns",
          "x", "y", "z").as[SessHit]
        .groupByKey(_.cluster_key)
        .flatMapGroups { (_: Long, it: Iterator[SessHit]) =>
          Geodesic.componentsWithMembers(it.toArray.sortBy(_.event_id))
            .map { case (comp, hs) =>
              (comp.cluster_start, comp.cluster_end, comp.n, comp.n_stations,
                comp.conflicting, comp.n_valid,
                hs.map(h => (h.station, h.start_ns)))
            }
        }
        .toDF("cluster_start", "cluster_end", "n", "n_stations",
          "conflicting", "n_valid", "members")
    }

  /** Cluster envelopes of the composed DAG (coincidence_geo over the
    * gated set). */
  private def detectorDag(s: SparkSession, dir: String): DataFrame =
    batchComps(s, dir)
      .select("cluster_start", "cluster_end", "n", "n_stations",
        "conflicting")
      .orderBy("cluster_start", "cluster_end", "n")

  private def detectorDagMqtt(s: SparkSession, dir: String): DataFrame =
    mqttFormat(batchComps(s, dir)
      .select(col("cluster_start").as("uuid"), col("n"),
        explode(col("members")).as("m"))
      .select(col("uuid"), col("n"), col("m._1").as("station"),
        col("m._2").as("start_ns")))
      .orderBy("uuid", "msg")

  private def detectorDagAscii(s: SparkSession, dir: String): DataFrame =
    batchComps(s, dir)
      .select(col("cluster_start").as("uuid"),
        format_string("Event: n=%d %d/%d %s dt=%d",
          col("n"), col("n_valid"), expr("(n * (n - 1)) div 2"),
          when(col("conflicting"), "C").otherwise("V"),
          col("cluster_end") - col("cluster_start")).as("msg"))
      .orderBy("uuid", "msg")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "detector_dag"       -> (detectorDag _),
    "detector_dag_mqtt"  -> (detectorDagMqtt _),
    "detector_dag_ascii" -> (detectorDagAscii _)
  )

  // ---- oracles --------------------------------------------------------

  /** Wire parse + prefix gate fold in SQL: the fold is a recursive CTE
    * stepping each station's i-th event (identical branch order and
    * double-division sequence to [[StreamingRegistry.fold]]), ending in
    * `gated(event_id, station, start_ns)`. The wire-synthesis rejects
    * mirror Wire.wireLines: every 89th event hides behind the cluster
    * topic, every 97th carries the malformed leading-dot time field. */
  private def gatedCtes: String =
    s"""ev0 AS (
       |  SELECT event_id, user_id AS station, epoch_ns(ts) AS start_ns,
       |    CAST(round(value * 10) AS BIGINT) AS time_acc,
       |    event_id % 65536 AS ublox,
       |    CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS fix
       |  FROM events
       |  WHERE event_id % 89 <> 0 AND event_id % 97 <> 0),
       |ev AS (
       |  SELECT *, row_number() OVER (PARTITION BY station
       |    ORDER BY start_ns, ublox, time_acc, fix) AS i
       |  FROM ev0),
       |fold(station, i, mask, n, s, status) AS (
       |  SELECT station, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'created'
       |  FROM (SELECT DISTINCT station FROM ev)
       |  UNION ALL
       |  SELECT f.station, f.i + 1,
       |    f.mask | (CAST(1 AS BIGINT) << CAST(e.ublox % ${DetinfoFields}
       |      AS INT)),
       |    f.n + 1, f.s + e.time_acc * 10,
       |    CASE
       |      WHEN e.time_acc * 10 > ${StreamingRegistry.ExtremeCents}
       |        THEN 'unreliable'
       |      WHEN ((f.s + e.time_acc * 10) / 100.0 / (f.n + 1))
       |          / ${StreamingRegistry.FTimeDivisor}
       |          > ${StreamingRegistry.UpperBand} THEN 'unreliable'
       |      WHEN ((f.s + e.time_acc * 10) / 100.0 / (f.n + 1))
       |          / ${StreamingRegistry.FTimeDivisor}
       |          < ${StreamingRegistry.LowerBand} THEN 'reliable'
       |      ELSE f.status END
       |  FROM fold f JOIN ev e ON e.station = f.station AND e.i = f.i + 1),
       |gated AS (
       |  SELECT e.event_id, e.station, e.start_ns
       |  FROM ev e JOIN fold f ON f.station = e.station AND f.i = e.i
       |  WHERE f.mask = $FullMask AND f.status = 'reliable'
       |    AND e.fix = 1 AND e.time_acc <= $R5MaxTimeAcc),
       |g AS (
       |  SELECT event_id, station, start_ns,
       |    50.0 + (station % 10) * 0.02 AS lat,
       |    10.0 + ((station // 10) % 10) * 0.03 AS lon,
       |    100.0 + (station % 7) * 10.0 AS h
       |  FROM gated)""".stripMargin

  /** gated events → the identical geo component chain the coincidence_geo
    * oracle runs (Geodesic.geoChainCtes). */
  private def dagCommon: String =
    s"""WITH RECURSIVE $gatedCtes,
       |${Geodesic.geoChainCtes}""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "detector_dag" ->
      s"""$dagCommon
         |${Geodesic.geoClusterSelect}""".stripMargin,
    // pair CTE joins comp=comp BEFORE the id inequality: leading with
    // `c a JOIN c b ON a.event_id < b.event_id` made DuckDB run the
    // O(gated²) inequality join first (>120 s at sf0.1; 33 s this way).
    "detector_dag_ascii" ->
      s"""$dagCommon,
         |p AS (
         |  SELECT ca.comp AS comp, ${Geodesic.scoreSql} AS sc
         |  FROM comp ca JOIN comp cb ON ca.comp = cb.comp
         |    AND ca.node < cb.node
         |  JOIN c a ON a.event_id = ca.node
         |  JOIN c b ON b.event_id = cb.node),
         |sc AS (
         |  SELECT comp, count(*) FILTER (sc > 0.0) AS nv
         |  FROM p GROUP BY comp),
         |ag AS (
         |  SELECT comp.comp AS comp, min(start_ns) AS cluster_start,
         |    max(start_ns) AS cluster_end, count(*) AS n,
         |    count(DISTINCT station) AS n_stations
         |  FROM c JOIN comp ON c.event_id = comp.node
         |  GROUP BY comp.comp HAVING count(*) >= 2)
         |SELECT cluster_start AS uuid,
         |  printf('Event: n=%d %d/%d %s dt=%d', n, nv, (n * (n - 1)) // 2,
         |    CASE WHEN n > n_stations THEN 'C' ELSE 'V' END,
         |    cluster_end - cluster_start) AS msg
         |FROM ag JOIN sc USING (comp)
         |ORDER BY uuid, msg""".stripMargin,
    "detector_dag_mqtt" -> {
      def ch(shift: Int): String =
        s"substr('0123456789bcdefghjkmnpqrstuvwxyz', " +
          s"CAST(((bits >> $shift) & 31) AS INT) + 1, 1)"
      s"""$dagCommon,
         |k AS (
         |  SELECT c.station AS station, c.start_ns AS start_ns,
         |    min(c.start_ns) OVER (PARTITION BY comp.comp) AS uuid,
         |    count(*) OVER (PARTITION BY comp.comp) AS n
         |  FROM c JOIN comp ON c.event_id = comp.node),
         |st AS (
         |  SELECT DISTINCT station,
         |    50.0 + (station % 10) * 0.02 AS lat,
         |    10.0 + ((station // 10) % 10) * 0.03 AS lon
         |  FROM gated),
         |bis(station, lat, lon, step, latlo, lathi, lonlo, lonhi, bits) AS (
         |  SELECT station, CAST(lat AS DOUBLE), CAST(lon AS DOUBLE), 0,
         |    CAST(-90.0 AS DOUBLE), CAST(90.0 AS DOUBLE),
         |    CAST(-180.0 AS DOUBLE), CAST(180.0 AS DOUBLE),
         |    CAST(0 AS BIGINT)
         |  FROM st
         |  UNION ALL
         |  SELECT station, lat, lon, step + 1,
         |    CASE WHEN step % 2 = 1 AND lat >= (latlo + lathi) / 2
         |      THEN (latlo + lathi) / 2 ELSE latlo END,
         |    CASE WHEN step % 2 = 1 AND lat < (latlo + lathi) / 2
         |      THEN (latlo + lathi) / 2 ELSE lathi END,
         |    CASE WHEN step % 2 = 0 AND lon >= (lonlo + lonhi) / 2
         |      THEN (lonlo + lonhi) / 2 ELSE lonlo END,
         |    CASE WHEN step % 2 = 0 AND lon < (lonlo + lonhi) / 2
         |      THEN (lonlo + lonhi) / 2 ELSE lonhi END,
         |    bits * 2 + CASE WHEN step % 2 = 0
         |      THEN CASE WHEN lon >= (lonlo + lonhi) / 2 THEN 1 ELSE 0 END
         |      ELSE CASE WHEN lat >= (latlo + lathi) / 2 THEN 1 ELSE 0 END
         |      END
         |  FROM bis WHERE step < 30),
         |ghs AS (
         |  SELECT station,
         |    substr(${ch(25)} || ${ch(20)} || ${ch(15)} || ${ch(10)}
         |      || ${ch(5)} || ${ch(0)},
         |      1, CAST(4 + station % 3 AS INT)) AS gh
         |  FROM bis WHERE step = 30)
         |SELECT k.uuid AS uuid,
         |  printf('%016x', k.station) || ' ' || ghs.gh || ' ' || k.n || ' '
         |    || (k.start_ns - k.uuid) || ' ' || k.start_ns AS msg
         |FROM k JOIN ghs ON k.station = ghs.station
         |WHERE k.n >= 2
         |ORDER BY uuid, msg""".stripMargin
    }
  )
}
