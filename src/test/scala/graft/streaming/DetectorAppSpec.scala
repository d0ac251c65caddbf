package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end parity for the COMPOSED streaming detector application
  * (DetectorApp): the one standing DAG — wire parse → per-station
  * registry gate → geodesic clustering → n ≥ 2 MQTT/ASCII fan-out —
  * must reproduce the composed batch queries' sink rows on the real
  * corpus. This is the reference's application.cpp wiring under test as
  * a WHOLE, not operator by operator. */
class DetectorAppSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val SentinelStation = 999999L

  private def corpusLines(dir: String): Seq[(String, String)] =
    graft.Wire.wireLinesPublic(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** A gate-passing wire line for the sentinel station: ublox cycles the
    * detinfo residues (mask completes at the 6th), tiny time_acc keeps
    * the R6 fold reliable, fix = 1 passes R5. */
  private def sentinelLine(ublox: Int, tSec: Long): (String, String) = {
    val f = "%d.%09d".format(tSec, 0)
    (s"muonpi/data/u$SentinelStation/st0", s"$f $f 10 $ublox 1 1 1")
  }

  /** Drive the composed stream over wire lines, flushing with sentinel
    * rounds (the sentinel must itself pass the registry gate to reach
    * the clusterer and advance the watermark). */
  private def runComposed(lines: Seq[(String, String)], baseSec: Long)
      : Seq[EmittedGeoCluster] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val out = DetectorApp.composedStream(mem.toDS().toDF("topic", "payload"),
      bucketNs = Long.MaxValue / 4, watermarkDelay = "0 seconds")
    val name = s"detapp_$baseSec"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      mem.addData(lines)
      q.processAllAvailable()
      // 6 sentinels complete the mask; only the 6th passes the gate
      mem.addData((0 until 6).map(k => sentinelLine(k, baseSec + k * 100)))
      q.processAllAvailable()
      mem.addData(sentinelLine(0, baseSec + 1000000L))
      q.processAllAvailable()
      mem.addData(sentinelLine(1, baseSec + 2000000L))
      q.processAllAvailable()
      spark.table(name).as[EmittedGeoCluster].collect().toSeq
        .filter(c => !c.members.exists(_.station == SentinelStation))
    } finally q.stop()
  }

  test("gate stage: stream output equals the batch prefix fold (sf0.001)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val mem = MemoryStream[(String, String)]
    val out = DetectorApp.gateStage(
      DetectorApp.parseStage(mem.toDS().toDF("topic", "payload")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("detapp_gate").start()
    try {
      mem.addData(corpusLines(dir))
      q.processAllAvailable()
      val got = spark.table("detapp_gate").as[StreamHit].collect().toSet
      val want = DetectorApp.batchGated(spark, dir).collect().toSet
      assert(got == want)
      assert(got.nonEmpty) // 135 gated hits at sf0.001 — the gate does work
    } finally q.stop()
  }

  test("composed DAG: stream sinks equal the batch DAG queries (sf0.01)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val lines = corpusLines(dir)
    val maxSec = 4000000000L // far beyond any corpus timestamp (ns ~ 1.7e18)
    val clusters = runComposed(lines, maxSec)

    // envelopes == detector_dag
    val gotEnv = clusters.filter(_.n >= 2)
      .map(c => (c.clusterStart, c.clusterEnd, c.n, c.nStations,
        c.conflicting)).sorted
    val wantEnv = DetectorApp.queries("detector_dag")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq.sorted
    assert(gotEnv == wantEnv)
    assert(gotEnv.nonEmpty) // 50 clusters at sf0.01 — non-vacuous

    // sink fan-out: formatted rows equal the batch formatters' rows
    val ds = spark.createDataset(clusters)
    val gotMqtt = DetectorApp.mqttLines(ds).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val wantMqtt = DetectorApp.queries("detector_dag_mqtt")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(gotMqtt == wantMqtt)
    assert(gotMqtt.nonEmpty)

    val gotAscii = DetectorApp.asciiLines(ds).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val wantAscii = DetectorApp.queries("detector_dag_ascii")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(gotAscii == wantAscii)
    assert(gotAscii.nonEmpty)
  }

  test("standing application: file source in, formatted parquet sinks out") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val in = java.nio.file.Files.createTempDirectory("detapp_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("detapp_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("detapp_ck").toString
    // corpus + a full gate-passing sentinel ladder so at least the corpus
    // sessions seal within the run
    val maxSec = 4000000000L
    val all = corpusLines(dir) ++
      (0 until 6).map(k => sentinelLine(k, maxSec + k * 100)) ++
      Seq(sentinelLine(0, maxSec + 1000000L), sentinelLine(1, maxSec + 2000000L))
    all.toDF("topic", "payload").write.mode("overwrite").json(in)
    val q = DetectorApp.run(spark, in, outDir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(120000)
    // sf0.001 has no n >= 2 clusters after gating (the corpus is too
    // sparse post-gate); the app must still run the full DAG and write
    // the sink directories' (possibly empty) datasets without error.
    val mqttFiles = new java.io.File(s"$outDir/mqtt").list()
    val asciiFiles = new java.io.File(s"$outDir/ascii").list()
    assert(mqttFiles != null && asciiFiles != null)
    val sentinelHex = "%016x".format(SentinelStation)
    val mqtt = spark.read.schema("uuid BIGINT, msg STRING")
      .parquet(s"$outDir/mqtt")
    import org.apache.spark.sql.functions.{col, not}
    assert(mqtt.filter(not(col("msg").contains(sentinelHex))).count() == 0)
  }

  test("standing application: a restart on its checkpoint changes no sink row") {
    import spark.implicits._
    val S = 1000000000L
    // a gate-passing wire line (time_acc 10, fix 1) for `station` at `tNs`
    def line(station: Long, ublox: Int, tNs: Long): (String, String) = {
      val f = "%d.%09d".format(tNs / S, tNs % S)
      (s"muonpi/data/u$station/st0", s"$f $f 10 $ublox 1 1 1")
    }
    // stations 1 and 2 are one grid step apart (ToF ≈ 22 s at the scaled
    // speed): six lines each complete their detinfo masks, then 40
    // two-station clusters, 3 s apart within a pair and 500 s between pairs
    val t0 = 1700000000L * S
    val warm = for (st <- 1L to 2L; k <- 0 until 6) yield {
      val t = t0 + (k * 100 + st * 50) * S
      (t, line(st, k, t))
    }
    val pairs = for (c <- 0 until 40; st <- 1L to 2L) yield {
      val t = t0 + (10000L + c * 500L + (st - 1) * 3) * S
      (t, line(st, 6 + c, t))
    }
    // stop between the two hits of cluster 20, so its session is open
    // in the checkpoint across the restart
    val cut = t0 + (10000L + 20 * 500L + 1) * S
    val (before, after) = (warm ++ pairs).partition(_._1 < cut)
    val maxSec = 4000000000L
    val flush = (0 until 6).map(k => sentinelLine(k, maxSec + k * 100)) ++
      Seq(sentinelLine(0, maxSec + 1000000L), sentinelLine(1, maxSec + 2000000L))

    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def feed(in: String, ls: Seq[(String, String)]): Unit =
      ls.toDF("topic", "payload").write.mode("append").json(in)
    def runOnce(in: String, out: String, ckpt: String): Unit = {
      val q = DetectorApp.run(spark, in, out, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      assert(q.awaitTermination(120000))
    }
    def sinkRows(out: String) = Seq("mqtt", "ascii").map(sink =>
      spark.read.schema("uuid BIGINT, msg STRING").parquet(s"$out/$sink")
        .as[(Long, String)].collect().toSeq.sorted)

    val (in1, out1, ck1) = (tmp("detapp_in"), tmp("detapp_out"), tmp("detapp_ck"))
    feed(in1, (before ++ after).map(_._2) ++ flush)
    runOnce(in1, out1, ck1)

    val (in2, out2, ck2) = (tmp("detapp_in"), tmp("detapp_out"), tmp("detapp_ck"))
    feed(in2, before.map(_._2))
    runOnce(in2, out2, ck2) // stops by itself once the first part is done
    feed(in2, after.map(_._2) ++ flush)
    runOnce(in2, out2, ck2)

    val want = sinkRows(out1)
    assert(want.map(_.size) == Seq(80, 40)) // every pair, incl. cluster 20
    assert(sinkRows(out2) == want)
  }
}
