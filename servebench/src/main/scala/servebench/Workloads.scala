package servebench

import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.api.{HttpApi, QueryApi}
import graft.ingest.{LineParsers, SeqWindows, TcpLineServer}
import graft.query.Planner
import graft.store.Store
import org.apache.spark.sql.DataFrame

/** Sizes of one configuration. `full` is what BENCHMARK.json runs; `smoke`
  * is the seconds-long configuration the benchmark's own test runs.
  */
final case class Sizes(
    setupReps: Int,
    // ingest_put: one closed-loop client, fixed work per episode
    ingestShape: Gen.Shape,
    batchPoints: Int,
    batchesPerEpisode: Int,
    ingestEpisodes: Int,
    // query_dashboard / mixed_tcp: preloaded history, committed at once
    historyShape: Gen.Shape,
    historyDays: Int,
    historyOoo: Double,
    historyDup: Double,
    refreshTickMs: Long,
    replayRounds: Int,
    // mixed_tcp: open-loop TCP sender
    tcpPointsPerS: Int,
    drainTimeoutS: Double)

object Sizes {
  val full: Sizes = Sizes(
    setupReps = 3,
    ingestShape = Gen.Shape(metrics = 4, seriesPerMetric = 40, tagCard = 8, intervalMs = 10000),
    batchPoints = 1000,
    // the store compacts a day on its 8th batch: one compaction per episode
    batchesPerEpisode = 8,
    ingestEpisodes = 2,
    historyShape = Gen.Shape(metrics = 4, seriesPerMetric = 12, tagCard = 6, intervalMs = 1200000),
    historyDays = 7,
    historyOoo = 0.0005,
    historyDup = 0.0005,
    refreshTickMs = 10000,
    replayRounds = 2,
    // about half of the seed's ingest rate at 5000-point batches (4 cores);
    // fixed once, so mixed_tcp records stay comparable
    tcpPointsPerS = 1000,
    drainTimeoutS = 30)

  val smoke: Sizes = full.copy(
    setupReps = 1,
    ingestShape = Gen.Shape(metrics = 2, seriesPerMetric = 4, tagCard = 3, intervalMs = 10000),
    batchPoints = 60,
    batchesPerEpisode = 8,
    ingestEpisodes = 1,
    historyShape = Gen.Shape(metrics = 4, seriesPerMetric = 3, tagCard = 3, intervalMs = 3600000),
    historyDays = 3,
    historyOoo = 0.02,
    historyDup = 0.02,
    refreshTickMs = 2000,
    replayRounds = 1,
    tcpPointsPerS = 50,
    drainTimeoutS = 60)
}

/** What one run measured: the gated end-to-end metrics (BENCHMARK.json),
  * the report of the named serving metrics (value, unit, samples), per-layer figures
  * of a traced run, and extra record lines.
  */
final class Outcome {
  val checks = new Checks
  val report = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val gated = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = new Layers
  val info = mutable.LinkedHashMap.empty[String, String]
  var setupS: Seq[Double] = Nil
  var spans: Option[Spans] = None

  def latency(prefix: String, xs: Seq[Double], tail: Int): Unit = {
    report(s"${prefix}_p50_s") = (Stats.median(xs), "s", xs.size)
    report(s"${prefix}_p$tail" + "_s") = (Stats.pct(xs, tail), "s", xs.size)
  }
}

object Workloads {
  val Names: Seq[String] = Seq("ingest_put", "query_dashboard", "mixed_tcp")

  /** Fixed data epoch: 2024-03-01T00:00:00Z. The history ends here and
    * the dashboard clock starts here.
    */
  val Anchor = 1709251200000L
  private val DayMs = 86400000L

  // ingest_put's out-of-order and duplicate shares
  private val IngestOoo = 0.01
  private val IngestDup = 0.01
  val DashboardClients = 2
  private val TcpTickMs = 100L
}

/** Shared plumbing of the three workloads over one [[Env]]. */
final class Workloads(env: Env, sz: Sizes, out: Outcome) {
  import Workloads._
  import env.spark

  private val checks = out.checks

  // ---------------------------------------------------------------- ingest

  private val ingestGen = new Gen(env.seed, sz.ingestShape)
  private val (plainSeries, influxSeries) = {
    val (p, i) = ingestGen.series.zipWithIndex.partition(_._2 % 2 == 0)
    (p.map(_._1), i.map(_._1))
  }

  /** One request of a put stream: its wire body and the points in it. */
  case class Put(proto: Gen.Proto, body: String, points: Seq[Gen.Point]) {
    def path: String = if (proto == Gen.Plain) "/api/put" else "/api/write"
  }

  /** `n` batches of `b` points alternating OpenTSDB plain `/api/put` and
    * Influx `/api/write`, one UTC day, drawn from point stream `stream`.
    */
  def putBatches(n: Int, b: Int, stream: Long): Seq[Put] = {
    val t0 = Anchor + 3600000L
    def take(ss: IndexedSeq[Gen.Series], count: Int, s: Long): IndexedSeq[Gen.Point] = {
      var span = (count / ss.size + 2) * sz.ingestShape.intervalMs * 12 / 10
      var ps = ingestGen.points(ss, t0, t0 + span, IngestOoo, IngestDup, s)
      while (ps.size < count) {
        span *= 2
        ps = ingestGen.points(ss, t0, t0 + span, IngestOoo, IngestDup, s)
      }
      ps.take(count)
    }
    val perStream = (n + 1) / 2 * b
    val plain = take(plainSeries, perStream, stream * 2)
    val influx = take(influxSeries, perStream, stream * 2 + 1)
    (0 until n).map { i =>
      val (proto, src) = if (i % 2 == 0) (Gen.Plain, plain) else (Gen.Influx, influx)
      val pts = src.slice(i / 2 * b, (i / 2 + 1) * b)
      Put(proto, Gen.render(proto, pts), pts)
    }
  }

  /** Per-metric `0all-count` over the written range equals the distinct
    * (series, ts) pairs sent: every acknowledged point is readable. One
    * request carries a sub-query per metric.
    */
  def verifyCounts(client: Client, truth: Gen.Truth, fromMs: Long, toMs: Long,
      metrics: Int = Int.MaxValue): Unit = {
    val ms = truth.metrics.take(metrics)
    if (ms.nonEmpty) {
      val (st, body, _) = client.post("/api/query", countQuery(ms, fromMs, toMs))
      if (checks(st == 200, s"0all-count query -> $st ${body.take(200)}")) checkCounts(ms, body, truth)
    }
  }

  /** `body` answers [[countQuery]] over `metrics`; each metric's count
    * must equal the distinct points sent.
    */
  def checkCounts(metrics: Seq[String], body: String, truth: Gen.Truth): Unit = {
    val got = Responses.parse(body).groupMapReduce(_.id.takeWhile(_ != '{'))(
      _.dps.values.sum.toLong)(_ + _)
    metrics.foreach { m =>
      checks(got.get(m).contains(truth.count(m)),
        s"$m: 0all-count ${got.get(m)}, sent ${truth.count(m)} distinct")
    }
  }

  def countQuery(metrics: Seq[String], fromMs: Long, toMs: Long): String =
    s"""{"start":$fromMs,"end":$toMs,"msResolution":true,"queries":[""" +
      metrics.map(m => s"""{"metric":"$m","aggregator":"sum","downsample":"0all-count"}""")
        .mkString(",") + "]}"

  case class Episode(putS: Seq[Double], points: Long, wallS: Double, bytesPerPoint: Double,
      series: Int, distinct: Long)

  /** One fixed-work episode from an empty store over the live HTTP edge.
    * Batch `i` runs with a [[JobListener]] attached when `traced(i)`.
    */
  def ingestEpisode(batches: Seq[Put], verifyMetrics: Int = Int.MaxValue,
      traced: Int => Boolean = _ => false): Episode = {
    val root = env.freshRoot("ingest")
    val store = new Store(spark, root)
    val api = new HttpApi(spark, store).start()
    try {
      val client = new Client(api.boundPort)
      val truth = new Gen.Truth
      val lat = mutable.ArrayBuffer.empty[Double]
      val (_, wall) = Stats.timed(batches.zipWithIndex.foreach { case (b, i) =>
        val (st, body, s) = listening(traced(i))(client.post(b.path, b.body))
        lat += s
        if (checks(st == 200, s"${b.path} -> $st ${body.take(200)}")) truth.add(b.proto, b.points)
      })
      val all = batches.flatMap(_.points)
      verifyCounts(client, truth, all.map(_.ts).min, all.map(_.ts).max + 1, verifyMetrics)
      Episode(lat.toSeq, all.size.toLong, wall,
        StoreFiles.bytes(root).toDouble / math.max(1L, truth.total), truth.seriesCount, truth.total)
    } finally api.stop()
  }

  /** Warm-up pass on a fresh store and edge: a small `/api/put` batch
    * into the empty store, then a small `/api/write` batch on top of it.
    */
  def ingestSetup(rep: Int): Unit =
    ingestEpisode(putBatches(2, math.max(1, sz.batchPoints / 5), stream = 1000 + rep),
      verifyMetrics = 0)

  /** `episodes` fixed-work episodes, each from its own empty store;
    * `traced(e, i)` for batch `i` of episode `e` as in [[ingestEpisode]].
    */
  def ingestPut(episodes: Int, traced: (Int, Int) => Boolean = (_, _) => false): Seq[Episode] =
    (0 until episodes).map(e => ingestEpisode(
      putBatches(sz.batchesPerEpisode, sz.batchPoints, e), traced = traced(e, _)))

  /** Run `f` with a [[JobListener]] attached if `on`. */
  def listening[A](on: Boolean)(f: => A): A =
    if (!on) f
    else {
      val l = JobListener.attach(spark.sparkContext)
      try f finally JobListener.detach(spark.sparkContext, l)
    }

  def reportIngest(eps: Seq[Episode]): Unit = {
    val puts = eps.flatMap(_.putS)
    out.report("ingest_pts_per_s") = (Stats.median(eps.map(e => e.points / e.wallS)), "points/s", eps.size)
    out.latency("put", puts, 90)
    out.report("store_bytes_per_point") = (Stats.median(eps.map(_.bytesPerPoint)), "B/point", eps.size)
    out.gated("latency_p50_s") = (Stats.median(puts), "s")
    out.gated("ops_per_s") = (puts.size / eps.map(_.wallS).sum, "1/s")
    out.gated("store_bytes_per_point") = (out.report("store_bytes_per_point")._1, "B/point")
    out.info("episodes") = eps.size.toString
    out.info("generator") = s"seed ${env.seed}, ${eps.head.series} series, " +
      s"${eps.head.points} points sent (${eps.head.distinct} distinct), " +
      s"ooo share $IngestOoo, dup share $IngestDup"
    out.info("put_batches") = s"${sz.batchesPerEpisode} x ${sz.batchPoints} points"
    out.info("put_s") = puts.map(x => f"$x%.2f").mkString(" ")
  }

  // --------------------------------------------------------------- history

  private val historyGen = new Gen(env.seed, sz.historyShape)

  /** A store holding `historyDays` of history ending at [[Workloads.Anchor]],
    * preloaded through the engine's own parser and `Store.ingest` in one
    * commit (request id -1 in a traced set-up): a commit costs seconds of
    * fixed overhead, so one per day would dominate the set-up.
    */
  def preload(spans: Option[Spans]): (Store, String, Gen.Truth, Option[ReplayedPuts]) = {
    val root = env.freshRoot("history")
    val store = new Store(spark, root)
    val truth = new Gen.Truth
    val from = Anchor - sz.historyDays * DayMs
    val pts = (0 until sz.historyDays).flatMap(d => historyGen.points(historyGen.series,
      from + d * DayMs, from + (d + 1) * DayMs, sz.historyOoo, sz.historyDup, stream = d))
    truth.add(Gen.Plain, pts)
    val all = Put(Gen.Plain, Gen.render(Gen.Plain, pts), Nil)
    val puts = spans match {
      case Some(s) => Some(replayPuts(s, Seq(all), root, store, id = _ => -1))
      case None =>
        import spark.implicits._
        val dps = all.body.linesIterator.flatMap(LineParsers.parsePlain).toSeq
        store.ingest(spark.createDataset(new SeqWindows().stamp(dps)).toDF())
        None
    }
    (store, root, truth, puts)
  }

  /** The dashboard's server clock: starts at the history's end and
    * advances in refresh ticks of wall time, as a dashboard re-issues
    * its relative-start panels every tick.
    */
  final class Clock(tickMs: Long) {
    @volatile private var t0 = -1L
    def start(): Unit = t0 = System.nanoTime()
    def tick: Long = if (t0 < 0) 0 else (System.nanoTime() - t0) / 1000000L / tickMs
    def nowAt(tick: Long): Long = Anchor + tick * tickMs
    def now(): Long = nowAt(tick)
  }

  /** One dashboard panel: a query body with relative start. */
  case class Panel(name: String, relMs: Long, rel: String, sub: String, routed: Boolean) {
    def body: String = s"""{"start":"$rel","queries":[$sub]}"""
    /** The same panel at an absolute window, read raw. */
    def rawTwin(nowMs: Long): String =
      s"""{"start":${nowMs - relMs},"end":$nowMs,"queries":[""" +
        sub.replaceFirst("\\{", """{"rollupUsage":"ROLLUP_RAW",""") + "]}"
  }

  val panels: Seq[Panel] = Seq(
    Panel("recent_raw", 2 * 3600000L, "2h-ago",
      """{"metric":"sb_metric_1","aggregator":"none"}""", routed = false),
    Panel("downsample_groupby", 6 * 3600000L, "6h-ago",
      """{"metric":"sb_metric_3","aggregator":"sum","downsample":"5m-avg",""" +
        """"tags":{"tag1":"*","tag2":"val1|val2|val3"}}""", routed = false),
    Panel("counter_rate", 6 * 3600000L, "6h-ago",
      """{"metric":"sb_counter","aggregator":"sum","rate":true,""" +
        """"rateOptions":{"counter":true},"downsample":"1m-avg"}""", routed = false),
    Panel("history_1h", 3 * DayMs, "3d-ago",
      """{"metric":"sb_metric_2","aggregator":"sum","downsample":"1h-avg","tags":{"tag1":"*"}}""",
      routed = true),
    Panel("history_1d", sz.historyDays * DayMs, s"${sz.historyDays}d-ago",
      """{"metric":"sb_metric_4","aggregator":"max","downsample":"1d-max"}""", routed = true))

  case class Answer(panel: Panel, tickBefore: Long, tickAfter: Long,
      status: Int, body: String, seconds: Double, endNs: Long)

  /** Closed-loop clients re-issuing `ps` until `seconds` pass. */
  def dashboardLoop(port: Int, clock: Clock, ps: Seq[Panel], clients: Int,
      seconds: Double): (Seq[Answer], Double) = {
    val answers = java.util.Collections.synchronizedList(new java.util.ArrayList[Answer]())
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val client = new Client(port)
        var i = c
        while (System.nanoTime() < deadline) {
          val p = ps(i % ps.size)
          val before = clock.tick
          val (st, body, s) = client.post("/api/query", p.body)
          answers.add(Answer(p, before, clock.tick, st, body, s, System.nanoTime()))
          i += 1
        }
      }, s"servebench-dashboard-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (answers.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Every answer is 200; answers to one panel in one tick agree byte for
    * byte; every routed answer matches its raw twin within 1e-9 relative.
    */
  def verifyAnswers(port: Int, clock: Clock, answers: Seq[Answer]): Unit = {
    answers.foreach(a => checks(a.status == 200, s"${a.panel.name} -> ${a.status} ${a.body.take(200)}"))
    val ok = answers.filter(_.status == 200)
    ok.filter(a => a.tickBefore == a.tickAfter).groupBy(a => (a.panel.name, a.tickBefore))
      .foreach { case ((name, tick), as) =>
        checks(as.map(_.body).distinct.size == 1, s"$name at tick $tick: answers differ")
      }
    val twinKeys = ok.filter(_.panel.routed)
      .flatMap(a => Seq(a.panel -> a.tickBefore, a.panel -> a.tickAfter)).distinct
    val twins = parallel(twinKeys, DashboardClients) { case (p, tick) =>
      val (st, body, _) = new Client(port).post("/api/query", p.rawTwin(clock.nowAt(tick)))
      checks(st == 200, s"raw twin of ${p.name} -> $st ${body.take(200)}")
      (p.name, tick) -> body
    }.toMap
    ok.filter(_.panel.routed).foreach { a =>
      val match1 = twins.get((a.panel.name, a.tickBefore)).exists(Responses.sameWithin(a.body, _))
      def match2 = twins.get((a.panel.name, a.tickAfter)).exists(Responses.sameWithin(a.body, _))
      checks(match1 || match2, s"${a.panel.name}: routed answer differs from its raw twin " +
        s"(tick ${a.tickBefore}): ${a.body.take(300)} vs ${twins.get((a.panel.name, a.tickBefore)).map(_.take(300))}")
    }
  }

  /** Each replayed answer, computed in-process at `nowMs`, matches the
    * edge's answer to the panel's raw twin at the same instant.
    */
  def verifyReplayed(port: Int, nowMs: Long, replayed: Seq[(Panel, String)]): Unit = {
    val client = new Client(port)
    replayed.foreach { case (p, json) =>
      val (st, twin, _) = client.post("/api/query", p.rawTwin(nowMs))
      checks(st == 200 && Responses.sameWithin(json, twin),
        s"replayed ${p.name} differs from its raw twin ($st): ${json.take(300)} vs ${twin.take(300)}")
    }
  }

  private def parallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  def reportQueries(answers: Seq[Answer], wallS: Double): Seq[Double] = {
    val lat = answers.filter(_.status == 200).map(_.seconds)
    out.report("query_per_s") = (lat.size / wallS, "queries/s", lat.size)
    out.latency("query", lat, 95)
    lat
  }

  final class History(val store: Store, val root: String, val truth: Gen.Truth,
      val api: HttpApi, val clock: Clock, val puts: Option[ReplayedPuts]) {
    def requests: Seq[Int] = Seq(-1)
  }

  /** One set-up of the dashboard: fresh store, history preload, edge. */
  def historySetup(spans: Option[Spans]): History = {
    // the store's commit pool starts its threads during the preload, so
    // they inherit the ingest tag
    val (store, root, truth, puts) = withEdge("ingest")(preload(spans))
    val clock = new Clock(sz.refreshTickMs)
    val api = new HttpApi(spark, store, nowMs = () => clock.now()).start()
    new History(store, root, truth, api, clock, puts)
  }

  /** Run `f` with the thread's [[JobListener.EdgeKey]] set to `edge`. */
  def withEdge[A](edge: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobListener.EdgeKey)
    sc.setLocalProperty(JobListener.EdgeKey, edge)
    try f finally sc.setLocalProperty(JobListener.EdgeKey, prev)
  }

  def reportHistoryStore(h: History): Unit = {
    val bpp = StoreFiles.bytes(h.root).toDouble / h.truth.total
    out.report("store_bytes_per_point") = (bpp, "B/point", 1)
    out.gated("store_bytes_per_point") = (bpp, "B/point")
    out.info("history") = s"seed ${env.seed}, ${sz.historyDays} days, ${h.truth.seriesCount} series, " +
      s"${h.truth.total} distinct points, ooo share ${sz.historyOoo}, dup share ${sz.historyDup}"
  }

  /** One untimed round of every panel, shared by the dashboard's
    * clients, so the measured window starts with the query path compiled
    * (JIT, codegen).
    */
  def warmQueries(h: History): Double = Stats.timed {
    parallel(panels, DashboardClients)(p => new Client(h.api.boundPort).post("/api/query", p.body))
  }._2

  def queryDashboard(h: History, seconds: Double): (Seq[Answer], Double) = {
    h.clock.start()
    dashboardLoop(h.api.boundPort, h.clock, panels, DashboardClients, seconds)
  }

  /** The gated `latency_p50_s` here is the geometric mean over the
    * answered panels of each panel's median: the median of the pooled mix falls
    * between two panels' latency clusters and flips between them from
    * run to run with the ±1 answers each panel gets.
    */
  def reportDashboard(answers: Seq[Answer], wallS: Double): Unit = {
    val lat = reportQueries(answers, wallS)
    panels.foreach { p =>
      val xs = answers.filter(a => a.panel == p && a.status == 200).map(_.seconds)
      out.info(s"panel.${p.name}") = f"p50 ${Stats.median(xs)}%.4f s n=${xs.size}"
    }
    out.gated("latency_p50_s") = (panelP50(answers), "s")
    out.gated("ops_per_s") = (lat.size / wallS, "1/s")
  }

  /** Geometric mean over the answered panels of each panel's median. */
  def panelP50(answers: Seq[Answer]): Double = {
    val perPanel = answers.filter(_.status == 200).groupMap(_.panel)(_.seconds).values
      .map(xs => math.log(Stats.median(xs)))
    math.exp(perPanel.sum / perPanel.size)
  }

  // --------------------------------------------------------------- mixed

  case class Mixed(lagS: Seq[Double], lateS: Seq[Double], answers: Seq[Answer],
      wallS: Double, sentPoints: Long, ingestWallS: Double, wireBytes: Long,
      probes: Int, probeDps: Long)

  /** One open-loop TCP sender at a fixed rate, one closed-loop dashboard
    * client on recent windows, one freshness probe on the marker series.
    * Data time runs with wall time from the history's end.
    */
  def mixedTcp(h: History, tcp: TcpLineServer, seconds: Double, phase: Long,
      truth: Gen.Truth): Mixed = {
    val tick = TcpTickMs
    val ticks = math.max(1, (seconds * 1000 / tick).toInt)
    val base = h.clock.nowAt(h.clock.tick) + 1000L
    val series = historyGen.series
    val interval = math.max(1L, series.size * 1000L / sz.tcpPointsPerS)
    val shape = sz.historyShape.copy(intervalMs = interval)
    val pts = new Gen(env.seed, shape)
      .points(series, base, base + ticks * tick, 0.0, 0.0, stream = 10000 + phase)
    val sent = new java.util.concurrent.atomic.AtomicLong(0)
    val lateS = mutable.ArrayBuffer.empty[Double]
    val scheduledNs = new Array[Long](ticks)
    val markerTag = s"phase=p$phase"
    var wire = 0L
    val t0 = System.nanoTime() + 200000000L
    (0 until ticks).foreach(k => scheduledNs(k) = t0 + k * tick * 1000000L)

    val sender = new Thread(() => {
      val sock = new Socket("127.0.0.1", tcp.boundPort)
      val os = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
      try {
        var i = 0
        (0 until ticks).foreach { k =>
          val wait = scheduledNs(k) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          lateS += math.max(0L, System.nanoTime() - scheduledNs(k)) / 1e9
          val sb = new StringBuilder
          val upTo = base + (k + 1) * tick
          while (i < pts.size && pts(i).ts < upTo) { sb.append(Gen.plainLine(pts(i))).append('\n'); i += 1 }
          sb.append(s"put ${Gen.MarkerMetric} ${base + k * tick} $k $markerTag\n")
          val bytes = sb.result().getBytes(UTF_8)
          wire += bytes.length
          os.write(bytes)
          os.flush()
        }
        sent.set(i)
      } finally sock.close()
    }, "servebench-tcp-sender")

    // freshness probe: the newest marker a response returns stamps every
    // marker up to it with (response time - scheduled send time)
    val lag = new Array[Double](ticks)
    java.util.Arrays.fill(lag, Double.NaN)
    @volatile var visibleTick = -1
    @volatile var lastVisibleNs = 0L
    var probes = 0
    var probeDps = 0L
    val probeBody = s"""{"start":$base,"end":${base + ticks * tick + 1000},"msResolution":true,""" +
      s""""queries":[{"metric":"${Gen.MarkerMetric}","aggregator":"none","tags":{"phase":"p$phase"}}]}"""
    val probe = new Thread(() => {
      val client = new Client(h.api.boundPort)
      val deadline = t0 + ((ticks * tick / 1000.0 + sz.drainTimeoutS) * 1e9).toLong
      while (visibleTick < ticks - 1 && System.nanoTime() < deadline) {
        val (st, body, _) = client.post("/api/query", probeBody)
        val now = System.nanoTime()
        probes += 1
        if (checks(st == 200, s"freshness probe -> $st ${body.take(200)}")) {
          probeDps += Responses.dpCount(body)
          val newest = Responses.newestTs(body).map(ts => ((ts - base) / tick).toInt).getOrElse(-1)
          ((visibleTick + 1) to math.min(newest, ticks - 1)).foreach { k =>
            lag(k) = (now - scheduledNs(k)) / 1e9
          }
          if (newest > visibleTick) { visibleTick = math.min(newest, ticks - 1); lastVisibleNs = now }
        }
      }
    }, "servebench-probe")

    sender.start(); probe.start()
    val recent = panels.filterNot(_.routed)
    val (answers, wall) = dashboardLoop(h.api.boundPort, h.clock, recent, 1,
      ticks * tick / 1000.0 + 0.2)
    sender.join(); probe.join()
    checks(visibleTick == ticks - 1,
      s"marker ${ticks - 1} not visible within ${sz.drainTimeoutS} s (newest $visibleTick)")
    answers.foreach(a => checks(a.status == 200, s"${a.panel.name} -> ${a.status}"))
    truth.add(Gen.Plain, pts.take(sent.get.toInt))
    truth.add(Gen.Plain, (0 until ticks).map(k => Gen.Point(
      Gen.Series(Gen.MarkerMetric, Seq("phase" -> s"p$phase"), counter = false), base + k * tick, k)))
    Mixed(lag.toSeq.filterNot(_.isNaN), lateS.toSeq, answers, wall, sent.get + ticks,
      (lastVisibleNs - t0) / 1e9, wire, probes, probeDps)
  }

  def reportMixed(m: Mixed): Unit = {
    out.report("ingest_pts_per_s") = (m.sentPoints / m.ingestWallS, "points/s", 1)
    val lat = reportQueries(m.answers, m.wallS)
    out.latency("visible_lag", m.lagS, 95)
    out.gated("latency_p50_s") = (Stats.median(m.lagS), "s")
    out.gated("ops_per_s") = (lat.size / m.wallS, "1/s")
    out.info("tcp_rate") = s"${sz.tcpPointsPerS} points/s in ${TcpTickMs} ms ticks"
    out.info("loadgen_late_p95_s") = f"${Stats.pct(m.lateS, 95)}%.4f"
  }

  // ------------------------------------------------------ traced replays

  /** Serial in-process replay of one query with a span per layer call.
    * Returns (answer, dps returned, sub-queries, routed sub-queries).
    */
  def replayQuery(spans: Spans, req: Int, store: Store, body: String,
      nowMs: Long): (String, Long, Int, Int) = spans("request", req) {
    val q = spans("api.parse", req)(QueryApi.parseRequest(body, nowMs))
    val (frame, opts) = spans("store.resolve", req) {
      (QueryApi.storeFrame(store, q), store.plannerOptions())
    }
    val routed = spans("query.plan", req) {
      q.subQueries.count { sub =>
        val df = Planner.planRouted(frame, q, sub, opts)
        df.queryExecution.executedPlan
        df.inputFiles.exists(f => f.contains("/rollup_1h/") || f.contains("/rollup_1d/"))
      }
    }
    val json = spans("api.execute", req)(QueryApi.executeQuery(frame, q, opts))
    (json, Responses.dpCount(json), q.subQueries.size, routed)
  }

  /** Serial in-process replay of a put stream: parse, frame, commit, with
    * the store's files diffed around every commit.
    */
  def replayPuts(spans: Spans, batches: Seq[Put], root: String, store: Store,
      id: Int => Int = identity): ReplayedPuts = {
    import spark.implicits._
    val seqs = new SeqWindows()
    val r = new ReplayedPuts
    batches.zipWithIndex.foreach { case (b, n) =>
      val i = id(n)
      spans("request", i) {
        val dps = spans("ingest.parse", i) {
          val lines = b.body.linesIterator.toSeq
          if (b.proto == Gen.Plain) lines.flatMap(LineParsers.parsePlain)
          else lines.flatMap(LineParsers.parseInflux(_, System.currentTimeMillis()))
        }
        val df: DataFrame = spans("ingest.frame", i)(spark.createDataset(seqs.stamp(dps)).toDF())
        val before = StoreFiles.snapshot(root)
        spans("store.ingest", i)(store.ingest(df))
        val after = StoreFiles.snapshot(root)
        r.points += dps.size
        r.commits += after.dataManifest - before.dataManifest
        r.newBytes += after.files.iterator.filterNot(f => before.files.contains(f._1)).map(_._2).sum
        r.compacted += after.compacted.exists(p => !before.files.contains(p))
        r.wireBytes += b.body.getBytes(UTF_8).length
      }
    }
    r
  }

  final class ReplayedPuts {
    var points = 0L
    var commits = 0L
    var newBytes = 0L
    var wireBytes = 0L
    /** Per replayed batch: did its commit write a compacted file. */
    val compacted = mutable.ArrayBuffer.empty[Boolean]
  }
}
