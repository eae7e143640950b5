package servebench

import java.io.File

import graft.ingest.TcpLineServer
import graft.store.Store

/** Serving benchmark for the TickTockDB path: boots the engine's real
  * edges in-process on ephemeral ports over fresh stores (`HttpApi`, and
  * a plain-put `TcpLineServer` for mixed_tcp), drives them from client
  * threads, checks every answer, and prints every metric by name with its
  * unit and sample count, then one JSON line with the gated metrics.
  *
  *   servebench --workload <ingest_put|query_dashboard|mixed_tcp>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` is a separate
  * run that reports per-layer figures, timed around calls into each
  * layer's public functions from this benchmark's own code, and writes
  * its spans to `<work>/spans.json`.
  */
object ServeBench {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File)

  def parseArgs(argv: Seq[String]): Args = {
    def opt(name: String): Option[String] =
      argv.sliding(2).collectFirst { case Seq(`name`, v) => v }
    def need(name: String): String =
      opt(name).getOrElse(throw new IllegalArgumentException(s"missing $name"))
    val w = need("--workload")
    require(Workloads.Names.contains(w), s"unknown workload $w (${Workloads.Names.mkString(", ")})")
    Args(w, need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")))
  }

  def main(argv: Array[String]): Unit = {
    val a =
      try parseArgs(argv.toSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"servebench: ${e.getMessage}")
        sys.exit(2)
      }
    val env = new Env(a.work, a.seed)
    val out = try run(env, Sizes.full, a)
      finally env.close()
    print(render(env, a, out))
    System.out.flush()
    // idle client and server threads must not hold the JVM open
    sys.exit(0)
  }

  /** Run one workload; the outcome carries the checks and every figure. */
  def run(env: Env, sz: Sizes, a: Args): Outcome = {
    val out = new Outcome
    val w = new Workloads(env, sz, out)
    a.workload match {
      case "ingest_put" => ingest(env, sz, a, w, out)
      case "query_dashboard" => dashboard(env, sz, a, w, out)
      case "mixed_tcp" => mixed(env, sz, a, w, out)
    }
    // after the workload's own state is released: what the engine's
    // session still holds (cached relations, leaked blocks) stays
    val heap = Stats.heapRetainedMb()
    out.report("heap_retained_mb") = (heap, "MiB", 1)
    out.gated("heap_retained_mb") = (heap, "MiB")
    out.report("fail_frac") = (out.checks.failFrac, "ratio", out.checks.attempted.toInt)
    out.info("setup_reps_s") = out.setupS.map(x => f"$x%.2f").mkString(" ")
    val setup = Stats.median(out.setupS)
    out.report("setup_s") = (setup, "s", out.setupS.size)
    out.gated("setup_s") = (setup, "s")
    out.spans.foreach(s => java.nio.file.Files.writeString(
      new File(a.work, "spans.json").toPath, s.toJson))
    out
  }

  private def ingest(env: Env, sz: Sizes, a: Args, w: Workloads, out: Outcome): Unit = {
    out.setupS = (0 until sz.setupReps).map(r => Stats.timed(w.ingestSetup(r))._2)
    if (!a.trace) w.reportIngest(w.ingestPut(sz.ingestEpisodes))
    else {
      // crossover: episode 0 runs its second half with a listener, episode
      // 1 its first half, so JIT warm-up and batch position (compaction on
      // the last) weigh on the traced and untraced puts alike
      val n = sz.batchesPerEpisode
      def traced(e: Int, i: Int) = (i >= n / 2) == (e % 2 == 0)
      val gc0 = Stats.gcSeconds()
      val eps = w.ingestPut(math.max(2, sz.ingestEpisodes), traced)
      val gcS = Stats.gcSeconds() - gc0
      w.reportIngest(eps)
      def putS(on: Boolean) = eps.zipWithIndex.flatMap { case (ep, e) =>
        ep.putS.zipWithIndex.collect { case (s, i) if traced(e, i) == on => s }
      }
      val listener = JobListener.attach(env.spark.sparkContext)
      val spans = new Spans
      val root = env.freshRoot("replay")
      val store = new Store(env.spark, root)
      val batches = w.putBatches(sz.batchesPerEpisode, sz.batchPoints, 0)
      val puts = w.replayPuts(spans, batches, root, store)
      val all = batches.flatMap(_.points)
      val truth = new Gen.Truth
      batches.foreach(b => truth.add(b.proto, b.points))
      val queries = truth.metrics.zipWithIndex.map { case (m, i) =>
        val q = w.replayQuery(spans, 10000 + i, store,
          w.countQuery(Seq(m), all.map(_.ts).min, all.map(_.ts).max + 1), Workloads.Anchor)
        w.checkCounts(Seq(m), q._1, truth)
        q
      }
      listener.settle()
      JobListener.detach(env.spark.sparkContext, listener)
      val L = new LayerMath(spans, listener.snapshot, out.layers)
      L.ingest(puts, 0 until batches.size)
      L.queries(queries, (0 until queries.size).map(10000 + _))
      L.storeEnd(store, root)
      val put50 = Stats.median(putS(false))
      out.layers.put("api.edge_s", put50 - L.requestInProcess(0 until batches.size,
        Seq("ingest.parse", "ingest.frame", "store.ingest")), "s")
      out.layers.put("jvm.gc_s", gcS, "s")
      out.layers.put("trace.overhead_s", Stats.median(putS(true)) - put50, "s")
      out.spans = Some(spans)
    }
  }

  private def dashboard(env: Env, sz: Sizes, a: Args, w: Workloads, out: Outcome): Unit = {
    val (h, setupSpans, setupJobs) = setUpHistory(env, sz, a, w, out)
    w.reportHistoryStore(h)
    try {
      out.info("warmup_s") = f"${w.warmQueries(h)}%.2f"
      if (!a.trace) {
        val (answers, wall) = w.queryDashboard(h, a.seconds)
        w.reportDashboard(answers, wall)
        out.info("verify_s") = f"${Stats.timed(w.verifyAnswers(h.api.boundPort, h.clock, answers))._2}%.2f"
      } else {
        // quarters untraced, traced, traced, untraced: JIT warm-up over
        // the live phase weighs on both sides alike
        h.clock.start()
        val gc0 = Stats.gcSeconds()
        val live = Seq(false, true, true, false).map(on => on -> w.listening(on) {
          w.dashboardLoop(h.api.boundPort, h.clock, w.panels, Workloads.DashboardClients, a.seconds / 4)
        })
        val gcS = Stats.gcSeconds() - gc0
        val untraced = live.filterNot(_._1).flatMap(_._2._1)
        val traced = live.filter(_._1).flatMap(_._2._1)
        w.reportDashboard(untraced, live.filterNot(_._1).map(_._2._2).sum)
        w.verifyAnswers(h.api.boundPort, h.clock, untraced)
        val listener = JobListener.attach(env.spark.sparkContext)
        val spans = setupSpans.get
        val now = h.clock.now()
        val reqs = for (r <- 0 until sz.replayRounds; (p, i) <- w.panels.zipWithIndex)
          yield 10000 + r * w.panels.size + i
        val replayed = reqs.map { id =>
          val p = w.panels((id - 10000) % w.panels.size)
          p -> w.replayQuery(spans, id, h.store, p.body, now)
        }
        val queries = replayed.map(_._2)
        listener.settle()
        JobListener.detach(env.spark.sparkContext, listener)
        w.verifyAnswers(h.api.boundPort, h.clock, traced)
        w.verifyReplayed(h.api.boundPort, now, replayed.map { case (p, q) => p -> q._1 })
        val L = new LayerMath(spans, setupJobs ++ listener.snapshot, out.layers)
        L.ingest(h.puts.get, h.requests)
        L.queries(queries, reqs)
        L.storeEnd(h.store, h.root)
        val q50 = Stats.median(untraced.filter(_.status == 200).map(_.seconds))
        out.layers.put("api.edge_s", q50 - L.requestInProcess(reqs,
          Seq("api.parse", "store.resolve", "api.execute")), "s")
        out.layers.put("jvm.gc_s", gcS, "s")
        out.layers.put("trace.overhead_s", w.panelP50(traced) - w.panelP50(untraced), "s")
        out.spans = Some(spans)
      }
    } finally h.api.stop()
  }

  private def mixed(env: Env, sz: Sizes, a: Args, w: Workloads, out: Outcome): Unit = {
    val sc = env.spark.sparkContext
    val (h, setupSpans, setupJobs) = setUpHistory(env, sz, a, w, out)
    val tcp = w.withEdge("ingest")(new TcpLineServer(env.spark, h.store, proto = "plain"))
    w.reportHistoryStore(h)
    try {
      h.clock.start()
      val truth = h.truth
      val untraced = w.mixedTcp(h, tcp, if (a.trace) a.seconds / 2 else a.seconds, 0, truth)
      w.reportMixed(untraced)
      if (a.trace) {
        val listener = JobListener.attach(sc)
        val gc0 = Stats.gcSeconds()
        val before = StoreFiles.snapshot(h.root)
        val traced = w.mixedTcp(h, tcp, a.seconds / 2, 1, truth)
        tcp.awaitQuiesce()
        val after = StoreFiles.snapshot(h.root)
        val gcS = Stats.gcSeconds() - gc0
        listener.settle()
        JobListener.detach(sc, listener)
        val L = new LayerMath(setupSpans.get, setupJobs, out.layers)
        L.ingest(h.puts.get, h.requests)
        L.liveMixed(listener.snapshot, before, after, traced)
        L.storeEnd(h.store, h.root)
        out.layers.put("jvm.gc_s", gcS, "s")
        out.layers.put("trace.overhead_s",
          Stats.median(traced.lagS) - Stats.median(untraced.lagS), "s")
        out.spans = setupSpans
      }
      tcp.awaitQuiesce()
      val client = new Client(h.api.boundPort)
      w.verifyCounts(client, truth, Workloads.Anchor - sz.historyDays * 86400000L,
        h.clock.nowAt(h.clock.tick) + 3600000L)
    } finally { tcp.stop(); h.api.stop() }
  }

  /** `setupReps` set-ups of the history store; the last one is kept.
    * In a traced run the kept set-up's preload records spans and jobs.
    */
  private def setUpHistory(env: Env, sz: Sizes, a: Args, w: Workloads,
      out: Outcome): (w.History, Option[Spans], Seq[JobListener#Job]) = {
    var kept: w.History = null
    var spans: Option[Spans] = None
    var jobs: Seq[JobListener#Job] = Nil
    out.setupS = (0 until sz.setupReps).map { r =>
      if (kept != null) kept.api.stop()
      val last = r == sz.setupReps - 1
      spans = if (a.trace && last) Some(new Spans) else None
      val listener = spans.map(_ => JobListener.attach(env.spark.sparkContext))
      val (h, s) = Stats.timed(w.historySetup(spans))
      listener.foreach { l =>
        l.settle()
        JobListener.detach(env.spark.sparkContext, l)
        jobs = l.snapshot
      }
      kept = h
      s
    }
    (kept, spans, jobs)
  }

  /** Human-readable record, then the JSON result as the last line. */
  def render(env: Env, a: Args, out: Outcome): String = {
    val sb = new StringBuilder
    sb.append(s"servebench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0}\n")
    sb.append("host " + env.host.map { case (k, v) => s"$k=$v" }.mkString(" ") + "\n")
    out.info.foreach { case (k, v) => sb.append(s"info $k: $v\n") }
    out.report.foreach { case (k, (v, u, n)) => sb.append(f"metric $k = $v%.6g $u (n=$n)\n") }
    if (a.trace) out.layers.all.foreach { case (k, v, u) => sb.append(f"layer $k = $v%.6g $u\n") }
    out.checks.messages.foreach(m => sb.append(s"FAILED $m\n"))
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) out.layers.all
      else out.gated.toSeq.map { case (k, (v, u)) => (k, v, u) }
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    val correct = out.checks.failed == 0 && out.checks.attempted > 0 &&
      metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    sb.append(s"""{"correct": $correct, "attempted": ${out.checks.attempted}, """ +
      s""""failed": ${out.checks.failed}, "metrics": {$json}}""" + "\n")
    sb.result()
  }
}
