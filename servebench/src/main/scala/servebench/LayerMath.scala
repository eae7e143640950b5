package servebench

import graft.store.Store

/** Per-layer figures from a traced run: span durations, the Spark jobs
  * each span's interval contains (serial calls make that exact), and the
  * store-file diffs recorded around each commit.
  */
final class LayerMath(spans: Spans, jobs: Seq[JobListener#Job], layers: Layers) {
  import Stats.median

  private def named(name: String, reqs: Seq[Int]): Seq[Spans#Span] = {
    val set = reqs.toSet
    spans.named(name).filter(s => set(s.request))
  }

  private def jobsIn(s: Spans#Span) = JobListener.within(jobs, s.startMs, s.endMs)

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Ingest layers over replayed commits `reqs`. */
  def ingest(r: Workloads#ReplayedPuts, reqs: Seq[Int]): Unit = {
    val ing = named("store.ingest", reqs)
    layers.put("ingest.parse_us_per_pt",
      named("ingest.parse", reqs).map(_.seconds).sum / math.max(1L, r.points) * 1e6, "us")
    layers.put("ingest.frame_s", median(named("ingest.frame", reqs).map(_.seconds)), "s")
    layers.put("ingest.pts_per_commit", r.points.toDouble / math.max(1L, r.commits), "points")
    layers.put("store.ingest_s", median(ing.map(_.seconds)), "s")
    layers.put("store.ingest_jobs", median(ing.map(jobsIn(_).size.toDouble)), "count")
    layers.put("store.ingest_tasks", median(ing.map(jobsIn(_).map(_.tasks).sum.toDouble)), "count")
    val (compacting, plain) = ing.zip(r.compacted).partition(_._2)
    layers.put("store.compactions", compacting.size.toDouble, "count")
    layers.put("store.compact_s",
      if (compacting.isEmpty) 0.0
      else mean(compacting.map(_._1.seconds)) - median(plain.map(_._1.seconds)), "s")
    layers.put("store.write_amp", r.newBytes.toDouble / math.max(1L, r.wireBytes), "ratio")
  }

  /** Query layers over replayed requests `reqs`; `qs` holds each
    * request's (answer, dps, sub-queries, routed sub-queries).
    */
  def queries(qs: Seq[(String, Long, Int, Int)], reqs: Seq[Int]): Unit = {
    layers.put("api.query_parse_s", median(named("api.parse", reqs).map(_.seconds)), "s")
    layers.put("api.query_execute_s", median(named("api.execute", reqs).map(_.seconds)), "s")
    layers.put("store.resolve_s", median(named("store.resolve", reqs).map(_.seconds)), "s")
    layers.put("query.plan_s", median(named("query.plan", reqs).map(_.seconds)), "s")
    val perReq = named("request", reqs).map(jobsIn)
    sparkPerQuery(perReq, qs.map(_._2).sum)
    layers.put("rollup.routed_frac", qs.map(_._4).sum.toDouble / math.max(1, qs.map(_._3).sum), "ratio")
  }

  private def sparkPerQuery(perReq: Seq[Seq[JobListener#Job]], dps: Long): Unit = {
    val n = math.max(1, perReq.size).toDouble
    val all = perReq.flatten
    layers.put("spark.jobs_per_query", all.size / n, "count")
    layers.put("spark.tasks_per_query", all.map(_.tasks).sum / n, "count")
    layers.put("spark.job_wall_s_per_query",
      all.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) / 1e3).sum / n, "s")
    layers.put("spark.executor_cpu_s_per_query", all.map(_.cpuNs).sum / 1e9 / n, "s")
    layers.put("spark.scan_rows_per_dp", all.map(_.records).sum.toDouble / math.max(1L, dps), "ratio")
    layers.put("spark.shuffle_bytes_per_query", all.map(_.shuffleBytes).sum / n, "B")
  }

  /** mixed_tcp's live phase: jobs grouped by the edge that started them,
    * store counters from the files before and after the phase. Jobs from
    * threads tagged `ingest` (the TCP flusher, the store's commit pool)
    * are ingest; the rest come from the HTTP edge, whose JDK dispatcher
    * thread inherits no thread locals and so carries no tag.
    */
  def liveMixed(live: Seq[JobListener#Job], before: StoreFiles.Snapshot,
      after: StoreFiles.Snapshot, m: Workloads#Mixed): Unit = {
    val nq = m.answers.size + m.probes
    val q = live.filter(_.edge != "ingest")
    val dps = m.answers.filter(_.status == 200).map(a => Responses.dpCount(a.body)).sum + m.probeDps
    sparkPerQuery(Seq(q) ++ Seq.fill(math.max(0, nq - 1))(Nil), dps)
    val commits = math.max(1L, after.dataManifest - before.dataManifest)
    val ing = live.filter(_.edge == "ingest")
    layers.put("ingest.pts_per_commit", m.sentPoints.toDouble / commits, "points")
    layers.put("store.ingest_jobs", ing.size.toDouble / commits, "count")
    layers.put("store.ingest_tasks", ing.map(_.tasks).sum.toDouble / commits, "count")
    layers.put("store.compactions", after.compacted.count(p => !before.files.contains(p)).toDouble, "count")
    layers.put("store.compact_s", 0.0, "s")
    val newBytes = after.files.iterator.filterNot(f => before.files.contains(f._1)).map(_._2).sum
    layers.put("store.write_amp", newBytes.toDouble / math.max(1L, m.wireBytes), "ratio")
  }

  /** Data files the newest manifest names; maintained OOO slices. */
  def storeEnd(store: Store, root: String): Unit = {
    layers.put("store.data_files", StoreFiles.dataFiles(root).toDouble, "count")
    layers.put("rollup.ooo_slices", store.oooMarks.count().toDouble, "count")
  }

  /** Median over requests of the summed in-process spans `names`. */
  def requestInProcess(reqs: Seq[Int], names: Seq[String]): Double =
    median(reqs.map(r => spans.all.filter(s => s.request == r && names.contains(s.name))
      .map(_.seconds).sum))
}
