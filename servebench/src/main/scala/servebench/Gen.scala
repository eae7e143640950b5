package servebench

import scala.collection.mutable

/** Seeded workload generator of the FIXTURES §1.1 shape: metrics
  * `sb_metric_{m}` for m in 1..metrics, metric m carrying exactly m tags
  * `tag1..tagm` with values `val{1..tagCard}`; each series advances by a
  * jittered interval; a share of points is delivered out of order and a
  * share is re-sent as a duplicate (same series and timestamp, new
  * value). A counter metric `sb_counter` (one series per `tag1` value,
  * monotonically increasing values) feeds the rate query.
  *
  * The engine sees only the wire text this class renders (OpenTSDB plain
  * `put` lines or Influx line protocol); the generator keeps the ground
  * truth the checks compare against: the distinct (series, timestamp)
  * pairs sent per metric.
  */
final class Gen(val seed: Long, val shape: Gen.Shape) {
  import Gen._

  private val rnd = new scala.util.Random(seed)

  /** Every generated series: metric name and ordered tag pairs. */
  val series: IndexedSeq[Series] = {
    val plain = (1 to shape.metrics).flatMap { m =>
      val possible = math.pow(shape.tagCard.toDouble, m.toDouble)
      val want = math.min(shape.seriesPerMetric.toDouble, possible).toInt
      val seen = mutable.LinkedHashSet.empty[Seq[(String, String)]]
      while (seen.size < want)
        seen += (1 to m).map(t => s"tag$t" -> s"val${1 + rnd.nextInt(shape.tagCard)}")
      seen.toIndexedSeq.map(tags => Series(s"sb_metric_$m", tags, counter = false))
    }
    val counters = (1 to shape.tagCard).map(v =>
      Series(CounterMetric, Seq("tag1" -> s"val$v"), counter = true))
    plain ++ counters
  }

  /** Points of every series in `[fromMs, toMs)`, in delivery order:
    * time-ordered, then a share `ooo` delayed behind later points of the
    * same stream and a share `dup` re-sent later with a new value. Each
    * `stream` number draws from its own generator, so a stream's points
    * depend only on the seed and that number.
    */
  def points(subset: IndexedSeq[Series], fromMs: Long, toMs: Long,
      ooo: Double, dup: Double, stream: Long): IndexedSeq[Point] = {
    val rnd = new scala.util.Random(seed * 1000003L + stream)
    val out = mutable.ArrayBuffer.empty[Point]
    subset.foreach { s =>
      var ts = fromMs + rnd.nextInt(shape.intervalMs.toInt)
      var acc = rnd.nextInt(1000).toDouble
      while (ts < toMs) {
        val v =
          if (s.counter) { acc += rnd.nextInt(100); acc }
          else rnd.nextInt(10000) / 100.0
        out += Point(s, ts, v)
        ts += shape.intervalMs / 2 + rnd.nextInt(shape.intervalMs.toInt)
      }
    }
    val ordered = out.sortBy(p => (p.ts, p.series.metric)).toArray
    // delay: swap a point with one up to 64 positions later, so it
    // arrives after newer points of the stream (within or across batches)
    var i = 0
    while (i < ordered.length) {
      if (rnd.nextDouble() < ooo) {
        val j = math.min(ordered.length - 1, i + 1 + rnd.nextInt(64))
        val t = ordered(i); ordered(i) = ordered(j); ordered(j) = t
      }
      i += 1
    }
    val withDups = mutable.ArrayBuffer.empty[Point]
    ordered.foreach { p =>
      withDups += p
      if (rnd.nextDouble() < dup)
        withDups += p.copy(value = rnd.nextInt(10000) / 100.0)
    }
    withDups.toIndexedSeq
  }
}

object Gen {
  val CounterMetric = "sb_counter"
  val MarkerMetric = "sb_marker"

  /** Generator parameters (FIXTURES §1.1 names). */
  final case class Shape(metrics: Int, seriesPerMetric: Int, tagCard: Int,
      intervalMs: Long)

  final case class Series(metric: String, tags: Seq[(String, String)],
      counter: Boolean) {
    /** The tag set the engine stores for this series over `proto`:
      * Influx lines carry their field name as the `_field` tag.
      */
    def storedTags(proto: Proto): Seq[(String, String)] = proto match {
      case Plain => tags
      case Influx => tags :+ ("_field" -> "value")
    }
  }

  final case class Point(series: Series, ts: Long, value: Double)

  sealed trait Proto
  case object Plain extends Proto
  case object Influx extends Proto

  /** One OpenTSDB plain put line (ms timestamp). */
  def plainLine(p: Point): String = {
    val sb = new StringBuilder("put ")
    sb.append(p.series.metric).append(' ').append(p.ts).append(' ').append(p.value)
    p.series.tags.foreach { case (k, v) => sb.append(' ').append(k).append('=').append(v) }
    sb.result()
  }

  /** One Influx line (field `value`, ns timestamp). */
  def influxLine(p: Point): String = {
    val sb = new StringBuilder(p.series.metric)
    p.series.tags.foreach { case (k, v) => sb.append(',').append(k).append('=').append(v) }
    sb.append(" value=").append(p.value).append(' ').append(p.ts * 1000000L)
    sb.result()
  }

  def render(proto: Proto, ps: Seq[Point]): String = {
    val line: Point => String = if (proto == Plain) plainLine else influxLine
    ps.iterator.map(line).mkString("", "\n", "\n")
  }

  /** Ground truth: distinct (stored series, ts) pairs per metric. */
  final class Truth {
    private val seen =
      mutable.HashMap.empty[String, mutable.HashSet[(Seq[(String, String)], Long)]]
    def add(proto: Proto, ps: Iterable[Point]): Unit = ps.foreach { p =>
      seen.getOrElseUpdate(p.series.metric, mutable.HashSet.empty) +=
        ((p.series.storedTags(proto), p.ts))
    }
    def count(metric: String): Long = seen.get(metric).map(_.size.toLong).getOrElse(0L)
    def metrics: Seq[String] = seen.keys.toSeq.sorted
    def total: Long = seen.valuesIterator.map(_.size.toLong).sum
    def seriesCount: Int = seen.valuesIterator.map(_.iterator.map(_._1).toSet.size).sum
  }
}
