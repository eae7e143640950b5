package servebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Correctness bookkeeping for one run: every checked operation counts
  * as attempted, every non-2xx, timeout, mismatch or lost point as
  * failed. `fail_frac` is failed ÷ attempted.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val messages = mutable.ArrayBuffer.empty[String]

  def apply(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (messages.size < 20) messages += what
    }
    ok
  }

  def failFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

/** `/api/query` response decoding and comparison. */
object Responses {
  private val mapper = new ObjectMapper()

  /** One result set: identity (metric, tags, aggregateTags) → dps. */
  final case class ResultSet(id: String, dps: Map[String, Double])

  def parse(body: String): Seq[ResultSet] = {
    val root = mapper.readTree(body)
    require(root.isArray, s"not a result array: ${body.take(200)}")
    root.elements().asScala.map { rs =>
      val tags = rs.get("tags").properties().asScala.toSeq
        .map(e => s"${e.getKey}=${e.getValue.asText}").sorted
      val agg = rs.get("aggregateTags").elements().asScala.map(_.asText).toSeq.sorted
      val dps = rs.get("dps").properties().asScala.map(e => e.getKey -> value(e.getValue)).toMap
      ResultSet(s"${rs.get("metric").asText}{${tags.mkString(",")}}[${agg.mkString(",")}]", dps)
    }.toSeq
  }

  private def value(n: JsonNode): Double =
    if (n.isNumber) n.asDouble()
    else n.asText match {
      case "NaN" => Double.NaN
      case "Inf" => Double.PositiveInfinity
      case "-Inf" => Double.NegativeInfinity
      case s => s.toDouble
    }

  def dpCount(body: String): Long = parse(body).map(_.dps.size.toLong).sum

  /** Newest timestamp (seconds, or ms under msResolution) in any set. */
  def newestTs(body: String): Option[Long] =
    parse(body).flatMap(_.dps.keys.map(_.toLong)).maxOption

  /** Same result sets, same timestamps, values within `rel` relative. */
  def sameWithin(a: String, b: String, rel: Double = 1e-9): Boolean = {
    val (x, y) = (parse(a), parse(b))
    x.size == y.size && x.sortBy(_.id).zip(y.sortBy(_.id)).forall { case (p, q) =>
      p.id == q.id && p.dps.keySet == q.dps.keySet && p.dps.forall { case (k, v) =>
        val w = q.dps(k)
        (v.isNaN && w.isNaN) || v == w ||
          math.abs(v - w) <= rel * math.max(math.abs(v), math.abs(w))
      }
    }
  }
}
