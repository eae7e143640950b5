package servebench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's process-wide environment: one Spark session configured
  * like `graft.ServerMain`'s, a work directory for stores and Spark
  * scratch, and the host record every output carries.
  */
final class Env(val work: File, val seed: Long) {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  val bootS: Double = Stats.timed {
    SparkSession.builder()
      .appName("servebench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.ignoreMissingFiles", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
      .sparkContext.setLogLevel("ERROR")
  }._2
  val spark: SparkSession = SparkSession.active

  /** Host-speed calibration: one pass of the fixed job `graft.Bench`
    * reports as `cal` (there the min of 3 passes), so records from
    * different hosts compare only at a similar reading.
    */
  val calS: Double = Stats.timed(spark.range(200000000L)
    .selectExpr("sum(pmod(xxhash64(id), 1048576))").collect())._2

  private var nStores = 0

  private val cpu0 = Stats.cpuJiffies()

  /** A fresh, empty store root under the work directory. */
  def freshRoot(tag: String): String = synchronized {
    nStores += 1
    new File(work, s"store-$tag-$nStores").getPath
  }

  def host: Seq[(String, String)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "spark_master" -> s"local[$cpus]",
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / (1 << 20)).toString,
    "spark_driver_mem" -> sys.env.getOrElse("SPARK_DRIVER_MEM", "unset"),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "seed" -> seed.toString,
    "cal_s" -> f"$calS%.4f",
    "spark_boot_s" -> f"$bootS%.3f",
    // share of this run's CPU time the hypervisor gave to other guests
    "steal_frac" -> ((cpu0, Stats.cpuJiffies()) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => f"${(s1 - s0).toDouble / (t1 - t0)}%.4f"
      case _ => "n/a"
    }))

  def close(): Unit = spark.stop()
}

/** Blocking HTTP/1.1 client for one closed-loop caller. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** POST and return (status, body, seconds from send to full response). */
  def post(path: String, body: String): (Int, String, Double) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(120))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val t0 = System.nanoTime()
    try {
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body(), (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: java.io.IOException => (-1, e.toString, (System.nanoTime() - t0) / 1e9)
    }
  }
}

object Stats {
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Driver heap in use after a forced full collection, in MiB: the least
    * of three collections, so an allocation a background thread makes
    * between a collection and its reading does not count as retained.
    */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()).toDouble / (1 << 20)
    }.min
  }

  /** (steal, total) jiffies over all CPUs from `/proc/stat`, if present. */
  def cpuJiffies(): Option[(Long, Long)] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }.toOption

  /** Total GC wall time so far, in seconds. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
}

/** Filesystem view of a store root: the counters the traced run diffs
  * around each call (files, bytes, data-manifest commits, compacted
  * files) and the end-of-run size.
  */
object StoreFiles {
  final case class Snapshot(files: Map[String, Long], dataManifest: Long) {
    /** Data files written by a compaction (`c*` names). */
    def compacted: Iterator[String] = files.keysIterator.filter(p =>
      p.contains("/data/date=") && new File(p).getName.startsWith("c"))
  }

  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else Iterator(f)

  def snapshot(root: String): Snapshot = {
    val r = new File(root)
    val files = walk(r).filter(_.isFile).map(f => f.getPath -> f.length()).toMap
    Snapshot(files, newestDataManifest(root))
  }

  def bytes(root: String): Long = walk(new File(root)).filter(_.isFile).map(_.length()).sum

  def newestDataManifest(root: String): Long =
    Option(new File(root, "data").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("manifest."))
      .flatMap(_.stripPrefix("manifest.").toLongOption).maxOption.getOrElse(0L)

  /** Files named by the newest data manifest. */
  def dataFiles(root: String): Int = {
    val seq = newestDataManifest(root)
    if (seq == 0) 0
    else {
      val src = scala.io.Source.fromFile(new File(root, s"data/manifest.$seq"), "UTF-8")
      try src.getLines().count(_.nonEmpty) finally src.close()
    }
  }
}
