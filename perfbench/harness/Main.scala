package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Entry point of the benchmark JVM. One JVM runs one workload:
  *
  *   perfbench.Main --workload log_stream|curate_batch
  *                  --seed N --seconds S --trace 0|1 --work DIR --launchMs EPOCH_MS
  *
  * It prints human-readable lines, then one JSON line (the last line of
  * stdout) that `run.py` turns into the benchmark's result. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Phase.launchMs = o.launchMs.toDouble
    val res =
      try {
        val spark = Session.start(o)
        Phase.mark("session")
        val r = o.workload match {
          case "log_stream" => LogStream.run(spark, o)
          case "curate_batch" => CurateBatch.run(spark, o)
          case w => sys.error(s"unknown workload $w")
        }
        spark.stop()
        // the traced log_stream run ends with the single-slot baseline drain,
        // on a fresh local[1] session in the same JVM
        if (o.trace && o.workload == "log_stream") {
          val one = Session.start(o.copy(slots = 1))
          val b = LogStream.runDrainOnly(one, o)
          one.stop()
          val rate = b.metrics.head.value
          r.copy(attempted = r.attempted + b.attempted, failed = r.failed + b.failed,
            valid = r.valid && b.valid,
            table = r.table :+ f"  baseline.local1_rate_per_s            $rate%14.1f",
            e2e = r.e2e :+ Metric("local1_rate_per_s", rate, "1/s"))
        } else r
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          System.out.flush()
          System.exit(3)
          throw e
      }
    res.table.foreach(println)
    println(res.json)
    System.out.flush()
    System.exit(0)
  }
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, launchMs: Long, slots: Int = Session.defaultSlots)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"--$k required"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", req("work"), req("launchMs").toLong)
  }
}

object Session {
  /** Spark task slots: one core is left to the load generator thread, so
    * slots + generator <= nproc. */
  def defaultSlots: Int = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

  def start(o: Opts): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .appName(s"perfbench-${o.workload}")
      .master(s"local[${o.slots}]")
      .config("spark.sql.shuffle.partitions", o.slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Wall clock with sub-millisecond resolution, on the epoch-ms scale that
  * Spark's own timestamps (progress events, offset-log batch timestamps,
  * file modification times) use. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def sleepUntil(ms: Double): Unit = {
    var left = ms - nowMs
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos((left * 1e6).toLong)
      left = ms - nowMs
    }
  }
}

/** Phase marks on stderr (the JVM log), seconds since launch. */
object Phase {
  @volatile var launchMs = 0.0
  def mark(name: String): Unit =
    System.err.println(f"phase $name%-24s ${(Clock.nowMs - launchMs) / 1000}%8.2f s")
}

object Validity {
  /** A backlog sampled over a live phase is flat when its mean over the
    * last third is at most 1.5x its mean over the middle third plus a
    * quarter second of offered load; a rate above what the system drains
    * grows the backlog linearly and fails this. */
  def flat(backlog: Seq[Int], ratePerS: Double): Boolean = {
    val third = math.max(1, backlog.size / 3)
    Stats.mean(backlog.takeRight(third).map(_.toDouble)) <=
      1.5 * Stats.mean(backlog.slice(third, 2 * third).map(_.toDouble)) + ratePerS * 0.25
  }

  /** Items sent but not committed at each of the generator's ticks, from
    * (tick time, items sent so far) and (commit time, items committed). */
  def backlog(sent: Seq[(Double, Int)], commits: Seq[(Double, Int)]): Seq[Int] = {
    val c = commits.sortBy(_._1)
    var i = 0
    var done = 0
    sent.sortBy(_._1).map { case (t, s) =>
      while (i < c.size && c(i)._1 <= t) { done += c(i)._2; i += 1 }
      s - done
    }
  }
}

object Stats {
  /** Linear-interpolation percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

final case class Metric(name: String, value: Double, unit: String)

/** A workload's outcome: operations attempted/failed (a wrong output
  * counts as failed), whether the run was valid, and its metrics. */
final case class Result(attempted: Long, failed: Long, valid: Boolean,
    metrics: Seq[Metric], table: Seq[String] = Nil, e2e: Seq[Metric] = Nil) {
  /** `e2e` (a traced run's own end-to-end figures, for the tracing
    * overhead) travels as an extra key that run.py removes. */
  def json: String = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    def obj(xs: Seq[Metric]) =
      xs.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    val extra = if (e2e.isEmpty) "" else s""", "e2e": {${e2e.map(m => s""""${m.name}": ${num(m.value)}""").mkString(", ")}}"""
    s"""{"correct": ${valid && failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${obj(metrics)}}$extra}"""
  }
}

object Fs {
  def fresh(p: String): String = {
    rm(p); Files.createDirectories(Paths.get(p)); p
  }
  def rm(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) {
      val s = Files.walk(f.toPath)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
  }
  /** Regular files under `p` whose name satisfies `keep`. */
  def files(p: String, keep: String => Boolean = _ => true): Seq[Path] = {
    val f = Paths.get(p)
    if (!Files.exists(f)) Nil
    else {
      val s = Files.walk(f)
      try {
        val b = ArrayBuffer[Path]()
        s.filter(x => Files.isRegularFile(x) && keep(x.getFileName.toString)).forEach(x => b += x)
        b.toSeq
      } finally s.close()
    }
  }
  def dataFiles(p: String): Seq[Path] =
    files(p, n => n.endsWith(".parquet") && !n.startsWith("."))
}

/** The streaming checkpoint's offset log, read after a run: batch id ->
  * (batch timestamp, MemoryStream end offset). Reading it from disk keeps
  * the untraced run free of in-process listeners. */
object OffsetLog {
  final case class Entry(batchId: Long, batchTsMs: Long, endOffset: Long)
  private val TsRe = """"batchTimestampMs"\s*:\s*(\d+)""".r
  def read(ckpt: String): Seq[Entry] = {
    val dir = new File(s"$ckpt/offsets")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.forall(_.isDigit))
    files.toSeq.map { f =>
      val lines = Files.readAllLines(f.toPath).toArray(new Array[String](0))
      val ts = TsRe.findFirstMatchIn(lines(1)).get.group(1).toLong
      Entry(f.getName.toLong, ts, lines(2).trim.toLong)
    }.sortBy(_.batchId)
  }
}
