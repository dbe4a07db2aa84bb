package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.jackson.JsonMethods

/** JVM side of the benchmark: runs one workload against the program's public
  * API and writes `result.json` into the run directory. The Python side
  * (run.py) generates the inputs before and checks the outputs after.
  *
  * Usage: BenchMain <workload> <input dir> <run dir> <seconds> <trace 0|1> */
object BenchMain {

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, runDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val manifest = JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(inDir, "manifest.json")), "UTF-8"))
      .values.asInstanceOf[Map[String, Any]]
    val heap = new HeapWatch
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)

    val trace = new Trace
    val ctx = new Ctx(spark, inDir, runDir, manifest, trace)
    val w: Workload = workload match {
      case "service_steady" => new ServiceSteady(ctx)
      case "llm_dedup_linkage" => new DedupLinkage(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up = process start → first timed call, minus input staging
    Phase("session up")
    val stagingS = Clock.seconds(w.stage())
    Phase("inputs staged")
    w.warmUp()
    Phase("warmed up")
    heap.sample()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3 - stagingS

    // A traced run attaches the listeners before its first round and measures
    // the rounds an untraced run measures. Its overhead is a repeatable probe
    // timed traced, then again after detaching, in the same process.
    if (traced) trace.attach(spark)
    val cpuBefore = CpuStat.read()
    val rounds = runRounds(w, heap, seconds)
    val stolen = CpuStat.stolenShare(cpuBefore, CpuStat.read())
    Phase("rounds done")
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "staging_s" -> stagingS,
      "peak_heap_mb" -> heap.peakMb,
      "rounds" -> rounds.size,
      "round_s" -> rounds.map(_.seconds),
      "attempted" -> rounds.map(_.attempted).sum,
      "failed" -> rounds.map(_.failed).sum,
      "cpu_stolen_share" -> stolen)
    out ++= w.summarize(rounds)
    out ++= w.observe(rounds)
    if (traced) {
      val modules = ModuleLayers(trace)
      val layers = w.layers(rounds)
      val probeTraced = Clock.seconds(w.probe())
      trace.detach(spark)
      val probeUntraced = Clock.seconds(w.probe())
      out("layer") = modules ++ layers ++ Map(
        "tracing_overhead_s" -> (probeTraced - probeUntraced))
      Files.write(Paths.get(runDir, "spans.json"),
        Json.write(trace.spansJson).getBytes("UTF-8"))
    }
    Files.write(Paths.get(runDir, "result.json"), Json.write(out).getBytes("UTF-8"))
    Phase("result written")
    spark.stop()
  }

  /** Whole rounds until `seconds` have passed, at least the workload's
    * `rounds`. */
  private def runRounds(w: Workload, heap: HeapWatch, seconds: Double): Seq[Round] = {
    val rounds = mutable.ArrayBuffer.empty[Round]
    val start = System.nanoTime()
    while ((rounds.size < w.rounds || (System.nanoTime() - start) / 1e9 < seconds) &&
      w.hasRound(rounds.size)) {
      rounds += w.round(rounds.size)
      heap.sample()
    }
    rounds.toSeq
  }
}

/** What every workload shares: the session, the directories, the manifest
  * the generator wrote and the tracer. */
final class Ctx(val spark: SparkSession, val inDir: String, val runDir: String,
    val manifest: Map[String, Any], val trace: Trace) {
  def dir(parts: String*): String = {
    val p = Paths.get(runDir, parts: _*)
    Files.createDirectories(p)
    p.toString
  }
}

/** One measured round: its wall time, its operation counts and whatever
  * the workload records for its metrics and its checks. */
final case class Round(index: Int, seconds: Double, attempted: Int, failed: Int,
    data: Map[String, Any])

trait Workload {
  /** Writes generated inputs into the program's store (not set-up time). */
  def stage(): Unit = ()
  def warmUp(): Unit
  def hasRound(i: Int): Boolean = true
  def round(i: Int): Round
  /** End-to-end metrics of the measured rounds. */
  def summarize(rounds: Seq[Round]): Map[String, Any]
  /** What run.py's checks need, over every round of the run. */
  def observe(rounds: Seq[Round]): Map[String, Any]
  /** Per-layer metrics of the traced rounds. */
  def layers(rounds: Seq[Round]): Map[String, Any]
  /** Rounds a run measures at least, traced or not. */
  def rounds: Int = 1
  /** Repeatable calls that leave the inputs as they are: timed traced and
    * untraced to measure the tracer's own cost. */
  def probe(): Unit
}

/** Progress line on standard error, seconds since the JVM started. */
object Phase {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(name: String): Unit = System.err.println(
    f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s $name")
}

/** The machine's CPU counters from /proc/stat, when it has one: the share
  * of CPU time the hypervisor gave to other guests while the rounds ran
  * (steal), recorded to tell a busy host from a slow program. */
object CpuStat {
  def read(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Exception => None }

  def stolenShare(a: Option[Array[Long]], b: Option[Array[Long]]): Option[Double] =
    for (x <- a; y <- b if x.length > 7 && y.length > 7) yield {
      val d = y.zip(x).map { case (p, q) => p - q }
      d(7).toDouble / math.max(1L, d.take(8).sum)
    }
}

object Clock {
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Geometric mean of the per-kind medians: each kind of operation weighs
    * the same, and the statistic does not jump between kinds as a median
    * over a few samples of different costs does. */
  def geomeanOfMedians(byKind: Iterable[Seq[Double]]): Double = {
    val ms = byKind.filter(_.nonEmpty).map(median)
    if (ms.isEmpty) 0.0 else math.exp(ms.map(math.log).sum / ms.size)
  }
}

/** Peak heap in use after a full collection, sampled after set-up and after
  * every round (outside the timing): the heap the run holds on to, not the
  * garbage a collector has not reached yet. The second collection frees what
  * Spark's context cleaner released after the first (broadcast and shuffle
  * state of dropped plans); with a 100 ms pause instead of 500 ms, the
  * cleaner often had not finished on a busy host and the heap read 20-37 %
  * high. */
final class HeapWatch {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Minimal JSON writer for the result files. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigInt => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case a: Array[_] => write(a.toSeq)
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case p: Product => write(p.productIterator.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object Dirs {
  def files(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) return Nil
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
  }
  def bytes(p: String): Long = files(p).map(Files.size).sum
}
