package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting for a traced run.
  *
  * Spans: the benchmark wraps every call into a public layer function and
  * every Fetcher/Notifier call in `span(layer, name)`. The span also sets a
  * Spark local property, so the jobs it submits carry the layer.
  *
  * Jobs: a SparkListener attributes each job to a module by the call site
  * Spark records for it (the innermost `graft.<module>.` frame of the long
  * call site); a job submitted from benchmark code (a sink, a collect)
  * falls back to the layer of the span that submitted it. Task metrics
  * roll up to the job's module. A QueryExecutionListener adds each SQL
  * execution's planning time to the module its call site names.
  *
  * Everything stays in memory until the run writes it out at its end. */
final class Trace {
  val Modules: Seq[String] = Seq("store", "pipeline", "detect", "ingest", "queries", "operators")
  private val LayerProp = "perfbench.layer"
  private val GraftFrame = """graft\.(\w+)\.""".r

  final class ModuleStats {
    var jobs = 0L; var jobMs = 0L; var taskMs = 0L; var inputBytes = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var gcMs = 0L; var outputBytes = 0L
    var planningMs = 0L; var sourceScanBytes = 0L
  }
  val modules: mutable.Map[String, ModuleStats] = mutable.Map.empty
  private def stats(m: String) = synchronized { modules.getOrElseUpdate(m, new ModuleStats) }

  final case class Span(layer: String, name: String, startNs: Long, endNs: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Target paths of the file writes SQL executions made. */
  val writes = mutable.ArrayBuffer.empty[String]
  val jobsByTag = mutable.Map.empty[String, Long]

  private val stageModule = mutable.Map.empty[Int, String]
  private val stageFileScan = mutable.Map.empty[Int, Boolean]
  private val jobModule = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val execModule = mutable.Map.empty[Long, String]
  /** Event-time bookkeeping (ms) of the intervals in which a job ran. */
  private var running = 0
  private var busySince = 0L
  private var busyMs = 0L
  private var windowStart = 0L

  private var sc: org.apache.spark.SparkContext = _
  /** Off until `attach`: an untraced round pays nothing for the tracer. */
  @volatile private var active = false

  def moduleOf(callSite: String, fallback: String): String =
    GraftFrame.findAllMatchIn(Option(callSite).getOrElse(""))
      .map(_.group(1)).find(Modules.contains).getOrElse(fallback)

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    active = true
    windowStart = System.currentTimeMillis()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Stop tracing: later calls run as in an untraced run. */
  def detach(spark: SparkSession): Unit = {
    drain()
    active = false
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private lazy val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val layer = props.flatMap(p => Option(p.getProperty(LayerProp))).getOrElse("bench")
      // a SQL execution's call site is taken on the calling thread; the
      // jobs it runs may be submitted from adaptive-execution threads
      val fromExec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execModule.get(id.toLong)).filter(Modules.contains)
      val details = e.stageInfos.headOption.map(_.details).getOrElse("")
      val m = fromExec.getOrElse(moduleOf(details, layer))
      jobModule(e.jobId) = m
      jobStart(e.jobId) = e.time
      e.stageInfos.foreach { s =>
        stageModule(s.stageId) = m
        // a scan of resource files: CSV, or text for the CSV reader's
        // header and schema passes (not the Parquet tables it writes)
        stageFileScan(s.stageId) = s.rddInfos.exists(r => r.name.contains("FileScanRDD") &&
          r.scope.exists(sc => sc.name.startsWith("Scan csv") || sc.name.startsWith("Scan text")))
      }
      props.flatMap(p => Option(p.getProperty("perfbench.tag"))).filter(_.nonEmpty)
        .foreach(t => jobsByTag(t) = jobsByTag.getOrElse(t, 0L) + 1)
      stats(m).jobs += 1
      if (running == 0) busySince = e.time
      running += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobModule.get(e.jobId).foreach { m =>
        stats(m).jobMs += e.time - jobStart.getOrElse(e.jobId, e.time)
      }
      running = math.max(0, running - 1)
      if (running == 0) busyMs += e.time - busySince
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val tm = e.taskMetrics
      if (tm == null) return
      val s = stats(stageModule.getOrElse(e.stageId, "bench"))
      s.taskMs += tm.executorRunTime
      s.inputBytes += tm.inputMetrics.bytesRead
      if (stageFileScan.getOrElse(e.stageId, false)) s.sourceScanBytes += tm.inputMetrics.bytesRead
      s.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten + tm.shuffleReadMetrics.totalBytesRead
      s.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
      s.gcMs += tm.jvmGCTime
      s.outputBytes += tm.outputMetrics.bytesWritten
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        execModule(x.executionId) = moduleOf(x.details, "bench")
        val plan = Option(x.physicalPlanDescription).getOrElse("")
        if (plan.contains("InsertIntoHadoopFsRelationCommand"))
          writes += """\S*_staged_\w+""".r.findFirstIn(plan).getOrElse("other")
      }
      case _ =>
    }
    }

  private lazy val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        val planning = qe.tracker.phases.values.map(_.durationMs).sum
        stats(execModule.getOrElse(qe.id, "bench")).planningMs += planning
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }

  /** Run `body` as a call into `layer`; jobs it submits carry the layer. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!active) return body
    val prev = sc.getLocalProperty(LayerProp)
    sc.setLocalProperty(LayerProp, layer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      synchronized { spans += Span(layer, name, t0, t1) }
      sc.setLocalProperty(LayerProp, prev)
    }
  }

  /** Tag the jobs submitted until the next call (per-query job counts). */
  def tag(t: String): Unit = if (active) sc.setLocalProperty("perfbench.tag", t)

  /** Wall time of the traced window during which no job ran. */
  def outsideJobsS: Double = synchronized {
    val now = System.currentTimeMillis()
    val busy = busyMs + (if (running > 0) now - busySince else 0L)
    (now - windowStart - busy) / 1e3
  }

  def drain(): Unit = if (active) {
    // the listener bus is asynchronous: wait for it to deliver what the
    // measured calls posted before reading the totals
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def spansJson: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map(s => Map("layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }
}
