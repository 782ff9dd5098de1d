package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark work summed over a set of jobs. */
final class Counters {
  var jobs, tasks, runMs, cpuNs, inputBytes, shuffleWriteBytes,
      spillBytes, gcMs = 0L
  /** First job submitted to last job ended, epoch ms: the bucket's busy
    * window, which is its wall time when its jobs overlap other work. */
  var firstStart = Long.MaxValue
  var lastEnd = Long.MinValue

  def windowMs: Long = if (lastEnd < firstStart) 0L else lastEnd - firstStart

  def add(c: Counters): Unit = {
    jobs += c.jobs; tasks += c.tasks
    runMs += c.runMs; cpuNs += c.cpuNs; inputBytes += c.inputBytes
    shuffleWriteBytes += c.shuffleWriteBytes; spillBytes += c.spillBytes
    gcMs += c.gcMs
    firstStart = math.min(firstStart, c.firstStart)
    lastEnd = math.max(lastEnd, c.lastEnd)
  }

  def json: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks,
    "exec_run_ms" -> runMs, "exec_cpu_ms" -> cpuNs / 1000000L,
    "input_bytes" -> inputBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "gc_ms" -> gcMs, "window_ms" -> windowMs)
}

/** Attributes Spark work from outside the engine. Each job goes to the
  * operation the benchmark was running when the job started (`label`,
  * set around each public call) and, within that, to the warehouse
  * loader whose frame is innermost in the job's call site: the stage
  * call site first, the SQL execution's call site as fallback. Loaders
  * run concurrently inside `Warehouse.run`, so time windows cannot tell
  * them apart; call sites can.
  *
  * Read with [[take]] only after [[org.apache.spark.PerfbenchBus.drain]],
  * so every event of the operation has been delivered. */
final class LayerListener extends SparkListener {
  @volatile var label: String = "idle"

  private val buckets = mutable.Map.empty[(String, String), Counters]
  private val stageBucket = mutable.Map.empty[Int, (String, String)]
  private val jobBucket = mutable.Map.empty[Int, (String, String)]
  private val sqlSite = mutable.Map.empty[Long, String]

  private def counters(b: (String, String)): Counters =
    buckets.getOrElseUpdate(b, new Counters)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { sqlSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val sql = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlSite.get(id.toLong)).getOrElse("")
    val site = j.stageInfos.map(_.details).mkString("\n")
    val sub = LayerListener.loaderOf(site).orElse(LayerListener.loaderOf(sql))
      .getOrElse("other")
    val b = (label, sub)
    val c = counters(b)
    c.jobs += 1
    c.firstStart = math.min(c.firstStart, j.time)
    jobBucket(j.jobId) = b
    j.stageIds.foreach(s => stageBucket.getOrElseUpdate(s, b))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobBucket.remove(j.jobId).foreach { b =>
      val c = counters(b)
      c.lastEnd = math.max(c.lastEnd, j.time)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageBucket.getOrElse(t.stageId, (label, "other")))
    c.tasks += 1
    val m = t.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
    }
  }

  /** Counters since the last call, keyed "label" (all of the label's
    * work) and "label.sub" (one loader's share). */
  def take(): Map[String, Counters] = synchronized {
    val out = mutable.Map.empty[String, Counters]
    buckets.foreach { case ((label, sub), c) =>
      out.getOrElseUpdate(label, new Counters).add(c)
      out.getOrElseUpdate(s"$label.$sub", new Counters).add(c)
    }
    buckets.clear()
    stageBucket.clear()
    jobBucket.clear()
    sqlSite.clear()
    out.toMap
  }
}

object LayerListener {
  /** Loader name by the frame token that identifies it in a call site.
    * Compaction runs inside a loader's append, so its frame is inner. */
  private val loaderTokens = Seq(
    "compaction" -> "ledger.Catalog.compact(",
    "dim_tempo" -> "Warehouse.loadDimTempo(",
    "dim_tipo" -> "Warehouse.loadDimTipo(",
    "dim_classificacao" -> "Warehouse.loadDimClassificacao(",
    "dim_grupo" -> "Warehouse.loadDimGrupo(",
    "dim_categoria" -> "Warehouse.loadDimCategoria(",
    "fato" -> "Warehouse.loadFato(")

  /** The loader whose frame is innermost (first) in `site`. */
  def loaderOf(site: String): Option[String] = {
    val hits = loaderTokens.flatMap { case (name, token) =>
      val i = site.indexOf(token)
      if (i >= 0) Some(i -> name) else None
    }
    if (hits.isEmpty) None else Some(hits.minBy(_._1)._2)
  }
}
