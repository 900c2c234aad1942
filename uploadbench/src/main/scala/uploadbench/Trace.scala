package uploadbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/**
 * The traced run's bookkeeping. The agent's spans ([[Probe]]) mark each call
 * into a layer; this hook gives every span its own Spark job group, and the
 * listener sums the task metrics of each group, so Spark work is billed to
 * the innermost layer call that started it. Bytes read per file come from
 * [[CountingFileSystem]].
 *
 * `Sink.readStaged` returns a lazy frame that the loader counts right away;
 * the jobs started between that return and the thread's next layer call are
 * billed to a continuation of the readStaged span.
 */
final class Trace(sc: SparkContext, tablesDir: () => String) extends Probe.Hook {

  /** Spark totals billed to one span (or continuation). */
  final class Cost {
    var jobs = 0
    var taskCpuNanos = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }

  private val GroupPrefix = "uploadbench-"
  private val costs = mutable.Map[String, Cost]()
  private val stageGroup = mutable.Map[Int, String]()
  /** (start, end) nanos of every job, for the driver-only share. */
  private val jobSpans = mutable.Map[Int, Array[Long]]()
  /** continuation span id -> (start, end) */
  private val continuations = mutable.Map[Int, Array[Long]]()
  private val pendingCont = new ThreadLocal[Array[Long]]
  /** the published version directory and its size when a load starts,
    * by Loader span id */
  private val publishedAtLoad = mutable.Map[Int, (String, Long)]()
  /** bytes of the control file after each write, by span id */
  private val controlBytes = mutable.Map[Int, Long]()

  // job events carry epoch milliseconds; spans use nanoTime
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nanos(epochMs: Long): Long = nano0 + (epochMs - epoch0) * 1000000L

  private def group(id: Int): String = s"$GroupPrefix$id"
  private def contGroup(id: Int): String = s"${GroupPrefix}c$id"

  private def setGroup(g: Option[String]): Unit = g match {
    case Some(x) => sc.setJobGroup(x, x, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  private def closeContinuation(): Unit = {
    val c = pendingCont.get()
    if (c != null) { c(1) = System.nanoTime(); pendingCont.remove() }
  }

  def entered(s: Probe.Span): Unit = {
    closeContinuation()
    setGroup(Some(group(s.id)))
    if (s.name.startsWith("Loader.") && s.args.length > 2) s.args(2) match {
      case sink: graft.bde.TableSink =>
        val dir = Paths.get(tablesDir(), sink.table)
        val ptr = dir.resolve("_CURRENT")
        if (Files.exists(ptr)) {
          val version = dir.resolve(
            new String(Files.readAllBytes(ptr), StandardCharsets.UTF_8).trim)
          synchronized(publishedAtLoad(s.id) = (version.toString, Meter.dirBytes(version)))
        }
      case _ =>
    }
  }

  def exited(s: Probe.Span): Unit = {
    closeContinuation()
    val parent = Option(Probe.current())
    if (s.name == "Sink.readStaged") {
      val c = Array(System.nanoTime(), -1L)
      synchronized(continuations(s.id) = c)
      pendingCont.set(c)
      setGroup(Some(contGroup(s.id)))
    } else setGroup(parent.map(p => group(p.id)))
    if (s.name == "ControlStore.write" && s.args.length > 2) s.args(2) match {
      case path: String =>
        val p = Paths.get(new java.net.URI(
          if (path.contains(":")) path else "file:" + path))
        synchronized(controlBytes(s.id) = if (Files.exists(p)) Files.size(p) else 0L)
      case _ =>
    }
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      Trace.this.synchronized {
        jobSpans(e.jobId) = Array(nanos(e.time), -1L)
        g.filter(_.startsWith(GroupPrefix)).foreach { grp =>
          costs.getOrElseUpdate(grp, new Cost).jobs += 1
          e.stageIds.foreach(id => stageGroup(id) = grp)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpans.get(e.jobId).foreach(_(1) = nanos(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        stageGroup.get(e.stageId).foreach { grp =>
          val c = costs.getOrElseUpdate(grp, new Cost)
          c.taskCpuNanos += m.executorCpuTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Spans of the summarized runs (times in seconds from the run's start),
    * kept for [[writeSpans]]. */
  private val recorded = mutable.ArrayBuffer[String]()

  /** Write every recorded span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, recorded.asJava)
  }

  /** Forget everything recorded so far (between runs). */
  def reset(): Unit = synchronized {
    costs.clear(); stageGroup.clear(); jobSpans.clear()
    continuations.clear(); publishedAtLoad.clear(); controlBytes.clear()
    Probe.drain()
    CountingFileSystem.drain()
  }

  /** Per-layer figures of one traced run whose wall clock was [t0, t1]. */
  def summarize(t0: Long, t1: Long): Trace.RunLayers = synchronized {
    val fileBytes = CountingFileSystem.drain()
    val spans = Probe.drain().asScala.toVector.filter(_.endNanos > 0)
    recorded ++= spans.map(s =>
      f"""{"run": ${s.runId}, "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        f""""start_s": ${(s.startNanos - t0) / 1e9}%.6f, "end_s": ${(s.endNanos - t0) / 1e9}%.6f, """ +
        s""""threw": ${s.threw}}""")
    val byId = spans.map(s => s.id -> s).toMap
    def layer(s: Probe.Span) = s.name.takeWhile(_ != '.')
    def dur(s: Probe.Span) = (s.endNanos - s.startNanos) / 1e9
    def ancestors(s: Probe.Span): Iterator[Probe.Span] =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).map(_.get)
    /** outermost calls into a layer: no ancestor of the same layer */
    def top(l: String) = spans.filter(s => layer(s) == l && !ancestors(s).exists(layer(_) == l))
    def spanOfGroup(g: String): Option[Probe.Span] =
      g.stripPrefix(GroupPrefix).stripPrefix("c").toIntOption.flatMap(byId.get)
    /** Spark cost billed to any span (or continuation) inside `roots` */
    def costUnder(roots: Set[Int]): Cost = {
      val out = new Cost
      costs.foreach { case (g, c) =>
        spanOfGroup(g).foreach { s =>
          if (roots(s.id) || ancestors(s).exists(a => roots(a.id))) {
            out.jobs += c.jobs; out.taskCpuNanos += c.taskCpuNanos
            out.shuffleWriteBytes += c.shuffleWriteBytes; out.spillBytes += c.spillBytes
            out.outputBytes += c.outputBytes
          }
        }
      }
      out
    }
    def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
    val loads = top("Loader")
    val loadCost = costUnder(loads.map(_.id).toSet)
    val published = loads.flatMap(l => publishedAtLoad.get(l.id))
    val stages = spans.filter(_.name == "Sink.stage")
    val writes = spans.filter(_.name == "ControlStore.write")
    val orch = top("Orchestrator")
    val orchSelf = orch.map { o =>
      val kids = spans.filter(_.parent == o.id).map(k => (k.startNanos, k.endNanos))
      (o.endNanos - o.startNanos - union(kids)) / 1e9
    }.sum
    val jobs = jobSpans.values.toSeq.map(a => (math.max(a(0), t0), if (a(1) < 0) t1 else math.min(a(1), t1)))
      .filter { case (s, e) => e > s }
    Trace.RunLayers(
      repoPlanS = top("Repo").map(dur).sum,
      filesListed = spans.filter(_.name == "Repo.scanLevel").map(_.result).map {
        case ds: Seq[_] => ds.map {
          case d: graft.bde.Repo.DatasetRef => d.files.size.toLong
          case _ => 0L
        }.sum
        case _ => 0L
      }.sum,
      headerS = spans.filter(_.name == "BdeFormat.parseHeader").map(dur).sum,
      crsBytesRead = fileBytes.collect { case (p, n) if p.endsWith(".crs") => n }.sum,
      shuffleWriteBytes = costs.valuesIterator.map(_.shuffleWriteBytes).sum,
      tableLoads = loads.map(dur),
      loadJobs = loadCost.jobs,
      loadTaskCpuS = loadCost.taskCpuNanos / 1e9,
      publishedBytesRead = fileBytes.collect {
        case (p, n) if published.exists { case (dir, _) => p.startsWith(dir + "/") } => n
      }.sum,
      publishedBytesAtLoad = published.map(_._2).sum,
      spillBytes = loadCost.spillBytes,
      stageS = stages.map(dur).sum,
      sinkBytesWritten = costUnder(stages.map(_.id).toSet).outputBytes,
      publishS = spans.filter(_.name == "Sink.publish").map(dur).sum,
      readStagedS = spans.filter(_.name == "Sink.readStaged").map(dur).sum +
        continuations.values.filter(_(1) > 0).map(c => (c(1) - c(0)) / 1e9).sum,
      controlWriteS = writes.map(dur).sum,
      controlMutations = writes.size,
      controlBytes = writes.map(w => controlBytes.getOrElse(w.id, 0L)).sum,
      orchestratorSelfS = orchSelf,
      driverOnlyS = ((t1 - t0) - union(jobs)) / 1e9,
      spans = spans.size)
  }
}

object Trace {
  /** Per-layer figures of one traced run. */
  final case class RunLayers(
      repoPlanS: Double, filesListed: Long,
      headerS: Double, crsBytesRead: Long,
      shuffleWriteBytes: Long,
      tableLoads: Seq[Double], loadJobs: Int, loadTaskCpuS: Double,
      publishedBytesRead: Long, publishedBytesAtLoad: Long, spillBytes: Long,
      stageS: Double, sinkBytesWritten: Long, publishS: Double, readStagedS: Double,
      controlWriteS: Double, controlMutations: Int, controlBytes: Long,
      orchestratorSelfS: Double, driverOnlyS: Double, spans: Int)
}
