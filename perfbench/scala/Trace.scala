package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Engine counters of the jobs one span (or one call site inside it) ran. */
final class EngineStats {
  var jobWallMs = 0L
  var stages = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(o: EngineStats): Unit = {
    jobWallMs += o.jobWallMs; stages += o.stages
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleBytes += o.shuffleBytes
    taskMs ++= o.taskMs
  }
}

/** Groups job, stage and task metrics by the span that launched them (the
  * job group the tracer sets) and, within a span, by the `graft.*` frames
  * of the stage's call site, first frame first — so a call that runs many
  * jobs (`Pipeline.run`, `curateBatch`) splits into the program code that
  * triggered each one. */
final class LayerListener extends SparkListener {
  private final class Job(val group: String, val site: String, val startMs: Long) {
    @volatile var endMs = 0L
  }
  private final class Stage(val job: Job) {
    val stats = new EngineStats
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val executionSites = new ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionSites.put(s.executionId.toString, LayerListener.site(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    // jobs a query runs on its own threads (broadcasts, adaptive stages)
    // carry no program frame; the query's execution start event does
    val stageSite = e.stageInfos.sortBy(-_.stageId).headOption
      .map(s => LayerListener.site(s.details)).getOrElse("@")
    val site =
      if (!stageSite.startsWith("@")) stageSite
      else prop("spark.sql.execution.id").flatMap(id => Option(executionSites.get(id)))
        .getOrElse(stageSite)
    val job = new Job(group, site, e.time)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(id => stages.putIfAbsent(id, new Stage(job)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      if (e.stageInfo.completionTime.isDefined) s.stats.synchronized(s.stats.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      val st = s.stats
      st.synchronized {
        if (e.taskInfo != null) st.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  /** Each stage the jobs of `group` ran. */
  def stagesOf(group: String): Seq[EngineStats] =
    stages.asScala.values.filter(_.job.group == group).map(_.stats).toSeq

  /** Everything the jobs of `group` ran, keyed by call site. */
  def bySite(group: String): Map[String, EngineStats] = {
    val out = mutable.LinkedHashMap.empty[String, EngineStats]
    val mine = jobs.asScala.filter(_._2.group == group).toSeq.sortBy(_._1)
    mine.foreach { case (_, j) =>
      out.getOrElseUpdate(j.site, new EngineStats).jobWallMs += math.max(0L, j.endMs - j.startMs)
    }
    stages.asScala.foreach { case (_, s) =>
      if (s.job.group == group) out.getOrElseUpdate(s.job.site, new EngineStats).add(s.stats)
    }
    out.toMap
  }

}

object LayerListener {
  /** Call site of a stage from its stack (`StageInfo.details`): the
    * `graft.` frames, innermost first, and the API call that launched the
    * job, e.g. `ops.Dedup.appendToMinhashIndex>pipeline.Curation.acceptShard>
    * pipeline.StreamingCuration.curateBatch@DataFrameWriter.saveAsTable`. */
  def site(details: String): String = {
    val frames = Option(details).getOrElse("").split("\n").map(_.trim)
      .filter(_.nonEmpty).map(_.takeWhile(_ != '('))
    def short(call: String): String = {
      val dot = call.lastIndexOf('.')
      s"${call.take(dot).replace("$", "")}.${call.drop(dot + 1)}"
    }
    val graft = frames.filter(_.startsWith("graft.")).map(f => short(f).stripPrefix("graft."))
      .distinct.mkString(">")
    val api = frames.headOption.map(short).map(c => c.drop(c.lastIndexOf('.', c.lastIndexOf('.') - 1) + 1))
    s"$graft@${api.getOrElse("")}"
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Span recorder around the public calls the benchmark makes. Disabled,
  * it runs the body and records nothing. Enabled, every span is a job
  * group, so the listener can attribute the body's jobs to it. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val listener: Option[LayerListener] =
    if (enabled) { val l = new LayerListener; sc.addSparkListener(l); Some(l) } else None
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, name) :: stack
      sc.setJobGroup(s"pb-$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some((pid, pname)) => sc.setJobGroup(s"pb-$pid", pname)
          case None => sc.clearJobGroup()
        }
        done += Span(id, name, parent, t0, t1)
      }
    }

  /** Spans finished so far, in completion order. */
  def spans: Seq[Span] = done.toSeq

  /** Wait for the listener bus, then the engine stats of span `id`'s own
    * jobs, keyed by call site. */
  def engine(id: Int): Map[String, EngineStats] = listener match {
    case Some(l) =>
      org.apache.spark.GraftListenerBridge.drain(sc, 10000)
      l.bySite(s"pb-$id")
    case None => Map.empty
  }

  /** Per-stage engine stats of span `id`'s own jobs. */
  def stages(id: Int): Seq[EngineStats] = listener match {
    case Some(l) =>
      org.apache.spark.GraftListenerBridge.drain(sc, 10000)
      l.stagesOf(s"pb-$id")
    case None => Seq.empty
  }

  def last(name: String): Span = done.reverseIterator.find(_.name == name)
    .getOrElse(sys.error(s"no span $name"))

  def close(): Unit = listener.foreach(sc.removeSparkListener)
}
