package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

object Tracer {
  /** Local property the batch passes set so each Spark job knows which
    * query and phase (build / plan / execute) started it.
    */
  val PhaseKey = "perfbench.phase"
}

/** Traced-run recorder, installed only with `--trace 1`: a
  * StreamingQueryListener keeps every progress event and query start, a
  * SparkListener keeps one record per job (start, end, streaming query
  * and batch id or batch phase, stages, tasks, executor CPU, task result
  * bytes). Everything stays in memory until [[dump]].
  */
final class Tracer(spark: SparkSession) {
  private final class Job(val id: Int, val start: Long, val query: String,
                          val batch: String, val phase: String, val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Job]()
  private val progress = new ConcurrentLinkedQueue[String]()
  private val dataBatches = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Progress events seen so far that carried input rows. */
  def dataBatchCount: Long = dataBatches.get
  private val started = new ConcurrentLinkedQueue[String]()

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.add(s"""{"id":"${e.id}","name":${Json.str(e.name)},"wall_ms":${System.currentTimeMillis()}}""")
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress.json)
      if (e.progress.numInputRows > 0) dataBatches.incrementAndGet()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val j = new Job(e.jobId, e.time, prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId"), prop(Tracer.PhaseKey), e.stageIds)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageToJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { j =>
        j.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs.addAndGet(m.executorCpuTime)
          j.resultBytes.addAndGet(m.resultSize)
        }
      }
  })

  def dump(file: String): Unit = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"id":${j.id},"start":${j.start},"end":${j.end},"query":"${j.query}",""" +
        s""""batch":"${j.batch}","phase":${Json.str(j.phase)},"stages":${j.stages.get},""" +
        s""""tasks":${j.tasks.get},"cpu_ns":${j.cpuNs.get},"result_bytes":${j.resultBytes.get}}"""
    }
    val out = s"""{"started":${started.asScala.mkString("[", ",", "]")},""" +
      s""""progress":${progress.asScala.mkString("[", ",", "]")},""" +
      s""""jobs":${js.mkString("[", ",", "]")}}"""
    Files.write(Paths.get(file), out.getBytes(UTF_8))
  }
}
