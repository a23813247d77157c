package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.StorageLevel

/** One timed interval. Times are epoch milliseconds; `parent` is 0 for a
  * root. Driver-side spans (pass, query, build, action, batch, sink) come
  * from timing around each call; job and stage spans come from Spark's
  * listener events. */
final case class Span(trace: String, id: Long, parent: Long, kind: String,
    name: String, start: Double, var end: Double,
    attrs: mutable.Map[String, Double] = mutable.Map.empty)

/** Local properties that tag every job with the query and phase that
  * launched it, the driver span it ran under, and whether it is traced.
  * Set the same way whether or not a [[Tracer]] listens. */
object Tags {
  val Query = "perfbench.query"
  val Phase = "perfbench.phase"
  val SpanId = "perfbench.span"
  val Traced = "perfbench.traced"
}

/** In-memory span recorder. Driver spans are opened by [[span]]. Once
  * [[attach]]ed, a SparkListener adds job and stage spans, with their
  * tasks' summed metrics, under the driver span named in each job's local
  * properties; it records only jobs tagged `Tags.Traced = 1`, so a traced
  * run can trace half of its queries (or batches) and leave the other
  * half as the untraced control. Nothing is written until [[spans]] is
  * read at the end. */
final class Tracer(spark: SparkSession, traceId: String) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val all = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  // listener-side state, guarded by `this`
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[(Int, Int), Span]
  private val execSpan = mutable.Map.empty[Long, Long]
  private val execPhases = mutable.Map.empty[Long, Map[String, Double]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Run `body` inside a span of `kind`, child of the current span on this
    * thread. The span id and `tags` go into the thread's local properties,
    * so every job `body` launches carries them; the previous values are
    * restored afterwards. */
  def span[T](kind: String, name: String, tags: (String, String)*)(body: => T): T = {
    val parent = stack.get.headOption
    val s = Span(traceId, ids.incrementAndGet(), parent.map(_.id).getOrElse(0L),
      kind, name, Clock.epochMs(), Double.NaN)
    all.synchronized(all += s)
    val props = (Tags.SpanId -> s.id.toString) +: tags
    val prev = props.map { case (k, _) => k -> sc.getLocalProperty(k) }
    stack.set(s :: stack.get)
    props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try body
    finally {
      s.end = Clock.epochMs()
      stack.set(stack.get.tail)
      prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  /** Set an attribute on this thread's innermost open span. */
  def attr(key: String, value: Double): Unit =
    stack.get.headOption.foreach(_.attrs(key) = value)

  def spans: Seq[Span] = all.synchronized(all.toVector)

  /** SQL execution id -> (driver span that ran its jobs, Catalyst phase
    * durations in ms), for traced executions. */
  def executions: Map[Long, (Long, Map[String, Double])] = synchronized {
    execPhases.toMap.flatMap { case (id, ph) => execSpan.get(id).map(s => id -> (s, ph)) }
  }

  /** `durationMs` of each traced micro-batch's progress event. */
  def streamProgress: Seq[Map[String, Double]] = synchronized(progress.toVector)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      if (prop(Tags.Traced).contains("1")) {
        val parent = prop(Tags.SpanId).map(_.toLong).getOrElse(0L)
        val s = Span(traceId, ids.incrementAndGet(), parent, "job",
          prop(Tags.Query).getOrElse("") + "/" + prop(Tags.Phase).getOrElse(""),
          e.time.toDouble, Double.NaN)
        all.synchronized(all += s)
        Tracer.this.synchronized {
          jobSpan(e.jobId) = s
          e.stageIds.foreach(stageJob(_) = s)
          prop("spark.sql.execution.id").foreach(x => execSpan(x.toLong) = parent)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        stageJob.get(info.stageId).foreach { job =>
          val s = Span(traceId, ids.incrementAndGet(), job.id, "stage",
            s"stage ${info.stageId}",
            info.submissionTime.map(_.toDouble).getOrElse(Clock.epochMs()),
            Double.NaN)
          // the stage's lineage holds a persisted RDD: it fills or reads a
          // DfCache entry
          s.attrs("cached_reads") =
            if (info.rddInfos.exists(_.storageLevel != StorageLevel.NONE)) 1.0 else 0.0
          all.synchronized(all += s)
          stageSpan((info.stageId, info.attemptNumber())) = s
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        stageSpan.remove((info.stageId, info.attemptNumber())).foreach { s =>
          s.end = info.completionTime.map(_.toDouble).getOrElse(Clock.epochMs())
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) Tracer.this.synchronized {
        stageSpan.get((e.stageId, e.stageAttemptId)).foreach { s =>
          val m = e.taskMetrics
          def add(k: String, v: Double): Unit = s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v
          add("tasks", 1)
          add("task_ms", m.executorRunTime.toDouble)
          add("cpu_ms", m.executorCpuTime / 1e6)
          add("gc_ms", m.jvmGCTime.toDouble)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
          add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
          add("scan_rows", m.inputMetrics.recordsRead.toDouble)
          add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Internals.queryExecution(end).foreach { qe =>
          Tracer.this.synchronized {
            if (execSpan.contains(end.executionId))
              execPhases(end.executionId) =
                qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
          }
        }
      case _ => ()
    }
  }

  private object Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (Tracer.traced(e.progress.batchId)) Tracer.this.synchronized {
        import scala.jdk.CollectionConverters._
        progress += (e.progress.durationMs.asScala.map { case (k, v) =>
          k -> v.toDouble }.toMap + ("batch_id" -> e.progress.batchId.toDouble))
      }
  }

  /** Start listening. */
  def attach(): Unit = {
    sc.addSparkListener(Jobs)
    spark.streams.addListener(Streams)
  }

  /** Stop listening, after every queued listener event is delivered. */
  def detach(): Unit = {
    Internals.drain(sc)
    sc.removeSparkListener(Jobs)
    spark.streams.removeListener(Streams)
  }
}

object Tracer {
  /** A traced run traces every other query of a pass (alternating between
    * passes) and every other stream batch, so traced and untraced work
    * interleave and JIT warm-up during the run biases neither side. */
  def traced(index: Long): Boolean = index % 2 == 1
}

/** Epoch milliseconds with sub-millisecond resolution, on the same scale
  * as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def epochMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
