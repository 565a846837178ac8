package pipebench

import graft.http.{BatchLookup, MgmtClient, RequestException}
import graft.model.BatchNotification
import graft.streaming.ValidationSinks
import graft.validation.Validator
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

/** One traced call into a layer. `epoch` is the micro-batch id, or -1 when
  * the call belongs to none; `parent` names the enclosing span. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, epoch: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and counters of a traced run. Spans stay in memory and are written
  * out when the run ends. Only the benchmark's own wrappers record into it;
  * an untraced run never installs them. */
object Trace {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[String]

  def span[T](name: String, epoch: Long = -1L)(f: => T): T = {
    val parent = current.get()
    current.set(name)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(name, t0, System.nanoTime(), parent, epoch))
      current.set(parent)
    }
  }

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq
  def totalMs(name: String): Double = named(name).map(_.ms).sum

  // per-record validator calls run on task threads; they are summed, not kept
  val validatorCalls = new LongAdder
  val validatorNs = new LongAdder
  val validatorBytes = new LongAdder
  val lookupNotFound = new AtomicLong
  val terminalConflicts = new AtomicLong

  def reset(): Unit = {
    spans.clear()
    validatorCalls.reset(); validatorNs.reset(); validatorBytes.reset()
    lookupNotFound.set(0); terminalConflicts.set(0)
  }

  def writeTo(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${if (s.parent == null) "null" else "\"" + s.parent + "\""},""" +
        s""""epoch":${s.epoch}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Decorator around the three sink calls of one micro-batch. */
final class TracedSinks(inner: ValidationSinks) extends ValidationSinks {
  def valid(df: DataFrame, epochId: Long): Unit =
    Trace.span("sinks.valid", epochId)(inner.valid(df, epochId))
  def invalid(df: DataFrame, epochId: Long): Unit =
    Trace.span("sinks.invalid", epochId)(inner.invalid(df, epochId))
  def counts(df: DataFrame, epochId: Long): Unit =
    Trace.span("sinks.counts", epochId)(inner.counts(df, epochId))
}

/** Delegating validator: counts calls, busy time and payload bytes. */
final class TracedValidator(inner: Validator) extends Validator {
  def isValid(key: Array[Byte], value: Array[Byte]): (Boolean, String) = {
    val t0 = System.nanoTime()
    try inner.isValid(key, value)
    finally {
      Trace.validatorNs.add(System.nanoTime() - t0)
      Trace.validatorCalls.increment()
      if (value != null) Trace.validatorBytes.add(value.length)
    }
  }
}

/** Delegating V3 lookup: one span per remote lookup. */
final class TracedLookup(inner: BatchLookup) extends BatchLookup {
  def getBatchId(tenantId: String, batchId: String): Try[BatchNotification] = {
    val r = Trace.span("lookup")(inner.getBatchId(tenantId, batchId))
    r match {
      case Failure(RequestException(404, _)) => Trace.lookupNotFound.incrementAndGet()
      case _ =>
    }
    r
  }
}

/** The Mgmt API client with a span around each terminal PUT. */
final class TracedMgmtClient(baseUri: String)
    extends MgmtClient(baseUri, baseUri, "bench-client", "bench-secret", "bench-audience") {
  private def timed(f: => Unit): Unit =
    try Trace.span("terminal.put")(f)
    catch {
      case e @ RequestException(409, _) => Trace.terminalConflicts.incrementAndGet(); throw e
    }
  override def processingComplete(tenantId: String, batchId: String,
      actualRecordCount: Int, invalidRecordCount: Int): Unit =
    timed(super.processingComplete(tenantId, batchId, actualRecordCount, invalidRecordCount))
  override def fail(tenantId: String, batchId: String, actualRecordCount: Int,
      invalidRecordCount: Int, failureMessage: String): Unit =
    timed(super.fail(tenantId, batchId, actualRecordCount, invalidRecordCount, failureMessage))
}

/** Scheduler counts, attributed to a streaming query by the query id Spark
  * attaches to the jobs it runs for it, or to a batch query by the
  * [[JobCounts.QueryProperty]] local property the benchmark sets. */
final class JobCounts extends SparkListener {
  final class Tally {
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val taskBusyMs = new AtomicLong
    val shuffleBytes = new AtomicLong
  }
  val total = new Tally
  private val byOwner = new java.util.concurrent.ConcurrentHashMap[String, Tally]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def of(owner: String): Tally = byOwner.computeIfAbsent(owner, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val owner = props.flatMap(p => Option(p.getProperty(JobCounts.StreamQueryId)))
      .orElse(props.flatMap(p => Option(p.getProperty(JobCounts.QueryProperty))))
      .getOrElse("")
    total.jobs.incrementAndGet()
    of(owner).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageOwner.put(s, owner))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val owner = stageOwner.getOrDefault(e.stageInfo.stageId, "")
    total.stages.incrementAndGet()
    of(owner).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val owner = stageOwner.getOrDefault(e.stageId, "")
    val m = Option(e.taskMetrics)
    val busy = m.map(_.executorRunTime).getOrElse(0L)
    val shuffle = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
    for (t <- Seq(total, of(owner))) {
      t.tasks.incrementAndGet()
      t.taskBusyMs.addAndGet(busy)
      t.shuffleBytes.addAndGet(shuffle)
    }
  }
}

object JobCounts {
  val StreamQueryId = "sql.streaming.queryId"
  val QueryProperty = "pipebench.query"
}
