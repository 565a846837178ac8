package pipebench

import graft.http.{BatchLookup, MgmtClient}
import graft.jobs.pipebench.Dag
import graft.model.Status
import graft.validation.{JsonValidator, Validator}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import scala.collection.mutable

/** A batch the generator made, and the terminal call the program owes it. */
final class BatchExp(val id: String, val threshold: Int) {
  var total = 0
  var invalid = 0
  /** the live tick SEND_COMPLETED was due at, or -1 */
  var sendCompletedTick = -1
  def failsOnThreshold: Boolean = threshold > -1 && invalid >= threshold
}

/** One running validation DAG, with its own input directories, broker,
  * checkpoint and expectations. */
final class Instance(val idx: Int, args: Args, val stub: MgmtStub,
    val spark: SparkSession, val gen: Generator) {
  import Streams._
  val dir: java.nio.file.Path = args.work.resolve(s"dag-$idx")
  val stage = new Stage(dir.resolve("in"))
  val topic = new NotificationTopic
  private val brokerId = s"pipebench-$idx"
  val broker = new LeanTxnBroker(Capacity, MarkerTopic)
  LeanTxnBroker.register(brokerId, broker)

  private val client: MgmtClient =
    if (args.trace) new TracedMgmtClient(stub.baseUri)
    else new MgmtClient(stub.baseUri, stub.baseUri, "bench-client", "bench-secret",
      "bench-audience")
  private val lookup: BatchLookup = if (args.trace) new TracedLookup(client) else client
  private val validator: Validator =
    if (args.trace) new TracedValidator(new JsonValidator) else new JsonValidator
  private val hooks =
    if (!args.trace) Dag.Hooks()
    else Dag.Hooks(
      sinks = new TracedSinks(_),
      terminal = f => (ds, epoch) => Trace.span("terminal.batch", epoch)(f(ds, epoch)))

  val running: Dag.Running = Dag.start(spark, stage.recordsDir.toString,
    topic.source, Topic, validator, dir.resolve("checkpoint").toString,
    completionDelayMs = 0L, client, lookup, LeanTxnFactory(brokerId), hooks)

  val batches = mutable.LinkedHashMap.empty[String, BatchExp]
  /** ids the Mgmt API does not know */
  val ghosts = mutable.LinkedHashSet.empty[String]

  def newBatch(id: String, threshold: Int): BatchExp = {
    stub.register(id, Topic)
    val b = new BatchExp(id, threshold)
    batches(id) = b
    b
  }

  /** Make a record of `b` (or of no batch / an unknown batch) and count it
    * into the batch's expectation. */
  def record(b: BatchExp, malformed: Boolean): Rec = {
    val (r, d) = gen.record(b.id, known = true, malformed)
    b.total += 1
    if (d == Disposition.InvalidPayload) b.invalid += 1
    r
  }
  def missingHeaderRecord(): Rec = gen.record(null, known = true, malformed = false)._1
  def ghostRecord(id: String): Rec = { ghosts += id; gen.record(id, known = false, malformed = false)._1 }

  /** One file per topic partition (a backlog), or one file for a live
    * tick's records of every partition: the file source lists and plans
    * each file of a trigger, so small per-partition files would cost far
    * more per trigger than a Kafka fetch of the same offsets. */
  def stageRecords(recs: Seq[Rec], perPartition: Boolean = true): Seq[Staged] =
    if (recs.isEmpty) Nil
    else if (!perPartition) Seq(stage.records(recs.sortBy(r => (r.partition, r.seq)), Topic))
    else recs.groupBy(_.partition).toSeq.sortBy(_._1).map { case (_, rs) =>
      stage.records(rs.sortBy(_.seq), Topic)
    }

  def stop(): Unit = { running.stop(); LeanTxnBroker.remove(brokerId) }
}

/** The two streaming workloads, `replay` and `live`, over one DAG set up
  * [[SetupCycles]] times. */
object Streams {
  val Topic = "ingest.tenant1.claims.in"
  val MarkerTopic = "ingest.tenant1.claims.txn-markers"
  val Partitions = 4
  val Capacity: Int = 4000000
  val SetupCycles = 2
  val TickNs = 100000000L
  /** Record shares of the program's own record-plane fixture
    * (`fixtures.Dress`, FIXTURES.md section 6): a malformed payload when
    * `event_id % 7 == 0`, no batchId header when `event_id % 100 == 0`, an
    * unknown batch when `event_id % 100 == 1`. */
  val MalformedShare: Double = 1.0 / 7
  val MissingShare = 0.01
  val UnknownShare = 0.01

  def await(what: String, timeoutS: Int = 60, state: => String = "")(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (!cond) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"timed out after ${timeoutS}s waiting for $what $state")
      Thread.sleep(2)
    }
  }

  /** What the DAG has done so far, for a timeout message. */
  def state(inst: Instance): String = {
    val open = inst.batches.values.filter(b => !inst.stub.terminals.containsKey(b.id)).take(4)
    val journal = scala.util.Try {
      val df = inst.spark.read.parquet(inst.dir.resolve("checkpoint/counts").toString)
      df.groupBy("batchId").sum("validDelta", "invalidDelta").collect()
        .map(r => r.getString(0) -> (r.getLong(1) + r.getLong(2))).toMap
    }.getOrElse(Map.empty[String, Long])
    open.map(b => s"${b.id}: expected ${b.total}, journaled ${journal.get(b.id)}").mkString("; ") +
    s"(issued ${inst.gen.issued}, committed ${inst.broker.committedRecords}, " +
      s"terminal calls ${inst.stub.terminals.size} of ${inst.batches.size} batches; " +
      inst.running.all.map(q => s"${q.name}: ${Option(q.lastProgress).map(_.batchId)} " +
        s"${q.exception.map(_.getMessage).getOrElse("")}").mkString("; ") + ")"
  }

  def triggerMs(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** Progress of `q` whose trigger started at or after `fromMs`. */
  def progress(q: StreamingQuery, fromMs: Long): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= fromMs)

  /** The warm input of a set-up: a batch of valid and malformed records,
    * one record without a batchId header and one the API answers 404 for,
    * so every path of the DAG runs once. */
  def warm(inst: Instance): Unit = {
    val b = inst.newBatch(s"warm-${inst.idx}", -1)
    val g = inst.gen
    val recs = (0 until 40).map(i => inst.record(b, malformed = i % 10 == 9)) ++
      Seq(inst.missingHeaderRecord(), inst.ghostRecord(s"ghost-warm-${inst.idx}"))
    val files = inst.stageRecords(recs)
    inst.topic.publish(Seq(g.notification(b.id, Status.Started, -1, -1),
      g.notification(b.id, Status.SendCompleted, b.total, -1)))
    files.foreach(inst.stage.release)
  }

  private def hadInput(q: StreamingQuery): Boolean = q.recentProgress.exists(_.numInputRows > 0)

  /** Set the DAG up [[SetupCycles]] times, each on a session of its own. A
    * set-up runs from starting the session until every query has started,
    * the record and notification queries have finished a trigger over the
    * warm input and the tracker has finished a trigger (it runs on its 1 s
    * clock). The last DAG is kept; its warm batch closes while the workload
    * runs. Returns it with the set-up times. */
  def setup(args: Args, stub: MgmtStub, listener: Option[JobCounts]): (Instance, Seq[Double]) = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var last: Instance = null
    for (i <- 1 to SetupCycles) {
      val t0 = System.nanoTime()
      val spark = Sessions.start()
      // the record topic's stand-in is a file source: pack a trigger's small
      // files into about one task per core, as a Kafka source makes one task
      // per topic partition, instead of one task per file, and list a
      // trigger's files on the driver, as no Kafka fetch starts a Spark job
      // to find its offsets
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
      listener.foreach(spark.sparkContext.addSparkListener)
      val inst = new Instance(i, args, stub, spark,
        new Generator(args.seed * 1000003L + i, Topic, Partitions))
      warm(inst)
      val r = inst.running
      await("every query to finish a warm trigger", state = state(inst))(
        inst.broker.committedRecords >= inst.gen.issued && hadInput(r.records) &&
          hadInput(r.notifications) && r.tracker.lastProgress != null)
      setups += (System.nanoTime() - t0) / 1e9
      Report.progress(f"set-up $i took ${setups.last}%.3f s")
      if (i < SetupCycles) {
        r.all.foreach(q => await(s"${q.name} to go idle")(!q.status.isTriggerActive))
        inst.stop()
        Sessions.stop(spark)
      } else last = inst
    }
    listener.foreach(_ => Trace.reset())
    (last, setups.toSeq)
  }

  /** Batches a long-running job has already closed: their COMPLETED
    * notifications put [[HistoryBatches]] ids in the snapshot (which never
    * evicts) and in the tracker's state before the live schedule starts,
    * as on a job that has been up for a while. Untimed. */
  val HistoryBatches = 1000

  def history(inst: Instance): Unit = {
    val g = inst.gen
    inst.topic.publish((0 until HistoryBatches).map(k =>
      g.notification(s"done-$k", Status.Completed, 10, -1)))
    await("the history to reach the snapshot and the tracker", state = state(inst))(
      inst.running.snapshot.knownIds.size > HistoryBatches &&
        inst.running.tracker.recentProgress.map(_.numInputRows).sum > HistoryBatches)
  }

  /** What a workload measured, for the metrics and the report. Record
    * latencies and batch closes are measured on `live` only. */
  final class Measured {
    val latencyMs = mutable.ArrayBuffer.empty[Double]
    val closeMs = mutable.ArrayBuffer.empty[Double]
    /** records/s: one per measured round on `replay`, one on `live` */
    val rates = mutable.ArrayBuffer.empty[Double]
    /** wall clock when the workload started, after set-up */
    var windowStartMs = 0L
    var firstSeq = 0L
    var records = 0L
    var batchIds = mutable.ArrayBuffer.empty[String]
  }

  // ---------------------------------------------------------------- replay

  /** Backlog rounds: the records of [[ReplayBatches]] batches, staged before
    * the clock starts and released at once, with the batches' SEND_COMPLETED
    * notifications. Their STARTED notifications are applied before the
    * release, as they would be from before an outage. A round ends when the
    * last record has committed and the last terminal PUT has arrived. */
  val ReplayRecords = 30000
  val ReplayBatches = 12
  val ReplayWarmRounds = 1

  def replay(args: Args, inst: Instance): Measured = {
    val m = new Measured
    val g = inst.gen
    m.windowStartMs = System.currentTimeMillis()
    // the first whole-backlog triggers of a JVM pay its JIT warm-up: each
    // of the first rounds drains faster than the one before
    (1 to ReplayWarmRounds).foreach(w => round(inst, -w, None))
    m.firstSeq = g.issued
    var measured = 0.0
    var r = 0
    while (measured < args.seconds) {
      r += 1
      measured += round(inst, r, Some(m))
    }
    m.records = g.issued - m.firstSeq
    m
  }

  /** One backlog round; returns its drain time in seconds. */
  private def round(inst: Instance, r: Int, into: Option[Measured]): Double = {
    val g = inst.gen
    val bs = (0 until ReplayBatches).map(k => inst.newBatch(s"replay-$r-$k", -1))
    val startSeq = g.issued
    val recs = (0 until ReplayRecords).map { k =>
      if (g.rnd.nextDouble() < MissingShare) inst.missingHeaderRecord()
      else inst.record(bs(k % ReplayBatches), malformed = g.rnd.nextDouble() < MalformedShare)
    }
    val files = inst.stageRecords(recs)
    inst.topic.publish(bs.map(b => g.notification(b.id, Status.Started, -1, -1)))
    await("the replay batches' STARTED notifications")(
      bs.forall(b => inst.running.snapshot.get(b.id).nonEmpty))
    val triggersBefore = inst.running.records.recentProgress.count(_.numInputRows > 0)
    val t0 = System.nanoTime()
    inst.topic.publish(bs.map(b => g.notification(b.id, Status.SendCompleted, b.total, -1)))
    files.foreach(inst.stage.release)
    await("the backlog to drain and its batches to close", state = state(inst))(
      inst.broker.committedRecords >= g.issued &&
        bs.forall(b => inst.stub.terminals.containsKey(b.id)))
    var last = 0L
    var s = startSeq
    while (s < g.issued) { last = math.max(last, inst.broker.commitAt(s.toInt)); s += 1 }
    val committed = (last - t0) / 1e9
    bs.foreach(b => last = math.max(last, inst.stub.terminals.get(b.id).receivedNs))
    val drain = (last - t0) / 1e9
    into.foreach { m =>
      m.rates += (g.issued - startSeq) / drain
      m.batchIds ++= bs.map(_.id)
    }
    val triggers = inst.running.records.recentProgress.count(_.numInputRows > 0) - triggersBefore
    Report.line(f"replay round $r: ${g.issued - startSeq} records in $drain%.3f s " +
      f"(last commit at $committed%.3f s, $triggers record triggers)" +
      (if (into.isEmpty) " (warm-up, not measured)" else ""))
    drain
  }

  // ------------------------------------------------------------------ live

  /** Open-loop traffic at [[LiveRate]] records/s in 100 ms ticks, over a
    * pool of [[LiveActive]] concurrent batches of 20-80 records each, so
    * about 20 batches open and close every second, and the snapshot, which
    * starts with the [[HistoryBatches]], crosses
    * `ValidationStream.InSetPushdownMax` (1024) ids in the pre-roll. The first [[PreRollTicks]] of traffic are not
    * measured: they carry the first triggers over the grown snapshot and
    * the start-up transient of an open loop. Shares per batch: 10 %
    * get their STARTED notification 300 ms after their first records (the
    * V3 lookup resolves them), 5 % end with 5 malformed records against an
    * invalid threshold of 3 (FAILED), in the rest [[MalformedShare]] of the
    * records are malformed. Per record: [[MissingShare]] carry no batchId
    * header, [[UnknownShare]] an id the API answers 404 for. A batch's SEND_COMPLETED is due one tick after its last record. */
  val LiveRate = 1000
  val LiveActive = 30
  val PreRollTicks = 20
  val LeadTicks = 5
  val ThresholdLeadTicks = 10
  val DelayedTicks = 3

  final class Live(val m: Measured) {
    var backlogAtEnd = 0L
    val backlogSamples = mutable.ArrayBuffer.empty[(Double, Long)]
    var lateNs: Seq[Long] = Nil
    var thresholdBatches = 0
    var delayedBatches = 0
  }

  final class LiveBatch(val exp: BatchExp, val n: Int, val tailInvalid: Int,
      val startedTick: Int) {
    var emitted = 0
  }

  def live(args: Args, inst: Instance): Live = {
    val m = new Measured
    val out = new Live(m)
    val g = inst.gen
    history(inst)
    val first = ThresholdLeadTicks
    val measuredFrom = first + PreRollTicks
    val end = measuredFrom + args.seconds * 10
    val perTick = LiveRate / 10
    val last = end + DelayedTicks + 1
    val recsAt = Array.fill(last + 1)(mutable.ArrayBuffer.empty[Rec])
    val notesAt = Array.fill(last + 1)(mutable.ArrayBuffer.empty[String])
    val dueTick = mutable.LongMap.empty[Int]
    val ghostPool = (0 until 50).map(i => s"ghost-$i")
    val active = mutable.ArrayBuffer.empty[LiveBatch]
    var opened = 0
    m.firstSeq = g.issued

    // a producer announces a batch before it completes it, even when the
    // STARTED notification trails the batch's first records
    def close(lb: LiveBatch, due: Int): Unit = {
      val tick = math.max(due, lb.startedTick + 1)
      lb.exp.sendCompletedTick = tick
      notesAt(tick) += g.notification(lb.exp.id, Status.SendCompleted, lb.exp.total,
        lb.exp.threshold)
    }

    for (t <- first until end) {
      while (active.size < LiveActive) {
        opened += 1
        val u = g.rnd.nextDouble()
        val n = 20 + g.rnd.nextInt(61)
        val (threshold, startTick, tail) =
          if (u < 0.10) { out.delayedBatches += 1; (-1, t + DelayedTicks, 0) }
          else if (u < 0.15) { out.thresholdBatches += 1; (3, t - ThresholdLeadTicks, 5) }
          else (-1, t - LeadTicks, 0)
        val exp = inst.newBatch(s"live-$opened", threshold)
        notesAt(startTick) += g.notification(exp.id, Status.Started, -1, threshold)
        active += new LiveBatch(exp, n, tail, startTick)
      }
      var slot = 0
      while (slot < perTick) {
        val u = g.rnd.nextDouble()
        val rec =
          if (u < MissingShare) inst.missingHeaderRecord()
          else if (u < MissingShare + UnknownShare) inst.ghostRecord(ghostPool(g.rnd.nextInt(ghostPool.size)))
          else {
            val i = g.rnd.nextInt(active.size)
            val lb = active(i)
            val malformed =
              if (lb.tailInvalid > 0) lb.emitted >= lb.n - lb.tailInvalid
              else g.rnd.nextDouble() < MalformedShare
            val r = inst.record(lb.exp, malformed)
            lb.emitted += 1
            if (lb.emitted == lb.n) {
              close(lb, t + 1)
              active.remove(i)
            }
            r
          }
        recsAt(t) += rec
        dueTick(rec.seq) = t
        slot += 1
      }
    }
    active.foreach(close(_, end))
    m.records = g.issued - m.firstSeq

    // stage every file before the clock starts
    val schedule = (0 to last).map { t =>
      (t * TickNs, Release(inst.stageRecords(recsAt(t).toSeq, perPartition = false),
        notesAt(t).toSeq))
    }
    val releasedBy = new Array[Long](last + 1)
    (0 to last).foreach(t => releasedBy(t) = (if (t > 0) releasedBy(t - 1) else 0L) + recsAt(t).size)

    val warmCommitted = inst.broker.committedRecords
    val t0 = System.nanoTime() + 50000000L
    m.windowStartMs = System.currentTimeMillis() + 50
    val releaser = new Releaser(inst.stage, inst.topic, schedule, t0)
    releaser.start()
    // backlog: records released but not yet published, sampled each second
    var nextSample = t0 + 1000000000L
    while (releaser.isAlive) {
      Thread.sleep(5)
      val now = System.nanoTime()
      if (now >= nextSample) {
        val tick = math.min(end, ((now - t0) / TickNs).toInt)
        val backlog = releasedBy(tick) - (inst.broker.committedRecords - warmCommitted)
        out.backlogSamples += (((now - t0) / 1e9, backlog))
        nextSample += 1000000000L
      }
    }
    releaser.join()
    out.backlogAtEnd = releasedBy(end) - (inst.broker.committedRecords - warmCommitted)
    out.lateNs = releaser.lateNs.toSeq
    val liveIds = inst.batches.keys.filter(_.startsWith("live-")).toSeq
    await("the live records to publish and the live batches to close", state = state(inst))(
      inst.broker.committedRecords >= g.issued &&
        liveIds.forall(id => inst.stub.terminals.containsKey(id)))

    // measured: records due, and batches whose SEND_COMPLETED is due,
    // after the pre-roll
    var lastCommit = 0L
    var measuredRecords = 0L
    var s = m.firstSeq
    while (s < g.issued) {
      if (dueTick(s) >= measuredFrom) {
        val c = inst.broker.commitAt(s.toInt)
        m.latencyMs += (c - (t0 + dueTick(s) * TickNs)) / 1e6
        lastCommit = math.max(lastCommit, c)
        measuredRecords += 1
      }
      s += 1
    }
    // not a throughput while the program keeps up: the measured records
    // over the window stretched by the last record's latency, which is
    // bound by the last record trigger
    m.rates += measuredRecords / ((lastCommit - (t0 + measuredFrom * TickNs)) / 1e9)
    liveIds.foreach { id =>
      val b = inst.batches(id)
      if (!b.failsOnThreshold && b.sendCompletedTick >= measuredFrom)
        m.closeMs += (inst.stub.terminals.get(id).receivedNs - (t0 + b.sendCompletedTick * TickNs)) / 1e6
    }
    m.batchIds ++= liveIds
    out
  }

  // ------------------------------------------------------------- checking

  /** Check the published outputs and the terminal calls against the
    * generator's expectations, for every record and batch of the instance
    * (warm batch included). Returns (operations failed, problems). */
  def verify(inst: Instance, res: Result): Unit = {
    val g = inst.gen
    val b = inst.broker
    val (outN, _, outD) = b.tally(g.outputTopic)
    val (invN, _, invD) = b.tally(g.invalidOutputTopic)
    res.check(outN == g.expectValid,
      s"${g.outputTopic} holds $outN records, expected ${g.expectValid}")
    res.check(outD == g.expectValidDigest, s"${g.outputTopic} digest differs from the expected records")
    res.check(invN == g.expectInvalid,
      s"${g.invalidOutputTopic} holds $invN records, expected ${g.expectInvalid}")
    res.check(invD == g.expectInvalidDigest,
      s"${g.invalidOutputTopic} digest differs from the expected records and failure texts")
    res.check(b.strays == 0, s"${b.strays} published records carry no generated sequence number")
    var notOnce = 0L
    var s = 0
    while (s < g.issued) { if (b.commitCount(s) != 1) notOnce += 1; s += 1 }
    res.check(notOnce == 0, s"$notOnce records were not published exactly once")
    var badBatches = 0L
    inst.batches.values.foreach { e =>
      val t = inst.stub.terminals.get(e.id)
      val puts = inst.stub.putsFor(e.id)
      val ok =
        t != null && puts == 1 && (
          if (e.failsOnThreshold)
            t.status == Status.Failed && t.invalid >= e.threshold && t.actual <= e.total
          else t.status == Status.Completed && t.actual == e.total && t.invalid == e.invalid)
      if (!ok) {
        badBatches += 1
        if (badBatches <= 5) res.problems +=
          s"batch ${e.id}: expected ${if (e.failsOnThreshold) "FAILED" else "COMPLETED"} " +
            s"(${e.total} records, ${e.invalid} invalid, threshold ${e.threshold}), " +
            s"got $t after $puts terminal calls"
      }
    }
    res.check(badBatches == 0, s"$badBatches batches did not get exactly the expected terminal call")
    inst.ghosts.foreach(id => res.check(!inst.stub.terminals.containsKey(id),
      s"unknown batch $id got a terminal call"))
    res.failed += notOnce + badBatches
  }
}
