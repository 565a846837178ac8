package pipebench

/** Entry point: `--workload <replay|live|batch-pipeline> --seed <n>
  * --seconds <n> --trace <0|1> --work <dir>`. Prints report lines starting
  * with `#`, then the result as one JSON line. An untraced run reports the
  * end-to-end metrics, a traced run the per-layer metrics. */
object Main {

  /** The end-to-end metrics in the result of each workload: those of
    * `BENCHMARK.json` for its two workloads, and the query totals of
    * `batch-pipeline`, which is not one of them. `records_per_s` and, on
    * `live`, the record latency and batch close percentiles are measured
    * and printed in the report only: on this machine their run-to-run
    * spread reaches or passes the largest bound a `BENCHMARK.json` metric
    * may have (see README.md). */
  val EndToEnd: Map[String, Seq[String]] = Map(
    "replay" -> Seq("setup_s"),
    "live" -> Seq("setup_s"),
    "batch-pipeline" -> Seq("setup_s", "query_total_s", "query_cold_s"))
  val Reported: Seq[String] = Seq("setup_s", "records_per_s", "record_latency_p50_ms",
    "record_latency_p99_ms", "batch_close_p50_ms", "batch_close_p90_ms", "query_total_s",
    "query_cold_s")

  /** Every per-layer metric and its unit; a workload that does not exercise
    * a layer reports it as 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "records.triggers" -> "count", "records.rows_per_trigger" -> "rows",
    "records.trigger_ms" -> "ms", "records.planning_ms" -> "ms",
    "records.add_batch_ms" -> "ms", "records.engine_ms" -> "ms", "records.source_ms" -> "ms",
    "records.unaccounted_ms" -> "ms", "records.add_batch_unaccounted_ms" -> "ms",
    "records.jobs_per_trigger" -> "jobs", "records.tasks_per_trigger" -> "tasks",
    "validation.calls" -> "count", "validation.busy_ms" -> "ms", "validation.bytes" -> "bytes",
    "sinks.valid_ms" -> "ms", "sinks.invalid_ms" -> "ms", "sinks.counts_ms" -> "ms",
    "txn.opened" -> "count", "txn.committed" -> "count", "txn.aborted" -> "count",
    "txn.records" -> "count", "txn.bytes" -> "bytes", "txn.marker_scan_ms" -> "ms",
    "notifications.triggers" -> "count", "notifications.trigger_ms" -> "ms",
    "snapshot.ids" -> "count",
    "lookup.calls" -> "count", "lookup.not_found" -> "count", "lookup.ms" -> "ms",
    "api.token_calls" -> "count",
    "tracker.triggers" -> "count", "tracker.trigger_ms" -> "ms", "tracker.state_rows" -> "rows",
    "tracker.state_bytes" -> "bytes", "tracker.commit_ms" -> "ms", "tracker.timers" -> "count",
    "terminal.calls" -> "count", "terminal.ms" -> "ms", "terminal.conflicts" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_ms" -> "ms", "spark.shuffle_bytes" -> "bytes",
    "jvm.heap_after_gc_mb" -> "MB") ++
    BatchPipeline.Queries.flatMap(q => Seq(s"$q.ms" -> "ms", s"$q.jobs" -> "jobs")) ++
    Seq("fixtures.batches_ms" -> "ms")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val res = new Result
    val listener = if (args.trace) Some(new JobCounts) else None
    val code =
      try {
        args.workload match {
          case "replay" | "live" => runStream(args, res, listener)
          case "batch-pipeline" => BatchPipeline.run(args, res, listener)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        listener.foreach(l => sparkLayers(l, res))
        val out = new Result
        out.correct = res.correct
        out.attempted = res.attempted
        out.failed = res.failed
        res.problems.foreach(p => Report.line(s"CHECK FAILED: $p"))
        val metrics = res.metrics
        // a traced run's end-to-end figures, against the untraced runs',
        // give the tracing overhead
        Report.line((if (args.trace) "end-to-end under tracing: " else "end-to-end: ") +
          Reported.flatMap(n => metrics.get(n).map(v => f"$n ${v._1}%.3f")).mkString(", "))
        if (args.trace) {
          PerLayer.foreach { case (n, u) => out.put(n, metrics.get(n).map(_._1).getOrElse(0.0), u) }
          if (!Trace.spans.isEmpty) Trace.writeTo(args.work.resolve("spans.jsonl"))
        } else EndToEnd(args.workload).foreach(n => out.put(n, metrics(n)._1, metrics(n)._2))
        println(out.json)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind after stop()
    Runtime.getRuntime.halt(code)
  }

  private def sparkLayers(l: JobCounts, res: Result): Unit = {
    res.put("spark.jobs", l.total.jobs.get.toDouble, "count")
    res.put("spark.stages", l.total.stages.get.toDouble, "count")
    res.put("spark.tasks", l.total.tasks.get.toDouble, "count")
    res.put("spark.task_busy_ms", l.total.taskBusyMs.get.toDouble, "ms")
    res.put("spark.shuffle_bytes", l.total.shuffleBytes.get.toDouble, "bytes")
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    res.put("jvm.heap_after_gc_mb", heap.getUsed / 1048576.0, "MB")
  }

  private def runStream(args: Args, res: Result, listener: Option[JobCounts]): Unit = {
    val stub = new MgmtStub
    try {
      val (inst, setups) = Streams.setup(args, stub, listener)
      val b = inst.broker
      val before = (b.opened, b.committed, b.aborted, b.markerScanNs.get, stub.tokenCalls.get,
        b.tally(inst.gen.outputTopic), b.tally(inst.gen.invalidOutputTopic))
      val jobsBefore = listener.map(l => (l.total.jobs.get, l.total.stages.get, l.total.tasks.get,
        l.total.taskBusyMs.get, l.total.shuffleBytes.get))
      val qid = inst.running.records.id.toString
      val recJobsBefore = listener.map(l => (l.of(qid).jobs.get, l.of(qid).tasks.get))

      val (m, live) = args.workload match {
        case "replay" => (Streams.replay(args, inst), None)
        case _ => val l = Streams.live(args, inst); (l.m, Some(l))
      }
      Streams.verify(inst, res)
      res.attempted = m.records + m.batchIds.size

      val windowed = inst.running.all.map(q => Streams.progress(q, m.windowStartMs))
      val Seq(rp, np, tp) = windowed
      res.put("setup_s", Stats.median(setups), "s")
      res.put("records_per_s", Stats.median(m.rates.toSeq), "records/s")
      live.foreach { _ =>
        res.put("record_latency_p50_ms", Stats.percentile(m.latencyMs.toSeq, 50), "ms")
        res.put("record_latency_p99_ms", Stats.percentile(m.latencyMs.toSeq, 99), "ms")
        res.put("batch_close_p50_ms", Stats.percentile(m.closeMs.toSeq, 50), "ms")
        if (m.closeMs.size >= 100)
          res.put("batch_close_p90_ms", Stats.percentile(m.closeMs.toSeq, 90), "ms")
      }

      val g = inst.gen
      Report.line(f"${args.workload}: ${m.records} records, ${m.batchIds.size} batches, " +
        f"${g.byDisposition.mkString("/")} valid/invalid-payload/missing/unknown (all, warm included)")
      Report.line(f"set-ups ${setups.map(s => f"$s%.3f").mkString(" ")} s; " +
        f"throughput samples n=${m.rates.size}")
      Report.line(f"triggers in window: records ${rp.size}, notifications ${np.size}, tracker ${tp.size}")
      Report.line("record triggers in window (rows/ms): " + rp.map(p =>
        f"${p.numInputRows}/${Streams.triggerMs(p, "triggerExecution")}%.0f").mkString(" "))
      live.foreach { l =>
        Report.line(f"live: record latency n=${m.latencyMs.size}; batch close n=${m.closeMs.size}" +
          (if (m.closeMs.size < 100) " (under 100, so no p90)" else ""))
        val late = l.lateNs.map(_ / 1e6)
        Report.line(f"live: rate ${Streams.LiveRate} records/s, generator late p50 " +
          f"${Stats.median(late)}%.2f ms, p99 ${Stats.percentile(late, 99)}%.2f ms, " +
          f"max ${late.max}%.2f ms")
        Report.line(s"live: backlog (offered, not yet published) at end of schedule " +
          s"${l.backlogAtEnd}; per second " + l.backlogSamples.map(_._2).mkString(" "))
        Report.line(s"live: ${l.delayedBatches} late-STARTED batches, " +
          s"${l.thresholdBatches} threshold batches, snapshot ids ${inst.running.snapshot.knownIds.size}")
      }

      listener.foreach { l =>
        val n = rp.size.max(1).toDouble
        def avg(k: String) = rp.map(Streams.triggerMs(_, k)).sum / n
        val trigger = avg("triggerExecution")
        val planning = avg("queryPlanning")
        val addBatch = avg("addBatch")
        val engine = avg("walCommit") + avg("commitOffsets")
        val source = avg("latestOffset") + avg("getBatch")
        res.put("records.triggers", rp.size, "count")
        res.put("records.rows_per_trigger", rp.map(_.numInputRows).sum / n, "rows")
        res.put("records.trigger_ms", trigger, "ms")
        res.put("records.planning_ms", planning, "ms")
        res.put("records.add_batch_ms", addBatch, "ms")
        res.put("records.engine_ms", engine, "ms")
        res.put("records.source_ms", source, "ms")
        res.put("records.unaccounted_ms", trigger - planning - addBatch - engine - source, "ms")
        val sinks = Seq("valid", "invalid", "counts").map { s =>
          val ms = Trace.totalMs(s"sinks.$s") / n
          res.put(s"sinks.${s}_ms", ms, "ms")
          ms
        }.sum
        val lookupMs = Trace.totalMs("lookup")
        res.put("records.add_batch_unaccounted_ms", addBatch - sinks - lookupMs / n, "ms")
        val (j0, t0) = recJobsBefore.get
        res.put("records.jobs_per_trigger", (l.of(qid).jobs.get - j0) / n, "jobs")
        res.put("records.tasks_per_trigger", (l.of(qid).tasks.get - t0) / n, "tasks")
        res.put("validation.calls", Trace.validatorCalls.sum.toDouble, "count")
        res.put("validation.busy_ms", Trace.validatorNs.sum / 1e6, "ms")
        res.put("validation.bytes", Trace.validatorBytes.sum.toDouble, "bytes")
        val (o0, c0, a0, ms0, tok0, out0, inv0) = before
        res.put("txn.opened", b.opened - o0, "count")
        res.put("txn.committed", b.committed - c0, "count")
        res.put("txn.aborted", b.aborted - a0, "count")
        val out1 = b.tally(g.outputTopic)
        val inv1 = b.tally(g.invalidOutputTopic)
        res.put("txn.records", out1._1 - out0._1 + inv1._1 - inv0._1, "count")
        res.put("txn.bytes", out1._2 - out0._2 + inv1._2 - inv0._2, "bytes")
        res.put("txn.marker_scan_ms", (b.markerScanNs.get - ms0) / 1e6, "ms")
        res.put("notifications.triggers", np.size, "count")
        res.put("notifications.trigger_ms", Stats.mean(np.map(Streams.triggerMs(_, "triggerExecution"))), "ms")
        res.put("snapshot.ids", inst.running.snapshot.knownIds.size, "count")
        res.put("lookup.calls", Trace.named("lookup").size, "count")
        res.put("lookup.not_found", Trace.lookupNotFound.get.toDouble, "count")
        res.put("lookup.ms", lookupMs, "ms")
        res.put("api.token_calls", stub.tokenCalls.get - tok0, "count")
        res.put("tracker.triggers", tp.size, "count")
        res.put("tracker.trigger_ms", Stats.mean(tp.map(Streams.triggerMs(_, "triggerExecution"))), "ms")
        val ops = tp.flatMap(_.stateOperators.headOption)
        res.put("tracker.state_rows", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
        res.put("tracker.state_bytes", ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
        res.put("tracker.commit_ms", Stats.mean(ops.map(_.commitTimeMs.toDouble)), "ms")
        res.put("tracker.timers", ops.map(o =>
          Option(o.customMetrics.get("numRegisteredTimers")).map(_.doubleValue).getOrElse(0.0)).sum, "count")
        res.put("terminal.calls", Trace.named("terminal.put").size, "count")
        res.put("terminal.ms", Trace.totalMs("terminal.put"), "ms")
        res.put("terminal.conflicts", Trace.terminalConflicts.get.toDouble, "count")
        Report.line(f"record query per trigger (n=${rp.size}): trigger $trigger%.1f ms = planning " +
          f"$planning%.1f + addBatch $addBatch%.1f + engine $engine%.1f + source $source%.1f + " +
          f"unaccounted ${trigger - planning - addBatch - engine - source}%.1f")
        Report.line(f"  addBatch $addBatch%.1f ms = sinks $sinks%.1f + lookups ${lookupMs / n}%.1f + " +
          f"unaccounted ${addBatch - sinks - lookupMs / n}%.1f (miss scan, snapshot, persist)")
        if (ops.nonEmpty) Report.line("tracker state metrics: " +
          ops.last.customMetrics.keySet().toArray.mkString(", "))
        val (jb, sb, tb, _, _) = jobsBefore.get
        Report.line(s"spark in window: jobs ${l.total.jobs.get - jb}, stages ${l.total.stages.get - sb}, " +
          s"tasks ${l.total.tasks.get - tb}")
        if (args.workload == "replay") {
          inst.stop()
          Sessions.stop(inst.spark)
          BatchPipeline.traceLayers(args, res, l)
        }
      }
    } finally stub.stop()
  }
}
