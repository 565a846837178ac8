package pipebench

import graft.SparkEntry
import graft.fixtures.Dress
import graft.util.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** The `batch-pipeline` workload: the paper's pipeline operators (the
  * `SparkEntry.queries` keys beginning d, u, v and t) over a generated
  * `events` table, each fully materialised. A traced `replay` run also
  * makes one pass over a smaller table, for the batch layer's metrics. */
object BatchPipeline {
  val Queries: Seq[String] =
    SparkEntry.queries.keys.filter(k => "duvt".contains(k.head)).toSeq.sorted
  /** rows of the `batch-pipeline` events table, as in the sf0.1 test data */
  val Rows = 100000L
  /** rows of the table a traced `replay` run passes over */
  val TracedRows = 10000L

  /** Write `events.parquet` for `seed` in the shape of the sf0.1 test
    * data's events table: ids 0..rows-1 in order (the record plane's
    * dressing is arithmetic on the id), `ts` rising by about 26 s a row from
    * 2024-01-01, `user_id` uniform over 1 500 users, `event_type` uniform
    * over its 5 values, `value` exponential with mean 50 at two decimals,
    * `props` `{"k": n}` with n uniform over 0..99. Values are drawn from the
    * seed. */
  def stageEvents(spark: SparkSession, dir: Path, seed: Long, rows: Long): Unit = {
    val tmp = dir.resolve("events.tmp")
    def h(salt: Long) = abs(xxhash64(col("id"), lit(seed * 7919L + salt)))
    val types = array(Seq("signup", "click", "error", "view", "purchase").map(lit): _*)
    val u = (h(4) % 1000000 + 1) / 1000001.0
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.range(rows).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 25920000L + h(1) % 25920000L).as("ts"),
      (h(2) % 1500).as("user_id"),
      element_at(types, (h(3) % 5 + 1).cast("int")).as("event_type"),
      round(-log(u) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), (h(5) % 100).cast("string"), lit("}")).as("props"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.startsWith("part-")).findFirst().get
    Files.move(part, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
  }

  private def startSession(): SparkSession = {
    val s = Sessions.start()
    // as graft.Bench: a single-row-group table still spreads over the cores
    s.conf.set(Tables.MinScanPartitionsConf, math.min(Sessions.cores, 16).toString)
    s
  }

  /** Cold and steady times of the operators, in seconds. */
  final class Passes(val cold: Map[String, Double], val steady: Map[String, Seq[Double]]) {
    def medians: Map[String, Double] = steady.map { case (q, ts) => q -> Stats.median(ts) }
    def executions: Long = cold.size + steady.values.map(_.size.toLong).sum
  }

  /** Run each operator once cold, writing its full output, which run.py
    * compares with the DuckDB oracle after the run, then in steady passes,
    * each consuming every output column, until `seconds` have passed (at
    * least one pass). Writes the oracle SQL next to the outputs. */
  private def passes(spark: SparkSession, work: Path, seconds: Int): Passes = {
    val dir = work.resolve("data").toString
    val outputs = Files.createDirectories(work.resolve("outputs"))
    def execute(q: String, sink: org.apache.spark.sql.DataFrame => Unit): Double = {
      spark.sparkContext.setLocalProperty(JobCounts.QueryProperty, q)
      try {
        val t0 = System.nanoTime()
        val df = Trace.span(s"build:$q")(SparkEntry.queries(q)(spark, dir))
        Trace.span(s"run:$q")(sink(df))
        (System.nanoTime() - t0) / 1e9
      } finally spark.sparkContext.setLocalProperty(JobCounts.QueryProperty, null)
    }
    def materialise(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val cold = Queries.map(q =>
      q -> execute(q, _.write.mode("overwrite").parquet(outputs.resolve(q).toString))).toMap
    val steady = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val t0 = System.nanoTime()
    do Queries.foreach(q => steady(q) += execute(q, materialise))
    while ((System.nanoTime() - t0) / 1e9 < seconds)

    val oracle = Queries.map { q =>
      val sql = SparkEntry.oracleSql.getOrElse(q,
        throw new IllegalStateException(s"no oracle SQL for $q"))
      "\"" + q + "\": " + jsonString(sql)
    }.mkString("{", ",\n", "}")
    Files.writeString(work.resolve("oracle_sql.json"), oracle)
    new Passes(cold, steady.map { case (q, ts) => q -> ts.toSeq }.toMap)
  }

  /** The batch layer's per-layer metrics: each operator's steady median and
    * jobs per execution, and `Dress.batches`. */
  private def layers(spark: SparkSession, dir: String, p: Passes, l: JobCounts,
      res: Result): Unit = {
    val batchesMs = (1 to 3).map { _ =>
      val t = System.nanoTime(); Dress.batches(spark, dir); (System.nanoTime() - t) / 1e6
    }
    res.put("fixtures.batches_ms", Stats.median(batchesMs), "ms")
    val medians = p.medians
    Queries.foreach { q =>
      res.put(s"$q.ms", medians(q) * 1e3, "ms")
      res.put(s"$q.jobs", l.of(q).jobs.get.toDouble / (p.steady(q).size + 1), "jobs")
    }
  }

  private def report(p: Passes): Unit = {
    val medians = p.medians
    Queries.foreach(q => Report.line(
      f"  $q%-24s cold ${p.cold(q) * 1e3}%8.1f ms  steady median ${medians(q) * 1e3}%8.1f ms" +
        f"  (n=${p.steady(q).size})"))
  }

  /** The `batch-pipeline` workload. */
  def run(args: Args, res: Result, listener: Option[JobCounts]): Unit = {
    val data = Files.createDirectories(args.work.resolve("data"))
    val dir = data.toString

    // inputs are staged before any set-up is timed
    val stager = startSession()
    stageEvents(stager, data, args.seed, Rows)
    Sessions.stop(stager)

    // each set-up runs from starting a session until the table is prewarmed
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Streams.SetupCycles) {
      val t0 = System.nanoTime()
      spark = startSession()
      listener.foreach(spark.sparkContext.addSparkListener)
      spark.range(1000000).selectExpr("sum(id * 2)").collect()
      spark.range(100000).groupBy(expr("id % 7")).count().collect()
      Tables.events(spark, dir).count()
      setupS += (System.nanoTime() - t0) / 1e9
      if (i < Streams.SetupCycles) Sessions.stop(spark)
    }

    val p = passes(spark, args.work, args.seconds)
    res.attempted = p.executions
    res.put("setup_s", Stats.median(setupS.toSeq), "s")
    res.put("query_total_s", p.medians.values.sum, "s")
    res.put("query_cold_s", p.cold.values.sum, "s")
    Report.line(f"batch-pipeline: ${Queries.size} queries over $Rows rows, " +
      f"${p.executions} executions (queries run); set-ups ${setupS.map(s => f"$s%.3f").mkString(" ")} s")
    report(p)
    listener.foreach(l => layers(spark, dir, p, l, res))
  }

  /** One cold and one steady pass over a [[TracedRows]]-row table, on a
    * session of its own after a traced `replay` run, so that a workload of
    * `BENCHMARK.json` reports the batch layer. Its outputs are checked
    * against the oracle like `batch-pipeline`'s. */
  def traceLayers(args: Args, res: Result, l: JobCounts): Unit = {
    val data = Files.createDirectories(args.work.resolve("data"))
    val spark = startSession()
    spark.sparkContext.addSparkListener(l)
    stageEvents(spark, data, args.seed, TracedRows)
    val p = passes(spark, args.work, 0)
    res.attempted += p.executions
    Report.line(f"batch layer: ${Queries.size} queries over $TracedRows rows, " +
      f"cold ${p.cold.values.sum}%.3f s, steady ${p.medians.values.sum}%.3f s")
    report(p)
    layers(spark, data.toString, p, l, res)
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def jsonString(s: String): String = {
    val w = new java.io.StringWriter
    val g = new com.fasterxml.jackson.core.JsonFactory().createGenerator(w)
    g.writeString(s)
    g.close()
    w.toString
  }
}
