// In the jobs package so it can reach ValidationJob.countsHandoff, the
// program's own epoch journal.
package graft.jobs.pipebench

import graft.http.{BatchLookup, MgmtClient}
import graft.jobs.ValidationJob
import graft.model.{BatchNotification, CountsDelta, Schemas}
import graft.streaming._
import graft.validation.Validator
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The validation DAG wired as `ValidationJob.startKafka` wires it with
  * `exactlyOnce = true` and a Mgmt API client, with two stand-ins:
  *
  *  - the record topic is a file source over a directory the benchmark
  *    fills with parquet in `Schemas.hriRecord` shape, and the notification
  *    topic an in-order stream per consumer with a `value` column of JSON
  *    (see `pipebench.NotificationTopic`);
  *  - the transactional producer factory and the Mgmt API base URI point at
  *    the benchmark's broker and HTTP stubs.
  *
  * `startKafka` builds its sources from Kafka options inside the method, so
  * this is a named copy of its body; every program call is the same one, in
  * the same order, with the same arguments. The hooks let a traced run wrap
  * the sinks, the validator, the lookup and the terminal sink without
  * changing what they call. Keep it in step with `startKafka`.
  */
object Dag {

  final case class Hooks(
      sinks: ValidationSinks => ValidationSinks = identity,
      terminal: ((Dataset[BatchNotification], Long) => Unit) => (Dataset[BatchNotification], Long) => Unit =
        identity)

  final case class Running(
      records: org.apache.spark.sql.streaming.StreamingQuery,
      notifications: org.apache.spark.sql.streaming.StreamingQuery,
      tracker: org.apache.spark.sql.streaming.StreamingQuery,
      snapshot: NotificationSnapshot) {
    def all: Seq[org.apache.spark.sql.streaming.StreamingQuery] =
      Seq(records, notifications, tracker)
    def stop(): Unit = all.foreach(q => try q.stop() catch { case _: Exception => () })
  }

  /** The record topic's stand-in: the Kafka source's projection, read from
    * files. */
  def recordSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Schemas.hriRecord).parquet(dir)
      .select(col("key"), col("value"), col("headers"), col("topic"),
        col("partition"), col("offset"))

  def start(
      spark: SparkSession,
      recordsDir: String,
      notificationSource: SparkSession => DataFrame,
      inputTopic: String,
      validator: Validator,
      checkpointDir: String,
      completionDelayMs: Long,
      mgmtClient: MgmtClient,
      lookup: BatchLookup,
      factory: TxnProducerFactory,
      hooks: Hooks = Hooks()): Running = {
    import spark.implicits._
    graft.topics.Topics.validate(inputTopic)
    val store = new NotificationSnapshot(spark, Some(checkpointDir))
    val countsDir = s"$checkpointDir/counts"

    val nq = ValidationStream.startNotificationQuery(
      notificationSource(spark), store, checkpointDir)

    val sinks = ValidationJob.transactionalKafkaSinks("stub-brokers", inputTopic,
      ValidationJob.countsHandoff(countsDir), factory = Some(factory))
    val rq = ValidationStream.startRecordQuery(
      recordSource(spark, recordsDir), store, validator, hooks.sinks(sinks),
      checkpointDir, Some(lookup))

    // the one step startKafka lacks: its tracker's file source fails with
    // PATH_NOT_FOUND on a fresh checkpoint, since nothing has journaled yet
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(countsDir))
    val trackerSession = TrackerProcessor.controlPlaneSession(spark)
    val countEvents = trackerSession.readStream
      .schema("batchId STRING, validDelta BIGINT, invalidDelta BIGINT")
      .option("pathGlobFilter", "epoch-*.parquet")
      .parquet(countsDir)
      .as[CountsDelta]
    val notifEvents = notificationSource(trackerSession)
      .select(from_json(col("value").cast("string"), Schemas.batchNotification).as("n"))
      .select(col("n.*"))
      .filter(col("id").isNotNull)
      .na.fill(-1L, Seq("expectedRecordCount", "actualRecordCount",
        "invalidRecordCount", "invalidThreshold"))
      .as[BatchNotification]
    val terminal = TrackerProcessor.track(
      TrackerProcessor.unionEvents(countEvents, notifEvents), completionDelayMs)

    val apiSink = new MgmtApiSink(mgmtClient)
    val tq = terminal.writeStream
      .queryName("graft-tracker")
      .option("checkpointLocation", s"$checkpointDir/graft-tracker")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch(hooks.terminal(apiSink.writeBatch _))
      .start()
    Running(rq, nq, tq, store)
  }
}
