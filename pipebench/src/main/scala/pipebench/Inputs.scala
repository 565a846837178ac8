package pipebench

import com.fasterxml.jackson.core.JsonFactory
import com.fasterxml.jackson.databind.ObjectMapper
import graft.model.ErrorMessages
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** One generated record in the record topic's shape (`Schemas.hriRecord`). */
final case class Rec(seq: Long, partition: Int, key: Array[Byte], value: Array[Byte],
    headers: Seq[(String, Array[Byte])])

/** What the program must do with a record, derived from the inputs alone. */
object Disposition {
  val Valid: Byte = 0
  val InvalidPayload: Byte = 1
  val Missing: Byte = 2
  val Unknown: Byte = 3
}

/** The generator: makes records and notifications from a seed, and computes
  * the outputs the program must publish for them without calling the
  * program. A valid record must reach `*.out` unchanged; every other record
  * must reach `*.invalid` as the JSON body the reference defines, with the
  * reference's failure text for its category. A payload's validity and its
  * failure text come from Jackson's `readTree`, the reference validator's
  * definition of a well-formed record. */
final class Generator(seed: Long, val topic: String, val partitions: Int) {
  val rnd = new scala.util.Random(seed)
  private val mapper = new ObjectMapper()
  private val json = new JsonFactory()
  private val outTopic = topic.stripSuffix(".in") + ".out"
  private val invalidTopic = topic.stripSuffix(".in") + ".invalid"

  private var nextSeq = 0L
  def issued: Long = nextSeq

  // expected tallies per output topic: count and digest sum
  var expectValid = 0L
  var expectValidDigest = 0L
  var expectInvalid = 0L
  var expectInvalidDigest = 0L
  val byDisposition = new Array[Long](4)
  var payloadBytes = 0L

  def outputTopic: String = outTopic
  def invalidOutputTopic: String = invalidTopic

  /** Payloads are the reference pipeline's own test fixtures (FIXTURES.md
    * section 1): a valid record is the FHIR-style claim (about 0.3 KB, with
    * the record's sequence number as its id) or the short UTF-8 person
    * record, in equal shares; a malformed record is one of the fixtures'
    * five non-JSON strings. */
  private val claim = ("{\"resourceType\":\"Claim\",\"id\":\"%d\",\"text\":{\"div\":\"<div " +
    "xmlns=\\\"http://www.w3.org/1999/xhtml\\\">A human-readable rendering of the " +
    "MOnkee-Porcupine Health Claim</div>\"},\"insurance\":[{\"identifier\":{\"system\":" +
    "\"http://PorcupineSys.com/claim\",\"value\":\"19006\"},\"coverage\":{\"reference\":" +
    "\"CoverageBlarg/9876B1\"}}]}")
  private val person = "{\"name\":\"Porcpine\",\"age\":26,\"status\":\"snorkel-\u4e2d\u6587\"}"
  private val notJson = Array("Not-validJSON", "Luna-is-Not-Valid-JSON", "Porcuspino-Invalid",
    "Monkey-Invalid", "Tiger-Invalid-JSON")

  private def payload(seq: Long, malformed: Boolean): Array[Byte] = {
    val s =
      if (malformed) notJson(rnd.nextInt(notJson.length))
      else if (rnd.nextBoolean()) claim.format(seq)
      else person
    s.getBytes(UTF_8)
  }

  /** The reference validator's verdict: (valid, failure text). */
  private def verdict(value: Array[Byte]): (Boolean, String) =
    try { mapper.readTree(value); (true, null) }
    catch { case e: Exception => (false, s"${e.getClass.getName}: ${e.getMessage}") }

  private def invalidBody(failure: String, partition: Int, offset: Long,
      batchId: String): Array[Byte] = {
    val w = new java.io.ByteArrayOutputStream(256)
    val g = json.createGenerator(w)
    g.writeStartObject()
    g.writeStringField("failure", failure)
    g.writeStringField("topic", topic)
    g.writeNumberField("partition", partition)
    g.writeNumberField("offset", offset)
    if (batchId != null) g.writeStringField("batchId", batchId)
    g.writeEndObject()
    g.close()
    w.toByteArray
  }

  /** Make the next record. `batchId` null means no batchId header; `known`
    * false means the Mgmt API answers 404 for it. Returns the record and its
    * disposition. */
  def record(batchId: String, known: Boolean, malformed: Boolean): (Rec, Byte) = {
    val seq = nextSeq
    nextSeq += 1
    val partition = (seq % partitions).toInt
    val key = s"r$seq".getBytes(UTF_8)
    val value = payload(seq, malformed)
    payloadBytes += value.length
    val source = "source" -> "pipebench".getBytes(UTF_8)
    val headers =
      if (batchId == null) Seq(source)
      else Seq("batchId" -> batchId.getBytes(UTF_8), source)
    val rec = Rec(seq, partition, key, value, headers)
    val (dispo, failure) =
      if (batchId == null) (Disposition.Missing, ErrorMessages.MissingBatchId)
      else if (!known) (Disposition.Unknown, ErrorMessages.UnknownBatchId)
      else verdict(value) match {
        case (true, _) => (Disposition.Valid, null)
        case (false, msg) => (Disposition.InvalidPayload, msg)
      }
    byDisposition(dispo) += 1
    if (dispo == Disposition.Valid) {
      expectValid += 1
      expectValidDigest += Digest.record(key, value, headers)
    } else {
      expectInvalid += 1
      val bid = if (dispo == Disposition.Missing) null else batchId
      expectInvalidDigest += Digest.record(null, invalidBody(failure, partition, seq, bid),
        if (bid == null) Nil else Seq("batchId" -> bid.getBytes(UTF_8)))
    }
    (rec, dispo)
  }

  def notification(id: String, status: String, expected: Int, threshold: Int): String = {
    val exp = if (expected >= 0) s""","expectedRecordCount":$expected""" else ""
    s"""{"id":"$id","name":"name-$id","topic":"$topic","dataType":"claims",""" +
      s""""status":"$status"$exp,"invalidThreshold":$threshold}"""
  }
}

/** A staged file and the path it moves to when released. */
final case class Staged(file: Path, target: Path)

/** The record topic's stand-in. Record files are parquet in the topic's
  * shape; each holds one partition's records for one release, so a task
  * reads a file by its path and byte range, as a Kafka task reads a
  * partition's offset range, and never carries the records in its closure.
  * Files are written under a side directory and renamed into place when
  * due, so the source never sees a partly written file. */
final class Stage(val root: Path) {
  val staging: Path = Files.createDirectories(root.resolve("staging"))
  val recordsDir: Path = Files.createDirectories(root.resolve("records"))
  private var n = 0L

  private val schema = MessageTypeParser.parseMessageType(
    """message hri_record {
      |  optional binary key;
      |  optional binary value;
      |  optional group headers (LIST) {
      |    repeated group list {
      |      optional group element {
      |        optional binary key (STRING);
      |        optional binary value;
      |      }
      |    }
      |  }
      |  optional binary topic (STRING);
      |  optional int32 partition;
      |  optional int64 offset;
      |}""".stripMargin)
  private val groups = new SimpleGroupFactory(schema)

  private def name(prefix: String, ext: String): String = {
    n += 1
    f"$prefix-$n%08d.$ext"
  }

  def records(recs: Seq[Rec], topic: String): Staged = {
    val f = staging.resolve(name("records", "parquet"))
    val w = ExampleParquetWriter.builder(new LocalOutputFile(f))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .build()
    try recs.foreach { r =>
      val g = groups.newGroup()
      g.add("key", Binary.fromConstantByteArray(r.key))
      g.add("value", Binary.fromConstantByteArray(r.value))
      val hs = g.addGroup("headers")
      r.headers.foreach { case (k, v) =>
        val e = hs.addGroup("list").addGroup("element")
        e.add("key", k)
        e.add("value", Binary.fromConstantByteArray(v))
      }
      g.add("topic", topic)
      g.add("partition", r.partition)
      g.add("offset", r.seq)
      w.write(g)
    } finally w.close()
    Staged(f, recordsDir.resolve(f.getFileName))
  }

  def release(s: Staged): Unit =
    Files.move(s.file, s.target, StandardCopyOption.ATOMIC_MOVE)
}

/** The notification topic's stand-in: one in-order stream per consumer
  * (the notification query and the tracker each read the topic), fed the
  * same notifications in the same order. A Kafka partition delivers a
  * batch's STARTED before its SEND_COMPLETED and the tracker's last-write-
  * wins update depends on that; a file source would not keep the order of
  * two files read in one trigger. The topic is the control plane, a few
  * short JSON lines per batch, so its rows travel inside the tasks. */
final class NotificationTopic {
  private val streams =
    mutable.ArrayBuffer.empty[org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]]

  def source(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    synchronized {
      val m = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String](
        org.apache.spark.sql.Encoders.STRING, spark.sqlContext)
      streams += m
      m.toDF()
    }

  def publish(lines: Seq[String]): Unit =
    if (lines.nonEmpty) synchronized(streams.foreach(_.addData(lines)))
}

/** One release of the schedule: record files and notifications. */
final case class Release(files: Seq[Staged], notifications: Seq[String])

/** Releases input on a fixed schedule from one thread, notifications before
  * records, and records how late each release ran against it. The schedule
  * never waits for the program, so the loop is open. */
final class Releaser(stage: Stage, topic: NotificationTopic,
    schedule: Seq[(Long, Release)], t0: Long) {
  val lateNs = mutable.ArrayBuffer.empty[Long]
  @volatile var released = 0
  private val thread = new Thread(() => run(), "pipebench-generator")
  thread.setDaemon(true)

  private def run(): Unit =
    schedule.foreach { case (dueOffset, r) =>
      val due = t0 + dueOffset
      var now = System.nanoTime()
      while (now < due) {
        java.util.concurrent.locks.LockSupport.parkNanos(due - now)
        now = System.nanoTime()
      }
      topic.publish(r.notifications)
      r.files.foreach(stage.release)
      lateNs += System.nanoTime() - due
      released += 1
    }

  def start(): Unit = thread.start()
  def join(): Unit = thread.join()
  def isAlive: Boolean = thread.isAlive
}
