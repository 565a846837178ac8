package pipebench

import graft.streaming.{TxnProducer, TxnProducerFactory}

import scala.collection.mutable

/** Broker stand-in for the transactional Kafka sinks. It keeps the
  * semantics `InMemoryTxnBroker` has (sends invisible until commit, abort
  * discards, opening a transactional id fences every older handle of it) but
  * stores only what the benchmark checks, so its cost per record stays flat
  * however long a run is:
  *
  *  - per topic: committed record count, bytes, and an order-independent
  *    digest (sum of per-record [[Digest]] values);
  *  - per record: its commit time and how often it was committed, indexed
  *    by the generator's sequence number (found by [[RecordIds]]);
  *  - marker keys, as a set of task partitions per (txn base, epoch), so
  *    the replay check is a lookup, not a copy of the marker log.
  */
final class LeanTxnBroker(capacity: Int, markerTopic: String) {

  private val generations = mutable.HashMap.empty[String, Long]
  private val markers = mutable.HashMap.empty[(String, Long), mutable.Set[Int]]

  final class TopicTally {
    var records = 0L
    var bytes = 0L
    var digest = 0L
  }
  private val tallies = mutable.HashMap.empty[String, TopicTally]

  /** commit time (System.nanoTime) and commit count per record sequence number */
  val commitAt = new Array[Long](capacity)
  val commitCount = new Array[Int](capacity)
  /** records whose sequence number could not be recovered or was out of range */
  var strays = 0L

  var opened = 0L
  var committed = 0L
  var aborted = 0L
  val markerScanNs = new java.util.concurrent.atomic.AtomicLong

  def tally(topic: String): (Long, Long, Long) = synchronized {
    tallies.get(topic).map(t => (t.records, t.bytes, t.digest)).getOrElse((0L, 0L, 0L))
  }

  def committedRecords: Long = synchronized {
    tallies.iterator.filter(_._1 != markerTopic).map(_._2.records).sum
  }

  def open(transactionalId: String): TxnProducer = synchronized {
    val gen = generations.getOrElse(transactionalId, 0L) + 1
    generations(transactionalId) = gen
    opened += 1
    new Handle(transactionalId, gen)
  }

  def committedPartitions(txnIdBase: String, epochId: Long): Set[Int] = {
    val t0 = System.nanoTime()
    val r = synchronized(markers.get((txnIdBase, epochId)).map(_.toSet).getOrElse(Set.empty[Int]))
    markerScanNs.addAndGet(System.nanoTime() - t0)
    r
  }

  def isCommitted(txnIdBase: String, epochId: Long, partitionId: Int): Boolean = {
    val t0 = System.nanoTime()
    val r = synchronized(markers.get((txnIdBase, epochId)).exists(_.contains(partitionId)))
    markerScanNs.addAndGet(System.nanoTime() - t0)
    r
  }

  private def fencedCheck(id: String, gen: Long): Unit =
    if (generations.getOrElse(id, 0L) != gen)
      throw new IllegalStateException(
        s"producer fenced: transactional.id=$id generation=$gen superseded")

  private final case class Sent(topic: String, key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])])

  private final class Handle(id: String, gen: Long) extends TxnProducer {
    private var inTxn = false
    private val buffer = mutable.ArrayBuffer.empty[Sent]

    def begin(): Unit = LeanTxnBroker.this.synchronized {
      fencedCheck(id, gen)
      require(!inTxn, s"transaction already open for $id")
      inTxn = true
    }

    def send(topic: String, partition: Option[Int], key: Array[Byte],
        value: Array[Byte], headers: Seq[(String, Array[Byte])]): Unit = {
      // the buffer belongs to this handle alone; only the fencing check
      // needs the broker lock
      LeanTxnBroker.this.synchronized {
        fencedCheck(id, gen)
        require(inTxn, s"send outside a transaction on $id")
      }
      buffer += Sent(topic, key, value, headers)
    }

    def commit(): Unit = {
      // digests are computed outside the lock, as a producer serializes
      // records before the broker sees them
      val digests = buffer.map(s =>
        if (s.topic == markerTopic) 0L else Digest.record(s.key, s.value, s.headers))
      val ids = buffer.map(s =>
        if (s.topic == markerTopic) -1L else RecordIds.of(s.topic, s.key, s.value))
      LeanTxnBroker.this.synchronized {
        fencedCheck(id, gen) // a fenced zombie must never append
        require(inTxn, s"commit without begin on $id")
        val now = System.nanoTime()
        var i = 0
        while (i < buffer.length) {
          val s = buffer(i)
          val t = tallies.getOrElseUpdate(s.topic, new TopicTally)
          t.records += 1
          t.bytes += (if (s.value == null) 0 else s.value.length) +
            (if (s.key == null) 0 else s.key.length)
          t.digest += digests(i)
          if (s.topic == markerTopic) {
            val key = new String(s.key, java.nio.charset.StandardCharsets.UTF_8)
            val parts = key.split('/')
            // key = <txnIdBase>/<epoch>/<pid>; the base itself never holds '/'
            if (parts.length == 3)
              markers.getOrElseUpdate((parts(0), parts(1).toLong), mutable.Set.empty[Int]) +=
                parts(2).toInt
          } else {
            val seq = ids(i)
            if (seq >= 0 && seq < capacity) {
              commitAt(seq.toInt) = now
              commitCount(seq.toInt) += 1
            } else strays += 1
          }
          i += 1
        }
        committed += 1
        buffer.clear()
        inTxn = false
      }
    }

    def abort(): Unit = LeanTxnBroker.this.synchronized {
      buffer.clear()
      if (inTxn) aborted += 1
      inTxn = false
    }

    def close(): Unit = ()
  }
}

object LeanTxnBroker {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, LeanTxnBroker]()

  def register(id: String, broker: LeanTxnBroker): Unit = registry.put(id, broker)
  def get(id: String): LeanTxnBroker = registry.get(id)
  def remove(id: String): Unit = registry.remove(id)
}

/** [[TxnProducerFactory]] over a [[LeanTxnBroker]]; holds only the broker id,
  * so it serializes into task closures and resolves the broker JVM-locally
  * (Spark runs in local mode here, one JVM). */
final case class LeanTxnFactory(brokerId: String) extends TxnProducerFactory {
  private def broker: LeanTxnBroker = LeanTxnBroker.get(brokerId)

  override def open(transactionalId: String): TxnProducer = broker.open(transactionalId)

  override def committedPartitions(markerTopic: String, txnIdBase: String,
      epochId: Long): Set[Int] = broker.committedPartitions(txnIdBase, epochId)

  override def committed(markerTopic: String, txnIdBase: String, epochId: Long,
      partitionId: Int): Boolean = broker.isCommitted(txnIdBase, epochId, partitionId)
}

/** Recovers the generator's sequence number from a published record: a
  * valid record keeps its key (`r<seq>`); an invalid record's JSON body
  * carries the original offset, which the generator sets to the sequence
  * number. */
object RecordIds {
  private val OffsetField = "\"offset\":".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def of(topic: String, key: Array[Byte], value: Array[Byte]): Long =
    if (key != null && key.length > 1 && key(0) == 'r') digits(key, 1)
    else if (value != null) {
      val at = indexOf(value, OffsetField)
      if (at < 0) -1L else digits(value, at + OffsetField.length)
    } else -1L

  private def digits(b: Array[Byte], from: Int): Long = {
    var i = from
    var n = 0L
    while (i < b.length && b(i) >= '0' && b(i) <= '9') { n = n * 10 + (b(i) - '0'); i += 1 }
    if (i == from) -1L else n
  }

  private def indexOf(b: Array[Byte], pat: Array[Byte]): Int = {
    var i = 0
    while (i <= b.length - pat.length) {
      var j = 0
      while (j < pat.length && b(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }
}

/** 64-bit digest of one record's key, value and headers, in order.
  * Length-prefixed so field boundaries cannot alias; summed per topic, so
  * two topics hold the same multiset of records exactly when their sums and
  * counts agree (up to 64-bit collisions). */
object Digest {
  private def mix(h0: Long, b: Array[Byte]): Long = {
    var h = h0 ^ (if (b == null) 0x9E3779B97F4A7C15L else b.length.toLong)
    h *= 0x100000001B3L
    if (b != null) {
      var i = 0
      while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001B3L; i += 1 }
    }
    h
  }

  private def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }

  def record(key: Array[Byte], value: Array[Byte], headers: Seq[(String, Array[Byte])]): Long = {
    var h = 0xcbf29ce484222325L
    h = mix(h, key)
    h = mix(h, value)
    h = mix(h, if (headers == null) null else Array[Byte](headers.length.toByte))
    if (headers != null) headers.foreach { case (k, v) =>
      h = mix(h, k.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      h = mix(h, v)
    }
    fmix(h)
  }
}
