package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DSv2 micro-batch source for [[MsgBroker]] — the real connector shape of
  * the reference's Pulsar source (`PulsarSource.java:22-45`), re-expressed
  * on Spark's offset-tracking execution model:
  *
  *   - parallel partitioned consume (`ParallelSourceFunction`, shared
  *     subscription `PulsarSource.java:145`) → one [[InputPartition]] per
  *     broker partition, offsets are per-partition `(seq)` ranges;
  *   - earliest start position (`PulsarSource.java:146`) → [[initialOffset]]
  *     is the broker's earliest-retained watermark;
  *   - checkpoint-coupled ack (`acknowledgeIDs`, `PulsarSource.java:79-118`)
  *     → [[commit]]: Spark calls it only after the micro-batch's offsets are
  *     durably committed, and the connector acks the broker with the
  *     reference's 3-retry/1s-backoff loop (`:37-39,105-117`); a batch that
  *     never commits is re-planned from the WAL on restart, which the broker
  *     observes as ack-timeout redelivery (`:149`);
  *   - rate limiting (`maxPerTrigger`) via [[SupportsAdmissionControl]], the
  *     analog of the consumer's receive-queue bound;
  *   - partition discovery (`PulsarSource.java:147-148`, 30 s rediscovery
  *     loop): [[latestOffset(start:*]] re-polls the broker's partition set
  *     every micro-batch, so a partition added mid-stream enters the next
  *     batch from its earliest offset (`from.getOrElse(p, 0L)`) and is
  *     acked/checkpointed like any other — exercised by `BrokerSourceSpec`
  *     "partition appearing mid-stream".
  *
  * Usage: `spark.readStream.format("graft-msgs").option("broker", name)
  * .load()` → columns `(value STRING, partition INT, seq LONG)`.
  * The broker is resolved from the process-local registry (valid in
  * local-mode tests where executors share the JVM); a production build
  * would swap the registry lookup in [[MsgPartitionReader]] and
  * [[MsgMicroBatchStream.commit]] for network clients and change nothing
  * else — that boundary is the whole point of the DSv2 split.
  */
class MsgDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-msgs"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MsgDataSource.schemaFor(MsgDataSource.topicsOf(options))
  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: util.Map[String, String]): Table =
    new MsgTable(new CaseInsensitiveStringMap(properties))
}

object MsgDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  /** Multi-topic fan-in schema (the reference job consumes THREE topics
    * into one stream — `run_datastream_job.sh:17,25`): fan-in needs
    * provenance, so the union carries a `topic` column. */
  val MultiSchema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  private[sources] def topicsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val b = options.get("broker")
    require(b != null, "graft-msgs requires .option(\"broker\", <registry name[,name...]>)")
    val ts = b.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(ts.nonEmpty, s"graft-msgs: empty broker list '$b'")
    require(ts.distinct.size == ts.size, s"graft-msgs: duplicate topics in '$b'")
    ts
  }

  private[sources] def schemaFor(topics: Seq[String]): StructType =
    if (topics.size > 1) MultiSchema else Schema
}

final class MsgTable(options: CaseInsensitiveStringMap) extends SupportsRead {
  private val topics = MsgDataSource.topicsOf(options)
  override def name(): String = s"graft-msgs(${topics.mkString(",")})"
  override def schema(): StructType = MsgDataSource.schemaFor(topics)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan {
      override def readSchema(): StructType = MsgDataSource.schemaFor(topics)
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new MsgMicroBatchStream(
          topics,
          ackRetries = options.getInt("ackRetries", 3),          // PulsarSource.java:38
          ackBackoffMs = options.getLong("ackBackoffMs", 1000L), // PulsarSource.java:39
          maxPerTrigger = Option(options.get("maxPerTrigger")).map(_.toLong))
    }
  }
}

/** Per-topic, per-partition seq watermarks. JSON keys are TOPIC NAMES —
  * `{"t1":{"0":12,"1":7},"t2":{"0":3}}` (sorted keys at both levels) — so a
  * checkpointed offset survives the configured topic list being reordered
  * or extended, exactly like the reference connector's offsets, which
  * embed topic names in each MessageId. (An index-keyed encoding would
  * silently remap committed offsets to the wrong topics on reorder.) */
final case class MsgOffset(topics: Map[String, Map[Int, Long]]) extends Offset {
  /** Seq watermarks for one topic ({} if the topic is absent). */
  def seqsOf(topic: String): Map[Int, Long] = topics.getOrElse(topic, Map.empty)
  override def json(): String =
    topics.toSeq.sortBy(_._1).map { case (t, m) =>
      val inner =
        m.toSeq.sortBy(_._1).map { case (p, s) => s""""$p":$s""" }.mkString("{", ",", "}")
      s""""$t":$inner"""
    }.mkString("{", ",", "}")
}

object MsgOffset {
  def single(topic: String, seqs: Map[Int, Long]): MsgOffset = MsgOffset(Map(topic -> seqs))

  private def parseFlat(body: String): Map[Int, Long] =
    if (body.trim.isEmpty) Map.empty[Int, Long]
    else body.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap

  def parse(json: String): MsgOffset = {
    val s = json.trim
    require(s.startsWith("{") && s.endsWith("}"), s"malformed offset: $json")
    val body = s.substring(1, s.length - 1).trim
    if (body.isEmpty) return MsgOffset(Map.empty)
    val out = Map.newBuilder[String, Map[Int, Long]]
    var i = 0
    while (i < body.length) {
      while (i < body.length && (body(i) == ',' || body(i).isWhitespace)) i += 1
      if (i < body.length) {
        require(body(i) == '"', s"malformed offset near index $i: $json")
        val kEnd = body.indexOf('"', i + 1)
        require(kEnd > i, s"unterminated topic name: $json")
        val topic = body.substring(i + 1, kEnd)
        val vStart = body.indexOf('{', kEnd)
        val vEnd = body.indexOf('}', vStart)
        require(vStart > kEnd && vEnd > vStart, s"malformed per-topic map for '$topic': $json")
        out += topic -> parseFlat(body.substring(vStart + 1, vEnd))
        i = vEnd + 1
      }
    }
    MsgOffset(out.result())
  }
}

final class MsgMicroBatchStream(
    topics: Seq[String],
    ackRetries: Int,
    ackBackoffMs: Long,
    maxPerTrigger: Option[Long])
  extends MicroBatchStream with SupportsAdmissionControl {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val emitTopic = topics.size > 1

  private def perTopic(f: MsgBroker => Map[Int, Long]): Map[String, Map[Int, Long]] =
    topics.map(t => t -> f(MsgBroker.get(t))).toMap

  /** Fail fast if a checkpointed offset references a topic that is no
    * longer in the configured list: proceeding would orphan its committed
    * positions (data loss on a later re-add). Topics present in the config
    * but absent from the offset are fine — that is partition/topic growth,
    * and they enter from their earliest offsets. */
  private def validated(o: MsgOffset): Map[String, Map[Int, Long]] = {
    val unknown = o.topics.keySet -- topics.toSet
    require(unknown.isEmpty,
      s"checkpointed offset references topic(s) ${unknown.mkString(", ")} not in the " +
        s"configured list [${topics.mkString(", ")}]; refusing to restart — removing a " +
        "topic from a running query's list would silently drop its committed positions")
    o.topics
  }

  override def initialOffset(): Offset = MsgOffset(perTopic(_.earliestOffsets))

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** Advance each partition toward the broker end, capped proportionally to
    * availability when the limit is `maxRows`. The allocation walks the
    * partitions (sorted, deterministic) with a running remainder, so the
    * batch NEVER exceeds the cap — a per-partition `max(1, share)` bump
    * without the remainder could overshoot by numPartitions-1 rows. The
    * proportional share is computed in BigInt because `avail * cap` can
    * overflow Long for a deep backlog combined with a large cap (which
    * would produce a negative take and a malformed offset). If the cap is
    * smaller than the number of backlogged partitions, trailing partitions
    * get 0 this trigger; they drain on subsequent triggers as earlier
    * partitions' backlogs shrink toward their (smaller) shares. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = validated(start.asInstanceOf[MsgOffset])
    val ends = perTopic(_.endOffsets)
    // deterministic allocation order: configured topic order, partitions sorted
    val keys: Seq[(String, Int)] = topics.flatMap(t => ends(t).keys.toSeq.sorted.map(t -> _))
    def fromAt(t: String, p: Int): Long = from.getOrElse(t, Map.empty).getOrElse(p, 0L)
    val avail = keys.map { case (t, p) => (t, p) -> math.max(0L, ends(t)(p) - fromAt(t, p)) }
    val total = avail.map(_._2).sum
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => r.maxRows()
      case _ => Long.MaxValue
    }
    if (total <= cap) MsgOffset(ends)
    else {
      var remaining = math.max(0L, cap)
      val takes = avail.map { case (k, a) =>
        val share = if (a == 0) 0L else math.max(1L, (BigInt(a) * cap / total).toLong)
        val take = math.min(math.min(share, a), remaining)
        remaining -= take
        k -> take
      }.toMap
      MsgOffset(ends.map { case (t, em) =>
        t -> em.map { case (p, _) => p -> (fromAt(t, p) + takes((t, p))) }
      })
    }
  }

  /** Only the topic-named format decodes; a flat index-keyed map (from
    * before offsets carried topic names) is refused by [[MsgOffset.parse]]. */
  override def deserializeOffset(json: String): Offset = MsgOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = validated(start.asInstanceOf[MsgOffset])
    val e = end.asInstanceOf[MsgOffset].topics
    (for {
      (t, em) <- e.toSeq.sortBy(_._1)
      (p, until) <- em.toSeq.sortBy(_._1)
      fromSeq = s.getOrElse(t, Map.empty).getOrElse(p, 0L)
      if until > fromSeq
    } yield MsgInputPartition(t, p, fromSeq, until, emitTopic): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new MsgReaderFactory

  /** Checkpoint-coupled ack: runs only after Spark durably committed the
    * batch's offsets — the exact coupling of `acknowledgeIDs`
    * (`PulsarSource.java:79-118`). Spark invokes it when the NEXT batch is
    * constructed (or on restart), so the ack trails the commit by one
    * micro-batch — the same lag as the reference, whose ack waits for the
    * checkpoint-complete notification. Transient broker failures retry
    * `ackRetries` times with `ackBackoffMs` backoff (`:105-117`); if all
    * retries fail the messages stay retained and redeliver after the
    * broker's ack timeout, preserving at-least-once. */
  override def commit(end: Offset): Unit = {
    val upTo = end.asInstanceOf[MsgOffset].topics
    for ((topic, em) <- upTo.toSeq.sortBy(_._1); (p, seq) <- em.toSeq.sortBy(_._1)) {
      var attempt = 0
      var done = false
      while (!done) {
        try { MsgBroker.get(topic).acknowledge(p, seq); done = true }
        catch {
          case e: AckFailedException if attempt < ackRetries =>
            attempt += 1
            log.warn(s"ack $topic/$p up to $seq failed (attempt $attempt/$ackRetries): ${e.getMessage}")
            Thread.sleep(ackBackoffMs)
          case e: AckFailedException =>
            log.error(s"ack $topic/$p up to $seq gave up after $ackRetries retries; " +
              s"messages stay retained for redelivery: ${e.getMessage}")
            done = true
        }
      }
    }
  }

  override def stop(): Unit = ()
}

final case class MsgInputPartition(
    broker: String, p: Int, from: Long, until: Long, emitTopic: Boolean = false)
  extends InputPartition

final class MsgReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val mp = partition.asInstanceOf[MsgInputPartition]
    new MsgPartitionReader(mp)
  }
}

final class MsgPartitionReader(mp: MsgInputPartition) extends PartitionReader[InternalRow] {
  // production swap point: a network consumer seeked to mp.from goes here
  private lazy val rows: Iterator[(Long, String)] =
    MsgBroker.get(mp.broker).fetch(mp.p, mp.from, mp.until).iterator
  private var current: (Long, String) = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow =
    if (mp.emitTopic)
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(current._2), UTF8String.fromString(mp.broker), mp.p, current._1))
    else
      new GenericInternalRow(Array[Any](UTF8String.fromString(current._2), mp.p, current._1))

  override def close(): Unit = ()
}
