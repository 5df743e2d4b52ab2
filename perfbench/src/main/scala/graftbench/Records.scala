package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.model.KafkaRecord
import graft.sources.Sources

/** The replay fixture: the `events` and `documents` tables of one scale
  * factor, held in memory as plain arrays.
  */
final class Fixture(val eventIds: Array[Long], val eventTsMicros: Array[Long],
                    val eventUsers: Array[Long], val eventProps: Array[String],
                    val docIds: Array[Long], val docTexts: Array[String]) {
  def events: Int = eventIds.length
  def documents: Int = docIds.length
  /** Offsets advance by the fixture size each replay round. */
  val eventSpan: Long = eventIds.max + 1
  val docSpan: Long = docIds.max + 1
}

object Fixture {
  /** Reads the replay file run.py exports from the fixture's parquet: one
    * JSON object per row, `{"e": [event_id, ts_micros, user_id, props]}`
    * or `{"d": [doc_id, text]}`.
    */
  def load(path: String): Fixture = {
    val ev = ArrayBuffer[(Long, Long, Long, String)]()
    val docs = ArrayBuffer[(Long, String)]()
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().foreach { line =>
      val n = Json.mapper.readTree(line)
      Option(n.get("e")).foreach(a =>
        ev += ((a.get(0).asLong(), a.get(1).asLong(), a.get(2).asLong(), a.get(3).asText())))
      Option(n.get("d")).foreach(a => docs += ((a.get(0).asLong(), a.get(1).asText())))
    } finally src.close()
    new Fixture(ev.map(_._1).toArray, ev.map(_._2).toArray, ev.map(_._3).toArray,
      ev.map(_._4).toArray, docs.map(_._1).toArray, docs.map(_._2).toArray)
  }
}

/** Seeded replay of a fixture as Kafka-shaped records. The seed picks where
  * in the fixture the replay starts and where `documents` records are
  * interleaved among `events` records (at the fixture's own ratio). Each
  * pass over the fixture shifts offsets by the fixture size and event time
  * by 30 days, so every record is unique and event time keeps moving
  * forward.
  *
  *  - events: topic `events`, partition = user_id mod 8, offset = event_id,
  *    key = user_id text, value = the ~9 B `props` JSON (JSON branch of the
  *    sink's sniff), timestamp = event time.
  *  - documents: topic `documents`, partition = doc_id mod 8, offset =
  *    doc_id, key = doc_id text, value = the ~300 B plain text (base64
  *    branch), timestamp = the latest event time.
  */
final class Replay(f: Fixture, seed: Long, withDocuments: Boolean) {
  private val rng = new scala.util.Random(seed)
  private var ev: Long = rng.nextInt(f.events).toLong
  private var doc: Long = rng.nextInt(f.documents).toLong
  private val docShare = f.documents.toDouble / (f.events + f.documents)
  private var lastTsMicros = 0L
  private val shiftMicros = 30L * 24 * 3600 * 1000000L
  private val jsonHeaders = Map("content-type" -> "application/json")
  private val textHeaders = Map("content-type" -> "text/plain")

  def next(): KafkaRecord =
    if (withDocuments && rng.nextDouble() < docShare) {
      val i = (doc % f.documents).toInt
      val round = doc / f.documents
      doc += 1
      val id = f.docIds(i)
      KafkaRecord("documents", (id % 8).toInt, id + round * f.docSpan,
        timestamp(lastTsMicros), id.toString.getBytes(UTF_8),
        f.docTexts(i).getBytes(UTF_8), textHeaders)
    } else {
      val i = (ev % f.events).toInt
      val round = ev / f.events
      ev += 1
      lastTsMicros = f.eventTsMicros(i) + round * shiftMicros
      val user = f.eventUsers(i)
      KafkaRecord("events", (user % 8).toInt, f.eventIds(i) + round * f.eventSpan,
        timestamp(lastTsMicros), user.toString.getBytes(UTF_8),
        f.eventProps(i).getBytes(UTF_8), jsonHeaders)
    }

  def take(n: Int): Vector[KafkaRecord] = Vector.fill(n)(next())

  private def timestamp(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }
}

/** Read-back check: the multiset of (topic, partition, offset, key, value)
  * the sink committed must equal what was pushed. Returns (checked,
  * failed, messages); a record counts as failed when it is missing,
  * duplicated or altered.
  */
object Readback {
  final case class Id(topic: String, partition: Int, offset: Long)

  /** Reads a JSON sink's committed files back as records and checks them. */
  def checkJsonSink(spark: SparkSession, path: String,
                    pushed: Iterable[KafkaRecord]): (Long, Long, Seq[String]) = {
    val rows = Sources.jsonLinesRecords(spark, path)
      .select("topic", "partition", "offset", "key", "value").collect()
    check(pushed, rows.iterator.map(r => (Id(r.getString(0), r.getInt(1), r.getLong(2)),
      r.getAs[Array[Byte]](3), r.getAs[Array[Byte]](4))))
  }

  def check(pushed: Iterable[KafkaRecord],
            committed: Iterator[(Id, Array[Byte], Array[Byte])]): (Long, Long, Seq[String]) = {
    val seen = new java.util.HashMap[Id, (Array[Byte], Array[Byte], Int)]()
    committed.foreach { case (id, k, v) =>
      val prev = seen.get(id)
      seen.put(id, if (prev == null) (k, v, 1) else prev.copy(_3 = prev._3 + 1))
    }
    var failed = 0L
    var checked = 0L
    val notes = scala.collection.mutable.ArrayBuffer[String]()
    def note(s: String): Unit = if (notes.size < 5) notes += s
    pushed.foreach { r =>
      checked += 1
      val id = Id(r.topic, r.partition, r.offset)
      val got = seen.remove(id)
      def same(a: Array[Byte], b: Array[Byte]) =
        java.util.Arrays.equals(Option(a).getOrElse(Array.emptyByteArray),
          Option(b).getOrElse(Array.emptyByteArray))
      if (got == null) { failed += 1; note(s"missing $id") }
      else if (got._3 != 1) { failed += 1; note(s"$id committed ${got._3} times") }
      else if (!same(got._1, r.key) || !same(got._2, r.value)) { failed += 1; note(s"$id altered") }
    }
    if (!seen.isEmpty) {
      failed += seen.size
      note(s"${seen.size} committed records were never pushed")
    }
    (checked, failed, notes.toSeq)
  }
}
