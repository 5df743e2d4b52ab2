package graftbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel}
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}
import org.sparkproject.connect.protobuf.{ByteString, DynamicMessage}

import graft.model.{KafkaRecord, SinkConfig}
import graft.sinks.FileSink
import graft.streaming.{ConnectorProto, ConnectorService, Engine, GrpcControlClient,
  GrpcControlServer, GrpcWire, InProcessConnectorService, PushService, Wire}

/** Times each `sinkStream` call the gRPC front makes into the service it
  * was handed: one call per inbound wire message (Push or Flush).
  */
final class TimedService(inner: ConnectorService, tracer: Tracer) extends ConnectorService {
  val pushNs = new ConcurrentLinkedQueue[java.lang.Long]()
  val flushNs = new ConcurrentLinkedQueue[java.lang.Long]()

  override def sinkStream(requests: Iterator[Wire.SinkRequest]): Iterator[Wire.SinkResponse] = {
    val reqs = requests.toVector
    val (kind, sink) = reqs match {
      case Vector(_: Wire.SinkRequest.Push) => ("grpc.server_push", pushNs)
      case Vector(_: Wire.SinkRequest.Flush) => ("grpc.server_flush", flushNs)
      case _ => ("grpc.server_other", null)
    }
    val (out, ns) = tracer.span(kind)(inner.sinkStream(reqs.iterator).toVector)
    if (sink != null) sink.add(ns)
    out.iterator
  }
  override def sourceStream(r: Iterator[Wire.SourceRequest]): Iterator[Wire.SourceResponse] =
    inner.sourceStream(r)
  override def getConfig(r: Wire.ConfigRequest): Wire.ConfigResponse = inner.getConfig(r)
  override def updateConfig(r: Wire.ConfigUpdateRequest): Wire.ConfigResponse = inner.updateConfig(r)
  override def getStatus(r: Wire.StatusRequest): Wire.StatusResponse = inner.getStatus(r)
  override def onSourceDisconnect(): Unit = inner.onSourceDisconnect()
}

/** One SinkStream client over a loopback channel: send, then take the
  * responses in arrival order.
  */
final class SinkClient(ch: ManagedChannel) {
  private val got = new LinkedBlockingQueue[DynamicMessage]()
  private val done = new CountDownLatch(1)
  private val requests = ClientCalls.asyncBidiStreamingCall(
    ch.newCall(GrpcWire.sinkStreamMethod, CallOptions.DEFAULT),
    new StreamObserver[DynamicMessage] {
      override def onNext(v: DynamicMessage): Unit = got.put(v)
      override def onError(t: Throwable): Unit = done.countDown()
      override def onCompleted(): Unit = done.countDown()
    })

  def send(m: DynamicMessage): Unit = requests.onNext(m)
  def next(timeoutMs: Long): Option[DynamicMessage] = Option(got.poll(timeoutMs, TimeUnit.MILLISECONDS))
  def close(): Unit = { requests.onCompleted(); done.await(10, TimeUnit.SECONDS) }
}

/** Wire messages of the vendored connector.proto, built the way a client
  * without generated stubs builds them.
  */
object SinkMessages {
  private val sinkReq = ConnectorProto.messageType("SinkRequest")
  private val rec = ConnectorProto.messageType("KafkaRecord")
  private val batch = ConnectorProto.messageType("RecordBatch")
  private val flushReq = ConnectorProto.messageType("FlushRequest")
  private def f(d: org.sparkproject.connect.protobuf.Descriptors.Descriptor, n: String) =
    d.findFieldByName(n)

  def push(records: Seq[KafkaRecord]): DynamicMessage = {
    val b = DynamicMessage.newBuilder(batch)
    records.foreach { r =>
      b.addRepeatedField(f(batch, "records"), DynamicMessage.newBuilder(rec)
        .setField(f(rec, "topic"), r.topic)
        .setField(f(rec, "partition"), Int.box(r.partition))
        .setField(f(rec, "offset"), Long.box(r.offset))
        .setField(f(rec, "timestamp"), Long.box(r.timestamp.getTime))
        .setField(f(rec, "key"), ByteString.copyFrom(r.key))
        .setField(f(rec, "value"), ByteString.copyFrom(r.value))
        .build())
    }
    DynamicMessage.newBuilder(sinkReq).setField(f(sinkReq, "record_batch"), b.build()).build()
  }

  def flush(id: String): DynamicMessage =
    DynamicMessage.newBuilder(sinkReq).setField(f(sinkReq, "flush"),
      DynamicMessage.newBuilder(flushReq).setField(f(flushReq, "request_id"), id).build()).build()

  private def sub(m: DynamicMessage, n: String): Option[DynamicMessage] = {
    val fd = f(m.getDescriptorForType, n)
    if (m.hasField(fd)) Some(m.getField(fd).asInstanceOf[DynamicMessage]) else None
  }

  /** The acked (topic, partition, offset) ids when `m` is a successful Ack. */
  def ackedIds(m: DynamicMessage): Option[Seq[Readback.Id]] = sub(m, "ack").collect {
    case a if a.getField(f(a.getDescriptorForType, "success")) == java.lang.Boolean.TRUE =>
      a.getField(f(a.getDescriptorForType, "record_ids")).asInstanceOf[java.util.List[_]].asScala
        .map { x =>
          val id = x.asInstanceOf[DynamicMessage]
          val d = id.getDescriptorForType
          Readback.Id(id.getField(f(d, "topic")).toString,
            id.getField(f(d, "partition")).asInstanceOf[Integer].intValue,
            id.getField(f(d, "offset")).asInstanceOf[java.lang.Long].longValue)
        }.toSeq
  }

  def flushSucceeded(m: DynamicMessage): Boolean = sub(m, "flush_response").exists(r =>
    r.getField(f(r.getDescriptorForType, "success")) == java.lang.Boolean.TRUE)
}

/** The gRPC front, measured from the client side in push_json's traced
  * run: a closed loop over one loopback SinkStream. Each round pushes
  * `records_per_push` records, sends Flush, and waits for the Ack and the
  * FlushResponse. The sink query is assembled as the service tests
  * assemble it — PushService's MemoryStream, `FileSink.writeBatch` with
  * the shipped JSON/default sink, and a per-batch `collect()` of ids
  * feeding `ackOnCommit` — behind `InProcessConnectorService` and
  * `GrpcControlServer`.
  */
final class GrpcFront(ctx: Ctx, p: com.fasterxml.jackson.databind.JsonNode,
                      sinkConf: Map[String, String]) {
  private val perPush = p.get("records_per_push").asInt()
  private val warmup = p.get("warmup_records").asInt()
  private val seconds = p.get("seconds").asDouble()
  private val tracer = ctx.tracer
  private val timeoutMs = 30000L

  // the service tests' engine: a Kafka source connector that is never
  // started (records arrive over the wire) and the shipped JSON sink
  private def engineJson: String =
    s"""{"kafka": {"bootstrap_servers": ["localhost:9092"], "group_id": "graftbench"},
       | "connectors": [
       |  {"name": "src-1", "connector_class": "io.rustconnect.KafkaSourceConnector",
       |   "connector_type": "source", "tasks_max": 1, "topics": ["events"], "config": {}},
       |  {"name": "sink-1", "connector_class": "graft.FileSinkConnector",
       |   "connector_type": "sink", "tasks_max": 2, "topics": ["events"],
       |   "config": ${Json.mapper.writeValueAsString(sinkConf.asJava)}}]}""".stripMargin

  /** Push, Flush, then wait for Ack + FlushResponse. Returns the Ack's
    * arrival time and the acked ids, or None on failure or timeout.
    */
  private def round(client: SinkClient, msg: DynamicMessage, id: String): (Long, Option[Seq[Readback.Id]]) = {
    client.send(msg)
    client.send(SinkMessages.flush(id))
    val ack = client.next(timeoutMs)
    val tAck = System.nanoTime()
    val flushed = client.next(timeoutMs)
    val ok = flushed.exists(SinkMessages.flushSucceeded)
    (tAck, if (ok) ack.flatMap(SinkMessages.ackedIds) else None)
  }

  /** Runs the loop in `spark`; records its checks into `res` and returns
    * the grpc.* layer metrics.
    */
  def measure(spark: SparkSession, replay: Replay, res: Result): Map[String, Double] = {
    val cfg = SinkConfig.fromMap(sinkConf)
    val out = ctx.work.resolve("grpc")
    val root = out.resolve("data").toString
    val log = new ProgressLog
    spark.streams.addListener(log)
    val svc = new PushService(spark)
    val q = svc.records.writeStream
      .queryName("graft-grpc-sink")
      .option("checkpointLocation", out.resolve("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        FileSink.writeBatch(batch, cfg, root)
        svc.ackOnCommit(batch.select("topic", "partition", "offset").collect().iterator
          .map(r => svc.RecordId(r.getString(0), r.getInt(1), r.getLong(2))))
      }.start()
    val engine = Engine.fromConfigJson(spark, engineJson, root, out.resolve("checkpoint-engine").toString)
    val service = new TimedService(InProcessConnectorService(engine, svc, () => q), tracer)
    val server = new GrpcControlServer(service, port = 0)
    val channel = GrpcControlClient.channel("127.0.0.1", server.start())
    val client = new SinkClient(channel)
    val pushed = ArrayBuffer[KafkaRecord]()
    val first = replay.take(warmup)
    pushed ++= first
    if (round(client, SinkMessages.push(first), "warmup")._2.isEmpty)
      res.notes += "gRPC warm-up flush was not acked"
    service.pushNs.clear(); service.flushNs.clear()
    val outData = java.nio.file.Paths.get(FileSink.outputPath(cfg, root))
    val filesBefore = Env.dataFiles(outData).map(_._1).toSet

    // closed loop; a round's records and message are built before its clock starts
    val ackMs = ArrayBuffer[Double]()
    val bytesPerRecord = ArrayBuffer[Double]()
    var failedRounds = 0
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < end) {
      val recs = replay.take(perPush)
      val msg = SinkMessages.push(recs)
      bytesPerRecord += msg.getSerializedSize.toDouble / perPush
      val t0 = System.nanoTime()
      val (tAck, acked) = tracer.span("grpc.round")(round(client, msg, s"round-$n"))._1
      pushed ++= recs
      val want = recs.map(r => Readback.Id(r.topic, r.partition, r.offset)).toSet
      if (acked.exists(a => a.size == perPush && a.toSet == want)) ackMs += (tAck - t0) / 1e6
      else {
        failedRounds += 1
        res.notes += s"gRPC round $n: ack missing, failed or not the pushed ids"
      }
      n += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    client.close(); channel.shutdownNow(); server.stop(); q.stop()
    val batches = log.dataBatches(start, System.nanoTime())

    val measuredFiles = Env.dataFiles(outData).filterNot(f => filesBefore.contains(f._1))
    val (checked, failed, notes) =
      tracer.span("harness.readback")(Readback.checkJsonSink(spark, outData.toString, pushed))._1
    // a record fails once, whether its round's ack or the read-back caught it
    res.attempted += checked
    res.failed += math.min(checked, failed + failedRounds.toLong * perPush)
    res.notes ++= notes

    val pushMs = service.pushNs.asScala.map(_ / 1e6).toSeq
    val flushMs = service.flushNs.asScala.map(_ / 1e6).toSeq
    val wire = ackMs.indices.flatMap(i =>
      if (i < pushMs.size && i < flushMs.size) Some(ackMs(i) - pushMs(i) - flushMs(i)) else None)
    def phaseP50(name: String) = Stats.median(batches.map(StreamingLayer.phase(_, name)))
    Map(
      "grpc.rounds" -> n.toDouble,
      "grpc.ack_ms_p50" -> Stats.median(ackMs),
      "grpc.ack_ms_p95" -> Stats.percentile(ackMs, 95),
      "grpc.ack_rps" -> ackMs.size * perPush / wallS,
      "grpc.server_push_ms_p50" -> Stats.median(pushMs),
      "grpc.server_flush_ms_p50" -> Stats.median(flushMs),
      "grpc.wire_ms_p50" -> Stats.median(wire),
      "grpc.request_bytes_per_record" -> Stats.mean(bytesPerRecord),
      "grpc.query_planning_ms_p50" -> phaseP50("queryPlanning"),
      "grpc.wal_commit_ms_p50" -> phaseP50("walCommit"),
      "grpc.commit_offsets_ms_p50" -> phaseP50("commitOffsets"),
      "grpc.add_batch_ms_p50" -> phaseP50("addBatch"),
      "grpc.objects_per_krec" -> measuredFiles.size / ((pushed.size - warmup) / 1000.0))
  }
}
