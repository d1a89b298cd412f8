package graft.api

import java.util.concurrent.{CompletableFuture, TimeUnit}

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext,
  ChannelInboundHandlerAdapter, ChannelInitializer}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame,
  DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame,
  Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler,
  Http2StreamChannelBootstrap}
import org.scalatest.funsuite.AnyFunSuite

/** Arrow Flight over real gRPC, proven over real sockets: an
  * independent HTTP/2 prior-knowledge client (Netty's h2 codec driven
  * directly — the same transport grpc clients ride) frames Flight
  * protobufs by hand, calls the server, and checks the full contract:
  * response headers, length-prefixed messages, grpc-status trailers,
  * and that reassembled FlightData IPC bytes read back losslessly. */
class FlightGrpcSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"

  private lazy val (server, port) = {
    val s = new FlightGrpc(spark, dir)
    (s, s.start())
  }

  /** one gRPC response: headers, concatenated DATA bytes, trailers.
    * Trailers-only responses land in `headers` with empty data. */
  private final case class GrpcResponse(headers: Map[String, String],
      data: Array[Byte], trailers: Map[String, String]) {
    def status: Int =
      trailers.getOrElse("grpc-status",
        headers.getOrElse("grpc-status", "-1")).toInt
    def messages: Seq[Array[Byte]] = FlightGrpc.allFrames(data)
  }

  /** minimal h2c prior-knowledge gRPC client over Netty's HTTP/2 frame
    * codec: open a stream, send HEADERS + framed DATA, collect until
    * end-of-stream. */
  private final class H2cClient(port: Int) {
    private val group = new NioEventLoopGroup(1)
    private val ch: Channel = new Bootstrap()
      .group(group)
      .channel(classOf[NioSocketChannel])
      .handler(new ChannelInitializer[SocketChannel] {
        override def initChannel(c: SocketChannel): Unit =
          c.pipeline().addLast(
            Http2FrameCodecBuilder.forClient().build(),
            new Http2MultiplexHandler(new ChannelInboundHandlerAdapter()))
      })
      .connect("127.0.0.1", port).syncUninterruptibly().channel()

    def call(method: String, message: Array[Byte],
        extraHeaders: Seq[(String, String)] = Nil,
        endStream: Boolean = true): GrpcResponse = {
      val done = new CompletableFuture[GrpcResponse]()
      val collector = new ChannelInboundHandlerAdapter {
        private var hdrs = Map.empty[String, String]
        private var trls = Map.empty[String, String]
        private val buf = new java.io.ByteArrayOutputStream()
        private var sawHeaders = false
        private def toMap(h: Http2HeadersFrame): Map[String, String] = {
          val it = h.headers().iterator(); val m = Map.newBuilder[String, String]
          while (it.hasNext) {
            val e = it.next(); m += (e.getKey.toString -> e.getValue.toString)
          }
          m.result()
        }
        override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
          msg match {
            case h: Http2HeadersFrame =>
              if (!sawHeaders) { hdrs = toMap(h); sawHeaders = true }
              else trls = toMap(h)
              if (h.isEndStream)
                done.complete(GrpcResponse(hdrs, buf.toByteArray, trls))
            case d: Http2DataFrame =>
              try {
                val c = d.content(); val a = new Array[Byte](c.readableBytes())
                c.readBytes(a); buf.write(a)
              } finally d.release()
              if (d.isEndStream)
                done.complete(GrpcResponse(hdrs, buf.toByteArray, trls))
            case other => io.netty.util.ReferenceCountUtil.release(other)
          }
        override def exceptionCaught(ctx: ChannelHandlerContext, e: Throwable): Unit =
          done.completeExceptionally(e)
      }
      val sc = new Http2StreamChannelBootstrap(ch)
        .handler(new ChannelInitializer[Channel] {
          override def initChannel(c: Channel): Unit =
            c.pipeline().addLast(collector)
        }).open().syncUninterruptibly().getNow
      val h = new DefaultHttp2Headers()
      h.method("POST").scheme("http").authority(s"127.0.0.1:$port")
        .path(FlightGrpc.ServicePrefix + method)
      h.set("content-type", "application/grpc+proto")
      h.set("te", "trailers")
      extraHeaders.foreach { case (k, v) => h.set(k, v) }
      sc.write(new DefaultHttp2HeadersFrame(h))
      val framed = new java.io.ByteArrayOutputStream()
      framed.write(0)
      framed.write((message.length >>> 24) & 0xFF)
      framed.write((message.length >>> 16) & 0xFF)
      framed.write((message.length >>> 8) & 0xFF)
      framed.write(message.length & 0xFF)
      framed.write(message)
      sc.writeAndFlush(new DefaultHttp2DataFrame(
        Unpooled.wrappedBuffer(framed.toByteArray), endStream))
      done.get(60, TimeUnit.SECONDS)
    }

    /** send raw pre-framed DATA bytes (for malformed-frame tests). */
    def callRaw(method: String, rawData: Array[Byte]): GrpcResponse = {
      val done = new CompletableFuture[GrpcResponse]()
      val collector = new ChannelInboundHandlerAdapter {
        private var hdrs = Map.empty[String, String]
        private var trls = Map.empty[String, String]
        private val buf = new java.io.ByteArrayOutputStream()
        private var sawHeaders = false
        private def toMap(h: Http2HeadersFrame): Map[String, String] = {
          val it = h.headers().iterator(); val m = Map.newBuilder[String, String]
          while (it.hasNext) {
            val e = it.next(); m += (e.getKey.toString -> e.getValue.toString)
          }
          m.result()
        }
        override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
          msg match {
            case h: Http2HeadersFrame =>
              if (!sawHeaders) { hdrs = toMap(h); sawHeaders = true }
              else trls = toMap(h)
              if (h.isEndStream)
                done.complete(GrpcResponse(hdrs, buf.toByteArray, trls))
            case d: Http2DataFrame =>
              try {
                val c = d.content(); val a = new Array[Byte](c.readableBytes())
                c.readBytes(a); buf.write(a)
              } finally d.release()
              if (d.isEndStream)
                done.complete(GrpcResponse(hdrs, buf.toByteArray, trls))
            case other => io.netty.util.ReferenceCountUtil.release(other)
          }
      }
      val sc = new Http2StreamChannelBootstrap(ch)
        .handler(new ChannelInitializer[Channel] {
          override def initChannel(c: Channel): Unit =
            c.pipeline().addLast(collector)
        }).open().syncUninterruptibly().getNow
      val h = new DefaultHttp2Headers()
      h.method("POST").scheme("http").authority(s"127.0.0.1:$port")
        .path(FlightGrpc.ServicePrefix + method)
      h.set("content-type", "application/grpc+proto")
      h.set("te", "trailers")
      sc.write(new DefaultHttp2HeadersFrame(h))
      sc.writeAndFlush(new DefaultHttp2DataFrame(
        Unpooled.wrappedBuffer(rawData), true))
      done.get(60, TimeUnit.SECONDS)
    }

    def close(): Unit = {
      ch.close().syncUninterruptibly()
      group.shutdownGracefully(0, 100, TimeUnit.MILLISECONDS)
    }
  }

  private lazy val client = new H2cClient(port)

  private def reassemble(resp: GrpcResponse): Array[Byte] =
    FlightProto.joinIpcStream(resp.messages.map { m =>
      val d = FlightProto.decodeData(m)
      FlightProto.IpcMessage(d.header, d.body)
    })

  test("DoGet with a SQL ticket streams FlightData that reassembles to the exact rows") {
    val sql = "SELECT service_name, COUNT(*) AS n FROM logs " +
      "GROUP BY service_name ORDER BY service_name"
    val r = client.call("DoGet", FlightProto.encodeTicket(sql))
    assert(r.headers(":status") == "200")
    assert(r.headers("content-type") == "application/grpc+proto")
    assert(r.status == 0, s"trailers: ${r.trailers}")
    // first message carries the schema (header only, empty body)
    val first = FlightProto.decodeData(r.messages.head)
    assert(first.header.nonEmpty && first.body.isEmpty)
    val back = ArrowResult.fromIpcStream(spark, reassemble(r))
      .collect().map(row => (row.getString(0), row.getLong(1)))
    val direct = graft.SignalViews.logsGen2Df(spark, dir)
      .groupBy("service_name").count().orderBy("service_name")
      .collect().map(row => (row.getString(0), row.getLong(1)))
    assert(back.sameElements(direct))
  }

  test("DoGet find_trace ticket: same grammar as the HTTP route, spans in time order") {
    import org.apache.spark.sql.functions.col
    val traceId = graft.SignalViews.tracesGen2Df(spark, dir)
      .select("trace_id").orderBy("trace_id").limit(1)
      .collect()(0).getString(0)
    val r = client.call("DoGet",
      FlightProto.encodeTicket(s"find_trace:t:d:$traceId"))
    assert(r.status == 0, s"trailers: ${r.trailers}")
    val back = ArrowResult.fromIpcStream(spark, reassemble(r))
    val expect = graft.SignalViews.tracesGen2Df(spark, dir)
      .filter(col("trace_id") === traceId)
    assert(back.count() == expect.count() && back.count() > 0)
    val ts = back.select("timestamp").collect().map(_.getLong(0))
    assert(ts.sameElements(ts.sorted))
    // and byte-parity with the HTTP arrow route on the same ticket
    val http = Endpoints.arrowTicket(spark, dir, s"find_trace:t:d:$traceId")
    assert(java.util.Arrays.equals(reassemble(r), http),
      "Flight reassembly must equal the HTTP route's IPC stream byte-for-byte")
  }

  test("GetFlightInfo: encapsulated schema + an endpoint ticket DoGet honors") {
    val sql = "SELECT trace_id, COUNT(*) AS spans FROM traces GROUP BY trace_id"
    val r = client.call("GetFlightInfo", FlightProto.encodeDescriptor(
      FlightProto.Descriptor(2, Nil, sql)))
    assert(r.status == 0, s"trailers: ${r.trailers}")
    val info = FlightProto.decodeInfo(r.messages.head)
    assert(info.totalRecords == -1L && info.totalBytes == -1L)
    assert(info.tickets == Seq(sql))
    // the schema field is an IPC-encapsulated schema message: append an
    // end-of-stream marker and any standard stream reader takes it
    val eos = Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)
    val schemaDf = ArrowResult.fromIpcStream(spark, info.schema ++ eos)
    assert(schemaDf.schema.fieldNames.toSeq == Seq("trace_id", "spans"))
    assert(schemaDf.count() == 0)
    // the advertised ticket is servable
    val got = client.call("DoGet", FlightProto.encodeTicket(info.tickets.head))
    assert(got.status == 0)
    assert(ArrowResult.fromIpcStream(spark, reassemble(got)).count() > 0)
  }

  test("GetSchema equals the FlightInfo schema; PATH descriptors name signal tables") {
    val d = FlightProto.Descriptor(1, Seq("metrics_gauge"), "")
    val viaInfo = FlightProto.decodeInfo(client.call("GetFlightInfo",
      FlightProto.encodeDescriptor(d)).messages.head).schema
    val viaSchema = FlightProto.decodeSchemaResult(client.call("GetSchema",
      FlightProto.encodeDescriptor(d)).messages.head)
    assert(java.util.Arrays.equals(viaInfo, viaSchema))
    // a PATH descriptor outside the served tables is INVALID_ARGUMENT
    val bad = client.call("GetSchema", FlightProto.encodeDescriptor(
      FlightProto.Descriptor(1, Seq("secrets"), "")))
    assert(bad.status == FlightGrpc.StatusInvalidArgument)
  }

  test("ListFlights streams one FlightInfo per served signal table") {
    val r = client.call("ListFlights", Array.emptyByteArray)
    assert(r.status == 0)
    val infos = r.messages.map(FlightProto.decodeInfo)
    assert(infos.map(_.descriptor.path.mkString) ==
      FlightGrpc.SignalTablesServed)
    assert(infos.forall(_.schema.nonEmpty))
    assert(infos.forall(i => i.tickets.nonEmpty))
  }

  test("Handshake echoes; ListActions is an empty stream") {
    val payload = "hello-flight".getBytes("UTF-8")
    val r = client.call("Handshake",
      FlightProto.encodeHandshake(7L, payload), endStream = false)
    assert(r.status == 0, s"trailers: ${r.trailers}")
    val (ver, echoed) = FlightProto.decodeHandshake(r.messages.head)
    assert(ver == 7L && java.util.Arrays.equals(echoed, payload))
    val la = client.call("ListActions", Array.emptyByteArray)
    assert(la.status == 0 && la.messages.isEmpty)
  }

  test("gRPC error band: bad tickets 3, unknown methods 12, compression 12") {
    // write-shaped SQL is rejected exactly like the HTTP route
    val drop = client.call("DoGet", FlightProto.encodeTicket("DROP TABLE logs"))
    assert(drop.status == FlightGrpc.StatusInvalidArgument)
    // errors are TRAILERS-ONLY responses: grpc-status/grpc-message ride
    // the single HEADERS frame
    assert(drop.headers.getOrElse("grpc-message", "")
      .contains("SELECT or WITH"))
    // malformed find_trace grammar
    val badT = client.call("DoGet", FlightProto.encodeTicket("find_trace:x"))
    assert(badT.status == FlightGrpc.StatusInvalidArgument)
    // unimplemented RPCs answer UNIMPLEMENTED, not a hang or a 404
    val dp = client.call("DoPut", Array.emptyByteArray)
    assert(dp.status == FlightGrpc.StatusUnimplemented)
    // a compressed-flag frame is refused loudly
    val msg = FlightProto.encodeTicket("SELECT 1 AS one")
    val framed = new java.io.ByteArrayOutputStream()
    framed.write(1) // compressed = true, no codec negotiated
    framed.write((msg.length >>> 24) & 0xFF); framed.write((msg.length >>> 16) & 0xFF)
    framed.write((msg.length >>> 8) & 0xFF); framed.write(msg.length & 0xFF)
    framed.write(msg)
    val comp = client.callRaw("DoGet", framed.toByteArray)
    assert(comp.status == FlightGrpc.StatusUnimplemented)
  }

  test("reflect() and SQL-on-files stay closed over Flight too") {
    val refl = client.call("DoGet", FlightProto.encodeTicket(
      "SELECT reflect('java.lang.System', 'getenv') AS x"))
    assert(refl.status == FlightGrpc.StatusInvalidArgument)
    val files = client.call("DoGet", FlightProto.encodeTicket(
      "SELECT * FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`"))
    assert(files.status == FlightGrpc.StatusInvalidArgument)
  }

  test("auth band mirrors /api/v1/arrow: 16 without creds, 7 scoped, admin passes") {
    val sh = new HttpShell(spark, dir, nowNs = 1706745600L * 1000000000L,
      apiKeys = Some(Map(HttpShell.hashApiKey("sk-acme") -> "acme")),
      adminApiKeys = Set(HttpShell.hashApiKey("sk-root")))
    val fport = sh.startFlight()
    val c = new H2cClient(fport)
    try {
      val ticket = FlightProto.encodeTicket("SELECT 1 AS one")
      // no credentials
      assert(c.call("DoGet", ticket).status == FlightGrpc.StatusUnauthenticated)
      // wrong scheme
      assert(c.call("DoGet", ticket,
        Seq("authorization" -> "Basic abc")).status ==
        FlightGrpc.StatusUnauthenticated)
      // unknown key
      assert(c.call("DoGet", ticket,
        Seq("authorization" -> "Bearer sk-wrong")).status ==
        FlightGrpc.StatusUnauthenticated)
      // a valid key presented for a foreign tenant
      assert(c.call("DoGet", ticket,
        Seq("authorization" -> "Bearer sk-acme",
          "x-tenant-id" -> "other")).status ==
        FlightGrpc.StatusPermissionDenied)
      // unscoped tenant key and admin key both pass
      val ok = c.call("DoGet", ticket,
        Seq("authorization" -> "Bearer sk-acme", "x-tenant-id" -> "acme"))
      assert(ok.status == 0, s"${ok.trailers}")
      val root = c.call("DoGet", ticket,
        Seq("authorization" -> "Bearer sk-root"))
      assert(root.status == 0)
    } finally { c.close(); sh.stop() }
  }

  test("scoped keys are rejected outright (write scopes never read cross-signal SQL)") {
    // a resolve hook returning a SCOPED principal — the admin-band rule
    // itself, independent of catalog plumbing
    val scoped = TenantCatalog.Principal(Some("acme"),
      Some(Seq("logs:write")), None, isAdmin = false)
    val s2 = new FlightGrpc(spark, dir,
      resolve = Some(k => if (k == "sk-scoped") Some(scoped) else None))
    val p2 = s2.start()
    val c2 = new H2cClient(p2)
    try {
      val r = c2.call("DoGet", FlightProto.encodeTicket("SELECT 1 AS one"),
        Seq("authorization" -> "Bearer sk-scoped", "x-tenant-id" -> "acme"))
      assert(r.status == FlightGrpc.StatusPermissionDenied)
      assert(r.headers.getOrElse("grpc-message", r.trailers.getOrElse("grpc-message", ""))
        .contains("unscoped administrative credential"))
    } finally { c2.close(); s2.stop() }
  }

  test("DoGet data plane is STREAMING: early partitions' messages exist before later partitions run") {
    // a DF whose SECOND partition poisons execution: a collect-wholesale
    // data plane throws before producing ANY message; the streaming one
    // yields the schema and all of partition 0's batches first, because
    // toLocalIterator runs one partition's job at a time
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType)))
    val rdd = spark.sparkContext.parallelize(0 until 2, 2)
      .mapPartitionsWithIndex { (idx, _) =>
        if (idx == 1) throw new RuntimeException("poison partition")
        Iterator.range(0, 1000).map(i => org.apache.spark.sql.Row(i.toLong))
      }
    val df = spark.createDataFrame(rdd, schema)
    val it = ArrowResult.ipcMessages(df, maxRecordsPerBatch = 100L)
    var got = 0
    intercept[Exception] { it.foreach(_ => got += 1) }
    assert(got == 11, // 1 schema + 1000/100 batches from partition 0
      s"expected schema + partition-0 batches to stream before the poison, got $got")
  }

  test("SQL tickets carry the max_sql_rows plan-level clamp") {
    val s2 = new FlightGrpc(spark, dir, maxSqlRows = 7)
    val p2 = s2.start()
    val c2 = new H2cClient(p2)
    try {
      val r = c2.call("DoGet",
        FlightProto.encodeTicket("SELECT timestamp FROM logs"))
      assert(r.status == 0, s"trailers: ${r.trailers}")
      assert(ArrowResult.fromIpcStream(spark, reassemble(r)).count() == 7)
    } finally { c2.close(); s2.stop() }
  }

  test("a runtime failure mid-stream surfaces as error TRAILERS after the schema message") {
    // passes analysis (so headers + schema go out), fails in execution
    // (ANSI cast) — the client must see a well-formed stream that ends
    // in non-zero grpc-status trailers, not a hang or a broken frame
    val r = client.call("DoGet", FlightProto.encodeTicket(
      "SELECT CAST('nope' AS INT) AS x FROM logs"))
    assert(r.headers(":status") == "200")
    assert(r.messages.nonEmpty, "schema message must already have streamed")
    assert(r.trailers.getOrElse("grpc-status", "-1").toInt ==
      FlightGrpc.StatusInternal)
  }

  test("inbound messages beyond the 4 MiB gRPC cap answer RESOURCE_EXHAUSTED") {
    val big = new Array[Byte](FlightGrpc.MaxInboundBytes + 64 * 1024)
    java.util.Arrays.fill(big, 'a'.toByte)
    val r = client.call("DoGet", FlightProto.encodeTicket(new String(big, "UTF-8")))
    assert(r.status == FlightGrpc.StatusResourceExhausted, s"${r.trailers}")
  }

  test("Flight RPCs dogfood rpc.server.duration rows into _system/_monitoring") {
    val base = graft.TestDirs.create("graft-flight-selfmon").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = 1706745600L * 1000000000L,
      ingest = Some(layout))
    val fport = sh.startFlight()
    val c = new H2cClient(fport)
    try {
      assert(c.call("DoGet",
        FlightProto.encodeTicket("SELECT 1 AS one")).status == 0)
      assert(c.call("DoGet",
        FlightProto.encodeTicket("DROP TABLE logs")).status ==
        FlightGrpc.StatusInvalidArgument)
      // onServed fires after the response is written; poll briefly
      var rows = Array.empty[org.apache.spark.sql.Row]
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (rows.length < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        sh.flushSelfMetrics()
        val p = graft.storage.Storage
          .TableLayout(base, "_system", "_monitoring").path("metrics_gauge")
        if (new java.io.File(p).exists())
          rows = spark.read.parquet(p)
            .filter(org.apache.spark.sql.functions
              .col("metric_name") === "rpc.server.duration")
            .selectExpr("attributes['rpc.system'] AS sys",
              "attributes['rpc.service'] AS svc",
              "attributes['rpc.method'] AS m",
              "attributes['rpc.grpc.status_code'] AS code", "value")
            .collect()
      }
      assert(rows.length == 2, s"expected 2 rpc rows, got ${rows.length}")
      assert(rows.forall(_.getString(0) == "grpc"))
      assert(rows.forall(_.getString(1) == "arrow.flight.protocol.FlightService"))
      assert(rows.forall(_.getString(2) == "DoGet"))
      assert(rows.map(_.getString(3)).sorted.toSeq == Seq("0", "3"))
      assert(rows.forall(_.getDouble(4) >= 0.0))
    } finally { c.close(); sh.stop() }
  }

  test("IPC split/join round-trips byte-exactly on a multi-batch stream") {
    val df = spark.range(0, 20000).select(
      org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("id").cast("string")).as("h"))
    val ipc = ArrowResult.ipcStream(df, maxRecordsPerBatch = 1024L)
    val msgs = FlightProto.splitIpcStream(ipc)
    assert(msgs.length > 10, "expected schema + many batches")
    assert(java.util.Arrays.equals(FlightProto.joinIpcStream(msgs), ipc))
  }
}
