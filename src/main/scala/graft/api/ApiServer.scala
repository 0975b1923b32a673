package graft.api

import java.net.InetSocketAddress
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.Materialize

/** Minimal HTTP layer over [[DataService]] — the engine-side counterpart of
  * the reference's Flask app (/root/reference/api/server.py:43-85): the same
  * five GET routes serving the same result shapes as JSON. Built on the
  * JDK's `com.sun.net.httpserver` and the Jackson Scala module Spark already
  * ships, so no dependency is added; case classes (with Options as
  * null-or-value) serialize directly.
  *
  * Not a production web tier — it exists so a user of "the platform" can
  * point the reference dashboard at the Spark engine. The heavy lifting per
  * request is a Spark job; real deployments would cache or pre-materialize
  * (the reference recomputes per request too, data_service.py).
  */
class ApiServer(spark: SparkSession, port: Int = 0,
                host: String = "127.0.0.1") {

  private val service = new DataService(spark)
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  // loopback by default: every GET triggers a Spark job, so binding a
  // non-loopback interface is an explicit opt-in (`host = "0.0.0.0"`), not
  // a default — same posture as the reference's Flask dev server
  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)

  private def route(path: String)(body: () => Any): Unit =
    server.createContext(path, (exchange: HttpExchange) => {
      val (status, payload) =
        try (200, Materialize.scope(mapper.writeValueAsBytes(body())))
        catch {
          case e: Exception =>
            (500, mapper.writeValueAsBytes(Map("error" -> e.getMessage)))
        }
      try {
        exchange.getResponseHeaders.set("Content-Type", "application/json")
        exchange.sendResponseHeaders(status, payload.length)
        exchange.getResponseBody.write(payload)
      } finally exchange.close()
    })

  route("/api/health")(() =>
    Map("status" -> "ok", "models" -> Seq("var", "il", "mev", "transfers")))
  route("/api/var")(() => service.varData())
  route("/api/il")(() => service.ilData())
  route("/api/mev")(() => service.mevData())
  route("/api/transfers")(() => service.transferData())

  // the dashboard: one static page over the four data routes (the "/"
  // context also catches unknown paths — prefix routing — which get the
  // page too; the JSON routes above are longer prefixes and win)
  server.createContext("/", (exchange: HttpExchange) => {
    val payload = Dashboard.Html.getBytes("UTF-8")
    try {
      exchange.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      exchange.sendResponseHeaders(200, payload.length)
      exchange.getResponseBody.write(payload)
    } finally exchange.close()
  })

  def start(): Unit = server.start()

  /** The actual bound port (useful with port = 0 in tests). */
  def boundPort: Int = server.getAddress.getPort

  /** The interface actually bound (loopback unless explicitly overridden). */
  def boundAddress: java.net.InetAddress = server.getAddress.getAddress

  def stop(): Unit = server.stop(0)
}

object ApiServer {
  /** `graft.api.ApiServer <port> [--external]` — stand-alone entry point.
    * Binds loopback unless `--external` is passed explicitly. */
  def main(args: Array[String]): Unit = {
    val port = args.filterNot(_.startsWith("--"))
      .headOption.map(_.toInt).getOrElse(5000)
    val host = if (args.contains("--external")) "0.0.0.0" else "127.0.0.1"
    val spark = graft.GraftSession("graft-api")
    val srv = new ApiServer(spark, port, host)
    srv.start()
    println(s"graft api listening on $host:${srv.boundPort}")
    Thread.currentThread().join()
  }
}
