package graft

import graft.api.DataService
import graft.etl.{Backfill, Fixtures, Ingest}

/** API shaping layer (E2) and backfill (E0/S4) — behavioral parity with the
  * reference endpoints' structure. */
class ApiSpec extends SparkSpec {
  private lazy val svc = new DataService(spark)

  test("var endpoint: 90 points, rolling series gated at window, summary") {
    val d = svc.varData()
    assert(d.points.length == 90)
    // the reference's loop fills indices [30, 90): exactly 60 populated
    assert(d.points.count(_.varUsd.isDefined) == 60)
    assert(d.points.take(30).forall(_.varUsd.isEmpty))
    assert(d.summary.var95 > 0 && d.summary.cvar95 >= d.summary.var95)
    // CVaR (tail mean beyond the window quantile) dominates VaR pointwise
    d.points.filter(_.varUsd.isDefined).foreach { p =>
      assert(p.cvarUsd.get >= p.varUsd.get - 0.01,
        s"${p.label}: cvar ${p.cvarUsd.get} < var ${p.varUsd.get}")
    }
    assert(d.stress.length == 4)
    assert(d.stress.head.pnlUsd > d.stress.last.pnlUsd)
  }

  test("il endpoint: 99 curve points with the 5 key annotations") {
    val d = svc.ilData()
    assert(d.points.length == 99)
    assert(d.keyPoints.keySet == Set("0.5x", "1.0x", "2.0x", "3.0x", "5.0x"))
    assert(math.abs(d.keyPoints("1.0x").ilPct) < 1e-9)
    assert(d.keyPoints("5.0x").ilPct < d.keyPoints("2.0x").ilPct)
  }

  test("mev endpoint: at most 48 blocks, bands consistent with scores") {
    val d = svc.mevData()
    assert(d.rows.nonEmpty && d.rows.length <= 48)
    assert(d.rows.forall(r => r.score >= 0 && r.score <= 100))
    assert(d.rows.forall(r => (r.band == "high") == (r.score > 66)))
    assert(d.summary.blocksAnalyzed == d.rows.length)
  }

  test("transfers endpoint: spine-aligned points and top-4 contracts") {
    val d = svc.transferData()
    assert(d.points.nonEmpty)
    assert(d.summary.totalTransfers == 200)
    assert(d.summary.erc20Transfers + d.summary.erc721Transfers == 200)
    assert(d.topContracts.length <= 4)
    assert(d.topContracts.map(_.volumeEth).sliding(2).forall {
      case Seq(a, b) => a >= b; case _ => true
    })
  }

  test("http server serves the reference's five routes as JSON in-process") {
    val srv = new graft.api.ApiServer(spark, port = 0)
    srv.start()
    try {
      def get(path: String): String = {
        val conn = new java.net.URI(s"http://127.0.0.1:${srv.boundPort}$path")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(conn.getResponseCode == 200, s"$path -> ${conn.getResponseCode}")
        assert(conn.getContentType == "application/json")
        val body = new String(conn.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        conn.disconnect(); body
      }
      assert(get("/api/health").contains("\"ok\""))
      val varJson = get("/api/var")
      assert(varJson.contains("\"points\"") && varJson.contains("\"varUsd\""))
      assert(get("/api/il").contains("\"keyPoints\""))
      val mevJson = get("/api/mev")
      assert(mevJson.contains("\"band\"") && mevJson.contains("\"summary\""))
      assert(get("/api/transfers").contains("\"topContracts\""))
    } finally srv.stop()
  }

  test("dashboard: / serves a page wired to the four data routes, loopback-bound") {
    val srv = new graft.api.ApiServer(spark, port = 0)
    srv.start()
    try {
      val conn = new java.net.URI(s"http://127.0.0.1:${srv.boundPort}/")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("text/html"))
      val page = new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      conn.disconnect()
      Seq("/api/var", "/api/il", "/api/mev", "/api/transfers").foreach { r =>
        assert(page.contains(r), s"dashboard must reference $r")
      }
      // compute-triggering endpoints must not bind beyond loopback by default
      assert(srv.boundAddress.isLoopbackAddress,
        s"default bind must be loopback, got ${srv.boundAddress}")
    } finally srv.stop()
  }

  test("backfill walks a block range as partitioned batch work") {
    val msgs = Fixtures.syntheticTxMessages(60) ++
      Fixtures.syntheticTransferMessages(60)
    val env = Ingest.parseRaw(spark, msgs)
    val s = Backfill.run(env, 19000000L, 19000090L, batchSize = 3)
    assert(s.blocks == 10) // blocks 19000000,19000010,…,19000090
    assert(s.transactions == 30) // 3 txs per block over the first 10 blocks
    assert(s.transfers > 0)
  }
}
