package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.io.{Http, HttpDistanceProvider, HttpWebhookSink}
import graft.pipeline.CommuteRules
import graft.streaming.CommentAlerts

/** Live HTTP connectors against an in-process `com.sun.net.httpserver`
  * — proving the HTTP implementations share the stubs' exact dataflow
  * contract (same output schema, same null-on-failure semantics), and
  * that nothing constructs them unless explicitly configured. */
class HttpConnectorsSuite extends SparkSuite {

  private def withServer(handler: HttpExchange => Unit)(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = handler(ex)
    })
    // pooled executor: the default serializes handlers on one thread,
    // so a deliberately-slow handler (the slow-endpoint storm) would
    // starve every other row's request behind it
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally { server.stop(0); pool.shutdownNow(); () }
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def matrixJson(dist: Int, dur: Int): String =
    s"""{"rows":[{"elements":[{"distance":{"value":$dist},""" +
      s""""duration":{"value":$dur},"status":"OK"}]}],"status":"OK"}"""

  private def emp(mode: String, id: Int): Row = Row(
    id, s"F$id", s"L$id", java.sql.Date.valueOf("1990-01-01"), "R&D",
    java.sql.Date.valueOf("2020-01-01"), 40000, "CDI", s"addr$id", mode, 25)

  private lazy val employees = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      emp("Marche/running", 1),
      emp("Marche/running", 2),
      emp("Transports en commun", 3),
      emp("Vélo/Trottinette/Autres", 4)), 1),
    Schemas.employees)

  test("HttpDistanceProvider parses the Distance Matrix shape and " +
    "nulls out failures exactly like a stub would") {
    // addr1 → 12000 m; addr2 → 17350 m; addr3 → 500 (server answers;
    // provider still calls — validate() ignores non-sporty rows);
    // addr4 → HTTP 500 (→ null distance); anything else → malformed JSON
    withServer { ex =>
      val q = ex.getRequestURI.getQuery
      def param(k: String): String = q.split("&")
        .collectFirst { case kv if kv.startsWith(k + "=") =>
          java.net.URLDecoder.decode(kv.drop(k.length + 1), "UTF-8") }
        .getOrElse("")
      assert(param("destinations") == HttpDistanceProvider.CompanyAddress)
      param("origins") match {
        case "addr1" => assert(param("mode") == "walking")
                        respond(ex, 200, matrixJson(12000, 3000))
        case "addr2" => respond(ex, 200, matrixJson(17350, 4500))
        case "addr3" => respond(ex, 200, matrixJson(500, 100))
        case "addr4" => assert(param("mode") == "bicycling")
                        respond(ex, 500, "upstream error")
        case _       => respond(ex, 200, "{not json")
      }
    } { base =>
      val live = new HttpDistanceProvider(base, apiKey = "k")
      val got = live.distances(employees)
        .orderBy("id_employee")
        .collect()
        .map(r => (r.getInt(0),
          if (r.isNullAt(1)) None else Some(r.getInt(1)),
          if (r.isNullAt(2)) None else Some(r.getInt(2))))
      assert(got.toSeq == Seq(
        (1, Some(12000), Some(3000)),
        (2, Some(17350), Some(4500)),
        (3, Some(500), Some(100)),
        (4, None, None)))
    }
  }

  test("validate() over the HTTP provider ≡ validate() over a stub " +
    "returning the same numbers — the dataflow contract is identical") {
    withServer { ex =>
      val q = ex.getRequestURI.getQuery
      val origin = q.split("&").collectFirst {
        case kv if kv.startsWith("origins=") =>
          java.net.URLDecoder.decode(kv.drop(8), "UTF-8") }.getOrElse("")
      origin match {
        case "addr1" => respond(ex, 200, matrixJson(12000, 3000))
        case "addr2" => respond(ex, 200, matrixJson(17350, 4500))
        case "addr3" => respond(ex, 200, matrixJson(9999, 100))
        case _       => respond(ex, 404, "no route")
      }
    } { base =>
      object SameNumbers extends CommuteRules.DistanceProvider {
        override def distances(employees: DataFrame): DataFrame = {
          val s = employees.sparkSession
          import s.implicits._
          Seq((1, Some(12000), Some(3000)), (2, Some(17350), Some(4500)),
            (3, Some(9999), Some(100)), (4, None, None))
            .toDF("id_employee", "distance_m", "duration_s")
        }
      }
      val at = lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      val viaHttp = CommuteRules
        .validate(employees, new HttpDistanceProvider(base, "k"), at)
      val viaStub = CommuteRules.validate(employees, SameNumbers, at)
      assert(viaHttp.schema == viaStub.schema)
      assert(viaHttp.orderBy("id_employee").collect().toSeq ==
        viaStub.orderBy("id_employee").collect().toSeq)
    }
  }

  test("HttpWebhookSink posts the reference Slack shape, one POST per " +
    "alert, and survives a failing endpoint") {
    val seen = new ConcurrentLinkedQueue[String]()
    withServer { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      seen.add(ex.getRequestMethod + " " +
        ex.getRequestHeaders.getFirst("Content-Type") + " " + body)
      if (body.contains("boom")) respond(ex, 500, "nope")
      else respond(ex, 200, "ok")
    } { base =>
      val sink = new HttpWebhookSink(base)
      // the failing alert does not stop the batch; the failure is then
      // raised, so micro-batch retry re-delivers
      val err = intercept[java.io.IOException](sink.deliver(Seq(
        CommentAlerts.Alert(1, "Auteur: Ada L", "great \"run\"",
          "Type d'activité: Course"),
        CommentAlerts.Alert(2, "Auteur: boom", "x", "y"))))
      assert(err.getMessage.contains("1 of 2"))
      val got = seen.toArray(Array.empty[String]).toSeq.sorted
      assert(got.size == 2)
      assert(got.forall(_.startsWith("POST application/json ")))
      assert(got.exists(_.contains(
        """{"text":"Auteur: Ada L","attachments":[{"pretext":"great \"run\"","text":"Type d'activité: Course","color":"#36a64f"}]}""")))
    }
  }

  test("HttpWebhookSink against a server answering 500 tries every alert, " +
    "then throws the failed count; an interrupt keeps its flag") {
    val posts = new java.util.concurrent.atomic.AtomicInteger()
    withServer { ex =>
      ex.getRequestBody.readAllBytes()
      posts.incrementAndGet()
      respond(ex, 500, "down")
    } { base =>
      val sink = new HttpWebhookSink(base)
      val alerts = (1 to 3).map(i =>
        CommentAlerts.Alert(i, s"Auteur: $i", "p", "t"))
      val err = intercept[java.io.IOException](sink.deliver(alerts))
      assert(err.getMessage.contains("3 of 3"), err.getMessage)
      assert(posts.get() === 3)
      // a cancelled task: nothing more is posted, the flag survives
      Thread.currentThread().interrupt()
      val cancelled = intercept[java.io.IOException](sink.deliver(alerts))
      assert(Thread.interrupted(), "interrupt flag was swallowed")
      assert(cancelled.getMessage.contains("3 of 3"))
      assert(posts.get() === 3)
    }
  }

  test("failure storm: connection refused on every call → all-null rows, task survives") {
    // 127.0.0.1:9 (discard) refuses connections — every attempt is an
    // immediate IOException. The task must not fail, every row must
    // surface as a NULL distance, and the storm must stay bounded
    // (3 attempts × ~instant refusal + 2 backoffs ≪ the 30 s assert)
    val t0 = System.nanoTime()
    val live = new HttpDistanceProvider("http://127.0.0.1:9/x", apiKey = "k",
      timeoutMs = 1000L, retryBackoffMs = 10L)
    val got = live.distances(employees).collect()
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    assert(got.length == 4 && got.forall(r => r.isNullAt(1) && r.isNullAt(2)))
  }

  test("failure storm: 5xx burst retries with backoff and recovers; attempts are bounded") {
    // addr1: 500 twice then 200 → the third (last) attempt succeeds.
    // addr2: 500 forever → exactly maxAttempts calls, then NULL.
    // addr3: 404 → exactly ONE call (4xx is deterministic, no retry).
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    withServer { ex =>
      val q = ex.getRequestURI.getQuery
      val origin = q.split("&").collectFirst {
        case kv if kv.startsWith("origins=") =>
          java.net.URLDecoder.decode(kv.drop(8), "UTF-8") }.getOrElse("")
      val n = hits.merge(origin, 1, (a, b) => a + b)
      origin match {
        case "addr1" if n <= 2 => respond(ex, 500, "flaky")
        case "addr1"           => respond(ex, 200, matrixJson(12000, 3000))
        case "addr2"           => respond(ex, 503, "down hard")
        case "addr3"           => respond(ex, 404, "no such route")
        case _                 => respond(ex, 200, matrixJson(1, 1))
      }
    } { base =>
      val live = new HttpDistanceProvider(base, apiKey = "k",
        maxAttempts = 3, retryBackoffMs = 5L)
      // NO orderBy before collect: range-partition sampling would
      // re-execute the HTTP pass and double every attempt count
      val got = live.distances(employees).collect()
        .map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(got(1) === Some(12000)) // recovered on the last attempt
      assert(got(2) === None)        // exhausted
      assert(got(3) === None)        // 4xx → null, no retry
      assert(hits.get("addr1") === 3)
      assert(hits.get("addr2") === 3) // bounded: never a 4th call
      assert(hits.get("addr3") === 1) // deterministic failure: one call
    }
  }

  test("failure storm: a slow endpoint times out per-attempt and later rows still flow " +
    "through the same partition client") {
    // addr1 sleeps past the request timeout on every attempt (slow
    // endpoint, not dead — the socket ACCEPTS); addr2..4 answer fast.
    // All 4 rows ride ONE partition (employees is 1-partition), so the
    // client that just timed out must keep serving the rows behind it.
    val served = new ConcurrentLinkedQueue[String]()
    withServer { ex =>
      val q = ex.getRequestURI.getQuery
      val origin = q.split("&").collectFirst {
        case kv if kv.startsWith("origins=") =>
          java.net.URLDecoder.decode(kv.drop(8), "UTF-8") }.getOrElse("")
      served.add(origin)
      if (origin == "addr1") { Thread.sleep(2000); respond(ex, 200, matrixJson(1, 1)) }
      else respond(ex, 200, matrixJson(7000, 1700))
    } { base =>
      val live = new HttpDistanceProvider(base, apiKey = "k",
        timeoutMs = 300L, maxAttempts = 2, retryBackoffMs = 5L)
      // NO orderBy (see the 5xx-burst case): sampling re-execution
      // would double the attempt counts
      val got = live.distances(employees).collect()
        .map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(got(1) === None) // timed out on both attempts
      assert(got(2) === Some(7000))
      assert(got(3) === Some(7000))
      assert(got(4) === Some(7000))
      val tries = served.toArray(Array.empty[String]).toSeq
      assert(tries.count(_ == "addr1") === 2) // bounded timeout retries
    }
  }

  test("config gating: connectors exist only when endpoints are set") {
    assert(graft.io.Http.distanceProviderFromConf(spark).isEmpty)
    assert(graft.io.Http.webhookSinkFromConf(spark).isEmpty)
    spark.conf.set(Http.DistanceEndpointKey, "http://127.0.0.1:9/x")
    spark.conf.set(Http.WebhookUrlKey, "http://127.0.0.1:9/y")
    try {
      assert(Http.distanceProviderFromConf(spark).isDefined)
      assert(Http.webhookSinkFromConf(spark).isDefined)
    } finally {
      spark.conf.unset(Http.DistanceEndpointKey)
      spark.conf.unset(Http.WebhookUrlKey)
    }
  }
}
