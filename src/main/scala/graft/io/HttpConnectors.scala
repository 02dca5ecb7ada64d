package graft.io

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.CommuteRules
import graft.streaming.CommentAlerts

/** Real-I/O implementations of the engine's two external-call seams,
  * on the JDK's `java.net.http` client (no extra dependency):
  *
  *   - [[HttpDistanceProvider]] — the live twin of
  *     `CommuteRules.StubProvider`, speaking the Distance Matrix
  *     request/response shape the reference calls
  *     (`commute_validation/commute_validation.py:20-61`);
  *   - [[HttpWebhookSink]] — the live twin of the test sinks behind
  *     `CommentAlerts.AlertSink`, posting the reference's Slack message
  *     shape (`slack_notifier/slack_notification.py:63-80`).
  *
  * Both are config-gated: nothing in the engine constructs them unless
  * an endpoint is explicitly configured (`Http.distanceProviderFromConf`
  * / `Http.webhookSinkFromConf`), so tests and offline runs never touch
  * the network, and the deterministic stubs remain the default. The
  * dataflow contract is IDENTICAL to the stubs' — same input columns,
  * same output schema, same null-on-failure semantics — so swapping the
  * implementation cannot change a plan, only where the numbers come
  * from (HttpConnectorsSuite proves this against an in-process server).
  */
object Http {

  /** Spark-conf keys for gating the live connectors ON. */
  val DistanceEndpointKey = "graft.http.distance.endpoint"
  val DistanceApiKeyKey   = "graft.http.distance.apiKey"
  val DistanceDestKey     = "graft.http.distance.destination"
  val WebhookUrlKey       = "graft.http.webhook.url"

  /** The configured live provider, or None (stay on the stub). */
  def distanceProviderFromConf(
      spark: org.apache.spark.sql.SparkSession): Option[HttpDistanceProvider] =
    spark.conf.getOption(DistanceEndpointKey).map { ep =>
      new HttpDistanceProvider(
        endpoint = ep,
        apiKey = spark.conf.getOption(DistanceApiKeyKey).getOrElse(""),
        destination = spark.conf.getOption(DistanceDestKey)
          .getOrElse(HttpDistanceProvider.CompanyAddress))
    }

  /** The configured live webhook sink, or None (stay on a test sink). */
  def webhookSinkFromConf(
      spark: org.apache.spark.sql.SparkSession): Option[HttpWebhookSink] =
    spark.conf.getOption(WebhookUrlKey).map(new HttpWebhookSink(_))

  /** Minimal JSON string escape (quote, backslash, control chars) —
    * enough for the flat Slack payload; no dependency needed. */
  private[io] def jsonEscape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case '\n'          => b.append("\\n")
      case '\r'          => b.append("\\r")
      case '\t'          => b.append("\\t")
      case c if c < ' '  => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.toString
  }
}

object HttpDistanceProvider {
  /** Reference company address (`commute_validation.py:13`). */
  val CompanyAddress = "1362 Av. des Platanes, 34970 Lattes"

  /** Distance Matrix response schema — only the fields the reference
    * extracts (`data["rows"][0]["elements"][0]["distance"|"duration"]
    * ["value"]`, :54-56). Parsed DECLARATIVELY with `from_json`, so a
    * malformed body yields NULL (the reference's `return None, None`)
    * instead of throwing. */
  private[io] val responseSchema: DataType = StructType(Seq(
    StructField("rows", ArrayType(StructType(Seq(
      StructField("elements", ArrayType(StructType(Seq(
        StructField("distance", StructType(Seq(
          StructField("value", LongType)))),
        StructField("duration", StructType(Seq(
          StructField("value", LongType))))))))))))))
}

/** Live [[CommuteRules.DistanceProvider]]: one Distance Matrix GET per
  * employee, executed ON THE EXECUTORS with one `HttpClient` per
  * partition (`mapPartitions` is the seam for per-partition client
  * setup — same rationale as `Multimodal.decodeFeatures`), so a large
  * employee table fans out instead of serializing through the driver
  * like the reference's 0.2 s-sleep Python loop. Response bodies are
  * parsed with `from_json` (declarative, null-safe) — a failed call or
  * malformed body becomes a NULL distance, which `CommuteRules.validate`
  * already maps to "Impossible de calculer la distance".
  *
  * `perCallDelayMs` is the polite-throttle knob mirroring the
  * reference's `time.sleep(0.2)` (:101) — applied per partition-task,
  * so the effective global rate is `partitions / delay`.
  *
  * Failure envelope (HttpConnectorsSuite failure-storm cases): a call
  * retries at most `maxAttempts` times total, on I/O failure or 5xx
  * only (4xx is a deterministic client error — retrying re-sends an
  * identical bad request), with linear backoff `retryBackoffMs ×
  * attempt`. A row whose attempts are exhausted becomes a NULL
  * distance and the partition's client carries on with the next row —
  * one row's failure storm can never fail the task, and the wall-time
  * per row is bounded by `maxAttempts × (timeout + backoff)`.
  */
final class HttpDistanceProvider(
    endpoint: String,
    apiKey: String,
    destination: String = HttpDistanceProvider.CompanyAddress,
    timeoutMs: Long = 10000L,
    perCallDelayMs: Long = 0L,
    maxAttempts: Int = 3,
    retryBackoffMs: Long = 200L) extends CommuteRules.DistanceProvider
    with Serializable {
  require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")

  /** Reference transport-mode → API mode mapping (:34-37). */
  private def apiMode(mode: String): String = mode match {
    case "Marche/running"          => "walking"
    case "Vélo/Trottinette/Autres" => "bicycling"
    case _                         => "walking"
  }

  private def enc(s: String): String =
    URLEncoder.encode(s, StandardCharsets.UTF_8)

  override def distances(employees: DataFrame): DataFrame = {
    val spark = employees.sparkSession
    import spark.implicits._
    val ep = endpoint; val key = apiKey; val dest = destination
    val tmo = timeoutMs; val delay = perCallDelayMs
    val maxA = maxAttempts; val backoff = retryBackoffMs
    val doMode = (m: String) => apiMode(m)
    val bodies = employees
      .select(col("id_employee").cast(IntegerType),
        col("address").cast(StringType),
        col("transport_mode").cast(StringType))
      .as[(Int, String, String)]
      .mapPartitions { it =>
        // one client per partition-task; connections reused across rows
        // AND across a row's retries — a failing row must not tear the
        // client down for the rows behind it
        val client = HttpClient.newBuilder()
          .connectTimeout(Duration.ofMillis(tmo)).build()
        it.map { case (id, addr, mode) =>
          val uri = java.net.URI.create(
            s"$ep?origins=${enc(Option(addr).getOrElse(""))}" +
              s"&destinations=${enc(dest)}" +
              s"&mode=${doMode(Option(mode).getOrElse(""))}" +
              s"&key=${enc(key)}")
          var body: String = null
          var attempt = 0
          var done = false
          while (!done && attempt < maxA) {
            attempt += 1
            val retriable =
              try {
                if (delay > 0) Thread.sleep(delay)
                val req = HttpRequest.newBuilder(uri)
                  .timeout(Duration.ofMillis(tmo)).GET().build()
                val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
                val sc = resp.statusCode()
                if (sc == 200) { body = resp.body(); done = true; false }
                else sc >= 500 // 4xx: deterministic, never retried
              } catch {
                case _: InterruptedException =>
                  // task cancellation — restore the flag, stop retrying
                  Thread.currentThread().interrupt(); done = true; false
                case _: java.io.IOException => true
              }
            if (!done && retriable && attempt < maxA)
              try Thread.sleep(backoff * attempt)
              catch { case _: InterruptedException =>
                Thread.currentThread().interrupt(); done = true }
            else if (!retriable) done = true
          }
          (id, body)
        }
      }
      .toDF("id_employee", "__body")
    bodies
      .select(col("id_employee"),
        from_json(col("__body"), HttpDistanceProvider.responseSchema).as("r"))
      .select(col("id_employee"),
        col("r.rows").getItem(0).getField("elements").getItem(0)
          .getField("distance").getField("value")
          .cast(IntegerType).as("distance_m"),
        col("r.rows").getItem(0).getField("elements").getItem(0)
          .getField("duration").getField("value")
          .cast(IntegerType).as("duration_s"))
  }
}

/** Live [[CommentAlerts.AlertSink]]: POSTs the reference's Slack
  * message shape (`slack_notification.py:63-72` — `text` = author line,
  * one attachment with `pretext`/`text`/`color`) to the configured
  * webhook, one client per `deliver` call (= per partition-task, the
  * AlertSink contract). A non-2xx response or I/O failure on one alert
  * does not stop the rest of the batch; once every alert was tried,
  * `deliver` throws naming how many failed. That fails the task and so
  * the micro-batch, which the stream then retries: delivery is
  * at-least-once (alerts that did get through are posted again). An
  * interrupt (task cancellation) keeps the thread's flag set and skips
  * the alerts not yet sent, which count as failed.
  */
final class HttpWebhookSink(
    webhookUrl: String,
    timeoutMs: Long = 10000L) extends CommentAlerts.AlertSink {

  override def deliver(batch: Seq[CommentAlerts.Alert]): Unit = {
    val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(timeoutMs)).build()
    val failed = batch.count { a =>
      val payload =
        s"""{"text":"${Http.jsonEscape(a.author)}","attachments":[""" +
          s"""{"pretext":"${Http.jsonEscape(a.pretext)}",""" +
          s""""text":"${Http.jsonEscape(a.text)}","color":"#36a64f"}]}"""
      Thread.currentThread().isInterrupted || (try {
        val req = HttpRequest.newBuilder(java.net.URI.create(webhookUrl))
          .timeout(Duration.ofMillis(timeoutMs))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(payload)).build()
        client.send(req, HttpResponse.BodyHandlers.ofString())
          .statusCode() / 100 != 2
      } catch {
        case _: InterruptedException =>
          Thread.currentThread().interrupt(); true
        case _: java.io.IOException => true
      })
    }
    if (failed > 0)
      throw new java.io.IOException(
        s"webhook delivery failed for $failed of ${batch.size} alerts")
  }
}
