package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** What a client got back for one statement. */
final case class Reply(rows: Seq[Seq[Any]], affected: Long, responseBytes: Long)

/** A minimal client of the emulator's two wire protocols: the gosnowflake
  * driver protocol (`/queries/v1/query-request`, every value a string) and
  * the SQL REST API v2 (`/api/v2/statements`, typed JSON). Each request is
  * one blocking round trip, the way a CI test waits for its answer. */
final class WireClient(port: Int) {
  private val base = s"http://127.0.0.1:$port"
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()

  private def post(path: String, body: String, token: Option[String]): (JsonNode, Long) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
    token.foreach(t => b.header("Authorization", s"""Snowflake Token="$t""""))
    val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    (mapper.readTree(resp.body()), resp.body().length.toLong)
  }

  /** Open a session; REST v2 calls that carry its token run under it, so
    * session state such as LAST_QUERY_ID() carries across both protocols. */
  def login(database: String, schema: String, user: String): String = {
    val (r, _) = post(s"/session/v1/login-request?databaseName=$database&schemaName=$schema",
      s"""{"data":{"LOGIN_NAME":"$user","PASSWORD":"x"}}""", None)
    if (!r.path("success").asBoolean(false)) throw new IllegalStateException(s"login failed: $r")
    r.get("data").get("token").asText()
  }

  private def bindingsJson(binds: Seq[(String, String)]): String =
    binds.zipWithIndex.map { case ((tpe, v), i) =>
      s""""${i + 1}":{"type":"$tpe","value":${mapper.writeValueAsString(v)}}"""
    }.mkString("{", ",", "}")

  def gosnowflake(token: String, sql: String, binds: Seq[(String, String)]): Reply = {
    val body = s"""{"sqlText":${mapper.writeValueAsString(sql)},"bindings":${bindingsJson(binds)}}"""
    val (r, bytes) = post("/queries/v1/query-request", body, Some(token))
    if (!r.path("success").asBoolean(false))
      throw new IllegalStateException(s"gosnowflake error: ${r.path("message").asText()}")
    val d = r.get("data")
    val rows = Seq.newBuilder[Seq[Any]]
    val it = d.get("rowset").elements()
    while (it.hasNext) {
      val row = it.next()
      rows += (0 until row.size()).map { i =>
        val v = row.get(i); if (v.isNull) null else v.asText()
      }
    }
    Reply(rows.result(), d.path("total").asLong(0L), bytes)
  }

  def restV2(token: String, database: String, schema: String, sql: String,
      binds: Seq[(String, String)]): Reply = {
    val body = s"""{"statement":${mapper.writeValueAsString(sql)},"database":"$database",""" +
      s""""schema":"$schema","bindings":${bindingsJson(binds)}}"""
    val (r, bytes) = post("/api/v2/statements", body, Some(token))
    if (r.path("code").asText() != "090001")
      throw new IllegalStateException(s"REST v2 error: ${r.path("message").asText()}")
    val rows = Seq.newBuilder[Seq[Any]]
    val it = r.path("data").elements()
    while (it.hasNext) {
      val row = it.next()
      rows += (0 until row.size()).map { i =>
        val v = row.get(i)
        if (v.isNull) null else if (v.isNumber) v.decimalValue() else v.asText()
      }
    }
    Reply(rows.result(), r.path("resultSetMetaData").path("numRows").asLong(0L), bytes)
  }
}
