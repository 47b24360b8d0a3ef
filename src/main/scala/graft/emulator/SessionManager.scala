package graft.emulator

import java.security.SecureRandom
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Token-keyed session store (reference `pkg/session/manager.go:14-136`):
  * crypto-random token + master token, 24h TTL (master 4x), validation
  * touches expiry, renewal via master token issues a fresh pair
  * (`manager.go:205-242`), USE switches current database/schema
  * (`manager.go:162-184`). No real auth — any LOGIN_NAME/PASSWORD accepted
  * (reference `README.md:299`).
  */
final class SessionManager(ttlMillis: Long = 24L * 3600 * 1000) {

  final case class Session(
      token: String,
      masterToken: String,
      username: String,
      var database: String,
      var schema: String,
      parameters: scala.collection.concurrent.Map[String, String],
      var expiresAt: Long)

  /** Default session parameters (reference `config/constants.go:28-56`). */
  def defaultParameters: Map[String, String] = SessionManager.defaultParameters

  private val rng = new SecureRandom()
  private val byToken = new ConcurrentHashMap[String, Session]()
  private val byMaster = new ConcurrentHashMap[String, Session]()

  /** Close listeners: invoked with the session token on logout AND on
    * TTL expiry (validate() closes expired sessions). The server wires
    * the executor's per-session state release here, so session variables
    * / parameters / open transactions track the session LIFECYCLE
    * instead of a count-capped LRU. */
  private val closeListeners =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()
  def onClose(f: String => Unit): Unit = { closeListeners.add(f); () }

  /** Rename listeners: invoked with (oldToken, newToken) when renew()
    * issues a fresh token pair for the SAME logical session — session
    * variables / parameters / open transactions must follow the session,
    * not die with the retired token (Snowflake renews tokens every few
    * hours without losing session state). */
  private val renameListeners =
    new java.util.concurrent.CopyOnWriteArrayList[(String, String) => Unit]()
  def onRename(f: (String, String) => Unit): Unit = { renameListeners.add(f); () }

  private def newToken(): String = {
    val b = new Array[Byte](32)
    rng.nextBytes(b)
    Base64.getUrlEncoder.withoutPadding.encodeToString(b)
  }

  def create(username: String,
      database: String = "TEST_DB",
      schema: String = "PUBLIC"): Session = {
    val s = Session(
      token = newToken(),
      masterToken = newToken(),
      username = username,
      database = database.toUpperCase(java.util.Locale.ROOT),
      schema = schema.toUpperCase(java.util.Locale.ROOT),
      parameters = new ConcurrentHashMap[String, String](
        defaultParameters.asJava).asScala,
      expiresAt = System.currentTimeMillis() + ttlMillis)
    byToken.put(s.token, s)
    byMaster.put(s.masterToken, s)
    s
  }

  /** Validate and touch (reference `manager.go:112-136`). */
  def validate(token: String): Option[Session] =
    Option(byToken.get(token)).flatMap { s =>
      if (System.currentTimeMillis() > s.expiresAt) { close(s.token); None }
      else { s.expiresAt = System.currentTimeMillis() + ttlMillis; Some(s) }
    }

  /** Tokens are bearer credentials: log only a short prefix. */
  private def redact(token: String): String = token.take(6) + "…"

  /** Lifecycle transitions (renew, close) serialize on one lock so a
    * renew racing a TTL-expiry close cannot interleave — without it,
    * close could release the session's state BETWEEN renew's map claims
    * and its migration, handing the client a "successfully renewed"
    * session whose variables and open transaction were just destroyed.
    * These are rare control-plane ops (logins/renewals/expiries), so a
    * plain lock costs nothing on the statement hot path. */
  private val lifecycleLock = new Object

  /** Renew via master token: new token pair, same context
    * (reference `manager.go:205-242`). */
  def renew(masterToken: String): Option[Session] = lifecycleLock.synchronized {
    // atomic remove claims the renewal: of two racing renew() calls for
    // one master token, exactly one wins (the loser sees None and the
    // client retries) — a non-atomic get would mint two live sessions
    // and fire the migration twice from the same old token
    Option(byMaster.remove(masterToken)).map { old =>
      // the old access token retires WITHOUT firing close listeners —
      // this is the same logical session, so per-session state migrates
      // to the new token instead of being released
      byToken.remove(old.token)
      val s = create(old.username, old.database, old.schema)
      old.parameters.foreach { case (k, v) => s.parameters.put(k, v) }
      renameListeners.forEach { f =>
        try f(old.token, s.token)
        catch {
          case e: Exception => System.err.println(
            s"[graft] WARN: session rename listener failed for '${redact(old.token)}': $e")
        }
      }
      s
    }
  }

  def use(token: String, database: Option[String], schema: Option[String]): Option[Session] =
    validate(token).map { s =>
      database.foreach(d => s.database = d.toUpperCase(java.util.Locale.ROOT))
      schema.foreach(sc => s.schema = sc.toUpperCase(java.util.Locale.ROOT))
      s
    }

  def close(token: String): Boolean = lifecycleLock.synchronized {
    Option(byToken.remove(token)).map { s =>
      byMaster.remove(s.masterToken)
      // close runs on whatever request thread noticed the expiry: a
      // failing listener (e.g. a transaction rollback whose held version
      // was externally deleted) must neither fail that unrelated request
      // nor starve the remaining listeners
      closeListeners.forEach { f =>
        try f(token)
        catch {
          case e: Exception => System.err.println(
            s"[graft] WARN: session close listener failed for '${redact(token)}': $e")
        }
      }
      true
    }.getOrElse(false)
  }

  def activeCount: Int = byToken.size
}

object SessionManager {
  /** Default session parameters (reference `config/constants.go:28-56`) —
    * shared by login responses and `SHOW PARAMETERS`. */
  val defaultParameters: Map[String, String] = Map(
    "TIMEZONE" -> "UTC",
    "TIMESTAMP_OUTPUT_FORMAT" -> "YYYY-MM-DD HH24:MI:SS",
    "CLIENT_SESSION_KEEP_ALIVE" -> "false",
    "QUERY_TAG" -> "",
    "GO_QUERY_RESULT_FORMAT" -> "json")
}
