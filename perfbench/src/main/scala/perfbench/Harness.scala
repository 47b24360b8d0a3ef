package perfbench

import graft.emulator.{Bindings, Executor}
import graft.server.EmulatorServer
import java.nio.file.{Files, Path => FsPath}
import org.apache.spark.sql.SparkSession

/** What a correct answer to a statement looks like. */
sealed trait Expect
object Expect {
  /** The full result, compared by row count and order-insensitive hash. */
  final case class Rows(digest: Answers.Digest) extends Expect
  /** The number of rows a write statement reports it changed. */
  final case class Affected(n: Long) extends Expect
  /** Transaction control: success is the whole answer. */
  case object Success extends Expect

  def rows(rows: Iterable[Seq[Any]]): Expect = Rows(Answers.digest(rows))

  def holds(e: Expect, r: Reply): Boolean = e match {
    case Rows(d) => Answers.digest(r.rows) == d
    case Affected(n) => r.affected == n
    case Success => true
  }
}

/** One statement as a client sends it: its class, text, positional
  * bindings as (type, value), the expected answer, and an untimed action
  * to run before it (staging a file, as a client uploads before COPY). */
final case class Stmt(cls: String, sql: String, expect: Expect,
    binds: Seq[(String, String)] = Nil, before: Emu => Unit = _ => ()) {
  /** The bindings as the executor takes them, keyed by 1-based position. */
  def bindings: Map[String, Bindings.Binding] = binds.zipWithIndex.map { case ((t, v), i) =>
    (i + 1).toString -> Bindings.Binding(t, v)
  }.toMap
}

/** One executed statement. Times are epoch ms (see [[Clock]]). */
final case class Sample(cls: String, path: String, start: Double, end: Double,
    ok: Boolean, rows: Long, bytes: Long, affected: Long, traced: Boolean) {
  def ms: Double = end - start
}

/** Everything a workload needs from the process. */
final class Env(val spark: SparkSession, val work: FsPath, val seed: Long,
    val seconds: Int, val trace: Boolean, val cores: Int,
    val sentinels: Sentinels, val sparkStartS: Double) {
  val stageRoot: FsPath = Files.createDirectories(work.resolve("stages"))
  val fixtureDir: FsPath = Files.createDirectories(stageRoot.resolve("FIX"))
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s] $msg")
}

/** One emulator instance (catalog, executor, HTTP server) serving one
  * database, as a CI job would start it. */
final class Emu(env: Env, val db: String) {
  val server: EmulatorServer = EmulatorServer(env.spark, 0, env.stageRoot)
  server.start()
  val client = new WireClient(server.actualPort)
  private val admin = client.login(db, "PUBLIC", "perfbench-admin")

  def sql(s: String): Reply = client.gosnowflake(admin, s, Nil)

  /** Create a fixture table and fill it from the staged parquet by COPY. */
  def load(table: String): Unit = {
    sql(s"CREATE OR REPLACE TABLE $table (${Fixtures.Ddl(table)})")
    sql(s"COPY INTO $table FROM @FIX/$table FILE_FORMAT = (TYPE = PARQUET)")
    ()
  }

  def path(protocol: String, user: String): Path = protocol match {
    case "gosnowflake" => new Path.Gosnowflake(this, client.login(db, "PUBLIC", user))
    case "restv2" => new Path.RestV2(this, client.login(db, "PUBLIC", user))
    case "inprocess" => new Path.InProcess(this, s"inproc-$user")
  }

  def close(): Unit = {
    server.stop()
    server.executor.catalog.dropDatabase(db, ifExists = true)
  }
}

/** A way of sending statements: over one of the two wire protocols, or
  * straight into the emulator's executor with no HTTP at all. */
trait Path {
  def name: String
  def exec(s: Stmt): Reply
}

object Path {
  final class Gosnowflake(emu: Emu, token: String) extends Path {
    val name = "gosnowflake"
    def exec(s: Stmt): Reply = emu.client.gosnowflake(token, s.sql, s.binds)
  }
  final class RestV2(emu: Emu, token: String) extends Path {
    val name = "restv2"
    def exec(s: Stmt): Reply = emu.client.restV2(token, emu.db, "PUBLIC", s.sql, s.binds)
  }
  final class InProcess(emu: Emu, sessionId: String) extends Path {
    val name = "inprocess"
    private val ctx = Executor.Context(sessionId, emu.db, "PUBLIC")
    def exec(s: Stmt): Reply = {
      val r = emu.server.executor.execute(ctx, s.sql, s.bindings)
      Reply(r.rows, r.rowsAffected.getOrElse(r.rows.size.toLong), 0L)
    }
  }
}

object Harness {
  /** Send one statement, time the round trip and check the answer. The
    * check runs after the clock stops. A failure is recorded, not thrown:
    * the run goes on and the failure counts against it. */
  def run(p: Path, s: Stmt, emu: Emu, traced: Boolean, log: String => Unit): Sample = {
    s.before(emu)
    val t0 = Clock.nowMs()
    val reply = try Right(p.exec(s)) catch { case e: Throwable => Left(e) }
    val t1 = Clock.nowMs()
    reply match {
      case Right(r) =>
        val ok = Expect.holds(s.expect, r)
        if (!ok) log(s"wrong answer (${s.cls} via ${p.name}): ${s.sql.take(160)} -> " +
          r.rows.take(3).map(_.mkString("|")).mkString("; ") + s" affected=${r.affected}")
        Sample(s.cls, p.name, t0, t1, ok, r.rows.size.toLong, r.responseBytes, r.affected, traced)
      case Left(e) =>
        log(s"failed (${s.cls} via ${p.name}): ${s.sql.take(160)} -> ${e.getMessage}")
        Sample(s.cls, p.name, t0, t1, ok = false, 0L, 0L, 0L, traced)
    }
  }

  /** Driver heap in use after a full collection, in MiB. */
  def heapAfterGcMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes under a directory tree (0 when absent). */
  def dirBytes(p: FsPath): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var total = 0L
        s.forEach(f => if (Files.isRegularFile(f)) total += Files.size(f))
        total
      } finally s.close()
    }

  def deleteTree(p: FsPath): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
