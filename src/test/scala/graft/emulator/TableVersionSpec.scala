package graft.emulator

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import graft.stage.StageManager

/** Table versions as the only storage mechanism: every write statement
  * writes its table at most once, every holder (time travel, streams,
  * transactions, drop retention) reads back exactly the version it took,
  * and version directories are deleted once nothing holds them. */
class TableVersionSpec extends AnyFunSuite {

  private lazy val spark = graft.GraftSession.local(4)
  private lazy val executor = {
    val e = new Executor(new Catalog(spark),
      new StageManager(Files.createTempDirectory("graft_stages")),
      new WarehouseManager(), new QueryHistory())
    e.catalog.createDatabase("TV_DB")
    e
  }
  private val ctx = Executor.Context("tv-sess", "TV_DB", "PUBLIC")
  private def exec(sql: String) = executor.execute(ctx, sql)
  private def rows(sql: String): Seq[String] =
    exec(sql).rows.map(_.mkString(":"))
  private def count(table: String): Long =
    exec(s"SELECT COUNT(*) AS n FROM $table").rows.head.head.asInstanceOf[Long]
  private def ref(table: String) = TableNaming.parse(table, "TV_DB", "PUBLIC")

  /** Output records of the jobs one statement runs, told apart from
    * concurrent suites by a job group. Listener delivery is asynchronous
    * but ordered, so a marker job run after the statement bounds it. */
  private final class WriteProbe(group: String) extends SparkListener {
    val written = new AtomicLong
    val markerDone = new CountDownLatch(1)
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    private val markers = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
        e.stageIds.foreach(stages.add)
        if (e.properties.getProperty("graft.test.marker") != null) markers.add(e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markers.contains(e.jobId)) markerDone.countDown()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId) && e.taskMetrics != null)
        written.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
  }

  private def rowsWritten(sql: String): Long = {
    val sc = spark.sparkContext
    val group = s"tv-${java.util.UUID.randomUUID()}"
    val probe = new WriteProbe(group)
    sc.addSparkListener(probe)
    sc.setJobGroup(group, sql)
    try {
      exec(sql)
      sc.setLocalProperty("graft.test.marker", "1")
      sc.parallelize(Seq(1), 1).count()
      assert(probe.markerDone.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      probe.written.get
    } finally {
      sc.setLocalProperty("graft.test.marker", null)
      sc.clearJobGroup()
      sc.removeSparkListener(probe)
    }
  }

  private def values(keys: Range): String = keys.map(k => s"($k, 'v$k')").mkString(", ")

  test("UPDATE, DELETE and MERGE write the table once; INSERT and COPY only the new rows") {
    exec("CREATE TABLE w1 (k INTEGER, v VARCHAR(10))")
    assert(rowsWritten(s"INSERT INTO w1 VALUES ${values(1 to 200)}") == 200L)
    assert(rowsWritten("INSERT INTO w1 VALUES (201, 'a'), (202, 'b')") == 2L)
    assert(rowsWritten("UPDATE w1 SET v = 'u' WHERE k = 5") == count("w1"))
    assert(rowsWritten("DELETE FROM w1 WHERE k <= 10") == count("w1"))
    assert(rowsWritten(
      """MERGE INTO w1 t USING (SELECT * FROM VALUES (20, 'm'), (21, 'm'), (5000, 'n')
        |AS s(k, v)) s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin) == count("w1"))
    exec("CREATE STAGE tv_stage")
    Files.writeString(executor.stages.stageDir("TV_STAGE").resolve("rows.csv"),
      "6001,c1\n6002,c2\n6003,c3\n")
    assert(rowsWritten("COPY INTO w1 FROM @tv_stage FILE_FORMAT = (TYPE = CSV)") == 3L)
    exec("BEGIN")
    assert(rowsWritten("UPDATE w1 SET v = 't' WHERE k = 30") == count("w1"))
    exec("COMMIT")
    assert(count("w1") == 196L)
    // a clustered table is written bucketed, still once
    exec("CREATE TABLE w2 (k INTEGER, v VARCHAR(10)) CLUSTER BY (k)")
    exec(s"INSERT INTO w2 VALUES ${values(1 to 50)}")
    assert(rowsWritten("UPDATE w2 SET v = 'u' WHERE k = 7") == 50L)
    assert(rows("SELECT v FROM w2 WHERE k = 7") == Seq("u"))
  }

  test("reads stay exact across append -> overwrite -> append") {
    exec("CREATE TABLE h (k INTEGER, v VARCHAR(10))")
    exec("CREATE STREAM h_st ON TABLE h")
    val a1 = exec("INSERT INTO h VALUES (1, 'a'), (2, 'b')").queryId
    val o1 = exec("UPDATE h SET v = 'B' WHERE k = 2").queryId
    val a2 = exec("INSERT INTO h VALUES (3, 'c')").queryId
    def at(kind: String, table: String, q: String) =
      rows(s"SELECT * FROM $table $kind(STATEMENT => '$q') ORDER BY k")
    assert(at("AT", "h", a1) == Seq("1:a", "2:b"))
    assert(at("BEFORE", "h", o1) == Seq("1:a", "2:b"))
    // the append after the overwrite landed in the same directory as o1's
    // files; o1's version lists its own files only
    assert(at("AT", "h", o1) == Seq("1:a", "2:B"))
    assert(at("AT", "h", a2) == Seq("1:a", "2:B", "3:c"))
    assert(at("BEFORE", "h", a2) == at("AT", "h", o1))

    // stream deltas against a baseline taken before all three writes
    val delta = """SELECT k, v, "METADATA$ACTION" FROM h_st ORDER BY k"""
    assert(rows(delta) == Seq("1:a:INSERT", "2:B:INSERT", "3:c:INSERT"))
    exec("CREATE TABLE h_sink (k INTEGER, v VARCHAR(10))")
    exec("INSERT INTO h_sink SELECT k, v FROM h_st")
    assert(count("h_sink") == 3L && count("h_st") == 0L)
    exec("DELETE FROM h WHERE k = 1")
    exec("INSERT INTO h VALUES (4, 'd')")
    assert(rows(delta) == Seq("1:a:DELETE", "4:d:INSERT"))
    exec("DROP STREAM h_st")

    // UNDROP restores the dropped version; writes continue from it
    exec("DROP TABLE h")
    exec("UNDROP TABLE h")
    assert(rows("SELECT * FROM h ORDER BY k") == Seq("2:B", "3:c", "4:d"))
    val a3 = exec("INSERT INTO h VALUES (5, 'e')").queryId
    assert(count("h") == 4L)

    // RENAME carries the history; versions keep reading their own files
    exec("ALTER TABLE h RENAME TO h2")
    assert(at("AT", "h2", a3) == Seq("2:B", "3:c", "4:d", "5:e"))
    val o2 = exec("UPDATE h2 SET v = 'E' WHERE k = 5").queryId
    assert(at("BEFORE", "h2", o2) == at("AT", "h2", a3))

    // a version keeps the schema it was written with
    exec("ALTER TABLE h2 ADD COLUMN z INTEGER")
    exec("INSERT INTO h2 VALUES (6, 'f', 60)")
    assert(at("AT", "h2", o2) == Seq("2:B", "3:c", "4:d", "5:E"))
    assert(rows("SELECT * FROM h2 WHERE k >= 5 ORDER BY k") == Seq("5:E:null", "6:f:60"))
  }

  test("version directories stay bounded; held versions outlive ring eviction") {
    exec("CREATE TABLE b (k INTEGER, v INTEGER)")
    exec("INSERT INTO b VALUES (1, 0), (2, 0), (3, 0)")
    exec("CREATE STREAM b_st ON TABLE b")
    val root = new java.io.File(new java.net.URI(executor.catalog.version(ref("b")).dir))
      .getParentFile
    def versionDirs = root.listFiles().count(_.isDirectory)
    exec("BEGIN")
    (1 to 50).foreach(i => exec(s"UPDATE b SET v = $i WHERE k = 1"))
    // the ring's 8, one not yet swept, and the version the transaction and
    // the stream both hold
    val pinned = 2
    assert(versionDirs <= 8 + 1 + pinned, root.listFiles().map(_.getName).toSeq)
    // the stream still diffs against its baseline, 50 evictions later
    assert(rows("""SELECT k, v, "METADATA$ACTION" FROM b_st ORDER BY 3, 1""") ==
      Seq("1:0:DELETE", "1:50:INSERT"))
    // and ROLLBACK still restores from the transaction's version
    exec("ROLLBACK")
    assert(rows("SELECT * FROM b ORDER BY k") == Seq("1:0", "2:0", "3:0"))
    exec("DROP STREAM b_st")
    exec("UPDATE b SET v = 1")
    assert(versionDirs <= 8 + 1)
  }
}
