package perfbench

import java.math.BigDecimal
import scala.collection.mutable

/** `ci_write`: one session changing a few rows of a fixed 20k-row table
  * per round, alternating protocols by round. Every write rewrites the
  * table (copy-on-write), records a time-travel version and, inside a
  * transaction, a snapshot, so the storage paths dominate.
  *
  * Keys: the base rows are 0..19999. Round r creates its rows in the block
  * [Block + r * 100, Block + r * 100 + 10) (4 by INSERT, 2 by MERGE, 4 by
  * COPY) and deletes the block of round r - Lag; the fixture carries the
  * blocks of rounds -Lag..-1, so the table stays at 20000 + 10 * Lag rows.
  * Answers are checked against the benchmark's own model of the table. */
final class CiWrite(seed: Long) extends WireWorkload("ci_write") {
  import CiWrite._

  /** key -> (customer, status, price): the model of the table. */
  final class State(val rows: mutable.LongMap[(Long, String, BigDecimal)]) {
    /** Rounds generated so far; a round is generated once and replayed. */
    val rounds = mutable.Map.empty[Int, Seq[Stmt]]
  }

  val tables = Seq("wt")

  def generate(env: Env): Unit = {
    val f = new Fixtures(env.spark, seed)
    import org.apache.spark.sql.functions._
    val base = f.orders(BaseRows, 1500L).select(col("o_orderkey").as("k"),
      col("o_custkey").as("c"), col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"))
    val blocks = env.spark.range(-Lag, 0).crossJoin(env.spark.range(RowsPerRound).toDF("j"))
      .select((lit(Block) + col("id") * 100 + col("j")).as("k"), lit(0L).as("c"),
        lit("S").as("status"), lit(new BigDecimal("1.00")).cast("decimal(12,2)").as("price"))
    f.write(base.unionByName(blocks), env.fixtureDir, "wt")
  }

  def fresh(env: Env, emu: Emu): State = {
    val m = mutable.LongMap.empty[(Long, String, BigDecimal)]
    env.spark.read.parquet(env.fixtureDir.resolve("wt").toString).collect().foreach { r =>
      m(r.getAs[Long]("k")) = (r.getAs[Long]("c"), r.getAs[String]("status"),
        r.getAs[BigDecimal]("price"))
    }
    new State(m)
  }

  private def money(rng: java.util.Random): BigDecimal =
    BigDecimal.valueOf(100 + rng.nextInt(9999900).toLong, 2)

  def round(st: State, r: Int): Seq[Stmt] = st.rounds.getOrElseUpdate(r, generateRound(st, r))

  /** The statements of round r, applying their effects to the model as
    * the expected state after each one. */
  private def generateRound(st: State, r: Int): Seq[Stmt] = {
    val rng = new java.util.Random(seed * 1000003L + r)
    val m = st.rows
    val blk = Block + r * 100L
    def baseKey() = (rng.nextDouble() * BaseRows).toLong
    def row(k: Long) = m(k)
    def rowSql(k: Long) = { val (c, s, p) = row(k); s"($k, $c, '$s', $p)" }
    val out = Seq.newBuilder[Stmt]
    // the connection checks a CI suite sends between its steps
    def ping() = out += Stmt("select1", "SELECT 1", Expect.rows(Seq(Seq(1))))
    ping()

    val ins = (0 until 4).map(j => blk + j)
    ins.foreach(k => m(k) = (rng.nextInt(1500).toLong, "I", money(rng)))
    out += Stmt("insert", s"INSERT INTO wt (k, c, status, price) VALUES ${ins.map(rowSql).mkString(", ")}",
      Expect.Affected(ins.size))

    val uk = baseKey()
    val delta = BigDecimal.valueOf(1 + rng.nextInt(999).toLong, 2)
    m(uk) = row(uk).copy(_3 = row(uk)._3.add(delta))
    out += Stmt("update", s"UPDATE wt SET price = price + $delta WHERE k = $uk", Expect.Affected(1))

    val dlo = blk - Lag * 100L
    val gone = m.keys.filter(k => k >= dlo && k < dlo + 100).toSeq
    gone.foreach(m.remove)
    out += Stmt("delete", s"DELETE FROM wt WHERE k >= $dlo AND k < ${dlo + 100}",
      Expect.Affected(gone.size))

    ping()
    val matched = Seq(baseKey(), baseKey()).distinct
    val created = Seq(blk + 4, blk + 5)
    val src = (matched ++ created).map(k => k -> money(rng))
    src.foreach { case (k, p) =>
      m(k) = if (m.contains(k)) row(k).copy(_3 = p) else (0L, "M", p)
    }
    out += Stmt("merge",
      "MERGE INTO wt t USING (SELECT * FROM VALUES " +
        src.map { case (k, p) => s"($k, $p)" }.mkString(", ") + " AS s(k, price)) s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET price = s.price " +
        "WHEN NOT MATCHED THEN INSERT (k, c, status, price) VALUES (s.k, 0, 'M', s.price)",
      Expect.Affected(src.size))

    val copied = (6 until 10).map(j => blk + j)
    copied.foreach(k => m(k) = (rng.nextInt(1500).toLong, "C", money(rng)))
    val csv = copied.map { k => val (c, s, p) = row(k); s"$k,$c,$s,$p\n" }.mkString
    out += Stmt("copy", s"COPY INTO wt FROM @WCSV/r$r FILE_FORMAT = (TYPE = CSV)",
      Expect.Affected(copied.size),
      before = emu => { emu.server.executor.stages.put("WCSV", s"r$r/rows.csv", csv.getBytes("UTF-8")); () })

    val tk = baseKey()
    val status = s"T${r % 10}"
    m(tk) = row(tk).copy(_2 = status)
    out += Stmt("begin", "BEGIN", Expect.Success)
    out += Stmt("txn_update", s"UPDATE wt SET status = '$status' WHERE k = $tk", Expect.Affected(1))
    out += Stmt("commit", "COMMIT", Expect.Success)
    ping()

    out += Stmt("readback", "SELECT COUNT(*) AS n, SUM(price) AS total FROM wt",
      Expect.rows(Seq(Seq(m.size, m.valuesIterator.map(_._3).foldLeft(BigDecimal.ZERO)(_ add _)))))
    // read back the rows this round's UPDATE, MERGE and transaction changed
    Seq(uk, matched.head, tk).foreach { pk =>
      val (pc, ps, pp) = row(pk)
      out += Stmt("point", "SELECT k, c, status, price FROM wt WHERE k = ?",
        Expect.rows(Seq(Seq(pk, pc, ps, pp))), Seq("FIXED" -> pk.toString))
    }
    ping()
    out.result()
  }
}

object CiWrite {
  val BaseRows = 20000L
  val Block = 1000000000L
  val RowsPerRound = 10L
  /** Rounds between creating a block and deleting it. */
  val Lag = 2L
}
