package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded fixture tables. Every value is an `xxhash64(id, salt, seed)`
  * function of the row id, so one seed gives the same tables at any
  * partitioning, and another seed gives other keys, prices and texts. The
  * value domains follow `graft.GenTestData` (TPC-H orders, the 30-word
  * document vocabulary, 64-dim unit embeddings); money
  * columns are DECIMAL so sums are exact and answers can be compared
  * digit for digit. */
final class Fixtures(spark: SparkSession, seed: Long) {

  private def h(cols: String*): Column =
    expr(s"xxhash64(${cols.mkString(", ")}, ${seed}L)")
  private def ui(salt: Int, n: Long, id: String = "id"): Column =
    pmod(h(id, salt.toString), lit(n)).cast("int")
  private def money(salt: Int, lo: Double, span: Long, id: String = "id"): Column =
    (lit(lo) + pmod(h(id, salt.toString), lit(span)) / 100.0).cast("decimal(12,2)")
  private def pick(salt: Int, values: Seq[String], id: String = "id"): Column =
    element_at(array(values.map(lit): _*), ui(salt, values.size.toLong, id) + 1)

  def orders(n: Long, nCust: Long): DataFrame = spark.range(n).select(
    col("id").as("o_orderkey"),
    pmod(h("id", "11"), lit(nCust)).as("o_custkey"),
    pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
    money(13, 1000.0, 49900000).as("o_totalprice"),
    date_add(lit(java.sql.Date.valueOf("1995-01-01")), ui(14, 2404)).as("o_orderdate"),
    pick(15, Fixtures.Priorities).as("o_orderpriority"))

  /** The operator inventory's text corpus, with GenTestData's schema. */
  def documents(n: Long): DataFrame = {
    val vocab = Fixtures.Vocab.map(w => s"'$w'").mkString(",")
    spark.range(n).select(
      col("id").as("doc_id"),
      expr(s"8 + cast(pmod(xxhash64(id, 40, ${seed}L), 103) as int)").as("len"),
      ui(41, 30).as("vw"))
      .select(
        col("doc_id"),
        when(col("doc_id") % 200 === 199,
          concat_ws(" ",
            lit((0 until 50).map(i => if (i % 5 == 0) "dup"
              else Fixtures.Vocab(i * 7 % 30)).mkString(" ")),
            element_at(array(Fixtures.Vocab.map(lit): _*), col("vw") + 1)))
          .otherwise(concat_ws(" ", expr(
            s"""transform(sequence(0, len - 1),
                 i -> element_at(array($vocab), cast(pmod(xxhash64(doc_id, i, 42, ${seed}L), 30) as int) + 1))""")))
          .as("text"),
        pick(43, Seq("en", "en", "en", "zh", "es", "fr", "de"), "doc_id").as("lang"),
        concat(lit("src"), ui(44, 20, "doc_id")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim unit-norm embeddings, GenTestData's schema. */
  def embeddings(n: Long): DataFrame = spark.range(n).select(
    col("id").as("vec_id"),
    expr(s"transform(sequence(0, 63), j -> pmod(xxhash64(id, j, 60, ${seed}L), 2000001) / 1000000.0 - 1.0)")
      .as("raw"),
    ui(61, 10).as("label"))
    .withColumn("nrm", expr("sqrt(aggregate(raw, 0.0D, (acc, x) -> acc + x * x))"))
    .select(col("vec_id"), expr("transform(raw, x -> cast(x / nrm as float))").as("embedding"),
      col("label"))

  /** Write a table as parquet under `dir/name` (`files` output files). */
  def write(df: DataFrame, dir: java.nio.file.Path, name: String, files: Int = 1): Unit =
    df.coalesce(files).write.mode("overwrite").parquet(dir.resolve(name).toString)
}

object Fixtures {
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "the", "row", "agg", "key", "query", "a", "scan", "batch")

  /** Snowflake DDL for the tables loaded through the emulator, in column
    * order. */
  val Ddl: Map[String, String] = Map(
    "wt" -> "k NUMBER(19,0), c NUMBER(19,0), status VARCHAR, price NUMBER(12,2)")
}
