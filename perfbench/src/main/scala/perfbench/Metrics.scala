package perfbench

/** Metric names and the result of one run. Every workload reports every
  * name: a layer or statement class that a workload does not exercise
  * reads 0 there (no such statement ran, no time was spent in that
  * layer). */
object Metrics {
  /** End-to-end metrics with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "stmt_p50_ms" -> "ms", "stmt_tail_ms" -> "ms",
    "stmts_per_s" -> "1/s", "pass_s" -> "s",
    "heap_after_gc_mb" -> "MiB")

  /** Statement classes broken out per layer: those of `ci_write`. */
  val Classes = Seq("select1", "point", "insert", "update", "delete", "merge", "copy",
    "begin", "txn_update", "commit", "readback")
  /** Classes that change table content. */
  val StorageClasses = Seq("insert", "update", "delete", "merge", "copy", "txn_update")

  private val classFamilies = Seq("emulator.execute_ms." -> "ms", "emulator.self_ms." -> "ms",
    "spark.jobs_per_stmt." -> "count")

  /** Per-layer metrics with their units. */
  val PerLayer: Seq[(String, String)] =
    Seq("server.wire_ms.gosnowflake" -> "ms", "server.wire_ms.restv2" -> "ms",
      "server.wire_ms.select1" -> "ms", "server.response_bytes_per_row" -> "B") ++
      classFamilies.flatMap { case (f, unit) => Classes.map(c => s"$f$c" -> unit) } ++
      Seq("emulator.classify_us" -> "us", "emulator.bind_us" -> "us",
        "emulator.naming_us" -> "us", "emulator.history_us" -> "us",
        "catalyst.parse_ms" -> "ms", "catalyst.analyze_ms" -> "ms",
        "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
        "catalyst.plans_per_stmt" -> "count",
        "spark.tasks_per_stmt" -> "count", "spark.action_ms" -> "ms",
        "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
        "spark.gc_ms" -> "ms", "spark.shuffle_mb" -> "MiB") ++
      StorageClasses.map(c => s"storage.rows_written_per_row_changed.$c" -> "count") ++
      StorageClasses.map(c => s"storage.bytes_written_per_stmt.$c" -> "B") ++
      Seq("queries.build_ms" -> "ms", "queries.action_ms" -> "ms",
        "queries.jobs" -> "count", "queries.tasks" -> "count",
        "queries.executor_run_ms" -> "ms", "queries.gc_ms" -> "ms",
        "queries.shuffle_mb" -> "MiB", "queries.serial_frac" -> "fraction",
        "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%")

  /** Outcome of one run: the contract's four fields plus a detail object
    * for humans (seed, sentinels, class breakdowns, tail percentile). */
  final case class Result(attempted: Long, failed: Long, metrics: Map[String, Double],
      detail: Map[String, Any])

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => jsonValue(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"\"$k\":${jsonValue(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(jsonValue).mkString("[", ",", "]")
    case other => "\"" + other.toString.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  }

  def toJson(r: Result, trace: Boolean): String = {
    val names = if (trace) PerLayer else EndToEnd
    val ms = names.map { case (n, unit) =>
      s""""$n":{"value":${jsonValue(r.metrics.getOrElse(n, 0.0))},"unit":"$unit"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":$ms,"detail":${jsonValue(r.detail)}}"""
  }
}
