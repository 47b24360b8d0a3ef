package perfbench

import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM:
  *
  * {{{
  * perfbench.Main --workload ci_write --seed 7 --seconds 10 --trace 0 \
  *   --work <scratch dir> --out <result file>
  * }}}
  *
  * Spark runs `local[nproc]`. The result (see [[Metrics.toJson]]) goes to
  * `--out`; `run.py` wraps this class with the build and the output
  * contract. */
object Main {
  val Workloads = Seq("ci_write", "operators")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Files.createDirectories(Paths.get(opt("work")))
    val out = Paths.get(opt("out"))

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    // the session GraftSession.local builds, plus the tracker hook when traced
    val builder = graft.GraftSession.configure(
      org.apache.spark.sql.SparkSession.builder().master(s"local[$cores]").appName("graft"), cores)
    if (trace) builder.withExtensions(TraceHooks.inject)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sentinels = new Sentinels
    sentinels.probe(start = true)
    val env = new Env(spark, work, seed, seconds, trace, cores, sentinels, sparkStartS)
    val r = workload match {
      case "ci_write" => new CiWrite(seed).run(env)
      case "operators" => new Operators(seed).run(env)
    }
    sentinels.probe()
    val result = r.copy(detail = r.detail ++ Map("workload" -> workload, "seed" -> seed,
      "trace" -> trace, "nproc" -> cores, "spark_start_s" -> sparkStartS,
      "healthy" -> sentinels.healthy, "sentinels" -> sentinels.summary))
    Files.write(out, (Metrics.toJson(result, trace) + "\n").getBytes("UTF-8"))
    env.log("result written")
    spark.stop()
    env.log("stopped")
    // the emulator's HTTP handler pool is non-daemon
    sys.exit(0)
  }
}
