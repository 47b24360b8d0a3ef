package perfbench

import graft.{SparkEntry, Tables}
import scala.collection.mutable.ArrayBuffer

/** `operators`: the operator inventory in-process, one thread, no server.
  * A pass runs a fixed list of `SparkEntry.queries` entries, each built
  * and then forced by collecting its result:
  *
  *  - `p16_knn_ivf`: IVF search. Its build fits the k-means cells and the
  *    two-level super-cells (driver-paced iterative fits) and ranks cells
  *    with the fused `top_cells` kernel;
  *  - `p32_semdedup`: a second consumer of the fitted cells, through the
  *    fused nearest-cell kernel;
  *  - `p03_dedup_minhash_lsh`: shingle staging plus a MinHash/LSH dedup,
  *    the shuffle-heavy shape.
  *
  * Staged fronts: the engine stages shared fronts (shingles, fitted cells)
  * once per JVM and staging root. Each pass points `graft.shingleStageDir`
  * at a fresh directory, so every pass re-runs those fits inside its timed
  * region; a pass that only read cached fronts would hide them.
  *
  * Set-up ends with an untimed warm-up pass; its answers are the
  * reference every timed pass must match by row count and hash. */
final class Operators(seed: Long) {
  import Operators.EntryRun

  val Entries = Seq("p16_knn_ivf", "p32_semdedup", "p03_dedup_minhash_lsh")
  /** Corpus sizes: a tenth of GenTestData's sf0.1 documents and vectors. */
  private val nDocs = 5000L
  private val nVecs = 2000L
  private val loadReps = 2

  def run(env: Env): Metrics.Result = {
    val spark = env.spark
    val data = java.nio.file.Files.createDirectories(env.work.resolve("ops_data"))
    val f = new Fixtures(spark, seed)
    f.write(f.documents(nDocs), data, "documents.parquet", files = 2)
    f.write(f.embeddings(nVecs), data, "embeddings.parquet", files = 2)
    val dir = data.toString

    // set-up: read every input through the engine's loader, then warm up
    val loadS = (1 to loadReps).map { _ =>
      val t0 = System.nanoTime()
      Seq("documents", "embeddings").foreach(t => Tables.load(spark, dir, t).count())
      (System.nanoTime() - t0) / 1e9
    }
    val stageRoot = env.work.resolve("ops_stage")
    val reference = scala.collection.mutable.Map.empty[String, Answers.Digest]
    val runs = ArrayBuffer.empty[EntryRun]

    /** One pass; the warm-up (`record` false) only sets the reference. */
    def pass(idx: Int, record: Boolean): Unit = {
      val stage = stageRoot.resolve(s"pass_$idx")
      sys.props("graft.shingleStageDir") = stage.toString
      try {
        Entries.foreach { name =>
          val a = Clock.nowMs()
          val (ok, built, rows) = try {
            val df = SparkEntry.queries(name)(spark, dir)
            val b = Clock.nowMs()
            val got = Answers.digest(df.collect().toSeq.map(_.toSeq))
            val ok = reference.getOrElseUpdate(name, got) == got
            if (!ok) env.log(s"$name pass $idx: $got differs from the warm-up pass ${reference(name)}")
            (ok, b, got.rows.toLong)
          } catch {
            case e: Throwable => env.log(s"$name failed: $e"); (false, Clock.nowMs(), 0L)
          }
          if (record) runs += EntryRun(name, a, built, Clock.nowMs(), rows, ok)
        }
      } finally {
        sys.props.remove("graft.shingleStageDir")
        Harness.deleteTree(stage)
      }
    }

    val tw = System.nanoTime()
    pass(0, record = false)
    val warmupS = (System.nanoTime() - tw) / 1e9
    env.log(f"warmed up in $warmupS%.2f s")

    val probe = if (env.trace) Some(new EngineProbe) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p); spark.listenerManager.register(p)
      TraceHooks.probe = p
    }
    env.sentinels.probe()
    // whole passes: one at least, then another only while half the last
    // pass's time still fits. Traced runs alternate the probe on and off
    // (so they run two at least); the difference is the tracing overhead.
    val passes = ArrayBuffer.empty[(Double, Double)]
    val tracedPass = ArrayBuffer.empty[Boolean]
    val t0 = Clock.nowMs()
    val deadline = t0 + env.seconds * 1000.0
    var lastPass = 0.0
    val minPasses = if (env.trace) 2 else 1
    while (passes.size < minPasses || Clock.nowMs() + lastPass / 2 < deadline) {
      val on = passes.size % 2 == 0
      probe.foreach(_.enabled = on)
      val ps = Clock.nowMs()
      pass(passes.size + 1, record = true)
      lastPass = Clock.nowMs() - ps
      passes += ((ps, Clock.nowMs()))
      tracedPass += on
      env.sentinels.probe()
    }
    val wallS = (Clock.nowMs() - t0) / 1000.0
    env.log("measured")
    val heap = Harness.heapAfterGcMb()

    val stmts = runs.map(r => Sample(r.name, "inprocess", r.start, r.end, r.ok, r.rows, 0, 0,
      traced = false)).toSeq
    val failed = stmts.count(!_.ok).toLong
    val attempted = stmts.size.toLong
    val passS = passes.map { case (a, b) => (b - a) / 1000.0 }.toSeq
    val tail = Stats.tail(stmts.map(_.ms))
    val detail = Map[String, Any]("passes" -> passes.size, "entries" -> Entries,
      "load_s" -> loadS, "warmup_s" -> warmupS, "pass_s_all" -> passS,
      "failed_frac" -> failed.toDouble / attempted,
      "stmt_tail_percentile" -> tail.percentile, "stmt_tail_n" -> tail.n,
      "entry_p50_ms" -> Entries.map(n => n -> Stats.median(stmts.filter(_.cls == n).map(_.ms))).toMap)
    probe match {
      case None =>
        val metrics = Map(
          "setup_s" -> (env.sparkStartS + Stats.median(loadS) + warmupS),
          "stmt_p50_ms" -> Stats.median(stmts.map(_.ms)),
          "stmt_tail_ms" -> tail.value,
          "stmts_per_s" -> stmts.size / wallS,
          "pass_s" -> Stats.median(passS),
          "heap_after_gc_mb" -> heap)
        Metrics.Result(attempted, failed, metrics, detail)
      case Some(p) =>
        p.drain()
        spark.sparkContext.removeSparkListener(p)
        spark.listenerManager.unregister(p)
        TraceHooks.probe = null
        val on = passes.indices.filter(tracedPass)
        val off = passes.indices.filterNot(tracedPass)
        val overhead = Stats.median(on.map(passS)) - Stats.median(off.map(passS))
        Metrics.Result(attempted, failed, traceMetrics(env, p, runs.toSeq, on.map(passes)) ++ Map("trace.overhead_ms" -> overhead * 1000,
          "trace.overhead_pct" -> 100 * overhead / Stats.median(off.map(passS))), detail)
    }
  }

  /** Per-layer figures over the traced passes: per pass for the `queries`
    * layer, per statement for Catalyst and Spark. */
  private def traceMetrics(env: Env, p: EngineProbe, runs: Seq[EntryRun],
      passes: Seq[(Double, Double)]): Map[String, Double] = {
    val passShares = EngineShare.attribute(p, passes.toIndexedSeq)
    val byPass = passes.map { case (a, b) => runs.filter(r => r.start >= a && r.end <= b) }
    def med(f: Int => Double) = Stats.median(passes.indices.map(f))
    val tracedRuns = byPass.flatten
    val entryShares = EngineShare.attribute(p, tracedRuns.map(r => (r.start, r.end)).toIndexedSeq)
    EngineShare.perStatement(entryShares) ++ Map(
      "queries.build_ms" -> med(i => byPass(i).map(r => r.built - r.start).sum),
      "queries.action_ms" -> med(i => byPass(i).map(r => r.end - r.built).sum),
      "queries.jobs" -> med(i => passShares(i).jobs.size.toDouble),
      "queries.tasks" -> med(i => passShares(i).tasks.size.toDouble),
      "queries.executor_run_ms" -> med(i => passShares(i).runMs),
      "queries.gc_ms" -> med(i => passShares(i).gcMs),
      "queries.shuffle_mb" -> med(i => passShares(i).shuffleMb),
      "queries.serial_frac" -> med { i =>
        val wall = passes(i)._2 - passes(i)._1
        1.0 - passShares(i).runMs / (env.cores * wall)
      })
  }
}

object Operators {
  private final case class EntryRun(name: String, start: Double, built: Double, end: Double,
      rows: Long, ok: Boolean)
}
