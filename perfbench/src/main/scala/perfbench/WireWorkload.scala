package perfbench

import graft.emulator.{Bindings, Classifier, QueryHistory, TableNaming}
import scala.collection.mutable.ArrayBuffer

/** A workload served by the emulator over its wire protocols: fixtures
  * loaded by stage + COPY, then closed-loop rounds of seeded statements
  * from one session, the rounds alternating between the two protocols.
  *
  * Untraced run: load the fixtures into a fresh emulator twice, warm the
  * second one up, then run whole rounds until the time is up. `setup_s`
  * is the Spark start, the median load and the warm-up.
  *
  * Traced run: phase 1 sends the rounds over the wire in units of four,
  * the engine probe off, on, on, off, so each protocol has a round in
  * both states, one protocol probed first and the other last; per
  * protocol, the difference is the tracing overhead. Phase 2 loads fresh
  * fixtures and replays the identical statements through
  * `Executor.execute` in-process with the probe on; per class, the
  * difference from the probed wire rounds is the wire's share. */
abstract class WireWorkload(val name: String) {
  type State

  /** Fixture tables, loaded by COPY in this order. */
  def tables: Seq[String]
  /** Write the seeded fixture parquet under `env.fixtureDir`. */
  def generate(env: Env): Unit
  /** A fresh model of one loaded copy of the fixtures. */
  def fresh(env: Env, emu: Emu): State
  /** The statements of round `r`; deterministic in (seed, round) and the
    * model state. */
  def round(st: State, r: Int): Seq[Stmt]
  /** Fixture loads (server start + COPY) per untraced run; `setup_s`
    * counts their median. */
  private val loadReps = 2
  /** Rounds run untimed after the last load, so JIT, codegen and
    * first-scan costs stay out of the timed region; a single warm-up round
    * left the first measured pair still speeding up. */
  private val warmupRounds = 2

  def protocol(r: Int): String = if (r % 2 == 0) "gosnowflake" else "restv2"

  private final class Loaded(val emu: Emu, val st: State)

  private def load(env: Env, db: String): Loaded = {
    val t0 = System.nanoTime()
    val emu = new Emu(env, db)
    tables.foreach(emu.load)
    val l = new Loaded(emu, fresh(env, emu))
    env.log(f"loaded $db in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    l
  }

  private def warmUp(env: Env, l: Loaded): Unit = {
    val t0 = System.nanoTime()
    // one session behind both protocols, so LAST_QUERY_ID() carries across
    val token = l.emu.client.login(l.emu.db, "PUBLIC", "warmup")
    val paths = Seq(new Path.Gosnowflake(l.emu, token), new Path.RestV2(l.emu, token))
    (0 until warmupRounds).foreach { r =>
      // alternate protocols statement by statement: every class warms up on both
      round(l.st, r).zipWithIndex.foreach { case (stmt, i) =>
        if (!Harness.run(paths((i + r) % 2), stmt, l.emu, traced = false, env.log).ok)
          env.log(s"warm-up statement failed: ${stmt.cls}")
      }
    }
    env.log(f"warmed up ${l.emu.db} in ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Run whole rounds from `first` until the deadline, `perUnit` at a
    * time: the first unit always, each later one only if half the previous
    * unit's time still fits, so a run ends near the deadline without
    * cutting a round short. Protocols alternate by round, so a unit is an
    * even number of rounds and both protocols get the same number. */
  private def roundsUntil(deadline: Double, first: Int, perUnit: Int)(runRound: Int => Unit): Unit = {
    var r = first
    var last = 0.0
    while (r == first || Clock.nowMs() + last / 2 < deadline) {
      val t0 = Clock.nowMs()
      (r until r + perUnit).foreach(runRound)
      last = Clock.nowMs() - t0
      r += perUnit
    }
  }

  def run(env: Env): Metrics.Result = {
    val t0 = System.nanoTime()
    generate(env)
    env.log(f"fixtures in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    if (env.trace) traced(env) else untraced(env)
  }

  // ---------------------------------------------------------------- untraced

  private def untraced(env: Env): Metrics.Result = {
    val loadS = ArrayBuffer.empty[Double]
    var loaded: Loaded = null
    (1 to loadReps).foreach { i =>
      if (loaded != null) loaded.emu.close()
      val t0 = System.nanoTime()
      loaded = load(env, s"BENCH_$i")
      loadS += (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    warmUp(env, loaded)
    val warmS = (System.nanoTime() - tw) / 1e9
    env.sentinels.probe()
    val samples = ArrayBuffer.empty[Sample]
    val roundS = ArrayBuffer.empty[Double]
    val paths = scala.collection.mutable.Map.empty[String, Path]
    val t0 = Clock.nowMs()
    var lastProbe = t0
    roundsUntil(t0 + env.seconds * 1000.0, warmupRounds, 2) { r =>
      val p = paths.getOrElseUpdate(protocol(r), loaded.emu.path(protocol(r), "bench"))
      val rs = Clock.nowMs()
      round(loaded.st, r).foreach { stmt =>
        samples += Harness.run(p, stmt, loaded.emu, traced = false, env.log)
      }
      roundS += (Clock.nowMs() - rs) / 1000.0
      if (Clock.nowMs() - lastProbe > 2000) {
        env.sentinels.probe(); lastProbe = Clock.nowMs()
      }
    }
    env.log("measured")
    val all = samples.toSeq
    val wallS = (all.map(_.end).max - t0) / 1000.0
    env.sentinels.probe()
    val heap = Harness.heapAfterGcMb()
    val spaceAmp = spaceAmplification(env, loaded.emu)
    loaded.emu.close()
    endToEnd(all, wallS, roundS.toSeq,
      env.sparkStartS + Stats.median(loadS) + warmS, heap,
      Map("space_amp" -> spaceAmp, "load_s" -> loadS.toSeq, "warmup_s" -> warmS))
  }

  /** The end-to-end metrics of a set of statement samples. */
  private def endToEnd(all: Seq[Sample], wallS: Double, roundsS: Seq[Double],
      setupS: Double, heapMb: Double, extra: Map[String, Any]): Metrics.Result = {
    require(all.nonEmpty, "no statement completed in the measured time")
    def p50(cls: String): Double = {
      val xs = all.filter(_.cls == cls).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val tail = Stats.tail(all.map(_.ms))
    val failed = all.count(!_.ok).toLong
    val metrics = Map(
      "setup_s" -> setupS,
      "stmt_p50_ms" -> Stats.median(all.map(_.ms)),
      "stmt_tail_ms" -> tail.value,
      "stmts_per_s" -> all.size / wallS,
      "pass_s" -> Stats.median(roundsS),
      "heap_after_gc_mb" -> heapMb)
    val byClass = all.groupBy(_.cls).map { case (c, xs) =>
      c -> Map("n" -> xs.size, "p50_ms" -> Stats.median(xs.map(_.ms)),
        "failed" -> xs.count(!_.ok))
    }
    Metrics.Result(all.size.toLong, failed, metrics, extra ++ Map(
      "stmt_tail_percentile" -> tail.percentile, "stmt_tail_n" -> tail.n,
      "rounds" -> roundsS.size, "measured_s" -> wallS,
      "failed_frac" -> failed.toDouble / all.size,
      "select1_p50_ms" -> p50("select1"), "point_p50_ms" -> p50("point"),
      "insert_p50_ms" -> p50("insert"), "update_p50_ms" -> p50("update"),
      "merge_p50_ms" -> p50("merge"), "classes" -> byClass))
  }

  /** On-disk bytes in the warehouse and temp dirs over the bytes of the
    * live tables' current files. */
  private def spaceAmplification(env: Env, emu: Emu): Double = {
    val cat = emu.server.executor.catalog
    val live = cat.listTables(emu.db).map { t =>
      cat.tableDf(TableNaming.Ref(t.database, t.schema, t.table)).inputFiles
        .map(f => new java.io.File(new java.net.URI(f).getPath).length()).sum
    }.sum
    val wh = java.nio.file.Paths.get(
      env.spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    (Harness.dirBytes(wh) + Harness.dirBytes(tmp)).toDouble / math.max(1L, live)
  }

  // ------------------------------------------------------------------ traced

  private def traced(env: Env): Metrics.Result = {
    val probe = new EngineProbe
    env.spark.sparkContext.addSparkListener(probe)
    env.spark.listenerManager.register(probe)
    TraceHooks.probe = probe
    val tracer = new Tracer

    // phase 1: over the wire, in units of four rounds with the probe off,
    // on, on, off; protocols alternate by round, so one protocol goes
    // off-then-on and the other on-then-off, and a drift across the unit
    // cancels in the mean over protocols
    val wire = load(env, "TRACE_WIRE")
    warmUp(env, wire)
    val wireSamples = ArrayBuffer.empty[Sample]
    val executed = ArrayBuffer.empty[Int]
    val wirePaths = scala.collection.mutable.Map.empty[String, Path]
    roundsUntil(Clock.nowMs() + env.seconds * 1000.0, warmupRounds, 4) { r =>
      val on = Set(1, 2).contains((r - warmupRounds) % 4)
      probe.enabled = on
      val p = wirePaths.getOrElseUpdate(protocol(r), wire.emu.path(protocol(r), "trace"))
      round(wire.st, r).foreach { stmt =>
        val s = Harness.run(p, stmt, wire.emu, traced = on, env.log)
        if (on) tracer.add(s"client.${p.name}", s.start, s.end, -1, wireSamples.size.toLong)
        wireSamples += s
      }
      executed += r
    }
    probe.drain()
    wire.emu.close()

    // phase 2: the same statements in-process, on fresh fixtures
    probe.enabled = false
    val local = load(env, "TRACE_LOCAL")
    warmUp(env, local)
    probe.drain(); probe.clear(); probe.enabled = true
    val lp = local.emu.path("inprocess", "trace")
    val localSamples = ArrayBuffer.empty[Sample]
    val localStmts = ArrayBuffer.empty[Stmt]
    executed.foreach { rr =>
      round(local.st, rr).foreach { stmt =>
        localSamples += Harness.run(lp, stmt, local.emu, traced = true, env.log)
        localStmts += stmt
      }
    }
    probe.drain()
    val shares = EngineShare.attribute(probe, localSamples.map(s => (s.start, s.end)).toIndexedSeq)
    val selfMs = localSamples.indices.map { i =>
      val s = localSamples(i)
      val root = tracer.add("emulator.execute", s.start, s.end, -1, i.toLong)
      shares(i).plans.foreach(_.phases.foreach { case (ph, (a, b)) =>
        tracer.add(s"catalyst.$ph", a, b, root.id, i.toLong)
      })
      shares(i).jobs.filterNot(_.end.isNaN).foreach(j =>
        tracer.add("spark.job", j.start, j.end, root.id, i.toLong))
      tracer.selfMs(root)
    }
    val micro = emulatorMicro(localStmts.toSeq, local.emu.db)
    local.emu.close()
    env.spark.sparkContext.removeSparkListener(probe)
    env.spark.listenerManager.unregister(probe)
    tracer.writeJsonl(env.work.resolve(s"trace_$name.jsonl"))

    val m = scala.collection.mutable.Map.empty[String, Double]
    // server: client round trip minus the in-process execute of the same
    // statement (phase 2 replays phase 1 statement for statement), over
    // the probed wire rounds, so the probe's cost is on both sides
    require(wireSamples.size == localSamples.size, "phase 2 must replay phase 1")
    val wireMs = wireSamples.indices.filter(i => wireSamples(i).traced)
      .map(i => wireSamples(i) -> (wireSamples(i).ms - localSamples(i).ms))
    def wireP50(keep: Sample => Boolean): Option[Double] = {
      val xs = wireMs.collect { case (s, d) if keep(s) => d }
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    val protocols = Seq("gosnowflake", "restv2")
    protocols.foreach(proto => wireP50(_.path == proto).foreach(m(s"server.wire_ms.$proto") = _))
    wireP50(_.cls == "select1").foreach(m("server.wire_ms.select1") = _)
    m("server.response_bytes_per_row") =
      wireSamples.map(_.bytes).sum.toDouble / math.max(1L, wireSamples.map(_.rows).sum)
    // emulator and engine, per class
    localSamples.map(_.cls).distinct.foreach { c =>
      val idx = localSamples.indices.filter(i => localSamples(i).cls == c)
      m(s"emulator.execute_ms.$c") = Stats.median(idx.map(i => localSamples(i).ms))
      m(s"emulator.self_ms.$c") = Stats.median(idx.map(selfMs))
      m(s"spark.jobs_per_stmt.$c") = Stats.mean(idx.map(i => shares(i).jobs.size.toDouble))
      if (Metrics.StorageClasses.contains(c)) {
        m(s"storage.rows_written_per_row_changed.$c") = Stats.rowsWrittenPerRowChanged(
          idx.map(i => shares(i).recordsWritten).sum, idx.map(i => localSamples(i).affected).sum)
        m(s"storage.bytes_written_per_stmt.$c") = Stats.mean(idx.map(i => shares(i).bytesWritten.toDouble))
      }
    }
    m ++= micro
    m ++= EngineShare.perStatement(shares)
    // overhead: probed minus unprobed wire rounds, statement p50 within
    // each protocol, then the mean over the protocols
    val byState = protocols.map { proto =>
      val xs = wireSamples.filter(_.path == proto)
      (Stats.median(xs.filter(_.traced).map(_.ms)), Stats.median(xs.filterNot(_.traced).map(_.ms)))
    }
    m("trace.overhead_ms") = Stats.mean(byState.map { case (on, off) => on - off })
    m("trace.overhead_pct") = 100.0 * m("trace.overhead_ms") / Stats.mean(byState.map(_._2))
    val all = wireSamples.toSeq ++ localSamples.toSeq
    Metrics.Result(all.size.toLong, all.count(!_.ok).toLong, m.toMap, Map(
      "wire_statements" -> wireSamples.size, "inprocess_statements" -> localSamples.size,
      "self_ms_total" -> selfMs.sum, "execute_ms_total" -> localSamples.map(_.ms).sum))
  }

  /** Direct calls into the emulator's per-statement helpers on this run's
    * own statements, in microseconds per call. */
  private def emulatorMicro(stmts: Seq[Stmt], db: String): Map[String, Double] = {
    def perCallUs(xs: Seq[Stmt], reps: Int)(f: Stmt => Any): Double = {
      val us = xs.map { s =>
        (1 to 3).foreach(_ => f(s))
        val t0 = System.nanoTime()
        var i = 0
        while (i < reps) { f(s); i += 1 }
        (System.nanoTime() - t0) / 1e3 / reps
      }
      if (us.isEmpty) 0.0 else Stats.median(us)
    }
    val distinct = stmts.groupBy(s => (s.sql, s.binds)).values.map(_.head).toSeq
    val bound = distinct.filter(_.binds.nonEmpty)
    val history = new QueryHistory()
    val histUs = stmts.zipWithIndex.map { case (s, i) =>
      val t0 = System.nanoTime()
      val h = history.start(s"q$i", s.sql)
      history.success(s"q$i", s.sql, 1L, h)
      (System.nanoTime() - t0) / 1e3
    }
    Map(
      "emulator.classify_us" -> perCallUs(distinct, 200)(s => Classifier.classify(s.sql)),
      "emulator.bind_us" -> perCallUs(if (bound.nonEmpty) bound else distinct, 200)(s =>
        Bindings.apply(s.sql, s.bindings)),
      "emulator.naming_us" -> perCallUs(distinct, 20)(s => TableNaming.rewrite(s.sql, db, "PUBLIC")),
      "emulator.history_us" -> Stats.mean(histUs))
  }
}
