package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Checkpoints, Engine, SparkEntry}
import graft.sources.Tables

/** One benchmark run in one JVM: set up the session once, check every
  * entry's result in an untimed pass, run seeded passes of the workload's
  * entries for `seconds`, and write every metric to `out` as JSON.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --data-root DIR --work DIR
  *      [--scale S] --out FILE
  * Main --pin FILE --workload W --data-root DIR --work DIR [--scale S]
  * }}}
  * The tables are `<data-root>/<scale>` and their pinned fingerprints
  * `<data-root>/<scale>.tsv`; the scale defaults to the workload's.
  */
object Main {

  final case class Opts(
      workload: Workload, seed: Long, seconds: Double, trace: Boolean, data: String,
      work: Path, expected: Path, out: Option[Path], pin: Option[Path])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.byName(need("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${need("workload")}; " +
        s"known: ${Workloads.all.map(_.name).mkString(", ")}"))
    val root = Paths.get(need("data-root"))
    val scale = kv.getOrElse("scale", w.scale)
    Opts(w, kv.getOrElse("seed", "0").toLong, kv.getOrElse("seconds", "25").toDouble,
      kv.getOrElse("trace", "0") == "1", root.resolve(scale).toString, Paths.get(need("work")),
      root.resolve(s"$scale.tsv"), kv.get("out").map(Paths.get(_)),
      kv.get("pin").map(Paths.get(_)))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val unknown = o.workload.entries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"entries not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val r = new Runner(o)
    try o.pin match {
      case Some(file) => r.pin(file)
      case None => r.run()
    } finally r.stop()
  }
}

/** One timed entry execution. `latencyS` is construction plus action;
  * `slotS` is the loop time it took, release included. */
final case class Exec(
    pass: Int, entry: String, traced: Boolean, ok: Boolean, error: Option[String],
    latencyS: Double, slotS: Double, constructS: Double, executeS: Double, releaseS: Double,
    cpuS: Double, gcS: Double, jitS: Double, cuts: Int, bytesHeld: Long,
    constructSpan: Int, executeSpan: Int)

final class Runner(o: Main.Opts) {
  import Ledger.tagged

  private val cores = Runtime.getRuntime.availableProcessors
  private val spans = new Spans
  private val ledger = new Ledger
  private val runId = java.util.UUID.randomUUID().toString
  private val runSpan = spans.nextId()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val mainStartMs = spans.nowMs
  private var spark: SparkSession = _

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private val jit = ManagementFactory.getCompilationMXBean
  private def jitS: Double = jit.getTotalCompilationTime / 1e3

  private val queries = SparkEntry.queries

  // ---------------------------------------------------------------- set-up

  private def dir(name: String): String = {
    val p = o.work.resolve(name)
    Files.createDirectories(p)
    p.toAbsolutePath.toString
  }

  /** JVM start, session construction and warm scans: the set-up `Bench`
    * does, with every directory Spark writes to inside the work dir. It
    * counts from JVM start, so start-up and class loading are in it. */
  private def setup(): Map[String, Double] = {
    val id = spans.nextId()
    spans.add(Span(spans.nextId(), id, "jvm", jvmStartMs, mainStartMs))
    val (_, session) = spans.timed(id, "engine.session") { _ =>
      spark = Engine.session(master = s"local[$cores]", shufflePartitions = cores,
        extraConf = Map(
          "spark.sql.warehouse.dir" -> dir("warehouse"),
          "spark.local.dir" -> dir("spark-local"),
          "spark.sql.streaming.checkpointLocation" -> dir("streaming")))
      Engine.quietBoundedWindowWarnings()
    }
    val (_, warm) = spans.timed(id, "sources.warm_scan") { _ =>
      spark.range(1000).selectExpr("sum(id)").collect()
      o.workload.warmTables.foreach {
        case "events" => Tables.events(spark, o.data).count()
        case t => spark.read.parquet(s"${o.data}/$t.parquet").count()
      }
    }
    val all = spans.add(Span(id, runSpan, "setup", jvmStartMs, spans.nowMs))
    Map("setup" -> all.seconds, "session" -> session.seconds, "warm" -> warm.seconds)
  }

  // --------------------------------------------------------------- checking

  private lazy val expected: Map[String, (Long, String)] =
    Files.readAllLines(o.expected, UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash) = l.split("\t")
        name -> (rows.toLong, hash)
      }.toMap

  /** None when the result matches its pinned fingerprint. */
  private def check(name: String, df: DataFrame): Option[String] =
    expected.get(name) match {
      case None => Some("no pinned fingerprint")
      case Some((rows, hash)) =>
        val fp = Fingerprint.of(df)
        if (fp.rows == rows && fp.hash == hash) None
        else Some(s"wrong result: rows=${fp.rows} hash=${fp.hash}, pinned rows=$rows hash=$hash")
    }

  // --------------------------------------------------------------- execute

  private def describe(t: Throwable): String =
    (t.getClass.getName + ": " + Option(t.getMessage).getOrElse("")).linesIterator.next().take(300)

  /** Construct the entry and run its `noop` action (timed); then, untimed,
    * read the cut blocks it holds and release them. */
  private def execute(pass: Int, parent: Int, name: String, traced: Boolean): Exec = {
    val sc = spark.sparkContext
    val entryId = spans.nextId()
    val constructId = spans.nextId()
    val executeId = spans.nextId()
    def maybeTagged[T](span: Int)(body: => T): T =
      if (traced) tagged(spark, span)(body) else body
    val persisted0 = if (traced) sc.getPersistentRDDs.keySet else Set.empty[Int]
    val cpu0 = cpuS
    val gc0 = gcS
    val jit0 = jitS
    val t0 = spans.nowMs
    var t1 = t0
    val error =
      try {
        val df = maybeTagged(constructId)(queries(name)(spark, o.data))
        t1 = spans.nowMs
        maybeTagged(executeId)(df.write.mode("overwrite").format("noop").save())
        None
      } catch { case t: Throwable => if (t1 == t0) t1 = spans.nowMs; Some(describe(t)) }
    val t2 = spans.nowMs
    val cpu1 = cpuS
    val gc1 = gcS
    val jit1 = jitS
    spans.add(Span(constructId, entryId, "construct", t0, t1))
    spans.add(Span(executeId, entryId, "execute", t1, t2))
    val (cuts, bytes) =
      if (!traced) (0, 0L)
      else {
        val fresh = sc.getPersistentRDDs.keySet -- persisted0
        (fresh.size, sc.getRDDStorageInfo.filter(i => fresh(i.id))
          .map(i => i.memSize + i.diskSize).sum)
      }
    val (_, rel) = spans.timed(entryId, "release")(_ => Checkpoints.release())
    val entry = spans.add(Span(entryId, parent, "entry", t0, spans.nowMs,
      Map("entry" -> name, "ok" -> error.isEmpty) ++ error.map("error" -> _)))
    Exec(pass, name, traced, error.isEmpty, error, (t2 - t0) / 1e3, entry.seconds,
      (t1 - t0) / 1e3, (t2 - t1) / 1e3, rel.seconds, cpu1 - cpu0, gc1 - gc0, jit1 - jit0,
      cuts, bytes, constructId, executeId)
  }

  /** The untimed check pass: every entry once, its result fingerprinted
    * against the pinned one, on one thread per core as `Verify` runs them.
    * It is also the timed loop's warm-up. Returns each entry's error, if
    * any. */
  private def checkPass(order: Seq[String]): Map[String, Option[String]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try spans.timed(runSpan, "check") { id =>
      order.map { name =>
        pool.submit(() => name -> spans.timed(id, "check.entry", Map("entry" -> name)) { _ =>
          try check(name, queries(name)(spark, o.data))
          catch { case t: Throwable => Some(describe(t)) }
          finally Checkpoints.release()
        }._1)
      }.map(_.get()).toMap
    }._1
    finally pool.shutdown()
  }

  // ------------------------------------------------------------------- run

  def run(): Unit = {
    val boot = setup()
    val orders = Workloads.passes(o.workload, o.seed)
    val checks = checkPass(orders.next())
    val loopStart = spans.nowMs
    val execs = ArrayBuffer.empty[Exec]
    def elapsedS = (spans.nowMs - loopStart) / 1e3
    val minPasses = if (o.trace) 3 else 1
    var pass = 0
    // An untraced run runs one whole pass, so every entry is measured, and
    // then continues through the next passes until `seconds` have elapsed,
    // stopping between two entries. A traced run runs whole passes only,
    // alternating untraced and traced ones, so it can report what tracing
    // costs: a traced pass sits between two untraced ones that bracket the
    // warm-up trend.
    while (pass < minPasses || elapsedS < o.seconds) {
      pass += 1
      val traced = o.trace && pass % 2 == 0
      val whole = o.trace || pass <= minPasses
      if (traced) ledger.attach(spark)
      spans.timed(runSpan, "pass", Map("pass" -> pass, "traced" -> traced)) { passId =>
        orders.next().iterator.takeWhile(_ => whole || elapsedS < o.seconds).foreach { name =>
          val e = execute(pass, passId, name, traced)
          // an entry whose checked result is wrong fails every execution
          execs += checks.get(name).flatten.fold(e)(w => e.copy(ok = false, error = Some(w)))
        }
      }
      if (traced) { ledger.flush(spark); ledger.detach(spark) }
    }
    val loopS = (spans.nowMs - loopStart) / 1e3
    spans.add(Span(runSpan, -1, "run", jvmStartMs, spans.nowMs,
      Map("run_id" -> runId, "workload" -> o.workload.name, "seed" -> o.seed)))
    write(boot, checks, execs.toSeq, loopS)
  }

  /** One pass in name order; write each entry's fingerprint. */
  def pin(file: Path): Unit = {
    setup()
    val lines = o.workload.entries.sorted.map { name =>
      val df = queries(name)(spark, o.data)
      val fp = Fingerprint.of(df)
      Checkpoints.release()
      s"$name\t${fp.rows}\t${fp.hash}"
    }
    Files.write(file, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  def stop(): Unit = if (spark != null) spark.stop()

  // ---------------------------------------------------------------- report

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile above the median with at least 10
    * samples beyond it, by nearest rank; None below 21 samples. */
  private def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val pct = 100 * (s.size - 10) / math.max(1, s.size)
    Option.when(pct > 50)(pct -> s(math.ceil(pct / 100.0 * s.size).toInt - 1))
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** The median of samples weighted `w`: the value where the cumulative
    * weight reaches half the total, midway between two values when it
    * reaches it exactly at the first. */
  private def weightedMedian(xs: Seq[(Double, Double)]): Double = {
    val s = xs.sortBy(_._1)
    val half = s.map(_._2).sum / 2
    val cum = s.scanLeft(0.0)(_ + _._2).tail
    val i = cum.indexWhere(_ >= half - 1e-9)
    if (i < 0) Double.NaN
    else if (math.abs(cum(i) - half) < 1e-9 && i + 1 < s.size) (s(i)._1 + s(i + 1)._1) / 2
    else s(i)._1
  }

  private def write(boot: Map[String, Double], checks: Map[String, Option[String]],
      execs: Seq[Exec], loopS: Double): Unit = {
    val ok = execs.filter(_.ok)
    val lat = ok.map(_.latencyS)
    val tailAt = tail(lat)
    // Every entry weighs the same however often the loop ran it, so a run
    // that stops inside a pass reports the figures of whole passes, and the
    // seed's choice of which entries ran once more does not move them.
    val weight = ok.groupBy(_.entry).map { case (n, es) => n -> 1.0 / es.size }
    def perPass(f: Exec => Double) = ok.map(e => weight(e.entry) * f(e)).sum / weight.size
    val e2e = Seq(
      "setup_s" -> (boot("setup"), "s"),
      "entries_per_s" -> (1 / perPass(_.slotS), "1/s"),
      "cpu_s_per_entry" -> (perPass(_.cpuS), "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"))

    val layers = if (o.trace) layerMetrics(boot, execs) else Nil
    val failures = checks.toSeq.collect { case (n, Some(err)) => n -> err } ++
      execs.filterNot(_.ok).map(e => e.entry -> e.error.getOrElse(""))
    val attempted = checks.size + execs.size
    val perEntry = execs.groupBy(_.entry).toSeq.sortBy(_._1).map { case (n, es) =>
      n -> Json.obj("n" -> es.size, "failed" -> es.count(!_.ok),
        "median_s" -> median(es.filter(_.ok).map(_.latencyS)),
        "latencies_s" -> es.map(_.latencyS))
    }
    val report = Json.obj(
      "run_id" -> runId, "workload" -> o.workload.name, "seed" -> o.seed, "cores" -> cores,
      "passes" -> execs.map(_.pass).distinct.size, "attempted" -> attempted,
      "failed" -> failures.size, "fail_ratio" -> failures.size.toDouble / attempted,
      "failures" -> Json.obj(failures.toMap.toSeq.sortBy(_._1): _*),
      "entry_p50_s" -> weightedMedian(ok.map(e => e.latencyS -> weight(e.entry))),
      "entry_tail_pct" -> tailAt.map(_._1), "entry_tail_s" -> tailAt.map(_._2),
      "entry_samples" -> lat.size, "timed_loop_s" -> loopS,
      "completed_per_loop_s" -> ok.size / loopS, "jit_s_per_entry" -> perPass(_.jitS),
      "check_s" -> spans.all.filter(_.name == "check").map(_.seconds).sum,
      "per_entry" -> Json.obj(perEntry: _*))
    val trace =
      if (!o.trace) None
      else {
        val f = Paths.get(dir("traces")).resolve(s"${o.workload.name}-seed${o.seed}-$runId.json")
        Files.write(f, traceJson(execs).getBytes(UTF_8))
        Some(f.toString)
      }
    def metrics(ms: Seq[(String, (Double, String))]) =
      Json.obj(ms.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }: _*)
    val doc = Json.obj("end_to_end" -> metrics(e2e), "per_layer" -> metrics(layers),
      "report" -> report, "trace_file" -> trace.orNull)
    o.out.foreach(f => Files.write(f, Json.render(doc).getBytes(UTF_8)))
  }

  /** Per-layer means over the traced executions, from the spans and the
    * listener ledger. */
  private def layerMetrics(boot: Map[String, Double], execs: Seq[Exec])
      : Seq[(String, (Double, String))] = {
    val traced = execs.filter(e => e.traced && e.ok)
    val untraced = execs.filter(e => !e.traced && e.ok)
    val n = traced.size.toDouble
    def mean(f: Exec => Double) = traced.map(f).sum / n
    def both(e: Exec) = Seq(ledger.counters(e.constructSpan), ledger.counters(e.executeSpan))
    def sumC(f: Counters => Double) = mean(e => both(e).map(f).sum)
    def phaseMs(p: String) = mean(catalystMs(_, p))
    val cpu = traced.map(e => both(e).map(_.cpuNs).sum / 1e9).sum
    val wall = traced.map(_.latencyS).sum
    // tracing cost: per entry, traced median over untraced median,
    // geometric mean over the entries measured both ways
    val ratios = traced.map(_.entry).distinct.flatMap { name =>
      val a = traced.filter(_.entry == name).map(_.latencyS)
      val b = untraced.filter(_.entry == name).map(_.latencyS)
      if (b.isEmpty) None else Some(math.log(median(a) / median(b)))
    }
    Seq(
      "engine.session_s" -> (boot("session"), "s"),
      "sources.warm_scan_s" -> (boot("warm"), "s"),
      "operators.construct_s" -> (mean(_.constructS), "s"),
      "operators.construct_jobs" -> (mean(e => ledger.counters(e.constructSpan).jobs), "count"),
      "catalyst.analysis_ms" -> (phaseMs("analysis"), "ms"),
      "catalyst.optimization_ms" -> (phaseMs("optimization"), "ms"),
      "catalyst.planning_ms" -> (phaseMs("planning"), "ms"),
      "exec.s" -> (mean(_.executeS), "s"),
      "exec.jobs" -> (mean(e => ledger.counters(e.executeSpan).jobs), "count"),
      "exec.stages" -> (mean(e => ledger.counters(e.executeSpan).stages), "count"),
      "exec.tasks" -> (mean(e => ledger.counters(e.executeSpan).tasks), "count"),
      "exec.cpu_s" -> (cpu / n, "s"),
      "exec.core_util" -> (cpu / (wall * cores), "ratio"),
      "exec.sched_delay_s" -> (sumC(_.schedDelayMs / 1e3), "s"),
      "exec.shuffle_read_bytes" -> (sumC(_.shuffleReadBytes.toDouble), "bytes"),
      "exec.shuffle_write_bytes" -> (sumC(_.shuffleWriteBytes.toDouble), "bytes"),
      "exec.spill_bytes" -> (sumC(_.spillBytes.toDouble), "bytes"),
      "exec.input_bytes" -> (sumC(_.inputBytes.toDouble), "bytes"),
      "exec.output_bytes" -> (sumC(_.outputBytes.toDouble), "bytes"),
      "exec.failed_tasks" -> (sumC(_.failedTasks.toDouble), "count"),
      "checkpoints.cuts" -> (mean(_.cuts), "count"),
      "checkpoints.bytes_held" -> (mean(_.bytesHeld.toDouble), "bytes"),
      "checkpoints.release_s" -> (mean(_.releaseS), "s"),
      "jvm.gc_s" -> (mean(_.gcS), "s"),
      "jvm.jit_s" -> (mean(_.jitS), "s"),
      "operators.construct_share" -> (traced.map(_.constructS).sum / wall, "ratio"),
      "trace.overhead_ratio" -> (
        if (ratios.isEmpty) Double.NaN else math.exp(ratios.sum / ratios.size), "ratio"))
  }

  /** Each Catalyst phase the listener saw, as a child of the construct or
    * execute span whose interval holds its start. */
  private lazy val catalystSpans: Seq[Span] = {
    val phaseSpans = spans.all.filter(s => s.name == "construct" || s.name == "execute").toArray
    val starts = phaseSpans.map(_.startMs)
    ledger.catalystPhases.flatMap { case (phase, s, e) =>
      val i = java.util.Arrays.binarySearch(starts, s.toDouble) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i < 0 || s > phaseSpans(i).endMs + 1) None
      else Some(Span(spans.nextId(), phaseSpans(i).id, s"catalyst.$phase", s.toDouble, e.toDouble))
    }
  }

  private lazy val catalystMsBySpan: Map[(Int, String), Double] =
    catalystSpans.groupMapReduce(c => (c.parent, c.name))(c => c.endMs - c.startMs)(_ + _)

  /** Milliseconds of one Catalyst phase over an execution's construct and
    * execute spans. */
  private def catalystMs(e: Exec, phase: String): Double =
    Seq(e.constructSpan, e.executeSpan)
      .map(id => catalystMsBySpan.getOrElse((id, s"catalyst.$phase"), 0.0)).sum

  // ------------------------------------------------------------------ trace

  /** Every span (run → setup, check → check.entry, pass → entry →
    * construct/execute/release, with Spark jobs and Catalyst phases under
    * the phase span they ran in), self times, and one row per traced
    * execution. */
  private def traceJson(execs: Seq[Exec]): String = {
    val base = spans.all
    val ids = base.map(_.id).toSet
    val jobSpans = ledger.jobs.filter(j => ids(j._2)).map { case (job, span, s, e) =>
      Span(spans.nextId(), span, "spark.job", s.toDouble, e.toDouble, Map("job_id" -> job))
    }
    val all = base ++ jobSpans ++ catalystSpans
    val childS = all.groupMapReduce(_.parent)(_.seconds)(_ + _)
    val spanJson = all.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_s" ->
          math.max(0.0, s.seconds - childS.getOrElse(s.id, 0.0))) ++ s.attrs.toSeq: _*)
    }
    val rows = execs.filter(_.traced).map { e =>
      val c = ledger.counters(e.constructSpan)
      val x = ledger.counters(e.executeSpan)
      Json.obj("pass" -> e.pass, "entry" -> e.entry, "ok" -> e.ok, "error" -> e.error.orNull,
        "latency_s" -> e.latencyS, "construct_s" -> e.constructS, "execute_s" -> e.executeS,
        "release_s" -> e.releaseS, "construct_jobs" -> c.jobs, "exec_jobs" -> x.jobs,
        "exec_stages" -> x.stages, "exec_tasks" -> x.tasks, "construct_stages" -> c.stages,
        "cuts" -> e.cuts, "bytes_held" -> e.bytesHeld,
        "task_cpu_s" -> (c.cpuNs + x.cpuNs) / 1e9, "process_cpu_s" -> e.cpuS, "gc_s" -> e.gcS,
        "jit_s" -> e.jitS,
        "analysis_ms" -> catalystMs(e, "analysis"),
        "optimization_ms" -> catalystMs(e, "optimization"),
        "planning_ms" -> catalystMs(e, "planning"))
    }
    Json.render(Json.obj("run_id" -> runId, "workload" -> o.workload.name, "seed" -> o.seed,
      "cores" -> cores, "spans" -> spanJson, "entries" -> rows))
  }
}

/** Minimal JSON rendering for the run's output files. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(fs) => fs.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
