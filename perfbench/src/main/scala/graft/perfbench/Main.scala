package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.perfbench.SparkInternals

import graft.core.Sessions

/**
 * Runs one workload and writes its result as JSON (`--out`); `run.py`
 * prepares the inputs, starts this main and prints the benchmark's line.
 *
 *   Main --workload <nightly-incremental|corpus-ops> --seed <n>
 *        --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <file>
 *        --threads <n> --t0 <epoch ms the run started>
 *
 * A unit is the workload's piece of timed work: the delta night of the
 * nightly window (after a backfill night in set-up), or one steady corpus
 * pass (after a warm pass in set-up). The night runs once; corpus passes
 * repeat while the next one would end within `--seconds`. With
 * `--trace 1` the units alternate traced and untraced (the first is
 * traced) and the per-layer metrics are medians over the traced ones.
 */
object Main {

  final case class UnitResult(nanos: Long, slowestNanos: Long, executorCpuNanos: Long,
                              processCpuNanos: Long, traced: Boolean,
                              layers: Map[String, Double])

  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[perfbench] FAIL $what")
  }

  /** Mean of the three slowest steps (pipeline runs or queries) of a unit:
    * the tail a run deadline watches, steadier than the single maximum. */
  def slowest(stepNanos: Seq[Long]): Long = {
    val top = stepNanos.sorted.takeRight(3)
    top.sum / top.size
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dataDir = a("data")
    val work = a("work")
    val threads = a("threads").toInt

    val s0 = System.nanoTime()
    val spark = Sessions.local(threads = threads, appName = "perfbench")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val sc = spark.sparkContext
    val observer = new SparkObserver(new File(work, "lake").getAbsolutePath)
    sc.addSparkListener(observer)
    val tracer = new Tracer(sc)
    val detail = mutable.LinkedHashMap.empty[String, Any]

    // the timed section, from the first unit to the end of the last: its
    // start, and the CPU the host spent busy outside this process over it
    var timedStartMs = 0L
    var timedNanos = 0L
    var otherBusyS = 0.0

    /** Runs units `min` to `max` times while the window lasts. `body(i)`
      * runs unit i and returns its wall, slowest step and CPU nanos, and
      * the per-layer metrics of its spans (given the drained work). */
    def units(min: Int, max: Int)(
        body: Int => (Long, Long, Long, (Seq[Span], Map[Long, Work]) => Map[String, Double])
    ): Seq[UnitResult] = {
      timedStartMs = System.currentTimeMillis()
      val host0 = Host.hostBusyNanos()
      val proc0 = Host.processCpuNanos()
      val wall0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[UnitResult]
      def elapsed = (System.nanoTime() - wall0) / 1e9
      while (out.size < min || (out.size < max && elapsed + out.last.nanos / 1e9 <= seconds)) {
        val i = out.size
        val traced = trace && i % 2 == 0
        SparkInternals.drain(sc); observer.workBySpan()
        tracer.enabled = traced
        val (nanos, slowest, cpu, layersOf) = body(i)
        tracer.enabled = false
        SparkInternals.drain(sc)
        val work = observer.workBySpan()
        val executorCpu = work.values.map(_.cpuNanos).sum
        val layers =
          if (!traced) Map.empty[String, Double]
          else layersOf(tracer.spans.filter(_.run == i), work)
        out += UnitResult(nanos, slowest, executorCpu, cpu, traced, layers)
        System.err.println(f"[perfbench] unit $i: ${nanos / 1e9}%.3f s" +
          (if (traced) " (traced)" else ""))
      }
      timedNanos = System.nanoTime() - wall0
      if (host0 >= 0) otherBusyS = math.max(0.0,
        (Host.hostBusyNanos() - host0 - (Host.processCpuNanos() - proc0)) / 1e9)
      out.toSeq
    }

    var warehouseBytes = 0L
    def writeOracleSql(queries: Set[String]): Unit = {
      val w = new PrintWriter(new File(work, "oracle_sql.json"))
      try w.println(Json.write(graft.SparkEntry.oracleSql.filter(q => queries(q._1))))
      finally w.close()
    }
    val results: Seq[UnitResult] = workload match {
      case "nightly-incremental" =>
        val nightly = new Nightly(spark, tracer, dataDir, work, seed, threads)
        val wh = s"$work/warehouse"
        val nights = mutable.ArrayBuffer.empty[Map[String, Any]]
        def record(kind: String, n: Night): Unit = {
          System.err.println(f"[perfbench] $kind night: ${n.nanos / 1e9}%.3f s")
          attempted += n.runs.size
          n.runs.foreach(r => r.error.foreach(e => fail(s"${r.name} night ${n.k}: $e")))
          nights += Map("k" -> n.k, "kind" -> kind, "seconds" -> n.nanos / 1e9,
            "changed_rows" -> n.changedRows,
            "fact_rows" -> n.runs.map(r => r.name -> r.factRows).toMap,
            "run_s" -> n.runs.map(r => r.name -> r.nanos / 1e9).toMap)
        }
        val (backfill, changed) = nightly.setUp(wh, s"$work/night1")
        record("backfill", backfill)
        val r = units(1, 1) { i =>
          val delta = nightly.night(wh, 2, changed, i)
          record("delta", delta)
          warehouseBytes = Nightly.diskUsage(new File(wh))._1
          val growth = delta.runs.map(_.factRows).sum - backfill.runs.map(_.factRows).sum
          (delta.nanos, slowest(delta.runs.map(_.nanos)), delta.cpuNanos,
            (spans, work) => Layers.of(spans, work, Some(wh), changed) ++ Map(
              "nights.setup_s" -> backfill.nanos / 1e9,
              "nights.delta_s" -> delta.nanos / 1e9,
              "facts.rows" -> delta.runs.map(_.factRows).sum.toDouble,
              "facts.growth_rows" -> growth.toDouble))
        }
        nightly.writeBatches(s"$work/batches")
        detail("nights") = nights.toSeq
        detail("pipelines") = graft.runner.Pipelines.all.map(p => Map(
          "name" -> p.name, "query" -> Nightly.roster(p.name)._2, "keys" -> p.factKeys))
        writeOracleSql(Nightly.roster.values.map(_._2).toSet)
        r

      case "corpus-ops" =>
        val corpus = new Corpus(spark, tracer, dataDir, seed)
        def record(runs: Seq[QueryRun]): Unit = {
          detail("query_s") = runs.map(r => r.name -> r.nanos / 1e9).toMap
          attempted += runs.size
          runs.foreach(r => r.error.foreach(e => fail(s"${r.name}: $e")))
        }
        record(corpus.warm())
        val r = units(3, Int.MaxValue) { i =>
          val p = corpus.pass(i, s"$work/results")
          record(p.runs)
          (p.nanos, slowest(p.runs.map(_.nanos)), p.cpuNanos,
            (spans, work) => Layers.of(spans, work, None, 0L))
        }
        detail("order") = corpus.order
        writeOracleSql(Corpus.Queries.toSet)
        warehouseBytes = Nightly.diskUsage(new File(work, "spark-warehouse"))._1 +
          Nightly.diskUsage(new File(work, "oracle"))._1
        r

      case other => sys.error(s"unknown workload '$other'")
    }
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> (timedStartMs - a("t0").toLong) / 1000.0,
        "unit_s" -> median(results.map(_.nanos / 1e9)),
        "slowest_step_s" -> median(results.map(_.slowestNanos / 1e9)),
        "cpu_s" -> median(results.map(_.executorCpuNanos / 1e9)),
        "warehouse_mb" -> warehouseBytes / Layers.MB)
      else {
        val traced = results.filter(_.traced)
        Layers.names.map(n => n -> median(traced.flatMap(_.layers.get(n)))).toMap ++ Map(
          "core.session_s" -> sessionS)
      }

    if (trace) {
      val w = new PrintWriter(new File(work, "spans.jsonl"))
      try tracer.spans.foreach { s =>
        w.println(Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "run" -> s.run, "start_ns" -> s.start, "end_ns" -> s.end)))
      } finally w.close()
    }
    detail("units") = results.map(u => Map("seconds" -> u.nanos / 1e9, "traced" -> u.traced,
      "slowest_step_s" -> u.slowestNanos / 1e9, "executor_cpu_s" -> u.executorCpuNanos / 1e9,
      "process_cpu_s" -> u.processCpuNanos / 1e9))
    val out = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "metrics" -> metrics,
      "host" -> Map("other_busy_cpu_s" -> otherBusyS,
        "other_busy_cores" -> otherBusyS / (timedNanos / 1e9), "timed_wall_s" -> timedNanos / 1e9),
      "detail" -> detail.toMap)
    val w = new PrintWriter(new File(a("out")))
    try w.println(Json.write(out)) finally w.close()
    spark.stop()
  }
}

/** A minimal JSON writer for the result file. */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
