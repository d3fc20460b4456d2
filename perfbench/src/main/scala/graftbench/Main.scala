package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark driver. One process, `local[<cores>]`, one client: every
  * workload is a closed loop of cycles. `--trace 0` reports the
  * end-to-end metrics, `--trace 1` the per-layer metrics from spans and
  * span-attributed Spark counters. Prints a detail line, then the
  * result line last.
  *
  * Usage: Main --workload <store_check|graph_fixpoint>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir>
  */
object Main {
  val CallBudgetS = 60.0
  /** cycles a run measures however long they take, so that its medians
    * never rest on fewer samples */
  val MinCycles = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val load0 = Jvm.load1
    val jvmS = Jvm.uptimeS

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "store_check" => new StoreCheck(spark, seed, work)
      case "graph_fixpoint" => new GraphFixpoint(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val h = new Harness(spark, CallBudgetS)

    // set-up: generate the inputs once and write them as parquet
    val input = s"$work/input"
    val g0 = System.nanoTime()
    val bytes = w.generate(input)
    val genS = (System.nanoTime() - g0) / 1e9
    val l0 = System.nanoTime()
    w.load(input)
    val loadS = (System.nanoTime() - l0) / 1e9
    // determinism self-test: the inputs read back equal a second,
    // independent generation from the seed, and another seed changes
    // the first table
    val st0 = System.nanoTime()
    val (records, fp, same) = w.selfTest(input)
    h.attempted += 1
    h.verify("seed_selftest", same, s"fingerprint $fp is not reproducible or does not depend on the seed")
    val selfTestS = (System.nanoTime() - st0) / 1e9

    // the one-shot calls the cycles start from, traced in a traced run
    val p0 = System.nanoTime()
    h.tracer.trace = -1
    h.tracer.set(traced)
    w.prepare(h)
    h.tracer.set(false)
    val prepareS = (System.nanoTime() - p0) / 1e9
    val oneShot = h.timedNames

    // warm-in (JIT, codegen, first-touch caches), untimed
    val warm0 = System.nanoTime()
    w.warmIn(h)
    val warmS = (System.nanoTime() - warm0) / 1e9
    h.clearTimes(oneShot)
    val setupS = (System.nanoTime() - t0) / 1e9

    // measured closed loop; a traced run alternates traced and untraced
    // cycles so the tracing overhead is measured in the same process
    val mainTraced, mainUntraced = scala.collection.mutable.ArrayBuffer[Double]()
    val m0 = System.nanoTime()
    var i = 0
    var stop = false
    while (!stop && (i < MinCycles || (System.nanoTime() - m0) / 1e9 < seconds)) {
      val on = traced && i % 2 == 0
      h.tracer.set(on)
      h.tracer.trace = i
      val f0 = h.failed
      val n0 = h.seconds(w.mainCall).size
      val c0 = System.nanoTime()
      w.cycle(h)
      val cs = (System.nanoTime() - c0) / 1e9
      if (h.failed == f0) {
        h.record("cycle", cs)
        if (traced) h.record(if (on) "cycle.traced" else "cycle.untraced", cs)
        (if (on) mainTraced else mainUntraced) ++= h.seconds(w.mainCall).drop(n0)
      }
      w.afterCycle(h, on)
      stop = h.failures.exists(_.startsWith("timeout:"))
      i += 1
    }
    val measureS = (System.nanoTime() - m0) / 1e9
    h.tracer.set(false)
    val spans = h.tracer.spans

    def ms(xs: Seq[Double]) = Stats.median(xs) * 1e3
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("cycle_p50_ms", ms(h.seconds("cycle")), "ms"),
        ("main_call_p50_ms", ms(h.seconds(w.mainCall)), "ms"),
        ("throughput_per_s", w.throughput(h), "1/s"))
      else {
        val top = spans.filter(s => s.parent == 0 && s.trace >= 0)
        val inc = Inclusive.of(spans)
        val perCycle = top.groupBy(_.trace).values.toSeq.map { ss =>
          ss.map(s => inc(s.id)).foldLeft(Inclusive.zero)(_ + _)
        }
        val cyc = h.seconds("cycle.traced")
        def med(f: Inclusive => Double) = Stats.median(perCycle.map(f))
        // fetch wait is always 0 at local[n] (every shuffle block is local)
        Workload.callFigures(h, spans, w.mainCall, "main", h.cores)
          .filterNot(_._1 == "main.fetch_wait_s") ++ Seq(
          ("cycle.jobs", med(_.jobs.toDouble), "count"),
          ("cycle.tasks", med(_.tasks.toDouble), "count"),
          ("cycle.exec_s", med(_.execS), "s"),
          ("cycle.shuffle_write_mb", med(_.shuffleWriteMb), "MB"),
          ("cycle.idle_core_frac", Workload.idle(med(_.execS), Stats.median(cyc), h.cores), "ratio"),
          ("spark.gc_s", Jvm.gcS, "s"),
          ("spark.heap_peak_mb", Jvm.heapPeakMb, "MB"),
          ("spark.cached_mb", h.peakCachedMb, "MB"),
          ("trace.overhead.cycle_ms", ms(cyc) - ms(h.seconds("cycle.untraced")), "ms"),
          ("trace.overhead.main_call_ms", ms(mainTraced.toSeq) - ms(mainUntraced.toSeq), "ms"))
      }

    val wrong = h.failures.exists(_.startsWith("wrong:"))
    val cycles = h.seconds("cycle").size
    def table(xs: Seq[(String, Double, String)]) =
      xs.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val detail = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "loop" -> "closed", "clients" -> 1,
      "inputs" -> Map("records" -> records, "bytes" -> bytes, "fingerprint" -> fp),
      "covariates" -> Map("nproc" -> cores, "heap_max_mb" -> Jvm.heapMaxMb,
        "load1_start" -> load0, "load1_end" -> Jvm.load1),
      "setup" -> Map("jvm_s" -> jvmS, "session_s" -> sessionS, "generate_s" -> genS, "load_s" -> loadS,
        "selftest_s" -> selfTestS, "prepare_s" -> prepareS, "warm_s" -> warmS),
      "measure_s" -> measureS, "cycles" -> cycles, "cycle_s" -> h.seconds("cycle"),
      "throughput_unit" -> w.throughputUnit,
      "op_fail_ratio" -> h.failed.toDouble / math.max(1L, h.attempted),
      "named" -> table(Seq(("setup_s", setupS, "s"),
        ("op_fail_ratio", h.failed.toDouble / math.max(1L, h.attempted), "ratio"),
        ("peak_cached_mb", h.peakCachedMb, "MB")) ++ w.named(h)),
      "layers" -> (if (traced) table(w.layers(h, spans)) else Map.empty),
      "failures" -> h.failures.toSeq)
    println(Json(Map("detail" -> detail)))

    if (traced) writeSpans(s"$work/spans.jsonl", spans, h)
    val result = Map(
      "correct" -> (!wrong && cycles > 0),
      "attempted" -> h.attempted,
      "failed" -> h.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    println(Json(result))
    Console.out.flush()
    h.close()
    spark.stop()
    sys.exit(0)
  }

  private def writeSpans(path: String, spans: Seq[Span], h: Harness): Unit = {
    val self = h.tracer.selfS(spans)
    val inc = Inclusive.of(spans)
    val lines = spans.map { s =>
      val i = inc(s.id)
      Json(Map("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "wall_s" -> s.wallS, "self_s" -> self(s.id),
        "jobs" -> i.jobs, "stages" -> i.stages, "tasks" -> i.tasks, "exec_s" -> i.execS,
        "gc_s" -> i.gcS, "fetch_wait_s" -> i.fetchWaitS, "shuffle_write_mb" -> i.shuffleWriteMb))
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
