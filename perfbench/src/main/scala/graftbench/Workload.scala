package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: seeded inputs written as parquet during
  * set-up, then a closed loop of cycles run by one client. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  /** the workload's heaviest call, reported as `main_call_p50_ms` */
  def mainCall: String
  /** the unit counted by `throughput_per_s` */
  def throughputUnit: String

  /** the generated input tables for a seed; the first one depends on it */
  def tables(seed: Long): Seq[(String, DataFrame)]
  /** read the inputs back from `dir` and keep them for the cycles */
  def load(dir: String): Unit
  /** one-shot timed calls after the inputs are loaded: state the cycles
    * start from, built once per run */
  def prepare(h: Harness): Unit = ()
  /** untimed work after [[prepare]] that runs the cycle's code paths,
    * so JIT and codegen warm-up land in set-up, not in the cycles */
  def warmIn(h: Harness): Unit
  /** one closed-loop cycle; the caller times it */
  def cycle(h: Harness): Unit
  /** untimed work after a cycle: extra traced-only probes, clean-up */
  def afterCycle(h: Harness, traced: Boolean): Unit = ()
  /** work per second over the measured cycles */
  def throughput(h: Harness): Double
  /** the workload's own end-to-end figures, by their layer names */
  def named(h: Harness): Seq[(String, Double, String)]
  /** per-layer figures from the traced cycles' spans */
  def layers(h: Harness, spans: Seq[Span]): Seq[(String, Double, String)]

  /** Write this seed's inputs under `dir`, one table per thread; returns
    * their size on disk. */
  def generate(dir: String): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = tables(seed).map { case (n, df) =>
      Future {
        df.write.mode("overwrite").parquet(s"$dir/$n")
        Workload.bytes(Paths.get(dir, n))
      }
    }
    Await.result(Future.sequence(writes), scala.concurrent.duration.Duration.Inf).sum
  }

  /** Determinism self-test, in one job: the inputs read back from `dir`
    * have the fingerprint the generator alone gives for the seed, and
    * the next seed changes the first table. Returns the rows read back,
    * their fingerprint and whether the test passed. */
  def selfTest(dir: String): (Long, Long, Boolean) = {
    val mine = tables(seed)
    val Seq((rows, read), (_, gen), (_, head), (_, next)) = Gen.fingerprints(Seq(
      mine.map { case (n, _) => n -> spark.read.parquet(s"$dir/$n") },
      mine, mine.take(1), tables(seed + 1).take(1)))
    (rows, read, read == gen && head != next)
  }
}

object Workload {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** Spans named `name` with their inclusive counters. */
  def spansNamed(spans: Seq[Span], name: String): Seq[(Span, Inclusive)] = {
    val inc = Inclusive.of(spans)
    spans.filter(_.name == name).map(s => s -> inc(s.id))
  }

  /** Median per-call figures of the spans named `name`, under `prefix`. */
  def callFigures(h: Harness, spans: Seq[Span], name: String, prefix: String,
                  cores: Int): Seq[(String, Double, String)] = {
    val xs = spansNamed(spans, name)
    if (xs.isEmpty) return Nil
    def m(f: ((Span, Inclusive)) => Double) = Stats.median(xs.map(f))
    val self = h.tracer.selfS(spans)
    Seq(
      (s"$prefix.jobs", m(_._2.jobs.toDouble), "count"),
      (s"$prefix.stages", m(_._2.stages.toDouble), "count"),
      (s"$prefix.tasks", m(_._2.tasks.toDouble), "count"),
      (s"$prefix.exec_s", m(_._2.execS), "s"),
      (s"$prefix.gc_s", m(_._2.gcS), "s"),
      (s"$prefix.shuffle_write_mb", m(_._2.shuffleWriteMb), "MB"),
      (s"$prefix.fetch_wait_s", m(_._2.fetchWaitS), "s"),
      (s"$prefix.plan_ms", m { case (s, _) => planMs(s, spans) }, "ms"),
      (s"$prefix.self_s", m { case (s, _) => self(s.id) }, "s"),
      (s"$prefix.idle_core_frac", m { case (s, i) => idle(i.execS, s.wallS, cores) }, "ratio"))
  }

  def idle(execS: Double, wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else 1.0 - execS / (wallS * cores)

  /** From a call's start to the first job it (or a descendant) started. */
  def planMs(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.groupBy(_.parent)
    def first(x: Span): Long = (x.firstJobMs +: kids.getOrElse(x.id, Nil).map(first)).min
    val f = first(s)
    if (f == Long.MaxValue) s.wallS * 1e3 else (f - s.startMs).toDouble
  }
}
