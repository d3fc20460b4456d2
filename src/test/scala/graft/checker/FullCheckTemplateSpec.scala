package graft.checker

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model.Stores
import graft.streaming.Backup

/** The full check's plan is analyzed once per store layout and phase set
  * and rebound to each bundle: which bundles share a template, and that
  * a rebound plan checks exactly what a fresh one would. */
class FullCheckTemplateSpec extends SparkTestBase {
  private lazy val a: Stores = Corruption(ScaleCheck.stores(spark, 500L)).persistAll()
  private lazy val b: Stores = Corruption(ScaleCheck.stores(spark, 300L)).persistAll()

  /** templates `body` builds */
  private def built(body: => Any): Int = {
    val before = FullCheck.templatesBuilt.get()
    body
    FullCheck.templatesBuilt.get() - before
  }

  /** `s` with a layout no other test builds: one extra node column */
  private def relaid(s: Stores, tag: String): Stores =
    s.copy(nodes = s.nodes.withColumn(s"layout_$tag", lit(0)))

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  /** `df`'s rows with its plan cut off */
  private def fixed(df: DataFrame): DataFrame = df.localCheckpoint(true)

  test("a second bundle of the same layout builds no new template") {
    assert(built(FullCheck.violations(relaid(a, "same")).count()) === 1)
    assert(built(FullCheck.violations(relaid(b, "same")).count()) === 0)
    // and the bundle it was not built from checks as its own layout does
    assert(multiset(FullCheck.violations(relaid(b, "same"))) ===
      multiset(FullCheck.violations(b)))
  }

  test("a restored copy, every field nullable, reuses the live bundle's template") {
    val dir = Files.createTempDirectory("graft-check-template").toString
    Backup.fullStores(a, dir)
    val copy = Backup.restoreStores(spark, dir).persistAll()
    try {
      assert(copy.named.forall(_._2.schema.fields.forall(_.nullable)))
      assert(a.nodes.schema.fields.exists(!_.nullable))
      FullCheck.violations(a)
      var got = Map.empty[Seq[Any], Int]
      assert(built { got = multiset(FullCheck.violations(copy)) } === 0)
      assert(got === multiset(FullCheck.violations(a)))
    } finally copy.unpersistAll()
  }

  test("a bundle whose layout differs builds its own template") {
    // one column re-typed: the check never reads `vlen`, so the
    // violations stay those of the original bundle
    val retyped = b.copy(blocks = b.blocks.withColumn("vlen", col("vlen").cast("int")))
    val v = FullCheck.violations(b)
    assert(built(FullCheck.violations(retyped)) === 1)
    assert(multiset(FullCheck.violations(retyped)) === multiset(v))
  }

  test("each distinct phase set gets its own template") {
    val s = relaid(b, "phases")
    assert(built(FullCheck.phases(s)) === 8)
    assert(built(FullCheck.violations(s)) === 1)
    assert(built { FullCheck.phases(s); FullCheck.violations(s) } === 0)
  }

  test("one template twice in one plan: exceptAll and unionAll of two bundles") {
    val (va, vb) = (FullCheck.violations(a), FullCheck.violations(b))
    val (fa, fb) = (fixed(FullCheck.violations(a)), fixed(FullCheck.violations(b)))
    val aNotB = multiset(fa.exceptAll(fb))
    assert(aNotB.nonEmpty)
    assert(multiset(va.exceptAll(vb)) === aNotB)
    assert(multiset(vb.exceptAll(va)) === multiset(fb.exceptAll(fa)))
    assert(multiset(va.unionAll(vb)) === multiset(fa.unionAll(fb)))
    assert(multiset(va.exceptAll(va)).isEmpty)
  }

  test("a bundle in which two stores are the same frame checks correctly") {
    // the string store read as both dynamic stores, against a copy of it
    // under a plan of its own
    val twice = b.copy(arrays = b.dyns)
    val apart = b.copy(arrays = spark.createDataFrame(b.dyns.rdd, b.dyns.schema))
    val want = multiset(FullCheck.violations(apart))
    assert(want.keys.exists(_.head == "array"))
    assert(multiset(FullCheck.violations(twice)) === want)
  }

  test("two threads checking different bundles concurrently get correct results") {
    val (sa, sb) = (relaid(a, "threads"), relaid(b, "threads"))
    val (wa, wb) = (multiset(FullCheck.violations(a)), multiset(FullCheck.violations(b)))
    val n = built {
      val got = Await.result(Future.sequence(Seq(sa, sb, sa, sb).map(s =>
        Future(multiset(FullCheck.violations(s))))), Duration.Inf)
      assert(got === Seq(wa, wb, wa, wb))
    }
    assert(n === 1)
  }
}
