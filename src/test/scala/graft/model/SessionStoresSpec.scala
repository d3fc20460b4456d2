package graft.model

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.checker.FullCheck
import graft.operators.EngineSession

/** The OLTP facade's store image must satisfy the SAME consistency
  * checker as the analytic twin: any committed session state derives
  * to zero violations, and a corrupted image fires the usual checks —
  * one store, two access paths, exactly like the reference. */
class SessionStoresSpec extends SparkTestBase {

  private def buildSession(): EngineSession = {
    val s = new EngineSession(spark)
    val tx = s.beginTx()
    val a = tx.createNode(); val b = tx.createNode(); val c = tx.createNode()
    val r1 = tx.createRelationship(a, b, "KNOWS")
    tx.createRelationship(b, c, "KNOWS")
    tx.createRelationship(a, c, "WORKS_WITH")
    tx.setProperty(a, "name", "alice")
    tx.setProperty(a, "bio", "a string long enough to overflow a block")
    tx.setProperty(b, "name", "bob")
    tx.setRelProperty(r1, "since", "2024")
    tx.setGraphProperty("version", "1.9")
    tx.success(); tx.finish()
    s
  }

  test("a committed session derives to a violation-free record image") {
    val stores = SessionStores.derive(buildSession())
    assert(FullCheck.violations(stores).count() === 0L)
    // sanity: every store is populated (props on nodes, a rel and a
    // graph owner, an overflowing string chain)
    assert(stores.props.count() > 0)
    assert(stores.dyns.count() > 1)
    assert(stores.neo.head().getLong(2) === SessionStores.GraphOwner * 4)
  }

  test("a corrupted session image fires the shared checks") {
    val stores = SessionStores.derive(buildSession())
    val bad = stores.copy(
      rels = stores.rels.withColumn("first_next",
        when(col("id") % 2 === 1, lit(999999L)).otherwise(col("first_next"))),
      nodes = stores.nodes.withColumn("next_prop",
        when(col("id") === 1, lit(777L)).otherwise(col("next_prop"))))
    val v = FullCheck.violations(bad).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(v.contains(("relationship", "source_next_not_in_use")) ||
      v.contains(("relationship", "target_next_not_in_use")), v.toString)
    assert(v.contains(("node", "property_not_in_use")), v.toString)
  }

  test("mutation across transactions keeps the image consistent") {
    val s = buildSession()
    val tx = s.beginTx()
    val d = tx.createNode()
    tx.setProperty(d, "name", "dora")
    tx.removeProperty(1L, "bio")
    tx.success(); tx.finish()
    assert(FullCheck.violations(SessionStores.derive(s)).count() === 0L)
  }

  test("a session with a self-loop derives to a violation-free record image") {
    val s = new EngineSession(spark)
    val tx = s.beginTx()
    val a = tx.createNode(); val b = tx.createNode()
    tx.createRelationship(a, a, "KNOWS")
    // two parallel rels share a's chain with the loop
    tx.createRelationship(a, b, "KNOWS")
    tx.createRelationship(a, b, "KNOWS")
    tx.setProperty(a, "name", "alice")
    tx.success(); tx.finish()
    assert(FullCheck.violations(SessionStores.derive(s)).count() === 0L)
  }

  test("a session string longer than 128 chars keeps its string-store ids unique") {
    val s = new EngineSession(spark)
    val tx = s.beginTx()
    val a = tx.createNode()
    // key-sorted: `a` (13 blocks) is chained before `b` (3 blocks)
    tx.setProperty(a, "a", "x" * 200)
    tx.setProperty(a, "b", "y" * 40)
    tx.success(); tx.finish()
    val stores = SessionStores.derive(s)
    val dyns = stores.dyns.collect()
    assert(dyns.length === 13 + 3)
    assert(dyns.map(_.getAs[Long]("id")).distinct.length === dyns.length)
    val v = FullCheck.violations(stores).collect()
    assert(v.isEmpty, v.mkString(", "))
  }
}
