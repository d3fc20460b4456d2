package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Bucketed co-located join: result identical to the plain join, and
  * the join subtree carries NO shuffle exchange — bucket partitioning
  * satisfies the join distribution on both sides. */
class BucketingSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("bucketed join result equals the direct join") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val direct = graft.sources.Tpch.table(spark, dir, "lineitem")
      .withColumn("rev_c",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round((1.0 - l_discount) * 100) AS BIGINT)"))
      .join(graft.sources.Tpch.table(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(sum("rev_c").as("revenue_c"), count(lit(1)).as("n_items"))
    assert(rows(Bucketing.revenueByPriority(spark, dir)) === rows(direct))
  }

  test("the bucketed join plans without a shuffle on either side") {
    // force the merge join path (a broadcast would hide the property
    // under test: bucket partitioning satisfying the distribution)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Bucketing.revenueByPriority(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // exactly ONE hash exchange in the whole plan: the final groupBy.
      // The join children read bucketed scans and need no shuffle.
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges === 1, plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed record stores: props⋈blocks pointer join carries ZERO exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = BucketedStores.blockAttach(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty, plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed record stores: J6 chain join's store side is bucket-local (one exchange, on the pointer side only)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = BucketedStores.propChainsBucketed(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // the derived pointer set shuffles to meet the store's bucketing;
      // the store side itself never re-shuffles (the reference's
      // MultiPassStore routing, paid once at layout time)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges === 1, plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed J6 yields the exact violation multiset of the in-session path") {
    import graft.checker.{Corruption, FullCheck}
    import graft.model.RecordStores
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val inSession = FullCheck.violations(Corruption(RecordStores.deriveCached(spark, dir)))
      .filter(col("record_type") === "property" && col("violation").isin(
        "prev_not_in_use", "next_not_in_use",
        "prev_does_not_reference_back", "next_does_not_reference_back"))
    assert(rows(BucketedStores.propChainsBucketed(spark, dir)) === rows(inSession))
  }
}
