package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tpch

/** Bucketing for co-located joins (SCALE.md "partitioning & shuffle"):
  * the fact tables most frequently joined on the same key are written
  * ONCE as bucketed tables (hash(l_orderkey) mod N buckets, sorted
  * within buckets), after which every orderkey join between them is
  * bucket-local — no shuffle exchange on either side, and the
  * in-bucket sort order feeds SortMergeJoin without a Sort.
  *
  * At 100 TB this is the difference between re-shuffling two
  * multi-terabyte tables per join and a pure map-side merge: the
  * reference gets the same effect from id-range store partitioning
  * (MultiPassStore.java:24-230 processes co-located id ranges); Spark's
  * native form is `bucketBy` + `sortBy` on the write path.
  *
  * The bucketed twins are created lazily per (session, dir) under the
  * JVM temp dir (the catalog is session-scoped, so the memo re-creates
  * the catalog entry per session; the parquet files are overwritten,
  * not appended).
  */
object Bucketing {
  val NumBuckets = 8

  private val memo = new graft.SessionMemo[(String, String)]

  private def tables(spark: SparkSession, dir: String): (String, String) =
    memo.getOrElseUpdate(spark, dir) {
      val tag = Integer.toHexString(dir.hashCode & 0x7fffffff)
      val li = s"graft_li_bucketed_$tag"
      val ord = s"graft_ord_bucketed_$tag"
      val base = new java.io.File(sys.props("java.io.tmpdir"), s"graft_bucketed_$tag")
      if (!spark.catalog.tableExists(li)) {
        Tpch.table(spark, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .write.mode("overwrite")
          .option("path", new java.io.File(base, "lineitem").getAbsolutePath)
          .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
          .format("parquet").saveAsTable(li)
      }
      if (!spark.catalog.tableExists(ord)) {
        Tpch.table(spark, dir, "orders")
          .select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite")
          .option("path", new java.io.File(base, "orders").getAbsolutePath)
          .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
          .format("parquet").saveAsTable(ord)
      }
      (li, ord)
    }

  /** Pre-creates the bucketed twins (bench warmup): the write is the
    * one-time ETL materialization, not part of steady-state query
    * cost. */
  def warm(spark: SparkSession, dir: String): Unit = {
    tables(spark, dir)
    ()
  }

  /** Revenue per order priority over the bucketed twins: the
    * lineitem⋈orders join carries no Exchange on either side (bucket
    * partitioning satisfies the join's distribution requirement) — the
    * one shuffle in the plan is the final small groupBy. */
  def revenueByPriority(spark: SparkSession, dir: String): DataFrame = {
    val (li, ord) = tables(spark, dir)
    spark.table(li)
      .withColumn("rev_c",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round((1.0 - l_discount) * 100) AS BIGINT)"))
      .join(spark.table(ord), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(sum("rev_c").as("revenue_c"), count(lit(1)).as("n_items"))
  }
}

/** O3 for the RECORD stores: the checker's big stores landed as
  * bucketed-by-id tables — the persistent-layout form of the
  * reference's MultiPassStore id-range partitioning
  * (MultiPassStore.java:24-230: reference checks are routed to the
  * id-range pass that holds the referenced record; here the "pass" is a
  * bucket, and routing is the hash distribution the scan already has).
  *
  * Two pointer joins prove the layout pays:
  *  - [[blockAttach]] (property record ⋈ its blocks on id=prop_id):
  *    both sides bucket-local — ZERO exchanges in the whole join;
  *  - [[propChainsBucketed]] (J6 chain check): the STORE side — the
  *    full random-access side the reference partitions into passes —
  *    reads bucket-local with no exchange; only the derived pointer
  *    set shuffles to meet it (one exchange instead of two).
  *
  * The in-session warm path keeps the checkpoint-partitioned stores
  * (cc_violations unchanged); this is the land-as-tables variant a
  * standing 100 TB deployment would choose so EVERY session skips the
  * derivation shuffle. */
object BucketedStores {
  val NumBuckets = 8

  private val memo = new graft.SessionMemo[(String, String)]

  private def tables(spark: SparkSession, dir: String): (String, String) =
    memo.getOrElseUpdate(spark, dir) {
      val corrupted = graft.checker.Corruption(
        graft.model.RecordStores.deriveCached(spark, dir))
      val tag = Integer.toHexString(dir.hashCode & 0x7fffffff)
      val props = s"graft_props_bucketed_$tag"
      val blocks = s"graft_blocks_bucketed_$tag"
      val base = new java.io.File(sys.props("java.io.tmpdir"), s"graft_rec_bucketed_$tag")
      if (!spark.catalog.tableExists(props)) {
        corrupted.props.write.mode("overwrite")
          .option("path", new java.io.File(base, "props").getAbsolutePath)
          .bucketBy(NumBuckets, "id").sortBy("id")
          .format("parquet").saveAsTable(props)
      }
      if (!spark.catalog.tableExists(blocks)) {
        corrupted.blocks.write.mode("overwrite")
          .option("path", new java.io.File(base, "blocks").getAbsolutePath)
          .bucketBy(NumBuckets, "prop_id").sortBy("prop_id")
          .format("parquet").saveAsTable(blocks)
      }
      (props, blocks)
    }

  def warm(spark: SparkSession, dir: String): Unit = {
    tables(spark, dir)
    ()
  }

  /** property record ⋈ its blocks: both stores bucketed on the join
    * key (props.id / blocks.prop_id, same bucket count) — the join
    * requires no redistribution at all. */
  def blockAttach(spark: SparkSession, dir: String): DataFrame = {
    val (props, blocks) = tables(spark, dir)
    spark.table(props).filter(col("in_use"))
      .join(spark.table(blocks), col("id") === col("prop_id"))
      .select(col("id"), col("idx"), col("key_id"), col("ptype"),
        col("owner"), col("prev_prop"), col("next_prop"))
  }

  /** J6 (property chain prev/next reciprocity) with the store side of
    * the join reading the bucketed table — identical violations to the
    * `prev`/`next` pointers of [[graft.checker.FullCheck.violations]]
    * over the same corrupted stores. */
  def propChainsBucketed(spark: SparkSession, dir: String): DataFrame = {
    val (props, _) = tables(spark, dir)
    val NIL = -1L
    val o = spark.table(props).select(col("id").as("o_id"),
      col("in_use").as("o_in_use"),
      col("prev_prop").as("o_prev"), col("next_prop").as("o_next"))
    val ptrs = spark.table(props).filter(col("in_use"))
      .select(col("id"), explode(array(
        struct(lit("prev").as("nm"), col("prev_prop").as("ptr"),
          lit(true).as("back_is_next")),
        struct(lit("next").as("nm"), col("next_prop").as("ptr"),
          lit(false).as("back_is_next")))).as("p"))
      .select(col("id"), col("p.nm").as("nm"), col("p.ptr").as("ptr"),
        col("p.back_is_next").as("back_is_next"))
      .filter(col("ptr") =!= NIL)
    val back = when(col("back_is_next"), col("o_next")).otherwise(col("o_prev"))
    ptrs.join(o, col("ptr") === col("o_id"), "left")
      .withColumn("violation",
        when(col("o_id").isNull || !col("o_in_use"),
          concat(col("nm"), lit("_not_in_use")))
          .when(back =!= col("id"),
            concat(col("nm"), lit("_does_not_reference_back"))))
      .filter(col("violation").isNotNull)
      .select(lit("property").as("record_type"), col("violation"),
        col("id").as("record_id"))
  }
}
