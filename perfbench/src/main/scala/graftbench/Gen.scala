package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure column expression of
  * (seed, stream, row id) over `range()`, so partitioning cannot change
  * the data: the same seed always yields the same rows. */
object Gen {
  def h(seed: Long, stream: Int, cs: Column*): Column =
    xxhash64(lit(seed) +: lit(stream) +: cs: _*)
  /** uniform integer in [0, m) */
  def below(m: Long, seed: Long, stream: Int, cs: Column*): Column =
    pmod(h(seed, stream, cs: _*), lit(m))

  /** Order-independent fingerprints of groups of named tables, all in
    * one job: per group, the total row count and the XOR of per-row
    * hashes salted with the table's name. */
  def fingerprints(groups: Seq[Seq[(String, DataFrame)]]): Seq[(Long, Long)] = {
    val hashes = groups.zipWithIndex.flatMap { case (tables, g) =>
      tables.map { case (n, df) =>
        df.select(lit(g).as("g"), xxhash64(lit(n) +: df.columns.toSeq.map(col): _*).as("h"))
      }
    }.reduce(_ unionAll _)
    val got = hashes.groupBy("g").agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    groups.indices.map(got.getOrElse(_, (0L, 0L)))
  }

  /** Store-check graph in the reference generator's shape
    * (`FOO:2,BAR:1` relationships per node; INTEGER:2, STRING:1,
    * BYTE_ARRAY:1 node properties, carried as value lengths). Nodes
    * `from..to` (ids start at 1; id 0 is the NeoStore record). Base nodes
    * aim a seeded share of their relationships at a seeded hub set; a
    * delta slice (`from > 1`) only links inside itself, so appending it
    * adds records without changing existing ones. Relationship ids lie
    * above every node id. */
  final case class StoreShape(base: Long, delta: Long, hubs: Int, hubPct: Int) {
    /** the delta starts one id past the base: the corruption rules may
      * point a base record at id + 1, which must not be a delta record */
    val deltaFrom: Long = base + 2
    val last: Long = deltaFrom + delta - 1
    val relBase: Long = last + 1
  }

  def storeNodes(spark: SparkSession, seed: Long, from: Long, to: Long): DataFrame =
    spark.range(from, to + 1).select(col("id"),
      (lit(50L) + below(71, seed, 1, col("id"))).as("str_len"),
      lit(50L).as("arr_len"))

  def storeRels(spark: SparkSession, seed: Long, sh: StoreShape,
                from: Long, to: Long): DataFrame = {
    val e = Seq(col("src"), col("j"))
    val uniform = lit(from) + below(to - from + 1, seed, 5, e: _*)
    val hub = lit(1L) + below(sh.base, seed, 3, below(sh.hubs.toLong, seed, 4, e: _*))
    val dst =
      if (from > 1) uniform
      else when(below(100, seed, 2, e: _*) < sh.hubPct, hub).otherwise(uniform)
    spark.range(from, to + 1).select(col("id").as("src"),
        explode(sequence(lit(0), lit(2))).as("j"))
      .select((lit(sh.relBase) + (col("src") - 1) * 3 + col("j")).as("id"),
        col("src"), dst.as("dst"),
        when(col("j") < 2, lit(0)).otherwise(lit(1)).as("type_id"))
  }

  /** `wide`: n nodes, each with `degree` edges to uniform targets — a
    * random graph of small diameter. */
  def wideNodes(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("node"))
  def wideEdges(spark: SparkSession, seed: Long, n: Long, degree: Int): DataFrame =
    spark.range(n).select(col("id").as("src"), explode(sequence(lit(0), lit(degree - 1))).as("j"))
      .select(col("src"), below(n, seed, 10, col("src"), col("j")).as("dst"))

  /** `deep`: `chains` chains in slots of `len` ids; chain 0 has exactly
    * `len` nodes (which fixes the round count), the others a seeded
    * length in [len/2, len]. Edges run head to tail with weights in
    * [1, 7]. SSSP sources: the head of chain 0 and of a seeded quarter of
    * the other chains (label 0); every other node starts unreachable. */
  def deepNodes(spark: SparkSession, seed: Long, chains: Int, len: Int,
                unreachable: Long): DataFrame = {
    val c = expr(s"id div $len")
    val i = pmod(col("id"), lit(len.toLong))
    val chainLen = when(c === 0, lit(len.toLong))
      .otherwise(lit(len / 2L) + below(len / 2 + 1L, seed, 11, c))
    val source = i === 0 && (c === 0 || below(4, seed, 13, c) === 0)
    spark.range(chains.toLong * len)
      .filter(i < chainLen)
      .select(col("id").as("node"),
        when(source, lit(0L)).otherwise(lit(unreachable)).as("label"),
        (i === chainLen - 1).as("tail"))
  }
  def deepEdges(nodes: DataFrame, seed: Long): DataFrame =
    nodes.filter(!col("tail"))
      .select(col("node").as("src"), (col("node") + 1).as("dst"),
        (lit(1L) + below(7, seed, 12, col("node"))).as("w"))
}
