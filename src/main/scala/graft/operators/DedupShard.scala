package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SHARDED maintained index for streaming near-dup detection — the
  * 100 TB form of [[DedupStream]]'s contract that round 9 asserted but
  * never demonstrated: the per-batch probe there was a full columnar
  * pass over the cached base posting table. Here the index is laid out
  * the way a production deployment stores it — the posting table and
  * its df sidecar PARTITIONED on `shard = pmod(sfp, nShards)`, the
  * per-doc capped-size sidecar partitioned on `dshard = pmod(doc_id,
  * nShards)` — and a batch probes ONLY the delta's key shards
  * (partition-pruned parquet scans), so probe cost is proportional to
  * the shards a small delta touches, not to the base.
  *
  * Result contract: pair-for-pair equal to [[DedupStream.batchPairs]]
  * (hence to the `dd_incremental` union-recompute oracle). The
  * restriction is lossless because every quantity the score needs is
  * reconstructible from the touched shards plus the size sidecar:
  *  - candidate keys and df(base)+df(delta) caps involve DELTA keys
  *    only (all in touched shards by construction);
  *  - a candidate pair's INTERSECTION keys are shared keys, hence a
  *    subset of the delta doc's keys — again touched shards;
  *  - a base doc's capped size under the union df differs from its
  *    precomputed base-only capped size (`size0`) exactly on keys the
  *    delta pushed over the cap (df_base ≤ MaxDf < df_base+df_delta) —
  *    delta keys, so the correction (`over`) also reads touched shards
  *    only. nb = size0 − over.
  * DedupStreamSpec asserts the equality against batchPairs row-for-row;
  * `dd_shard_probe` hash-gates it against the SAME DuckDB oracle as
  * `dd_incremental` every round.
  *
  * Driver-side collects: the touched key-shard list and the candidate
  * doc-shard list — both bounded by `nShards` ints (the routing
  * metadata a production probe router holds), same sanction as the
  * per-batch control ids in [[DedupStream]].
  *
  * Reference analog: the per-transaction contract of the incremental
  * checker — work bounded by the CHANGE, never the store
  * (checking/incremental/IncrementalDiffCheck.java:55); here the
  * change is the crawl delta and the bound is its key shards.
  */
object DedupShard {
  /** shard count of the query path: the sf-dir corpora are tiny, and
    * 64 keeps the partition-dir count sane. */
  val QueryShards = 64

  /** Write the sharded index (posting table, df sidecar, capped-size
    * sidecar) under `path`. One corpus pass each — index construction
    * is the batch job; probes are the recurring cost. */
  def buildIndex(spark: SparkSession, base: DataFrame, path: String,
                 nShards: Int): Unit = {
    // repartition ON the partition column before partitionBy: without
    // it every write task opens a file in every shard dir (32 tasks ×
    // 4096 shards = 131k small files, measured before this exchange
    // was added); with it each shard is written by exactly one task,
    // so files == shards
    val post = Dedup.rawPostings(base)
      .withColumn("shard", pmod(col("sfp"), lit(nShards.toLong)))
      .repartition(col("shard"))
    post.write.mode("overwrite").partitionBy("shard").parquet(s"$path/post")
    val postR = spark.read.parquet(s"$path/post")
    val dfT = postR.groupBy("shard", "sfp").agg(count(lit(1)).as("df"))
    dfT.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/df")
    // per-doc capped size under the BASE-ONLY df — the sidecar a
    // maintained index keeps current; probes correct it for the delta
    val size0 = postR
      .join(dfT.filter(col("df") <= Dedup.MaxDf).select("sfp"), "sfp")
      .groupBy("doc_id").agg(count(lit(1)).as("size0"))
      .withColumn("dshard", pmod(col("doc_id"), lit(nShards.toLong)))
    size0.repartition(col("dshard"))
      .write.mode("overwrite").partitionBy("dshard").parquet(s"$path/size0")
  }

  /** Per-batch probe stats alongside the result: how much of the index
    * the batch actually read. */
  final case class ProbeStats(shardsTouched: Int, nShards: Int,
                              postingsScanned: Long)

  /** The index's three parquet tables, opened ONCE per (session, path)
    * and reused by every probe: a `spark.read.parquet` DataFrame holds
    * its resolved `InMemoryFileIndex`, so the per-probe directory
    * re-listing (microseconds on local fs, a metastore/file-listing
    * job per batch on an object store — the r10 caveat) happens once
    * at registration, exactly like registering the index as external
    * tables. Partition pruning on `shard`/`dshard` still happens at
    * PLANNING time per probe — the cached listing carries the
    * partition values, so pruned scans are unaffected (plan-pinned in
    * Round10OpsSpec and Round11OpsSpec). Reference analog: the maintained-index contract
    * of checking/incremental/IncrementalDiffCheck.java:55 — the index
    * is long-lived state, only the delta's work recurs. */
  private val tablesMemo = new graft.SessionMemo[(DataFrame, DataFrame, DataFrame)]
  def indexTables(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame) =
    tablesMemo.getOrElseUpdate(spark, path)((
      spark.read.parquet(s"$path/post"),
      spark.read.parquet(s"$path/df"),
      spark.read.parquet(s"$path/size0")))

  /** Probe the sharded index at `path` with a delta document slice;
    * returns (pairs ≡ batchPairs' (a, b, jacc), stats). The index
    * tables come from [[indexTables]] — file listing amortized across
    * probes; each batch pays only its pruned scans. */
  def probe(spark: SparkSession, path: String, nShards: Int,
            delta: DataFrame): (DataFrame, ProbeStats) = {
    val (postTbl, dfTbl, size0Tbl) = indexTables(spark, path)
    val dp = Dedup.rawPostings(delta)
      .withColumn("shard", pmod(col("sfp"), lit(nShards.toLong)))
      .persist()
    // bounded collect #1: the delta's key shards (≤ nShards longs)
    val touched = dp.select("shard").distinct().collect().map(_.getLong(0))
    val postT = postTbl
      .filter(col("shard").isin(touched: _*))
      .select("doc_id", "sfp").persist()
    val scanned = postT.count() // the pruned scan IS the probe's read cost
    val dfT = dfTbl
      .filter(col("shard").isin(touched: _*)).select("sfp", "df")
    val dfDelta = dp.groupBy("sfp").agg(count(lit(1)).as("dfd"))
    // union df on the delta's keys (the only keys whose df changes)
    val dfU = dfDelta.join(dfT, Seq("sfp"), "left")
      .select(col("sfp"), col("dfd"), coalesce(col("df"), lit(0L)).as("dfb"))
      .persist()
    val keep = dfU.filter(col("dfd") + col("dfb") <= Dedup.MaxDf).select("sfp")
    // union postings restricted to kept delta keys — the full
    // intersection domain of any (delta, *) pair
    val probeP = dp.join(broadcast(keep), "sfp").select("doc_id", "sfp")
    val shR = postT.join(broadcast(keep), "sfp")
      .select(col("doc_id"), col("sfp"), lit(false).as("is_d"))
      .unionAll(probeP.select(col("doc_id"), col("sfp"), lit(true).as("is_d")))
      .persist()
    // a pair's shared keys are all kept delta keys, so the candidate
    // join enumerates the FULL intersection — count collisions per
    // (a, b) instead of the distinct + two-sided re-join verify (same
    // §2.3 move as [[DedupStream.batchPairs]]; the `is_d ⇒ x < y`
    // guard keeps one collision per shared key of a delta↔delta pair)
    val cand = broadcast(probeP.select(col("doc_id").as("x"), col("sfp")))
      .join(shR.select(col("doc_id").as("y"), col("sfp"), col("is_d")), "sfp")
      .filter(col("x") =!= col("y") && (!col("is_d") || col("x") < col("y")))
      .groupBy(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .agg(count(lit(1)).as("inter"))
      .persist()
    val deltaIds = dp.select("doc_id").distinct()
    val deltaSizes = probeP.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    // keys the delta pushes over the cap — the size0 correction set
    val overKeys = dfU.filter(col("dfb") <= Dedup.MaxDf &&
      col("dfd") + col("dfb") > Dedup.MaxDf).select("sfp")
    val over = postT.join(broadcast(overKeys), "sfp")
      .groupBy("doc_id").agg(count(lit(1)).as("over"))
    val baseCand = cand.select(col("a").as("doc_id"))
      .unionAll(cand.select(col("b").as("doc_id"))).distinct()
      .join(deltaIds, Seq("doc_id"), "left_anti")
      .withColumn("dshard", pmod(col("doc_id"), lit(nShards.toLong)))
      .persist()
    // bounded collect #2: candidate base docs' size-sidecar shards
    val dshards = baseCand.select("dshard").distinct().collect().map(_.getLong(0))
    val size0T = size0Tbl
      .filter(col("dshard").isin(dshards: _*))
    val baseSizes = size0T
      .join(broadcast(baseCand.select("doc_id")), "doc_id")
      .join(over, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("size0") - coalesce(col("over"), lit(0L))).as("nsh"))
    val sizes = deltaSizes.unionAll(baseSizes)
    val pairs = cand
      .join(sizes.select(col("doc_id").as("a"), col("nsh").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("nsh").as("nb")), "b")
      .withColumn("jacc", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jacc") >= Dedup.Tau)
      .select(col("a"), col("b"), col("jacc"))
      .localCheckpoint(true)
    Seq(dp, postT, dfU, shR, cand, baseCand).foreach(_.unpersist())
    (pairs, ProbeStats(touched.length, nShards, scanned))
  }

  /** Query-path wiring (`dd_shard_probe`): index over the sf-dir
    * near-dup corpus built ONCE per (session, dir) — the parquet write
    * is a side effect that must not repeat per bench run (same rule as
    * rec_backup_verify) — probed with the standard delta slice; the
    * probe result is an output-layer memo the cold pass rebuilds. */
  private val indexMemo = new graft.SessionMemo[String]
  private val probeMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  def shardProbe(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val path = indexMemo.getOrElseUpdate(spark, dir) {
      // collision-resistant dir key (ADVICE r10): a 31-bit hashCode
      // collision between two sf dirs in one JVM would silently
      // overwrite the other's index; a SHA-256 prefix makes the
      // failure mode impossible rather than merely improbable
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes("UTF-8")).take(12)
        .map("%02x".format(_)).mkString
      val p = s"target/shard_index/$sha"
      buildIndex(spark, Dedup.nearCorpus(spark, dir), p, QueryShards)
      p
    }
    probeMemo.getOrElseUpdate(spark, dir)(
      probe(spark, path, QueryShards, Dedup.deltaCorpus(spark, dir))._1)
  }
}
