package graft.oracle

/** DuckDB-SQL twins of the LLM-pipeline operators
  * ([[graft.operators.TextOps]], [[graft.operators.Dedup]],
  * [[graft.operators.Similarity]], [[graft.operators.Media]]).
  *
  * All shared arithmetic is integer-exact (polynomial hashes, quantized
  * embeddings), so doubles derived from those integers (ratios,
  * cosines) are bit-identical across engines. DuckDB `sum()` returns
  * HUGEINT, so every integer sum is CAST back to BIGINT.
  */
object TextCtes {
  private val P = 1000000007L

  /** polynomial rolling hash — twin of TextOps.fpSql */
  private def fp(x: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($x, ''), c -> CAST(ascii(c) AS BIGINT))), (acc, x) -> (acc * 31 + x) % $P)"

  private def toks(x: String): String =
    s"string_split_regex(trim($x), '\\s+')"

  val tokenCount: String =
    s"""SELECT doc_id,
       |  len(${toks("text")}) AS n_ws,
       |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re
       |FROM documents""".stripMargin

  /** quality CTE chain ending in
    * `qual(doc_id, n_chars_m, n_tokens, stop_ratio, quality)` —
    * shared by the quality query and the curation pipeline */
  private val qualityCtes: String =
    s"""q0 AS (SELECT doc_id, text, ${toks("text")} AS t FROM documents),
       |q1 AS (SELECT doc_id, text,
       |  CAST(len(t) AS BIGINT) AS n_tokens,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(t, x -> CAST(length(x) AS BIGINT))), (a, x) -> a + x) AS sum_len,
       |  CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stop
       |FROM q0),
       |qual AS (
       |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m, n_tokens,
       |  n_stop / CAST(n_tokens AS DOUBLE) AS stop_ratio,
       |  least(n_tokens / 200.0, 1.0) * 0.5 +
       |  least((n_stop / CAST(n_tokens AS DOUBLE)) * 4.0, 1.0) * 0.3 +
       |  CASE WHEN (sum_len / CAST(n_tokens AS DOUBLE)) >= 3.0
       |        AND (sum_len / CAST(n_tokens AS DOUBLE)) <= 8.0 THEN 0.2 ELSE 0.0 END AS quality
       |FROM q1)""".stripMargin

  val quality: String =
    s"""WITH $qualityCtes
       |SELECT doc_id, n_chars_m, n_tokens, stop_ratio, quality FROM qual""".stripMargin

  /** lang-id CTE chain ending in
    * `lpred(doc_id, n_zh, s_en, s_de, s_es, s_fr, pred)` */
  private val langCtes: String =
    s"""lq0 AS (SELECT doc_id, text, ${toks("lower(text)")} AS t FROM documents),
       |ls AS (SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}]')) AS BIGINT) AS n_zh,
       |  CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
       |  CAST(len(list_filter(t, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS s_de,
       |  CAST(len(list_filter(t, x -> x IN ('el','la','de','y','es'))) AS BIGINT) AS s_es,
       |  CAST(len(list_filter(t, x -> x IN ('le','la','de','et','est'))) AS BIGINT) AS s_fr
       |FROM lq0),
       |lpred AS (
       |SELECT doc_id, n_zh, s_en, s_de, s_es, s_fr,
       |  CASE WHEN n_zh > 0 THEN 'zh'
       |       WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es > s_en AND s_es >= s_fr THEN 'es'
       |       WHEN s_fr > s_en THEN 'fr'
       |       ELSE 'en' END AS pred
       |FROM ls)""".stripMargin

  val langId: String =
    s"""WITH $langCtes
       |SELECT doc_id, n_zh, s_en, s_de, s_es, s_fr, pred FROM lpred""".stripMargin

  val fingerprint: String =
    s"SELECT doc_id, ${fp("text")} AS fp FROM documents"

  /** simhash CTE chain over any (doc_id, text) table, ending in
    * `sim(doc_id, simhash)` — twin of TextOps.simhashOf */
  private def simhashCtes(table: String): String =
    s"""tf AS (SELECT DISTINCT doc_id, ${fp("tok")} AS tfp FROM (
       |  SELECT doc_id, unnest(${toks("text")}) AS tok FROM $table)),
       |sb AS (SELECT doc_id, j,
       |  CAST(sum(CASE WHEN ((tfp >> j) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
       |FROM tf, unnest(generate_series(0, 29)) AS t(j) GROUP BY doc_id, j),
       |sim AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
       |FROM sb GROUP BY doc_id)""".stripMargin

  val simhash: String =
    s"WITH ${simhashCtes("documents")} SELECT doc_id, simhash FROM sim"

  // ---- dedup -----------------------------------------------------------

  private val exactCorpus =
    """exact_corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents)""".stripMargin

  private[oracle] val nearCorpus =
    s"""near_corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000,
       |    array_to_string(list_slice(t, 1, greatest(len(t) - 3, 1)), ' ')
       |  FROM (SELECT doc_id, ${toks("text")} AS t FROM documents))""".stripMargin

  /** df-capped shingle chain over any (doc_id, text) table — twin of
    * Dedup.shingles */
  private def shingleChain(table: String): String =
    s"""sh0 AS (SELECT doc_id, t FROM (SELECT doc_id, ${toks("text")} AS t FROM $table) WHERE len(t) >= 3),
       |sh1 AS (SELECT DISTINCT doc_id, ${fp("sh")} AS sfp FROM (
       |  SELECT doc_id, unnest(list_transform(generate_series(0, len(t) - 3),
       |    k -> t[k+1] || ' ' || t[k+2] || ' ' || t[k+3])) AS sh FROM sh0)),
       |dfq AS (SELECT sfp FROM sh1 GROUP BY sfp HAVING count(*) <= 100),
       |sh AS (SELECT s.doc_id, s.sfp FROM sh1 s JOIN dfq USING (sfp)),
       |sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id)""".stripMargin

  /** shingle table over the near corpus — the base-dedup chain */
  private val shingleCtes =
    s"""$nearCorpus,
       |${shingleChain("near_corpus")}""".stripMargin

  val dedupExact: String =
    s"""WITH $exactCorpus,
       |f AS (SELECT doc_id, ${fp("text")} AS fp FROM exact_corpus)
       |SELECT fp, min(doc_id) AS keeper, count(*) AS n
       |FROM f GROUP BY fp HAVING count(*) > 1""".stripMargin

  private val jaccSelect =
    """SELECT p.a, p.b, p.inter / CAST(sa.nsh + sb.nsh - p.inter AS DOUBLE) AS jacc
      |FROM pairs p
      |JOIN sizes sa ON p.a = sa.doc_id
      |JOIN sizes sb ON p.b = sb.doc_id
      |WHERE p.inter / CAST(sa.nsh + sb.nsh - p.inter AS DOUBLE) >= 0.5""".stripMargin

  val ngramJaccard: String =
    s"""WITH $shingleCtes,
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       |  FROM sh a JOIN sh b USING (sfp)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |$jaccSelect""".stripMargin

  /** twin of Dedup.containmentDup: same inverted index, asymmetric
    * denominator */
  val containmentDup: String =
    s"""WITH $shingleCtes,
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       |  FROM sh a JOIN sh b USING (sfp)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT p.a, p.b,
       |  p.inter / CAST(least(sa.nsh, sb.nsh) AS DOUBLE) AS containment
       |FROM pairs p
       |JOIN sizes sa ON p.a = sa.doc_id
       |JOIN sizes sb ON p.b = sb.doc_id
       |WHERE p.inter / CAST(least(sa.nsh, sb.nsh) AS DOUBLE) >= ${graft.operators.Dedup.ContainTau}""".stripMargin

  /** twin of TextOps.sourceQuality: integer sums per source, ratios as
    * single divisions */
  val sourceQuality: String =
    s"""WITH sq AS (SELECT source, CAST(length(text) AS BIGINT) AS nc,
       |  CAST(len(${toks("text")}) AS BIGINT) AS nt,
       |  CAST(len(list_filter(${toks("text")},
       |    x -> x IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS ns
       |FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(nc) AS BIGINT) AS n_chars,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  round(sum(ns) / CAST(sum(nt) AS DOUBLE), 6) AS stop_density,
       |  round(sum(nc) / CAST(count(*) AS DOUBLE), 6) AS mean_chars
       |FROM sq GROUP BY source""".stripMargin

  /** twin of TextOps.typeTokenRatio */
  val typeTokenRatio: String =
    s"""SELECT doc_id,
       |  CAST(len(${toks("text")}) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(${toks("text")})) AS BIGINT) AS n_types,
       |  len(list_distinct(${toks("text")}))
       |    / CAST(len(${toks("text")}) AS DOUBLE) AS ttr
       |FROM documents""".stripMargin

  val minhashLsh: String =
    s"""WITH $shingleCtes,
       |mh AS (
       |  SELECT doc_id, i, min(((1 + 7919 * i) * sfp + 104729 * i) % $P) AS mh
       |  FROM sh, unnest(generate_series(0, 15)) AS t(i) GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, i // 4 AS band,
       |    max(CASE WHEN i % 4 = 0 THEN mh END) AS s0,
       |    max(CASE WHEN i % 4 = 1 THEN mh END) AS s1,
       |    max(CASE WHEN i % 4 = 2 THEN mh END) AS s2,
       |    max(CASE WHEN i % 4 = 3 THEN mh END) AS s3
       |  FROM mh GROUP BY doc_id, i // 4),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.s0 = b.s0
       |    AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.s3 = b.s3
       |    AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.a, c.b, count(*) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.a
       |  JOIN sh b ON b.doc_id = c.b AND b.sfp = a.sfp
       |  GROUP BY 1, 2)
       |$jaccSelect""".stripMargin

  /** twin of Dedup.bbitMinhash: 1-bit sketches from the same 16
    * minhash registers (lowest bit), estimator (2m−k)/k with k a power
    * of two so the estimate is an exact double; pairs and exact
    * Jaccard from the LSH twin as a derived table. */
  val bbitMinhash: String = {
    val k = graft.operators.Dedup.NumHashes
    s"""WITH $shingleCtes,
       |bits AS (
       |  SELECT doc_id, i,
       |    min(((1 + 7919 * i) * sfp + 104729 * i) % $P) % 2 AS bit
       |  FROM sh, unnest(generate_series(0, ${k - 1})) AS t(i)
       |  GROUP BY doc_id, i),
       |p AS (SELECT a, b, jacc FROM ($minhashLsh)),
       |m AS (
       |  SELECT p.a, p.b,
       |    CAST(sum(CASE WHEN ba.bit = bb.bit THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_match
       |  FROM p JOIN bits ba ON ba.doc_id = p.a
       |  JOIN bits bb ON bb.doc_id = p.b AND bb.i = ba.i
       |  GROUP BY 1, 2)
       |SELECT p.a, p.b, p.jacc, m.n_match,
       |  CAST(2 * m.n_match - $k AS DOUBLE) / $k AS j_est,
       |  abs(CAST(2 * m.n_match - $k AS DOUBLE) / $k - p.jacc) AS abs_err
       |FROM p JOIN m ON p.a = m.a AND p.b = m.b""".stripMargin
  }

  /** twin of Dedup.bandSweep: same 16 registers, three band/row
    * groupings evaluated against the ngram-Jaccard verified pairs;
    * detection = any band with all rows equal (min over rows, max
    * over bands — integer algebra for bool_and/bool_or). */
  val bandSweep: String = {
    val k = graft.operators.Dedup.NumHashes
    s"""WITH $shingleCtes,
       |mh AS (
       |  SELECT doc_id, i, min(((1 + 7919 * i) * sfp + 104729 * i) % $P) AS mh
       |  FROM sh, unnest(generate_series(0, ${k - 1})) AS t(i)
       |  GROUP BY doc_id, i),
       |p AS (SELECT a, b, jacc FROM ($ngramJaccard)),
       |j AS (
       |  SELECT p.a, p.b, p.jacc, ma.i,
       |    CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END AS eq
       |  FROM p JOIN mh ma ON ma.doc_id = p.a
       |  JOIN mh mb ON mb.doc_id = p.b AND mb.i = ma.i),
       |cfg AS (SELECT * FROM (VALUES ('b2r8', 8), ('b4r4', 4), ('b8r2', 2))
       |  c(config, rws)),
       |bandeq AS (
       |  SELECT c.config, j.a, j.b, j.jacc, j.i // c.rws AS band,
       |    min(j.eq) AS band_eq
       |  FROM j CROSS JOIN cfg c GROUP BY 1, 2, 3, 4, 5),
       |det AS (
       |  SELECT config, a, b, jacc, max(band_eq) AS det
       |  FROM bandeq GROUP BY 1, 2, 3, 4)
       |SELECT config, CAST(floor(jacc * 10) AS BIGINT) AS j_decile,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(det) AS BIGINT) AS n_detected
       |FROM det GROUP BY 1, 2""".stripMargin
  }

  /** twin of Pipeline.dupSources: per-family pair unions fold to base
    * docs with mod IdOffset, canonical source ordering, each family's
    * native strong predicate, exact integer cells. The union member
    * list mirrors Pipeline.leakagePairSources (r12: + semantic).
    * Lazy: simhashDup/embeddingDup/winnowPairs are declared later in
    * this object — an eager val would interpolate nulls at init. */
  lazy val dupSources: String = {
    val off = graft.operators.Dedup.IdOffset
    import graft.operators.Pipeline.{StrongCos, StrongHam, StrongJacc, StrongShared}
    s"""WITH u AS (
       |  SELECT 'ngram_jaccard' AS family, a, b,
       |    CASE WHEN jacc >= $StrongJacc THEN 1 ELSE 0 END AS strong
       |  FROM ($ngramJaccard)
       |  UNION ALL SELECT 'minhash_lsh', a, b,
       |    CASE WHEN jacc >= $StrongJacc THEN 1 ELSE 0 END
       |  FROM ($minhashLsh)
       |  UNION ALL SELECT 'simhash_band', a, b,
       |    CASE WHEN hamming <= $StrongHam THEN 1 ELSE 0 END
       |  FROM ($simhashDup)
       |  UNION ALL SELECT 'winnow', a, b,
       |    CASE WHEN n_shared >= $StrongShared THEN 1 ELSE 0 END
       |  FROM ($winnowPairs)
       |  UNION ALL SELECT 'semantic', a, b,
       |    CASE WHEN cos >= $StrongCos THEN 1 ELSE 0 END
       |  FROM ($embeddingDup)),
       |lab AS (
       |  SELECT u.family, least(sa.source, sb.source) AS source_lo,
       |    greatest(sa.source, sb.source) AS source_hi, u.strong
       |  FROM u
       |  JOIN documents sa ON sa.doc_id = u.a % $off
       |  JOIN documents sb ON sb.doc_id = u.b % $off)
       |SELECT family, source_lo, source_hi,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(strong) AS BIGINT) AS n_strong
       |FROM lab GROUP BY 1, 2, 3""".stripMargin
  }

  /** twin of TextOps.fertility: exact integer char/token sums per
    * language, the ratio as one division. */
  val fertility: String =
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
       |  CAST(sum(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(length(text)) AS BIGINT)
       |    / CAST(sum(len(regexp_extract_all(lower(text),
       |      '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS DOUBLE), 6) AS chars_per_token
       |FROM documents GROUP BY lang""".stripMargin

  /** twin of Dedup.exactNormalized */
  val exactNormalized: String =
    s"""WITH c AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, '  ' || upper(text) || ' ' FROM documents),
       |f AS (SELECT doc_id, ${fp("text")} AS raw_fp,
       |  ${fp(s"array_to_string(${toks("lower(text)")}, ' ')")} AS norm_fp
       |FROM c)
       |SELECT norm_fp, count(*) AS n,
       |  CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_raw,
       |  min(doc_id) AS keeper
       |FROM f GROUP BY norm_fp
       |HAVING count(*) > 1 AND count(DISTINCT raw_fp) = count(*)""".stripMargin

  /** twin of Pipeline.curateV2: the repetition and substring chains
    * nested as derived tables, the budget window over survivors */
  // lazy: references the repetition/substring vals declared later in
  // this object (Scala vals initialize in declaration order)
  lazy val curationV2: String = {
    import graft.operators.Pipeline.{BudgetChars, SampleMod, SampleMult}
    s"""WITH rep AS (SELECT doc_id, keep FROM ($repetition)),
       |sub AS (SELECT doc_id, n_grams, dup_occ FROM ($substringDup)),
       |d AS (SELECT doc_id, source, n_chars,
       |    (doc_id * $SampleMult) % $SampleMod AS h FROM documents),
       |kept AS (
       |  SELECT d.source, d.n_chars, d.h FROM d
       |  JOIN rep ON d.doc_id = rep.doc_id
       |  JOIN sub ON d.doc_id = sub.doc_id
       |  WHERE rep.keep = 1 AND sub.dup_occ * 2 <= sub.n_grams),
       |c AS (SELECT source, n_chars, sum(n_chars) OVER (
       |    PARTITION BY source ORDER BY h
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM kept)
       |SELECT source, count(*) AS n_candidates,
       |  CAST(sum(CASE WHEN cum <= $BudgetChars THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(CASE WHEN cum <= $BudgetChars THEN n_chars ELSE 0 END) AS BIGINT)
       |    AS chars_kept
       |FROM c GROUP BY source""".stripMargin
  }

  /** twin of Dedup.incrementalPairs — deliberately the FULL recompute
    * over base ∪ delta, restricted to pairs touching a delta doc: the
    * hash equality proves the probe-only incremental path ≡ batch. */
  val incrementalPairs: String = {
    val off = 2 * graft.operators.Dedup.IdOffset
    s"""WITH $nearCorpus,
       |delta AS (SELECT doc_id + $off AS doc_id,
       |    array_to_string(list_slice(t, 3, len(t)), ' ') AS text
       |  FROM (SELECT doc_id, ${toks("text")} AS t FROM documents
       |        WHERE doc_id % 10 = 0)),
       |u AS (SELECT doc_id, text FROM near_corpus
       |  UNION ALL SELECT doc_id, text FROM delta),
       |${shingleChain("u")},
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       |  FROM sh a JOIN sh b USING (sfp)
       |  WHERE a.doc_id < b.doc_id AND (a.doc_id >= $off OR b.doc_id >= $off)
       |  GROUP BY 1, 2)
       |$jaccSelect""".stripMargin
  }

  /** twin of TextOps.intraDedup: consecutive 5-token chunks per doc,
    * repeats within the doc counted as dropped */
  val intraDedup: String = {
    val ct = graft.operators.TextOps.ChunkTokens
    s"""WITH c AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(0, (len(t) - 1) // $ct),
       |    j -> array_to_string(list_slice(t, j * $ct + 1, j * $ct + $ct), ' '))) AS chunk
       |  FROM (SELECT doc_id, ${toks("text")} AS t FROM documents)),
       |f AS (SELECT doc_id, ${fp("chunk")} AS cfp FROM c)
       |SELECT doc_id, count(*) AS n_chunks,
       |  CAST(count(DISTINCT cfp) AS BIGINT) AS n_kept,
       |  CAST(count(*) - count(DISTINCT cfp) AS BIGINT) AS n_dropped
       |FROM f GROUP BY doc_id""".stripMargin
  }

  /** twin of TextOps.vocabTopK */
  val vocabTopK: String =
    s"""SELECT tok, count(*) AS n
       |FROM (SELECT unnest(${toks("lower(text)")}) AS tok FROM documents)
       |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin

  /** twin of TextOps.dupNgrams: same token 5-grams via list slicing —
    * DuckDB list slices `t[a:b]` are 1-based INCLUSIVE, so
    * t[j+1 : j+N] ≡ Spark slice(t, j+1, N), and end-exclusive
    * range(0, len−N+1) ≡ Spark sequence(0, size−N). */
  val dupNgrams: String = {
    val n = graft.operators.TextOps.DupN
    s"""WITH d AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
       |g AS (SELECT doc_id,
       |  unnest(list_transform(range(0, len(t) - ${n - 1}),
       |    j -> array_to_string(t[j + 1 : j + $n], ' '))) AS gram
       |  FROM d WHERE len(t) >= $n)
       |SELECT gram, count(*) AS n_total,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM g GROUP BY 1 HAVING count(*) >= 2
       |ORDER BY n_total DESC, gram LIMIT ${graft.operators.TextOps.DupK}""".stripMargin
  }

  /** twin of Pipeline.ngramOverlap: same token 8-grams via list
    * slicing (the dupNgrams slice idiom), same split arithmetic as the
    * leakage twins, per-doc distinct grams, train-set semi-probe. */
  val ngramOverlap: String = {
    import graft.operators.Pipeline.{OverlapN, SampleMod, SplitMult}
    s"""WITH d AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
       |g AS (SELECT doc_id,
       |    CASE WHEN ((doc_id * $SplitMult) % $SampleMod) % 100 < 80 THEN 0
       |         WHEN ((doc_id * $SplitMult) % $SampleMod) % 100 < 90 THEN 1
       |         ELSE 2 END AS r,
       |    unnest(list_transform(range(0, len(t) - ${OverlapN - 1}),
       |      j -> array_to_string(t[j + 1 : j + $OverlapN], ' '))) AS gram
       |  FROM d WHERE len(t) >= $OverlapN),
       |dg AS (SELECT DISTINCT doc_id, r, gram FROM g),
       |train AS (SELECT DISTINCT gram FROM dg WHERE r = 0),
       |ev AS (SELECT * FROM dg WHERE r <> 0),
       |tot AS (SELECT doc_id, r, CAST(count(*) AS BIGINT) AS n_grams
       |  FROM ev GROUP BY 1, 2),
       |hit AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM ev e JOIN train t USING (gram) GROUP BY 1)
       |SELECT CASE tot.r WHEN 1 THEN 'val' ELSE 'test' END AS split,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tot.n_grams) AS BIGINT) AS n_grams,
       |  CAST(sum(coalesce(hit.n_hit, 0)) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN coalesce(hit.n_hit, 0) > 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_contaminated,
       |  CAST(sum(coalesce(hit.n_hit, 0)) AS DOUBLE)
       |    / CAST(sum(tot.n_grams) AS DOUBLE) AS hit_rate
       |FROM tot LEFT JOIN hit USING (doc_id) GROUP BY tot.r""".stripMargin
  }

  /** twin of Pipeline.ngramDecontaminate: eval (val/test) distinct
    * grams semi-probe the train docs' grams; any hit drops the doc;
    * per-source kept/dropped rollup over ALL train docs (short docs
    * can't leak and stay). */
  val ngramDecontaminate: String = {
    import graft.operators.Pipeline.{OverlapN, SampleMod, SplitMult}
    s"""WITH d AS (SELECT doc_id, source, ${toks("text")} AS t FROM documents),
       |g AS (SELECT doc_id,
       |    CASE WHEN ((doc_id * $SplitMult) % $SampleMod) % 100 < 80 THEN 0
       |         WHEN ((doc_id * $SplitMult) % $SampleMod) % 100 < 90 THEN 1
       |         ELSE 2 END AS r,
       |    unnest(list_transform(range(0, len(t) - ${OverlapN - 1}),
       |      j -> array_to_string(t[j + 1 : j + $OverlapN], ' '))) AS gram
       |  FROM d WHERE len(t) >= $OverlapN),
       |dg AS (SELECT DISTINCT doc_id, r, gram FROM g),
       |ev_grams AS (SELECT DISTINCT gram FROM dg WHERE r <> 0),
       |leaky AS (SELECT DISTINCT t.doc_id
       |  FROM dg t JOIN ev_grams e USING (gram) WHERE t.r = 0)
       |SELECT d.source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dropped,
       |  CAST(count(*) - sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept
       |FROM d LEFT JOIN leaky l USING (doc_id)
       |WHERE ((d.doc_id * $SplitMult) % $SampleMod) % 100 < 80
       |GROUP BY d.source""".stripMargin
  }

  /** twin of Pipeline.contamTopDocs: per-eval-doc hit counts, top 20
    * by (n_hit desc, doc_id asc) — docs with zero hits never join. */
  val contamTopDocs: String = {
    import graft.operators.Pipeline.{OverlapN, SampleMod, SplitMult}
    s"""WITH d AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
       |g AS (SELECT doc_id,
       |    CASE WHEN ((doc_id * $SplitMult) % $SampleMod) % 100 < 80 THEN 0
       |         WHEN ((doc_id * $SplitMult) % $SampleMod) % 100 < 90 THEN 1
       |         ELSE 2 END AS r,
       |    unnest(list_transform(range(0, len(t) - ${OverlapN - 1}),
       |      j -> array_to_string(t[j + 1 : j + $OverlapN], ' '))) AS gram
       |  FROM d WHERE len(t) >= $OverlapN),
       |dg AS (SELECT DISTINCT doc_id, r, gram FROM g),
       |train AS (SELECT DISTINCT gram FROM dg WHERE r = 0),
       |ev AS (SELECT * FROM dg WHERE r <> 0),
       |tot AS (SELECT doc_id, r, CAST(count(*) AS BIGINT) AS n_grams
       |  FROM ev GROUP BY 1, 2),
       |hit AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM ev e JOIN train t USING (gram) GROUP BY 1)
       |SELECT tot.doc_id,
       |  CASE tot.r WHEN 1 THEN 'val' ELSE 'test' END AS split,
       |  tot.n_grams, hit.n_hit,
       |  CAST(hit.n_hit AS DOUBLE) / CAST(tot.n_grams AS DOUBLE) AS hit_rate
       |FROM tot JOIN hit USING (doc_id)
       |ORDER BY hit.n_hit DESC, tot.doc_id
       |LIMIT 20""".stripMargin
  }

  /** twin of Pipeline.curateV3: same leaky-doc derivation as the
    * ngramDecontaminate twin, train-minus-leaky assembled and packed
    * with the packSequences twin's cumsum (multiplicative-hash order
    * is tie-free: the hash is injective mod the prime). */
  val curateV3: String = {
    import graft.operators.Pipeline.{OverlapN, SampleMod, SampleMult, SeqTokens, SplitMult}
    s"""WITH d AS (SELECT doc_id, source, ${toks("text")} AS t FROM documents),
       |g AS (SELECT doc_id,
       |    CASE WHEN ((doc_id * $SplitMult) % $SampleMod) % 100 < 80 THEN 0
       |         WHEN ((doc_id * $SplitMult) % $SampleMod) % 100 < 90 THEN 1
       |         ELSE 2 END AS r,
       |    unnest(list_transform(range(0, len(t) - ${OverlapN - 1}),
       |      j -> array_to_string(t[j + 1 : j + $OverlapN], ' '))) AS gram
       |  FROM d WHERE len(t) >= $OverlapN),
       |dg AS (SELECT DISTINCT doc_id, r, gram FROM g),
       |ev_grams AS (SELECT DISTINCT gram FROM dg WHERE r <> 0),
       |leaky AS (SELECT DISTINCT t.doc_id
       |  FROM dg t JOIN ev_grams e USING (gram) WHERE t.r = 0),
       |kept AS (SELECT d.doc_id, d.source,
       |    CAST(len(t) AS BIGINT) AS n_tokens,
       |    (d.doc_id * $SampleMult) % $SampleMod AS h
       |  FROM d LEFT JOIN leaky l USING (doc_id)
       |  WHERE ((d.doc_id * $SplitMult) % $SampleMod) % 100 < 80
       |    AND l.doc_id IS NULL),
       |seq AS (SELECT source, n_tokens,
       |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY h
       |       ROWS UNBOUNDED PRECEDING) - n_tokens) // $SeqTokens AS seq_id
       |  FROM kept)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs
       |FROM seq GROUP BY source""".stripMargin
  }

  /** twin of Pipeline.keepBest: cluster membership (canonical included
    * as its own member), originals only, longest-member-wins with ties
    * to the smaller id. */
  val keepBest: String =
    s"""WITH $shingleCtes,
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       |  FROM sh a JOIN sh b USING (sfp)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |jpairs AS ($jaccSelect),
       |edges AS (SELECT a AS src, b AS dst FROM jpairs
       |  UNION ALL SELECT b, a FROM jpairs),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |${IterCtes.unrolled(graft.operators.Dedup.ClusterIters, 0L)},
       |cl AS (SELECT node AS doc_id, label AS canonical
       |  FROM l${graft.operators.Dedup.ClusterIters} WHERE label < node),
       |mem AS (SELECT doc_id, canonical FROM (
       |    SELECT doc_id, canonical FROM cl
       |    UNION SELECT DISTINCT canonical, canonical FROM cl)
       |  WHERE doc_id < ${graft.operators.Dedup.IdOffset}),
       |$qualityCtes,
       |j AS (SELECT m.canonical, m.doc_id, q.n_tokens
       |  FROM mem m JOIN qual q ON m.doc_id = q.doc_id),
       |r AS (SELECT *,
       |  row_number() OVER (PARTITION BY canonical
       |    ORDER BY n_tokens DESC, doc_id) AS rn,
       |  count(*) OVER (PARTITION BY canonical) AS n_members FROM j)
       |SELECT canonical, doc_id AS kept_doc,
       |  CAST(n_members AS BIGINT) AS n_members,
       |  n_tokens AS kept_tokens
       |FROM r WHERE rn = 1""".stripMargin

  /** twin of TextOps.cooccurTopK: same forward-window ordered pairs
    * via nested list lambdas — DuckDB `range` is end-exclusive, so
    * range(1, len) ≡ Spark sequence(1, len−1) and
    * range(i+1, least(i+W, len)+1) ≡ sequence(i+1, least(i+W, len)). */
  val cooccurTopK: String = {
    val w = graft.operators.TextOps.CoWindow
    s"""WITH d AS (SELECT ${toks("lower(text)")} AS t FROM documents),
       |p AS (SELECT unnest(flatten(list_transform(range(1, len(t)),
       |        i -> list_transform(range(i + 1, least(i + $w, len(t)) + 1),
       |          j -> struct_pack(a := t[i], b := t[j]))))) AS s
       |      FROM d WHERE len(t) >= 2)
       |SELECT s.a AS a, s.b AS b, CAST(count(*) AS BIGINT) AS n
       |FROM p GROUP BY 1, 2
       |ORDER BY n DESC, a, b LIMIT ${graft.operators.TextOps.CoK}""".stripMargin
  }

  /** twin of Dedup.crossSourcePairs: verified near-dup pairs mapped
    * back to sources (variant ids → original's source), unordered
    * source-pair counts */
  def crossSourcePairs: String =
    s"""WITH p AS (SELECT a, b FROM ($ngramJaccard)),
       |s AS (SELECT doc_id, source FROM documents
       |  UNION ALL SELECT doc_id + 100000, source FROM documents)
       |SELECT least(sa.source, sb.source) AS source_x,
       |  greatest(sa.source, sb.source) AS source_y,
       |  count(*) AS n_pairs
       |FROM p JOIN s sa ON p.a = sa.doc_id JOIN s sb ON p.b = sb.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** twin of TextOps.oovRate: top-K vocab as a broadcast-side CTE,
    * per-doc OOV counts + double rate */
  val oovRate: String =
    s"""WITH v AS (SELECT tok, 1 AS in_v FROM ($vocabTopK)),
       |t AS (SELECT doc_id, unnest(${toks("lower(text)")}) AS tok FROM documents),
       |s AS (SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN in_v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
       |  FROM t LEFT JOIN v USING (tok) GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_oov,
       |  n_oov / CAST(n_tokens AS DOUBLE) AS oov_rate FROM s""".stripMargin

  /** twin of Pipeline.curateFull: quality ∧ lang ∧ not-near-dup ∧
    * not-contaminated → split → per-(split, lang) totals */
  def curateFull: String = {
    import graft.operators.Pipeline.{QualityTau, SplitMult, SampleMod}
    s"""WITH q AS (SELECT doc_id, quality, n_tokens FROM ($quality)),
       |l AS (SELECT doc_id, pred FROM ($langId)),
       |drops AS (SELECT doc_id FROM ($dedupClusters) WHERE doc_id < 100000),
       |cont AS (SELECT doc_id FROM ($decontaminate)),
       |base AS (SELECT q.doc_id, l.pred, q.n_tokens,
       |    ((q.doc_id * $SplitMult) % $SampleMod) % 100 AS b
       |  FROM q JOIN l ON q.doc_id = l.doc_id
       |  WHERE q.quality >= $QualityTau
       |    AND q.doc_id NOT IN (SELECT doc_id FROM drops)
       |    AND q.doc_id NOT IN (SELECT doc_id FROM cont))
       |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |    ELSE 'test' END AS split,
       |  pred AS lang, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM base GROUP BY 1, 2""".stripMargin
  }

  /** twin of Pipeline.curateLineage: per-doc terminal state,
    * first-failing-gate-wins in pipeline order, survivors labelled
    * with their split */
  def curateLineage: String = {
    import graft.operators.Pipeline.{QualityTau, SplitMult, SampleMod}
    s"""WITH q AS (SELECT doc_id, quality FROM ($quality)),
       |drops AS (SELECT doc_id FROM ($dedupClusters) WHERE doc_id < 100000),
       |cont AS (SELECT doc_id FROM ($decontaminate)),
       |base AS (SELECT doc_id, quality,
       |    ((doc_id * $SplitMult) % $SampleMod) % 100 AS b FROM q)
       |SELECT doc_id,
       |  CASE WHEN quality < $QualityTau THEN 'quality'
       |       WHEN doc_id IN (SELECT doc_id FROM drops) THEN 'near_dup'
       |       WHEN doc_id IN (SELECT doc_id FROM cont) THEN 'decontaminated'
       |       WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |       ELSE 'test' END AS verdict
       |FROM base""".stripMargin
  }

  /** twin of Dedup.dedupClusters: the ngram-Jaccard pairs as an edge
    * list, then IterCtes' unrolled min-propagation + canonicalization */
  val dedupClusters: String =
    s"""WITH $shingleCtes,
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       |  FROM sh a JOIN sh b USING (sfp)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |jpairs AS ($jaccSelect),
       |edges AS (SELECT a AS src, b AS dst FROM jpairs
       |  UNION ALL SELECT b, a FROM jpairs),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |${IterCtes.unrolled(graft.operators.Dedup.ClusterIters, 0L)}
       |SELECT node AS doc_id, label AS canonical
       |FROM l${graft.operators.Dedup.ClusterIters} WHERE label < node""".stripMargin

  /** twin of Pipeline.curate: quality gate ∧ language gate ∧ not in
    * the dedup drop list, summarized per predicted language. The CTE
    * reuses the quality, lang-id and cluster chains verbatim — the
    * whole curation pipeline under one oracle hash. */
  val curation: String =
    s"""WITH $shingleCtes,
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       |  FROM sh a JOIN sh b USING (sfp)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |jpairs AS ($jaccSelect),
       |edges AS (SELECT a AS src, b AS dst FROM jpairs
       |  UNION ALL SELECT b, a FROM jpairs),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |${IterCtes.unrolled(graft.operators.Dedup.ClusterIters, 0L)},
       |drops AS (SELECT node AS doc_id
       |  FROM l${graft.operators.Dedup.ClusterIters}
       |  WHERE label < node AND node < 100000),
       |$qualityCtes,
       |$langCtes
       |SELECT l.pred AS lang, count(*) AS n_docs,
       |  CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens
       |FROM qual q
       |JOIN lpred l ON q.doc_id = l.doc_id
       |WHERE q.quality >= ${graft.operators.Pipeline.QualityTau}
       |  AND q.doc_id NOT IN (SELECT doc_id FROM drops)
       |GROUP BY l.pred""".stripMargin

  /** twin of Dedup.simhashDup: rehashed shingle-feature simhash →
    * banded buckets → candidate pairs → hamming verify (geometry
    * constants shared with the Spark side) */
  val simhashDup: String = {
    val D = graft.operators.Dedup
    s"""WITH $shingleCtes,
       |simb AS (SELECT doc_id, j,
       |  CAST(sum(CASE WHEN ((((sfp * ${D.SimRehashMul}) % ${1L << D.SimBits}) >> j) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
       |FROM sh, unnest(generate_series(0, ${D.SimBits - 1})) AS t(j) GROUP BY doc_id, j),
       |sim AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
       |FROM simb GROUP BY doc_id),
       |sbands AS (
       |  SELECT doc_id, b AS band,
       |    (simhash >> (${D.SimBandBits} * b)) & ${(1 << D.SimBandBits) - 1} AS bits
       |  FROM sim, unnest(generate_series(0, ${D.SimBands - 1})) AS t(b)),
       |ok_buckets AS (
       |  SELECT band, bits FROM sbands GROUP BY band, bits
       |  HAVING count(*) <= ${D.MaxBucket}),
       |capped AS (SELECT s.doc_id, s.band, s.bits
       |  FROM sbands s JOIN ok_buckets USING (band, bits)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bits = b.bits
       |    AND a.doc_id < b.doc_id)
       |SELECT c.a, c.b,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
       |FROM cand c JOIN sim sa ON c.a = sa.doc_id JOIN sim sb ON c.b = sb.doc_id
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= ${D.MaxHam}""".stripMargin
  }

  // ---- similarity ------------------------------------------------------

  /** quantized embeddings in long format + norms; `valid` = nrm > 0 */
  private[oracle] val embBase =
    """e AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |FROM embeddings),
      |el AS (SELECT vec_id, unnest(q) AS x, unnest(generate_series(1, len(q))) AS i FROM e),
      |n AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nrm FROM el GROUP BY vec_id),
      |valid AS (SELECT vec_id, nrm FROM n WHERE nrm > 0)""".stripMargin

  val annBruteForce: String =
    s"""WITH $embBase,
       |dots AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(sum(a.x * b.x) AS BIGINT) AS dot
       |  FROM el a JOIN el b ON a.i = b.i
       |  WHERE a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.qid, d.nid, d.dot / (sqrt(qa.nrm) * sqrt(qb.nrm)) AS cos
       |  FROM dots d JOIN valid qa ON d.qid = qa.vec_id
       |  JOIN valid qb ON d.nid = qb.vec_id),
       |ranked AS (
       |  SELECT qid, nid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
       |  FROM scored)
       |SELECT qid, rnk AS rank, nid, cos FROM ranked WHERE rnk <= 5""".stripMargin

  /** deterministic hyperplane buckets — twin of Similarity.withBucket */
  private def bucketCtes(elTable: String): String =
    s"""planes AS (
       |  SELECT p, j, CAST(((p * 73 + j * 37) % 41) - 20 AS BIGINT) AS w
       |  FROM unnest(generate_series(0, 7)) AS tp(p),
       |       unnest(generate_series(0, 63)) AS tj(j)),
       |pd AS (
       |  SELECT t.vec_id, pl.p, CAST(sum(t.x * pl.w) AS BIGINT) AS d
       |  FROM $elTable t JOIN planes pl ON t.i = pl.j + 1 GROUP BY 1, 2),
       |bkt AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN d > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM pd GROUP BY vec_id)""".stripMargin

  val annLsh: String =
    s"""WITH $embBase,
       |${bucketCtes("el")},
       |dots AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(sum(a.x * b.x) AS BIGINT) AS dot
       |  FROM el a JOIN el b ON a.i = b.i
       |  JOIN bkt ba ON a.vec_id = ba.vec_id
       |  JOIN bkt bb ON b.vec_id = bb.vec_id AND ba.bucket = bb.bucket
       |  WHERE a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.qid, d.nid, ba.bucket, d.dot / (sqrt(qa.nrm) * sqrt(qb.nrm)) AS cos
       |  FROM dots d JOIN valid qa ON d.qid = qa.vec_id
       |  JOIN valid qb ON d.nid = qb.vec_id
       |  JOIN bkt ba ON d.qid = ba.vec_id),
       |ranked AS (
       |  SELECT qid, bucket, nid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
       |  FROM scored)
       |SELECT qid, bucket, rnk AS rank, nid, cos FROM ranked WHERE rnk <= 5""".stripMargin

  /** twin of Similarity.annIvf: same centroid assignment, probe lists,
    * and exact rerank in long format. */
  val annIvf: String =
    s"""WITH $embBase,
       |cents AS (SELECT vec_id AS cid FROM e WHERE vec_id % 25 = 0),
       |adots AS (
       |  SELECT a.vec_id, b.vec_id AS cid, CAST(sum(a.x * b.x) AS BIGINT) AS dot
       |  FROM el a JOIN el b ON a.i = b.i
       |  JOIN cents c ON b.vec_id = c.cid
       |  GROUP BY 1, 2),
       |ascored AS (
       |  SELECT d.vec_id, d.cid,
       |    d.dot / (sqrt(va.nrm) * sqrt(vc.nrm)) AS cos
       |  FROM adots d JOIN valid va ON d.vec_id = va.vec_id
       |  JOIN valid vc ON d.cid = vc.vec_id),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS r
       |    FROM ascored) WHERE r = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS r
       |    FROM ascored WHERE vec_id % 50 = 0) WHERE r <= 2),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid FROM probes p JOIN assign a ON p.cid = a.cid),
       |dots AS (
       |  SELECT c.qid, c.nid, CAST(sum(a.x * b.x) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN el a ON a.vec_id = c.qid
       |  JOIN el b ON b.vec_id = c.nid AND b.i = a.i
       |  WHERE c.qid <> c.nid
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.qid, d.nid, d.dot / (sqrt(qa.nrm) * sqrt(qb.nrm)) AS cos
       |  FROM dots d JOIN valid qa ON d.qid = qa.vec_id
       |  JOIN valid qb ON d.nid = qb.vec_id),
       |ranked AS (
       |  SELECT qid, nid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
       |  FROM scored)
       |SELECT qid, rnk AS rank, nid, cos FROM ranked WHERE rnk <= 5""".stripMargin

  /** twin of Similarity.annIvfTrained: k-means-refined IVF with
    * centroids kept as exact SUM vectors (cosine is scale-invariant,
    * so no division ever happens and every training number is an
    * exact BIGINT in both engines). Iterations unrolled; zero-norm /
    * emptied clusters drop via the HAVING guard, mirroring the Spark
    * side's cn > 0 filter. */
  /** The trained-centroid chain shared by [[annIvfTrained]] and
    * [[ivfClusterStats]]: seed centroids c0, [[TrainIters]] unrolled
    * Lloyd iterations, final norms cnT / dots dfin / assignment afin.
    * Appended after $embBase inside a WITH. */
  private lazy val ivfTrainedChain: String = {
    val T = graft.operators.Similarity.TrainIters
    def iter(t: Int): String =
      s"""cn${t - 1} AS (
         |  SELECT cid, CAST(sum(s*s) AS BIGINT) AS cn
         |  FROM c${t - 1} GROUP BY cid HAVING sum(s*s) > 0),
         |d$t AS (
         |  SELECT a.vec_id, c.cid, CAST(sum(a.x * c.s) AS BIGINT) AS dot
         |  FROM el a JOIN c${t - 1} c ON a.i = c.i GROUP BY 1, 2),
         |a$t AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT d.vec_id, d.cid,
         |      row_number() OVER (PARTITION BY d.vec_id
         |        ORDER BY d.dot / (sqrt(v.nrm) * sqrt(cn.cn)) DESC, d.cid) AS r
         |    FROM d$t d JOIN valid v ON d.vec_id = v.vec_id
         |    JOIN cn${t - 1} cn ON d.cid = cn.cid) WHERE r = 1),
         |c$t AS (
         |  SELECT a.cid, e2.i, CAST(sum(e2.x) AS BIGINT) AS s
         |  FROM a$t a JOIN el e2 ON e2.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin
    val iters = (1 to T).map(iter).mkString(",\n")
    s"""c0 AS (
       |  SELECT e0.vec_id AS cid, e0.i, CAST(e0.x AS BIGINT) AS s
       |  FROM el e0 JOIN valid v ON e0.vec_id = v.vec_id
       |  WHERE e0.vec_id % 25 = 0),
       |$iters,
       |cn$T AS (
       |  SELECT cid, CAST(sum(s*s) AS BIGINT) AS cn
       |  FROM c$T GROUP BY cid HAVING sum(s*s) > 0),
       |dfin AS (
       |  SELECT a.vec_id, c.cid, CAST(sum(a.x * c.s) AS BIGINT) AS dot
       |  FROM el a JOIN c$T c ON a.i = c.i GROUP BY 1, 2),
       |afin AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT d.vec_id, d.cid,
       |      row_number() OVER (PARTITION BY d.vec_id
       |        ORDER BY d.dot / (sqrt(v.nrm) * sqrt(cn.cn)) DESC, d.cid) AS r
       |    FROM dfin d JOIN valid v ON d.vec_id = v.vec_id
       |    JOIN cn$T cn ON d.cid = cn.cid) WHERE r = 1)""".stripMargin
  }

  val annIvfTrained: String = {
    val T = graft.operators.Similarity.TrainIters
    s"""WITH $embBase,
       |$ivfTrainedChain,
       |probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT d.vec_id, d.cid,
       |      row_number() OVER (PARTITION BY d.vec_id
       |        ORDER BY d.dot / (sqrt(v.nrm) * sqrt(cn.cn)) DESC, d.cid) AS r
       |    FROM dfin d JOIN valid v ON d.vec_id = v.vec_id
       |    JOIN cn$T cn ON d.cid = cn.cid
       |    WHERE d.vec_id % 50 = 0) WHERE r <= 2),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid FROM probes p JOIN afin a ON p.cid = a.cid),
       |dots AS (
       |  SELECT c.qid, c.nid, CAST(sum(a.x * b.x) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN el a ON a.vec_id = c.qid
       |  JOIN el b ON b.vec_id = c.nid AND b.i = a.i
       |  WHERE c.qid <> c.nid
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.qid, d.nid, d.dot / (sqrt(qa.nrm) * sqrt(qb.nrm)) AS cos
       |  FROM dots d JOIN valid qa ON d.qid = qa.vec_id
       |  JOIN valid qb ON d.nid = qb.vec_id),
       |ranked AS (
       |  SELECT qid, nid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
       |  FROM scored)
       |SELECT qid, rnk AS rank, nid, cos FROM ranked WHERE rnk <= 5""".stripMargin
  }

  /** twin of Similarity.clusterStats: the same trained chain, then one
    * group per final cluster — member count, Σ nrm and Σ dot as exact
    * BIGINTs, centroid norm, mean dot as the single derived double. */
  val ivfClusterStats: String = {
    val T = graft.operators.Similarity.TrainIters
    s"""WITH $embBase,
       |$ivfTrainedChain
       |SELECT a.cid, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(v.nrm) AS BIGINT) AS sum_nrm,
       |  CAST(sum(d.dot) AS BIGINT) AS sum_dot,
       |  max(cn.cn) AS cn,
       |  CAST(sum(d.dot) AS BIGINT) / CAST(count(*) AS DOUBLE) AS avg_dot
       |FROM afin a
       |JOIN dfin d ON a.vec_id = d.vec_id AND a.cid = d.cid
       |JOIN valid v ON a.vec_id = v.vec_id
       |JOIN cn$T cn ON a.cid = cn.cid
       |GROUP BY a.cid""".stripMargin
  }

  /** twin of Similarity.annPq: subspace split, nearest-codeword encode
    * by exact integer L2² (sn + cn − 2·dot), ADC scoring against the
    * reconstructed norm. Corpus restricted to `valid` exactly like the
    * Spark side's quantized table. */
  val annPq: String = {
    val (sub, mod, q, k) = (graft.operators.Similarity.PqSubDim,
      graft.operators.Similarity.PqCodeMod,
      graft.operators.Similarity.QueryMod, graft.operators.Similarity.K)
    s"""WITH $embBase,
       |sel AS (
       |  SELECT el.vec_id, CAST((el.i - 1) // $sub AS BIGINT) AS m,
       |    (el.i - 1) % $sub AS j, el.x
       |  FROM el JOIN valid USING (vec_id)),
       |ssn AS (SELECT vec_id, m, CAST(sum(x * x) AS BIGINT) AS sn
       |  FROM sel GROUP BY 1, 2),
       |cdots AS (
       |  SELECT s.vec_id, s.m, c.vec_id AS cid,
       |    CAST(sum(s.x * c.x) AS BIGINT) AS dot
       |  FROM sel s JOIN sel c ON s.m = c.m AND s.j = c.j
       |  WHERE c.vec_id % $mod = 0
       |  GROUP BY 1, 2, 3),
       |enc AS (
       |  SELECT vec_id AS nid, m, cid, cn FROM (
       |    SELECT d.vec_id, d.m, d.cid, cv.sn AS cn,
       |      row_number() OVER (PARTITION BY d.vec_id, d.m
       |        ORDER BY sv.sn + cv.sn - 2 * d.dot ASC, d.cid) AS r
       |    FROM cdots d
       |    JOIN ssn sv ON sv.vec_id = d.vec_id AND sv.m = d.m
       |    JOIN ssn cv ON cv.vec_id = d.cid AND cv.m = d.m)
       |  WHERE r = 1),
       |lut AS (
       |  SELECT vec_id AS qid, m, cid, dot AS part
       |  FROM cdots WHERE vec_id % $q = 0),
       |scored AS (
       |  SELECT l.qid, e.nid, CAST(sum(l.part) AS BIGINT) AS adc,
       |    CAST(sum(e.cn) AS BIGINT) AS rn
       |  FROM enc e JOIN lut l ON l.m = e.m AND l.cid = e.cid
       |  WHERE l.qid <> e.nid
       |  GROUP BY 1, 2 HAVING sum(e.cn) > 0),
       |cosd AS (
       |  SELECT s.qid, s.nid, s.adc / (sqrt(v.nrm) * sqrt(s.rn)) AS cos
       |  FROM scored s JOIN valid v ON v.vec_id = s.qid)
       |SELECT qid, rnk AS rank, nid, cos FROM (
       |  SELECT qid, nid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
       |  FROM cosd)
       |WHERE rnk <= $k""".stripMargin
  }

  /** twin of Similarity.int8Quantize: same exact-integer code and
    * 255-scaled error arithmetic (`//` floors, but the numerator is
    * non-negative so it matches Spark's truncating `div`). */
  val int8Quantize: String =
    s"""WITH $embBase,
       |dl AS (SELECT el.i AS dim, el.x FROM el JOIN valid USING (vec_id)),
       |am AS (SELECT dim, max(abs(x)) AS amax FROM dl GROUP BY dim
       |  HAVING max(abs(x)) > 0),
       |c AS (
       |  SELECT d.dim, a.amax, d.x,
       |    ((d.x + a.amax) * 255 + a.amax) // (2 * a.amax) AS code
       |  FROM dl d JOIN am a ON d.dim = a.dim)
       |SELECT CAST(dim AS BIGINT) AS dim, amax, count(*) AS n,
       |  max(abs((x + amax) * 255 - code * 2 * amax)) AS max_err255,
       |  CAST(sum(abs((x + amax) * 255 - code * 2 * amax)) AS BIGINT)
       |    AS sum_err255,
       |  CAST(count(DISTINCT code) AS BIGINT) AS n_codes
       |FROM c GROUP BY 1, 2""".stripMargin

  /** twin of Similarity.gramMatrix: upper-triangle exact co-moment
    * matrix with per-dim sums, restricted to `valid` vectors exactly
    * like the Spark side's quantized table. */
  val gramMatrix: String =
    s"""WITH $embBase,
       |v AS (SELECT el.vec_id, el.i, el.x FROM el JOIN valid USING (vec_id)),
       |g AS (
       |  SELECT a.i AS i, b.i AS j, count(*) AS n,
       |    CAST(sum(a.x * b.x) AS BIGINT) AS sxy
       |  FROM v a JOIN v b ON a.vec_id = b.vec_id AND b.i >= a.i
       |  GROUP BY 1, 2),
       |d AS (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM v GROUP BY i)
       |SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j, g.n,
       |  g.sxy, di.s AS sum_i, dj.s AS sum_j
       |FROM g JOIN d di ON di.i = g.i JOIN d dj ON dj.i = g.j""".stripMargin

  /** twin of GraphOps.basketFeatures: per-order elementwise sum of
    * featured parts' embeddings, reported as count + integer norm² */
  val basketFeatures: String =
    s"""WITH $embBase,
       |li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |jx AS (SELECT li.ok, el.i, el.x FROM li
       |  JOIN valid ON valid.vec_id = li.pk
       |  JOIN el ON el.vec_id = li.pk),
       |g AS (SELECT ok, i, CAST(sum(x) AS BIGINT) AS s, count(*) AS c
       |  FROM jx GROUP BY 1, 2)
       |SELECT ok AS l_orderkey, CAST(max(c) AS BIGINT) AS n_feat,
       |  CAST(sum(s * s) AS BIGINT) AS norm2
       |FROM g GROUP BY ok""".stripMargin

  /** twin of Similarity.pcaProject: re-derives the exact covariance
    * numerator and replays the SAME [[graft.operators.Similarity.PcaIters]]
    * power rounds as unrolled CTEs — matvec and projection fold in
    * pinned column order, so doubles (and the eigenvector sign) match
    * the driver-side loop bit-for-bit. */
  val pcaProject: String = {
    val iters = graft.operators.Similarity.PcaIters
    // every chain CTE is MATERIALIZED: DuckDB re-evaluates plain CTEs
    // per reference, and w_k/m_k/v_k each reference the previous round
    // twice — un-materialized, the 8 rounds re-run the whole prefix
    // 2^8 times (measured: >120 s vs 0.1 s materialized)
    val rounds = (1 to iters).map { k =>
      val pv = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS MATERIALIZED (SELECT cr.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(generate_series(1, len(cr.carr)), j -> cr.carr[j] * $pv.v[j])),
         |  (a, x) -> a + x) AS w FROM cr CROSS JOIN $pv),
         |m$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS MATERIALIZED (SELECT list(w / m$k.m ORDER BY i) AS v FROM w$k CROSS JOIN m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $embBase,
       |vv AS MATERIALIZED (SELECT el.vec_id, el.i, el.x FROM el JOIN valid USING (vec_id)),
       |g AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(a.x * b.x) AS BIGINT) AS sxy
       |  FROM vv a JOIN vv b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |dsum AS MATERIALIZED (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM vv GROUP BY i),
       |cm AS MATERIALIZED (SELECT g.i, g.j,
       |    CAST(CAST(g.n * g.sxy AS BIGINT) - CAST(di.s * dj.s AS BIGINT) AS BIGINT) AS c
       |  FROM g JOIN dsum di ON di.i = g.i JOIN dsum dj ON dj.i = g.j),
       |cr AS MATERIALIZED (SELECT i, list(CAST(c AS DOUBLE) ORDER BY j) AS carr FROM cm GROUP BY i),
       |nn AS MATERIALIZED (SELECT max(n) AS n FROM g),
       |sarr AS MATERIALIZED (SELECT list(s ORDER BY i) AS sa FROM dsum),
       |v0 AS MATERIALIZED (SELECT list_transform(carr, x -> 1.0) AS v FROM cr WHERE i = 1),
       |$rounds
       |SELECT e.vec_id, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(generate_series(1, len(e.q)), j ->
       |      CAST(nn.n * e.q[j] - sarr.sa[j] AS DOUBLE) * vf.v[j])),
       |  (a, x) -> a + x), 6) AS proj,
       |  round(m$iters.m, 3) AS lambda_max
       |FROM e JOIN valid USING (vec_id)
       |CROSS JOIN v$iters vf CROSS JOIN sarr CROSS JOIN nn CROSS JOIN m$iters""".stripMargin
  }

  /** twin of Similarity.annRecall: recall@K of each approximate
    * variant vs the brute-force truth (nested-WITH subqueries reuse
    * the variant SQL verbatim, so the probe can never drift from the
    * variants it measures). */
  val annRecall: String =
    s"""WITH truth AS (SELECT qid, nid FROM ($annBruteForce)),
       |ap AS (
       |  SELECT 'lsh' AS variant, qid, nid FROM ($annLsh)
       |  UNION ALL SELECT 'ivf', qid, nid FROM ($annIvf)
       |  UNION ALL SELECT 'ivf_kmeans', qid, nid FROM ($annIvfTrained)
       |  UNION ALL SELECT 'pq', qid, nid FROM ($annPq)),
       |t AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT ap.variant, count(*) AS n_hits,
       |  CAST(t.n_truth AS BIGINT) AS n_truth,
       |  count(*) / CAST(t.n_truth AS DOUBLE) AS recall
       |FROM ap JOIN truth USING (qid, nid), t
       |GROUP BY ap.variant, t.n_truth""".stripMargin

  val embeddingDup: String =
    s"""WITH $embBase,
       |corp AS (
       |  SELECT e.vec_id, e.q FROM e JOIN valid v ON e.vec_id = v.vec_id
       |  UNION ALL
       |  SELECT e.vec_id + 100000, list_transform(e.q, x -> x + 1)
       |  FROM e JOIN valid v ON e.vec_id = v.vec_id),
       |cel AS (SELECT vec_id, unnest(q) AS x, unnest(generate_series(1, len(q))) AS i FROM corp),
       |cn AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nrm FROM cel GROUP BY vec_id),
       |cvalid AS (SELECT vec_id, nrm FROM cn WHERE nrm > 0),
       |${bucketCtes("cel")},
       |dots AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b, CAST(sum(a.x * b.x) AS BIGINT) AS dot
       |  FROM cel a JOIN cel b ON a.i = b.i
       |  JOIN bkt ba ON a.vec_id = ba.vec_id
       |  JOIN bkt bb ON b.vec_id = bb.vec_id AND ba.bucket = bb.bucket
       |  WHERE a.vec_id < b.vec_id
       |  GROUP BY 1, 2)
       |SELECT d.a, d.b, d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)) AS cos
       |FROM dots d JOIN cvalid na ON d.a = na.vec_id
       |JOIN cvalid nb ON d.b = nb.vec_id
       |WHERE d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)) >= 0.999""".stripMargin

  /** twin of Similarity.semDedup: nearest-centroid assignment
    * (row_number ≡ Spark's max_by(cid, struct(cos, -cid))), then the
    * same integer-threshold pair test inside each cluster. */
  val semDedup: String = {
    import graft.operators.Similarity.{CentroidMod, SemTauDen, SemTauNum}
    s"""WITH $embBase,
       |corp AS (
       |  SELECT e.vec_id, e.q FROM e JOIN valid v ON e.vec_id = v.vec_id
       |  UNION ALL
       |  SELECT e.vec_id + 100000, list_transform(e.q, x -> x + 1)
       |  FROM e JOIN valid v ON e.vec_id = v.vec_id),
       |cel AS (SELECT vec_id, unnest(q) AS x, unnest(generate_series(1, len(q))) AS i FROM corp),
       |cn AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nrm FROM cel GROUP BY vec_id),
       |cvalid AS (SELECT vec_id, nrm FROM cn WHERE nrm > 0),
       |centl AS (SELECT vec_id, x, i FROM el WHERE vec_id % $CentroidMod = 0),
       |centn AS (SELECT vec_id, nrm FROM valid WHERE vec_id % $CentroidMod = 0),
       |adot AS (SELECT a.vec_id, c.vec_id AS cid, CAST(sum(a.x * c.x) AS BIGINT) AS dot
       |  FROM cel a JOIN centl c ON a.i = c.i GROUP BY 1, 2),
       |assign AS (SELECT vec_id, cid FROM (
       |  SELECT d.vec_id, d.cid,
       |    row_number() OVER (PARTITION BY d.vec_id
       |      ORDER BY d.dot / (sqrt(cv.nrm) * sqrt(ce.nrm)) DESC, d.cid) AS rn
       |  FROM adot d JOIN cvalid cv ON d.vec_id = cv.vec_id
       |  JOIN centn ce ON d.cid = ce.vec_id) WHERE rn = 1),
       |pd AS (SELECT m1.cid, m1.vec_id AS a, m2.vec_id AS b
       |  FROM assign m1 JOIN assign m2
       |  ON m1.cid = m2.cid AND m1.vec_id < m2.vec_id),
       |pdot AS (SELECT p.cid, p.a, p.b, CAST(sum(x1.x * x2.x) AS BIGINT) AS dot
       |  FROM pd p JOIN cel x1 ON x1.vec_id = p.a
       |  JOIN cel x2 ON x2.vec_id = p.b AND x2.i = x1.i
       |  GROUP BY 1, 2, 3),
       |drops AS (SELECT DISTINCT p.cid, p.b
       |  FROM pdot p JOIN cvalid na ON p.a = na.vec_id
       |  JOIN cvalid nb ON p.b = nb.vec_id
       |  WHERE p.dot > 0
       |    AND $SemTauDen * p.dot * p.dot >= $SemTauNum * na.nrm * nb.nrm),
       |mc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM assign GROUP BY cid),
       |dc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_dropped FROM drops GROUP BY cid)
       |SELECT mc.cid, mc.n_members,
       |  coalesce(dc.n_dropped, CAST(0 AS BIGINT)) AS n_dropped
       |FROM mc LEFT JOIN dc USING (cid)""".stripMargin
  }

  // ---- multimodal ------------------------------------------------------

  /** twin of Media.frameSample: ASCII corpus ⇒ byte at offset ==
    * char code at that position */
  val frameSample: String =
    s"""SELECT doc_id, f AS frame_idx,
       |  CAST(ascii(substring(text, CAST(f * 256 + 1 AS INT), 1)) AS BIGINT) AS first_byte
       |FROM documents,
       |  unnest(generate_series(0, CAST((length(text) - 1) // 256 AS BIGINT), 2)) AS t(f)""".stripMargin

  /** ASCII corpus ⇒ UTF-8 byte checksum == char-code checksum */
  val mediaFeatures: String =
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_bytes,
       |  CAST(length(text) // 256 + 1 AS BIGINT) AS n_frames,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))), (a, x) -> (a + x) % 997) AS checksum
       |FROM documents""".stripMargin

  /** twin of Media.resizeThumbs: stride-sampled thumbnail over the
    * ASCII corpus — byte i of the thumb is char ⌊i·n/w⌋ of the text;
    * the position-weighted sum mod 997 pins the byte sequence. */
  val resizeThumbs: String =
    s"""SELECT doc_id,
       |  CAST(least(64, length(text)) AS BIGINT) AS thumb_len,
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(0, least(64, length(text)) - 1),
       |      i -> CAST(ascii(substr(text,
       |             CAST((i * length(text)) // least(64, length(text)) AS INT) + 1,
       |             1)) AS BIGINT) * (i + 1))),
       |    (a, x) -> a + x) % 997 AS BIGINT) AS thumb_checksum
       |FROM documents""".stripMargin

  /** twin of Media.modalityRoute: magic byte = first char's code
    * (media is the UTF-8 encoding of this ASCII corpus) */
  val modalityRoute: String = {
    val names = graft.operators.Media.Modalities
    val cases = names.indices
      .map(i => s"WHEN m % ${names.length} = $i THEN '${names(i)}'")
      .mkString(" ")
    s"""WITH x AS (SELECT
       |  CASE WHEN length(text) = 0 THEN 0 ELSE ascii(substr(text, 1, 1)) END AS m,
       |  CAST(length(text) AS BIGINT) AS nbytes FROM documents)
       |SELECT CASE $cases END AS modality,
       |  count(*) AS n_blobs, CAST(sum(nbytes) AS BIGINT) AS total_bytes
       |FROM x GROUP BY 1""".stripMargin
  }

  /** twin of Similarity.dimStats */
  val dimStats: String =
    s"""WITH $embBase
       |SELECT CAST(i AS BIGINT) AS dim, count(*) AS n,
       |  CAST(sum(x) AS BIGINT) AS sum_q, min(x) AS min_q, max(x) AS max_q
       |FROM el GROUP BY i""".stripMargin

  /** twin of Similarity.whitenNorms: per-dim integer stats over valid
    * vectors, z² terms folded in array order (same left fold as the
    * Spark `aggregate`) */
  val whitenNorms: String =
    s"""WITH $embBase,
       |st AS (SELECT i AS dim, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS s,
       |    CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS v
       |  FROM el JOIN valid USING (vec_id) GROUP BY i),
       |arrs AS (SELECT list(s ORDER BY dim) AS sa, list(v ORDER BY dim) AS va,
       |    max(n) AS n FROM st),
       |w AS (SELECT e.vec_id, e.q, a.sa, a.va, a.n
       |  FROM e JOIN valid USING (vec_id) CROSS JOIN arrs a)
       |SELECT vec_id, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(generate_series(1, len(q)), i ->
       |    CASE WHEN va[i] > 0 THEN
       |      (CAST(n * q[i] - sa[i] AS DOUBLE) * CAST(n * q[i] - sa[i] AS DOUBLE))
       |        / CAST(va[i] AS DOUBLE)
       |    ELSE 0.0 END)), (a, x) -> a + x), 6) AS wnorm2
       |FROM w""".stripMargin

  /** twin of Dedup.substringDup: sliding SubstrK-token windows,
    * fingerprinted, df ≥ 2 across docs = duplicated substring */
  val substringDup: String = {
    val k = graft.operators.Dedup.SubstrK
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS ts FROM documents),
       |g AS (SELECT doc_id, unnest(list_transform(
       |    generate_series(0, len(ts) - $k),
       |    j -> array_to_string(list_slice(ts, j + 1, j + $k), ' '))) AS gram
       |  FROM t WHERE len(ts) >= $k),
       |gf AS (SELECT doc_id, ${fp("gram")} AS gfp FROM g),
       |o AS (SELECT gfp, doc_id, count(*) AS n FROM gf GROUP BY 1, 2),
       |d AS (SELECT gfp FROM o GROUP BY gfp HAVING count(*) >= 2),
       |s AS (SELECT doc_id, sum(n) AS dup_occ, count(*) AS dup_grams
       |  FROM o JOIN d USING (gfp) GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(greatest(len(ts) - ${k - 1}, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(s.dup_occ, 0) AS BIGINT) AS dup_occ,
       |  CAST(coalesce(s.dup_grams, 0) AS BIGINT) AS dup_grams
       |FROM t LEFT JOIN s ON t.doc_id = s.doc_id""".stripMargin
  }

  /** twin of Dedup.decontaminate: benchmark items are BenchLen-token
    * excerpts of every BenchMod-th doc; corpus docs sharing any
    * SubstrK-token window with any item are contaminated */
  val decontaminate: String = {
    import graft.operators.Dedup.{SubstrK => k, BenchMod, BenchSkip, BenchLen}
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS ts FROM documents),
       |g AS (SELECT doc_id, ${fp("gram")} AS gfp FROM (
       |  SELECT doc_id, unnest(list_transform(
       |      generate_series(0, len(ts) - $k),
       |      j -> array_to_string(list_slice(ts, j + 1, j + $k), ' '))) AS gram
       |  FROM t WHERE len(ts) >= $k)),
       |b0 AS (SELECT doc_id AS bench_id,
       |    list_slice(ts, ${BenchSkip + 1}, ${BenchSkip + BenchLen}) AS bt
       |  FROM t WHERE doc_id % $BenchMod = 0),
       |bg AS (SELECT DISTINCT bench_id, ${fp("gram")} AS gfp FROM (
       |  SELECT bench_id, unnest(list_transform(
       |      generate_series(0, len(bt) - $k),
       |      j -> array_to_string(list_slice(bt, j + 1, j + $k), ' '))) AS gram
       |  FROM b0 WHERE len(bt) >= $k))
       |SELECT doc_id,
       |  CAST(count(DISTINCT gfp) AS BIGINT) AS hit_grams,
       |  CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench
       |FROM g JOIN bg USING (gfp) GROUP BY doc_id""".stripMargin
  }

  /** twin of TextOps.repetition: top-bigram fraction + duplicated
    * trigram fraction + keep verdict (same division order) */
  val repetition: String = {
    def gramCte(n: Int, name: String): String =
      s"""$name AS (SELECT doc_id, ${fp("gram")} AS gfp FROM (
         |  SELECT doc_id, unnest(list_transform(
         |      generate_series(0, len(ts) - $n),
         |      j -> array_to_string(list_slice(ts, j + 1, j + $n), ' '))) AS gram
         |  FROM t WHERE len(ts) >= $n))""".stripMargin
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS ts FROM documents),
       |${gramCte(2, "g2")},
       |c2 AS (SELECT doc_id, gfp, count(*) AS n FROM g2 GROUP BY 1, 2),
       |s2 AS (SELECT doc_id, sum(n) AS n2, max(n) AS max2 FROM c2 GROUP BY doc_id),
       |${gramCte(3, "g3")},
       |c3 AS (SELECT doc_id, gfp, count(*) AS n FROM g3 GROUP BY 1, 2),
       |s3 AS (SELECT doc_id, sum(n) AS n3,
       |  sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS d3 FROM c3 GROUP BY doc_id)
       |SELECT s2.doc_id,
       |  max2 / CAST(n2 AS DOUBLE) AS top2_frac,
       |  d3 / CAST(n3 AS DOUBLE) AS dup3_frac,
       |  CAST(CASE WHEN max2 / CAST(n2 AS DOUBLE) <= ${graft.operators.TextOps.RepTop2Tau}
       |        AND d3 / CAST(n3 AS DOUBLE) <= ${graft.operators.TextOps.RepDup3Tau}
       |       THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id""".stripMargin
  }

  /** twin of Pipeline.packSequences: per-source hash-order token
    * cumsum, sequence id = starting-token bin */
  val packSequences: String = {
    import graft.operators.Pipeline.{SampleMult, SampleMod, SeqTokens}
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len(${toks("text")}) AS BIGINT) AS n_tokens,
       |    (doc_id * $SampleMult) % $SampleMod AS h FROM documents),
       |c AS (SELECT source, n_tokens, sum(n_tokens) OVER (
       |    PARTITION BY source ORDER BY h
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
       |SELECT source, CAST((cum - n_tokens) // $SeqTokens AS BIGINT) AS seq_id,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
       |FROM c GROUP BY 1, 2""".stripMargin
  }

  /** twin of Pipeline.splitStats: independent multiplicative hash mod
    * 100 → 80/10/10 split, per-split balance totals */
  val splitStats: String = {
    import graft.operators.Pipeline.{SplitMult, SampleMod}
    s"""WITH d AS (SELECT
       |    ((doc_id * $SplitMult) % $SampleMod) % 100 AS b,
       |    CAST(len(${toks("text")}) AS BIGINT) AS n_tokens,
       |    n_chars FROM documents)
       |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |    ELSE 'test' END AS split,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM d GROUP BY 1""".stripMargin
  }

  /** twin of Pipeline.mixtureSample: per-source hash-rank keep within
    * integer target rank·10 ≤ n·frac */
  val mixtureSample: String = {
    import graft.operators.Pipeline.{SampleMult, SampleMod, MixDen}
    s"""WITH d AS (SELECT doc_id, source, n_chars,
       |    (doc_id * $SampleMult) % $SampleMod AS h,
       |    (CAST(substr(source, 4) AS BIGINT) % 3) * 2 + 2 AS frac_num
       |  FROM documents),
       |r AS (SELECT source, n_chars, frac_num,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY h) AS BIGINT) AS rank,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_total
       |  FROM d),
       |k AS (SELECT source, n_chars, frac_num, n_total,
       |    CASE WHEN rank * $MixDen <= n_total * frac_num THEN 1 ELSE 0 END AS keep
       |  FROM r)
       |SELECT source, CAST(max(frac_num) AS BIGINT) AS frac_num,
       |  count(*) AS n_total, CAST(sum(keep) AS BIGINT) AS n_kept,
       |  CAST(sum(keep * n_chars) AS BIGINT) AS chars_kept
       |FROM k GROUP BY source""".stripMargin
  }

  /** twin of TextOps.piiStats: probe suffix on every PiiMod-th doc,
    * escaped-backslash-free regex counts */
  val piiStats: String = {
    import graft.operators.TextOps.{PiiMod, PiiSuffix}
    s"""WITH c AS (SELECT doc_id,
       |    CASE WHEN doc_id % $PiiMod = 0 THEN text || '$PiiSuffix'
       |         ELSE text END AS text FROM documents),
       |s AS (SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
       |  CAST(len(regexp_extract_all(text, '[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+')) AS BIGINT) AS n_ip
       |FROM c)
       |SELECT doc_id, n_email, n_phone, n_ip FROM s
       |WHERE n_email + n_phone + n_ip > 0""".stripMargin
  }

  /** twin of TextOps.piiRedact: same probe corpus, same three chained
    * regexp_replace passes ('g' = all occurrences, Spark's default),
    * n_redacted = placeholders in the OUTPUT (redactions performed,
    * not per-pattern raw-text matches — ADVICE r10), fingerprint of
    * the redacted text. */
  val piiRedact: String = {
    import graft.operators.TextOps.{PiiMod, PiiSuffix}
    s"""WITH c AS (SELECT doc_id,
       |    CASE WHEN doc_id % $PiiMod = 0 THEN text || '$PiiSuffix'
       |         ELSE text END AS text FROM documents),
       |r0 AS (SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
       |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
       |    '[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+', '<IP>', 'g') AS red
       |FROM c),
       |r AS (SELECT doc_id,
       |  CAST(len(regexp_extract_all(red, '<EMAIL>|<PHONE>|<IP>')) AS BIGINT)
       |    AS n_redacted, red
       |FROM r0)
       |SELECT doc_id, n_redacted, ${fp("red")} AS red_fp
       |FROM r WHERE n_redacted > 0""".stripMargin
  }

  /** twin of Pipeline.sampleBudget: multiplicative-hash order,
    * per-source running char total, budget cut */
  val sampleBudget: String = {
    import graft.operators.Pipeline.{BudgetChars, SampleMod, SampleMult}
    s"""WITH d AS (SELECT doc_id, source, n_chars,
       |    (doc_id * $SampleMult) % $SampleMod AS h FROM documents),
       |c AS (SELECT source, n_chars, sum(n_chars) OVER (
       |    PARTITION BY source ORDER BY h
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
       |SELECT source, count(*) AS n_total,
       |  CAST(sum(CASE WHEN cum <= $BudgetChars THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |  CAST(sum(CASE WHEN cum <= $BudgetChars THEN n_chars ELSE 0 END) AS BIGINT) AS chars_sampled
       |FROM c GROUP BY source""".stripMargin
  }

  /** twin of Pipeline.epochShuffle: same degski-mixed (doc, epoch)
    * hash, shard routing, and position-weighted order checksum */
  val epochShuffle: String = {
    import graft.operators.Pipeline.{EpochMix, ShuffleShards}
    import graft.operators.Sketch.{HashMod, MixMult}
    s"""WITH d AS (SELECT CAST(unnest([1, 2]) AS BIGINT) AS epoch, doc_id FROM documents),
       |h0 AS (SELECT epoch, doc_id, (doc_id + epoch * $EpochMix) % $HashMod AS h FROM d),
       |h1 AS (SELECT epoch, doc_id, xor(h, h >> 16) AS h FROM h0),
       |h2 AS (SELECT epoch, doc_id, (h * $MixMult) % $HashMod AS h FROM h1),
       |h3 AS (SELECT epoch, doc_id, xor(h, h >> 16) AS h FROM h2),
       |h4 AS (SELECT epoch, doc_id, (h * $MixMult) % $HashMod AS h FROM h3),
       |hh AS (SELECT epoch, doc_id, xor(h, h >> 16) AS h FROM h4),
       |s AS (SELECT epoch, doc_id, h, h % $ShuffleShards AS shard FROM hh),
       |p AS (SELECT epoch, shard, h,
       |  CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY h, doc_id) AS BIGINT) AS pos
       |  FROM s),
       |t AS (SELECT epoch, shard, (pos * (h % $P)) % $P AS term FROM p)
       |SELECT epoch, shard, count(*) AS n_docs,
       |  CAST(CAST(sum(term) AS HUGEINT) % $P AS BIGINT) AS checksum
       |FROM t GROUP BY 1, 2""".stripMargin
  }

  /** twin of TextOps.langEval: confusion matrix of the langId chain
    * against the ground-truth lang column. */
  /** shared scored stream: (score, pos) then grouped per distinct
    * score — base of the AUC / PR-curve / calibration twins */
  private val enScoredCtes: String =
    s"""a0 AS (SELECT lang, t FROM
       |  (SELECT lang, ${toks("lower(text)")} AS t FROM documents)
       |  WHERE len(t) > 0),
       |a1 AS (SELECT
       |  (CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS BIGINT) * 1000000)
       |    // CAST(len(t) AS BIGINT) AS score,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM a0)""".stripMargin

  /** twin of TextOps.aucEval: tie-corrected Mann-Whitney AUC in the
    * group-by-score form, all-integer until the final rounded ratio */
  val aucEval: String =
    s"""WITH $enScoredCtes,
       |ag AS (SELECT score, CAST(sum(pos) AS BIGINT) AS p,
       |  CAST(count(*) - sum(pos) AS BIGINT) AS n FROM a1 GROUP BY score),
       |ab AS (SELECT p, n, CAST(coalesce(sum(n) OVER (ORDER BY score
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |  AS neg_below FROM ag)
       |SELECT CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg,
       |  CAST(sum((neg_below * 2 + n) * p) AS BIGINT) AS auc_num,
       |  CAST(sum(p) * sum(n) * 2 AS BIGINT) AS auc_den,
       |  round(CAST(sum((neg_below * 2 + n) * p) AS DOUBLE)
       |    / CAST(sum(p) * sum(n) * 2 AS DOUBLE), 6) AS auc
       |FROM ab""".stripMargin

  /** twin of TextOps.prCurve */
  val prCurve: String =
    s"""WITH $enScoredCtes,
       |ag AS (SELECT score, CAST(sum(pos) AS BIGINT) AS p,
       |  CAST(count(*) - sum(pos) AS BIGINT) AS n FROM a1 GROUP BY score),
       |rs AS (SELECT score,
       |  CAST(sum(p) OVER (ORDER BY score DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
       |  CAST(sum(n) OVER (ORDER BY score DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
       |  FROM ag),
       |tot AS (SELECT CAST(sum(p) AS BIGINT) AS p_total FROM ag)
       |SELECT score AS thr, tp, fp, p_total - tp AS fn,
       |  round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision,
       |  round(tp / CAST(p_total AS DOUBLE), 6) AS recall
       |FROM rs CROSS JOIN tot""".stripMargin

  /** twin of TextOps.calibration */
  val calibration: String = {
    val width = graft.operators.TextOps.AucScale / graft.operators.TextOps.CalibBins
    val top = graft.operators.TextOps.CalibBins - 1
    s"""WITH $enScoredCtes
       |SELECT least(score // $width, $top) AS bin,
       |  count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
       |  round(sum(pos) / CAST(count(*) AS DOUBLE), 6) AS pos_rate
       |FROM a1 GROUP BY 1""".stripMargin
  }

  val langEval: String =
    s"""WITH $langCtes,
       |j AS (SELECT d.lang, l.pred FROM documents d
       |  JOIN lpred l ON d.doc_id = l.doc_id)
       |SELECT lang, pred, count(*) AS n,
       |  CAST(sum(CASE WHEN lang = pred THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct
       |FROM j GROUP BY 1, 2""".stripMargin

  /** twin of Similarity.hardNegatives: brute-force kernel with the
    * label-inequality filter; labels joined back onto the ranked
    * output. */
  val hardNegatives: String = {
    import graft.operators.Similarity.{K, QueryMod}
    s"""WITH $embBase,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |dots AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(sum(a.x * b.x) AS BIGINT) AS dot
       |  FROM el a JOIN el b ON a.i = b.i
       |  JOIN lab la ON la.vec_id = a.vec_id
       |  JOIN lab lb ON lb.vec_id = b.vec_id
       |  WHERE a.vec_id % $QueryMod = 0 AND la.label <> lb.label
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.qid, d.nid, d.dot / (sqrt(qa.nrm) * sqrt(qb.nrm)) AS cos
       |  FROM dots d JOIN valid qa ON d.qid = qa.vec_id
       |  JOIN valid qb ON d.nid = qb.vec_id),
       |ranked AS (
       |  SELECT qid, nid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
       |  FROM scored)
       |SELECT r.qid, la.label AS q_label, r.rnk AS rank, r.nid,
       |  lb.label AS n_label, r.cos
       |FROM ranked r
       |JOIN lab la ON r.qid = la.vec_id
       |JOIN lab lb ON r.nid = lb.vec_id
       |WHERE r.rnk <= $K""".stripMargin
  }

  /** twin of Pipeline.balanceClasses: same mix-hash order, same
    * capped-rank keep, same selection checksum. */
  val balanceClasses: String = {
    import graft.operators.Pipeline.{BalanceCap, BalanceP}
    import graft.operators.Sketch.{HashMod, MixMult}
    s"""WITH b AS (SELECT vec_id, label, (vec_id * 131) % $HashMod AS h FROM embeddings),
       |h1 AS (SELECT vec_id, label, xor(h, h >> 16) AS h FROM b),
       |h2 AS (SELECT vec_id, label, (h * $MixMult) % $HashMod AS h FROM h1),
       |h3 AS (SELECT vec_id, label, xor(h, h >> 16) AS h FROM h2),
       |h4 AS (SELECT vec_id, label, (h * $MixMult) % $HashMod AS h FROM h3),
       |hh AS (SELECT vec_id, label, xor(h, h >> 16) AS h FROM h4),
       |r AS (SELECT vec_id, label,
       |  row_number() OVER (PARTITION BY label ORDER BY h, vec_id) AS rn FROM hh)
       |SELECT label, count(*) AS n_total,
       |  CAST(sum(CASE WHEN rn <= $BalanceCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(CAST(sum(CASE WHEN rn <= $BalanceCap
       |      THEN (vec_id * rn) % $BalanceP ELSE 0 END) AS HUGEINT)
       |    % $BalanceP AS BIGINT) AS kept_sum
       |FROM r GROUP BY label""".stripMargin
  }

  /** shared retrieval-index CTEs (twin of TextOps.bmIndex): token
    * stream, postings, df, doclen, corpus, deterministic query set. */
  private val bmIndexCtes: String = {
    import graft.operators.TextOps.BmQueries
    s"""t AS (SELECT doc_id, unnest(${toks("text")}) AS tok FROM documents),
       |postings AS (SELECT doc_id, ${fp("tok")} AS tfp, count(*) AS tf
       |  FROM t GROUP BY 1, 2),
       |df AS (SELECT tfp, count(*) AS df FROM postings GROUP BY tfp),
       |doclen AS (SELECT doc_id, count(*) AS len FROM t GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs, sum(len) // count(*) AS avglen
       |  FROM doclen),
       |ranked_terms AS (SELECT tok, count(*) AS n,
       |  row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
       |  FROM t GROUP BY tok ORDER BY n DESC, tok LIMIT ${2 * BmQueries}),
       |queries AS (SELECT (rn - 1) // 2 AS qid, ${fp("tok")} AS tfp
       |  FROM ranked_terms)""".stripMargin
  }

  /** BM25 scoring + per-query rank CTEs on top of [[bmIndexCtes]]. */
  private val bmRankCtes: String = {
    import graft.operators.TextOps.{BmK1, BmScale}
    val bitCase = (32 to 1 by -1)
      .map(b => s"WHEN (c.n_docs // df.df) >= ${1L << (b - 1)} THEN $b")
      .mkString(" ")
    s"""scored0 AS (SELECT q.qid, p.doc_id,
       |  (CASE $bitCase ELSE 0 END) *
       |    ((p.tf * ${BmK1 + 1} * $BmScale) //
       |     (p.tf + $BmK1 + ($BmK1 * l.len) // c.avglen)) AS term_score
       |  FROM postings p
       |  JOIN queries q ON p.tfp = q.tfp
       |  JOIN df ON p.tfp = df.tfp
       |  JOIN doclen l ON p.doc_id = l.doc_id
       |  CROSS JOIN corpus c),
       |agg AS (SELECT qid, doc_id, count(*) AS n_terms,
       |  CAST(sum(term_score) AS BIGINT) AS score
       |  FROM scored0 GROUP BY 1, 2),
       |rk AS (SELECT qid, doc_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM agg WHERE n_terms = 2)""".stripMargin
  }

  /** twin of TextOps.bm25TopDocs: same integer idf (bit-length
    * cascade), saturating tf, AND gate, and (score desc, doc) rank. */
  val bm25TopDocs: String = {
    import graft.operators.TextOps.BmTopK
    s"""WITH $bmIndexCtes,
       |$bmRankCtes
       |SELECT qid, rank, doc_id, score FROM rk WHERE rank <= $BmTopK""".stripMargin
  }

  /** twin of TextOps.rrfFusion: BM25 arm + tf-product arm, integer
    * `Scale // (K + rank)` contributions, (rrf desc, doc) fused rank. */
  val rrfFusion: String = {
    import graft.operators.TextOps.{BmTopK, RrfK, RrfScale, RrfTopK}
    s"""WITH $bmIndexCtes,
       |$bmRankCtes,
       |arm_a AS (SELECT qid, doc_id, rank FROM rk WHERE rank <= $BmTopK),
       |matched AS (SELECT q.qid, p.doc_id, count(*) AS n_terms,
       |  min(p.tf) * max(p.tf) AS tf_prod
       |  FROM postings p JOIN queries q ON p.tfp = q.tfp
       |  GROUP BY 1, 2 HAVING count(*) = 2),
       |arm_b AS (SELECT qid, doc_id,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY tf_prod DESC, doc_id) AS BIGINT) AS rank
       |  FROM matched QUALIFY rank <= $RrfTopK),
       |contrib AS (
       |  SELECT qid, doc_id, $RrfScale // ($RrfK + rank) AS c FROM arm_a
       |  UNION ALL
       |  SELECT qid, doc_id, $RrfScale // ($RrfK + rank) AS c FROM arm_b),
       |fused AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS rrf,
       |  count(*) AS n_arms FROM contrib GROUP BY 1, 2),
       |frk AS (SELECT qid, doc_id, rrf, n_arms,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
       |  FROM fused)
       |SELECT qid, rank, doc_id, rrf, n_arms FROM frk
       |WHERE rank <= $RrfTopK""".stripMargin
  }

  /** twin of TextOps.tfidfKeywords: tf · bit-length idf, per-doc
    * (score desc, tfp) rank. */
  val tfidfKeywords: String = {
    import graft.operators.TextOps.TfidfTopK
    val bitCase = (32 to 1 by -1)
      .map(b => s"WHEN (c.n_docs // df.df) >= ${1L << (b - 1)} THEN $b")
      .mkString(" ")
    s"""WITH $bmIndexCtes,
       |scored AS (SELECT p.doc_id, p.tfp,
       |  CAST(p.tf * (CASE $bitCase ELSE 0 END) AS BIGINT) AS score
       |  FROM postings p JOIN df ON p.tfp = df.tfp CROSS JOIN corpus c),
       |rk AS (SELECT doc_id, tfp, score,
       |  CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, tfp) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, tfp, score FROM rk WHERE rank <= $TfidfTopK""".stripMargin
  }

  /** twin of TextOps.boilerplate: gram df over distinct (doc, gram),
    * high-df dictionary, per-doc occurrence probe, integer keep rule. */
  val boilerplate: String = {
    import graft.operators.TextOps.{BpDf, BpK, BpMaxDen, BpMaxNum}
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS ts FROM documents),
       |g AS (SELECT doc_id, ${fp("gram")} AS gfp FROM (
       |  SELECT doc_id, unnest(list_transform(
       |      generate_series(0, len(ts) - $BpK),
       |      j -> array_to_string(list_slice(ts, j + 1, j + $BpK), ' '))) AS gram
       |  FROM t WHERE len(ts) >= $BpK)),
       |bp AS (SELECT gfp FROM (SELECT DISTINCT doc_id, gfp FROM g)
       |  GROUP BY gfp HAVING count(*) > $BpDf),
       |pd AS (SELECT g.doc_id, count(*) AS n_grams,
       |    CAST(sum(CASE WHEN b.gfp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bp
       |  FROM g LEFT JOIN bp b ON g.gfp = b.gfp GROUP BY g.doc_id)
       |SELECT d.doc_id,
       |  coalesce(pd.n_grams, CAST(0 AS BIGINT)) AS n_grams,
       |  coalesce(pd.n_bp, CAST(0 AS BIGINT)) AS n_bp,
       |  CAST(CASE WHEN coalesce(pd.n_bp, CAST(0 AS BIGINT)) * $BpMaxDen
       |         <= coalesce(pd.n_grams, CAST(0 AS BIGINT)) * $BpMaxNum
       |       THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin
  }

  /** twin of TextOps.chunkStats: same chunk-count arithmetic, same
    * per-chunk polyhash checksum (list_slice end-index == Spark's
    * slice length form). */
  val chunkStats: String = {
    import graft.operators.TextOps.{ChunkP, ChunkS, ChunkW}
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS ts FROM documents),
       |c AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
       |  CASE WHEN len(ts) <= $ChunkW THEN CAST(1 AS BIGINT)
       |       ELSE CAST((len(ts) - $ChunkW + $ChunkS - 1) // $ChunkS + 1 AS BIGINT)
       |  END AS n_chunks, ts FROM t)
       |SELECT doc_id, n_tokens, n_chunks,
       |  CAST(n_tokens - (n_chunks - 1) * $ChunkS AS BIGINT) AS last_len,
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
       |      generate_series(0, CAST(n_chunks AS INT) - 1),
       |      i -> ${fp(s"array_to_string(list_slice(ts, i * $ChunkS + 1, i * $ChunkS + $ChunkW), ' ')")})),
       |    (acc, x) -> (acc + x) % $ChunkP) AS BIGINT) AS chunk_sum
       |FROM c""".stripMargin
  }

  /** twin of TextOps.lmScore: bigram MLE with scaled-integer
    * conditional probabilities — zipped unnests stand in for Spark's
    * struct explode; `//` matches Spark's `div` on positive BIGINTs. */
  val lmScore: String = {
    val scale = graft.operators.TextOps.LmScale
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
       |uni AS (SELECT ${fp("tok")} AS pfp, CAST(count(*) AS BIGINT) AS cu
       |  FROM (SELECT unnest(t) AS tok FROM t) GROUP BY 1),
       |pos AS (SELECT doc_id, ${fp("p")} AS pfp, ${fp("g")} AS gfp FROM (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(t)), i -> t[CAST(i AS INT)])) AS p,
       |    unnest(list_transform(range(1, len(t)),
       |      i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1])) AS g
       |  FROM t WHERE len(t) >= 2)),
       |bi AS (SELECT pfp, gfp, CAST(count(*) AS BIGINT) AS cb FROM pos GROUP BY 1, 2),
       |scored AS (SELECT doc_id, ($scale * cb) // cu AS p_micro
       |  FROM pos JOIN bi USING (pfp, gfp) JOIN uni USING (pfp))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(p_micro) AS BIGINT) AS score_micro,
       |  CAST(sum(p_micro) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_micro
       |FROM scored GROUP BY doc_id""".stripMargin
  }

  /** twin of TextOps.bpePairs: within-token adjacent character pairs,
    * count-ranked — range(1, len) is end-exclusive, matching Spark's
    * sequence(1, len-1). */
  val bpePairs: String =
    s"""SELECT pair, CAST(count(*) AS BIGINT) AS n FROM (
       |  SELECT unnest(list_transform(range(1, length(tok)),
       |    i -> substr(tok, CAST(i AS INT), 2))) AS pair
       |  FROM (SELECT unnest(${toks("lower(text)")}) AS tok FROM documents)
       |  WHERE length(tok) >= 2)
       |GROUP BY pair ORDER BY n DESC, pair LIMIT ${graft.operators.TextOps.BpePairK}""".stripMargin

  /** twin of TextOps.hashFeatures: hashed token-count vector in
    * long form `(doc_id, dim, n)` via the same polyhash-mod-D bucket
    * function — scalar columns only, so the harness comparator can
    * sort/hash the result. */
  val hashFeatures: String = {
    val d = graft.operators.TextOps.HashDim
    s"""SELECT doc_id, CAST(dims.dim AS BIGINT) AS dim,
       |  CAST(len(list_filter(list_transform(t, x -> ${fp("x")} % $d),
       |                       h -> h = dims.dim)) AS BIGINT) AS n
       |FROM (SELECT doc_id, ${toks("text")} AS t FROM documents)
       |CROSS JOIN (SELECT unnest(range(0, $d)) AS dim) dims""".stripMargin
  }

  /** twin of [[graft.operators.Pipeline.domainCap]]: same
    * multiplicative-hash order, per-source row_number cap. */
  val domainCap: String = {
    import graft.operators.Pipeline.{DomainCap, SampleMod, SampleMult}
    s"""WITH d AS (SELECT doc_id, source, n_chars,
       |    (doc_id * $SampleMult) % $SampleMod AS h FROM documents),
       |r AS (SELECT source, n_chars,
       |  row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn FROM d)
       |SELECT source, count(*) AS n_total,
       |  CAST(sum(CASE WHEN rn <= $DomainCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN rn > $DomainCap THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
       |FROM r GROUP BY source""".stripMargin
  }

  /** twin of [[graft.operators.Media.shardPack]]: hash order, running
    * byte total per source, start-offset shard assignment. */
  val shardPack: String = {
    import graft.operators.Media.ShardBytes
    import graft.operators.Pipeline.{SampleMod, SampleMult}
    s"""WITH d AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS nbytes,
       |    (doc_id * $SampleMult) % $SampleMod AS h FROM documents),
       |c AS (SELECT source, nbytes, sum(nbytes) OVER (
       |    PARTITION BY source ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
       |SELECT source, CAST((cum - nbytes) // $ShardBytes AS BIGINT) AS shard,
       |  count(*) AS n_blobs, CAST(sum(nbytes) AS BIGINT) AS shard_bytes
       |FROM c GROUP BY 1, 2""".stripMargin
  }

  /** twin of [[graft.operators.TextOps.zipfFit]]: head-K rank table,
    * identical OLS sum formula over ln(rank)/ln(freq). */
  val zipfFit: String = {
    import graft.operators.TextOps.ZipfK
    s"""WITH tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(${toks("lower(text)")}) AS tok FROM documents)
       |  GROUP BY tok),
       |head AS (SELECT tok, c FROM tf ORDER BY c DESC, tok LIMIT $ZipfK),
       |ranked AS (SELECT
       |    ln(CAST(row_number() OVER (ORDER BY c DESC, tok) AS DOUBLE)) AS x,
       |    ln(CAST(c AS DOUBLE)) AS y
       |  FROM head),
       |fit AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM ranked),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_vocab FROM tf)
       |SELECT CAST(n AS BIGINT) AS k,
       |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
       |  sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx / n AS intercept,
       |  n_tokens, n_vocab
       |FROM fit, tot""".stripMargin
  }

  /** twin of [[graft.operators.TextOps.bpeTrain]]: the three merge
    * rounds unrolled — per-round pair count, argmax, stateless
    * merge/drop rewrite. Identical-symbol pairs (a = b) count and
    * merge only at EVEN run offsets (gaps-and-islands parity — the
    * leftmost-greedy rule without sequential semantics). */
  val bpeTrain: String =
    s"""WITH $bpeCtes
       |SELECT CAST(1 AS BIGINT) AS step, a, b, a || b AS merged, cnt FROM m1
       |UNION ALL SELECT CAST(2 AS BIGINT), a, b, a || b, cnt FROM m2
       |UNION ALL SELECT CAST(3 AS BIGINT), a, b, a || b, cnt FROM m3""".stripMargin

  /** twin of [[graft.operators.TextOps.bpeApply]]: symbol totals over
    * the initial and final loop states of the same unrolled rounds. */
  val bpeApply: String =
    s"""WITH $bpeCtes,
       |tb AS (SELECT CAST(sum(wc) AS BIGINT) AS symbols_before FROM s1),
       |ta AS (SELECT CAST(sum(wc) AS BIGINT) AS symbols_after FROM s4)
       |SELECT symbols_before, symbols_after,
       |  symbols_after / CAST(symbols_before AS DOUBLE) AS compression
       |FROM tb, ta""".stripMargin

  /** shared CTE chain of the three unrolled BPE merge rounds. */
  private lazy val bpeCtes: String = {
    def round(i: Int): String = {
      val (si, ci, pi, mi, sn) = (s"s$i", s"c$i", s"p$i", s"m$i", s"s${i + 1}")
      // ci: neighbor symbols + the run offset (rn − rn_within_sym
      // islands, then 0-based offset inside the run) — the parity that
      // makes repeated-symbol merges a stateless leftmost-greedy rule
      s"""$ci AS (SELECT w, wc, pos, sym, nxt, prv,
         |    row_number() OVER (PARTITION BY w, sym, grp ORDER BY pos) - 1 AS off
         |  FROM (SELECT w, wc, pos, sym,
         |      lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
         |      lag(sym) OVER (PARTITION BY w ORDER BY pos) AS prv,
         |      row_number() OVER (PARTITION BY w ORDER BY pos)
         |        - row_number() OVER (PARTITION BY w, sym ORDER BY pos) AS grp
         |    FROM $si) t0),
         |$pi AS (SELECT sym AS a, nxt AS b, CAST(sum(wc) AS BIGINT) AS cnt FROM $ci
         |  WHERE nxt IS NOT NULL AND (sym <> nxt OR off % 2 = 0) GROUP BY 1, 2),
         |$mi AS (SELECT a, b, cnt FROM $pi ORDER BY cnt DESC, a, b LIMIT 1),
         |$sn AS (SELECT w, wc, pos,
         |    CASE WHEN sym = m.a AND coalesce(nxt, '') = m.b
         |          AND (m.a <> m.b OR off % 2 = 0)
         |         THEN m.a || m.b ELSE sym END AS sym
         |  FROM $ci t, $mi m
         |  WHERE NOT (coalesce(t.prv, '') = m.a AND t.sym = m.b
         |             AND (m.a <> m.b OR off % 2 = 1)))""".stripMargin
    }
    s"""words AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest(${toks("lower(text)")}) AS w FROM documents)
       |  GROUP BY w),
       |s1 AS (SELECT w, wc, CAST(i AS BIGINT) AS pos, sym FROM (
       |    SELECT w, wc, unnest(string_split(w, '')) AS sym,
       |      unnest(generate_series(1, length(w))) AS i FROM words)),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin
  }

  /** twin of [[graft.operators.Similarity.knnGraph]]: occupancy-capped
    * candidate groups (second-level plane refinement over wide buckets,
    * then deterministic hash slices — Similarity.knnCandidates), pair
    * dots, per-vector top-k, mutual filter, label-pair rollup. */
  /** shared refine-then-slice grouping CTEs — twin of
    * [[graft.operators.Similarity.slicedGroups]]: second-level plane
    * signature, occupancy tables, refined key, deterministic hash
    * slice. Occupancy counts run over VALID (nrm > 0) vectors only,
    * matching the Spark side's pre-filtered quantized table. */
  private lazy val knnGroupCtes: String = {
    import graft.operators.Similarity.KnnBucketCap
    s"""planes2 AS (
       |  SELECT p, j, CAST(((p * 73 + j * 37) % 41) - 20 AS BIGINT) AS w
       |  FROM unnest(generate_series(8, 15)) AS tp(p),
       |       unnest(generate_series(0, 63)) AS tj(j)),
       |pd2 AS (
       |  SELECT t.vec_id, pl.p, CAST(sum(t.x * pl.w) AS BIGINT) AS d
       |  FROM el t JOIN planes2 pl ON t.i = pl.j + 1 GROUP BY 1, 2),
       |bkt2 AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN d > 0 THEN (1 << (p - 8)) ELSE 0 END) AS BIGINT) AS b1
       |  FROM pd2 GROUP BY vec_id),
       |bktv AS (SELECT b.vec_id, b.bucket FROM bkt b JOIN valid v USING (vec_id)),
       |occ0 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS occ0 FROM bktv GROUP BY 1),
       |k1 AS (SELECT b.vec_id,
       |    CASE WHEN o.occ0 > $KnnBucketCap
       |         THEN 256 + b.bucket * 256 + b2.b1 ELSE b.bucket END AS key1
       |  FROM bktv b JOIN occ0 o USING (bucket) JOIN bkt2 b2 USING (vec_id)),
       |occ1 AS (SELECT key1, CAST(count(*) AS BIGINT) AS occ1 FROM k1 GROUP BY 1),
       |sh AS (SELECT vec_id, key1,
       |    xor(vec_id % 4294967296, (vec_id % 4294967296) >> 16)
       |      * 73244475 % 4294967296 AS sh1
       |  FROM k1),
       |sh2 AS (SELECT vec_id, key1,
       |    xor(sh1, sh1 >> 16) * 73244475 % 4294967296 AS sh2
       |  FROM sh),
       |grp AS (SELECT s.vec_id, s.key1,
       |    xor(s.sh2, s.sh2 >> 16)
       |      % ((o.occ1 + ${KnnBucketCap - 1}) // $KnnBucketCap) AS slice
       |  FROM sh2 s JOIN occ1 o USING (key1))""".stripMargin
  }

  val knnGraph: String = {
    import graft.operators.Similarity.KnnGraphK
    s"""WITH $embBase,
       |${bucketCtes("el")},
       |$knnGroupCtes,
       |dots AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(sum(a.x * b.x) AS BIGINT) AS dot
       |  FROM el a JOIN el b ON a.i = b.i
       |  JOIN grp ga ON a.vec_id = ga.vec_id
       |  JOIN grp gb ON b.vec_id = gb.vec_id
       |    AND ga.key1 = gb.key1 AND ga.slice = gb.slice
       |  WHERE a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.qid, d.nid, d.dot / (sqrt(qa.nrm) * sqrt(qb.nrm)) AS cos
       |  FROM dots d JOIN valid qa ON d.qid = qa.vec_id
       |  JOIN valid qb ON d.nid = qb.vec_id),
       |knn AS (SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS r
       |    FROM scored) WHERE r <= $KnnGraphK),
       |mutual AS (SELECT k1.qid, k1.nid FROM knn k1
       |  JOIN knn k2 ON k1.qid = k2.nid AND k1.nid = k2.qid
       |  WHERE k1.qid < k1.nid),
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings)
       |SELECT least(la.label, lb.label) AS l1, greatest(la.label, lb.label) AS l2,
       |  count(*) AS n_edges
       |FROM mutual m JOIN lab la ON m.qid = la.vec_id
       |JOIN lab lb ON m.nid = lb.vec_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** twin of [[graft.operators.Similarity.bucketStats]]: occupancy
    * summary over the same shared grouping CTEs. */
  val bucketStats: String = {
    import graft.operators.Similarity.KnnBucketCap
    s"""WITH $embBase,
       |${bucketCtes("el")},
       |$knnGroupCtes,
       |u AS (SELECT key1, slice, CAST(count(*) AS BIGINT) AS gsz
       |  FROM grp GROUP BY 1, 2),
       |s0 AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       |    CAST(max(occ0) AS BIGINT) AS max_bucket,
       |    CAST(count(CASE WHEN occ0 > $KnnBucketCap THEN 1 END) AS BIGINT) AS refined_buckets
       |  FROM occ0),
       |s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
       |    CAST(count(CASE WHEN occ1 > $KnnBucketCap THEN 1 END) AS BIGINT) AS sliced_groups
       |  FROM occ1),
       |s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
       |    CAST(max(gsz) AS BIGINT) AS max_unit FROM u),
       |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM grp)
       |SELECT n_vectors, n_buckets, max_bucket, refined_buckets,
       |  n_groups, sliced_groups, n_units, max_unit
       |FROM nv, s0, s1, s2""".stripMargin
  }

  /** twin of [[graft.operators.Similarity.embOutliers]]: same scaled
    * integer distance Σ(n·x − S)², same z-score and per-label top-k. */
  val embOutliers: String = {
    import graft.operators.Similarity.OutlierTopK
    s"""WITH $embBase,
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |el2 AS (SELECT e.vec_id, l.label, e.i AS j, e.x
       |  FROM el e JOIN lab l ON e.vec_id = l.vec_id),
       |st AS (SELECT label, j, CAST(sum(x) AS BIGINT) AS s,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM el2 GROUP BY 1, 2),
       |d AS (SELECT vec_id, el2.label,
       |    CAST(sum((n * x - s) * (n * x - s)) AS BIGINT) AS d2
       |  FROM el2 JOIN st USING (label, j) GROUP BY 1, 2),
       |m AS (SELECT label, avg(CAST(d2 AS DOUBLE)) AS mu,
       |    avg(CAST(d2 AS DOUBLE) * CAST(d2 AS DOUBLE)) AS m2
       |  FROM d GROUP BY 1),
       |z AS (SELECT d.label, d.vec_id, d.d2,
       |    CASE WHEN m2 - mu * mu > 0
       |         THEN (d2 - mu) / sqrt(m2 - mu * mu) END AS z
       |  FROM d JOIN m USING (label))
       |SELECT label, rank, vec_id, d2, z FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY label ORDER BY z DESC NULLS LAST, vec_id) AS BIGINT) AS rank
       |  FROM z) WHERE rank <= $OutlierTopK""".stripMargin
  }

  /** twin of [[graft.operators.TextOps.ngramEntropy]]: H = ln N −
    * (Σ c·ln c)/N over the same exact integer counts. */
  val ngramEntropy: String =
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
       |uni AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(t) AS g FROM t) GROUP BY g),
       |bi AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT t[i] || ' ' || t[i + 1] AS g
       |    FROM t, unnest(generate_series(1, len(t) - 1)) AS u(i)
       |    WHERE len(t) >= 2) GROUP BY g),
       |ue AS (SELECT CAST(sum(c) AS BIGINT) AS uni_n, count(*) AS uni_vocab,
       |    ln(CAST(sum(c) AS DOUBLE)) - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE) AS uni_entropy
       |  FROM uni),
       |be AS (SELECT CAST(sum(c) AS BIGINT) AS bi_n, count(*) AS bi_vocab,
       |    ln(CAST(sum(c) AS DOUBLE)) - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE) AS bi_entropy
       |  FROM bi)
       |SELECT uni_n, uni_vocab, uni_entropy, bi_n, bi_vocab, bi_entropy
       |FROM ue, be""".stripMargin

  /** twin of [[graft.operators.Pipeline.datasetCard]]: the same
    * aggregate families composed into one row (r12: + the leakage /
    * cross-source / epoch-shortfall audit rollups — lazy because the
    * audit twins are declared later in this object). */
  lazy val datasetCard: String =
    s"""WITH $qualityCtes,
       |$langCtes,
       |base AS (SELECT count(*) AS n_docs,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(sum(len(${toks("text")})) AS BIGINT) AS n_tokens
       |  FROM documents),
       |voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab FROM (
       |    SELECT unnest(${toks("text")}) AS tok FROM documents)),
       |mq AS (SELECT avg(quality) AS mean_quality FROM qual),
       |lg AS (SELECT
       |    CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |    CAST(sum(CASE WHEN pred = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
       |    CAST(sum(CASE WHEN pred = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
       |    CAST(sum(CASE WHEN pred = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
       |    CAST(sum(CASE WHEN pred = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh_docs
       |  FROM lpred),
       |dp AS (SELECT CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_docs FROM (
       |    SELECT ${fp("text")} AS fp, count(*) AS n FROM documents GROUP BY 1)),
       |lk AS (SELECT CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS leak_pairs,
       |    CAST(count(DISTINCT family) AS BIGINT) AS leak_families
       |  FROM ($leakageFamilies) WHERE split_a <> split_b),
       |xs AS (SELECT CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS cross_src_pairs,
       |    CAST(coalesce(sum(n_strong), 0) AS BIGINT) AS cross_src_strong
       |  FROM ($dupSources) WHERE source_lo <> source_hi),
       |ep AS (SELECT CAST(round(sum(shortfall)) AS BIGINT)
       |    AS plan_shortfall_tokens FROM ($epochPlan)),
       |cn AS (SELECT
       |    CAST(coalesce(sum(CASE WHEN split = 'val' THEN n_contaminated END), 0)
       |      AS BIGINT) AS contam_val_docs,
       |    CAST(coalesce(sum(CASE WHEN split = 'test' THEN n_contaminated END), 0)
       |      AS BIGINT) AS contam_test_docs,
       |    CAST(sum(n_hits) AS DOUBLE) / CAST(sum(n_grams) AS DOUBLE)
       |      AS contam_hit_rate
       |  FROM ($ngramOverlap)),
       |dc AS (SELECT
       |    CAST(coalesce(sum(n_dropped), 0) AS BIGINT) AS decontam_dropped_docs,
       |    CAST(coalesce(sum(n_kept), 0) AS BIGINT) AS decontam_kept_docs
       |  FROM ($ngramDecontaminate))
       |SELECT n_docs, n_sources, n_tokens, n_vocab, mean_quality,
       |  n_en, n_de, n_es, n_fr, n_zh_docs, dup_docs,
       |  leak_pairs, leak_families, cross_src_pairs, cross_src_strong,
       |  plan_shortfall_tokens,
       |  contam_val_docs, contam_test_docs, contam_hit_rate,
       |  decontam_dropped_docs, decontam_kept_docs
       |FROM base, voc, mq, lg, dp, lk, xs, ep, cn, dc""".stripMargin

  /** twin of [[graft.operators.Similarity.annMultiprobe]]: same
    * weakest-plane flip (argmin |d|, lowest p), two probes per query,
    * bucket equi-join, exact rerank. */
  val annMultiprobe: String = {
    import graft.operators.Similarity.{K, NumPlanes, QueryMod}
    s"""WITH $embBase,
       |${bucketCtes("el")},
       |wk AS (SELECT vec_id, p FROM (
       |    SELECT vec_id, p,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY abs(d), p) AS r
       |    FROM pd WHERE vec_id % $QueryMod = 0) WHERE r = 1),
       |qb AS (SELECT vec_id, bucket FROM bkt WHERE vec_id % $QueryMod = 0),
       |probes AS (
       |  SELECT vec_id, bucket FROM qb
       |  UNION ALL
       |  SELECT q.vec_id, xor(q.bucket, CAST(1 AS BIGINT) << w.p) AS bucket
       |  FROM qb q JOIN wk w USING (vec_id)),
       |cand AS (
       |  SELECT p.vec_id AS qid, c.vec_id AS nid
       |  FROM probes p JOIN bkt c ON p.bucket = c.bucket
       |  WHERE p.vec_id <> c.vec_id),
       |dots AS (
       |  SELECT cd.qid, cd.nid, CAST(sum(a.x * b.x) AS BIGINT) AS dot
       |  FROM cand cd
       |  JOIN el a ON a.vec_id = cd.qid
       |  JOIN el b ON b.vec_id = cd.nid AND a.i = b.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.qid, d.nid, d.dot / (sqrt(qa.nrm) * sqrt(qb2.nrm)) AS cos
       |  FROM dots d JOIN valid qa ON d.qid = qa.vec_id
       |  JOIN valid qb2 ON d.nid = qb2.vec_id),
       |ranked AS (
       |  SELECT qid, nid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
       |  FROM scored)
       |SELECT qid, rnk AS rank, nid, cos FROM ranked WHERE rnk <= $K""".stripMargin
  }

  /** winnowing CTE chain ending in `wsel(doc_id, pos, h)` — twin of
    * [[graft.operators.TextOps.winnowSelected]]: per-position char
    * k-gram hashes, then rightmost-min selection per W-gram window via
    * the same max(struct(−h, pos)) frame aggregate. */
  private lazy val winnowCtes: String = {
    import graft.operators.TextOps.{WinnowK, WinnowW}
    s"""wg AS (SELECT doc_id,
       |    CAST(unnest(generate_series(1, length(text) - $WinnowK + 1)) AS BIGINT) AS pos,
       |    unnest(list_transform(generate_series(1, length(text) - $WinnowK + 1),
       |      p -> ${fp(s"substring(text, p, $WinnowK)")})) AS h
       |  FROM documents WHERE length(text) >= $WinnowK),
       |wsel AS (SELECT DISTINCT doc_id,
       |    struct_extract(pick, 'pos') AS pos,
       |    -struct_extract(pick, 'nh') AS h FROM (
       |  SELECT doc_id, pos, h,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
       |    max(struct_pack(nh := -h, pos := pos)) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS pick
       |  FROM wg) t WHERE rn >= $WinnowW)""".stripMargin
  }

  /** twin of [[graft.operators.TextOps.winnow]]: per-doc selection
    * stats over the winnowed fingerprints. */
  val winnow: String = {
    import graft.operators.TextOps.WinnowW
    s"""WITH $winnowCtes,
       |g AS (SELECT doc_id,
       |    greatest(CAST(strlen(text) AS BIGINT) - ${graft.operators.TextOps.WinnowK - 1}, 0) AS n_grams
       |  FROM documents),
       |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sel,
       |    CAST(count(DISTINCT h) AS BIGINT) AS n_fp FROM wsel GROUP BY 1)
       |SELECT g.doc_id, g.n_grams,
       |  greatest(g.n_grams - ${WinnowW - 1}, 0) AS n_windows,
       |  coalesce(s.n_sel, 0) AS n_sel,
       |  coalesce(s.n_fp, 0) AS n_fp,
       |  CASE WHEN greatest(g.n_grams - ${WinnowW - 1}, 0) > 0
       |       THEN coalesce(s.n_sel, 0)
       |            / CAST(greatest(g.n_grams - ${WinnowW - 1}, 0) AS DOUBLE)
       |       END AS density
       |FROM g
       |LEFT JOIN s ON g.doc_id = s.doc_id""".stripMargin
  }

  /** twin of [[graft.operators.Dedup.winnowPairs]]: df-capped inverted
    * index over selected fingerprints, pair join, share floor. */
  val winnowPairs: String = {
    import graft.operators.Dedup.{WinnowMaxDf, WinnowMinShared}
    s"""WITH $winnowCtes,
       |fps AS (SELECT DISTINCT doc_id, h FROM wsel),
       |rare AS (SELECT h FROM fps GROUP BY h
       |  HAVING count(*) BETWEEN 2 AND $WinnowMaxDf)
       |SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
       |FROM (SELECT f.doc_id, f.h FROM fps f JOIN rare r USING (h)) a
       |JOIN (SELECT f.doc_id, f.h FROM fps f JOIN rare r USING (h)) b
       |  ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared""".stripMargin
  }

  /** twin of [[graft.operators.Dedup.winnowContainment]]: pair table
    * plus per-doc fingerprint counts → directional containment. */
  val winnowContainment: String = {
    import graft.operators.Dedup.{WinnowMaxDf, WinnowMinShared}
    s"""WITH $winnowCtes,
       |fps AS (SELECT DISTINCT doc_id, h FROM wsel),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp FROM fps GROUP BY 1),
       |rare AS (SELECT h FROM fps GROUP BY h
       |  HAVING count(*) BETWEEN 2 AND $WinnowMaxDf),
       |pr AS (SELECT a.doc_id AS a, b.doc_id AS b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM (SELECT f.doc_id, f.h FROM fps f JOIN rare r USING (h)) a
       |  JOIN (SELECT f.doc_id, f.h FROM fps f JOIN rare r USING (h)) b
       |    ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
       |SELECT pr.a, pr.b, pr.n_shared,
       |  pr.n_shared / CAST(sa.nfp AS DOUBLE) AS cont_a,
       |  pr.n_shared / CAST(sb.nfp AS DOUBLE) AS cont_b
       |FROM pr JOIN sizes sa ON pr.a = sa.doc_id
       |JOIN sizes sb ON pr.b = sb.doc_id""".stripMargin
  }

  /** twin of [[graft.operators.TextOps.codeDetect]]: probe-suffixed
    * corpus, line/symbol-shape counts, integer-threshold flag. */
  val codeDetect: String = {
    import graft.operators.TextOps.{CodeMod, CodeSuffix}
    val sfx = CodeSuffix.split("\n", -1)
      .map(s => s"'${s.replace("'", "''")}'").mkString(" || chr(10) || ")
    s"""WITH probed AS (SELECT doc_id,
       |    CASE WHEN doc_id % $CodeMod = 0 THEN text || $sfx ELSE text END AS text
       |  FROM documents),
       |sig AS (SELECT doc_id,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |      l -> regexp_matches(l, '[;{}]$$'))) AS BIGINT) AS n_code_lines,
       |    CAST(len(regexp_extract_all(text, '[{}();=<>]')) AS BIGINT) AS n_sym,
       |    CAST(len(regexp_extract_all(text, '[a-z]+[A-Z][a-zA-Z]*')) AS BIGINT) AS n_camel,
       |    CAST(len(regexp_extract_all(text, '[a-z]+_[a-z]+')) AS BIGINT) AS n_snake,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM probed)
       |SELECT doc_id, n_lines, n_code_lines, n_sym, n_camel, n_snake, n_chars,
       |  (n_code_lines * 10 >= n_lines * 3 OR n_sym * 20 >= n_chars) AS is_code
       |FROM sig""".stripMargin
  }

  /** twin of Pipeline.splitLeakage: ngram-Jaccard pairs labeled with
    * the 80/10/10 multiplicative-hash split, cross cells canonicalized
    * by split rank. */
  val splitLeakage: String = {
    import graft.operators.Pipeline.{SampleMod, SplitMult}
    s"""WITH jp AS (SELECT * FROM ($ngramJaccard)),
       |k AS (SELECT
       |  CASE WHEN ((a * $SplitMult) % $SampleMod) % 100 < 80 THEN 0
       |       WHEN ((a * $SplitMult) % $SampleMod) % 100 < 90 THEN 1
       |       ELSE 2 END AS ra,
       |  CASE WHEN ((b * $SplitMult) % $SampleMod) % 100 < 80 THEN 0
       |       WHEN ((b * $SplitMult) % $SampleMod) % 100 < 90 THEN 1
       |       ELSE 2 END AS rb FROM jp)
       |SELECT
       |  CASE least(ra, rb) WHEN 0 THEN 'train' WHEN 1 THEN 'val'
       |    ELSE 'test' END AS split_a,
       |  CASE greatest(ra, rb) WHEN 0 THEN 'train' WHEN 1 THEN 'val'
       |    ELSE 'test' END AS split_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM k GROUP BY 1, 2""".stripMargin
  }

  /** twin of Pipeline.leakageFamilies: the five verified pair-table
    * twins unioned under a family label (r12: + semantic = the
    * embedding-cosine pairs), same split arithmetic. */
  val leakageFamilies: String = {
    import graft.operators.Pipeline.{SampleMod, SplitMult}
    s"""WITH u AS (
       |  SELECT 'ngram_jaccard' AS family, a, b FROM ($ngramJaccard)
       |  UNION ALL SELECT 'minhash_lsh' AS family, a, b FROM ($minhashLsh)
       |  UNION ALL SELECT 'simhash_band' AS family, a, b FROM ($simhashDup)
       |  UNION ALL SELECT 'winnow' AS family, a, b FROM ($winnowPairs)
       |  UNION ALL SELECT 'semantic' AS family, a, b FROM ($embeddingDup)),
       |k AS (SELECT family,
       |  CASE WHEN ((a * $SplitMult) % $SampleMod) % 100 < 80 THEN 0
       |       WHEN ((a * $SplitMult) % $SampleMod) % 100 < 90 THEN 1
       |       ELSE 2 END AS ra,
       |  CASE WHEN ((b * $SplitMult) % $SampleMod) % 100 < 80 THEN 0
       |       WHEN ((b * $SplitMult) % $SampleMod) % 100 < 90 THEN 1
       |       ELSE 2 END AS rb FROM u)
       |SELECT family,
       |  CASE least(ra, rb) WHEN 0 THEN 'train' WHEN 1 THEN 'val'
       |    ELSE 'test' END AS split_a,
       |  CASE greatest(ra, rb) WHEN 0 THEN 'train' WHEN 1 THEN 'val'
       |    ELSE 'test' END AS split_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM k GROUP BY 1, 2, 3""".stripMargin
  }

  /** twin of [[graft.operators.Pipeline.dsirWeights]]: hashed-unigram
    * buckets, add-one-smoothed target/raw likelihood ratio in integer
    * micro-units, per-doc ratio-weighted sums. */
  val dsirWeights: String = dsirWeightsOver("documents",
    "JOIN documents d USING (doc_id) WHERE d.lang = 'en'")

  /** [[dsirWeights]] over any (doc_id, text) table with an arbitrary
    * target-slice clause for the tcb CTE. */
  def dsirWeightsOver(table: String, targetClause: String): String = {
    import graft.operators.Pipeline.{DsirBuckets, DsirScale}
    s"""WITH dt AS (SELECT doc_id, ${toks("text")} AS t FROM $table),
       |dtok AS (
       |  SELECT doc_id, unnest(t) AS g FROM dt
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
       |      j -> t[j] || ' ' || t[j + 1])) AS g
       |  FROM dt WHERE len(t) >= 2),
       |db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, ${fp("g")} % $DsirBuckets AS bucket FROM dtok) t
       |  GROUP BY 1, 2),
       |tcb AS (SELECT b.bucket, CAST(sum(b.cnt) AS BIGINT) AS tc FROM db b
       |  $targetClause GROUP BY 1),
       |ratio AS (SELECT r.bucket, r.rc, coalesce(t.tc, 0) AS tc FROM
       |  (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc FROM db GROUP BY 1) r
       |  LEFT JOIN tcb t USING (bucket)),
       |tot AS (SELECT CAST(sum(tc) AS BIGINT) AS tt, CAST(sum(rc) AS BIGINT) AS rt
       |  FROM ratio),
       |lr AS (SELECT bucket,
       |    CAST((CAST($DsirScale AS HUGEINT) * (tc + 1) * (rt + $DsirBuckets))
       |         // (CAST(rc + 1 AS HUGEINT) * (tt + $DsirBuckets)) AS BIGINT) AS lr_micro
       |  FROM ratio, tot)
       |SELECT db.doc_id, CAST(sum(db.cnt) AS BIGINT) AS n_tokens,
       |  CAST(sum(CAST(db.cnt AS HUGEINT) * lr.lr_micro) AS BIGINT) AS score_micro,
       |  CAST(sum(CAST(db.cnt AS HUGEINT) * lr.lr_micro) // sum(db.cnt) AS BIGINT) AS avg_micro
       |FROM db JOIN lr USING (bucket) GROUP BY db.doc_id""".stripMargin
  }

  /** twin of [[graft.operators.Pipeline.dsirSample]]: per-language
    * selection rates at the integer corpus-mean threshold. */
  val dsirSample: String =
    s"""WITH w AS ($dsirWeights),
       |thr AS (SELECT CAST(sum(avg_micro) // count(*) AS BIGINT) AS thr FROM w)
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN w.avg_micro >= t.thr THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_selected,
       |  sum(CASE WHEN w.avg_micro >= t.thr THEN 1 ELSE 0 END)
       |    / CAST(count(*) AS DOUBLE) AS sel_rate
       |FROM w JOIN documents d USING (doc_id), thr t
       |GROUP BY d.lang""".stripMargin

  /** twin of [[graft.operators.Pipeline.sourceMix]]: per-source token
    * mass, temperature-scaled sampling weight, epoch boost. */
  val sourceMix: String = {
    import graft.operators.Pipeline.MixAlpha
    s"""WITH by AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(${toks("text")})) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM by),
       |p AS (SELECT source, n_docs, n_tokens,
       |    n_tokens / CAST(tt AS DOUBLE) AS p,
       |    pow(n_tokens / CAST(tt AS DOUBLE), $MixAlpha) AS pa
       |  FROM by, tot),
       |z AS (SELECT sum(pa) AS z FROM p)
       |SELECT source, n_docs, n_tokens, p.p AS p,
       |  pa / z.z AS q, (pa / z.z) / p.p AS boost
       |FROM p, z""".stripMargin
  }

  /** twin of Pipeline.epochPlan: the sourceMix twin as a derived
    * table, then the same fixed-order double chain (target → raw
    * epochs → cap → realized → shortfall), each step its own derived
    * table so the op order is pinned. */
  lazy val epochPlan: String = {
    import graft.operators.Pipeline.{MaxEpochs, PlanTokenBudget}
    s"""WITH mix AS (SELECT source, n_tokens, q FROM ($sourceMix)),
       |t AS (SELECT source, n_tokens, q,
       |    CAST($PlanTokenBudget AS DOUBLE) * q AS target_tokens FROM mix),
       |e AS (SELECT *, target_tokens / CAST(n_tokens AS DOUBLE) AS epochs_raw
       |  FROM t),
       |c AS (SELECT *, least(epochs_raw, $MaxEpochs) AS epochs FROM e),
       |r AS (SELECT *, epochs * CAST(n_tokens AS DOUBLE) AS realized_tokens
       |  FROM c)
       |SELECT source, n_tokens, q, target_tokens, epochs_raw, epochs,
       |  realized_tokens, target_tokens - realized_tokens AS shortfall
       |FROM r""".stripMargin
  }

  /** twin of [[graft.operators.Similarity.matryoshkaRecall]]: per
    * prefix length m, prefix-cosine top-K vs the full-dim brute-force
    * truth. */
  val matryoshka: String = {
    import graft.operators.Similarity.{MatryoshkaDims, QueryMod, K}
    val dims = MatryoshkaDims.mkString("[", ", ", "]")
    s"""WITH $embBase,
       |mdims AS (SELECT CAST(unnest($dims) AS BIGINT) AS m),
       |pq AS (SELECT m.m, el.vec_id, CAST(sum(el.x * el.x) AS BIGINT) AS pn
       |  FROM el, mdims m WHERE el.i <= m.m GROUP BY 1, 2),
       |qv AS (SELECT p.m, p.vec_id AS qid, p.pn AS qn
       |  FROM pq p JOIN valid v ON p.vec_id = v.vec_id
       |  WHERE p.vec_id % $QueryMod = 0 AND p.pn > 0),
       |cvx AS (SELECT p.m, p.vec_id AS nid, p.pn AS cn
       |  FROM pq p JOIN valid v ON p.vec_id = v.vec_id WHERE p.pn > 0),
       |pdots AS (SELECT m.m, a.vec_id AS qid, b.vec_id AS nid,
       |    CAST(sum(a.x * b.x) AS BIGINT) AS dot
       |  FROM el a JOIN el b ON a.i = b.i, mdims m
       |  WHERE a.vec_id % $QueryMod = 0 AND a.vec_id <> b.vec_id AND a.i <= m.m
       |  GROUP BY 1, 2, 3),
       |scored AS (SELECT d.m, d.qid, d.nid,
       |    d.dot / (sqrt(q.qn) * sqrt(c.cn)) AS cos
       |  FROM pdots d JOIN qv q ON d.m = q.m AND d.qid = q.qid
       |  JOIN cvx c ON d.m = c.m AND d.nid = c.nid),
       |ranked AS (SELECT m, qid, nid,
       |    row_number() OVER (PARTITION BY m, qid ORDER BY cos DESC, nid) AS rnk
       |  FROM scored),
       |ptop AS (SELECT m, qid, nid FROM ranked WHERE rnk <= $K),
       |truth AS (SELECT qid, nid FROM ($annBruteForce)),
       |t AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT p.m, count(*) AS n_hits, CAST(t.n_truth AS BIGINT) AS n_truth,
       |  count(*) / CAST(t.n_truth AS DOUBLE) AS recall
       |FROM ptop p JOIN truth USING (qid, nid), t
       |GROUP BY p.m, t.n_truth""".stripMargin
  }

  /** twin of [[graft.operators.Similarity.classCentroids]]: per-label
    * centroid norm + cosine to the corpus-mean direction, quadratics
    * in HUGEINT, doubles only in the final projection (same op order
    * as the Spark side). No nrm>0 filter — every vector is a class
    * member. */
  val classCentroids: String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q,
       |    CAST(label AS BIGINT) AS label
       |  FROM embeddings),
       |el AS (SELECT vec_id, label, unnest(q) AS x,
       |    unnest(generate_series(1, len(q))) AS i FROM e),
       |sl AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS s
       |  FROM el GROUP BY 1, 2),
       |g AS (SELECT i, CAST(sum(s) AS BIGINT) AS g FROM sl GROUP BY 1),
       |per AS (SELECT label,
       |    sum(CAST(sl.s AS HUGEINT) * sl.s) AS ss,
       |    sum(CAST(sl.s AS HUGEINT) * g.g) AS sg
       |  FROM sl JOIN g USING (i) GROUP BY 1),
       |gg AS (SELECT sum(CAST(g AS HUGEINT) * g) AS gg FROM g),
       |cnt AS (SELECT CAST(label AS BIGINT) AS label,
       |    CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY 1)
       |SELECT per.label, cnt.n_vecs,
       |  sqrt(CAST(per.ss AS DOUBLE)) / cnt.n_vecs / 1000.0 AS centroid_norm,
       |  CAST(per.sg AS DOUBLE) /
       |    (sqrt(CAST(per.ss AS DOUBLE)) * sqrt(CAST(gg.gg AS DOUBLE)))
       |    AS cos_to_global
       |FROM per JOIN cnt USING (label), gg""".stripMargin

  /** twin of [[graft.operators.Similarity.centroidEval]]: nearest-
    * centroid confusion matrix — centroids over ALL vectors, queries
    * restricted to nonzero norms, ranking by dot/√ss with ties to the
    * smaller label. */
  val centroidEval: String =
    s"""WITH e0 AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |el0 AS (SELECT vec_id, label, unnest(q) AS x,
       |    unnest(generate_series(1, len(q))) AS i FROM e0),
       |sl AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS s
       |  FROM el0 GROUP BY 1, 2),
       |ssx AS (SELECT label, sum(CAST(s AS HUGEINT) * s) AS ss
       |  FROM sl GROUP BY 1),
       |vq AS (SELECT vec_id FROM el0 GROUP BY vec_id
       |  HAVING sum(x * x) > 0),
       |dots AS (SELECT q.vec_id, sl.label AS cand,
       |    CAST(sum(q.x * sl.s) AS BIGINT) AS dot
       |  FROM el0 q JOIN vq USING (vec_id) JOIN sl ON q.i = sl.i
       |  GROUP BY 1, 2),
       |scored AS (SELECT d.vec_id, d.cand,
       |    CAST(d.dot AS DOUBLE) / sqrt(CAST(s.ss AS DOUBLE)) AS score
       |  FROM dots d JOIN ssx s ON d.cand = s.label),
       |pick AS (SELECT vec_id, cand,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cand) AS rn
       |  FROM scored)
       |SELECT l.label, p.cand AS pred, CAST(count(*) AS BIGINT) AS n
       |FROM pick p JOIN (SELECT vec_id, CAST(label AS BIGINT) AS label
       |  FROM embeddings) l USING (vec_id)
       |WHERE p.rn = 1 GROUP BY 1, 2""".stripMargin

  /** twin of [[graft.operators.Pipeline.sourceShift]]: per-source
    * hashed-unigram histogram vs the corpus histogram — KL in nats +
    * total-variation distance (missing-bucket mass folded in as
    * 1 − Σ_{b∈s} p_c). Division/ln op order mirrors the Spark side so
    * both engines round identically at 6 dp. */
  val sourceShift: String = {
    import graft.operators.Pipeline.ShiftBuckets
    s"""WITH dtok AS (SELECT source, ${fp("tok")} % $ShiftBuckets AS bucket
       |  FROM (SELECT source, unnest(${toks("text")}) AS tok FROM documents) u),
       |sb AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS sc
       |  FROM dtok GROUP BY 1, 2),
       |cb AS (SELECT bucket, CAST(sum(sc) AS BIGINT) AS cc FROM sb GROUP BY 1),
       |st AS (SELECT source, CAST(sum(sc) AS BIGINT) AS stot FROM sb GROUP BY 1),
       |ct AS (SELECT CAST(sum(cc) AS BIGINT) AS ctot FROM cb)
       |SELECT sb.source,
       |  min(st.stot) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_buckets,
       |  sum((sc / CAST(stot AS DOUBLE)) *
       |      ln((sc / CAST(stot AS DOUBLE)) / (cc / CAST(ctot AS DOUBLE))))
       |    AS kl_nats,
       |  (sum(abs(sc / CAST(stot AS DOUBLE) - cc / CAST(ctot AS DOUBLE)))
       |      + 1.0 - sum(cc / CAST(ctot AS DOUBLE))) / 2.0 AS tv_dist
       |FROM sb JOIN cb USING (bucket) JOIN st USING (source), ct
       |GROUP BY sb.source""".stripMargin
  }

  /** twin of [[graft.operators.Dedup.sourceFlow]]: winnow overlap
    * pairs labelled by source, aggregated per unordered source pair. */
  val sourceFlow: String =
    s"""WITH wp AS ($winnowPairs)
       |SELECT least(x.source, y.source) AS source_a,
       |  greatest(x.source, y.source) AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(wp.n_shared) AS BIGINT) AS shared_fps
       |FROM wp JOIN documents x ON wp.a = x.doc_id
       |JOIN documents y ON wp.b = y.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** twin of [[graft.operators.Pipeline.filterFunnel]]: every curation
    * gate evaluated independently on all documents, per source. Docs
    * too short for the repetition statistics (no rep row) fail that
    * gate, matching the Spark side's left-join + coalesce(keep, 0). */
  val filterFunnel: String = {
    import graft.operators.{Dedup, Pipeline}
    s"""WITH $qualityCtes,
       |rep AS ($repetition),
       |cl AS ($dedupClusters),
       |dec AS ($decontaminate),
       |flags AS (
       |  SELECT d.doc_id, d.source,
       |    CASE WHEN q.quality >= ${Pipeline.QualityTau} THEN 1 ELSE 0 END AS pq,
       |    coalesce(r.keep, 0) AS pr,
       |    CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END AS pd,
       |    CASE WHEN x.doc_id IS NULL THEN 1 ELSE 0 END AS pc
       |  FROM documents d
       |  JOIN qual q USING (doc_id)
       |  LEFT JOIN rep r USING (doc_id)
       |  LEFT JOIN (SELECT doc_id FROM cl WHERE doc_id < ${Dedup.IdOffset}) c
       |    USING (doc_id)
       |  LEFT JOIN dec x USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(pq) AS BIGINT) AS pass_quality,
       |  CAST(sum(pr) AS BIGINT) AS pass_repetition,
       |  CAST(sum(pd) AS BIGINT) AS pass_dedup,
       |  CAST(sum(pc) AS BIGINT) AS pass_decontam,
       |  CAST(sum(pq * pr * pd * pc) AS BIGINT) AS pass_all
       |FROM flags GROUP BY source""".stripMargin
  }
}
