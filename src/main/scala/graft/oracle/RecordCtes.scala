package graft.oracle

import graft.model.RecordSpec

/** DuckDB-SQL twin of the record-store derivation, corruption injection
  * and full consistency check
  * ([[graft.model.RecordStores]] / [[graft.checker.Corruption]] /
  * [[graft.checker.FullCheck]]).
  *
  * Generated from the same [[RecordSpec]] constants as the Spark side so
  * the two cannot drift on the spec data; the CASE/join logic is mirrored
  * by hand and held in sync by the oracle gate itself (any divergence
  * fails the hash compare at sf0.01).
  *
  * DuckDB-isms intentionally used (the oracle runs in DuckDB, not ANSI):
  * `//` integer division, `unnest(generate_series(...))`, `WINDOW`.
  */
object RecordCtes {
  import RecordSpec._
  private val B = Ctes.B

  // ---- consistent record stores --------------------------------------

  private val relTyped =
    s"""rel_typed AS (
       |  SELECT id, src, dst,
       |    CASE type ${relTypes.map { case (i, n) => s"WHEN '$n' THEN $i" }.mkString(" ")} ELSE -1 END AS type_id
       |  FROM rels)""".stripMargin

  private val incidence =
    """inc AS (
      |  SELECT src AS node, id AS rel_id, 0 AS side FROM rels
      |  UNION ALL SELECT dst, id, 1 FROM rels),
      |inc_pn AS (
      |  SELECT node, rel_id, side,
      |    lag(rel_id, 1, -1) OVER w AS prev,
      |    lead(rel_id, 1, -1) OVER w AS next
      |  FROM inc WINDOW w AS (PARTITION BY node ORDER BY rel_id)),
      |chain AS (
      |  SELECT rel_id,
      |    max(CASE WHEN side = 0 THEN prev END) AS first_prev,
      |    max(CASE WHEN side = 0 THEN next END) AS first_next,
      |    max(CASE WHEN side = 1 THEN prev END) AS second_prev,
      |    max(CASE WHEN side = 1 THEN next END) AS second_next
      |  FROM inc_pn GROUP BY rel_id),
      |min_rel AS (SELECT node, min(rel_id) AS min_rel FROM inc GROUP BY node)""".stripMargin

  private val baseRecs =
    s"""node_recs0 AS (
      |  SELECT n.id, TRUE AS in_use, coalesce(m.min_rel, -1) AS next_rel,
      |    n.id * 4 AS next_prop
      |  FROM nodes n LEFT JOIN min_rel m ON n.id = m.node),
      |rel_recs0 AS (
      |  SELECT r.id, TRUE AS in_use, r.type_id, r.src AS first_node,
      |    r.dst AS second_node, c.first_prev, c.first_next, c.second_prev,
      |    c.second_next, r.id * 4 AS next_prop
      |  FROM rel_typed r JOIN chain c ON r.id = c.rel_id),
      |neo_recs0 AS (
      |  SELECT CAST($NeoStoreId AS BIGINT) AS id, TRUE AS in_use,
      |    CAST(${NeoStoreId * 4} AS BIGINT) AS next_prop)""".stripMargin

  private val propRows = {
    val extras = extraProps.flatMap { kp =>
      kp.extras.map { e =>
        s"  UNION ALL SELECT ${kp.kindCode} * $B + ${kp.keyCol}, ${e.keyId}, ${e.seq}, ${e.ptype0}, ${e.vlenExpr} FROM ${kp.table}"
      }
    }.mkString("\n")
    s"""prop_rows0 AS (
       |  SELECT id AS owner, 0 AS key_id, 0 AS seq, $TShortString AS ptype0,
       |    length(name) AS vlen
       |  FROM nodes
       |$extras
       |  UNION ALL SELECT id, $RelWeightKey, 0, $TLong, 0 FROM rel_typed
       |  UNION ALL SELECT id, $RelNoteKey, 1, $TShortString, 5 + id % 29
       |    FROM rel_typed WHERE id % $RelNoteMod = 1
       |  UNION ALL SELECT CAST($NeoStoreId AS BIGINT), $NeoNameKey, 0,
       |    $TShortString, $NeoNameLen
       |  UNION ALL SELECT CAST($NeoStoreId AS BIGINT), $NeoTxKey, 1, $TLong, 0),
       |prop_rows AS (
       |  SELECT owner, key_id, seq,
       |    CASE WHEN ptype0 = $TShortString AND vlen > $BlockSize THEN $TLongString ELSE ptype0 END AS ptype,
       |    CASE WHEN (ptype0 = $TShortString AND vlen > $BlockSize) OR ptype0 = $TArray
       |         THEN (owner * 16 + key_id) * 8 ELSE -1 END AS value_ref,
       |    CAST(vlen AS BIGINT) AS vlen
       |  FROM prop_rows0)""".stripMargin
  }

  private val propRecs =
    s"""pr1 AS (SELECT DISTINCT owner, seq // 4 AS ri FROM prop_rows),
       |pr2 AS (SELECT owner, ri, max(ri) OVER (PARTITION BY owner) AS mri FROM pr1),
       |prop_recs0 AS (
       |  SELECT owner * 4 + ri AS id, TRUE AS in_use, owner,
       |    CASE WHEN ri = 0 THEN -1 ELSE owner * 4 + ri - 1 END AS prev_prop,
       |    CASE WHEN ri = mri THEN -1 ELSE owner * 4 + ri + 1 END AS next_prop
       |  FROM pr2),
       |blocks0 AS (
       |  SELECT owner * 4 + (seq // 4) AS prop_id, seq % 4 AS idx, key_id,
       |    ptype, value_ref, vlen
       |  FROM prop_rows),
       |dyns0 AS (
       |  SELECT value_ref + j AS id, TRUE AS in_use,
       |    CASE WHEN j < nb - 1 THEN $BlockSize ELSE vlen - $BlockSize * (nb - 1) END AS len,
       |    CASE WHEN j < nb - 1 THEN value_ref + j + 1 ELSE -1 END AS next_block
       |  FROM (
       |    SELECT value_ref, vlen, (vlen + ${BlockSize - 1}) // $BlockSize AS nb,
       |      unnest(generate_series(0, (vlen + ${BlockSize - 1}) // $BlockSize - 1)) AS j
       |    FROM prop_rows WHERE ptype = $TLongString)),
       |arrays0 AS (
       |  SELECT value_ref + j AS id, TRUE AS in_use,
       |    CASE WHEN j < nb - 1 THEN $BlockSize ELSE vlen - $BlockSize * (nb - 1) END AS len,
       |    CASE WHEN j < nb - 1 THEN value_ref + j + 1 ELSE -1 END AS next_block
       |  FROM (
       |    SELECT value_ref, vlen, (vlen + ${BlockSize - 1}) // $BlockSize AS nb,
       |      unnest(generate_series(0, (vlen + ${BlockSize - 1}) // $BlockSize - 1)) AS j
       |    FROM prop_rows WHERE ptype = $TArray))""".stripMargin

  private def dimValues(dict: Seq[(Int, String)]): String =
    dict.map { case (i, _) =>
      s"(CAST($i AS BIGINT), TRUE, CAST(${i * 8} AS BIGINT))"
    }.mkString(", ")

  private def nameValues(dict: Seq[(Int, String)]): String =
    dict.flatMap { case (i, n) => nameBlocks(i, n) }.map {
      case (id, _, len, next) =>
        s"(CAST($id AS BIGINT), TRUE, CAST($len AS BIGINT), CAST($next AS BIGINT))"
    }.mkString(", ")

  private val dims =
    s"""rel_types_d AS (SELECT * FROM (VALUES ${dimValues(relTypes)}) AS t(id, in_use, name_id)),
       |prop_keys_d AS (SELECT * FROM (VALUES ${dimValues(propKeys)}) AS t(id, in_use, name_id)),
       |type_names0 AS (SELECT * FROM (VALUES ${nameValues(relTypes)}) AS t(id, in_use, len, next_block)),
       |key_names0 AS (SELECT * FROM (VALUES ${nameValues(propKeys)}) AS t(id, in_use, len, next_block))""".stripMargin

  // ---- corruption (twin of graft.checker.Corruption) -----------------

  private val corruption =
    """c_nodes AS (
      |  SELECT id,
      |    CASE WHEN id % 107 = 9 THEN FALSE ELSE in_use END AS in_use,
      |    CASE WHEN id % 101 = 3 AND next_rel <> -1 THEN next_rel + 1000000 ELSE next_rel END AS next_rel,
      |    CASE WHEN id % 113 = 11 THEN (id + 1) * 4 ELSE next_prop END AS next_prop
      |  FROM node_recs0),
      |c_rels AS (
      |  SELECT id, in_use,
      |    CASE WHEN id % 103 = 5 THEN 77 ELSE type_id END AS type_id,
      |    first_node, second_node,
      |    CASE WHEN id % 181 = 37 AND first_prev <> -1 THEN first_prev + 1000000 ELSE first_prev END AS first_prev,
      |    CASE WHEN id % 109 = 7 AND first_next <> -1 THEN first_next + 1000000 ELSE first_next END AS first_next,
      |    CASE WHEN id % 191 = 43 AND second_prev <> -1 THEN second_prev + 1000000 ELSE second_prev END AS second_prev,
      |    CASE WHEN id % 139 = 23 AND second_next <> -1 THEN second_next + 1000000 ELSE second_next END AS second_next,
      |    CASE WHEN id % 151 = 29 THEN (id + 1) * 4 ELSE next_prop END AS next_prop
      |  FROM rel_recs0),
      |c_neo AS (
      |  SELECT id, in_use, CAST(4 AS BIGINT) AS next_prop FROM neo_recs0),
      |c_props AS (
      |  SELECT id, in_use, owner,
      |    CASE WHEN id % 131 = 17 AND prev_prop <> -1 THEN prev_prop + 5000000 ELSE prev_prop END AS prev_prop,
      |    CASE WHEN id % 157 = 31 AND next_prop <> -1 THEN next_prop + 5000000 ELSE next_prop END AS next_prop
      |  FROM prop_recs0),
      |c_blocks AS (
      |  SELECT prop_id, idx, key_id,
      |    CASE WHEN (prop_id // 4) % 179 = 53 AND ptype = 1 THEN 99
      |         ELSE ptype END AS ptype,
      |    CASE WHEN (prop_id // 4) % 149 = 31 AND ptype = 4 AND key_id = 0 THEN value_ref + 128
      |         WHEN (prop_id // 4) % 163 = 41 AND ptype = 5 THEN value_ref + 128
      |         ELSE value_ref END AS value_ref,
      |    vlen
      |  FROM blocks0),
      |c_dyns AS (
      |  SELECT id, in_use,
      |    CASE WHEN id % 137 = 19 THEN 0 ELSE len END AS len,
      |    CASE WHEN id % 127 = 13 AND next_block <> -1 THEN id ELSE next_block END AS next_block
      |  FROM dyns0),
      |c_arrays AS (
      |  SELECT id, in_use,
      |    CASE WHEN id % 173 = 19 THEN 0 ELSE len END AS len,
      |    CASE WHEN id % 167 = 13 AND next_block <> -1 THEN id ELSE next_block END AS next_block
      |  FROM arrays0),
      |c_type_names AS (
      |  SELECT id, in_use,
      |    CASE WHEN id = 16 THEN 0 ELSE len END AS len,
      |    next_block
      |  FROM type_names0)""".stripMargin

  // ---- violations (twin of graft.checker.FullCheck) ------------------

  private def check(sql: String): String =
    s"SELECT * FROM (\n$sql\n) WHERE violation IS NOT NULL"

  private def relChainPtr(field: String, nodeCol: String, backIsNext: Boolean,
                          name: String): String = {
    val (bf, bs) = if (backIsNext) ("o.first_next", "o.second_next")
                   else ("o.first_prev", "o.second_prev")
    val back = s"CASE WHEN o.first_node = r.$nodeCol THEN $bf WHEN o.second_node = r.$nodeCol THEN $bs END"
    s"""  SELECT 'relationship' AS record_type,
       |    CASE WHEN o.id IS NULL OR NOT o.in_use THEN '${name}_not_in_use'
       |         WHEN ($back) IS NULL THEN '${name}_references_other_node'
       |         WHEN ($back) <> r.id THEN '${name}_does_not_reference_back'
       |    END AS violation, r.id AS record_id
       |  FROM c_rels r LEFT JOIN c_rels o ON r.$field = o.id
       |  WHERE r.in_use AND r.$field <> -1""".stripMargin
  }

  private def relEndpoint(nodeCol: String, prevCol: String, name: String): String =
    s"""  SELECT 'relationship' AS record_type,
       |    CASE WHEN n.id IS NULL OR NOT n.in_use THEN '${name}_node_not_in_use'
       |         WHEN r.$prevCol = -1 AND n.next_rel = -1 THEN '${name}_node_has_no_relationships'
       |         WHEN r.$prevCol = -1 AND n.next_rel <> r.id THEN '${name}_node_does_not_reference_back'
       |    END AS violation, r.id AS record_id
       |  FROM c_rels r LEFT JOIN c_nodes n ON r.$nodeCol = n.id
       |  WHERE r.in_use""".stripMargin

  private def propPtr(field: String, backCol: String, name: String): String =
    s"""  SELECT 'property' AS record_type,
       |    CASE WHEN o.id IS NULL OR NOT o.in_use THEN '${name}_not_in_use'
       |         WHEN o.$backCol <> p.id THEN '${name}_does_not_reference_back'
       |    END AS violation, p.id AS record_id
       |  FROM c_props p LEFT JOIN c_props o ON p.$field = o.id
       |  WHERE p.in_use AND p.$field <> -1""".stripMargin

  private def dynChecks(table: String, recordType: String): String = {
    val recordLevel =
      s"""  SELECT '$recordType' AS record_type,
         |    CASE WHEN len <= 0 OR len > $BlockSize THEN 'invalid_length'
         |         WHEN len < $BlockSize AND next_block <> -1 THEN 'record_not_full_references_next'
         |    END AS violation, id AS record_id
         |  FROM $table WHERE in_use""".stripMargin
    val pointerLevel =
      s"""  SELECT '$recordType' AS record_type,
         |    CASE WHEN d.next_block = d.id THEN 'self_reference'
         |         WHEN o.id IS NULL OR NOT o.in_use THEN 'next_block_not_in_use'
         |         WHEN o.len <= 0 THEN 'next_block_empty'
         |    END AS violation, d.id AS record_id
         |  FROM $table d LEFT JOIN $table o ON d.next_block = o.id
         |  WHERE d.in_use AND d.next_block <> -1""".stripMargin
    check(recordLevel) + "\nUNION ALL " + check(pointerLevel)
  }

  private def dictNames(dict: String, names: String, recordType: String): String =
    check(s"""  SELECT '$recordType' AS record_type,
         |    CASE WHEN nm.id IS NULL OR NOT nm.in_use THEN 'name_block_not_in_use'
         |         WHEN nm.len <= 0 THEN 'empty_name'
         |    END AS violation, t.id AS record_id
         |  FROM $dict t LEFT JOIN $names nm ON t.name_id = nm.id
         |  WHERE t.in_use""".stripMargin)

  private val violations: String = {
    val j1 = check(
      """  SELECT 'node' AS record_type,
        |    CASE WHEN r.id IS NULL OR NOT r.in_use THEN 'relationship_not_in_use'
        |         WHEN r.first_node <> n.id AND r.second_node <> n.id THEN 'relationship_for_other_node'
        |         WHEN (r.first_node = n.id AND r.first_prev <> -1)
        |           OR (r.second_node = n.id AND r.second_prev <> -1) THEN 'relationship_not_first_in_chain'
        |    END AS violation, n.id AS record_id
        |  FROM c_nodes n LEFT JOIN c_rels r ON n.next_rel = r.id
        |  WHERE n.in_use AND n.next_rel <> -1""".stripMargin)
    val j2 = check(
      """  SELECT 'relationship' AS record_type,
        |    CASE WHEN t.id IS NULL OR NOT t.in_use THEN 'label_not_in_use' END AS violation,
        |    r.id AS record_id
        |  FROM c_rels r LEFT JOIN rel_types_d t ON r.type_id = t.id
        |  WHERE r.in_use""".stripMargin)
    val j3 = check(relEndpoint("first_node", "first_prev", "source")) +
      "\nUNION ALL " + check(relEndpoint("second_node", "second_prev", "target"))
    val j4 = Seq(
      relChainPtr("first_prev", "first_node", backIsNext = true, "source_prev"),
      relChainPtr("first_next", "first_node", backIsNext = false, "source_next"),
      relChainPtr("second_prev", "second_node", backIsNext = true, "target_prev"),
      relChainPtr("second_next", "second_node", backIsNext = false, "target_next"),
    ).map(check).mkString("\nUNION ALL ")
    // J5 runs over ALL property-owning primitives (node, rel, neostore)
    // via one owners union — the twin of FullCheck's `next_prop` pointers
    val j5 = check(
      """  SELECT o.record_type,
        |    CASE WHEN p.id IS NULL OR NOT p.in_use THEN 'property_not_in_use'
        |         WHEN p.prev_prop <> -1 THEN 'property_not_first_in_chain'
        |    END AS violation, o.id AS record_id
        |  FROM (SELECT 'node' AS record_type, id, in_use, next_prop FROM c_nodes
        |        UNION ALL SELECT 'relationship', id, in_use, next_prop FROM c_rels
        |        UNION ALL SELECT 'neostore', id, in_use, next_prop FROM c_neo) o
        |  LEFT JOIN c_props p ON o.next_prop = p.id
        |  WHERE o.in_use AND o.next_prop <> -1""".stripMargin)
    val j6 = check(propPtr("prev_prop", "next_prop", "prev")) +
      "\nUNION ALL " + check(propPtr("next_prop", "prev_prop", "next"))
    val j7 = check(
      """  SELECT 'property' AS record_type,
        |    CASE WHEN k.id IS NULL OR NOT k.in_use THEN 'key_not_in_use' END AS violation,
        |    b.prop_id AS record_id
        |  FROM c_blocks b LEFT JOIN prop_keys_d k ON b.key_id = k.id""".stripMargin)
    val j8 = check(
      """  SELECT 'property' AS record_type,
        |    CASE WHEN d.id IS NULL OR NOT d.in_use THEN 'string_not_in_use'
        |         WHEN d.len <= 0 THEN 'string_empty'
        |    END AS violation, b.prop_id AS record_id
        |  FROM c_blocks b LEFT JOIN c_dyns d ON b.value_ref = d.id
        |  WHERE b.ptype = 4""".stripMargin) +
      "\nUNION ALL " + check(
      """  SELECT 'property' AS record_type,
        |    CASE WHEN d.id IS NULL OR NOT d.in_use THEN 'array_not_in_use'
        |         WHEN d.len <= 0 THEN 'array_empty'
        |    END AS violation, b.prop_id AS record_id
        |  FROM c_blocks b LEFT JOIN c_arrays d ON b.value_ref = d.id
        |  WHERE b.ptype = 5""".stripMargin)
    // P3 type-validity (invalid_property_value) — twin of
    // FullCheck's block-type scan predicate
    val jPT = check(
      s"""  SELECT 'property' AS record_type,
         |    CASE WHEN ptype NOT IN ($TLong, $TDouble, $TShortString, $TLongString, $TArray)
         |         THEN 'invalid_property_value' END AS violation,
         |    prop_id AS record_id
         |  FROM c_blocks""".stripMargin)
    val j9 = dynChecks("c_dyns", "string") +
      "\nUNION ALL " + dynChecks("c_arrays", "array") +
      "\nUNION ALL " + dynChecks("c_type_names", "label_name") +
      "\nUNION ALL " + dynChecks("key_names0", "key_name")
    val j10 = dictNames("rel_types_d", "c_type_names", "label") +
      "\nUNION ALL " + dictNames("prop_keys_d", "key_names0", "key")
    val owners =
      """(SELECT id, in_use, next_prop FROM c_nodes
        |   UNION ALL SELECT id, in_use, next_prop FROM c_rels
        |   UNION ALL SELECT id, in_use, next_prop FROM c_neo)""".stripMargin
    val j13 =
      s"""SELECT 'property' AS record_type, 'multiple_owners' AS violation,
        |  next_prop AS record_id
        |FROM $owners o
        |WHERE in_use AND next_prop <> -1
        |GROUP BY next_prop HAVING count(*) > 1""".stripMargin
    val j14 =
      """SELECT 'string' AS record_type, 'multiple_owners' AS violation,
        |  value_ref AS record_id
        |FROM c_blocks WHERE ptype = 4 GROUP BY value_ref HAVING count(*) > 1
        |UNION ALL
        |SELECT 'array', 'multiple_owners', value_ref
        |FROM c_blocks WHERE ptype = 5 GROUP BY value_ref HAVING count(*) > 1""".stripMargin
    val j15 =
      s"""SELECT 'property' AS record_type, 'orphan_chain' AS violation, p.id AS record_id
        |FROM c_props p
        |WHERE p.in_use AND p.prev_prop = -1
        |  AND NOT EXISTS (SELECT 1 FROM $owners o
        |                  WHERE o.in_use AND o.next_prop = p.id)
        |UNION ALL
        |SELECT 'string', 'orphan_chain', d.id
        |FROM c_dyns d
        |WHERE d.in_use AND d.id % 8 = 0
        |  AND NOT EXISTS (SELECT 1 FROM c_blocks b WHERE b.ptype = 4 AND b.value_ref = d.id)
        |UNION ALL
        |SELECT 'array', 'orphan_chain', d.id
        |FROM c_arrays d
        |WHERE d.in_use AND d.id % 8 = 0
        |  AND NOT EXISTS (SELECT 1 FROM c_blocks b WHERE b.ptype = 5 AND b.value_ref = d.id)""".stripMargin
    Seq(j1, j2, j3, j4, j5, j6, j7, j8, jPT, j9, j10, j13, j14, j15)
      .mkString("\nUNION ALL ")
  }

  /** WITH-prefix holding the whole record-store world (consistent +
    * corrupted + violations). */
  val world: String =
    s"""${Ctes.graph},
       |$relTyped,
       |$incidence,
       |$baseRecs,
       |$propRows,
       |$propRecs,
       |$dims,
       |$corruption,
       |violations AS (
       |$violations
       |)""".stripMargin

  val ccViolations: String =
    s"$world\nSELECT record_type, violation, record_id FROM violations"

  val ccSummary: String =
    s"""$world
       |SELECT record_type, violation, count(*) AS n
       |FROM violations GROUP BY record_type, violation""".stripMargin

  /** Incremental diff check (J12 checkChange, the full NotUpdated
    * family — ConsistencyReport.java:233-266) — twin of
    * graft.checker.DiffCheck over the corruption "transaction"
    * (old = consistent stores, new = corrupted stores). */
  val ccDiffCheck: String = {
    val relPtrPreds = Seq(
      ("source_prev", "first_prev"), ("source_next", "first_next"),
      ("target_prev", "second_prev"), ("target_next", "second_next"))
      .map { case (nm, c) =>
        s"""SELECT 'relationship' AS record_type, '${nm}_not_updated' AS violation,
           |  id AS record_id
           |FROM rel_diff rd
           |WHERE o_$c <> n_$c AND o_$c <> -1
           |  AND NOT EXISTS (SELECT 1 FROM rel_diff r2 WHERE r2.id = rd.o_$c)""".stripMargin
      }.mkString("\nUNION ALL\n")
    val propPtrPreds = Seq(("prev_property", "prev_prop"),
      ("next_property", "next_prop"))
      .map { case (nm, c) =>
        s"""SELECT 'property' AS record_type, '${nm}_not_updated' AS violation,
           |  id AS record_id
           |FROM prop_diff pd
           |WHERE o_$c <> n_$c AND o_$c <> -1
           |  AND NOT EXISTS (SELECT 1 FROM prop_diff p2 WHERE p2.id = pd.o_$c)""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""$world,
       |node_diff AS (
       |  SELECT o.id, o.in_use AS o_iu, n.in_use AS n_iu,
       |    o.next_rel AS o_nr, n.next_rel AS n_nr,
       |    o.next_prop AS o_np, n.next_prop AS n_np
       |  FROM node_recs0 o JOIN c_nodes n ON o.id = n.id
       |  WHERE o.in_use <> n.in_use OR o.next_rel <> n.next_rel
       |     OR o.next_prop <> n.next_prop),
       |rel_diff AS (
       |  SELECT o.id,
       |    o.first_prev AS o_first_prev, r.first_prev AS n_first_prev,
       |    o.first_next AS o_first_next, r.first_next AS n_first_next,
       |    o.second_prev AS o_second_prev, r.second_prev AS n_second_prev,
       |    o.second_next AS o_second_next, r.second_next AS n_second_next,
       |    o.next_prop AS o_np, r.next_prop AS n_np
       |  FROM rel_recs0 o JOIN c_rels r ON o.id = r.id
       |  WHERE o.type_id <> r.type_id
       |     OR o.first_prev <> r.first_prev OR o.first_next <> r.first_next
       |     OR o.second_prev <> r.second_prev OR o.second_next <> r.second_next
       |     OR o.next_prop <> r.next_prop),
       |prop_diff AS (
       |  SELECT o.id,
       |    o.prev_prop AS o_prev_prop, p.prev_prop AS n_prev_prop,
       |    o.next_prop AS o_next_prop, p.next_prop AS n_next_prop
       |  FROM prop_recs0 o JOIN c_props p ON o.id = p.id
       |  WHERE o.prev_prop <> p.prev_prop OR o.next_prop <> p.next_prop),
       |neo_diff AS (
       |  SELECT o.id, o.next_prop AS o_np, n.next_prop AS n_np
       |  FROM neo_recs0 o JOIN c_neo n ON o.id = n.id
       |  WHERE o.next_prop <> n.next_prop)
       |SELECT 'node' AS record_type, 'relationship_not_updated' AS violation,
       |  id AS record_id
       |FROM node_diff
       |WHERE o_nr <> n_nr AND o_nr <> -1
       |  AND NOT EXISTS (SELECT 1 FROM rel_diff r WHERE r.id = node_diff.o_nr)
       |UNION ALL
       |$relPtrPreds
       |UNION ALL
       |SELECT 'node', 'property_not_updated', id
       |FROM node_diff
       |WHERE o_np <> n_np AND o_np <> -1
       |  AND NOT EXISTS (SELECT 1 FROM prop_diff p WHERE p.id = node_diff.o_np)
       |UNION ALL
       |SELECT 'relationship', 'property_not_updated', id
       |FROM rel_diff rd
       |WHERE o_np <> n_np AND o_np <> -1
       |  AND NOT EXISTS (SELECT 1 FROM prop_diff p WHERE p.id = rd.o_np)
       |UNION ALL
       |SELECT 'neostore', 'property_not_updated', id
       |FROM neo_diff nd
       |WHERE o_np <> n_np AND o_np <> -1
       |  AND NOT EXISTS (SELECT 1 FROM prop_diff p WHERE p.id = nd.o_np)
       |UNION ALL
       |$propPtrPreds""".stripMargin
  }

  /** Twin of the `rec_backup_verify` query: a FAITHFUL restore yields
    * exactly the live violation multiset (n_mismatch 0), so the oracle
    * is the live per-type counts — any drift in the snapshot/restore
    * path shows up as a hash mismatch. */
  val recBackupVerify: String =
    s"""$world
       |SELECT record_type, count(*) AS n, CAST(0 AS BIGINT) AS n_mismatch
       |FROM violations GROUP BY record_type""".stripMargin

  /** Per-store profile of the CONSISTENT derivation — parity probe for
    * the record-twin derivation itself (modulo keeps sums in BIGINT
    * range at any sf). */
  val recProfile: String =
    s"""$world
       |SELECT 'nodes' AS store, count(*) AS n,
       |  CAST(sum(next_rel % 1000003) AS BIGINT) AS s1,
       |  CAST(sum(next_prop % 1000003) AS BIGINT) AS s2
       |FROM node_recs0
       |UNION ALL SELECT 'rels', count(*),
       |  CAST(sum((first_prev + first_next) % 1000003) AS BIGINT),
       |  CAST(sum((second_prev + second_next) % 1000003) AS BIGINT) FROM rel_recs0
       |UNION ALL SELECT 'neo', count(*),
       |  CAST(sum(next_prop % 1000003) AS BIGINT),
       |  CAST(sum(0) AS BIGINT) FROM neo_recs0
       |UNION ALL SELECT 'props', count(*),
       |  CAST(sum(prev_prop % 1000003) AS BIGINT),
       |  CAST(sum(next_prop % 1000003) AS BIGINT) FROM prop_recs0
       |UNION ALL SELECT 'blocks', count(*),
       |  CAST(sum(value_ref % 1000003) AS BIGINT),
       |  CAST(sum(vlen + key_id * 31 + ptype) AS BIGINT) FROM blocks0
       |UNION ALL SELECT 'dyns', count(*),
       |  CAST(sum(next_block % 1000003) AS BIGINT),
       |  CAST(sum(len) AS BIGINT) FROM dyns0
       |UNION ALL SELECT 'arrays', count(*),
       |  CAST(sum(next_block % 1000003) AS BIGINT),
       |  CAST(sum(len) AS BIGINT) FROM arrays0""".stripMargin

  /** J16 chain repair — twin of graft.checker.Repair.chainRepairs:
    * re-derive the true chains from the corrupted store's own
    * surviving endpoints, diff against the stored pointers. */
  val recChainRepair: String = {
    val relFields = Seq("first_prev", "first_next", "second_prev", "second_next")
      .map { f =>
        s"""SELECT 'relationship' AS record_type, r.id AS record_id,
           |  '$f' AS field, r.$f AS bad_value, c.$f AS good_value
           |FROM live_rels r JOIN r_chain c ON r.id = c.rel_id
           |WHERE r.$f <> c.$f""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""$world,
       |live_rels AS (SELECT * FROM c_rels WHERE in_use),
       |r_inc AS (
       |  SELECT first_node AS node, id AS rel_id, 0 AS side FROM live_rels
       |  UNION ALL SELECT second_node, id, 1 FROM live_rels),
       |r_inc_pn AS (
       |  SELECT node, rel_id, side,
       |    lag(rel_id, 1, -1) OVER w AS prev,
       |    lead(rel_id, 1, -1) OVER w AS next
       |  FROM r_inc WINDOW w AS (PARTITION BY node ORDER BY rel_id)),
       |r_chain AS (
       |  SELECT rel_id,
       |    max(CASE WHEN side = 0 THEN prev END) AS first_prev,
       |    max(CASE WHEN side = 0 THEN next END) AS first_next,
       |    max(CASE WHEN side = 1 THEN prev END) AS second_prev,
       |    max(CASE WHEN side = 1 THEN next END) AS second_next
       |  FROM r_inc_pn GROUP BY rel_id),
       |r_min AS (SELECT node, min(rel_id) AS min_rel FROM r_inc GROUP BY node)
       |$relFields
       |UNION ALL
       |SELECT 'node', n.id, 'next_rel', n.next_rel, coalesce(m.min_rel, -1)
       |FROM c_nodes n LEFT JOIN r_min m ON n.id = m.node
       |WHERE n.in_use AND n.next_rel <> coalesce(m.min_rel, -1)""".stripMargin
  }

  /** A2 property-store histograms — twin of the `rec_prop_stats` query
    * (reference PropertyStats.java:32-70). */
  val recPropStats: String =
    s"""$world
       |SELECT 'blocks_per_record' AS stat, CAST(k AS BIGINT) AS key,
       |  count(*) AS n
       |FROM (SELECT prop_id, count(*) AS k FROM blocks0 GROUP BY prop_id)
       |GROUP BY k
       |UNION ALL
       |SELECT 'ptype', CAST(ptype AS BIGINT), count(*)
       |FROM blocks0 GROUP BY ptype""".stripMargin
}
