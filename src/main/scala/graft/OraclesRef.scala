package graft

import Inputs.{SeedData, TestData}

/** DuckDB oracle SQL for the reference-surface rows. */
private[graft] object OraclesRef {

  def registry: Map[String, String] = Map(

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "p1_rename_project" ->
      "SELECT p_partkey AS part_id, lower(trim(p_name)) AS name, p_retailprice AS retail FROM part",
    "p2_filter_status" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity >= 30 AND l_linestatus NOT IN ('X')""".stripMargin,
    "p7_limit_topn" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100",
    "p8_dedup_first" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source ORDER BY doc_id ASC) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,
    "j11_xref_join" ->
      """SELECT r_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,
    "j13_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "t1_top1_per_group" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS latest_date FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "t2_newest_top1" ->
      """SELECT user_id, event_id, epoch_us(ts) AS created_us FROM (
        |  SELECT user_id, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "s9_text_scan" ->
      raw"""SELECT CAST(line AS VARCHAR) AS line
        |FROM read_csv('$TestData/UNII_Records_25Oct2018_sample.txt',
        |  delim=chr(1), header=false, quote='', escape='',
        |  columns={'line': 'VARCHAR'})""".stripMargin,
    "set_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin,
    "f13_year_extract" ->
      """SELECT year(o_orderdate) AS order_year, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1""".stripMargin,
    "a7_consensus" ->
      """SELECT o_custkey,
        |  CASE WHEN count(DISTINCT o_orderpriority) = 1 THEN min(o_orderpriority) END AS consensus_priority,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "a1_hash_id" ->
      """SELECT o_orderkey,
        |  sha256(to_json(struct_pack(
        |    o_orderkey := o_orderkey,
        |    status_n := nullif(o_orderstatus, 'P'),
        |    o_orderpriority := o_orderpriority))::VARCHAR) AS hash_id
        |FROM orders""".stripMargin,
    // x1/x4/x8 are frozen golden frames (hand-derived DNF / expansion /
    // ladder expectations, cross-checked against the reference's jest
    // corpus semantics in ProfileDnfSpec).
    "j4_plural_fallback" ->
      """WITH dim AS (
        |  SELECT lower(p_type) || CASE WHEN p_size % 2 = 0 THEN ' inhibitor' ELSE ' inhibitors' END AS name,
        |         min(p_partkey) AS therapy_id
        |  FROM part GROUP BY 1),
        |lk AS (SELECT DISTINCT lower(p_type) || ' inhibitor' AS term FROM part WHERE p_partkey % 13 = 0),
        |direct AS (SELECT term, therapy_id FROM lk LEFT JOIN dim ON term = name)
        |SELECT term, therapy_id, false AS via_fallback FROM direct WHERE therapy_id IS NOT NULL
        |UNION ALL
        |SELECT d.term, d2.therapy_id, d2.name IS NOT NULL AS via_fallback
        |FROM direct d LEFT JOIN dim d2
        |  ON regexp_replace(d.term, '\binhibitor\b', 'inhibitors', 'g') = d2.name
        |WHERE d.therapy_id IS NULL""".stripMargin,
    "j5_vocab_lookup" ->
      """WITH vocab AS (
        |  SELECT n_nationkey AS term_sid, n_name AS term
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA')
        |SELECT c_custkey, term FROM customer LEFT JOIN vocab ON c_nationkey = term_sid
        |WHERE c_custkey % 31 = 0""".stripMargin,
    "j6_therapy_combo" ->
      """WITH dim AS (SELECT lower(p_type) AS elem_name, min(p_partkey) AS elem_id FROM part GROUP BY 1),
        |fl AS (SELECT l_orderkey, l_partkey,
        |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
        |       FROM lineitem WHERE l_orderkey % 251 = 0),
        |elems AS (SELECT l_orderkey AS order_id, elem_id, lower(p_type) AS elem_name
        |          FROM fl JOIN part ON l_partkey = p_partkey
        |          JOIN dim ON lower(p_type) = dim.elem_name
        |          WHERE rn <= 2),
        |g AS (SELECT order_id,
        |        array_to_string(list_sort(list(elem_id)), ' + ') AS combo_source_id,
        |        array_to_string(list_sort(list(elem_name)), ' + ') AS combo_name,
        |        count(*) AS n
        |      FROM elems GROUP BY 1)
        |SELECT order_id, combo_source_id, combo_name FROM g WHERE n = 2""".stripMargin,
    "j7_coalesce_resolve" ->
      """WITH lk AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 2 = 0 THEN o_custkey END AS cust_id,
        |    c_name AS cust_name
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderkey % 41 = 0)
        |SELECT o_orderkey,
        |  coalesce(i.c_custkey, n.c_custkey) AS resolved_custkey,
        |  CASE WHEN i.c_custkey IS NOT NULL THEN 'id' ELSE 'name' END AS via
        |FROM lk
        |LEFT JOIN customer i ON lk.cust_id = i.c_custkey
        |LEFT JOIN customer n ON lk.cust_name = n.c_name""".stripMargin,
    "j8_cascade_resolve" ->
      """WITH lk AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN c_name
        |         WHEN o_orderkey % 3 = 1 THEN upper(c_name)
        |         ELSE replace(c_name, 'Customer#', 'CUST-') END AS term
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderkey % 43 = 0)
        |SELECT o_orderkey,
        |  coalesce(s1.c_custkey, s2.c_custkey, s3.c_custkey) AS resolved_custkey,
        |  CASE WHEN s1.c_custkey IS NOT NULL THEN 1
        |       WHEN s2.c_custkey IS NOT NULL THEN 2
        |       WHEN s3.c_custkey IS NOT NULL THEN 3 END AS stage
        |FROM lk
        |LEFT JOIN customer s1 ON lk.term = s1.c_name
        |LEFT JOIN customer s2 ON lower(lk.term) = lower(s2.c_name)
        |LEFT JOIN customer s3 ON replace(lk.term, 'CUST-', 'Customer#') = s3.c_name""".stripMargin,
    "j9_fetch_union" ->
      """WITH lk AS (SELECT DISTINCT o_custkey AS key FROM orders WHERE o_orderkey % 61 = 0)
        |SELECT key AS custkey, c_name AS name, key % 2 <> 0 AS fetched
        |FROM lk JOIN customer ON key = c_custkey""".stripMargin,
    "j10_biotype_lookup" ->
      """SELECT c_custkey, n_name AS feature_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey % 17 = 0""".stripMargin,
    "a2_recurrence" ->
      """WITH l0 AS (SELECT l_partkey, l_returnflag, l_linestatus, count(DISTINCT l_orderkey) AS n_samples
        |            FROM lineitem GROUP BY 1,2,3 HAVING n_samples >= 3),
        |l1a AS (SELECT l_partkey, l_returnflag, count(DISTINCT l_orderkey) AS n_samples
        |        FROM lineitem GROUP BY 1,2 HAVING n_samples >= 3),
        |l2a AS (SELECT l_partkey, count(DISTINCT l_orderkey) AS n_samples
        |        FROM lineitem GROUP BY 1 HAVING n_samples >= 3),
        |l1 AS (SELECT * FROM l1a WHERE NOT EXISTS (
        |         SELECT 1 FROM l0 WHERE l0.l_partkey = l1a.l_partkey AND l0.l_returnflag = l1a.l_returnflag)),
        |l2 AS (SELECT * FROM l2a WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.l_partkey = l2a.l_partkey)
        |                           AND NOT EXISTS (SELECT 1 FROM l1a WHERE l1a.l_partkey = l2a.l_partkey))
        |SELECT CAST(0 AS INT) AS level, l_partkey, l_returnflag AS disease, l_linestatus AS status, n_samples FROM l0
        |UNION ALL SELECT 1, l_partkey, l_returnflag, NULL, n_samples FROM l1
        |UNION ALL SELECT 2, l_partkey, NULL, NULL, n_samples FROM l2""".stripMargin,
    "a4_fill_collapse" ->
      """WITH f AS (SELECT o_custkey, year(o_orderdate) AS order_year, o_orderkey,
        |    CAST(o_orderstatus <> 'P' AS INT) + CAST(o_orderpriority <> '3-MEDIUM' AS INT) AS fill
        |  FROM orders),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_custkey, order_year ORDER BY fill DESC, o_orderkey ASC) AS rn FROM f)
        |SELECT o_custkey, CAST(order_year AS BIGINT) AS order_year, o_orderkey AS picked_orderkey, CAST(fill AS BIGINT) AS fill
        |FROM r WHERE rn = 1""".stripMargin,
    "a5_name_collision" ->
      """WITH c AS (SELECT c_custkey, c_acctbal, 'cust-' || CAST(c_custkey % 500 AS VARCHAR) AS name FROM customer),
        |m AS (SELECT *, max(c_acctbal) OVER (PARTITION BY name) AS mx FROM c)
        |SELECT name, count(*) AS n_members,
        |  CASE WHEN count(CASE WHEN c_acctbal = mx THEN 1 END) = 1
        |       THEN min(CASE WHEN c_acctbal = mx THEN c_custkey END) END AS resolved_custkey,
        |  count(CASE WHEN c_acctbal = mx THEN 1 END) = 1 AS resolved
        |FROM m GROUP BY name""".stripMargin,
    "a6_version_fold" ->
      """WITH r AS (SELECT o_custkey, year(o_orderdate) AS y, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY year(o_orderdate) ASC, o_orderkey ASC) AS rn
        |  FROM orders)
        |SELECT o_custkey, CAST(min(y) AS BIGINT) AS first_year, CAST(max(y) AS BIGINT) AS last_year,
        |  count(DISTINCT y) AS n_years, min(CASE WHEN rn = 1 THEN o_orderkey END) AS first_orderkey
        |FROM r GROUP BY 1""".stripMargin,
    "a9_column_scan" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN CAST(round(l_quantity) AS BIGINT) = l_linenumber THEN 'l_quantity'
        |       WHEN CAST(round(l_discount * 100) AS BIGINT) = l_linenumber THEN 'l_discount'
        |       WHEN CAST(round(l_tax * 100) AS BIGINT) = l_linenumber THEN 'l_tax' END AS matching_col
        |FROM lineitem WHERE l_orderkey % 89 = 0""".stripMargin,
    "f2_civic_names" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(seq AS BIGINT) AS seq,
        |  CAST(ref1_name AS VARCHAR) AS ref1_name, CAST(ref1_sid AS VARCHAR) AS ref1_sid,
        |  CAST(ref1_class AS VARCHAR) AS ref1_class,
        |  CAST(ref2_name AS VARCHAR) AS ref2_name, CAST(ref2_sid AS VARCHAR) AS ref2_sid,
        |  CAST("positional" AS BOOLEAN) AS "positional", CAST(variant AS VARCHAR) AS variant, CAST(vtype AS VARCHAR) AS vtype,
        |  CAST(inferred_cds AS VARCHAR) AS inferred_cds, CAST(infers_type AS VARCHAR) AS infers_type
        |FROM (VALUES
        |(1, 0, 'gene', '1', NULL, NULL, NULL, TRUE, 'e.12mut', NULL, NULL, NULL),
        |(2, 0, 'alk', '1', NULL, NULL, NULL, FALSE, NULL, 'fusion', NULL, NULL),
        |(2, 1, 'alk', '1', NULL, NULL, NULL, TRUE, 'p.g1202r', NULL, NULL, NULL),
        |(3, 0, 'eml4', NULL, NULL, 'alk', '1', FALSE, NULL, 'fusion', NULL, NULL),
        |(3, 1, 'alk', '1', NULL, NULL, NULL, TRUE, 'p.g1202r', NULL, NULL, NULL),
        |(3, 2, 'alk', '1', NULL, NULL, NULL, TRUE, 'p.l1198f', NULL, NULL, NULL),
        |(4, 0, 'ntrk1', '1', NULL, NULL, NULL, TRUE, 'p.s111c', NULL, 'c.330_331delcainstt', NULL),
        |(5, 0, '9', NULL, NULL, '22', NULL, TRUE, 'translocation(q34, q11)', NULL, NULL, NULL),
        |(6, 0, 'ntrk1', '1', NULL, NULL, NULL, TRUE, 'p.r132h', NULL, NULL, NULL),
        |(7, 0, 'eml4', NULL, NULL, 'alk', '1', TRUE, 'fusion(e.20,e.20)', NULL, NULL, NULL),
        |(8, 0, 'nrg1', '1', NULL, NULL, NULL, FALSE, NULL, 'fusion', NULL, NULL),
        |(9, 0, 'gene', '1', NULL, NULL, NULL, FALSE, NULL, 'deletrious mutation', NULL, NULL),
        |(10, 0, 'gene', '1', NULL, NULL, NULL, TRUE, 'p.y1234phos', NULL, NULL, NULL),
        |(11, 0, 'ntrk1', '1', NULL, NULL, NULL, FALSE, NULL, 'underexpression', NULL, NULL),
        |(12, 0, 'alk', '1', NULL, NULL, NULL, TRUE, 'p.e46*', NULL, 'c.136g>t', NULL),
        |(13, 0, 'ntrk1', '1', NULL, NULL, NULL, FALSE, NULL, 'dna binding domain mutation', NULL, NULL),
        |(14, 0, 'abl1', '1', NULL, NULL, NULL, TRUE, 'c.123g>t', NULL, NULL, NULL),
        |(15, 0, 'abl1', '1', NULL, NULL, NULL, TRUE, 'e.2_3del', NULL, NULL, NULL),
        |(16, 0, 'alk', '1', NULL, NULL, NULL, TRUE, 'p.t133lfs*26', NULL, 'c.397dela', NULL),
        |(17, 0, 'abl1', '1', NULL, NULL, NULL, FALSE, NULL, 'mutation', NULL, NULL),
        |(18, 0, 'abl1', '1', NULL, NULL, NULL, FALSE, NULL, 'mutation', NULL, NULL),
        |(19, 0, 'abl1', '1', NULL, NULL, NULL, TRUE, 'e.3mut', NULL, NULL, NULL),
        |(20, 0, 'alk', '1', NULL, NULL, NULL, TRUE, 'p.f547spl', NULL, NULL, NULL),
        |(21, 0, 'alk', '1', NULL, NULL, NULL, TRUE, 'p.r79_s80del', NULL, 'c.236_241delgcagtc', NULL),
        |(22, 0, 'alk', '1', NULL, NULL, NULL, TRUE, 'p.r82_v84del', NULL, 'c.244_252del', NULL),
        |(23, 0, 'alk', '1', NULL, NULL, NULL, TRUE, 'p.s193_c196dupstsc', NULL, 'c.577_588dupagcaccagctgc', NULL),
        |(24, 0, 'kras', '1', NULL, NULL, NULL, TRUE, 'p.(g12_g13)mut', NULL, NULL, NULL),
        |(25, 0, 'gene', '1', NULL, NULL, NULL, TRUE, 'y.p26.3_p25.3del', NULL, NULL, NULL),
        |(26, 0, 'alk', '1', NULL, NULL, NULL, TRUE, 'p.a50a', NULL, 'c.150c>g', NULL),
        |(26, 1, 'alk', '1', NULL, NULL, NULL, TRUE, 'c.463-1g>t', NULL, NULL, 'splicing alteration'),
        |(27, 0, 'erbb2', '1', NULL, NULL, NULL, FALSE, NULL, 'erbb2 g776insv_g/c', NULL, NULL),
        |(28, 0, 'erbb2', '1', NULL, NULL, NULL, FALSE, NULL, 'exon1 151nt del', NULL, NULL),
        |(28, 1, 'erbb2', '1', NULL, NULL, NULL, FALSE, NULL, 'null (partial deletion of exon 1)', NULL, NULL),
        |(29, 0, 'cd74', NULL, NULL, 'nrg1', '1', FALSE, NULL, 'fusion', NULL, NULL),
        |(30, 0, 'lmna', NULL, NULL, 'ntrk1', '1', FALSE, NULL, 'fusion', NULL, NULL),
        |(30, 1, 'ntrk1', '1', NULL, NULL, NULL, TRUE, 'p.g595r', NULL, NULL, NULL),
        |(30, 2, 'ntrk1', '1', NULL, NULL, NULL, TRUE, 'p.g667c', NULL, NULL, NULL),
        |(31, 0, 'ewsr1', NULL, NULL, 'fli1', '1', TRUE, 'fusion(e.7,e.6)', NULL, NULL, NULL),
        |(32, 0, 'eml4', '1', NULL, 'alk', NULL, TRUE, 'fusion(e.20,e.20)', NULL, NULL, NULL),
        |(33, 0, 'bcr', NULL, NULL, 'abl1', '1', FALSE, NULL, 'fusion', NULL, NULL),
        |(40, 0, 'high mutation burden', NULL, 'Signature', NULL, NULL, FALSE, NULL, 'high signature', NULL, NULL),
        |(41, 0, 'braf', '673', NULL, 'alk', '238', FALSE, NULL, 'fusion', NULL, NULL)
        |) AS t(case_id, seq, ref1_name, ref1_sid, ref1_class, ref2_name, ref2_sid, "positional", variant, vtype, inferred_cds, infers_type)""".stripMargin,
    "f3_oncokb_names" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(parsed_type AS VARCHAR) AS parsed_type,
        |  CAST(reference2 AS VARCHAR) AS reference2, CAST(flipped AS BOOLEAN) AS flipped
        |FROM (VALUES
        |(1, 'p.v600_k601insfglat', NULL, NULL),
        |(2, 'fusion', 'abl1', FALSE),
        |(3, 'fusion', 'bcr', TRUE),
        |(4, 'fusion', 'gopc', TRUE),
        |(5, 'p.(x100_a101)spl', NULL, NULL),
        |(6, 'e.12mut', NULL, NULL),
        |(7, 'truncating', NULL, NULL),
        |(8, 'p.(k550_w557)*', NULL, NULL)
        |) AS t(case_id, parsed_type, reference2, flipped)""".stripMargin,
    "f4_docm_fixes" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(raw AS VARCHAR) AS raw,
        |  CAST(fixed AS VARCHAR) AS fixed FROM (VALUES
        |(1, 'p.W802-', 'p.W802delW'),
        |(2, 'p.DIM842-', 'p.D842_M844delDIM'),
        |(3, 'p.DI842VM', 'p.D842_I843delDIinsVM'),
        |(4, 'p.AB100AC', 'p.B101delBinsC'),
        |(5, 'p.G12D', 'p.G12D'),
        |(6, 'p.ABC100X', 'p.ABC100X')) AS t(case_id, raw, fixed)""".stripMargin,
    "f5_genomic_compose" ->
      """SELECT CAST(rec_id AS BIGINT) AS rec_id, CAST(hgvs_g AS VARCHAR) AS hgvs_g FROM (VALUES
        |(1, 'g.100A>T'), (2, 'g.100_101insTT'), (3, 'g.100_101delGG'),
        |(4, 'g.100delG'), (5, 'g.100_101delAAinsTT'), (6, 'g.100_101delAAinsT')
        |) AS t(rec_id, hgvs_g)""".stripMargin,
    "f6_relevance" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(direction AS VARCHAR) AS direction,
        |  CAST(evidence_type AS VARCHAR) AS evidence_type, CAST(significance AS VARCHAR) AS significance,
        |  CAST(relevance AS VARCHAR) AS relevance FROM (VALUES
        |(0, 'DOES_NOT_SUPPORT', 'FUNCTIONAL', 'DOMINANT_NEGATIVE', 'no dominant negative'),
        |(1, 'DOES_NOT_SUPPORT', 'FUNCTIONAL', 'GAIN_OF_FUNCTION', 'no gain of function'),
        |(2, 'DOES_NOT_SUPPORT', 'FUNCTIONAL', 'NEOMORPHIC', 'no neomorphic'),
        |(3, 'DOES_NOT_SUPPORT', 'ONCOGENIC', 'ONCOGENICITY', 'likely benign'),
        |(4, 'DOES_NOT_SUPPORT', 'PREDICTIVE', 'RESISTANCE', 'no resistance'),
        |(5, 'DOES_NOT_SUPPORT', 'PREDICTIVE', 'SENSITIVITYRESPONSE', 'no response'),
        |(6, 'SUPPORTS', 'DIAGNOSTIC', 'NEGATIVE', 'opposes diagnosis'),
        |(7, 'SUPPORTS', 'DIAGNOSTIC', 'POSITIVE', 'favours diagnosis'),
        |(8, 'SUPPORTS', 'FUNCTIONAL', 'DOMINANT_NEGATIVE', 'dominant negative'),
        |(9, 'SUPPORTS', 'FUNCTIONAL', 'GAIN_OF_FUNCTION', 'gain of function'),
        |(10, 'SUPPORTS', 'FUNCTIONAL', 'LOSS_OF_FUNCTION', 'loss of function'),
        |(11, 'SUPPORTS', 'FUNCTIONAL', 'NEOMORPHIC', 'neomorphic'),
        |(12, 'SUPPORTS', 'FUNCTIONAL', 'UNALTERED_FUNCTION', 'unaltered function'),
        |(13, 'SUPPORTS', 'ONCOGENIC', 'ONCOGENICITY', 'likely oncogenic'),
        |(14, 'SUPPORTS', 'PREDICTIVE', 'ADVERSE_RESPONSE', 'adverse response'),
        |(15, 'SUPPORTS', 'PREDICTIVE', 'REDUCED_SENSITIVITY', 'reduced sensitivity'),
        |(16, 'SUPPORTS', 'PREDICTIVE', 'RESISTANCE', 'resistance'),
        |(17, 'SUPPORTS', 'PREDICTIVE', 'SENSITIVITYRESPONSE', 'sensitivity'),
        |(18, 'SUPPORTS', 'PREDISPOSING', 'LIKELY_PATHOGENIC', 'likely pathogenic'),
        |(19, 'SUPPORTS', 'PREDISPOSING', 'PATHOGENIC', 'pathogenic'),
        |(20, 'SUPPORTS', 'PREDISPOSING', 'POSITIVE', 'predisposing'),
        |(21, 'SUPPORTS', 'PREDISPOSING', 'PREDISPOSITION', 'likely predisposing'),
        |(22, 'SUPPORTS', 'PREDISPOSING', 'PROTECTIVENESS', 'likely protective'),
        |(23, 'SUPPORTS', 'PREDISPOSING', 'UNCERTAIN_SIGNIFICANCE', 'likely predisposing'),
        |(24, 'SUPPORTS', 'PROGNOSTIC', 'BETTER_OUTCOME', 'favourable prognosis'),
        |(25, 'SUPPORTS', 'PROGNOSTIC', 'POOR_OUTCOME', 'unfavourable prognosis'),
        |(26, 'NA', 'PREDISPOSING', 'NA', 'likely predisposing'),
        |(27, 'NA', 'ONCOGENIC', 'NA', 'likely oncogenic'),
        |(28, 'SUPPORTS', 'DIAGNOSTIC', 'NA', NULL),
        |(29, 'DOES_NOT_SUPPORT', 'PROGNOSTIC', 'BETTER_OUTCOME', NULL)) AS t(case_id, direction, evidence_type, significance, relevance)""".stripMargin,
    "f7_level_relevance" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(level AS VARCHAR) AS level,
        |  CAST(relevance AS VARCHAR) AS relevance FROM (VALUES
        |(1, 'R1', 'resistance'), (2, 'r2', 'resistance'), (3, '1', 'sensitivity'),
        |(4, '2A', 'sensitivity'), (5, '3b', 'sensitivity'), (6, 'X9', NULL)
        |) AS t(case_id, level, relevance)""".stripMargin,
    "f8_name_clean" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(cleaned AS VARCHAR) AS cleaned FROM (VALUES
        |(1, 'egfr inhibitor'), (2, 'acute lymphoblastic leukemia'),
        |(3, 'mek inhibitor'), (4, 'trametinib')) AS t(case_id, cleaned)""".stripMargin,
    "f9_title_match" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, matches FROM (VALUES
        |(1, true), (2, true), (3, false)) AS t(case_id, matches)""".stripMargin,
    "f10_citation_parse" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(abstract_number AS VARCHAR) AS abstract_number,
        |  CAST(meeting AS VARCHAR) AS meeting, CAST(cit_year AS VARCHAR) AS cit_year FROM (VALUES
        |(1, '8001', 'ASCO', '2014'), (2, '102', 'AACR', '2020')) AS t(case_id, abstract_number, meeting, cit_year)""".stripMargin,
    "f11_id_parse" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(doid AS VARCHAR) AS doid,
        |  CAST(base_id AS VARCHAR) AS base_id, CAST(id_version AS VARCHAR) AS id_version FROM (VALUES
        |(1, 'doid:8718', 'ENSG00000139618', '17'),
        |(2, 'doid:14566', 'NM_005228', '5'),
        |(3, '', 'NP_008819', NULL)) AS t(case_id, doid, base_id, id_version)""".stripMargin,
    "f12_phase_norm" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(phase AS VARCHAR) AS phase FROM (VALUES
        |(1, '1'), (2, '1/2'), (3, '3'), (4, '')) AS t(case_id, phase)""".stripMargin,
    "f14_species" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, non_human FROM (VALUES
        |(1, true), (2, true), (3, false), (4, false)) AS t(case_id, non_human)""".stripMargin,
    "f17_display_name" ->
      """SELECT p_partkey, lower(trim(p_name)) || ' [' || upper(p_brand) || ']' AS display_name,
        |  'pmid:' || CAST(p_partkey AS VARCHAR) AS pmid_style
        |FROM part WHERE p_partkey % 23 = 0""".stripMargin,
    "t3_version_sort" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(version AS VARCHAR) AS version,
        |  CAST(pos AS BIGINT) AS pos FROM (VALUES
        |(1, 'NM_005228.5', 5), (2, 'NM_005228.10', 6), (3, 'v1.2.10', 1),
        |(4, 'v1.10.2', 2), (5, '2018-04-27', 4), (6, '2018-4-5', 3)) AS t(case_id, version, pos)""".stripMargin,
    "p5_deprecation_filter" ->
      """SELECT p_partkey, p_type FROM part
        |WHERE p_partkey % 19 = 0
        |  AND len(list_intersect(string_split(p_type, ' '), ['BRUSHED', 'ANODIZED'])) = 0""".stripMargin,
    "p6_null_normalize" ->
      """SELECT p_partkey,
        |  nullif(nullif(trim(CASE WHEN p_size % 3 = 0 THEN 'None'
        |                          WHEN p_size % 3 = 1 THEN ''
        |                          ELSE p_brand END), 'None'), '') AS cleaned
        |FROM part WHERE p_partkey % 19 = 0""".stripMargin,
    "p9_jsonpath" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE event_id % 97 = 0""".stripMargin,
    "set_union_dedup" ->
      """SELECT c_custkey AS key FROM customer WHERE c_custkey % 2 = 0
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,
    "j3_filter_tree" ->
      """SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
        |WHERE (c_mktsegment = 'BUILDING' AND c_nationkey = 5)
        |   OR (c_mktsegment = 'MACHINERY' AND c_nationkey IN (1, 2, 3))""".stripMargin,
    "j14_struct_key" ->
      """WITH ck AS (
        |  SELECT o_orderkey, o_custkey, l_orderkey % 2 = 0 AS even, l_orderkey % 3 = 0 AS tri,
        |         l_partkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |inc AS (SELECT o_orderkey AS iid, o_custkey AS subject,
        |          list_sort(list(DISTINCT l_partkey)) AS conditions
        |        FROM ck WHERE even GROUP BY 1, 2),
        |ex AS (SELECT o_orderkey AS eid, o_custkey AS subject,
        |          list_sort(list(DISTINCT l_partkey)) AS conditions
        |        FROM ck WHERE tri GROUP BY 1, 2)
        |SELECT iid, eid, subject FROM inc JOIN ex USING (subject, conditions)
        |WHERE iid <> eid""".stripMargin,
    "p4_validation_split" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |WHERE o_orderkey % 29 = 0 AND o_totalprice <= 150000
        |  AND o_orderpriority <> '1-URGENT'""".stripMargin,
    "k10_error_sink" ->
      """SELECT o_orderkey,
        |  array_to_string(list_filter(
        |    [CASE WHEN NOT (o_totalprice <= 150000) THEN 'max_price' END,
        |     CASE WHEN NOT (o_orderpriority <> '1-URGENT') THEN 'not_urgent' END],
        |    x -> x IS NOT NULL), ',') AS violations
        |FROM orders
        |WHERE o_orderkey % 29 = 0
        |  AND (o_totalprice > 150000 OR o_orderpriority = '1-URGENT')""".stripMargin,
    "k5_edge_upsert" ->
      """SELECT DISTINCT l_orderkey AS out, l_partkey AS "in", 'contains' AS edge_class
        |FROM lineitem WHERE l_orderkey % 3 = 0 OR l_orderkey % 2 = 0""".stripMargin,
    "k7_source_upsert" ->
      """WITH target AS (
        |  SELECT s_name AS name, s_nationkey AS nation, s_acctbal AS bal
        |  FROM supplier WHERE s_suppkey % 2 = 0),
        |updates AS (
        |  SELECT s_name AS name, s_nationkey AS nation,
        |    CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 1.0 ELSE s_acctbal END AS bal
        |  FROM supplier WHERE s_suppkey % 3 = 0)
        |SELECT coalesce(u.name, t.name) AS name,
        |  CASE WHEN u.name IS NOT NULL THEN u.nation ELSE t.nation END AS nation,
        |  CASE WHEN u.name IS NOT NULL THEN u.bal ELSE t.bal END AS bal
        |FROM target t FULL OUTER JOIN updates u ON t.name = u.name""".stripMargin,
    "k8_nullkey_upsert" ->
      """WITH target AS (
        |  SELECT o_orderkey AS id, nullif(o_orderstatus, 'P') AS nkey,
        |         o_totalprice AS total
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |updates AS (
        |  SELECT o_orderkey AS id, nullif(o_orderstatus, 'P') AS nkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS total
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT coalesce(u.id, t.id) AS id,
        |  CASE WHEN u.id IS NOT NULL THEN u.nkey ELSE t.nkey END AS nkey,
        |  CASE WHEN t.id IS NULL THEN 'create'
        |       WHEN u.id IS NULL THEN 'delete'
        |       WHEN t.total IS DISTINCT FROM u.total THEN 'update'
        |       ELSE 'noop' END AS action
        |FROM target t FULL OUTER JOIN updates u
        |  ON t.id = u.id AND t.nkey IS NOT DISTINCT FROM u.nkey""".stripMargin,
    "x1_dnf" ->
      """SELECT CAST(expr_id AS BIGINT) AS expr_id, CAST(set_id AS BIGINT) AS set_id,
        |  CAST(variants AS VARCHAR) AS variants
        |FROM (VALUES
        |(1, 0, 'V600E+T790M'),
        |(2, 0, 'V600E'), (2, 1, 'T790M'),
        |(3, 0, 'V600E+T790M'), (3, 1, 'V600E+AMP'),
        |(4, 0, 'V600E+T790M'), (4, 1, 'AMP+DEL'),
        |(5, 0, 'V600E+T790M'), (5, 1, 'V600E+AMP+DEL'),
        |(6, 0, 'Q157P+T790M'), (6, 1, 'Q157R+T790M')) AS t(expr_id, set_id, variants)""".stripMargin,
    "x2_cartesian" ->
      """WITH c AS (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey % 97 = 0),
        |     t AS (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem WHERE l_orderkey % 97 = 0)
        |SELECT c.l_orderkey AS order_id, c.l_linenumber AS condition, t.l_returnflag AS therapy
        |FROM c JOIN t ON c.l_orderkey = t.l_orderkey""".stripMargin,
    "x3_therapy_groups" ->
      """WITH ths AS (
        |  SELECT l_orderkey, o_orderpriority,
        |         list_sort(list(DISTINCT l_suppkey)) AS ts
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_orderkey % 97 = 0 GROUP BY 1, 2),
        |g AS (
        |  SELECT l_orderkey,
        |    CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
        |         THEN 'COMBINATION' ELSE 'SUBSTITUTES' END AS interaction,
        |    CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
        |         THEN [array_to_string(ts, '+')]
        |         ELSE list_transform(ts, x -> CAST(x AS VARCHAR)) END AS groups
        |  FROM ths)
        |SELECT l_orderkey AS order_id, interaction, unnest(groups) AS therapy_group FROM g""".stripMargin,
    "x4_biomarker_expand" ->
      """SELECT CAST(rec_id AS BIGINT) AS rec_id, CAST(combo_id AS BIGINT) AS combo_id,
        |  CAST(variants AS VARCHAR) AS variants
        |FROM (VALUES
        |(1, 0, 'KRAS:p.G12mut'), (1, 1, 'KRAS:p.G13mut'),
        |(2, 0, 'EGFR:e.19del'),
        |(3, 0, '(BCR,ABL1):fusion'),
        |(4, 0, 'KRAS:p.G12mut & TP53:cat:oncogenic mutation'),
        |(4, 1, 'KRAS:p.G13mut & TP53:cat:oncogenic mutation'),
        |(5, 0, 'KRAS:p.G12D'),
        |(6, 0, 'EGFR:p.(?746_?750)del')) AS t(rec_id, combo_id, variants)""".stripMargin,
    "x5_per_drug" ->
      """SELECT p_partkey AS part_id, unnest(string_split(p_type, ' ')) AS drug
        |FROM part WHERE p_partkey % 11 = 0""".stripMargin,
    "x6_two_statements" ->
      """SELECT o_orderkey AS order_id, 'mutation-effect' AS stmt_type,
        |       CAST(o_custkey AS VARCHAR) AS subject
        |FROM orders WHERE o_orderkey % 199 = 0
        |UNION ALL
        |SELECT o_orderkey, 'oncogenicity', CAST(o_orderkey AS VARCHAR)
        |FROM orders WHERE o_orderkey % 199 = 0""".stripMargin,
    "x7_per_relevance" ->
      """SELECT o_orderkey AS order_id,
        |  unnest(CASE WHEN o_orderstatus = 'F' THEN ['sensitivity', 'resistance']
        |              WHEN o_orderstatus = 'O' THEN ['sensitivity']
        |              ELSE ['prognosis'] END) AS relevance
        |FROM orders WHERE o_orderkey % 101 = 0""".stripMargin,
    "x8_variant_ladder" ->
      """SELECT CAST(rec_id AS BIGINT) AS rec_id, CAST(form AS VARCHAR) AS form,
        |  CAST(notation AS VARCHAR) AS notation, CAST(infers_parent AS VARCHAR) AS infers_parent
        |FROM (VALUES
        |(1, 'genomic', 'KRAS:g.1A>T', NULL),
        |(1, 'cds', 'KRAS:c.2B>C', 'genomic'),
        |(1, 'protein', 'KRAS:p.G12D', 'cds'),
        |(2, 'cds', 'EGFR:c.2573T>G', NULL),
        |(2, 'protein', 'EGFR:p.L858R', 'cds'),
        |(3, 'protein', 'ALK:p.F1174L', NULL)) AS t(rec_id, form, notation, infers_parent)""".stripMargin,
    "x9_alias_explode" ->
      """SELECT p_partkey AS part_id,
        |  unnest(list_distinct([p_brand, p_type, CAST(p_size AS VARCHAR)])) AS alias
        |FROM part WHERE p_partkey % 11 = 0""".stripMargin,
    "g1_loader_pipeline" ->
      raw"""SELECT lower(replace(regexp_extract(n.id, '.*/([A-Za-z]+_[0-9]+)$$', 1), '_', ':')) AS source_id,
        |  n.lbl AS name,
        |  coalesce(len(list_filter(n.meta.basicPropertyValues,
        |    x -> x.pred LIKE '%deprecated' AND x.val = 'true')) > 0, false) AS deprecated,
        |  CAST(coalesce(len(n.meta.synonyms), 0) AS BIGINT) AS n_alias
        |FROM (SELECT unnest(graphs[1].nodes) AS n
        |      FROM read_json_auto('$TestData/doid.sample.json',
        |                          maximum_object_size=20000000))""".stripMargin,
    "g2_civic_sync" ->
      """SELECT CAST(content AS VARCHAR) AS content, CAST(bucket AS VARCHAR) AS bucket FROM (VALUES
        |('T790M+V600E|dabrafenib+trametinib|sensitivity', 'create'),
        |('V600E|gefitinib|resistance', 'create'),
        |('AMP|gefitinib|resistance', 'create'),
        |('Q157P||favourable prognosis', 'create'),
        |('Q157R||favourable prognosis', 'create'),
        |('V600E|erlotinib|resistance', 'match'),
        |('AMP|erlotinib|resistance', 'match'),
        |('OLD|old|resistance', 'gc'),
        |('4|DIAGNOSTIC|NA', 'error')) AS t(content, bucket)""".stripMargin,
    // hand-derived from the 11-row inline fixture: C1003/C1004 deprecated,
    // C1007 unroutable semantic type (error), C1008/C1009 species-dup
    // rejected, C1010/C1011 renamed to their preferred synonyms (keeping
    // the pre-reassignment displayName), the renamed synonym dropped from
    // each alias list.
    "g3_ncit" ->
      """SELECT CAST(source_id AS VARCHAR) AS source_id, CAST(name AS VARCHAR) AS name,
        |  CAST(display_name AS VARCHAR) AS display_name, CAST(endpoint AS VARCHAR) AS endpoint,
        |  alias, CAST(n_out AS BIGINT) AS n_out FROM (VALUES
        |('c1001', 'melanoma', 'Melanoma [c1001]', 'Disease', false, 0),
        |('c1002', 'glioma', 'Glioma [c1002]', 'Disease', false, 1),
        |('c1005', 'aloe vera', 'Aloe Vera [c1005]', 'Therapy', false, 0),
        |('c1006', 'aloe cream', 'Aloe Cream [c1006]', 'Therapy', false, 1),
        |('c1010', 'EGFR Receptor Variant', 'Egfr Overexpression [c1010]', 'Disease', false, 0),
        |('c1011', 'EGFR Kinase Variant', 'Egfr Overexpression [c1011]', 'Disease', false, 0),
        |('c1001', 'skin cancer dark', 'skin cancer dark [c1001]', 'Disease', true, 1),
        |('c1005', 'aloe', 'aloe [c1005]', 'Therapy', true, 1),
        |('c1010', 'ov1', 'ov1 [c1010]', 'Disease', true, 1),
        |('c1011', 'ov2', 'ov2 [c1011]', 'Disease', true, 1)
        |) AS t(source_id, name, display_name, endpoint, alias, n_out)""".stripMargin,
    "g4_oncotree" ->
      raw"""WITH raw AS (
        |  SELECT lower(code) AS source_id, name,
        |         mainType AS subset, lower(parent) AS parent,
        |         coalesce(len(externalReferences.NCI), 0) AS n_nci,
        |         upper(code) AS code_u
        |  FROM read_json_auto('$TestData/tumorTypes-oncotree_latest_stable.json')
        |)
        |SELECT source_id, name, name || ' [' || code_u || ']' AS display_name, subset,
        |  CAST(CASE WHEN parent IS NOT NULL AND parent IN (SELECT source_id FROM raw)
        |       THEN 1 ELSE 0 END AS BIGINT) AS n_sub,
        |  CAST(n_nci AS BIGINT) AS n_xref
        |FROM raw""".stripMargin,
    "g5_ensembl" ->
      raw"""WITH r AS (
        |  SELECT split_part(lower("Gene stable ID version"),'.',1) AS gid,
        |         split_part(lower("Gene stable ID version"),'.',2) AS gv,
        |         split_part(lower("Transcript stable ID version"),'.',1) AS tid,
        |         split_part(lower("Transcript stable ID version"),'.',2) AS tv,
        |         split_part(lower("Protein stable ID version"),'.',1) AS pid,
        |         split_part(lower("Protein stable ID version"),'.',2) AS pv,
        |         lower("HGNC ID") AS hgnc
        |  FROM read_csv('$TestData/ensembl_biomart_export_ENSG00000139618.tsv',
        |                delim='\t', header=true)
        |)
        |SELECT DISTINCT kind, a, b FROM (
        |  SELECT 'feature:gene' AS kind, gid AS a, gv AS b FROM r
        |  UNION ALL SELECT 'feature:gene', gid, '' FROM r
        |  UNION ALL SELECT 'feature:transcript', tid, tv FROM r
        |  UNION ALL SELECT 'feature:transcript', tid, '' FROM r
        |  UNION ALL SELECT 'feature:protein', pid, pv FROM r
        |  UNION ALL SELECT 'feature:protein', pid, '' FROM r
        |  UNION ALL SELECT 'generalizationof', gid, gid||'.'||gv FROM r
        |  UNION ALL SELECT 'generalizationof', tid, tid||'.'||tv FROM r
        |  UNION ALL SELECT 'generalizationof', pid, pid||'.'||pv FROM r
        |  UNION ALL SELECT 'elementof', tid, gid FROM r
        |  UNION ALL SELECT 'elementof', tid||'.'||tv, gid||'.'||gv FROM r
        |  UNION ALL SELECT 'elementof', pid, tid FROM r
        |  UNION ALL SELECT 'elementof', pid||'.'||pv, tid||'.'||tv FROM r
        |  UNION ALL SELECT 'crossreferenceof', gid, hgnc FROM r WHERE hgnc IS NOT NULL
        |) AS u""".stripMargin,
    "g6_hgnc" ->
      raw"""WITH doc AS (
        |  SELECT unnest("http://rest.genenames.org/fetch/hgnc_id/1101".response.docs) AS d
        |  FROM read_json_auto('$TestData/external_api_responses.json')
        |)
        |SELECT d.hgnc_id AS source_id, d.symbol AS name, upper(d.symbol) AS display_name,
        |       false AS deprecated, false AS dependent,
        |       CAST((CASE WHEN d.ensembl_gene_id IS NOT NULL THEN 1 ELSE 0 END)
        |          + (CASE WHEN d.entrez_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        |FROM doc
        |UNION ALL
        |SELECT d.hgnc_id, p, upper(p), true, true, CAST(1 AS BIGINT)
        |FROM doc, unnest(d.prev_symbol) AS t(p)
        |UNION ALL
        |SELECT d.hgnc_id, a, upper(a), false, true, CAST(1 AS BIGINT)
        |FROM doc, unnest(d.alias_symbol) AS t(a)""".stripMargin,
    "g7_fdasrs" ->
      raw"""WITH raw AS (
        |  SELECT UNII AS id, PT AS name, NCIT AS ncit
        |  FROM read_csv('$TestData/UNII_Records_25Oct2018_sample.txt',
        |                delim='\t', header=true, all_varchar=true)
        |  WHERE UNII IS NOT NULL AND PT IS NOT NULL
        |)
        |SELECT id AS source_id, name,
        |  CAST(CASE WHEN ncit IS NOT NULL
        |            AND ncit <> (SELECT min(ncit) FROM raw)
        |       THEN 1 ELSE 0 END AS BIGINT) AS n_out
        |FROM raw""".stripMargin,
    "g8_vario" ->
      raw"""WITH txt AS (
        |  SELECT content FROM read_text('$TestData/vario_v2018-04-27.owl')
        |), block AS (
        |  SELECT unnest(regexp_extract_all(content,
        |    '<owl:Class rdf:about="http://purl\.obolibrary\.org/obo/VariO_[0-9]+">.*?</owl:Class>',
        |    0, 's')) AS b
        |  FROM txt
        |), parsed AS (
        |  SELECT
        |    lower(replace(regexp_extract(b, 'obo/(VariO_[0-9]+)"', 1), '_', ':')) AS source_id,
        |    trim(regexp_extract(b, '<rdfs:label[^>]*>(.*?)</rdfs:label>', 1, 's')) AS name,
        |    regexp_matches(b, '<obo:IAO_0000115') AS has_desc,
        |    list_transform(
        |      regexp_extract_all(b,
        |        '<rdfs:subClassOf rdf:resource="http://purl\.obolibrary\.org/obo/(VariO_[0-9]+)"', 1),
        |      s -> lower(replace(s, '_', ':'))) AS subs
        |  FROM block
        |), labeled AS (SELECT * FROM parsed WHERE name <> ''
        |), edge AS (
        |  SELECT l.source_id, t.s AS tgt FROM labeled l, unnest(l.subs) AS t(s)
        |), good AS (
        |  SELECT source_id, count(*) AS n_sub FROM edge
        |  WHERE tgt IN (SELECT source_id FROM labeled) GROUP BY 1
        |)
        |SELECT l.source_id, l.name, l.has_desc,
        |  CAST(coalesce(g.n_sub, 0) AS BIGINT) AS n_sub
        |FROM labeled l LEFT JOIN good g USING (source_id)""".stripMargin,
    "g9_ctg" ->
      raw"""WITH raw AS (
        |  SELECT protocolSection AS p
        |  FROM read_json_auto('$TestData/clinicaltrialsgov.NCT03478891.json')
        |)
        |SELECT p.identificationModule.nctId AS source_id,
        |  coalesce(p.identificationModule.officialTitle,
        |           p.identificationModule.briefTitle) AS name,
        |  CASE WHEN lower(replace(p.statusModule.overallStatus, '_', ' ')) = 'active not recruiting'
        |         THEN 'active, not recruiting'
        |       WHEN lower(replace(p.statusModule.overallStatus, '_', ' ')) = 'unknown status'
        |         THEN 'unknown'
        |       ELSE replace(p.statusModule.overallStatus, '_', ' ') END AS status,
        |  regexp_extract(lower(p.designModule.phases[1]), 'phase([0-9]+)', 1) AS phase,
        |  strftime(p.statusModule.startDateStruct.date, '%Y-%m-%d') AS start_date,
        |  strftime(p.statusModule.completionDateStruct.date, '%Y-%m-%d') AS completion_date,
        |  strftime(p.statusModule.lastUpdatePostDateStruct.date, '%Y-%m-%d') AS source_id_version,
        |  lower(p.contactsLocationsModule.locations[1].country) AS country,
        |  lower(p.contactsLocationsModule.locations[1].city) AS city,
        |  'Missing: Disease(' || p.conditionsModule.conditions[1] || ')' AS comment,
        |  CAST(1 AS BIGINT) AS n_links
        |FROM raw""".stripMargin,
    "g10_refseq" ->
      raw"""WITH r AS (
        |  SELECT GeneID,
        |         split_part(RNA, '.', 1) AS rna, split_part(RNA, '.', 2) AS rnav,
        |         split_part(coalesce(Protein, ''), '.', 1) AS prot,
        |         split_part(coalesce(Protein, ''), '.', 2) AS protv
        |  FROM read_csv('$TestData/LRG_RefSeqGene_d1541209245_kras.tab',
        |                delim='\t', header=true, all_varchar=true)
        |  WHERE RNA IS NOT NULL AND RNA <> ''
        |), gene AS (
        |  SELECT r1."3845".uid AS uid, r1."3845".name AS name
        |  FROM (SELECT result AS r1
        |        FROM read_json_auto('$TestData/entrez_gene.3845.json'))
        |)
        |SELECT DISTINCT kind, a, b FROM (
        |  SELECT 'feature:transcript' AS kind, rna AS a, rnav AS b FROM r
        |  UNION ALL SELECT 'feature:transcript', rna, '' FROM r
        |  UNION ALL SELECT 'feature:protein', prot, protv FROM r WHERE prot <> ''
        |  UNION ALL SELECT 'feature:protein', prot, '' FROM r WHERE prot <> ''
        |  UNION ALL SELECT 'feature:gene', uid, name FROM gene
        |  UNION ALL SELECT 'generalizationof', rna, rna || '.' || rnav FROM r
        |  UNION ALL SELECT 'generalizationof', prot, prot || '.' || protv FROM r WHERE prot <> ''
        |  UNION ALL SELECT 'elementof', prot, rna FROM r WHERE prot <> ''
        |  UNION ALL SELECT 'elementof', prot || '.' || protv, rna || '.' || rnav FROM r WHERE prot <> ''
        |  UNION ALL SELECT 'elementof', rna, 'entrez:' || GeneID FROM r
        |    WHERE GeneID IN (SELECT uid FROM gene)
        |) AS u""".stripMargin,
    "g11_chembl" ->
      raw"""WITH m AS (
        |  SELECT * FROM read_json_auto('$TestData/chembl.CHEMBL553.json')
        |)
        |SELECT molecule_chembl_id AS source_id,
        |  coalesce(pref_name, molecule_properties.full_molformula) AS name,
        |  coalesce(pref_name, molecule_properties.full_molformula)
        |    || ' [' || upper(molecule_chembl_id) || ']' AS display_name,
        |  molecule_properties.full_molformula AS molecular_formula,
        |  CAST(1 AS BIGINT) AS n_out
        |FROM m
        |UNION ALL
        |SELECT usan_stem_definition, usan_stem_definition, usan_stem_definition,
        |  NULL, CAST(0 AS BIGINT)
        |FROM m WHERE usan_stem_definition IS NOT NULL""".stripMargin,
    // g30: frozen from the implementation once, cross-checked against
    // cgl/index.js:33-295 (paren strip + Ter rewrite on x2, fs star kept
    // on x3, VCF deletion span on x4, the empty-insertion quirk on x5,
    // the first-base mismatch error on x6).
    "g30_cgl" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('count:error', '1', '', ''),
        |('infers', '7:g.55259515T>G@t:sub', 'NM_005228.5:c.2573T>G@t:sub', ''),
        |('infers', 'NM_000546.5:c.1000del@t:del', '7157:p.G12fs*3@t:fs', ''),
        |('infers', 'NM_005228.5:c.2573T>G@t:sub', '1956:p.L858R@t:sub', ''),
        |('statement', 'x1', 'pathogenic|d:cancer', '1956:p.L858R@t:sub,d:cancer'),
        |('statement', 'x2', 'pathogenic|d:cancer', '7157:p.R306Ter@t:sub,d:cancer'),
        |('statement', 'x3', 'pathogenic|d:cancer', '7157:p.G12fs*3@t:fs,d:cancer'),
        |('statement', 'x4', 'pathogenic|d:cancer', '12:g.100_102delACG@t:del,d:cancer'),
        |('statement', 'x5', 'pathogenic|d:cancer', '7:g.200_201ins@t:ins,d:cancer'),
        |('variant:cds', 'NM_000546.5:c.1000del@t:del', 't:del', 'c.1000|-'),
        |('variant:cds', 'NM_005228.5:c.2573T>G@t:sub', 't:sub', 'c.2573|-'),
        |('variant:genomic', '12:g.100_102delACG@t:del', 't:del', 'g.100|hg19'),
        |('variant:genomic', '7:g.200_201ins@t:ins', 't:ins', 'g.200|hg19'),
        |('variant:genomic', '7:g.55259515T>G@t:sub', 't:sub', 'g.55259515|hg19'),
        |('variant:protein', '1956:p.L858R@t:sub', 't:sub', 'p.L858|-'),
        |('variant:protein', '7157:p.G12fs*3@t:fs', 't:fs', 'p.G12|-'),
        |('variant:protein', '7157:p.R306Ter@t:sub', 't:sub', 'p.R306|-')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g31: frozen from the implementation once, cross-checked against
    // sequenceOntology.js:51-129 by hand (unlabeled SO_0000999 errors out,
    // `_`→space names, deprecated literal, owl#Thing parent fails the
    // /^so:\d+$/i gate, both dangling links dropped).
    "g31_so" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('count:edge_drops', '2', '', ''),
        |('count:errors', '1', '', ''),
        |('entity', 'so:0000001', 'region', 'false|A sequence feature region'),
        |('entity', 'so:0000002', 'sequence secondary structure', 'true|-'),
        |('entity', 'so:0000003', 'G quartet', 'false|-'),
        |('entity', 'so:0000110', 'sequence feature', 'false|-'),
        |('subclassof', 'so:0000001', 'so:0000110', ''),
        |('subclassof', 'so:0000002', 'so:0000110', '')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g32: frozen from the implementation once, cross-checked against
    // gscTherapeuticOntology.js:31-233 by hand (r1 ladder hit on drugbank
    // with self-alias filtered, r2 chembl rung, r3 drug==parent edge
    // guard + first-wins 'general' tag from r1's gp1 creation, r4 DBid
    // miss error with the record kept, r5 class→drug crossref).
    "g32_gsct" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('aliasof', 'gsct:azd6244', 'chembl:CHEMBL1614701', ''),
        |('aliasof', 'gsct:plx4032', 'drugbank:DB08881', ''),
        |('aliasof', 'gsct:rg7204', 'drugbank:DB08881', ''),
        |('count:errors', '1', '', ''),
        |('crossreferenceof', 'gsct:trametinib', 'drugbank:DB08911', ''),
        |('entity', 'azd6244', 'azd6244', ''),
        |('entity', 'baddrug', 'baddrug', ''),
        |('entity', 'kinase inhibitor', 'kinase inhibitor', 'general drug class'),
        |('entity', 'mapk pathway inhibitor', 'mapk pathway inhibitor', 'pathway drug class'),
        |('entity', 'mek inhibitor', 'mek inhibitor', 'specific drug class'),
        |('entity', 'mekinist', 'mekinist', ''),
        |('entity', 'plx4032', 'plx4032', ''),
        |('entity', 'raf inhibitor', 'raf inhibitor', 'specific drug class'),
        |('entity', 'rg7204', 'rg7204', ''),
        |('entity', 'trametinib', 'trametinib', 'specific drug class'),
        |('subclassof', 'chembl:CHEMBL1614701', 'gsct:mek inhibitor', ''),
        |('subclassof', 'drugbank:DB08881', 'gsct:raf inhibitor', ''),
        |('subclassof', 'gsct:mek inhibitor', 'gsct:kinase inhibitor', ''),
        |('subclassof', 'gsct:mekinist', 'gsct:trametinib', ''),
        |('subclassof', 'gsct:raf inhibitor', 'gsct:kinase inhibitor', ''),
        |('subclassof', 'gsct:raf inhibitor', 'gsct:mapk pathway inhibitor', ''),
        |('subclassof', 'gsct:trametinib', 'gsct:mek inhibitor', '')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g34: VALUES derived mechanically from sources.js:1-298 (independent
    // re-extraction of the structural fields), resolve rows re-derived
    // from graphkb.js:152-159 rank-compare semantics by hand.
    "g34_all_sources" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('resolve', 'imatinib', 'drugbank', ''),
        |('resolve', 'kras', 'oncokb', ''),
        |('resolve', 'melanoma', 'disease ontology', ''),
        |('source', 'PMC4232638-supp', 'PMC4232638-supp', '-'),
        |('source', 'PMC4468049-supp', 'PMC4468049-supp', '-'),
        |('source', 'Variant Interpretation for Cancer Consortium', 'VICC', '-'),
        |('source', 'amp', 'AMP', '-'),
        |('source', 'asco', 'ASCO', '-'),
        |('source', 'cancer genome interpreter', 'CGI', '-'),
        |('source', 'cancerhotspots.org', 'cancerhotspots.org', '-'),
        |('source', 'cgl', 'CGL', '-'),
        |('source', 'chembl', 'ChEMBL', '1'),
        |('source', 'civic', 'CIViC', '4'),
        |('source', 'clinicaltrials.gov', '-', '-'),
        |('source', 'cosmic', 'COSMIC', '-'),
        |('source', 'cpic', 'CPIC', '-'),
        |('source', 'database of curated mutations', 'DoCM', '-'),
        |('source', 'dbsnp', 'dbSNP', '-'),
        |('source', 'dgidb', 'DGIdb', '-'),
        |('source', 'disease ontology', 'Disease Ontology', '1'),
        |('source', 'drugbank', 'DrugBank', '0'),
        |('source', 'ensembl', 'Ensembl', '3'),
        |('source', 'entrez gene', '-', '1'),
        |('source', 'esmo', 'ESMO', '1'),
        |('source', 'fda approvals', 'FDA Approvals', '-'),
        |('source', 'fda srs', 'FDA-SRS', '3'),
        |('source', 'graphkb', 'GraphKB', '0'),
        |('source', 'gsc therapeutic ontology', 'GSC-TO', '5'),
        |('source', 'hgnc', 'HGNC', '2'),
        |('source', 'ipr', 'IPR', '-'),
        |('source', 'iprkb', 'IPRKB', '-'),
        |('source', 'moa', 'MOAlmanac', '-'),
        |('source', 'ncit', 'NCIt', '2'),
        |('source', 'oncokb', 'OncoKB', '99999'),
        |('source', 'oncotree', 'OncoTree', '0'),
        |('source', 'profyle', 'PROFYLE', '99999'),
        |('source', 'pubmed', 'PubMed', '-'),
        |('source', 'refseq', 'RefSeq', '-'),
        |('source', 'sequence ontology', '-', '-'),
        |('source', 'tso500', 'TSO500', '99999'),
        |('source', 'uberon', 'Uberon', '-'),
        |('source', 'vario', '-', '-')
        |) AS t(kind, a, b, c)""".stripMargin,
    // ldr_ncit_scale: full replay of the synthetic concept derivation,
    // cleanRawRow on this palette (lowercase ids/names, original-case
    // displayName, Deprecated-code parent filter), the collision window
    // rename, alias explosion and both edge families (ncit/index.js:
    // 61-189, 231-463 semantics on the branches this palette hits).
    "ldr_ncit_scale" ->
      """WITH ev AS (SELECT event_id AS i FROM events),
        |st AS MATERIALIZED (
        |  SELECT 'c'||i AS sourceId, i,
        |    i%23=0 OR (i>0 AND ('C'||(i//2)) IN ('C61063','C85834')) AS deprecated,
        |    CASE WHEN i>0 AND NOT ('C'||(i//2)) IN ('C61063','C85834')
        |      THEN 'c'||(i//2) END AS parent,
        |    'name '||(i//3) AS name0,
        |    'Name '||(i//3)||' [c'||i||']' AS displayName,
        |    CASE WHEN i%5=0 THEN 'Syn '||i END AS osyn1,
        |    CASE WHEN i%5=0 THEN 'syn '||i END AS syn1,
        |    CASE WHEN i%5=0 THEN 'alt '||i END AS syn2
        |  FROM ev),
        |live AS MATERIALIZED (
        |  SELECT *, count(*) OVER (PARTITION BY name0) AS d FROM st WHERE NOT deprecated),
        |res AS MATERIALIZED (
        |  SELECT *, CASE WHEN d>1 THEN coalesce(osyn1, name0) ELSE name0 END AS name FROM live),
        |syns AS MATERIALIZED (
        |  SELECT sourceId, name, s FROM (
        |    SELECT sourceId, name, unnest([syn1, syn2]) AS s FROM res)
        |  WHERE s IS NOT NULL AND lower(s) != lower(name)),
        |prims AS (SELECT 'v' AS kind, sourceId AS a, name AS b, displayName AS c, 'false' AS d FROM res),
        |aliases AS (SELECT 'v', sourceId, s, s||' ['||sourceId||']', 'true' FROM syns),
        |aliasEdges AS (
        |  SELECT 'e', 'aliasof', sourceId||'|'||s, sourceId||'|'||name, '' FROM syns),
        |subEdges AS (
        |  SELECT 'e', 'SubClassOf', c.sourceId||'|'||c.name, p.sourceId||'|'||p.name, ''
        |  FROM res c JOIN res p ON c.parent = p.sourceId)
        |SELECT * FROM prims
        |UNION ALL SELECT * FROM aliases
        |UNION ALL SELECT * FROM aliasEdges
        |UNION ALL SELECT * FROM subEdges
        |""".stripMargin,
    // ldr_hotspot_scale: full replay of the synthetic hotspot records,
    // the four HGVS shape parses (notation/term/break1 are pure
    // functions of the m=event_id%4 palette), the dim ladder, fatal-
    // gene census and statement build (cancerhotspots/index.js:56-243).
    "ldr_hotspot_scale" ->
      """WITH ev AS (SELECT event_id FROM events),
        |rec AS MATERIALIZED (
        |  SELECT 'h'||event_id AS recId, event_id, event_id % 4 AS m,
        |    event_id + 100 AS strt, event_id + 100 + (CASE WHEN event_id%4=0 THEN 0 ELSE 1 END) AS stp,
        |    event_id % 22 + 1 AS ci,
        |    'chr'||(event_id%22+1) AS chr_sid,
        |    CASE WHEN event_id%2=0 THEN 'chr'||(event_id%22+1) ELSE 'nm'||(event_id%22+1) END AS chr_raw,
        |    'G'||(event_id%300) AS geneId,
        |    'T'||(event_id%100) AS txId,
        |    'd'||(event_id%10) AS diseaseId,
        |    event_id % 300 < 250 AS gene_ok,
        |    event_id % 100 < 80 AS tx_ok,
        |    event_id % 10 < 8 AS dis_ok
        |  FROM ev),
        |forms AS MATERIALIZED (
        |  SELECT *,
        |    -- genomic: notation from the shape palette, chromosome always resolves
        |    chr_raw||':g.'||(CASE WHEN m=0 THEN strt||'A>T'
        |      WHEN m=1 THEN strt||'_'||stp||'insAG'
        |      WHEN m=2 THEN strt||'_'||stp||'delTG'
        |      ELSE strt||'_'||stp||'delAAinsCGG' END) AS g_notation,
        |    CASE m WHEN 0 THEN 't:sub' WHEN 1 THEN 't:ins' WHEN 2 THEN 't:del' ELSE 't:indel' END AS g_term,
        |    'g.'||strt AS g_break1,
        |    CASE m WHEN 0 THEN 'p.G'||(event_id%50+13)||'D'
        |      WHEN 1 THEN 'p.P'||(event_id%50+2)||'fs'
        |      WHEN 2 THEN 'p.E3_A4delEA' ELSE 'p.K5delKinsRG' END AS p_notation,
        |    CASE m WHEN 0 THEN 't:sub' WHEN 1 THEN 't:fs' WHEN 2 THEN 't:del' ELSE 't:indel' END AS p_term,
        |    CASE m WHEN 0 THEN 'p.G'||(event_id%50+13) WHEN 1 THEN 'p.P'||(event_id%50+2)
        |      WHEN 2 THEN 'p.E3' ELSE 'p.K5' END AS p_break1,
        |    CASE m WHEN 0 THEN 'c.'||(event_id%500+1)||'G>A'
        |      WHEN 1 THEN 'c.4_5insAG' WHEN 2 THEN 'c.7_12delGAAGCA'
        |      ELSE 'c.13_15delAAGinsCG' END AS c_notation,
        |    CASE m WHEN 0 THEN 't:sub' WHEN 1 THEN 't:ins' WHEN 2 THEN 't:del' ELSE 't:indel' END AS c_term,
        |    CASE m WHEN 0 THEN 'c.'||(event_id%500+1) WHEN 1 THEN 'c.4' WHEN 2 THEN 'c.7' ELSE 'c.13' END AS c_break1
        |  FROM rec),
        |-- protein failure is fatal to the record
        |live AS MATERIALIZED (SELECT * FROM forms WHERE gene_ok),
        |vids AS MATERIALIZED (
        |  SELECT *,
        |    chr_sid||':'||g_notation||'@'||g_term AS genomic_vid,
        |    geneId||':'||p_notation||'@'||p_term AS protein_vid,
        |    CASE WHEN tx_ok THEN txId||':'||c_notation||'@'||c_term END AS cds_vid
        |  FROM live),
        |vars AS (
        |  SELECT DISTINCT 'variant:genomic' AS kind, genomic_vid AS a, g_term AS b, g_break1 AS c, chr_sid AS d FROM vids
        |  UNION ALL
        |  SELECT DISTINCT 'variant:protein', protein_vid, p_term, p_break1, geneId FROM vids
        |  UNION ALL
        |  SELECT DISTINCT 'variant:cds', cds_vid, c_term, c_break1, txId FROM vids WHERE cds_vid IS NOT NULL),
        |edges AS (
        |  SELECT DISTINCT 'infers' AS kind, cds_vid AS a, protein_vid AS b, '' AS c, '' AS d FROM vids WHERE cds_vid IS NOT NULL
        |  UNION
        |  SELECT DISTINCT 'infers', genomic_vid, coalesce(cds_vid, protein_vid), '', '' FROM vids),
        |stmts AS (
        |  SELECT 'statement' AS kind, recId AS a, diseaseId AS b,
        |    array_to_string(list_sort([protein_vid, diseaseId]), ',') AS c, '' AS d
        |  FROM vids WHERE dis_ok),
        |errs AS (
        |  SELECT 'count:record_errors' AS kind, CAST(count(*) AS VARCHAR) AS a, '' AS b, '' AS c, '' AS d
        |  FROM rec WHERE NOT gene_ok)
        |SELECT * FROM vars UNION ALL SELECT * FROM edges UNION ALL SELECT * FROM stmts UNION ALL SELECT * FROM errs
        |""".stripMargin,
    // ldr_fusion_scale: full replay of the synthetic fusion corpus
    // derivation + the three-level rollup, threshold, suppression and
    // disease resolution (fusions.js:163-221 semantics).
    "ldr_fusion_scale" ->
      """WITH ev AS (SELECT event_id, user_id FROM events),
        |nn AS (SELECT count(*) AS n FROM ev),
        |base AS (
        |  SELECT event_id % greatest(nn.n // 50, 1) AS k, event_id, user_id FROM ev, nn),
        |raw AS (
        |  SELECT 'r'||event_id AS recId,
        |    's'||(user_id % (CASE WHEN k%11=0 THEN 2 ELSE 40 END)) AS sampleId,
        |    'G'||k||(CASE WHEN k%6=0 THEN '_v1' ELSE '' END) AS gene1,
        |    'H'||k AS gene2,
        |    CAST(CASE WHEN k%7=1 THEN event_id*37%101+1 ELSE event_id%3+1 END AS VARCHAR) AS exon1,
        |    CAST(CASE WHEN k%7=1 THEN event_id*37%101+1 ELSE event_id%3+1 END AS VARCHAR) AS exon2,
        |    CASE WHEN k%4=0 THEN 'NS' ELSE 'D'||(k%4) END AS disease,
        |    CASE WHEN k%5=0 THEN 'NS' ELSE 'F'||(k%5) END AS diseaseFamily
        |  FROM base),
        |-- preprocess (fusions.js:163-186 semantics as implemented)
        |pre AS MATERIALIZED (
        |  SELECT recId, sampleId,
        |    split_part(gene1, '_', 1) AS g1, split_part(gene2, '_', 1) AS g2,
        |    exon1, exon2,
        |    CASE WHEN upper(disease)='NS' THEN '' ELSE disease END AS disease,
        |    CASE WHEN (CASE WHEN upper(disease)='NS' THEN '' ELSE disease END)=''
        |           AND (CASE WHEN upper(diseaseFamily)='NS' THEN '' ELSE diseaseFamily END)=''
        |         THEN 'cancer'
        |         ELSE (CASE WHEN upper(diseaseFamily)='NS' THEN '' ELSE diseaseFamily END) END AS diseaseFamily,
        |    '('||split_part(gene1,'_',1)||','||split_part(gene2,'_',1)||').fus(e.'||exon1||',e.'||exon2||')' AS variant,
        |    '('||split_part(gene1,'_',1)||','||split_part(gene2,'_',1)||').fus(e.?,e.?)' AS nonSpecificVariant
        |  FROM raw),
        |dis AS (SELECT * FROM (VALUES ('D1','d:1'),('D2','d:2'),('cancer','d:c'),('F1','d:f1'),('F2','d:f2')) d(diseaseName, disease_sid)),
        |-- level 0 winners
        |w0 AS (
        |  SELECT variant, diseaseFamily, disease,
        |    count(DISTINCT sampleId) AS n_samples, min(recId) AS repId
        |  FROM pre GROUP BY 1,2,3 HAVING count(DISTINCT sampleId) >= 3),
        |r0 AS (
        |  SELECT 0 AS level, w.n_samples, p.recId AS rep_recId, p.g1, p.g2, p.exon1, p.exon2,
        |    p.disease AS rep_disease, p.diseaseFamily AS rep_family, p.nonSpecificVariant AS rep_nonspec,
        |    d.disease_sid
        |  FROM w0 w JOIN pre p ON p.recId = w.repId
        |  LEFT JOIN dis d ON d.diseaseName = coalesce(nullif(p.disease,''), nullif(p.diseaseFamily,''))),
        |s0 AS (SELECT * FROM r0 WHERE disease_sid IS NOT NULL),
        |-- level 1: nonspec/fam/dis groups not blocked by a successful level-0 winner
        |w1 AS (
        |  SELECT nonSpecificVariant, diseaseFamily, disease,
        |    count(DISTINCT sampleId) AS n_samples, min(recId) AS repId
        |  FROM pre GROUP BY 1,2,3 HAVING count(DISTINCT sampleId) >= 3),
        |w1b AS (
        |  SELECT w.* FROM w1 w
        |  WHERE NOT EXISTS (SELECT 1 FROM s0 WHERE s0.rep_nonspec = w.nonSpecificVariant
        |    AND s0.rep_family = w.diseaseFamily AND s0.rep_disease = w.disease)),
        |r1 AS (
        |  SELECT 1 AS level, w.n_samples, p.recId AS rep_recId, p.g1, p.g2, p.exon1, p.exon2,
        |    p.disease AS rep_disease, p.diseaseFamily AS rep_family, p.nonSpecificVariant AS rep_nonspec,
        |    d.disease_sid
        |  FROM w1b w JOIN pre p ON p.recId = w.repId
        |  LEFT JOIN dis d ON d.diseaseName = coalesce(nullif(p.disease,''), nullif(p.diseaseFamily,''))),
        |s1 AS (SELECT * FROM r1 WHERE disease_sid IS NOT NULL),
        |-- level 2: nonspec groups not blocked by any successful earlier winner
        |w2 AS (
        |  SELECT nonSpecificVariant, count(DISTINCT sampleId) AS n_samples, min(recId) AS repId
        |  FROM pre GROUP BY 1 HAVING count(DISTINCT sampleId) >= 3),
        |w2b AS (
        |  SELECT w.* FROM w2 w
        |  WHERE w.nonSpecificVariant NOT IN (SELECT rep_nonspec FROM s0)
        |    AND w.nonSpecificVariant NOT IN (SELECT rep_nonspec FROM s1)),
        |r2 AS (
        |  SELECT 2 AS level, w.n_samples, p.recId AS rep_recId, p.g1, p.g2, p.exon1, p.exon2,
        |    p.disease AS rep_disease, p.diseaseFamily AS rep_family, p.nonSpecificVariant AS rep_nonspec,
        |    d.disease_sid
        |  FROM w2b w JOIN pre p ON p.recId = w.repId
        |  LEFT JOIN dis d ON d.diseaseName = 'cancer'),
        |resolved AS (SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        |live AS (
        |  SELECT *,
        |    g1||'::'||g2||':fusion' AS general_vid,
        |    CASE WHEN level=0 THEN g1||'::'||g2||':fus(e.'||exon1||',e.'||exon2||')' END AS specific_vid
        |  FROM resolved WHERE disease_sid IS NOT NULL),
        |stmts AS (
        |  SELECT rep_recId AS sourceId, CAST(level AS BIGINT) AS level,
        |    'recurrent' AS relevance, coalesce(specific_vid, general_vid) AS condition,
        |    disease_sid AS subject, CAST(n_samples AS BIGINT) AS n_samples
        |  FROM live),
        |errs AS (
        |  SELECT '__errors' AS sourceId, CAST(-1 AS BIGINT) AS level, '' AS relevance,
        |    '' AS condition, '' AS subject,
        |    CAST(count(*) AS BIGINT) AS n_samples
        |  FROM resolved WHERE disease_sid IS NULL)
        |SELECT * FROM stmts UNION ALL SELECT * FROM errs
        |""".stripMargin,
    // g35: VALUES re-derived independently from the raw fixture (regex
    // over drugbank_sample.xml: one drug DB00530/Erlotinib updated
    // 2019-07-02; product names Apo-/Nat-/PMS-/Teva-erlotinib fail
    // ^[a-zA-Z]\w+$, 'Erlotinib'+'Erlotinib Hydrochloride' excluded →
    // tarceva is the only alias; unii J4T82NDH7E; ChEMBL CHEMBL553; one
    // HGNC:3236 target with action 'antagonist'; IUPAC + formula from
    // calculated-properties; atc-code L01XE03 → 4 levels most-specific
    // first, codes lowercased, drug→l01xe + 3 ladder rungs; 2 categories
    // → subsets) and drugbank/index.js:38-249 semantics.
    "g35_drugbank" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c,
        |  CAST(d AS VARCHAR) AS d FROM (VALUES
        |('therapy', 'DB00530', 'Erlotinib', 'false', '-'),
        |('therapy', 'DB00530', 'tarceva', 'true', 'DB00530|Erlotinib'),
        |('therapy', 'l01xe', 'Protein kinase inhibitors', 'false', '-'),
        |('therapy', 'l01x', 'OTHER ANTINEOPLASTIC AGENTS', 'false', '-'),
        |('therapy', 'l01', 'ANTINEOPLASTIC AGENTS', 'false', '-'),
        |('therapy', 'l', 'ANTINEOPLASTIC AND IMMUNOMODULATING AGENTS', 'false', '-'),
        |('field', 'DB00530', 'sourceIdVersion', '2019-07-02', ''),
        |('field', 'DB00530', 'iupacName', 'N-(3-ethynylphenyl)-6,7-bis(2-methoxyethoxy)quinazolin-4-amine', ''),
        |('field', 'DB00530', 'molecularFormula', 'C22H23N3O4', ''),
        |('field', 'DB00530', 'mechanismOfAction', 'The mechanism of clinical antitumor acti', ''),
        |('field', 'DB00530', 'description', 'Erlotinib is an inhibitor of the epiderm', ''),
        |('field', 'DB00530', 'subsets', 'Antineoplastic Agents;Antineoplastic and Immunomodulating Agents', ''),
        |('edge', 'aliasof', 'DB00530|tarceva', 'DB00530|Erlotinib', '-'),
        |('edge', 'CrossReferenceOf', 'DB00530|Erlotinib', 'J4T82NDH7E|ERLOTINIB', '-'),
        |('edge', 'CrossReferenceOf', 'DB00530|Erlotinib', 'CHEMBL553|ERLOTINIB', '-'),
        |('edge', 'targetof', 'egfr', 'DB00530|Erlotinib', 'antagonist'),
        |('edge', 'subclassof', 'DB00530|Erlotinib', 'l01xe|Protein kinase inhibitors', '-'),
        |('edge', 'subclassof', 'l01xe|Protein kinase inhibitors', 'l01x|OTHER ANTINEOPLASTIC AGENTS', '-'),
        |('edge', 'subclassof', 'l01x|OTHER ANTINEOPLASTIC AGENTS', 'l01|ANTINEOPLASTIC AGENTS', '-'),
        |('edge', 'subclassof', 'l01|ANTINEOPLASTIC AGENTS', 'l|ANTINEOPLASTIC AND IMMUNOMODULATING AGENTS', '-'),
        |('rerun', 'mutations', '0', '', '')
        |) AS t(kind, a, b, c, d)""".stripMargin,
    // g33: frozen from the implementation once, cross-checked against
    // variants/index.js:9-81 by hand (badnotation parse rung, c.100dup
    // vocab rung, MISSING9 gene rung, NOVEL1 fetched past the transcript
    // homonym, fusion double-reference key).
    // g36: frozen from the implementation once, cross-checked against
    // entrez/snp.js by hand (parseRecord docsum split :107-130 — the
    // sort().reverse() transcript pick and &gt; unescape; the
    // loadFromDocsumHgvs ladder :45-104 — cds leg, protein leg with
    // |GENE= alternate, per-leg error catch; loadSnpRecord Infers chain
    // :118-131; fetchAndLoadByIds cache skip :139-150).
    "g36_snp" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c,
        |  CAST(d AS VARCHAR) AS d FROM (VALUES
        |('catalogue','121434568','rs121434568','2022/10/13 16:44','https://www.ncbi.nlm.nih.gov/snp/rs121434568'),
        |('catalogue','28934576','rs28934576','2022/10/13 17:02','https://www.ncbi.nlm.nih.gov/snp/rs28934576'),
        |('catalogue','1042522','rs1042522','2022/10/13 17:02','https://www.ncbi.nlm.nih.gov/snp/rs1042522'),
        |('catalogue','9999999','rs9999999','2022/10/13 17:02','https://www.ncbi.nlm.nih.gov/snp/rs9999999'),
        |('feature:refseq','NM_005228','transcript','-','NM_005228.5'),
        |('feature:refseq','NP_005219','protein','-','NP_005219.2'),
        |('feature:refseq','NP_000537','protein','-','NP_000537.3'),
        |('feature:gene','1956','gene','EGFR','EGFR'),
        |('variant','NM_005228:NM_005228.5:c.2573T>G@so:substitution','NM_005228.5:c.2573T>G','c.2573','NM_005228'),
        |('variant','NP_005219:NP_005219.2:p.Leu858Arg@so:substitution','NP_005219.2:p.Leu858Arg','p.L858','NP_005219'),
        |('variant','1956:NP_005219.2:p.Leu858Arg@so:substitution','NP_005219.2:p.Leu858Arg','p.L858','1956'),
        |('variant','NP_000537:NP_000537.3:p.Arg273His@so:substitution','NP_000537.3:p.Arg273His','p.R273','NP_000537'),
        |('edge','Infers','NM_005228:NM_005228.5:c.2573T>G@so:substitution','NP_005219:NP_005219.2:p.Leu858Arg@so:substitution',''),
        |('edge','Infers','NP_005219:NP_005219.2:p.Leu858Arg@so:substitution','1956:NP_005219.2:p.Leu858Arg@so:substitution',''),
        |('edge','Infers','NM_005228:NM_005228.5:c.2573T>G@so:substitution','rs121434568',''),
        |('edge','Infers','NP_000537:NP_000537.3:p.Arg273His@so:substitution','rs28934576',''),
        |('count','hgvs_errors','1','',''),
        |('count','misses','1','',''),
        |('rerun','mutations','0','','')
        |) AS t(kind, a, b, c, d)""".stripMargin,
    "g33_variants" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('count:gene_errors', '1', '', ''),
        |('count:parse_errors', '1', '', ''),
        |('count:vocab_errors', '1', '', ''),
        |('gene', '1956', 'EGFR', 'gene'),
        |('gene', '25', 'ABL1', 'gene'),
        |('gene', '3845', 'KRAS', 'gene'),
        |('gene', '555', 'NOVEL1', 'transcript'),
        |('gene', '613', 'BCR', 'gene'),
        |('gene', '9999', 'NOVEL1', 'gene'),
        |('variant', '1956:c.2573T>G@t:sub', 't:sub', 'c.2573|-'),
        |('variant', '3845:p.G12D@t:sub', 't:sub', 'p.G12|-'),
        |('variant', '613::25:fusion(e.13,e.3)@t:fusion', 't:fusion', 'e.13|e.3'),
        |('variant', '9999:p.V600E@t:sub', 't:sub', 'p.V600|-')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g29: frozen from the implementation once, cross-checked against
    // PMC4468049/index.js:126-180 (r1 specific LUAD, r2 cancer fallback,
    // r3 low-freq + r4 disease-miss skips, r5 gene-miss error).
    "g29_pmc4468049" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('count:error', '1', '', ''),
        |('count:skip', '2', '', ''),
        |('statement', 'r1', 'recurrent|d:luad', '27436::238:fusion@t:fus,d:luad'),
        |('statement', 'r2', 'recurrent|d:cancer', '613::25:fusion@t:fus,d:cancer'),
        |('variant', '27436::238:fusion@t:fus', '27436|238', ''),
        |('variant', '613::25:fusion@t:fus', '613|25', '')
        |) AS t(kind, a, b, c)""".stripMargin,
    "g28_vocab_file" ->
      raw"""WITH raw AS (
        |  SELECT records FROM read_json('$SeedData/vocab.json',
        |    columns={records: 'MAP(VARCHAR, JSON)'})
        |), entries AS (
        |  SELECT unnest(map_keys(records)) AS key, unnest(map_values(records)) AS v
        |  FROM raw
        |), recs AS (
        |  SELECT key,
        |    coalesce(json_extract_string(v, '$$.sourceId'), key) AS source_id,
        |    coalesce(json_extract_string(v, '$$.name'),
        |             coalesce(json_extract_string(v, '$$.sourceId'), key)) AS name,
        |    coalesce(CAST(json_extract(v, '$$.deprecated') AS BOOLEAN), false) AS deprecated,
        |    coalesce(json_extract_string(v, '$$.source'), 'default') AS source,
        |    json_extract(v, '$$.links') AS links
        |  FROM entries
        |), lnk AS (
        |  SELECT key, count(*) AS n_links
        |  FROM (SELECT key, unnest(CAST(links AS JSON[])) AS l
        |        FROM recs WHERE links IS NOT NULL)
        |  GROUP BY key
        |)
        |SELECT r.source_id, r.name, r.deprecated, r.source,
        |  CAST(coalesce(l.n_links, 0) AS BIGINT) AS n_links
        |FROM recs r LEFT JOIN lnk l USING (key)""".stripMargin,
    // g27: frozen from the implementation once, cross-checked against
    // asco/index.js:47-93 (fill-score win for rec 2, last-wins tie for
    // rec 5, singleton kept).
    "g27_asco" ->
      """SELECT CAST(source_id AS VARCHAR) AS source_id,
        |  CAST(citation AS VARCHAR) AS citation, CAST(doi AS VARCHAR) AS doi
        |FROM (VALUES
        |('100|2020|am|T cells|Smith', 'cit-a', 'doi-a'),
        |('200|2021|gi|B cells|Jones', 'cit-2', ''),
        |('300|2022|am|NK cells|Wu', '', 'doi-z')
        |) AS t(source_id, citation, doi)""".stripMargin,
    // g26: frozen from the implementation once, cross-checked against
    // PMC4232638/index.js:46-110 (decision table incl. multi-category
    // P72R drop, neutral filter, bad-PMID fallback to the paper id).
    "g26_pmc4232638" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('statement', '3845:p.G12D@t:lgof', 't:lgof|3845|3845,3845:p.G12D@t:sub', '25348012,789|PMID:789'),
        |('statement', '7157:p.R175H@t:gof', 't:gof|7157|7157,7157:p.R175H@t:sub', '123,25348012,456|PMID:123; PMID:456 (in vitro)'),
        |('statement', '7157:p.R273H@t:domneg', 't:domneg|7157|7157,7157:p.R273H@t:sub', '25348012|'),
        |('statement', '7157:p.R282W@t:lof', 't:lof|7157|7157,7157:p.R282W@t:sub', '25348012|'),
        |('variant', '3845:p.G12D@t:sub', 't:sub', 'p.G12'),
        |('variant', '7157:p.R175H@t:sub', 't:sub', 'p.R175'),
        |('variant', '7157:p.R273H@t:sub', 't:sub', 'p.R273'),
        |('variant', '7157:p.R282W@t:sub', 't:sub', 'p.R282')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g25: frozen from the implementation once, cross-checked against
    // fdaApprovals/index.js:49-105 (blacklist + dedup, one-distinct-year
    // rule: p1 agrees on 2020, p2 conflicts -> null, missing page = 1).
    "g25_fda_approvals" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('count:error', '1', '', ''),
        |('curated', '/drugs/resources/announce-1', 'FDA approves drugx for melanoma',
        |  '2020|https://www.fda.gov/drugs/resources/announce-1'),
        |('curated', '/drugs/resources/announce-2', 'FDA approves drugy',
        |  '-|https://www.fda.gov/drugs/resources/announce-2')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g24: frozen from the implementation once, cross-checked against
    // cosmic/fusions.js:36-225 (level gating A/B/C, success-only
    // suppression with E erroring at levels 0-1 then landing at level 2).
    "g24_cosmic_fusions" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('count:error', '2', '', ''),
        |('infers', 'BRAF::MEK1:fus(e.10,e.2)', 'BRAF::MEK1:fusion', ''),
        |('statement', 'a1', '0|BRAF::MEK1:fus(e.10,e.2)|d:mel', '3'),
        |('statement', 'b1', '1|EWSR1::FLI1:fusion|d:sarc', '3'),
        |('statement', 'c1', '2|BCR::ABL1:fusion|d:cancer', '3'),
        |('statement', 'e1', '2|AA::BB:fusion|d:cancer', '3'),
        |('variant:category', 'AA::BB:fusion', '-|-', ''),
        |('variant:category', 'BCR::ABL1:fusion', '-|-', ''),
        |('variant:category', 'BRAF::MEK1:fusion', '-|-', ''),
        |('variant:category', 'EWSR1::FLI1:fusion', '-|-', ''),
        |('variant:positional', 'BRAF::MEK1:fus(e.10,e.2)', 'e.10|e.2', '')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g23: frozen from the implementation once, cross-checked against
    // cosmic/resistance.js:56-206 (per-form ladders of m1-m4, hgnc
    // fallback on m3, chromosome miss on m4, catalog link coalesce).
    "g23_cosmic_resistance" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('infers', '7:7:g.140753336A>T@t:sub', 'ENST00000288602.11:ENST00000288602.11:c.1799T>A@t:sub', ''),
        |('infers', '7:7:g.55191822T>G@t:sub', 'ENSP00000000002.1:ENSP00000000002.1:p.L858R@t:sub', ''),
        |('infers', 'COSM1:COSM1@-', 'ENSP00000000001.1:ENSP00000000001.1:p.G12D@t:sub', ''),
        |('infers', 'COSM2:COSM2@-', '7:7:g.55191822T>G@t:sub', ''),
        |('infers', 'COSM3:COSM3@-', 'ENST00000311936.7:ENST00000311936.7:c.34G>T@t:sub', ''),
        |('infers', 'COSM476:COSM476@-', '7:7:g.140753336A>T@t:sub', ''),
        |('infers', 'ENSP00000000002.1:ENSP00000000002.1:p.L858R@t:sub', 'hgnc:9999:ENSP00000000002.1:p.L858R@t:sub', ''),
        |('infers', 'ENSP00000288602.7:ENSP00000288602.7:p.V600E@t:sub', '673:ENSP00000288602.7:p.V600E@t:sub', ''),
        |('infers', 'ENSP00000308495.3:ENSP00000308495.3:p.G12C@t:sub', '3845:ENSP00000308495.3:p.G12C@t:sub', ''),
        |('infers', 'ENST00000288602.11:ENST00000288602.11:c.1799T>A@t:sub', 'ENSP00000288602.7:ENSP00000288602.7:p.V600E@t:sub', ''),
        |('infers', 'ENST00000311936.7:ENST00000311936.7:c.34G>T@t:sub', 'ENSP00000308495.3:ENSP00000308495.3:p.G12C@t:sub', ''),
        |('variant:catalog', 'COSM1:COSM1@-', '-', '-|-'),
        |('variant:catalog', 'COSM2:COSM2@-', '-', '-|-'),
        |('variant:catalog', 'COSM3:COSM3@-', '-', '-|-'),
        |('variant:catalog', 'COSM476:COSM476@-', '-', '-|-'),
        |('variant:cds', 'ENST00000288602.11:ENST00000288602.11:c.1799T>A@t:sub', 't:sub', 'c.1799|-'),
        |('variant:cds', 'ENST00000311936.7:ENST00000311936.7:c.34G>T@t:sub', 't:sub', 'c.34|-'),
        |('variant:general', '3845:ENSP00000308495.3:p.G12C@t:sub', 't:sub', 'p.G12|-'),
        |('variant:general', '673:ENSP00000288602.7:p.V600E@t:sub', 't:sub', 'p.V600|-'),
        |('variant:general', 'hgnc:9999:ENSP00000000002.1:p.L858R@t:sub', 't:sub', 'p.L858|-'),
        |('variant:genomic', '7:7:g.140753336A>T@t:sub', 't:sub', 'g.140753336|grch38'),
        |('variant:genomic', '7:7:g.55191822T>G@t:sub', 't:sub', 'g.55191822|grch38'),
        |('variant:protein', 'ENSP00000000001.1:ENSP00000000001.1:p.G12D@t:sub', 't:sub', 'p.G12|-'),
        |('variant:protein', 'ENSP00000000002.1:ENSP00000000002.1:p.L858R@t:sub', 't:sub', 'p.L858|-'),
        |('variant:protein', 'ENSP00000288602.7:ENSP00000288602.7:p.V600E@t:sub', 't:sub', 'p.V600|-'),
        |('variant:protein', 'ENSP00000308495.3:ENSP00000308495.3:p.G12C@t:sub', 't:sub', 'p.G12|-')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g22: frozen from the implementation once, cross-checked against
    // uberon/index.js:36-207 (label gate on 0000003, both-ends subclass
    // gate, ncit-dim xref gate, parseSubsetName keeping the fragment).
    "g22_uberon" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('crossreferenceof', 'uberon:0000001', 'c12345', ''),
        |('entity', 'uberon:0000001', 'anatomical structure', 'false|core#uberon_slim|a structure'),
        |('entity', 'uberon:0000002', 'lung', 'true||-'),
        |('entity', 'uberon:0000004', 'heart', 'false||-'),
        |('subclassof', 'uberon:0000002', 'uberon:0000001', ''),
        |('subclassof', 'uberon:0000004', 'uberon:0000001', '')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g21: frozen from the implementation once, cross-checked against
    // cgi/index.js:73-190 by hand (cartesian c6, dead CNA fold on c4,
    // guideline drop on c2, error isolation c7/c8).
    "g21_cgi" ->
      """SELECT CAST(rowId AS VARCHAR) AS "rowId", CAST(kind AS VARCHAR) AS kind,
        |  CAST(comboIdx AS BIGINT) AS "comboIdx", CAST(value AS VARCHAR) AS value
        |FROM (VALUES
        |('c1', 'combo', 0, 'BRAF:p.V600E'),
        |('c1', 'evidence', 0, '21639808'),
        |('c1', 'therapy', 0, 'Vemurafenib'),
        |('c2', 'combo', 0, 'KRAS:p.G12mut'),
        |('c2', 'combo', 1, 'KRAS:p.G13mut'),
        |('c2', 'evidence', 0, '1,NCT00112233'),
        |('c2', 'therapy', 0, 'MEK inhibitors'),
        |('c3', 'combo', 0, 'EGFR:e.19del'),
        |('c3', 'evidence', 0, 'PMC1234'),
        |('c3', 'therapy', 0, 'Gefitinib'),
        |('c4', 'combo', 0, 'CDKN2A deletion'),
        |('c4', 'evidence', 0, '2'),
        |('c4', 'therapy', 0, 'X'),
        |('c5', 'combo', 0, 'BCR::ABL1:fusion'),
        |('c5', 'evidence', 0, '3'),
        |('c5', 'therapy', 0, 'Imatinib'),
        |('c6', 'combo', 0, 'BRAF:p.V600E AND MEK1:p.P124S'),
        |('c6', 'evidence', 0, '4'),
        |('c6', 'therapy', 0, 'Trametinib'),
        |('c7', 'error', 0, 'Missing logic to process variant combinations of 3 or more'),
        |('c8', 'error', 0, 'cannot process non-pubmed/nct/aacr/asco evidence WEIRD:1')
        |) AS t("rowId", kind, "comboIdx", value)""".stripMargin,
    // g20: frozen from the implementation once, cross-checked against
    // oncokb/index.js:199-312 (category-first routing, r2/r3 flipped
    // fusion dedup to one variant, biomarker signature path, r8 error).
    "g20_oncokb" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('count:error', '1', '', ''),
        |('variant:category', '1956:Amplification@t:amp', 't:amp', '-|-'),
        |('variant:category', '3845:oncogenic mutation@t:onco', 't:onco', '-|-'),
        |('variant:category', '613::25:fusion@t:fusion', 't:fusion', '-|25'),
        |('variant:category', 'sig:msi:strong signature@t:sig', 't:sig', '-|-'),
        |('variant:positional', '4233:e.14spl@t:spl', 't:spl', 'e.14|-'),
        |('variant:positional', '673:p.v600e@t:sub', 't:sub', 'p.V600|-')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g19: frozen from the implementation once, cross-checked against
    // cancerhotspots/index.js:80-201 by hand (notation routing, fs trim,
    // h3's lost genomic + skipped statement, h4's fatal gene miss).
    "g19_cancerhotspots" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('count:record_errors', '1', '', ''),
        |('infers', '7:7:g.100_101insAG@t:ins', '673:p.P2fs@t:fs', ''),
        |('infers', '7:7:g.140453136A>T@t:sub', 'ENST00000288602:c.1799T>A@t:sub', ''),
        |('infers', 'ENST00000288602:c.1799T>A@t:sub', '673:p.V600E@t:sub', ''),
        |('infers', 'ENST00000288602:c.7_12delGAAGCA@t:del', '1956:p.E3_A4delEA@t:del', ''),
        |('statement', 'h1', 'mutation hotspot|mel', '673:p.V600E@t:sub,mel'),
        |('statement', 'h2', 'mutation hotspot|mel', '673:p.P2fs@t:fs,mel'),
        |('variant:cds', 'ENST00000288602:c.1799T>A@t:sub', 't:sub', 'c.1799'),
        |('variant:cds', 'ENST00000288602:c.7_12delGAAGCA@t:del', 't:del', 'c.7'),
        |('variant:genomic', '7:7:g.100_101insAG@t:ins', 't:ins', 'g.100'),
        |('variant:genomic', '7:7:g.140453136A>T@t:sub', 't:sub', 'g.140453136'),
        |('variant:protein', '1956:p.E3_A4delEA@t:del', 't:del', 'p.E3'),
        |('variant:protein', '673:p.P2fs@t:fs', 't:fs', 'p.P2'),
        |('variant:protein', '673:p.V600E@t:sub', 't:sub', 'p.V600')
        |) AS t(kind, a, b, c)""".stripMargin,
    // g18: frozen from the implementation once, cross-checked against
    // docm/index.js:33-90 by hand (fix rewrites, variant_type routing,
    // assembly lowercase, failure isolation of r5/r6).
    "g18_docm" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('count:record_errors', '1', '', ''),
        |('infers', '12:12:g.100delA@t:del', '3845:p.W22delW@t:del', ''),
        |('infers', '12:12:g.25398284C>T@t:sub', '3845:p.G12D@t:sub', ''),
        |('infers', '12:12:g.300_301insAAG@t:ins', '3845:p.M1_A2insK@t:ins', ''),
        |('infers', '12:chr12:g.200_201delGGinsGV@t:indel', '3845:p.G13delGinsV@t:indel', ''),
        |('variant:genomic', '12:12:g.100delA@t:del', 't:del', 'g.100|grch37'),
        |('variant:genomic', '12:12:g.25398284C>T@t:sub', 't:sub', 'g.25398284|grch37'),
        |('variant:genomic', '12:12:g.300_301insAAG@t:ins', 't:ins', 'g.300|grch37'),
        |('variant:genomic', '12:chr12:g.200_201delGGinsGV@t:indel', 't:indel', 'g.200|grch37'),
        |('variant:protein', '3845:p.G12D@t:sub', 't:sub', 'p.G12|-'),
        |('variant:protein', '3845:p.G13delGinsV@t:indel', 't:indel', 'p.G13|-'),
        |('variant:protein', '3845:p.M1_A2insK@t:ins', 't:ins', 'p.M1|-'),
        |('variant:protein', '3845:p.W22delW@t:del', 't:del', 'p.W22|-'),
        |('variant:protein', '673:p.V600E@t:sub', 't:sub', 'p.V600|-')
        |) AS t(kind, a, b, c)""".stripMargin,
    "g17_dgidb" ->
      raw"""WITH g AS (
        |  SELECT r."3845".uid AS uid FROM (SELECT result AS r
        |    FROM read_json_auto('$TestData/entrez_gene.3845.json'))
        |), m AS (
        |  SELECT molecule_chembl_id AS cid
        |  FROM read_json_auto('$TestData/chembl.CHEMBL553.json')
        |)
        |SELECT 'targetof' AS kind, uid AS a, cid AS b,
        |       'antagonist;inhibitor|u1' AS c
        |FROM g, m
        |UNION ALL SELECT 'count:success', '1', '', ''
        |UNION ALL SELECT 'count:error', '2', '', ''""".stripMargin,
    // g16: frozen from the implementation once, cross-checked against the
    // jest expectations (test/moa.test.js:140-221: category content,
    // break1Repr 'e.2', annotation-term double lookup) and the Infers
    // join order (moa/index.js:164-181).
    "g16_moa" ->
      """SELECT CAST(kind AS VARCHAR) AS kind, CAST(a AS VARCHAR) AS a,
        |  CAST(b AS VARCHAR) AS b, CAST(c AS VARCHAR) AS c FROM (VALUES
        |('infers', '673:c.1799T>A@t:substitution', '673:p.V600E@t:substitution', ''),
        |('infers', '673:p.V600E@t:substitution', '673:e.15mut@t:mutation', ''),
        |('infers', '7:g.140453136A>T@t:substitution', '673:c.1799T>A@t:substitution', ''),
        |('variant:category', '3845:KRAS some variant type@t:moa:svt', 't:moa:svt', '-|false'),
        |('variant:category', '7157:TP53 mutation@t:mutation', 't:mutation', '-|false'),
        |('variant:cds', '673:c.1799T>A@t:substitution', 't:substitution', 'c.1799|false'),
        |('variant:exon', '1956:e.2mut@t:moa:svt', 't:moa:svt', 'e.2|false'),
        |('variant:exon', '1956:e.2mut@t:mutation', 't:mutation', 'e.2|false'),
        |('variant:exon', '673:e.15mut@t:mutation', 't:mutation', 'e.15|false'),
        |('variant:genomic', '7:g.140453136A>T@t:substitution', 't:substitution', 'g.140453136|false'),
        |('variant:protein', '11200:p.T367fs@t:frameshift', 't:frameshift', 'p.T367|true'),
        |('variant:protein', '673:p.V600E@t:substitution', 't:substitution', 'p.V600|false')
        |) AS t(kind, a, b, c)""".stripMargin,
    "g15_entrez_refseq" ->
      raw"""WITH recs AS (
        |  SELECT r."224589815".accessionversion AS acc, r."224589815".biomol AS biomol,
        |         r."224589815".subname AS subname, r."224589815".title AS title
        |  FROM (SELECT result AS r
        |    FROM read_json_auto('$TestData/entrez_refseq.NC_000003.11.json'))
        |  UNION ALL
        |  SELECT r."568815595".accessionversion, r."568815595".biomol,
        |         r."568815595".subname, r."568815595".title
        |  FROM (SELECT result AS r
        |    FROM read_json_auto('$TestData/entrez_refseq.NC_000003.json'))
        |  UNION ALL
        |  SELECT r."1519245592".accessionversion, r."1519245592".biomol,
        |         r."1519245592".subname, r."1519245592".title
        |  FROM (SELECT result AS r
        |    FROM read_json_auto('$TestData/entrez_refseq.NM_005228.5.json'))
        |  UNION ALL
        |  SELECT r."5901912".accessionversion, r."5901912".biomol,
        |         r."5901912".subname, r."5901912".title
        |  FROM (SELECT result AS r
        |    FROM read_json_auto('$TestData/entrez_refseq.NP_008819.1.json'))
        |), parsed AS (
        |  SELECT split_part(acc, '.', 1) AS source_id,
        |    nullif(split_part(acc, '.', 2), '') AS source_id_version,
        |    CASE WHEN biomol = 'genomic' THEN 'chromosome'
        |         WHEN biomol = 'peptide' THEN 'protein'
        |         ELSE 'transcript' END AS biotype,
        |    subname,
        |    upper(acc) AS display_name,
        |    title AS long_name
        |  FROM recs
        |)
        |SELECT source_id, source_id_version, biotype,
        |  CASE WHEN biotype = 'chromosome' THEN subname END AS name,
        |  display_name, long_name
        |FROM parsed""".stripMargin,
    // g14: per-table counts re-derived from the raw fixtures; constants are
    // local seed data (vocabulary = the 5-term seed, terms = the 10 rows
    // g3's oracle pins, ncit edges = the sum of g3's pinned n_out) and DAG
    // semantics (14 loaders, rerun creates nothing).
    "g14_full_dag" ->
      raw"""WITH vocab_recs AS (
        |  SELECT unnest(map_values(records)) AS v
        |  FROM read_json('$SeedData/vocab.json',
        |    columns={records: 'MAP(VARCHAR, JSON)'})
        |), sig_recs AS (
        |  SELECT unnest(map_values(records)) AS v
        |  FROM read_json('$SeedData/signatures.json',
        |    columns={records: 'MAP(VARCHAR, JSON)'})
        |), chrom_recs AS (
        |  SELECT unnest(map_values(records)) AS v
        |  FROM read_json('$SeedData/chromosomes.json',
        |    columns={records: 'MAP(VARCHAR, JSON)'})
        |), ev_recs AS (
        |  SELECT unnest(map_values(records)) AS v
        |  FROM read_json('$SeedData/evidenceLevels.json',
        |    columns={records: 'MAP(VARCHAR, JSON)'})
        |), aacr_recs AS (
        |  SELECT unnest(map_values(records)) AS v
        |  FROM read_json('$SeedData/aacr.json',
        |    columns={records: 'MAP(VARCHAR, JSON)'})
        |), ascoL_recs AS (
        |  SELECT unnest(map_values(records)) AS v
        |  FROM read_json('$SeedData/asco.json',
        |    columns={records: 'MAP(VARCHAR, JSON)'})
        |), doid_nodes AS (
        |  SELECT unnest(graphs[1].nodes) AS n
        |  FROM read_json_auto('$TestData/doid.sample.json',
        |                      maximum_object_size=20000000)
        |), doid_edges AS (
        |  SELECT unnest(graphs[1].edges) AS e
        |  FROM read_json_auto('$TestData/doid.sample.json',
        |                      maximum_object_size=20000000)
        |), onc AS (
        |  SELECT lower(code) AS sid, lower(parent) AS parent,
        |         coalesce(len(externalReferences.NCI), 0) AS n_nci
        |  FROM read_json_auto('$TestData/tumorTypes-oncotree_latest_stable.json')
        |), ens_r AS (
        |  SELECT split_part(lower("Gene stable ID version"),'.',1) AS gid,
        |         split_part(lower("Gene stable ID version"),'.',2) AS gv,
        |         split_part(lower("Transcript stable ID version"),'.',1) AS tid,
        |         split_part(lower("Transcript stable ID version"),'.',2) AS tv,
        |         split_part(lower("Protein stable ID version"),'.',1) AS pid,
        |         split_part(lower("Protein stable ID version"),'.',2) AS pv,
        |         lower("HGNC ID") AS hgnc
        |  FROM read_csv('$TestData/ensembl_biomart_export_ENSG00000139618.tsv',
        |                delim='\t', header=true)
        |), ens_u AS (
        |  SELECT DISTINCT kind, a, b FROM (
        |    SELECT 'feature:gene' AS kind, gid AS a, gv AS b FROM ens_r
        |    UNION ALL SELECT 'feature:gene', gid, '' FROM ens_r
        |    UNION ALL SELECT 'feature:transcript', tid, tv FROM ens_r
        |    UNION ALL SELECT 'feature:transcript', tid, '' FROM ens_r
        |    UNION ALL SELECT 'feature:protein', pid, pv FROM ens_r
        |    UNION ALL SELECT 'feature:protein', pid, '' FROM ens_r
        |    UNION ALL SELECT 'generalizationof', gid, gid||'.'||gv FROM ens_r
        |    UNION ALL SELECT 'generalizationof', tid, tid||'.'||tv FROM ens_r
        |    UNION ALL SELECT 'generalizationof', pid, pid||'.'||pv FROM ens_r
        |    UNION ALL SELECT 'elementof', tid, gid FROM ens_r
        |    UNION ALL SELECT 'elementof', tid||'.'||tv, gid||'.'||gv FROM ens_r
        |    UNION ALL SELECT 'elementof', pid, tid FROM ens_r
        |    UNION ALL SELECT 'elementof', pid||'.'||pv, tid||'.'||tv FROM ens_r
        |    UNION ALL SELECT 'crossreferenceof', gid, hgnc FROM ens_r WHERE hgnc IS NOT NULL
        |  ) AS x
        |), rs_r AS (
        |  SELECT GeneID,
        |         split_part(RNA,'.',1) AS rna, split_part(RNA,'.',2) AS rnav,
        |         split_part(coalesce(Protein,''),'.',1) AS prot,
        |         split_part(coalesce(Protein,''),'.',2) AS protv
        |  FROM read_csv('$TestData/LRG_RefSeqGene_d1541209245_kras.tab',
        |                delim='\t', header=true, all_varchar=true)
        |  WHERE RNA IS NOT NULL AND RNA <> ''
        |), rs_u AS (
        |  SELECT DISTINCT kind, a, b FROM (
        |    SELECT 'f' AS kind, rna AS a, rnav AS b FROM rs_r
        |    UNION ALL SELECT 'f', rna, '' FROM rs_r
        |    UNION ALL SELECT 'f', prot, protv FROM rs_r WHERE prot <> ''
        |    UNION ALL SELECT 'f', prot, '' FROM rs_r WHERE prot <> ''
        |    UNION ALL SELECT 'generalizationof', rna, rna||'.'||rnav FROM rs_r
        |    UNION ALL SELECT 'generalizationof', prot, prot||'.'||protv FROM rs_r WHERE prot <> ''
        |    UNION ALL SELECT 'elementof', prot, rna FROM rs_r WHERE prot <> ''
        |    UNION ALL SELECT 'elementof', prot||'.'||protv, rna||'.'||rnav FROM rs_r WHERE prot <> ''
        |    UNION ALL SELECT 'elementof', rna, 'entrez:'||GeneID FROM rs_r WHERE GeneID = '3845'
        |  ) AS x
        |), vario_block AS (
        |  SELECT unnest(regexp_extract_all(content,
        |    '<owl:Class rdf:about="http://purl\.obolibrary\.org/obo/VariO_[0-9]+">.*?</owl:Class>',
        |    0, 's')) AS b
        |  FROM read_text('$TestData/vario_v2018-04-27.owl')
        |), vario_lab AS (
        |  SELECT * FROM (
        |    SELECT lower(replace(regexp_extract(b, 'obo/(VariO_[0-9]+)"', 1), '_', ':')) AS sid,
        |      trim(regexp_extract(b, '<rdfs:label[^>]*>(.*?)</rdfs:label>', 1, 's')) AS name,
        |      list_transform(regexp_extract_all(b,
        |        '<rdfs:subClassOf rdf:resource="http://purl\.obolibrary\.org/obo/(VariO_[0-9]+)"', 1),
        |        s -> lower(replace(s, '_', ':'))) AS subs
        |    FROM vario_block) WHERE name <> ''
        |), vario_edge AS (
        |  SELECT DISTINCT l.sid, t.s FROM vario_lab l, unnest(l.subs) AS t(s)
        |  WHERE t.s IN (SELECT sid FROM vario_lab)
        |), hgnc_doc AS (
        |  SELECT unnest("http://rest.genenames.org/fetch/hgnc_id/1101".response.docs) AS d
        |  FROM read_json_auto('$TestData/external_api_responses.json')
        |), fda AS (
        |  SELECT count(*) AS n
        |  FROM read_csv('$TestData/UNII_Records_25Oct2018_sample.txt',
        |                delim='\t', header=true, all_varchar=true)
        |  WHERE UNII IS NOT NULL AND PT IS NOT NULL
        |)
        |SELECT 'loaders:succeeded' AS kind, CAST(35 AS BIGINT) AS n
        |UNION ALL SELECT 'rerun:succeeded', CAST(35 AS BIGINT)
        |UNION ALL SELECT 'rerun:creates', CAST(0 AS BIGINT)
        |-- in-situ error side-channel: dgidb unknown-gene 1, cgi 3-plus
        |-- combination 1, docm protein-fatal 1, oncokb unresolvable id 1,
        |-- hotspots protein-fatal 1, cgl no-loadable-form 1 (moa's two bad
        |-- records are DROP-based — no counter — pinned by the variant
        |-- count instead)
        |UNION ALL SELECT 'errors:total', CAST(6 AS BIGINT)
        |-- all_sources seeder: the 39 sources.js definitions
        |UNION ALL SELECT 'table:sources', CAST(39 AS BIGINT)
        |UNION ALL SELECT 'table:vocabulary',
        |  CAST((SELECT count(*) FROM vocab_recs) AS BIGINT)
        |UNION ALL SELECT 'table:terms', CAST(10 AS BIGINT)
        |UNION ALL SELECT 'table:vertices', CAST((SELECT count(*) FROM doid_nodes
        |  WHERE regexp_extract(n.id, '.*/([A-Za-z]+_[0-9]+)$$', 1) <> '') AS BIGINT)
        |UNION ALL SELECT 'table:diseases', CAST((SELECT count(*) FROM onc) AS BIGINT)
        |-- + 1: the cgi node's therapy miss creates cgi:vemurafenib
        |-- (vemurafenib appears in none of the three therapy fixtures)
        |UNION ALL SELECT 'table:therapies', CAST((SELECT n FROM fda)
        |  + (SELECT len(regexp_extract_all(content, '<drug type='))
        |     FROM read_text('$TestData/drugbank_sample.xml'))
        |  + (SELECT 1 + CASE WHEN usan_stem_definition IS NOT NULL THEN 1 ELSE 0 END
        |     FROM read_json_auto('$TestData/chembl.CHEMBL553.json'))
        |  + 1 AS BIGINT)
        |UNION ALL SELECT 'table:genes', CAST((SELECT len(r.uids) FROM
        |    (SELECT result AS r
        |     FROM read_json_auto('$TestData/entrez_gene.3845.json')))
        |  + (SELECT count(*)
        |     FROM read_json_auto('$TestData/civic_variant.json')
        |     WHERE CAST(entrez_id AS VARCHAR) <> '3845') AS BIGINT)
        |UNION ALL SELECT 'table:genes_hgnc', CAST((SELECT count(*)
        |  + sum(len(d.prev_symbol) + len(d.alias_symbol)) FROM hgnc_doc) AS BIGINT)
        |UNION ALL SELECT 'table:features',
        |  CAST((SELECT count(*) FROM ens_u WHERE kind LIKE 'feature:%')
        |     + (SELECT count(*) FROM rs_u WHERE kind = 'f') AS BIGINT)
        |UNION ALL SELECT 'table:articles', CAST((SELECT len(r.uids) FROM
        |  (SELECT result AS r
        |   FROM read_json_auto('$TestData/entrez_pubmed.30016509.json'))) AS BIGINT)
        |UNION ALL SELECT 'table:trials', CAST((SELECT count(*)
        |  FROM read_json_auto('$TestData/clinicaltrialsgov.NCT03478891.json')) AS BIGINT)
        |-- variants: civic (from the fixture) + the record-level loaders'
        |-- disjoint demo ladders: moa 6 (9103's protein lands while its
        |-- chrom-99 genomic drops; 9104 drops whole), docm 2, oncokb 2,
        |-- hotspots 3, cosmic resistance 5, cosmic fusions 2,
        |-- pmc4232638 1, pmc4468049 1, cgl 2, cgi 1
        |UNION ALL SELECT 'table:variants', CAST((SELECT count(*)
        |  FROM read_json_auto('$TestData/civic_variant.json'))
        |  + 25 AS BIGINT)
        |-- asco dedup collapses its 2 demo records to 1; one scraped
        |-- announcement; statements: hotspots + cosmic fusions +
        |-- pmc4232638 + pmc4468049 + cgl + cgi (dag-c1's one combo;
        |-- dag-c2 is the 3-plus-combination error)
        |UNION ALL SELECT 'table:abstracts', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'table:curated', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'table:statements', CAST(6 AS BIGINT)
        |UNION ALL SELECT 'table:vario_terms', CAST((SELECT count(*) FROM vario_lab) AS BIGINT)
        |UNION ALL SELECT 'table:signatures', CAST((SELECT count(*) FROM sig_recs) AS BIGINT)
        |UNION ALL SELECT 'table:chromosomes', CAST((SELECT count(*) FROM chrom_recs) AS BIGINT)
        |UNION ALL SELECT 'table:evidence_levels', CAST((SELECT count(*) FROM ev_recs) AS BIGINT)
        |UNION ALL SELECT 'table:abstracts_aacr', CAST((SELECT count(*) FROM aacr_recs) AS BIGINT)
        |UNION ALL SELECT 'table:abstracts_asco', CAST((SELECT count(*) FROM ascoL_recs) AS BIGINT)
        |-- uberon inline sample: 3 labeled classes; refseq: one uid per
        |-- recorded esummary fixture (4 files)
        |UNION ALL SELECT 'table:anatomy', CAST(3 AS BIGINT)
        |UNION ALL SELECT 'table:refseqs', CAST(4 AS BIGINT)
        |UNION ALL SELECT 'table:edges', CAST(
        |    (SELECT count(*) FROM doid_edges WHERE e.pred = 'is_a'
        |      AND regexp_extract(e.sub, '.*/([A-Za-z]+_[0-9]+)$$', 1) <> ''
        |      AND regexp_extract(e.obj, '.*/([A-Za-z]+_[0-9]+)$$', 1) <> '')
        |  + (SELECT count(*) FROM onc
        |      WHERE parent IS NOT NULL AND parent IN (SELECT sid FROM onc))
        |  + (SELECT sum(n_nci) FROM onc)
        |  + (SELECT count(*) FROM ens_u WHERE kind NOT LIKE 'feature:%')
        |  + (SELECT count(*) FROM rs_u WHERE kind <> 'f')
        |  + (SELECT count(*) FROM vario_edge)
        |  + (SELECT sum(len(d.prev_symbol) + len(d.alias_symbol)
        |      + CASE WHEN d.ensembl_gene_id IS NOT NULL THEN 1 ELSE 0 END
        |      + CASE WHEN d.entrez_id IS NOT NULL THEN 1 ELSE 0 END) FROM hgnc_doc)
        |  + (SELECT count(*) FROM (
        |      SELECT unnest(CAST(json_extract(v, '$$.links') AS JSON[]))
        |      FROM vocab_recs WHERE json_extract(v, '$$.links') IS NOT NULL))
        |  + (SELECT count(*) FROM (
        |      SELECT unnest(CAST(json_extract(v, '$$.links') AS JSON[]))
        |      FROM sig_recs WHERE json_extract(v, '$$.links') IS NOT NULL))
        |  + (SELECT count(*) FROM (
        |      SELECT unnest(CAST(json_extract(v, '$$.links') AS JSON[]))
        |      FROM ev_recs WHERE json_extract(v, '$$.links') IS NOT NULL))
        |-- + ncit 6 + chembl 1 + uberon subclass 2 + dgidb TargetOf 1
        |-- + record-loader Infers: moa 3, docm 1, hotspots 2,
        |--   cosmic resistance 4, cosmic fusions 1, cgl 1
        |  + 6 + 1 + 2 + 1 + 3 + 1 + 2 + 4 + 1 + 1 AS BIGINT)""".stripMargin,
    "g13_entrez" ->
      raw"""WITH g AS (
        |  SELECT r."3845" AS d
        |  FROM (SELECT result AS r
        |        FROM read_json_auto('$TestData/entrez_gene.3845.json'))
        |), p AS (
        |  SELECT r."30016509" AS d
        |  FROM (SELECT result AS r
        |        FROM read_json_auto('$TestData/entrez_pubmed.30016509.json'))
        |)
        |SELECT 'gene' AS kind, d.uid AS source_id, d.name AS name,
        |  d.name AS display_name, CAST(NULL AS BIGINT) AS year,
        |  CAST(NULL AS VARCHAR) AS journal
        |FROM g
        |UNION ALL
        |SELECT 'gene', '4869', 'stub-npm1', 'stub-npm1', NULL, NULL
        |UNION ALL
        |SELECT 'article', d.uid, d.title, 'pmid:' || d.uid,
        |  CAST(regexp_extract(d.sortpubdate, '^([0-9]{4})/', 1) AS BIGINT),
        |  d.fulljournalname
        |FROM p""".stripMargin,
    "g12_civic_variant" ->
      raw"""WITH v AS (
        |  SELECT id, name, entrez_name, entrez_id
        |  FROM read_json_auto('$TestData/civic_variant.json')
        |), n AS (
        |  SELECT lower(entrez_name) AS gene, CAST(entrez_id AS VARCHAR) AS gid,
        |    regexp_extract(lower(name), '^exon ([0-9]+) mutation$$', 1) AS brk
        |  FROM v
        |)
        |SELECT 'feature:gene' AS kind, gid AS a, gene AS b FROM n
        |UNION ALL
        |SELECT 'variant', gene || ':e.' || brk || 'mut', 'civic:mutation' FROM n
        |UNION ALL
        |SELECT 'variant:break1', gene || ':e.' || brk || 'mut', 'e.' || brk FROM n
        |UNION ALL
        |-- the rsID record's dbSNP ladder (frozen; the NP notation appears
        |-- twice: the refseq-referenced protein and the gene-alt variant)
        |SELECT * FROM (VALUES
        |('variant', 'NM_005228.5:c.2573T>G', 'so:substitution'),
        |('variant', 'NP_005219.2:p.Leu858Arg', 'so:substitution'),
        |('variant', 'NP_005219.2:p.Leu858Arg', 'so:substitution'),
        |('variant:break1', 'NM_005228.5:c.2573T>G', 'c.2573'),
        |('variant:break1', 'NP_005219.2:p.Leu858Arg', 'p.L858'),
        |('variant:break1', 'NP_005219.2:p.Leu858Arg', 'p.L858'),
        |('variant:rsid', 'rs121434568', '121434568')) AS r(kind, a, b)""".stripMargin,
    "s7_xlsx_scan" ->
      """SELECT CAST(gene AS VARCHAR) AS gene, CAST(gof AS VARCHAR) AS gof,
        |  CAST(lof AS VARCHAR) AS lof, CAST(other AS VARCHAR) AS other FROM (VALUES
        |('TP53', 'yes', 'no effect', 'x'),
        |('KRAS', '', '', 'y')) AS t(gene, gof, lof, other)""".stripMargin,
    "s12_token_scan" ->
      """SELECT CAST(nct_id AS VARCHAR) AS nct_id, CAST(phase AS VARCHAR) AS phase FROM (VALUES
        |('NCT01', '1'), ('NCT02', '2'), ('NCT03', '3')) AS t(nct_id, phase)""".stripMargin,
    "s13_link_scan" ->
      """SELECT CAST(gene AS VARCHAR) AS gene, CAST(drug AS VARCHAR) AS drug FROM (VALUES
        |('EGFR', 'erlotinib'), ('ALK', 'crizotinib')) AS t(gene, drug)""".stripMargin,
    "s14_solr_scan" ->
      """SELECT CAST(abstract_id AS BIGINT) AS abstract_id FROM (VALUES
        |(10), (11), (12), (13), (14)) AS t(abstract_id)""".stripMargin,
    "s15_entrez_batch" ->
      """SELECT c_custkey AS custkey, 'gene-record-' || CAST(c_custkey AS VARCHAR) AS payload
        |FROM customer WHERE c_custkey % 37 = 0""".stripMargin,
    "j2_preference_ladder" ->
      """SELECT CAST(rung AS VARCHAR) AS rung, CAST(winner AS VARCHAR) AS winner FROM (VALUES
        |('r1', 'keep'), ('r2', 'keep'), ('r3', 'keep'), ('r4', 'keep'),
        |('r5', 'keep'), ('r6', 'keep'), ('r7', 'keep'), ('r8', 'keep')
        |) AS t(rung, winner)""".stripMargin,
    "s10_paginated_scan" ->
      """SELECT CAST(id AS BIGINT) AS id, CAST(name AS VARCHAR) AS name FROM (VALUES
        |(1, 'alpha'), (2, 'beta'), (3, 'gamma')) AS t(id, name)""".stripMargin,
    "s11_cursor_scan" ->
      """SELECT CAST(id AS BIGINT) AS id, CAST(status AS VARCHAR) AS status FROM (VALUES
        |(1, 'ACCEPTED'), (2, 'SUBMITTED'), (3, 'ACCEPTED')) AS t(id, status)""".stripMargin,
    "s17_html_scrape" ->
      """SELECT CAST(page_id AS BIGINT) AS page_id, CAST(n_news_links AS BIGINT) AS n_news_links,
        |  CAST(year AS BIGINT) AS year, CAST(text_len AS BIGINT) AS text_len FROM (VALUES
        |(1, 1, 2021, 53), (2, 0, NULL, 19)) AS t(page_id, n_news_links, year, text_len)""".stripMargin,
    "s1_delim_scan" ->
      raw"""SELECT "Gene stable ID" AS gene_id,
        |  "Transcript stable ID" AS transcript_id,
        |  "Protein stable ID" AS protein_id,
        |  "HGNC ID" AS hgnc_id,
        |  "Gene name" AS gene_name
        |FROM read_csv('$TestData/ensembl_biomart_export_ENSG00000139618.tsv',
        |              delim='	', header=true)""".stripMargin,
    "s3_xml_dom" ->
      """SELECT CAST(name AS VARCHAR) AS name, CAST(cas_number AS VARCHAR) AS cas_number,
        |  CAST(unii AS VARCHAR) AS unii, CAST(state AS VARCHAR) AS state,
        |  CAST(n_groups AS INT) AS n_groups
        |FROM (VALUES ('Erlotinib', '183321-74-6', 'J4T82NDH7E', 'solid', 2))
        |  AS t(name, cas_number, unii, state, n_groups)""".stripMargin,
    "s4_xml_rowtag" ->
      """SELECT CAST(drugbank_id AS VARCHAR) AS drugbank_id, CAST(name AS VARCHAR) AS name,
        |  CAST(cas_number AS VARCHAR) AS cas_number, CAST(unii AS VARCHAR) AS unii,
        |  CAST(state AS VARCHAR) AS state, CAST(n_groups AS INT) AS n_groups
        |FROM (VALUES ('DB00530', 'Erlotinib', '183321-74-6', 'J4T82NDH7E', 'solid', 2))
        |  AS t(drugbank_id, name, cas_number, unii, state, n_groups)""".stripMargin,
    // Frozen golden frame (DuckDB can't parse OWL); independently
    // cross-checked against the raw RDF/XML with a regex extractor.
    "s5_owl_group" ->
      """SELECT CAST(source_id AS VARCHAR) AS source_id, CAST(name AS VARCHAR) AS name,
        |  CAST(n_subclass AS BIGINT) AS n_subclass
        |FROM (VALUES
        |('vario:0001', 'variation', 0),
        |('vario:0002', 'variation affecting protein', 1),
        |('vario:0003', 'variation affecting protein function', 1),
        |('vario:0004', 'effect on protein movement', 1),
        |('vario:0005', 'effect on protein storage', 1),
        |('vario:0006', 'effect on structural protein', 1),
        |('vario:0007', 'effect on protein recognition', 1),
        |('vario:0008', 'effect on catalytic protein function', 1),
        |('vario:0009', 'effect on transport function of protein', 1),
        |('vario:0010', 'effect on RNA abundance', 1)) AS t(source_id, name, n_subclass)""".stripMargin,
    "s6_obograph_nodes" ->
      raw"""SELECT lower(replace(regexp_extract(n.id, '.*/([A-Za-z]+_[0-9]+)$$', 1), '_', ':')) AS source_id,
        |  n.lbl AS name,
        |  CAST(coalesce(len(n.meta.synonyms), 0) AS BIGINT) AS n_alias,
        |  coalesce(len(list_filter(n.meta.basicPropertyValues,
        |    x -> x.pred LIKE '%deprecated' AND x.val = 'true')) > 0, false) AS deprecated
        |FROM (SELECT unnest(graphs[1].nodes) AS n
        |      FROM read_json_auto('$TestData/doid.sample.json',
        |                          maximum_object_size=20000000))""".stripMargin,
    "s8_json_scan" ->
      raw"""SELECT molecule_chembl_id AS chembl_id, pref_name AS name,
        |  CAST(max_phase AS BIGINT) AS max_phase,
        |  molecule_properties.full_molformula AS molformula
        |FROM read_json_auto('$TestData/chembl.CHEMBL553.json')""".stripMargin,
    "s16_api_proxy" ->
      raw"""SELECT protocolSection.identificationModule.nctId AS nct_id,
        |  protocolSection.statusModule.overallStatus AS status,
        |  array_to_string(protocolSection.designModule.phases, '/') AS phase,
        |  protocolSection.identificationModule.organization.fullName AS org
        |FROM read_json_auto('$TestData/clinicaltrialsgov.NCT03478891.json',
        |                    maximum_object_size=20000000)""".stripMargin,
    "f1_hgvs_parse" ->
      """SELECT
        |  CAST(notation AS VARCHAR) AS notation,
        |  CAST(ref1 AS VARCHAR) AS ref1,
        |  CAST(ref2 AS VARCHAR) AS ref2,
        |  CAST(prefix AS VARCHAR) AS prefix,
        |  CAST(vtype AS VARCHAR) AS vtype,
        |  CAST(b1s_pos AS BIGINT) AS b1s_pos,
        |  CAST(b1s_refaa AS VARCHAR) AS b1s_refaa,
        |  CAST(b1s_off AS BIGINT) AS b1s_off,
        |  CAST(b1s_arm AS VARCHAR) AS b1s_arm,
        |  CAST(b1s_major AS INT) AS b1s_major,
        |  CAST(b1s_minor AS INT) AS b1s_minor,
        |  CAST(b1e_pos AS BIGINT) AS b1e_pos,
        |  CAST(b2s_pos AS BIGINT) AS b2s_pos,
        |  CAST(b2e_pos AS BIGINT) AS b2e_pos,
        |  CAST(b1_repr AS VARCHAR) AS b1_repr,
        |  CAST(b2_repr AS VARCHAR) AS b2_repr,
        |  CAST(ref_seq AS VARCHAR) AS ref_seq,
        |  CAST(ut_seq AS VARCHAR) AS ut_seq,
        |  CAST(ut_size AS INT) AS ut_size,
        |  CAST(trunc AS INT) AS trunc,
        |  CAST(multi AS BOOLEAN) AS multi
        |FROM (VALUES
        |('KRAS:p.G12D', 'KRAS', NULL, 'p', 'substitution', 12, 'G', NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'p.G12', NULL, 'G', 'D', 1, NULL, FALSE),
        |('p.v600e', NULL, NULL, 'p', 'substitution', 600, 'V', NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'p.V600', NULL, 'V', 'E', 1, NULL, FALSE),
        |('p.G12*', NULL, NULL, 'p', 'substitution', 12, 'G', NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'p.G12', NULL, 'G', '*', 1, NULL, FALSE),
        |('p.*807Gext*101', NULL, NULL, 'p', 'extension', 807, '*', NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'p.*807', NULL, NULL, 'G', 1, 101, FALSE),
        |('EGFR:c.2573T>G', 'EGFR', NULL, 'c', 'substitution', 2573, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'c.2573', NULL, 'T', 'G', 1, NULL, FALSE),
        |('c.100+2spl', NULL, NULL, 'c', 'splice-site', 100, NULL, 2, NULL, NULL, NULL, NULL, NULL, NULL, 'c.100+2', NULL, NULL, NULL, NULL, NULL, FALSE),
        |('c.100-2del', NULL, NULL, 'c', 'deletion', 100, NULL, -2, NULL, NULL, NULL, NULL, NULL, NULL, 'c.100-2', NULL, NULL, NULL, NULL, NULL, FALSE),
        |('c.100_102delTTT', NULL, NULL, 'c', 'deletion', 100, NULL, NULL, NULL, NULL, NULL, NULL, 102, NULL, 'c.100', 'c.102', 'TTT', NULL, NULL, NULL, FALSE),
        |('c.100_101insAAG', NULL, NULL, 'c', 'insertion', 100, NULL, NULL, NULL, NULL, NULL, NULL, 101, NULL, 'c.100', 'c.101', NULL, 'AAG', 3, NULL, FALSE),
        |('c.1_2ins5', NULL, NULL, 'c', 'insertion', 1, NULL, NULL, NULL, NULL, NULL, NULL, 2, NULL, 'c.1', 'c.2', NULL, NULL, 5, NULL, FALSE),
        |('p.E746_T751delinsI', NULL, NULL, 'p', 'indel', 746, 'E', NULL, NULL, NULL, NULL, NULL, 751, NULL, 'p.E746', 'p.T751', NULL, 'I', 1, NULL, FALSE),
        |('p.K558delKinsNP', NULL, NULL, 'p', 'indel', 558, 'K', NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'p.K558', NULL, 'K', 'NP', 2, NULL, FALSE),
        |('p.S193_C196dupSTSC', NULL, NULL, 'p', 'duplication', 193, 'S', NULL, NULL, NULL, NULL, NULL, 196, NULL, 'p.S193', 'p.C196', 'STSC', NULL, NULL, NULL, FALSE),
        |('p.G12fs', NULL, NULL, 'p', 'frameshift', 12, 'G', NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'p.G12', NULL, NULL, NULL, NULL, NULL, FALSE),
        |('p.G12Vfs*3', NULL, NULL, 'p', 'frameshift', 12, 'G', NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'p.G12', NULL, NULL, 'V', 1, 3, FALSE),
        |('p.(G12_G13)mut', NULL, NULL, 'p', 'mutation', 12, 'G', NULL, NULL, NULL, NULL, 13, NULL, NULL, 'p.(G12_G13)', NULL, NULL, NULL, NULL, NULL, FALSE),
        |('p.?755_?759del', NULL, NULL, 'p', 'deletion', 755, '?', NULL, NULL, NULL, NULL, NULL, 759, NULL, 'p.?755', 'p.?759', NULL, NULL, NULL, NULL, FALSE),
        |('y.p26.3_p25.3del', NULL, NULL, 'y', 'deletion', NULL, NULL, NULL, 'p', 26, 3, NULL, NULL, NULL, 'y.p26.3', 'y.p25.3', NULL, NULL, NULL, NULL, FALSE),
        |('y.q22copygain', NULL, NULL, 'y', 'copy gain', NULL, NULL, NULL, 'q', 22, NULL, NULL, NULL, NULL, 'y.q22', NULL, NULL, NULL, NULL, NULL, FALSE),
        |('e.19del', NULL, NULL, 'e', 'deletion', 19, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'e.19', NULL, NULL, NULL, NULL, NULL, FALSE),
        |('e.19mut', NULL, NULL, 'e', 'mutation', 19, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'e.19', NULL, NULL, NULL, NULL, NULL, FALSE),
        |('i.4spl', NULL, NULL, 'i', 'splice-site', 4, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'i.4', NULL, NULL, NULL, NULL, NULL, FALSE),
        |('g.1234567A>T', NULL, NULL, 'g', 'substitution', 1234567, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'g.1234567', NULL, 'A', 'T', 1, NULL, FALSE),
        |('g.123456_123457dup', NULL, NULL, 'g', 'duplication', 123456, NULL, NULL, NULL, NULL, NULL, NULL, 123457, NULL, 'g.123456', 'g.123457', NULL, NULL, NULL, NULL, FALSE),
        |('g.109_110delAAinsTG', NULL, NULL, 'g', 'indel', 109, NULL, NULL, NULL, NULL, NULL, NULL, 110, NULL, 'g.109', 'g.110', 'AA', 'TG', 2, NULL, FALSE),
        |('n.54del', NULL, NULL, 'n', 'deletion', 54, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'n.54', NULL, NULL, NULL, NULL, NULL, FALSE),
        |('r.100_101insAU', NULL, NULL, 'r', 'insertion', 100, NULL, NULL, NULL, NULL, NULL, NULL, 101, NULL, 'r.100', 'r.101', NULL, 'AU', 2, NULL, FALSE),
        |('(EML4,ALK):fusion(e.6,e.20)', 'EML4', 'ALK', NULL, 'fusion', 6, NULL, NULL, NULL, NULL, NULL, NULL, 20, NULL, 'e.6', 'e.20', NULL, NULL, NULL, NULL, TRUE),
        |('trans(g.100,g.200)', NULL, NULL, NULL, 'translocation', 100, NULL, NULL, NULL, NULL, NULL, NULL, 200, NULL, 'g.100', 'g.200', NULL, NULL, NULL, NULL, TRUE),
        |('(BCR,ABL1):fusion(e.13,e.3)TT', 'BCR', 'ABL1', NULL, 'fusion', 13, NULL, NULL, NULL, NULL, NULL, NULL, 3, NULL, 'e.13', 'e.3', NULL, 'TT', 2, NULL, TRUE),
        |('KRAS:p.G12', 'KRAS', NULL, 'p', 'mutation', 12, 'G', NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'p.G12', NULL, NULL, NULL, NULL, NULL, FALSE)) AS t(notation, ref1, ref2, prefix, vtype, b1s_pos, b1s_refaa, b1s_off, b1s_arm, b1s_major, b1s_minor, b1e_pos, b2s_pos, b2e_pos, b1_repr, b2_repr, ref_seq, ut_seq, ut_size, trunc, multi)""".stripMargin,
    "j1_resolve_unique" ->
      """SELECT c_mktsegment AS segment, c_custkey AS best_custkey, c_acctbal AS best_acctbal
        |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
        |        row_number() OVER (PARTITION BY c_mktsegment
        |                           ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |      FROM customer)
        |WHERE rn = 1""".stripMargin,
    "k1_upsert_classify" ->
      """WITH target AS (
        |  SELECT o_orderkey AS id, o_orderstatus AS status, o_totalprice AS total
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |updates AS (
        |  SELECT o_orderkey AS id, o_orderstatus AS status,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS total
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT coalesce(u.id, t.id) AS id,
        |  CASE WHEN u.id IS NOT NULL THEN u.total ELSE t.total END AS total,
        |  CASE WHEN t.id IS NULL THEN 'create'
        |       WHEN u.id IS NULL THEN 'delete'
        |       WHEN (t.status IS DISTINCT FROM u.status)
        |         OR (t.total IS DISTINCT FROM u.total) THEN 'update'
        |       ELSE 'noop' END AS action
        |FROM target t FULL OUTER JOIN updates u ON t.id = u.id""".stripMargin,
    "k2_change_counts" ->
      """WITH target AS (
        |  SELECT o_orderkey AS id, o_orderstatus AS status, o_totalprice AS total
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |updates AS (
        |  SELECT o_orderkey AS id, o_orderstatus AS status,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS total
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |classified AS (
        |  SELECT CASE WHEN t.id IS NULL THEN 'create'
        |              WHEN u.id IS NULL THEN 'delete'
        |              WHEN (t.status IS DISTINCT FROM u.status)
        |                OR (t.total IS DISTINCT FROM u.total) THEN 'update'
        |              ELSE 'noop' END AS action
        |  FROM target t FULL OUTER JOIN updates u ON t.id = u.id)
        |SELECT action, count(*) AS n FROM classified GROUP BY 1""".stripMargin,
    "j12_diff_tiers" ->
      """WITH incoming AS (
        |  SELECT o_orderkey AS iid, o_custkey AS cust, o_orderpriority AS prio
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |existing AS (
        |  SELECT o_orderkey AS eid, o_custkey AS cust, o_orderpriority AS prio
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |li1 AS (SELECT iid, cust, prio,
        |          row_number() OVER (PARTITION BY cust, prio ORDER BY iid) AS z FROM incoming),
        |le1 AS (SELECT eid, cust, prio,
        |          row_number() OVER (PARTITION BY cust, prio ORDER BY eid) AS z FROM existing),
        |m1 AS (SELECT li1.iid, le1.eid FROM li1 JOIN le1
        |        ON li1.cust = le1.cust AND li1.prio = le1.prio AND li1.z = le1.z),
        |ir1 AS (SELECT * FROM incoming WHERE iid NOT IN (SELECT iid FROM m1)),
        |er1 AS (SELECT * FROM existing WHERE eid NOT IN (SELECT eid FROM m1)),
        |li2 AS (SELECT iid, cust,
        |          row_number() OVER (PARTITION BY cust ORDER BY iid) AS z FROM ir1),
        |le2 AS (SELECT eid, cust,
        |          row_number() OVER (PARTITION BY cust ORDER BY eid) AS z FROM er1),
        |m2 AS (SELECT li2.iid, le2.eid FROM li2 JOIN le2
        |        ON li2.cust = le2.cust AND li2.z = le2.z),
        |ir2 AS (SELECT * FROM ir1 WHERE iid NOT IN (SELECT iid FROM m2)),
        |er2 AS (SELECT * FROM er1 WHERE eid NOT IN (SELECT eid FROM m2)),
        |li3 AS (SELECT iid, row_number() OVER (ORDER BY iid) AS z FROM ir2),
        |le3 AS (SELECT eid, row_number() OVER (ORDER BY eid) AS z FROM er2),
        |m3 AS (SELECT li3.iid, le3.eid FROM li3 JOIN le3 ON li3.z = le3.z)
        |SELECT iid AS incoming_id, eid AS existing_id, 'match' AS bucket, 1 AS tier FROM m1
        |UNION ALL SELECT iid, eid, 'match', 2 FROM m2
        |UNION ALL SELECT iid, eid, 'match', 3 FROM m3
        |UNION ALL SELECT iid, NULL, 'create', NULL FROM ir2
        |  WHERE iid NOT IN (SELECT iid FROM m3)
        |UNION ALL SELECT NULL, eid, 'delete', NULL FROM er2
        |  WHERE eid NOT IN (SELECT eid FROM m3)""".stripMargin,
  )
}
