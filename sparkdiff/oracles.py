"""DuckDB oracle SQL — one entry per key in ``sparkdiff.queries.QUERIES``.

Each statement runs on the driver's pre-registered parquet views
(``region nation customer supplier part orders lineitem events documents
embeddings``) and must hash-match the Spark result: same column names,
same (order-insensitive) values.
"""

from __future__ import annotations

from sparkdiff.functions.text import sql_tokens
from sparkdiff.plans.parity import (
    ORACLE_HIVE_RESULT,
    ORACLE_SF_RESULT,
    PARITY_BASE_CTES,
)
from sparkdiff.functions.textstats import sql_lang_id, sql_quality_score
from sparkdiff.testkit import LINEITEM_PAIR_SQL_CTES, PAIR_SQL_CTES


def _li_fp(alias: str) -> str:
    """md5 canonical row fingerprint for the lineitem pair (must mirror
    functions/canonical.py exactly: decimal(18,4) doubles, second-
    precision timestamps, NULL sentinel, \\x1f separator)."""
    canon = {
        "l_partkey": "CAST({c} AS VARCHAR)",
        "l_suppkey": "CAST({c} AS VARCHAR)",
        "l_quantity": "CAST(CAST({c} AS DECIMAL(18,4)) AS VARCHAR)",
        "l_extendedprice": "CAST(CAST({c} AS DECIMAL(18,4)) AS VARCHAR)",
        "l_discount": "CAST(CAST({c} AS DECIMAL(18,4)) AS VARCHAR)",
        "l_tax": "CAST(CAST({c} AS DECIMAL(18,4)) AS VARCHAR)",
        "l_returnflag": "CAST({c} AS VARCHAR)",
        "l_linestatus": "CAST({c} AS VARCHAR)",
        "l_shipdate": "strftime({c}, '%Y-%m-%d %H:%M:%S')",
    }
    parts = ", ".join(
        f"COALESCE({tpl.format(c=alias + '.' + c)}, 'NULL')"
        for c, tpl in canon.items()
    )
    return f"md5(concat_ws(chr(31), {parts}))"

_QTERMS = ("slow", "error", "merge")
_HITS = " + ".join(
    f"(CASE WHEN contains(lower(text), '{t}') THEN 1 ELSE 0 END)" for t in _QTERMS
)
_QLIST = "[" + ", ".join(f"'{t}'" for t in _QTERMS) + "]"

_CANON_NAME_H = "COALESCE(CAST(h.c_name AS VARCHAR), 'NULL')"
_CANON_NAME_S = "COALESCE(CAST(s.c_name AS VARCHAR), 'NULL')"
_CANON_NK_H = "COALESCE(CAST(h.c_nationkey AS VARCHAR), 'NULL')"
_CANON_NK_S = "COALESCE(CAST(s.c_nationkey AS VARCHAR), 'NULL')"
_CANON_BAL_H = "COALESCE(CAST(CAST(h.c_acctbal AS DECIMAL(18,4)) AS VARCHAR), 'NULL')"
_CANON_BAL_S = "COALESCE(CAST(CAST(s.c_acctbal AS DECIMAL(18,4)) AS VARCHAR), 'NULL')"

ORACLES: dict[str, str] = {
    "q01_pricing_summary": """
        SELECT
            l_returnflag,
            l_linestatus,
            SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS sum_qty,
            SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 AS sum_base_price,
            SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) / 10000.0 AS sum_disc_price,
            SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
                * (100 + CAST(round(l_tax * 100, 0) AS BIGINT))) / 1000000.0 AS sum_charge,
            CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
                / (COUNT(*) * 100.0) AS avg_qty,
            CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
                / (COUNT(*) * 100.0) AS avg_price,
            COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q02_presence_diff": f"""
        WITH {PAIR_SQL_CTES}
        SELECT CAST(c_custkey AS VARCHAR) AS pk_value, 'hive_only' AS side
        FROM hive WHERE c_custkey NOT IN (SELECT c_custkey FROM sf)
        UNION ALL
        SELECT CAST(c_custkey AS VARCHAR) AS pk_value, 'sf_only' AS side
        FROM sf WHERE c_custkey NOT IN (SELECT c_custkey FROM hive)
    """,
    "q03_cell_diff": f"""
        WITH {PAIR_SQL_CTES},
        j AS (
            SELECT
                CAST(h.c_custkey AS VARCHAR) AS pk_value,
                {_CANON_NAME_H} AS h_name, {_CANON_NAME_S} AS s_name,
                {_CANON_NK_H} AS h_nk, {_CANON_NK_S} AS s_nk,
                {_CANON_BAL_H} AS h_bal, {_CANON_BAL_S} AS s_bal
            FROM hive h JOIN sf s ON h.c_custkey = s.c_custkey
        )
        SELECT pk_value, 'c_name' AS column_name, h_name AS hive_value, s_name AS sf_value
        FROM j WHERE h_name <> s_name
        UNION ALL
        SELECT pk_value, 'c_nationkey', h_nk, s_nk FROM j WHERE h_nk <> s_nk
        UNION ALL
        SELECT pk_value, 'c_acctbal', h_bal, s_bal FROM j WHERE h_bal <> s_bal
    """,
    "q04_metrics_summary": f"""
        WITH {PAIR_SQL_CTES},
        flags AS (
            SELECT
                CAST(COALESCE(h.c_custkey, s.c_custkey) AS VARCHAR) AS pk_value,
                (h.c_custkey IS NOT NULL) AS in_h,
                (s.c_custkey IS NOT NULL) AS in_s,
                (h.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
                 AND ({_CANON_NAME_H} <> {_CANON_NAME_S}
                      OR {_CANON_NK_H} <> {_CANON_NK_S}
                      OR {_CANON_BAL_H} <> {_CANON_BAL_S})) AS mismatch
            FROM hive h FULL OUTER JOIN sf s ON h.c_custkey = s.c_custkey
        )
        SELECT
            'customer' AS table_name,
            'c_custkey' AS primary_column,
            CAST(SUM(CASE WHEN in_h THEN 1 ELSE 0 END) AS BIGINT) AS total_record_count_hive,
            CAST(SUM(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS total_record_count_sf,
            CAST(SUM(CASE WHEN in_h AND NOT in_s THEN 1 ELSE 0 END) AS BIGINT) AS row_count_only_in_hive,
            COALESCE(string_agg(CASE WHEN in_h AND NOT in_s THEN pk_value END, ','
                                ORDER BY CASE WHEN in_h AND NOT in_s THEN pk_value END), '')
                AS hive_only_pks,
            CAST(SUM(CASE WHEN in_s AND NOT in_h THEN 1 ELSE 0 END) AS BIGINT) AS row_count_only_in_sf,
            COALESCE(string_agg(CASE WHEN in_s AND NOT in_h THEN pk_value END, ','
                                ORDER BY CASE WHEN in_s AND NOT in_h THEN pk_value END), '')
                AS sf_only_pks,
            CAST(SUM(CASE WHEN mismatch THEN 1 ELSE 0 END) AS BIGINT) AS row_count_data_discrepancy
        FROM flags
    """,
    "q05_rownum_dedup": """
        SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
               CAST(o_orderdate AS DATE) AS o_orderdate
        FROM (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY (CASE WHEN o_orderpriority LIKE '1-%' THEN 3
                                      WHEN o_orderpriority LIKE '2-%' THEN 2
                                      ELSE 1 END) DESC,
                                o_orderdate DESC, o_orderkey DESC) AS rwn
            FROM orders
        ) WHERE rwn = 1
    """,
    "q06_union_dedup_workload": """
        WITH unioned AS (
            SELECT c.c_custkey, c.c_name, o.o_orderdate AS last_ts,
                   o.o_orderkey AS tie
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
            UNION ALL
            SELECT c.c_custkey, c.c_name, NULL AS last_ts, -1 AS tie
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        )
        SELECT c_custkey, c_name, CAST(last_ts AS DATE) AS last_orderdate
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_custkey
                ORDER BY last_ts DESC NULLS LAST, tie DESC) AS rwn
            FROM unioned
        ) WHERE rwn = 1
    """,
    "q07_expr_join": """
        SELECT n.n_name, COUNT(*) AS n_pairs
        FROM customer c
        JOIN supplier s
          ON c.c_nationkey = s.s_nationkey
         AND upper(substring(c.c_name, 10, 3)) = upper(substring(s.s_name, 10, 3))
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    "q08_argmax": """
        SELECT o_custkey, o_orderstatus AS last_status,
               CAST(o_orderdate AS DATE) AS last_orderdate
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rwn
            FROM orders
        ) WHERE rwn = 1
    """,
    "q09_conditional_agg": """
        SELECT o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
               COUNT(*) AS n_total,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS DOUBLE) AS total_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    "q10_histogram": """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY event_type
    """,
    "q11_argmax_histogram": """
        SELECT event_type, COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY n DESC, event_type ASC
        LIMIT 1
    """,
    "q12_topk_per_group": """
        SELECT o_custkey, o_orderkey, o_totalprice, rank
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS INTEGER) AS rank
            FROM orders
        ) WHERE rank <= 3
    """,
    "q13_minmax_rollup": """
        SELECT l_partkey,
               CAST(MIN(l_shipdate) AS DATE) AS first_ship,
               CAST(MAX(l_shipdate) AS DATE) AS last_ship,
               MIN(l_quantity) AS min_qty,
               MAX(l_quantity) AS max_qty,
               COUNT(*) AS n_items
        FROM lineitem
        GROUP BY l_partkey
    """,
    "q14_distinct_agg": """
        SELECT COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(DISTINCT o_orderstatus) AS n_statuses,
               COUNT(DISTINCT o_orderpriority) AS n_priorities,
               COUNT(*) AS n_orders
        FROM orders
    """,
    "q15_keyword_score": f"""
        SELECT doc_id, n_hits,
               CAST(n_hits * 10
                    + (CASE WHEN source IN ('src1','src2') THEN 5 ELSE 0 END)
                    AS BIGINT) AS score
        FROM (
            SELECT doc_id, source, CAST({_HITS} AS BIGINT) AS n_hits
            FROM documents
        )
        WHERE n_hits > 0
    """,
    "q16_jaccard_pairs": f"""
        WITH toks AS (
            SELECT doc_id, list_distinct({sql_tokens('text')}) AS t
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CASE WHEN len(list_distinct(list_concat(a.t, b.t))) = 0 THEN 0.0
                    ELSE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                         / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE)
               END AS jaccard
        FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 250
    """,
    "q17_token_stats": """
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    t -> length(t) > 0)) AS BIGINT) AS n_ws_tokens,
               CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    t -> length(t) > 0))
                    + length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
                    AS BIGINT) AS n_bpe_tokens,
               CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        t -> length(t) >= 3 AND NOT list_contains(
                            ['the','a','an','and','or','of','in','to','is','it',
                             'for','on','with','as','at','by','be','this','that','are'], t)))
                    AS BIGINT) AS n_content_tokens,
               CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
                   / greatest(CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                        t -> length(t) > 0)) AS DOUBLE), 1.0)
                   AS mean_token_len
        FROM documents
    """,
    "q18_quality_score": f"""
        SELECT doc_id, source, {sql_quality_score('text')} AS quality
        FROM documents
    """,
    "q19_exact_dedup": """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0
        )
        SELECT md5(text) AS fp,
               COUNT(*) AS n_copies,
               MIN(doc_id) AS canonical_id,
               string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY CAST(doc_id AS VARCHAR)) AS ids
        FROM corpus
        GROUP BY md5(text)
        HAVING COUNT(*) > 1
    """,
    "q20_fingerprint_dedup": """
        SELECT doc_id, fp,
               MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
               doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_canonical
        FROM (
            SELECT doc_id,
                   md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
            FROM documents
        )
    """,
    "q21_relevance_blend": f"""
        WITH scored AS (
            SELECT doc_id,
                   list_distinct({sql_tokens('text')}) AS t,
                   CAST({_HITS} AS DOUBLE) / 3.0 AS kw,
                   (CASE WHEN source IN ('src1','src2') THEN 1.0
                         WHEN source IN ('src3','src4') THEN 0.9
                         ELSE 0.3 END) AS sw,
                   greatest(0.0, 1.0 - CAST(doc_id % 1000 AS DOUBLE) / 730.0) AS rec
            FROM documents
        )
        SELECT doc_id,
               (0.5 * (CASE WHEN len(list_distinct(list_concat(t, {_QLIST}))) = 0 THEN 0.0
                            ELSE CAST(len(list_intersect(t, {_QLIST})) AS DOUBLE)
                                 / CAST(len(list_distinct(list_concat(t, {_QLIST}))) AS DOUBLE)
                        END)
                + 0.3 * kw
                + 0.2 * ((sw + rec) / 2.0)) * 100.0 AS relevance
        FROM scored
    """,
    "q22_snippet_window": """
        SELECT doc_id,
               CAST(strpos(lower(text), 'slow') AS BIGINT) AS hit_pos,
               substr(text, greatest(1, strpos(lower(text), 'slow') - 30), 60) AS snippet
        FROM documents
        WHERE strpos(lower(text), 'slow') > 0
    """,
    "q23_lang_id": f"""
        SELECT lang, {sql_lang_id('text')} AS predicted, COUNT(*) AS n_docs
        FROM documents
        GROUP BY lang, {sql_lang_id('text')}
    """,
    "q24_cosine_topk": """
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 10
        ),
        c AS (
            SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id % 5 = 0
        ),
        scored AS (
            SELECT query_id, corpus_id,
                   list_reduce(
                       list_prepend(0.0, list_transform(
                           generate_series(1, len(qv)), i -> qv[i] * cv[i])),
                       (acc, x) -> acc + x) AS d,
                   sqrt(list_reduce(
                       list_prepend(0.0, list_transform(qv, x -> x * x)),
                       (acc, x) -> acc + x)) AS nq,
                   sqrt(list_reduce(
                       list_prepend(0.0, list_transform(cv, x -> x * x)),
                       (acc, x) -> acc + x)) AS nc
            FROM c, q
        ),
        cos AS (
            SELECT query_id, corpus_id,
                   CASE WHEN nq = 0 OR nc = 0 THEN 0.0
                        ELSE d / (nq * nc) END AS cosine
            FROM scored
        )
        SELECT query_id, corpus_id, cosine, rank
        FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, corpus_id ASC) AS INTEGER) AS rank
            FROM cos
        ) WHERE rank <= 3
    """,
    "q26_ngram_jaccard_dups": """
        WITH norm AS (
            SELECT doc_id,
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS nt
            FROM documents
            WHERE doc_id % 10 = 0
        ),
        sh AS (
            -- mirror the Spark branches: content-free docs (whitespace-
            -- only after normalization) get no shingles; short docs
            -- shingle to [norm]
            SELECT doc_id,
                   CASE WHEN length(trim(nt)) = 0 THEN CAST([] AS VARCHAR[])
                        WHEN length(nt) < 3 THEN [nt]
                        ELSE list_distinct(list_transform(
                            generate_series(1, length(nt) - 2),
                            i -> substr(nt, i, 3)))
                   END AS s
            FROM norm
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                    ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
               END AS jaccard
        FROM sh a JOIN sh b
          ON a.doc_id < b.doc_id AND b.doc_id <= a.doc_id + 100
        WHERE (CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                    ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
               END) >= 0.25
    """,
    "q28_time_buckets": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    "q29_sessionize": """
        WITH gaps AS (
            SELECT user_id,
                   epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap
            FROM events
        )
        SELECT user_id,
               CAST(SUM(CASE WHEN gap IS NULL OR gap > 30 * 60 * 1000
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM gaps
        GROUP BY user_id
    """,
    "q30_keepmax_dedup": """
        SELECT user_id, event_id, value, event_type
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY value DESC, event_id DESC) AS rwn
            FROM events
        ) WHERE rwn = 1
    """,
    "q31_json_props": """
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_k_gt50
        FROM events
        GROUP BY event_type
    """,
    "q32_date_arithmetic": """
        SELECT o_orderkey,
               epoch_ms(o_orderdate) AS epoch_ms,
               CAST(make_timestamp((epoch_ms(o_orderdate) // 1000) * 1000000)
                    AS DATE) AS as_date,
               o_orderdate + INTERVAL 1 SECOND AS plus_1s
        FROM orders
        WHERE o_orderkey % 100 = 0
    """,
    "q33_macro_workload": f"""
        WITH {PARITY_BASE_CTES}
        {ORACLE_HIVE_RESULT}
    """,
    "q34_script_pair_diff": f"""
        WITH {PARITY_BASE_CTES},
        h AS ({ORACLE_HIVE_RESULT}),
        s AS ({ORACLE_SF_RESULT}),
        percol AS (
            SELECT 'Source' AS column_name, COUNT(DISTINCT h.ID) AS n_ids
            FROM h JOIN s ON h.ID = s.ID
            WHERE COALESCE(CAST(h.Source AS VARCHAR),'NULL')
                  <> COALESCE(CAST(s.Source AS VARCHAR),'NULL')
            UNION ALL
            SELECT 'SourceCustomerNumber', COUNT(DISTINCT h.ID)
            FROM h JOIN s ON h.ID = s.ID
            WHERE COALESCE(CAST(h.SourceCustomerNumber AS VARCHAR),'NULL')
                  <> COALESCE(CAST(s.SourceCustomerNumber AS VARCHAR),'NULL')
            UNION ALL
            SELECT 'LastName', COUNT(DISTINCT h.ID)
            FROM h JOIN s ON h.ID = s.ID
            WHERE COALESCE(CAST(h.LastName AS VARCHAR),'NULL')
                  <> COALESCE(CAST(s.LastName AS VARCHAR),'NULL')
            UNION ALL
            SELECT 'RowModified', COUNT(DISTINCT h.ID)
            FROM h JOIN s ON h.ID = s.ID
            WHERE COALESCE(CAST(h.RowModified AS VARCHAR),'NULL')
                  <> COALESCE(CAST(s.RowModified AS VARCHAR),'NULL')
            UNION ALL
            SELECT 'Batch', COUNT(DISTINCT h.ID)
            FROM h JOIN s ON h.ID = s.ID
            WHERE COALESCE(CAST(h.Batch AS VARCHAR),'NULL')
                  <> COALESCE(CAST(s.Batch AS VARCHAR),'NULL')
        )
        SELECT column_name, n_ids FROM percol WHERE n_ids > 0
    """,
    "q35_entity_extraction": r"""
        WITH enriched AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' PROJ-' || CAST(doc_id AS VARCHAR)
                        ELSE text END AS text2
            FROM documents
        )
        SELECT doc_id,
               array_to_string(list_sort(list_distinct(
                   regexp_extract_all(text2, '\b[A-Z][A-Z0-9]{1,9}-\d+\b'))), ',') AS keys,
               CAST(len(list_distinct(
                   regexp_extract_all(text2, '\b[A-Z][A-Z0-9]{1,9}-\d+\b'))) AS BIGINT) AS n_keys
        FROM enriched
        WHERE len(regexp_extract_all(text2, '\b[A-Z][A-Z0-9]{1,9}-\d+\b')) > 0
    """,
    "q36_word_boundary_classify": r"""
        SELECT doc_id,
               (contains(lower(text), 'error') OR contains(lower(text), 'exception')
                OR contains(lower(text), 'failed') OR contains(lower(text), 'failure')
                OR contains(lower(text), 'timeout') OR contains(lower(text), 'crash')) AS has_error,
               (contains(lower(text), 'fixed') OR contains(lower(text), 'resolved')
                OR contains(lower(text), 'solution') OR contains(lower(text), 'workaround')
                OR contains(lower(text), 'patch') OR contains(lower(text), 'solved')
                OR contains(lower(text), 'root cause') OR contains(lower(text), 'mitigation')) AS has_solution
        FROM documents
        WHERE regexp_matches(text, '\bmerge\b')
    """,
    "q37_source_insights": """
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
               CAST(SUM(CASE WHEN contains(lower(text), 'error') THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS error_rate
        FROM documents
        GROUP BY source
    """,
    "q38_metrics_discovery": """
        WITH m(id, table_name, primary_column, h, s, oh, hpk, os, spk, dd, dpk) AS (
            VALUES
            (1,'CUSTOMER','ID',1500,1500,0,CAST([] AS VARCHAR[]),0,CAST([] AS VARCHAR[]),1,['FTP_CSV_11']),
            (2,'TRANSACTION','ID',408623,408653,1,['FTP_CSV_12'],31,['KFK_0'],375448,['FTP_CSV_11']),
            (3,'EMPTYTABLE','ID',0,0,0,CAST([] AS VARCHAR[]),0,CAST([] AS VARCHAR[]),0,CAST([] AS VARCHAR[])),
            (4,'CLEANTABLE','ID',10,10,0,CAST([] AS VARCHAR[]),0,CAST([] AS VARCHAR[]),0,CAST([] AS VARCHAR[]))
        )
        SELECT table_name,
               CAST(h AS BIGINT) AS total_record_count_hive,
               CAST(s AS BIGINT) AS total_record_count_sf,
               array_to_string(dpk, ',') AS discrepancy_pks
        FROM m
        WHERE (h > 0 OR s > 0)
          AND (len(hpk) > 0 OR len(spk) > 0 OR len(dpk) > 0)
        ORDER BY table_name
    """,
    "q39_function_surface": """
        SELECT c_custkey,
               CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
               CAST(instr(c_name, '0') AS BIGINT) AS zero_pos,
               sha256(c_name) AS name_sha256,
               md5(c_name) AS name_md5,
               split_part(c_name, '#', 2) AS num_part,
               CAST(COALESCE(list_position(
                   string_split('BUILDING,AUTOMOBILE,MACHINERY,HOUSEHOLD,FURNITURE', ','),
                   c_mktsegment), 0) AS BIGINT) AS segment_slot,
               c_name AS decoded_name,
               CASE WHEN c_acctbal >= 0 THEN 'pos' ELSE 'neg' END AS bal_sign,
               trim(COALESCE(c_mktsegment, '')) AS segment
        FROM customer
        WHERE c_custkey % 50 = 0
    """,
    "q40_change_detection": f"""
        WITH {PAIR_SQL_CTES},
        sp AS (
            SELECT CAST(c_custkey AS VARCHAR) AS pk_value,
                   md5(concat_ws(chr(31),
                       COALESCE(CAST(c_name AS VARCHAR), 'NULL'),
                       COALESCE(CAST(c_nationkey AS VARCHAR), 'NULL'),
                       COALESCE(CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS VARCHAR), 'NULL')
                   )) AS sparse_fp
            FROM sf
        ),
        dw AS (
            SELECT CAST(c_custkey AS VARCHAR) AS pk_value,
                   md5(concat_ws(chr(31),
                       COALESCE(CAST(c_name AS VARCHAR), 'NULL'),
                       COALESCE(CAST(c_nationkey AS VARCHAR), 'NULL'),
                       COALESCE(CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS VARCHAR), 'NULL')
                   )) AS dw_fp
            FROM hive
        )
        SELECT sp.pk_value, sp.sparse_fp, COALESCE(dw.dw_fp, 'MISSING') AS dw_fp
        FROM sp LEFT JOIN dw ON sp.pk_value = dw.pk_value
        WHERE dw.dw_fp IS NULL OR sp.sparse_fp <> dw.dw_fp
    """,
    "q41_rollup": """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n,
               SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    "q42_set_ops": """
        WITH open_c AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             filled_c AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        SELECT 'both' AS tag, o_custkey FROM (
            SELECT o_custkey FROM open_c INTERSECT SELECT o_custkey FROM filled_c
        )
        UNION ALL
        SELECT 'only_open', o_custkey FROM (
            SELECT o_custkey FROM open_c EXCEPT SELECT o_custkey FROM filled_c
        )
    """,
    "q43_window_suite": """
        SELECT o_custkey, o_orderkey,
               CAST(dense_rank() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS price_rank,
               CAST(lag(o_orderdate) OVER w_time AS DATE) AS prev_date,
               CAST(lead(o_orderdate) OVER w_time AS DATE) AS next_date,
               SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
                   AS running_total,
               CAST(ntile(4) OVER w_time AS BIGINT) AS quartile
        FROM orders
        WHERE o_custkey % 20 = 0
        WINDOW w_time AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q44_asof_join": """
        WITH clicks AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
        ),
        errors AS (
            SELECT user_id, ts, err_event_id, err_value FROM (
                SELECT user_id, ts, event_id AS err_event_id, value AS err_value,
                       row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type = 'error'
            ) WHERE rn = 1
        )
        SELECT c.user_id, c.event_id, e.err_event_id, e.err_value
        FROM clicks c
        ASOF LEFT JOIN errors e
          ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
    "q45_pivot": """
        SELECT o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
        FROM orders
        GROUP BY o_orderpriority
    """,
    "q46_lineitem_diff": f"""
        WITH {LINEITEM_PAIR_SQL_CTES},
        h AS (SELECT li_pk AS pk, {_li_fp('hive_li')} AS fp_h FROM hive_li),
        s AS (SELECT li_pk AS pk, {_li_fp('sf_li')} AS fp_s FROM sf_li)
        SELECT
            CAST(SUM(CASE WHEN fp_h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_record_count_hive,
            CAST(SUM(CASE WHEN fp_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_record_count_sf,
            CAST(SUM(CASE WHEN fp_s IS NULL AND fp_h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS row_count_only_in_hive,
            CAST(SUM(CASE WHEN fp_h IS NULL AND fp_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS row_count_only_in_sf,
            CAST(SUM(CASE WHEN fp_h IS NOT NULL AND fp_s IS NOT NULL AND fp_h <> fp_s
                     THEN 1 ELSE 0 END) AS BIGINT) AS row_count_data_discrepancy,
            MIN(CASE WHEN fp_h IS NOT NULL AND fp_s IS NOT NULL AND fp_h <> fp_s
                     THEN pk END) AS min_discrepant_pk,
            MAX(CASE WHEN fp_h IS NOT NULL AND fp_s IS NOT NULL AND fp_h <> fp_s
                     THEN pk END) AS max_discrepant_pk
        FROM h FULL OUTER JOIN s USING (pk)
    """,
    "q47_shipping_priority": """
        SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
               SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))) / 10000.0
                   AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
    "q48_local_supplier_volume": """
        SELECT n.n_name,
               SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))) / 10000.0
                   AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE c.c_nationkey = s.s_nationkey
        GROUP BY n.n_name
    """,
    "q49_chunking": """
        SELECT d.doc_id,
               CAST((s - 1) // 450 AS BIGINT) AS chunk_idx,
               substr(d.text, CAST(s AS INTEGER), 500) AS chunk,
               CAST(length(substr(d.text, CAST(s AS INTEGER), 500)) AS BIGINT) AS chunk_len
        FROM documents d,
             UNNEST(generate_series(1, greatest(length(d.text), 1), 450)) AS g(s)
    """,
    # q50 mirrors operators/quantiles.py's distribution method verbatim
    # (same IEEE expression tree as Spark's Percentile interpolation:
    # pos = p*(n-1), result = (ceil(pos)-pos)*v_lo + (pos-floor(pos))*v_hi,
    # frac==0 -> v_lo) rather than using quantile_cont, whose internal
    # blend order is not guaranteed bit-identical.
    "q50_quantiles": """
        WITH qty AS (
            SELECT l_returnflag, l_quantity AS v, COUNT(*) AS c
            FROM lineitem WHERE l_quantity IS NOT NULL
            GROUP BY l_returnflag, l_quantity
        ),
        qty_dist AS (
            SELECT l_returnflag, v,
                   SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
                   SUM(c) OVER (PARTITION BY l_returnflag) AS n
            FROM qty
        ),
        qty_agg AS (
            SELECT l_returnflag,
                   CAST(MIN(CASE WHEN cum >= floor(CAST(0.5 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) + 1 THEN v END) AS DOUBLE) AS p50_lo,
                   CAST(MIN(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) + 1 THEN v END) AS DOUBLE) AS p50_hi,
                   MIN(CAST(0.5 AS DOUBLE) * CAST(n - 1 AS DOUBLE) - floor(CAST(0.5 AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS p50_frac,
                   MIN(ceil(CAST(0.5 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) - CAST(0.5 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS p50_cofrac,
                   CAST(MIN(CASE WHEN cum >= floor(CAST(0.9 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) + 1 THEN v END) AS DOUBLE) AS p90_lo,
                   CAST(MIN(CASE WHEN cum >= ceil(CAST(0.9 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) + 1 THEN v END) AS DOUBLE) AS p90_hi,
                   MIN(CAST(0.9 AS DOUBLE) * CAST(n - 1 AS DOUBLE) - floor(CAST(0.9 AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS p90_frac,
                   MIN(ceil(CAST(0.9 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) - CAST(0.9 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS p90_cofrac,
                   CAST(MAX(n) AS BIGINT) AS n
            FROM qty_dist
            GROUP BY l_returnflag
        ),
        price AS (
            SELECT l_returnflag, l_extendedprice AS v, COUNT(*) AS c
            FROM lineitem WHERE l_extendedprice IS NOT NULL
            GROUP BY l_returnflag, l_extendedprice
        ),
        price_dist AS (
            SELECT l_returnflag, v,
                   SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
                   SUM(c) OVER (PARTITION BY l_returnflag) AS n
            FROM price
        ),
        price_agg AS (
            SELECT l_returnflag,
                   CAST(MIN(CASE WHEN cum >= floor(CAST(0.25 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) + 1 THEN v END) AS DOUBLE) AS p25_lo,
                   CAST(MIN(CASE WHEN cum >= ceil(CAST(0.25 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) + 1 THEN v END) AS DOUBLE) AS p25_hi,
                   MIN(CAST(0.25 AS DOUBLE) * CAST(n - 1 AS DOUBLE) - floor(CAST(0.25 AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS p25_frac,
                   MIN(ceil(CAST(0.25 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) - CAST(0.25 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS p25_cofrac
            FROM price_dist
            GROUP BY l_returnflag
        )
        SELECT q.l_returnflag,
               CASE WHEN p50_frac = 0 THEN p50_lo ELSE p50_cofrac * p50_lo + p50_frac * p50_hi END AS p50_qty,
               CASE WHEN p90_frac = 0 THEN p90_lo ELSE p90_cofrac * p90_lo + p90_frac * p90_hi END AS p90_qty,
               CASE WHEN p25_frac = 0 THEN p25_lo ELSE p25_cofrac * p25_lo + p25_frac * p25_hi END AS p25_price,
               q.n
        FROM qty_agg q JOIN price_agg p ON q.l_returnflag = p.l_returnflag
    """,
}


def _md5_token_hash(expr: str) -> str:
    """DuckDB twin of ``operators.dedup.token_hash(..., 'md5')``: a 60-bit
    positive integer from the first 15 hex chars of the md5 digest
    (``conv(substr(md5(t),1,15),16,10)`` on the Spark side)."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


#: q25's perturbed corpus: every 25th doc re-inserted with a suffix.
_Q25_BASE_SQL = """
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 20000 AS doc_id, text || ' extra suffix words' AS text
            FROM documents WHERE doc_id % 25 = 0
"""


def _minhash_oracle(
    base_sql: str = _Q25_BASE_SQL,
    cand_cond: str = "a.doc_id < b.doc_id",
    out_a: str = "id_a",
    out_b: str = "id_b",
) -> str:
    """Replay the full shingle→signature→band→verify MinHash-LSH
    pipeline in SQL over ``base_sql`` (a doc_id/text relation), with a
    pluggable candidate-pair condition (q25: ordered self-pairs; q72:
    cross-side corpus×batch pairs only).

    The 64 permutation coefficients are imported from the SAME generator
    the Spark operator uses (``_lcg_coefficients``), so the two sides stay
    in lockstep by construction.
    """
    from sparkdiff.operators.dedup import MERSENNE_PRIME, _lcg_coefficients

    p = MERSENNE_PRIME
    num_perm, bands = 64, 16
    rows = num_perm // bands
    mins = ",\n               ".join(
        f"MIN((h * {a} + {b}) % {p}) AS m{j}"
        for j, (a, b) in enumerate(_lcg_coefficients(num_perm))
    )
    band_structs = ",\n                   ".join(
        "struct_pack(band := {i}, key := md5(concat_ws(',', {cols})))".format(
            i=i, cols=", ".join(f"m{i * rows + j}" for j in range(rows))
        )
        for i in range(bands)
    )
    return f"""
        WITH base AS (
            {base_sql}
        ),
        toks AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                       t -> length(t) > 0) AS tk
            FROM base
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(CASE
                       WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
                       WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                       ELSE list_transform(
                           range(1, len(tk) - 1),
                           i -> array_to_string(list_slice(tk, i, i + 2), ' '))
                   END) AS sh
            FROM toks
        ),
        tok_rows AS (SELECT doc_id, unnest(sh) AS t FROM sh),
        hashes AS (
            SELECT doc_id, {_md5_token_hash('t')} % {p} AS h FROM tok_rows
        ),
        sigs AS (
            SELECT doc_id,
               {mins}
            FROM hashes GROUP BY doc_id
        ),
        band_rows AS (
            SELECT doc_id,
                   unnest([{band_structs}]) AS bk
            FROM sigs
        ),
        band_keys AS (SELECT doc_id, bk.band AS band, bk.key AS key FROM band_rows),
        cands AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM band_keys a
            JOIN band_keys b ON a.band = b.band AND a.key = b.key
            WHERE {cand_cond}
        ),
        verified AS (
            SELECT c.id_a, c.id_b,
                   len(list_intersect(sa.sh, sb.sh)) AS i,
                   len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS u
            FROM cands c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b
        )
        SELECT id_a AS {out_a}, id_b AS {out_b},
               CASE WHEN u = 0 THEN 0.0 ELSE CAST(i AS DOUBLE) / u END AS jaccard
        FROM verified
        WHERE (CASE WHEN u = 0 THEN 0.0 ELSE CAST(i AS DOUBLE) / u END) >= 0.6
    """


def _simhash_oracle() -> str:
    """Replay q27's per-bit-vote SimHash in SQL (md5 token hash → 60
    usable bits; bits 60-63 always vote negative, matching Spark)."""
    votes = ",\n               ".join(
        f"SUM(CAST((h >> {i}) & 1 AS BIGINT) * 2 - 1) AS b{i}" for i in range(64)
    )
    sig = "\n                 + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE CAST(0 AS BIGINT) END)"
        for i in range(64)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({sql_tokens('text')}) AS t FROM documents
        ),
        hashes AS (SELECT doc_id, {_md5_token_hash('t')} AS h FROM toks),
        votes AS (
            SELECT doc_id,
               {votes}
            FROM hashes GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id,
                   CAST({sig} AS BIGINT) AS simhash
            FROM votes
        )
        SELECT d.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN sig s USING (doc_id)
    """


def _embedding_neardup_oracle() -> str:
    """Replay q51's SRP-LSH pipeline: same plane literals (imported from
    the same generator), same left-fold dot-product order (the numpy
    accumulation in ``_srp_band_keys_udf`` is dimension-sequential, i.e.
    the ``list_prepend(0.0, …)`` fold exactly), same verify formula."""
    from sparkdiff.operators.similarity import _deterministic_planes

    bands, rows_per_band, dim = 6, 12, 64
    planes = _deterministic_planes(bands * rows_per_band, dim)

    def fold_dot(vec: str, coefs: list[float]) -> str:
        # flat left-associated sum: bit-identical to the 0.0-seeded fold
        # (0.0 + x == x for the sign test) and ~100x faster in DuckDB
        # than a lambda fold with a per-element list-literal index
        return "(" + " + ".join(
            f"{vec}[{i + 1}] * {float(c)!r}" for i, c in enumerate(coefs)
        ) + ")"

    keys = []
    for b in range(bands):
        bits = " + ".join(
            f"(CASE WHEN {fold_dot('v', planes[b * rows_per_band + j])} >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(rows_per_band)
        )
        keys.append(f"CAST({bits} AS INTEGER) AS k{b}")
    key_cols = ",\n                   ".join(keys)
    band_structs = ", ".join(
        f"struct_pack(band := {b}, key := k{b})" for b in range(bands)
    )
    pair_fold = (
        "list_reduce(list_prepend(0.0, list_transform("
        f"generate_series(1, {dim}), i -> va[i] * vb[i])), (acc, x) -> acc + x)"
    )
    norm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform({v}, x -> x * x)), "
        "(acc, x) -> acc + x))"
    )
    return f"""
        WITH raw AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        base AS (
            SELECT vec_id, v FROM raw
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   list_transform(
                       generate_series(1, {dim}),
                       i -> v[i] * (1.0 + 0.01 * CAST(((i - 1) % 7) - 3 AS DOUBLE))
                   ) AS v
            FROM raw WHERE vec_id % 20 = 0
        ),
        sigs AS (
            SELECT vec_id,
                   {key_cols}
            FROM base
        ),
        band_keys AS (
            SELECT vec_id, bk.band AS band, bk.key AS key
            FROM (SELECT vec_id, unnest([{band_structs}]) AS bk FROM sigs)
        ),
        cands AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM band_keys a
            JOIN band_keys b ON a.band = b.band AND a.key = b.key
            WHERE a.vec_id < b.vec_id
        ),
        verified AS (
            SELECT c.id_a, c.id_b,
                   {pair_fold} AS d,
                   {norm.format(v='va')} AS na,
                   {norm.format(v='vb')} AS nb
            FROM cands c
            JOIN (SELECT vec_id, v AS va FROM base) a ON a.vec_id = c.id_a
            JOIN (SELECT vec_id, v AS vb FROM base) b ON b.vec_id = c.id_b
        )
        SELECT id_a, id_b,
               CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END AS cosine
        FROM verified
        WHERE (CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END) >= 0.99
    """


ORACLES["q25_minhash_neardup"] = _minhash_oracle()
ORACLES["q27_simhash"] = _simhash_oracle()
ORACLES["q51_embedding_neardup"] = _embedding_neardup_oracle()

# q52 is the checksum-refined physical path for the SAME logical diff as
# q03 — refinement is lossless, so the oracle is the identical full-diff
# SQL: any bucket the prefilter wrongly skips shows up as missing rows.
ORACLES["q52_refined_diff"] = ORACLES["q03_cell_diff"]

# q53: bucket-summary fast path for the SAME metrics row as q04 —
# lossless, so the oracle is q04's full-metrics SQL verbatim.
ORACLES["q53_refined_metrics"] = ORACLES["q04_metrics_summary"]

# q54: the md5 → 60-bit → mod-10^6 unit variate replayed exactly
# (same construction as the q25/q27 token hash, so DuckDB agrees
# bit-for-bit on every assignment).
ORACLES["q54_hash_split"] = """
    WITH u AS (
        SELECT
            length(text) AS len,
            (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'r2'), 1, 15))
                  AS BIGINT) % 1000000) / 1000000.0 AS u
        FROM documents
    )
    SELECT
        CASE WHEN u < 0.8 THEN 'train'
             WHEN u < 0.9 THEN 'val'
             ELSE 'test' END AS split,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(len) AS BIGINT) AS sum_chars
    FROM u
    GROUP BY 1
"""

def _pii_oracle() -> str:
    """Replay q56: the enrichment CASEs, the per-pattern counts, and the
    ordered redaction chain — patterns imported from the SAME constant
    the Spark side uses, so the two engines share the regex literals."""
    from sparkdiff.functions.pii import PII_PATTERNS, sql_pii_count, sql_redact_pii

    counts = ",\n               ".join(
        f"{sql_pii_count('t2', pat)} AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    total = " + ".join(
        sql_pii_count("t2", pat) for _, pat, _ in PII_PATTERNS
    )
    return f"""
        WITH enriched AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
                           ELSE '' END
                   || CASE WHEN doc_id % 13 = 0
                           THEN ' from host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                           ELSE '' END
                   || CASE WHEN doc_id % 17 = 0
                           THEN ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END
                   AS t2
            FROM documents
        )
        SELECT doc_id,
               {counts},
               md5({sql_redact_pii('t2')}) AS redacted_md5
        FROM enriched
        WHERE ({total}) > 0
    """


ORACLES["q56_pii_scrub"] = _pii_oracle()

# q57: whitespace tokens exactly as q17, per-shard cumulative sum, the
# same floor((cum - tok) / 256.0) start-window arithmetic.
ORACLES["q57_sequence_packing"] = """
    WITH t AS (
        SELECT doc_id,
               CAST(doc_id % 4 AS BIGINT) AS shard,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    t -> length(t) > 0)) AS BIGINT) AS n_tokens
        FROM documents
    ),
    w AS (
        SELECT *,
               SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS window_id,
           CASE WHEN n_tokens > 0
                THEN CAST(floor((cum - 1) / 256.0)
                          - floor((cum - n_tokens) / 256.0) + 1 AS BIGINT)
                ELSE CAST(1 AS BIGINT) END AS spans
    FROM w
"""

# q58: the q54 unit-variate construction with a per-source rate CASE.
ORACLES["q58_domain_mix"] = """
    WITH u AS (
        SELECT source, length(text) AS len,
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix-r2'), 1, 15))
                     AS BIGINT) % 1000000) / 1000000.0 AS u,
               CASE WHEN source = 'src1' THEN CAST(1.0 AS DOUBLE)
                    WHEN source = 'src2' THEN CAST(0.5 AS DOUBLE)
                    WHEN source = 'src3' THEN CAST(0.25 AS DOUBLE)
                    ELSE CAST(0.1 AS DOUBLE) END AS rate
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len) AS BIGINT) AS sum_chars
    FROM u
    WHERE u < rate
    GROUP BY source
"""

# q59: CUBE + GROUPING markers; money via the exact-cents idiom.
ORACLES["q59_cube"] = """
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n,
           SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS total_price,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""

# q60: explicit ROWS frames; percent_rank/cume_dist are deterministic
# because the order has a total tiebreak.
ORACLES["q60_window_frames"] = """
    SELECT o_custkey, o_orderkey,
           percent_rank() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice, o_orderkey) AS pr,
           cume_dist() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice, o_orderkey) AS cd,
           first_value(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_key,
           SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0 AS mov3_price
    FROM orders
    WHERE o_custkey % 20 = 0
"""

# q61: md5-keyed shard + in-shard rank — the same 60-bit construction
# as q54, binary string ordering on the hex digest in both engines.
ORACLES["q61_shuffle_export"] = """
    WITH h AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || 'shuf-r2') AS hh,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'shuf-r2'), 1, 15))
                    AS BIGINT) % 8 AS shard
        FROM documents
    )
    SELECT doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id)
                AS BIGINT) AS pos
    FROM h
"""

# q62: the range condition stated directly — DuckDB's optimizer handles
# the inequality join at oracle scale; the Spark side's bucketed
# decomposition must produce the identical pair set.
ORACLES["q62_range_join"] = """
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    errors AS (
        SELECT user_id, ts AS err_ts, value AS err_value
        FROM events WHERE event_type = 'error'
    )
    SELECT c.user_id, c.click_id,
           COUNT(*) AS n_errors_10m,
           CAST(SUM(CAST(e.err_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_err_value
    FROM clicks c JOIN errors e
      ON c.user_id = e.user_id
     AND epoch_ms(e.err_ts) >= epoch_ms(c.click_ts)
     AND epoch_ms(e.err_ts) <= epoch_ms(c.click_ts) + 600000
    GROUP BY c.user_id, c.click_id
"""

# q63/q64: corpus-statistics passes — same q17 tokenization, integer
# counts throughout; q63's single division is two exact longs.
ORACLES["q63_rare_tokens"] = """
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            t -> length(t) > 0)) AS token
        FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS corpus_freq FROM toks GROUP BY token)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN f.corpus_freq <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           CAST(SUM(CASE WHEN f.corpus_freq <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS rare_ratio
    FROM toks t JOIN freq f USING (token)
    GROUP BY t.doc_id
"""

ORACLES["q64_distinctive_terms"] = """
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            t -> length(t) > 0)) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token)
    SELECT doc_id, token, tf, df, rank
    FROM (
        SELECT t.doc_id, t.token, t.tf, d.df,
               CAST(row_number() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY d.df ASC, t.tf DESC, t.token ASC) AS BIGINT) AS rank
        FROM tf t JOIN df d USING (token)
    ) WHERE rank <= 3
"""

# q55: same tokenization as q17, n-grams via 1-based list indexing,
# identical `1.0 - distinct/total` IEEE arithmetic.
ORACLES["q55_repetition"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i] || ' ' || toks[i + 1])
                    ELSE [] END AS g2,
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                                        i -> toks[i] || ' ' || toks[i + 1]
                                             || ' ' || toks[i + 2])
                    ELSE [] END AS g3
        FROM t
    )
    SELECT doc_id,
           CASE WHEN len(g2) > 0
                THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
                ELSE 0.0 END AS rep2,
           CASE WHEN len(g3) > 0
                THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
                ELSE 0.0 END AS rep3
    FROM g
"""

# q65: the q25 pair graph closed transitively by a recursive min-label
# propagation — every (id, comp) pair where comp's label can reach id
# through the symmetric edge set, then MIN per id.  Equivalent to the
# large-star/small-star fixpoint on any finite graph.
ORACLES["q65_dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({ORACLES["q25_minhash_neardup"]}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    cc(id, comp) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst AS id, c.comp
        FROM cc c JOIN edges e ON e.src = c.id
        WHERE c.comp < e.dst
    ),
    labels AS (SELECT id, MIN(comp) AS cluster_id FROM cc GROUP BY id),
    sized AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_id
    )
    SELECT l.id AS doc_id,
           CAST(l.cluster_id AS BIGINT) AS cluster_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           l.id = l.cluster_id AS is_canonical
    FROM labels l JOIN sized s USING (cluster_id)
"""

# q66: the same tokenization as q17/q55; word 8-grams via 1-based
# inclusive list slices (DuckDB l[i:i+7] == Spark slice(l, i, 8)); test
# snippets are toks[5:29] (Spark slice(_toks, 5, 25)); gram keys travel
# as the md5-derived 60-bit long so both engines join on identical ints.
ORACLES["q66_decontamination"] = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    train_g AS (
        SELECT doc_id, {_md5_token_hash('g')} AS gh
        FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(toks) >= 8
                               THEN list_transform(
                                        generate_series(1, len(toks) - 7),
                                        i -> array_to_string(toks[i:i+7], ' '))
                               ELSE [] END) AS g
            FROM t
        )
    ),
    test_g AS (
        SELECT DISTINCT test_id, {_md5_token_hash('g')} AS gh
        FROM (
            SELECT doc_id AS test_id,
                   unnest(CASE WHEN len(toks) >= 8
                               THEN list_transform(
                                        generate_series(1, len(toks) - 7),
                                        i -> array_to_string(toks[i:i+7], ' '))
                               ELSE [] END) AS g
            FROM (SELECT doc_id, toks[5:29] AS toks FROM t WHERE doc_id % 20 = 0)
        )
    )
    SELECT doc_id,
           CAST(COUNT(DISTINCT gh) AS BIGINT) AS n_hit_grams,
           CAST(COUNT(DISTINCT test_id) AS BIGINT) AS n_test_items
    FROM train_g JOIN test_g USING (gh)
    GROUP BY doc_id
"""


def _funnel_flags_sql() -> str:
    """Per-document funnel-gate flags (shared by q67/q68): doc_id,
    whitespace token count, one boolean per filter — the DuckDB replay
    of ``queries._funnel_flags`` (q18 quality, q23 lang-id, q55 trigram
    repetition, q56 PII patterns).  NULL text gives ``f_pii = false``,
    as in the Spark form."""
    from sparkdiff.functions.pii import PII_PATTERNS, sql_pii_count
    from sparkdiff.functions.textstats import sql_lang_id, sql_quality_score

    pii_total = " + ".join(sql_pii_count("text", pat) for _, pat, _ in PII_PATTERNS)
    ws_tok = (
        "CAST(len(list_filter(string_split_regex(text, '\\s+'),"
        " t -> length(t) > 0)) AS BIGINT)"
    )
    rep3 = (
        "CASE WHEN len(g3) > 0"
        " THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)"
        " ELSE 0.0 END"
    )
    return f"""
    WITH base AS (
        SELECT doc_id, text, n_chars,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    g AS (
        SELECT *,
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                                        i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [] END AS g3
        FROM base
    )
    SELECT doc_id,
           {ws_tok} AS n_tok,
           ({sql_lang_id('text')}) = 'en' AS f_lang,
           n_chars BETWEEN 100 AND 100000 AS f_len,
           ({sql_quality_score('text')}) >= 0.45 AS f_quality,
           ({rep3}) <= 0.05 AS f_rep,
           COALESCE(({pii_total}) = 0, FALSE) AS f_pii
    FROM g
"""


def _q67_oracle() -> str:
    """Funnel twin: same per-doc flags (``_funnel_flags_sql``), same
    cumulative-AND survival, same one-row aggregate fanned out by
    UNION ALL instead of stack."""
    stages = ["lang", "length", "quality", "repetition", "pii"]
    agg_cols = ["CAST(COUNT(*) AS BIGINT) AS n0"]
    for i in range(1, 6):
        agg_cols.append(
            f"CAST(COALESCE(SUM(CASE WHEN s{i} THEN 1 END), 0) AS BIGINT) AS n{i}"
        )
        agg_cols.append(
            f"CAST(COALESCE(SUM(CASE WHEN s{i} THEN n_tok END), 0) AS BIGINT) AS t{i}"
        )
    rows = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS stage_idx, '{name}' AS stage,"
        f" n{i} AS n_in, n{i} - n{i + 1} AS n_dropped, n{i + 1} AS n_out,"
        f" t{i + 1} AS tokens_out FROM a"
        for i, name in enumerate(stages)
    )
    return f"""
    WITH f AS (
        SELECT * FROM ({_funnel_flags_sql()})
    ),
    s AS (
        SELECT n_tok,
               f_lang AS s1,
               f_lang AND f_len AS s2,
               f_lang AND f_len AND f_quality AS s3,
               f_lang AND f_len AND f_quality AND f_rep AS s4,
               f_lang AND f_len AND f_quality AND f_rep AND f_pii AS s5
        FROM f
    ),
    a AS (SELECT {', '.join(agg_cols)} FROM s)
    {rows}
"""


ORACLES["q67_filter_funnel"] = _q67_oracle()

# q68: the curated-corpus manifest — funnel gates (q67's flags) minus
# contaminated docs (q66) minus non-canonical near-dup cluster members
# (q65), composed as subqueries of the exact oracle texts.
ORACLES["q68_curated_corpus"] = f"""
    SELECT f.doc_id, f.n_tok
    FROM ({_funnel_flags_sql()}) f
    WHERE f.f_lang AND f.f_len AND f.f_quality AND f.f_rep AND f.f_pii
      AND NOT EXISTS (
          SELECT 1 FROM ({ORACLES["q66_decontamination"]}) c
          WHERE c.doc_id = f.doc_id
      )
      AND NOT EXISTS (
          SELECT 1 FROM ({ORACLES["q65_dedup_clusters"]}) l
          WHERE l.doc_id = f.doc_id AND NOT l.is_canonical
      )
"""

# q69: same tokenization as q17/q55/q66; non-overlapping 20-token
# passages via 1-based inclusive list slices, passage keys as the
# md5-derived 60-bit long (identical ints in both engines).
ORACLES["q69_passage_dedup"] = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, toks FROM t
        UNION ALL
        SELECT doc_id + 30000 AS doc_id, toks[1:40] AS toks
        FROM t WHERE doc_id % 12 = 0
    ),
    p AS (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 20
                           THEN list_transform(
                                    generate_series(1, len(toks) // 20),
                                    i -> array_to_string(
                                        toks[(i-1)*20+1:(i-1)*20+20], ' '))
                           ELSE [] END) AS passage
        FROM corpus
    ),
    h AS (SELECT doc_id, {_md5_token_hash('passage')} AS ph FROM p)
    SELECT ph,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MIN(doc_id) AS keeper_doc
    FROM h
    GROUP BY ph
    HAVING COUNT(DISTINCT doc_id) >= 2
"""

# q70: parallel unnest zips (value, 1-based index).  floor(v * 2^33)
# is the float32 value as an EXACT integer (dyadic rationals; decimal
# casts are not engine-portable — Spark rounds HALF_UP, DuckDB
# half-even, and exact-tie floats exist in the data), so the sum is
# plain BIGINT arithmetic, bit-identical to the Spark side.
ORACLES["q70_label_centroids"] = """
    SELECT label,
           CAST(i - 1 AS INTEGER) AS dim_idx,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 8589934592) AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) * 8589934592 AS DOUBLE) AS centroid
    FROM (
        SELECT label,
               unnest(embedding) AS val,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings
    )
    GROUP BY label, i
"""


def _q71_oracle() -> str:
    from sparkdiff.functions.textstats import sql_quality_score

    ws_tok = (
        "CAST(len(list_filter(string_split_regex(text, '\\s+'),"
        " t -> length(t) > 0)) AS BIGINT)"
    )
    ths = [0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70]
    return f"""
    WITH scored AS (
        SELECT {sql_quality_score('text')} AS q, {ws_tok} AS n_tok
        FROM documents
    ),
    th AS (SELECT unnest([{', '.join(str(t) for t in ths)}]) AS threshold),
    agg AS (
        SELECT CAST(th.threshold AS DOUBLE) AS threshold,
               CAST(SUM(CASE WHEN s.q >= th.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
               CAST(COALESCE(SUM(CASE WHEN s.q >= th.threshold THEN s.n_tok END), 0) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_total
        FROM scored s CROSS JOIN th
        GROUP BY th.threshold
    )
    SELECT threshold, n_docs, n_tokens,
           CAST(n_docs AS DOUBLE) / n_total AS retained_frac
    FROM agg
"""


ORACLES["q71_quality_sweep"] = _q71_oracle()

# q72: the asymmetric ingest gate — same LSH replay as q25, but the
# batch is every 17th doc re-inserted at +50000 with a 3-token suffix,
# and candidates are restricted to cross-side (corpus × batch) pairs.
ORACLES["q72_incremental_neardup"] = _minhash_oracle(
    base_sql="""
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 50000 AS doc_id, text || ' new batch revision' AS text
            FROM documents WHERE doc_id % 17 = 0
""",
    cand_cond="a.doc_id < 50000 AND b.doc_id >= 50000",
    out_a="corpus_id",
    out_b="batch_id",
)

# q73: same md5 unit variate as q54 (seed 'r3'); per-domain running
# token sum over the (variate, doc_id) order, prefix kept within the
# 10k budget.
ORACLES["q73_token_budget_sample"] = """
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> length(x) > 0)) AS BIGINT) AS n_tok,
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'r3'), 1, 15))
                     AS BIGINT) % 1000000) / 1000000.0 AS u
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tok,
               SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM t
    )
    SELECT doc_id, source, n_tok, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 600
"""

# q75: two unrolled Lloyd iterations, k=4, seeds vec_id 0..3.  Distance
# folds run left-to-right over dims (list_reduce with a prepended 0.0 —
# the q24 pattern) and centroid updates sum floor(v*2^33) BIGINTs (the
# q70 exact-dyadic rail) before one double division, so both engines
# compute bit-identical assignments.
def _kmeans_oracle(
    k: int = 4,
    iters: int = 2,
    base: str = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
    extra_ctes: list[str] | None = None,
    tail: str | None = None,
) -> str:
    """Replay of ``operators/retrieval.kmeans_assign`` as DuckDB CTEs.

    ``base`` supplies the corpus (vec_id, v DOUBLE[]); seeds are the k
    smallest ids (the WHERE vec_id < k shortcut is valid because every
    corpus used keeps ids 0..k-1 present).  ``tail`` replaces the final
    SELECT — the assignment CTE ``a{iters}`` (vec_id, cluster, dist, v)
    and ``e`` stay in scope for composition (q88's semdedup)."""
    scale = 8589934592  # 2^33
    dist = (
        "list_reduce(list_prepend(0.0, list_transform("
        "generate_series(1, len(v)), i -> (v[i] - c[i]) * (v[i] - c[i]))), "
        "(acc, x) -> acc + x)"
    )
    ctes = [
        f"e AS ({base})",
        f"c0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, v AS c FROM e WHERE vec_id < {k})",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        ctes.append(
            f"""a{it} AS (
            SELECT vec_id, cluster, dist, v FROM (
                SELECT e.vec_id, {prev}.cluster, {dist} AS dist, e.v,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {dist} ASC, {prev}.cluster ASC) AS rn
                FROM e CROSS JOIN {prev}
            ) WHERE rn = 1
        )"""
        )
        if it < iters:
            ctes.append(
                f"""s{it} AS (
                SELECT cluster, i AS dim,
                       SUM(CAST(floor(val * {scale}) AS BIGINT)) AS s,
                       COUNT(*) AS n
                FROM (
                    SELECT cluster, unnest(v) AS val,
                           unnest(generate_series(1, len(v))) AS i
                    FROM a{it}
                ) GROUP BY cluster, i
            )"""
            )
            ctes.append(
                f"""c{it} AS (
                SELECT cluster,
                       list(CAST(s AS DOUBLE) / CAST(n * {scale} AS DOUBLE)
                            ORDER BY dim) AS c
                FROM s{it} GROUP BY cluster
            )"""
            )
            prev = f"c{it}"
    final = tail or f"SELECT vec_id, cluster, dist FROM a{iters}"
    return (
        "WITH "
        + ",\n    ".join(ctes + (extra_ctes or []))
        + "\n    "
        + final
    )


ORACLES["q75_kmeans_embed"] = _kmeans_oracle()


# q76: BM25 with the rational idf core (no log — libm log is not
# correctly rounded, so the log form is not hash-portable); per-term
# partial scores added in fixed term order.
def _bm25_oracle(top_k: int = 20) -> str:
    terms = ["merge", "scan", "window"]
    k1, b = 1.2, 0.75
    toks = (
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
        "x -> length(x) > 0)"
    )
    tf_cols = ", ".join(
        f"CAST(len(list_filter(toks, t -> t = '{w}')) AS BIGINT) AS tf{j}"
        for j, w in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf{j} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{j}"
        for j in range(len(terms))
    )
    score = " + ".join(
        f"(((n_docs - df{j} + 0.5) / (df{j} + 0.5))"
        f" * ((CAST(tf{j} AS DOUBLE) * {k1 + 1.0}) /"
        f" (CAST(tf{j} AS DOUBLE) + {k1} *"
        f" ((1.0 - {b}) + ({b} * CAST(dl AS DOUBLE)) / (sum_dl / n_docs)))))"
        for j in range(len(terms))
    )
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    base AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, {tf_cols} FROM t
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) AS sum_dl, {df_cols}
        FROM base
    ),
    scored AS (
        SELECT doc_id, dl, tf0, tf1, tf2, 0.0 + {score} AS score
        FROM base CROSS JOIN stats
    )
    SELECT doc_id, dl, tf0, tf1, tf2, score, rank FROM (
        SELECT *, CAST(row_number() OVER (
            ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {top_k}
"""


ORACLES["q76_bm25_rank"] = _bm25_oracle()

# q77: CDC merge — latest change per key wins, deletes drop, inserts
# and updates override, untouched base rows pass through.
ORACLES["q77_cdc_merge"] = """
    WITH o AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
        FROM orders
    ),
    changes AS (
        SELECT o_orderkey, price_cents + 500 AS price_cents,
               'U' AS op, 1 AS seq FROM o WHERE o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey, price_cents + 900, 'U', 2
        FROM o WHERE o_orderkey % 39 = 0
        UNION ALL
        SELECT o_orderkey, NULL, 'D', 3 FROM o WHERE o_orderkey % 29 = 0
        UNION ALL
        SELECT o_orderkey + 2000000, price_cents, 'I', 1
        FROM o WHERE o_orderkey % 31 = 0
    ),
    latest AS (
        SELECT o_orderkey, price_cents, op FROM (
            SELECT *, row_number() OVER (
                PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
            FROM changes
        ) WHERE rn = 1
    ),
    merged AS (
        SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
               CASE WHEN c.op IS NOT NULL THEN c.price_cents
                    ELSE b.price_cents END AS price_cents,
               COALESCE(c.op, 'B') AS src
        FROM o b FULL OUTER JOIN latest c ON b.o_orderkey = c.o_orderkey
    )
    SELECT o_orderkey, price_cents, src FROM merged WHERE src <> 'D'
"""

# q78: interval RANGE frames over epoch-micros longs; values sum as
# floor(value*2^20) BIGINTs so the frame sum is exact in both engines.
ORACLES["q78_rolling_events"] = """
    WITH e AS (
        SELECT event_id, user_id,
               CAST(epoch_us(ts) AS BIGINT) AS us,
               CAST(floor(value * 1048576) AS BIGINT) AS val_s
        FROM events
    )
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER hour AS BIGINT) AS n_1h,
           CAST(SUM(val_s) OVER hour AS BIGINT) AS sum_val_1h,
           CAST(COUNT(*) OVER quarter AS BIGINT) AS n_15m
    FROM e
    WINDOW hour AS (
        PARTITION BY user_id ORDER BY us
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    ),
    quarter AS (
        PARTITION BY user_id ORDER BY us
        RANGE BETWEEN 900000000 PRECEDING AND CURRENT ROW
    )
"""

# q79: posting lists for rare bigram terms only — df-first then
# join-back, so the list aggregate never sees an over-cap group.
ORACLES["q79_posting_lists"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    toks AS (
        SELECT DISTINCT doc_id, unnest(
            CASE WHEN len(toks) >= 2
                 THEN list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i+1])
                 ELSE [] END) AS token
        FROM t
    ),
    freq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        FROM toks GROUP BY token
    ),
    rare AS (SELECT token, df FROM freq WHERE df BETWEEN 2 AND 8)
    SELECT t.token, MIN(r.df) AS df,
           string_agg(CAST(t.doc_id AS VARCHAR), ',' ORDER BY t.doc_id)
               AS postings
    FROM toks t JOIN rare r ON t.token = r.token
    GROUP BY t.token
"""

# q80: boilerplate = top-50 bigrams by (df desc, gram asc); per-doc
# fraction of bigram INSTANCES in the set.
ORACLES["q80_boilerplate"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 2
                 THEN list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i+1])
                 ELSE [] END) AS gram
        FROM t
    ),
    top AS (
        SELECT gram FROM (
            SELECT gram, row_number() OVER (
                ORDER BY COUNT(*) DESC, gram ASC) AS rnk
            FROM g GROUP BY gram
        ) WHERE rnk <= 50
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN top.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           CAST(SUM(CASE WHEN top.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS boiler_frac
    FROM g LEFT JOIN top ON g.gram = top.gram
    GROUP BY g.doc_id
"""

# q81: top-2 most-cosine-similar DIFFERENT-label vectors per query —
# the q24 fold pattern plus the label-inequality join condition.
ORACLES["q81_hard_negatives"] = """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
               label AS qlabel
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (
        SELECT vec_id AS neg_id, CAST(embedding AS DOUBLE[]) AS cv,
               label AS neg_label
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, qlabel, neg_id, neg_label,
               list_reduce(
                   list_prepend(0.0, list_transform(
                       generate_series(1, len(qv)), i -> qv[i] * cv[i])),
                   (acc, x) -> acc + x) AS d,
               sqrt(list_reduce(
                   list_prepend(0.0, list_transform(qv, x -> x * x)),
                   (acc, x) -> acc + x)) AS nq,
               sqrt(list_reduce(
                   list_prepend(0.0, list_transform(cv, x -> x * x)),
                   (acc, x) -> acc + x)) AS nc
        FROM c JOIN q ON c.neg_label <> q.qlabel
    ),
    cos AS (
        SELECT query_id, qlabel, neg_id, neg_label,
               CASE WHEN nq = 0 OR nc = 0 THEN 0.0
                    ELSE d / (nq * nc) END AS cosine
        FROM scored
    )
    SELECT query_id, qlabel, neg_id, neg_label, cosine, rank
    FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine DESC, neg_id ASC) AS INTEGER) AS rank
        FROM cos
    ) WHERE rank <= 2
"""

# q82: distinct (passage-hash, source) pairs, stop-capped at 10
# sources per passage, then the source-pair shared count.
ORACLES["q82_cross_source_overlap"] = f"""
    WITH t AS (
        SELECT source,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    p AS (
        SELECT DISTINCT source, ph FROM (
            SELECT source, {_md5_token_hash('ps')} AS ph FROM (
                SELECT source, unnest(
                    CASE WHEN len(toks) >= 20
                         THEN list_transform(
                                  generate_series(1, len(toks) // 20),
                                  i -> array_to_string(
                                      toks[(i-1)*20+1:(i-1)*20+20], ' '))
                         ELSE [] END) AS ps
                FROM t
            )
        )
    ),
    keep AS (
        SELECT ph FROM (
            SELECT ph, COUNT(DISTINCT source) AS ns FROM p GROUP BY ph
        ) WHERE ns BETWEEN 2 AND 10
    ),
    pk AS (SELECT p.source, p.ph FROM p JOIN keep USING (ph))
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(DISTINCT a.ph) AS BIGINT) AS n_shared_passages
    FROM pk a JOIN pk b ON a.ph = b.ph AND a.source < b.source
    GROUP BY a.source, b.source
"""

# q83: a distinct 8-gram is novel in the doc where its min(doc_id)
# lives; per-doc novelty fraction.
ORACLES["q83_ngram_novelty"] = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, gh FROM (
            SELECT doc_id, {_md5_token_hash('gm')} AS gh FROM (
                SELECT doc_id, unnest(
                    CASE WHEN len(toks) >= 8
                         THEN list_transform(
                                  generate_series(1, len(toks) - 7),
                                  i -> array_to_string(toks[i:i+7], ' '))
                         ELSE [] END) AS gm
                FROM t
            )
        )
    ),
    fs AS (SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY gh)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN g.doc_id = fs.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN g.doc_id = fs.first_doc THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
    FROM g JOIN fs USING (gh)
    GROUP BY g.doc_id
"""

# q74: winnowing — word 5-gram md5 hashes, 4-window minima, rare
# (2..10 docs) fingerprints only, pairs by shared-count.
ORACLES["q74_winnow_fingerprints"] = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, toks FROM t
        UNION ALL
        SELECT doc_id + 40000 AS doc_id, toks[1:60] AS toks
        FROM t WHERE doc_id % 14 = 0
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 5
                    THEN list_transform(generate_series(1, len(toks) - 4),
                                        i -> array_to_string(toks[i:i+4], ' '))
                    ELSE [] END AS gs
        FROM corpus
    ),
    h AS (
        SELECT doc_id,
               list_transform(gs, x -> {_md5_token_hash('x')}) AS gh
        FROM g
    ),
    f AS (
        SELECT doc_id,
               list_distinct(CASE
                   WHEN len(gh) >= 4
                   THEN list_transform(generate_series(1, len(gh) - 3),
                                       i -> list_min(gh[i:i+3]))
                   WHEN len(gh) > 0 THEN [list_min(gh)]
                   ELSE CAST([] AS BIGINT[]) END) AS fps
        FROM h
    ),
    fr AS (SELECT doc_id, unnest(fps) AS fp FROM f),
    rare AS (
        SELECT fp FROM (
            SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM fr GROUP BY fp
        ) WHERE nd BETWEEN 2 AND 10
    ),
    s AS (SELECT fr.doc_id, fr.fp FROM fr JOIN rare USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS n_shared
    FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(DISTINCT a.fp) >= 2
"""


# q84: weekly retention cohorts — all counting exact longs, one double
# division; date_trunc('week') is Monday-start in both engines.
ORACLES["q84_retention_cohorts"] = """
    WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
    f AS (SELECT user_id, MIN(d) AS cohort_d FROM e GROUP BY user_id),
    c AS (SELECT user_id, cohort_d,
                 CAST(date_trunc('week', cohort_d) AS DATE) AS cohort_week
          FROM f),
    s AS (SELECT cohort_week,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cohort_size
          FROM c GROUP BY cohort_week),
    a AS (SELECT c.cohort_week,
                 CAST(floor(datediff('day', c.cohort_d, e.d) / 7) AS BIGINT)
                     AS week_offset,
                 CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
          FROM e JOIN c USING (user_id)
          GROUP BY 1, 2)
    SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
           CAST(a.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
               AS retention
    FROM a JOIN s USING (cohort_week)
"""

# q85: DSIR lexical importance — add-one-smoothed frequency ratios in
# 2^20 fixed point (log-free: libm log is not hash-portable); // is
# floor division on DuckDB integers, matching Spark's `div` for the
# always-positive operands.
ORACLES["q85_dsir_weights"] = """
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, lang, unnest(toks) AS token FROM t),
    v AS (
        SELECT token,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS tf_t,
               CAST(COUNT(*) AS BIGINT) AS tf_s
        FROM tok GROUP BY token
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM((tf_t + 1) * 1048576 // (tf_s + 1)) AS BIGINT)
               AS weight_s,
           CAST(SUM((tf_t + 1) * 1048576 // (tf_s + 1)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_weight
    FROM tok JOIN v USING (token)
    GROUP BY doc_id
"""

# q86: one-pass lineitem profile — min/max aggregated in VALUE space
# then canonicalized (floor-scaled longs for doubles, second-precision
# timestamps), mirroring operators/profile.py.
ORACLES["q86_profile"] = """
    WITH a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(COUNT(l_orderkey) AS BIGINT) AS nn1,
            CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nd1,
            CAST(MIN(l_orderkey) AS VARCHAR) AS mn1,
            CAST(MAX(l_orderkey) AS VARCHAR) AS mx1,
            CAST(COUNT(l_partkey) AS BIGINT) AS nn2,
            CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd2,
            CAST(MIN(l_partkey) AS VARCHAR) AS mn2,
            CAST(MAX(l_partkey) AS VARCHAR) AS mx2,
            CAST(COUNT(l_quantity) AS BIGINT) AS nn3,
            CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS nd3,
            CAST(CAST(floor(MIN(l_quantity) * 10000) AS BIGINT) AS VARCHAR) AS mn3,
            CAST(CAST(floor(MAX(l_quantity) * 10000) AS BIGINT) AS VARCHAR) AS mx3,
            CAST(COUNT(l_extendedprice) AS BIGINT) AS nn4,
            CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT) AS nd4,
            CAST(CAST(floor(MIN(l_extendedprice) * 10000) AS BIGINT) AS VARCHAR) AS mn4,
            CAST(CAST(floor(MAX(l_extendedprice) * 10000) AS BIGINT) AS VARCHAR) AS mx4,
            CAST(COUNT(l_returnflag) AS BIGINT) AS nn5,
            CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS nd5,
            MIN(l_returnflag) AS mn5,
            MAX(l_returnflag) AS mx5,
            CAST(COUNT(l_shipdate) AS BIGINT) AS nn6,
            CAST(COUNT(DISTINCT l_shipdate) AS BIGINT) AS nd6,
            strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S') AS mn6,
            strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S') AS mx6
        FROM lineitem
    )
    SELECT 'l_orderkey' AS "column", n_rows, nn1 AS n_nonnull, nd1 AS ndv,
           mn1 AS min_str, mx1 AS max_str FROM a
    UNION ALL
    SELECT 'l_partkey', n_rows, nn2, nd2, mn2, mx2 FROM a
    UNION ALL
    SELECT 'l_quantity', n_rows, nn3, nd3, mn3, mx3 FROM a
    UNION ALL
    SELECT 'l_extendedprice', n_rows, nn4, nd4, mn4, mx4 FROM a
    UNION ALL
    SELECT 'l_returnflag', n_rows, nn5, nd5, mn5, mx5 FROM a
    UNION ALL
    SELECT 'l_shipdate', n_rows, nn6, nd6, mn6, mx6 FROM a
"""

# q87: stratified sample — md5 60-bit variate ranked per stratum, the
# hash construction shared with q54 (property-pinned across engines).
ORACLES["q87_stratified_sample"] = """
    WITH d AS (
        SELECT doc_id, lang, source,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'),
                                   1, 15) AS BIGINT) AS h
        FROM documents
    )
    SELECT doc_id, lang, source, pick_rank FROM (
        SELECT doc_id, lang, source,
               CAST(row_number() OVER (
                   PARTITION BY lang, source ORDER BY h, doc_id
               ) AS BIGINT) AS pick_rank
        FROM d
    ) WHERE pick_rank <= 3
"""

# q89: int8 symmetric quantization — floor/abs/divide are IEEE-
# correctly-rounded (engine-exact); the error total sums scaled longs.
ORACLES["q89_quantize_int8"] = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS amax
          FROM e),
    c AS (SELECT vec_id, v, amax,
                 CASE WHEN amax = 0
                      THEN list_transform(v, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(
                          v, x -> CAST(floor(x * 127.0 / amax) AS BIGINT))
                 END AS codes
          FROM q)
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS n_dims,
           CAST(list_max(codes) AS BIGINT) AS max_code,
           CAST(list_min(codes) AS BIGINT) AS min_code,
           CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT), list_transform(
                   generate_series(1, len(v)),
                   i -> CAST(floor(abs(v[i] - CAST(codes[i] AS DOUBLE)
                                       * amax / 127.0)
                                   * 1099511627776.0) AS BIGINT))),
               (acc, x) -> acc + x) AS BIGINT) AS qerr_s
    FROM c
"""

# q88: SemDeDup — the q75 Lloyd replay over the q51 perturbed corpus,
# then within-cluster pairs at cosine >= 0.95 and keep-min verdicts.
# Engine-mirror of semdedup's multiplicative cosine test
# ``dot ≥ t · (na · nb)`` on per-row scalar norms.  0.0-prepended
# list_reduce matches Spark's flat sums bit-for-bit (0.0 + x == x).
_Q88_DOT = (
    "(list_reduce(list_prepend(0.0, list_transform("
    "generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])), "
    "(acc, x) -> acc + x))"
)

def _semdedup_oracle(k: int) -> str:
    """q88/q136 SemDeDup oracle over the planted-positive corpus,
    parameterized by cluster count.  q136 passes the k the auto
    heuristic derives at the driver's sf0.01 corpus:
    max(4, 525 // 100) = 5."""
    return _kmeans_oracle(
        k=k,
    iters=2,
    base="""
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               list_transform(
                   generate_series(1, 64),
                   i -> CAST(embedding[i] AS DOUBLE)
                        * (1.0 + 0.01 * CAST(((i - 1) % 7) - 3 AS DOUBLE)))
                   AS v
        FROM embeddings WHERE vec_id % 20 = 0
    """,
    extra_ctes=[
        """a2n AS (
            SELECT vec_id, cluster, v,
                   sqrt(list_reduce(
                       list_prepend(0.0,
                           list_transform(v, y -> y * y)),
                       (acc, y) -> acc + y)) AS n
            FROM a2
        )""",
        f"""p AS (
            SELECT b.vec_id AS dup_id
            FROM a2n a JOIN a2n b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE {_Q88_DOT} >= 0.95 * (a.n * b.n)
              AND (a.n * b.n) > 0.0
        )""",
        """n AS (
            SELECT dup_id AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_near
            FROM p GROUP BY dup_id
        )""",
    ],
    tail="""
    SELECT a2.vec_id, a2.cluster,
           CAST(COALESCE(n.n_near, 0) AS BIGINT) AS n_near,
           CAST(CASE WHEN COALESCE(n.n_near, 0) = 0 THEN 1 ELSE 0 END
                AS INTEGER) AS kept
    FROM a2 LEFT JOIN n USING (vec_id)
    """,
    )


ORACLES["q88_semdedup"] = _semdedup_oracle(k=4)
ORACLES["q136_semdedup_auto"] = _semdedup_oracle(k=5)


# q90: fixed-point PageRank over the part<->supplier graph — integer
# divisions and long sums only (// is floor division, matching Spark's
# `div` on the always-positive rank mass), so both engines compute the
# identical rank vector.
ORACLES["q90_pagerank"] = """
    WITH ps AS (
        SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM lineitem
    ),
    e AS (
        SELECT src, dst FROM ps
        UNION ALL
        SELECT dst AS src, src AS dst FROM ps
    ),
    nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
        )
    ),
    odeg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM e GROUP BY src
    ),
    nd AS (
        SELECT nodes.node, COALESCE(odeg.deg, 0) AS deg
        FROM nodes LEFT JOIN odeg USING (node)
    ),
    nn AS (SELECT COUNT(*) AS n FROM nd),
    i0 AS (
        SELECT node, deg, n,
               1125899906842624 // n AS base,
               1125899906842624 // n AS rank_s
        FROM nd CROSS JOIN nn
    ),
    c1 AS (
        SELECT e.dst AS node, SUM(i0.rank_s // i0.deg) AS s
        FROM e JOIN i0 ON e.src = i0.node
        WHERE i0.deg > 0 GROUP BY e.dst
    ),
    d1 AS (
        SELECT COALESCE(SUM(rank_s), 0) AS dm FROM i0 WHERE deg = 0
    ),
    i1 AS (
        SELECT i0.node, i0.deg, i0.n, i0.base,
               (3 * i0.base) // 20
               + (17 * (COALESCE(c1.s, 0) + d1.dm // i0.n)) // 20 AS rank_s
        FROM i0 LEFT JOIN c1 USING (node) CROSS JOIN d1
    ),
    c2 AS (
        SELECT e.dst AS node, SUM(i1.rank_s // i1.deg) AS s
        FROM e JOIN i1 ON e.src = i1.node
        WHERE i1.deg > 0 GROUP BY e.dst
    ),
    d2 AS (
        SELECT COALESCE(SUM(rank_s), 0) AS dm FROM i1 WHERE deg = 0
    ),
    i2 AS (
        SELECT i1.node, i1.deg, i1.n, i1.base,
               (3 * i1.base) // 20
               + (17 * (COALESCE(c2.s, 0) + d2.dm // i1.n)) // 20 AS rank_s
        FROM i1 LEFT JOIN c2 USING (node) CROSS JOIN d2
    )
    SELECT node, CAST(node % 2 AS INTEGER) AS is_supplier, deg,
           CAST(rank_s AS BIGINT) AS rank_s
    FROM i2
    ORDER BY rank_s DESC, node ASC
    LIMIT 20
"""

# q91: ordered view->click->purchase funnel; strict-after semantics at
# each stage, the 3-row report normalizes via MAX() OVER ().
ORACLES["q91_event_funnel"] = """
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY e.user_id
    ),
    s AS (
        SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        UNION ALL
        SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
        UNION ALL
        SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p
    )
    SELECT stage, n_users,
           CAST(n_users AS DOUBLE) / CAST(MAX(n_users) OVER () AS DOUBLE)
               AS conversion
    FROM s
"""

# q92: Gini token diversity — exact long moments, one double division.
ORACLES["q92_token_gini"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_toks,
           CAST(SUM(tf * tf) AS BIGINT) AS sum_sq,
           1.0 - CAST(SUM(tf * tf) AS DOUBLE)
                 / CAST(SUM(tf) * SUM(tf) AS DOUBLE) AS gini
    FROM tf GROUP BY doc_id
"""

# q93: reciprocal-rank fusion of the q76 BM25 top-50 and a raw term-
# frequency top-50; reciprocals in fixed ranker order, missing -> -1.
ORACLES["q93_rrf_fusion"] = f"""
    WITH bm AS (
        SELECT doc_id, CAST(rank AS BIGINT) AS rr0
        FROM ({_bm25_oracle(top_k=50)})
    ),
    t2 AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    lexs AS (
        SELECT doc_id,
               CAST(len(list_filter(toks, t -> t = 'merge'))
                    + len(list_filter(toks, t -> t = 'scan'))
                    + len(list_filter(toks, t -> t = 'window'))
                    AS BIGINT) AS score
        FROM t2
    ),
    lex AS (
        SELECT doc_id, rr1 FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (
                       ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rr1
            FROM lexs
        ) WHERE rr1 <= 50
    ),
    f AS (
        SELECT COALESCE(bm.doc_id, lex.doc_id) AS doc_id, bm.rr0, lex.rr1
        FROM bm FULL OUTER JOIN lex ON bm.doc_id = lex.doc_id
    ),
    sc AS (
        SELECT doc_id,
               CAST(COALESCE(rr0, -1) AS BIGINT) AS r0,
               CAST(COALESCE(rr1, -1) AS BIGINT) AS r1,
               (CASE WHEN rr0 IS NOT NULL
                     THEN 1.0 / (60.0 + CAST(rr0 AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN rr1 IS NOT NULL
                       THEN 1.0 / (60.0 + CAST(rr1 AS DOUBLE)) ELSE 0.0 END)
                   AS rrf
        FROM f
    )
    SELECT doc_id, r0, r1, rrf, fused_rank FROM (
        SELECT *, CAST(row_number() OVER (
            ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS fused_rank
        FROM sc
    ) WHERE fused_rank <= 20
"""

# q94: per-type z-score outliers — 2^10 fixed-point moments summed in
# DECIMAL(38,0) (overflow-safe, exact), one fixed double expression for
# mean/var/z on both engines.
ORACLES["q94_value_zscores"] = """
    WITH e AS (
        SELECT event_id, event_type,
               CAST(floor(value * 1024) AS BIGINT) AS vs
        FROM events
    ),
    st AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(vs AS DECIMAL(38,0))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(vs * vs AS DECIMAL(38,0))) AS DOUBLE) AS s2
        FROM e GROUP BY event_type
    )
    SELECT event_id, event_type,
           (CAST(vs AS DOUBLE) - s1 / n)
               / sqrt(s2 / n - (s1 / n) * (s1 / n)) AS z
    FROM e JOIN st USING (event_type)
    WHERE abs((CAST(vs AS DOUBLE) - s1 / n)
              / sqrt(s2 / n - (s1 / n) * (s1 / n))) > 3.0
"""


# q95: self-trained bigram LM fluency — parallel unnests zip in DuckDB,
# so w1/gram stay aligned; all-integer ratios until the final mean.
ORACLES["q95_lm_score"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i])) AS w1,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i + 1]))
                   AS gram
        FROM t WHERE len(toks) >= 2
    ),
    cb AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS cb FROM bi GROUP BY gram),
    cp AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cp FROM bi GROUP BY w1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM((cb * 1048576) // cp) AS BIGINT) AS score_s,
           CAST(SUM((cb * 1048576) // cp) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS lm_score
    FROM bi JOIN cb USING (gram) JOIN cp USING (w1)
    GROUP BY doc_id
"""

# q96: top-10 3-step event paths — lead pair over (ts, event_id) order.
ORACLES["q96_event_paths"] = """
    WITH p AS (
        SELECT user_id,
               event_type AS s1,
               lead(event_type, 1) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS s2,
               lead(event_type, 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS s3
        FROM events
    )
    SELECT s1 || '>' || s2 || '>' || s3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM p
    WHERE s2 IS NOT NULL AND s3 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path ASC
    LIMIT 10
"""


# q97: blocked fuzzy name match — block on the last token, refine with
# levenshtein (unit-cost edit distance, identical in both engines).
ORACLES["q97_fuzzy_name_match"] = """
    WITH names AS (
        SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY p_name
    ),
    blk AS (
        SELECT p_name, n_parts,
               string_split(p_name, ' ')[-1] AS b
        FROM names
    )
    SELECT a.p_name AS name_a, c.p_name AS name_b,
           CAST(levenshtein(a.p_name, c.p_name) AS INTEGER) AS lev,
           a.n_parts AS n_a, c.n_parts AS n_b
    FROM blk a JOIN blk c ON a.b = c.b AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= 4
"""

# q98: sweep-line peak concurrency — q29 sessionization, +1/-1 minute
# deltas, running sum over the bounded minute-bucket table.
ORACLES["q98_peak_concurrency"] = """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                    > 30 * 60 * 1000
                    OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                    THEN 1 ELSE 0 END AS is_new,
               event_id
        FROM events
    ),
    sessed AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    ),
    sess AS (
        SELECT user_id, sid, MIN(ts) AS t_start, MAX(ts) AS t_end
        FROM sessed GROUP BY user_id, sid
    ),
    deltas AS (
        SELECT m, SUM(d) AS delta FROM (
            SELECT date_trunc('minute', t_start) AS m, 1 AS d FROM sess
            UNION ALL
            SELECT date_trunc('minute', t_end) + INTERVAL 1 MINUTE AS m,
                   -1 AS d
            FROM sess
        ) GROUP BY m
    )
    SELECT m,
           CAST(SUM(delta) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS concurrent
    FROM deltas
    ORDER BY concurrent DESC, m ASC
    LIMIT 10
"""

# q99: hourly LOCF gap-fill — per-user hour series via generate_series,
# latest-in-hour representative, last_value IGNORE NULLS fill.
ORACLES["q99_gapfill_locf"] = """
    WITH e AS (
        SELECT user_id, date_trunc('hour', ts) AS h, ts, event_id, value
        FROM events
        WHERE event_type = 'purchase' AND user_id % 5 = 0
    ),
    obs AS (
        SELECT user_id, h, value FROM (
            SELECT user_id, h, value,
                   row_number() OVER (
                       PARTITION BY user_id, h
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM e
        ) WHERE rn = 1
    ),
    spans AS (
        SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM obs
        GROUP BY user_id
    ),
    series AS (
        SELECT user_id,
               unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM spans
    )
    SELECT s.user_id, s.h,
           last_value(o.value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.h
               ROWS UNBOUNDED PRECEDING) AS value_filled,
           o.value IS NOT NULL AS is_observed
    FROM series s
    LEFT JOIN obs o ON s.user_id = o.user_id AND s.h = o.h
"""

# q100: positional phrase search — count adjacent ("hash","value")
# token pairs per doc via 1-based list indexing (q95 idiom).
ORACLES["q100_phrase_search"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(generate_series(1, len(toks) - 1),
                    i -> toks[i] = 'hash' AND toks[i + 1] = 'value'))
                AS BIGINT) AS n_hits
    FROM t
    WHERE len(toks) >= 2
      AND len(list_filter(generate_series(1, len(toks) - 1),
              i -> toks[i] = 'hash' AND toks[i + 1] = 'value')) > 0
    ORDER BY n_hits DESC, doc_id ASC
    LIMIT 20
"""

# q101: SCD2 intervals — change-row filter then lead for valid_to.
ORACLES["q101_scd2_history"] = """
    WITH changed AS (
        SELECT user_id, ts, event_id, event_type
        FROM (
            SELECT user_id, ts, event_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev
            FROM events
        )
        WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM changed
"""

# q102: degree-ordered triangle counting on the w>=2 co-purchase graph;
# (deg,id) tuple comparisons orient edges exactly as the Spark structs.
ORACLES["q102_triangle_count"] = """
    WITH lp AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    edges AS (
        SELECT u, v FROM (
            SELECT a.pk AS u, b.pk AS v, COUNT(*) AS w
            FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY a.pk, b.pk
        ) WHERE w >= 2
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM edges
            UNION ALL SELECT v AS node FROM edges
        ) GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
                    THEN e.u ELSE e.v END AS src,
               CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
                    THEN e.v ELSE e.u END AS dst,
               CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
                    THEN dv.deg ELSE du.deg END AS deg_dst
        FROM edges e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    wedges AS (
        SELECT o1.dst AS wu, o2.dst AS wv
        FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
        WHERE (o1.deg_dst, o1.dst) < (o2.deg_dst, o2.dst)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM wedges w JOIN oriented o
              ON o.src = w.wu AND o.dst = w.wv) AS n_triangles
"""

# q103: MAD outliers — interpolated medians on 1024-scaled integers
# (quantile_cont == Spark percentile interpolation), doubled deviations
# stay integral, flag dev2 > 3*mad2 in exact arithmetic.
ORACLES["q103_mad_outliers"] = """
    WITH e AS (
        SELECT event_id, event_type,
               CAST(floor(value * 1024) AS BIGINT) AS vs
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(vs, 0.5) AS med
        FROM e GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_id, e.event_type, e.vs,
               abs(e.vs * 2 - CAST(m.med * 2 AS BIGINT)) AS dev2
        FROM e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(dev2, 0.5) AS mad2
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.vs, d.dev2, m.mad2
    FROM dev d JOIN mad m USING (event_type)
    WHERE CAST(d.dev2 AS DOUBLE) > 3 * m.mad2
"""


# q104: skyline — the oracle states the SPEC (naive NOT EXISTS dominance
# over all pairs); the engine's bucket-prune + bounded-refine plan must
# reproduce it exactly.
ORACLES["q104_skyline"] = f"""
    WITH pts AS (
        SELECT doc_id, n_chars AS x,
               {sql_quality_score('text')} AS y
        FROM documents
    )
    SELECT p.doc_id, p.x, p.y
    FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.x >= p.x AND q.y >= p.y
          AND (q.x > p.x OR q.y > p.y)
    )
"""


def _dist_cut_sql(src: str, col: str, pre: str, pcts: tuple) -> str:
    """Distribution-method percentile CTEs for one metric column,
    mirroring ``operators/quantiles._dist_quantiles`` verbatim (the q50
    oracle idiom): distinct-value counts, cumulative window, then the
    lo/hi/frac/cofrac blend per percentile."""
    quads = []
    sel = []
    for p in pcts:
        tag = f"{pre}_{int(p * 100)}"
        pos = f"CAST({p} AS DOUBLE) * CAST(n - 1 AS DOUBLE)"
        quads.append(
            f"CAST(MIN(CASE WHEN cum >= floor({pos}) + 1 THEN v END)"
            f" AS DOUBLE) AS {tag}_lo,\n"
            f"  CAST(MIN(CASE WHEN cum >= ceil({pos}) + 1 THEN v END)"
            f" AS DOUBLE) AS {tag}_hi,\n"
            f"  MIN({pos} - floor({pos})) AS {tag}_frac,\n"
            f"  MIN(ceil({pos}) - {pos}) AS {tag}_cofrac"
        )
        sel.append(
            f"CASE WHEN {tag}_frac = 0 THEN {tag}_lo"
            f" ELSE {tag}_cofrac * {tag}_lo + {tag}_frac * {tag}_hi END"
            f" AS {tag}"
        )
    return (
        f"{pre}_cnt AS (SELECT CAST({col} AS DOUBLE) AS v, COUNT(*) AS c"
        f" FROM {src} WHERE {col} IS NOT NULL GROUP BY {col}),\n"
        f"{pre}_dist AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum,"
        f" SUM(c) OVER () AS n FROM {pre}_cnt),\n"
        f"{pre}_agg AS (SELECT " + ",\n  ".join(quads) + f" FROM {pre}_dist),\n"
        f"{pre}_cut AS (SELECT " + ",\n  ".join(sel) + f" FROM {pre}_agg)"
    )


_RFM_SCORE = {
    "r": "(1 + CAST(CAST(recency_d AS DOUBLE) <= r_80 AS INTEGER)"
    " + CAST(CAST(recency_d AS DOUBLE) <= r_60 AS INTEGER)"
    " + CAST(CAST(recency_d AS DOUBLE) <= r_40 AS INTEGER)"
    " + CAST(CAST(recency_d AS DOUBLE) <= r_20 AS INTEGER))",
    "f": "(1 + CAST(CAST(freq AS DOUBLE) > f_20 AS INTEGER)"
    " + CAST(CAST(freq AS DOUBLE) > f_40 AS INTEGER)"
    " + CAST(CAST(freq AS DOUBLE) > f_60 AS INTEGER)"
    " + CAST(CAST(freq AS DOUBLE) > f_80 AS INTEGER))",
    "m": "(1 + CAST(CAST(monetary_s AS DOUBLE) > m_20 AS INTEGER)"
    " + CAST(CAST(monetary_s AS DOUBLE) > m_40 AS INTEGER)"
    " + CAST(CAST(monetary_s AS DOUBLE) > m_60 AS INTEGER)"
    " + CAST(CAST(monetary_s AS DOUBLE) > m_80 AS INTEGER))",
}

# q105: RFM quintile scoring — cuts via the distribution method (q50
# idiom) so both engines run the identical interpolation expressions.
ORACLES["q105_rfm_segments"] = f"""
    WITH e AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(floor(value * 1024) AS BIGINT) AS vs
        FROM events WHERE event_type = 'purchase'
    ),
    anchor AS (SELECT MAX(d) AS d_max FROM e),
    rfm AS (
        SELECT user_id,
               CAST(MIN(date_diff('day', d, d_max)) AS BIGINT) AS recency_d,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(vs) AS BIGINT) AS monetary_s
        FROM e CROSS JOIN anchor
        GROUP BY user_id
    ),
    {_dist_cut_sql('rfm', 'recency_d', 'r', (0.2, 0.4, 0.6, 0.8))},
    {_dist_cut_sql('rfm', 'freq', 'f', (0.2, 0.4, 0.6, 0.8))},
    {_dist_cut_sql('rfm', 'monetary_s', 'm', (0.2, 0.4, 0.6, 0.8))}
    SELECT user_id, recency_d, freq, monetary_s,
           {_RFM_SCORE['r']} AS r_score,
           {_RFM_SCORE['f']} AS f_score,
           {_RFM_SCORE['m']} AS m_score,
           'R' || CAST({_RFM_SCORE['r']} AS VARCHAR)
               || 'F' || CAST({_RFM_SCORE['f']} AS VARCHAR)
               || 'M' || CAST({_RFM_SCORE['m']} AS VARCHAR) AS segment
    FROM rfm CROSS JOIN r_cut CROSS JOIN f_cut CROSS JOIN m_cut
"""

# q106: collocation lift through HUGEINT intermediates — `//` floors,
# matching Spark's DECIMAL(38,0) `div` on the always-positive counts.
ORACLES["q106_collocations"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    bi AS (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i])) AS w1,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i + 1])) AS w2
        FROM t WHERE len(toks) >= 2
    ),
    uni AS (SELECT unnest(toks) AS w FROM t),
    cu AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w),
    ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_uni FROM uni),
    cb AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
        FROM bi GROUP BY w1, w2 HAVING COUNT(*) >= 20
    )
    SELECT w1 || ' ' || w2 AS gram, cb, c1, c2,
           CAST((CAST(cb AS HUGEINT) * n_uni * 1048576)
                // (CAST(c1 AS HUGEINT) * c2) AS BIGINT) AS lift_s
    FROM cb
    JOIN (SELECT w AS w1, c AS c1 FROM cu) USING (w1)
    JOIN (SELECT w AS w2, c AS c2 FROM cu) USING (w2)
    CROSS JOIN ntot
    ORDER BY lift_s DESC, gram ASC
    LIMIT 20
"""


def _profile_side_sql(side: str, suffix: str) -> str:
    """q86-style one-pass profile of one lineitem-pair side for the four
    drift-probed columns (canonical renderings mirror
    ``operators/profile._canon``)."""
    cols = [
        ("l_quantity", "dbl"),
        ("l_extendedprice", "dbl"),
        ("l_returnflag", "str"),
        ("l_shipdate", "ts"),
    ]
    aggs, rows = [], []
    for i, (c, kind) in enumerate(cols, 1):
        aggs.append(f"CAST(COUNT({c}) AS BIGINT) AS nn{i}")
        aggs.append(f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd{i}")
        if kind == "dbl":
            aggs.append(
                f"CAST(CAST(floor(MIN({c}) * 10000) AS BIGINT) AS VARCHAR)"
                f" AS mn{i}"
            )
            aggs.append(
                f"CAST(CAST(floor(MAX({c}) * 10000) AS BIGINT) AS VARCHAR)"
                f" AS mx{i}"
            )
        elif kind == "ts":
            aggs.append(f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S') AS mn{i}")
            aggs.append(f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S') AS mx{i}")
        else:
            aggs.append(f"MIN({c}) AS mn{i}")
            aggs.append(f"MAX({c}) AS mx{i}")
        rows.append(
            f"SELECT '{c}' AS \"column\", nn{i} AS nn_{suffix},"
            f" nd{i} AS ndv_{suffix}, mn{i} AS mn_{suffix},"
            f" mx{i} AS mx_{suffix} FROM p_{suffix}"
        )
    return (
        f"p_{suffix} AS (SELECT "
        + ", ".join(aggs)
        + f" FROM {side}),\n prof_{suffix} AS ("
        + "\n UNION ALL ".join(rows)
        + ")"
    )


# q107: profile drift over the perturbed lineitem pair — two one-pass
# profiles joined per column with drift flags.
ORACLES["q107_profile_drift"] = f"""
    WITH {LINEITEM_PAIR_SQL_CTES},
    {_profile_side_sql('hive_li', 'h')},
    {_profile_side_sql('sf_li', 's')}
    SELECT h."column", nn_h, nn_s, ndv_h, ndv_s,
           nn_h <> nn_s AS count_drift,
           ndv_h <> ndv_s AS ndv_drift,
           (mn_h <> mn_s OR mx_h <> mx_s) AS range_drift
    FROM prof_h h JOIN prof_s s ON h."column" = s."column"
"""


# q108: the oracle is the full recompute; the engine's stored+delta
# combine must be bit-identical (counts and cent-sums are associative).
ORACLES["q108_incremental_agg"] = """
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    GROUP BY o_custkey
"""

# q109: equi-depth deciles — cuts via the distribution method (q50
# idiom, _dist_cut_sql) so both engines run identical interpolation.
ORACLES["q109_equidepth_histogram"] = f"""
    WITH li AS (SELECT l_extendedprice AS v FROM lineitem),
    {_dist_cut_sql('li', 'v', 'c',
                   (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))}
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(floor(MIN(v) * 100) AS BIGINT) AS min_cents,
           CAST(floor(MAX(v) * 100) AS BIGINT) AS max_cents
    FROM (
        SELECT v,
               1 + CAST(v > c_10 AS INTEGER) + CAST(v > c_20 AS INTEGER)
                 + CAST(v > c_30 AS INTEGER) + CAST(v > c_40 AS INTEGER)
                 + CAST(v > c_50 AS INTEGER) + CAST(v > c_60 AS INTEGER)
                 + CAST(v > c_70 AS INTEGER) + CAST(v > c_80 AS INTEGER)
                 + CAST(v > c_90 AS INTEGER) AS bin
        FROM li CROSS JOIN c_cut
    )
    GROUP BY bin
"""

# q110: FK audit — orphans per relationship via NOT EXISTS, with the
# simulated partial orders load (o_orderkey % 7 = 0 dropped).
ORACLES["q110_fk_integrity"] = """
    WITH o_part AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT 'lineitem->orders' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM o_part o
                              WHERE o.o_orderkey = l.l_orderkey))
               AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'orders->customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
"""


# q111: GROUPING SETS — same three granularities in one pass.
ORACLES["q111_grouping_sets"] = """
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS total_cents,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
    FROM orders
    GROUP BY GROUPING SETS (
        (o_orderpriority, o_orderstatus),
        (o_orderpriority),
        ()
    )
"""

# q112: rank-family windows with a tie-free composite order.
ORACLES["q112_rank_windows"] = """
    SELECT * FROM (
        SELECT o_orderpriority, o_orderkey,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               percent_rank() OVER w AS prnk,
               cume_dist() OVER w AS cdist,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile
        FROM orders
        WINDOW w AS (
            PARTITION BY o_orderpriority
            ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT) DESC,
                     o_orderkey ASC
        )
    ) WHERE rnk <= 50
"""

# q113: family-size histogram over the q65 cluster output (the full CC
# oracle replayed as a subquery).
ORACLES["q113_dup_families"] = f"""
    SELECT cluster_size,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_families,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(NOT is_canonical AS INTEGER)) AS BIGINT)
               AS n_removable
    FROM ({ORACLES['q65_dedup_clusters']})
    WHERE cluster_size >= 2
    GROUP BY cluster_size
    ORDER BY cluster_size
"""

# q114: sliding windows — each event explodes to its 3 covering
# 10-min-grid starts; epoch-second longs as the window key.
ORACLES["q114_sliding_windows"] = """
    WITH hits AS (
        -- epoch() is a fractional DOUBLE and CAST(double AS BIGINT)
        -- ROUNDS in DuckDB: floor() first, or sub-second events just
        -- below a grid boundary land one slide late.
        SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT)
                   - 600 * unnest(generate_series(0, 2)) AS w_start,
               event_type, user_id, epoch(ts) AS es
        FROM events
    )
    SELECT w_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM hits
    WHERE es >= w_start AND es < w_start + 1800
    GROUP BY w_start, event_type
"""


# q115: last-touch attribution — running last non-purchase via a
# ROWS-preceding window, 60-min lookback, organic fallback.
ORACLES["q115_attribution"] = """
    WITH tagged AS (
        SELECT user_id, ts, event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN struct_pack(t_ts := ts,
                                                t_type := event_type)
                          END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS lt
        FROM events
    )
    SELECT CASE WHEN lt IS NOT NULL
                 AND epoch_ms(ts) - epoch_ms(lt.t_ts) <= 3600000
                THEN lt.t_type ELSE 'organic' END AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(CAST(floor(value * 1024) AS BIGINT)) AS BIGINT)
               AS value_s
    FROM tagged
    WHERE event_type = 'purchase'
    GROUP BY 1
"""

# q116: seasonal anomaly — integer comparison n*days > 2*total.
ORACLES["q116_seasonal_anomaly"] = """
    WITH cells AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(hour(ts) AS BIGINT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    base AS (
        SELECT event_type, hod,
               CAST(SUM(n) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM cells GROUP BY 1, 2
    )
    SELECT c.event_type, c.day, c.hod, c.n, b.total, b.n_days
    FROM cells c JOIN base b USING (event_type, hod)
    WHERE c.n * b.n_days > 2 * b.total
"""

# q117: Pareto deciles over the per-customer aggregate (rank window
# runs on customers, never the order stream).
ORACLES["q117_revenue_concentration"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               CAST(ntile(10) OVER (ORDER BY cents DESC, o_custkey ASC)
                    AS BIGINT) AS decile
        FROM per_cust
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM ranked)
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(SUM(cents) AS DOUBLE) / CAST(total_cents AS DOUBLE)
               AS revenue_share
    FROM ranked CROSS JOIN tot
    GROUP BY decile, total_cents
"""

# q118: sentence segmentation stats — mean length as a 2^10-scaled
# integer ratio; same split regexes in both engines.
ORACLES["q118_sentence_stats"] = """
    WITH sents AS (
        SELECT doc_id,
               list_filter(list_transform(
                   string_split_regex(text, '[.!?]+'), s -> trim(s)),
                   s -> length(s) > 0) AS s
        FROM documents
    ),
    lens AS (
        SELECT doc_id,
               list_transform(s, x -> CAST(len(list_filter(
                   string_split_regex(x, '\\s+'),
                   t -> length(t) > 0)) AS BIGINT)) AS l
        FROM sents
    )
    SELECT doc_id,
           CAST(len(l) AS BIGINT) AS n_sentences,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), l),
                            (a, x) -> a + x) AS BIGINT) AS n_tokens,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), l),
                            (a, x) -> a + x) * 1024 // len(l) AS BIGINT)
               AS mean_len_s,
           CAST(list_max(l) AS BIGINT) AS max_len
    FROM lens
    WHERE len(l) > 0
"""


# q119: TPC-H Q10 shape — return-flag filter, 4-way join, exact
# integer revenue (cents x (100 - discount-cents)).
ORACLES["q119_returned_items"] = """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
                AS BIGINT) AS revenue_s
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_s DESC, c.c_custkey ASC
    LIMIT 20
"""

# q120: TPC-H Q18 shape — aggregate-then-join on qualifying orders.
ORACLES["q120_large_orders"] = """
    WITH qty AS (
        SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_date,
           CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS total_cents,
           q.sum_qty
    FROM orders o
    JOIN qty q ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY q.sum_qty DESC, o.o_orderkey ASC
    LIMIT 50
"""

# q121: deterministic IVF ANN — probe + candidate + rank stages
# composed onto the Lloyd CTE chain (c1 = the codebook that produced
# the final assignment a2).
_IVF_QDIST = (
    "list_reduce(list_prepend(0.0, list_transform("
    "generate_series(1, len(q.qv)), i -> (q.qv[i] - c1.c[i])"
    " * (q.qv[i] - c1.c[i]))), (acc, x) -> acc + x)"
)
_IVF_CDIST = (
    "list_reduce(list_prepend(0.0, list_transform("
    "generate_series(1, len(p.qv)), i -> (p.qv[i] - a.v[i])"
    " * (p.qv[i] - a.v[i]))), (acc, x) -> acc + x)"
)
ORACLES["q121_ivf_ann"] = _kmeans_oracle(
    k=4,
    iters=2,
    extra_ctes=[
        "qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5)",
        f"""probes AS (
            SELECT qid, qv, cluster FROM (
                SELECT q.qid, q.qv, c1.cluster,
                       row_number() OVER (
                           PARTITION BY q.qid
                           ORDER BY {_IVF_QDIST} ASC, c1.cluster ASC)
                           AS prn
                FROM qs q CROSS JOIN c1
            ) WHERE prn <= 2
        )""",
        f"""cand AS (
            SELECT p.qid, a.vec_id AS corpus_id, {_IVF_CDIST} AS dist
            FROM probes p JOIN a2 a ON a.cluster = p.cluster
        )""",
    ],
    tail="""
    SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rnk, corpus_id, dist
    FROM (
        SELECT qid, corpus_id, dist,
               row_number() OVER (
                   PARTITION BY qid ORDER BY dist ASC, corpus_id ASC)
                   AS rnk
        FROM cand
    ) WHERE rnk <= 3
    """,
)


# q122: binary-asset catalog — md5(text) == md5 of its UTF-8 payload,
# so the digest/magic stats replay without a BLOB md5 (DuckDB 1.0's
# md5 is VARCHAR-only); only DISTINCT COUNTS of digest/magic surface,
# so hex case differences never reach the hash.
ORACLES["q122_binary_assets"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_digests,
           CAST(COUNT(DISTINCT substr(hex(encode(text)), 1, 8)) AS BIGINT)
               AS n_magics
    FROM documents
    GROUP BY source
"""

# q123: simplified silhouette — dyadic-integer centroids (q70 rail),
# the same left-to-right distance fold as squared_l2.
_Q123_DIST = (
    "list_reduce(list_prepend(0.0, list_transform("
    "generate_series(1, len(e.v)), i -> (e.v[i] - c[i]) * (e.v[i] - c[i]))), "
    "(acc, x) -> acc + x)"
)
ORACLES["q123_label_silhouette"] = f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    sums AS (
        SELECT label, i AS dim,
               SUM(CAST(floor(val * 8589934592) AS BIGINT)) AS s,
               COUNT(*) AS n
        FROM (
            SELECT label, unnest(v) AS val,
                   unnest(generate_series(1, len(v))) AS i
            FROM e
        ) GROUP BY label, i
    ),
    cents AS (
        SELECT label AS clabel,
               list(CAST(s AS DOUBLE) / CAST(n * 8589934592 AS DOUBLE)
                    ORDER BY dim) AS c
        FROM sums GROUP BY label
    ),
    dists AS (
        SELECT e.vec_id, e.label,
               MIN(CASE WHEN clabel = e.label THEN {_Q123_DIST} END) AS a,
               MIN(CASE WHEN clabel <> e.label THEN {_Q123_DIST} END) AS b
        FROM e CROSS JOIN cents
        GROUP BY e.vec_id, e.label
    )
    SELECT vec_id, label, a, b,
           CASE WHEN greatest(a, b) = 0.0 THEN 0.0
                ELSE (b - a) / greatest(a, b) END AS silhouette
    FROM dists
"""

# q124: chi-square-style drift — HUGEINT squared-count intermediates,
# floor division matching Spark's DECIMAL(38,0) `div`.
def _q124_side_hist(side: str, col: str, width: int, tag: str) -> str:
    return (
        f"{tag} AS (SELECT CAST(floor({col} * 100 / {width}) AS BIGINT)"
        f" AS bucket, CAST(COUNT(*) AS BIGINT) AS c_{tag}"
        f" FROM {side} GROUP BY 1)"
    )


def _q124_col(col: str, width: int) -> str:
    return f"""
    SELECT '{col}' AS "column",
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CAST((CAST(c1 - c2 AS HUGEINT) * (c1 - c2) * 1048576)
                // CAST(c1 + c2 AS HUGEINT) AS BIGINT)) AS BIGINT) AS chi2_s
    FROM (
        SELECT COALESCE(c_h_{col}, 0) AS c1, COALESCE(c_s_{col}, 0) AS c2
        FROM h_{col} FULL OUTER JOIN s_{col} USING (bucket)
    )
    """


ORACLES["q124_dist_drift"] = (
    "WITH "
    + LINEITEM_PAIR_SQL_CTES.strip()
    + ",\n"
    + ",\n".join(
        [
            _q124_side_hist("hive_li", "l_quantity", 100, "h_l_quantity"),
            _q124_side_hist("sf_li", "l_quantity", 100, "s_l_quantity"),
            _q124_side_hist(
                "hive_li", "l_extendedprice", 100000, "h_l_extendedprice"
            ),
            _q124_side_hist(
                "sf_li", "l_extendedprice", 100000, "s_l_extendedprice"
            ),
        ]
    )
    + _q124_col("l_quantity", 100)
    + " UNION ALL "
    + _q124_col("l_extendedprice", 100000)
)


# q125: the oracle is the quadratic all-pairs SPEC; the engine's
# prefix-filter candidates + verify must reproduce it exactly (the
# prefix bound is lossless by the Bayardo/PPJoin argument).
ORACLES["q125_setsim_prefix_join"] = """
    WITH t AS (
        SELECT doc_id,
               list_transform(
                   list_distinct(list_filter(
                       string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> length(x) > 0)),
                   x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS s
        FROM documents
        WHERE doc_id % 10 = 0
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.s, b.s)) AS i,
               len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
        FROM t a JOIN t b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CASE WHEN u = 0 THEN 0.0
                ELSE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) END AS jaccard
    FROM pairs
    WHERE u > 0 AND CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.8
"""

# q126: recall@3 of the q121 IVF against the exact brute-force top-3
# (same distance fold); the IVF side replays the full q121 oracle.
_Q126_DIST = (
    "list_reduce(list_prepend(0.0, list_transform("
    "generate_series(1, len(c.v)), i -> (c.v[i] - q.v[i])"
    " * (c.v[i] - q.v[i]))), (acc, x) -> acc + x)"
)
ORACLES["q126_ann_recall"] = f"""
    WITH ev AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ex AS (
        SELECT query_id, ex_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS ex_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_Q126_DIST} ASC, c.vec_id ASC) AS rn
            FROM ev c CROSS JOIN (SELECT * FROM ev WHERE vec_id < 5) q
        ) WHERE rn <= 3
    ),
    ivf AS (
        SELECT query_id, corpus_id AS ivf_id
        FROM ({ORACLES['q121_ivf_ann']})
    ),
    hits AS (
        SELECT e.query_id FROM ex e
        WHERE EXISTS (SELECT 1 FROM ivf i
                      WHERE i.query_id = e.query_id
                        AND i.ivf_id = e.ex_id)
    ),
    h AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM hits GROUP BY query_id
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COALESCE(MAX(h.n_hit), 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(MAX(h.n_hit), 0) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM ex e LEFT JOIN h ON e.query_id = h.query_id
    GROUP BY e.query_id
"""


# q127: leave-one-out 3-NN majority vote — same distance fold; vote
# tiebreak (count desc, label asc) matches the engine window.  The
# fixed 256-query eval sample (smallest md5(vec_id), vec_id tiebreak)
# mirrors the engine's TakeOrderedAndProject budget.
_Q127_DIST = (
    "list_reduce(list_prepend(0.0, list_transform("
    "generate_series(1, len(c.v)), i -> (c.v[i] - q.v[i])"
    " * (c.v[i] - q.v[i]))), (acc, x) -> acc + x)"
)
ORACLES["q127_knn_accuracy"] = f"""
    WITH ev AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    nn AS (
        SELECT qid, true_label, label FROM (
            SELECT q.vec_id AS qid, q.label AS true_label,
                   c.label AS label,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_Q127_DIST} ASC, c.vec_id ASC) AS rn
            FROM ev c
            CROSS JOIN (SELECT * FROM ev
                        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                        LIMIT 256) q
            WHERE c.vec_id <> q.vec_id
        ) WHERE rn <= 3
    ),
    votes AS (
        SELECT qid, true_label, label AS pred_label FROM (
            SELECT qid, true_label, label, COUNT(*) AS nv,
                   row_number() OVER (
                       PARTITION BY qid
                       ORDER BY COUNT(*) DESC, label ASC) AS vr
            FROM nn GROUP BY qid, true_label, label
        ) WHERE vr = 1
    )
    SELECT true_label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CAST(pred_label = true_label AS INTEGER)) AS BIGINT)
               AS n_correct,
           CAST(SUM(CAST(pred_label = true_label AS INTEGER)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS accuracy
    FROM votes
    GROUP BY true_label
"""

# q128: Gini by the rank formula — HUGEINT rank-weighted sums, one
# double division at the end.
ORACLES["q128_customer_gini"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               CAST(row_number() OVER (
                   ORDER BY cents ASC, o_custkey ASC) AS BIGINT) AS i
        FROM per_cust
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               SUM(CAST(i AS HUGEINT) * cents) AS ws
        FROM ranked
    )
    SELECT n, total_cents,
           2.0 * CAST(ws AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(total_cents AS DOUBLE))
               - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
    FROM agg
"""


# q129: gaps-and-islands union of 5-minute activity windows.
ORACLES["q129_active_time"] = """
    WITH e AS (
        SELECT user_id, epoch_ms(ts) AS s,
               epoch_ms(ts) + 300000 AS t, event_id
        FROM events
    ),
    marked AS (
        SELECT user_id, s, t, event_id,
               CASE WHEN max(t) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) IS NULL
                     OR s > max(t) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS is_new
        FROM e
    ),
    islands AS (
        SELECT user_id,
               SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS UNBOUNDED PRECEDING) AS island,
               s, t
        FROM marked
    ),
    merged AS (
        SELECT user_id, island, MIN(s) AS i_start, MAX(t) AS i_end
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(i_end - i_start) AS BIGINT) AS active_ms
    FROM merged
    GROUP BY user_id
"""

# q130: MoM growth — lag over the bounded month table.
ORACLES["q130_monthly_growth"] = """
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    )
    SELECT month, n_orders, cents,
           CAST(cents - lag(cents) OVER (ORDER BY month) AS DOUBLE)
               / CAST(lag(cents) OVER (ORDER BY month) AS DOUBLE)
               AS growth
    FROM monthly
"""


# q131: histogram intersection in exact integers — HUGEINT cross
# products, one final division.
ORACLES["q131_source_similarity"] = """
    WITH tok AS (
        SELECT source, unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> length(x) > 0)) AS w
        FROM documents
    ),
    counts AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, w
    ),
    totals AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM tok GROUP BY source
    ),
    sides AS (
        SELECT c.source, c.w, c.c, t.n
        FROM counts c JOIN totals t USING (source)
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(SUM(least(CAST(a.c AS HUGEINT) * b.n,
                          CAST(b.c AS HUGEINT) * a.n)) AS DOUBLE)
               / (CAST(MAX(a.n) AS DOUBLE) * CAST(MAX(b.n) AS DOUBLE))
               AS similarity
    FROM sides a JOIN sides b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source
"""

# q132: DAU split into new vs returning via the first-seen aggregate.
ORACLES["q132_growth_accounting"] = """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    first AS (
        SELECT user_id, MIN(day) AS first_day
        FROM active GROUP BY user_id
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS dau,
           CAST(SUM(CAST(day = first_day AS INTEGER)) AS BIGINT)
               AS new_users,
           CAST(SUM(CAST(day <> first_day AS INTEGER)) AS BIGINT)
               AS returning_users
    FROM active JOIN first USING (user_id)
    GROUP BY day
"""


# q133: DAU/WAU stickiness — the contribution-table rewrite for
# rolling distincts; report days need a full 7-day history.
ORACLES["q133_stickiness"] = """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
        FROM active GROUP BY day
    ),
    contrib AS (
        SELECT user_id,
               unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS rday
        FROM active
    ),
    wau AS (
        SELECT CAST(rday AS DATE) AS rday,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM contrib GROUP BY 1
    ),
    span AS (SELECT MIN(day) AS d0 FROM active)
    SELECT d.day, d.dau, w.wau,
           CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.rday
    CROSS JOIN span
    WHERE date_diff('day', d0, d.day) >= 6
"""


# q134: exact-substring decontamination — the quadratic contains()
# cross-check IS the spec; the Spark side earns its keep by computing
# the same answer in one linear Aho-Corasick corpus scan.
ORACLES["q134_exact_contamination"] = """
    WITH pats AS (
        SELECT doc_id AS test_id,
               substr(text, 11, 30 + CAST(doc_id % 25 AS INTEGER)) AS pat
        FROM documents
        WHERE doc_id % 40 = 0 AND n_chars >= 65
    )
    SELECT d.doc_id,
           CAST(COUNT(DISTINCT p.test_id) AS BIGINT) AS n_test_items,
           CAST(COUNT(DISTINCT CASE WHEN p.test_id <> d.doc_id
                                    THEN p.test_id END) AS BIGINT)
               AS n_foreign_items,
           CAST(MIN(position(p.pat IN d.text) - 1) AS BIGINT)
               AS first_hit_pos
    FROM documents d
    JOIN pats p ON contains(d.text, p.pat)
    GROUP BY d.doc_id
"""


# q135: systematic PPS sample — the serial window prefix sum IS the
# spec; integer draw-count arithmetic replayed verbatim (SUM(BIGINT)
# is HUGEINT in DuckDB, so every term is cast back before comparing).
ORACLES["q135_pps_sample"] = """
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> length(x) > 0)) AS BIGINT) AS n_tok,
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'r4'), 1, 15))
                     AS BIGINT) % 1000000) / 1000000.0 AS u
        FROM documents
    ),
    o AS (
        SELECT doc_id, n_tok,
               CAST(SUM(n_tok) OVER (
                   ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM t
    ),
    s AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS w FROM t),
    c AS (
        SELECT doc_id, n_tok,
               CAST(LEAST(400, GREATEST(0, (800 * cum + w - 1) // (2 * w)))
                  - LEAST(400, GREATEST(0, (800 * (cum - n_tok) + w - 1) // (2 * w)))
                    AS BIGINT) AS n_copies
        FROM o CROSS JOIN s
    )
    SELECT doc_id, n_tok, n_copies FROM c WHERE n_copies >= 1
"""


# q137: priority sampling — priorities are exact-integer operands through
# one correctly-rounded IEEE division, so both engines rank identically;
# tau is the 251st priority (or 0 when the population is <= 250).
ORACLES["q137_priority_sample"] = """
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> length(x) > 0)) AS BIGINT) AS n_tok,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'r5'), 1, 15))
                    AS BIGINT) % 1000000 AS m
        FROM documents
    ),
    q AS (
        SELECT doc_id, n_tok,
               CAST(n_tok * 1000000 AS DOUBLE) / CAST(m + 1 AS DOUBLE)
                   AS priority
        FROM t WHERE n_tok > 0
    ),
    r AS (
        SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rn
        FROM q
    ),
    tau AS (
        SELECT CASE WHEN (SELECT COUNT(*) FROM q) >= 251
                    THEN (SELECT priority FROM r WHERE rn = 251)
                    ELSE 0.0 END AS tau
    )
    SELECT doc_id, n_tok, priority,
           greatest(CAST(n_tok AS DOUBLE), tau) AS est_weight
    FROM r, tau WHERE rn <= 250
"""


def _bpe_oracle(rounds: int) -> str:
    """Replay distributed BPE training round by round: the word-frequency
    table is built once, then each round counts adjacent symbol pairs,
    picks the (count desc, pair asc) argmax, and applies the merge with
    the same literal left-to-right ``replace`` Spark uses on the
    delimiter-wrapped symbol string (see ``operators/bpe.py``)."""
    parts = [
        """WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0)) AS token
    FROM documents
),
words0 AS (
    SELECT regexp_replace(token, '(.)', '(\\1)', 'g') || '($)' AS seq,
           CAST(COUNT(*) AS BIGINT) AS freq
    FROM toks WHERE regexp_matches(token, '^[a-z0-9]+$')
    GROUP BY token
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
pairs{r} AS (
    SELECT p.l AS sym_l, p.r AS sym_r, freq FROM (
        SELECT unnest(list_transform(generate_series(1, len(s) - 1),
                      i -> {{'l': s[i], 'r': s[i+1]}})) AS p, freq
        FROM (SELECT string_split(substr(seq, 2, length(seq) - 2), ')(') AS s,
                     freq FROM words{r - 1})
    )
),
best{r} AS (
    SELECT sym_l, sym_r, CAST(SUM(freq) AS BIGINT) AS cnt
    FROM pairs{r} GROUP BY sym_l, sym_r
    ORDER BY cnt DESC, sym_l ASC, sym_r ASC LIMIT 1
),
words{r} AS (
    SELECT replace(seq, '(' || b.sym_l || ')(' || b.sym_r || ')',
                   '(' || b.sym_l || b.sym_r || ')') AS seq, freq
    FROM words{r - 1}, best{r} b
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, sym_l, sym_r, "
        f"sym_l || sym_r AS merged, cnt FROM best{r}"
        for r in range(1, rounds + 1)
    )
    return "".join(parts) + f"\nSELECT * FROM ({finals})"


ORACLES["q138_bpe_vocab"] = _bpe_oracle(8)


# q139: temperature mixture — sqrt is correctly rounded (alpha = 0.5 by
# design), the denominator is an exact integer sum of floor(sqrt*2^20),
# and every double op after that is a single correctly-rounded step.
ORACLES["q139_temperature_mix"] = """
    WITH per AS (
        SELECT source,
               CAST(SUM(CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                             x -> length(x) > 0)) AS BIGINT))
                    AS BIGINT) AS n_tok
        FROM documents GROUP BY source
    ),
    per2 AS (
        SELECT source, n_tok,
               CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * 1048576.0) AS BIGINT)
                   AS q
        FROM per
    ),
    tot AS (
        SELECT CAST(SUM(n_tok) AS BIGINT) AS N, CAST(SUM(q) AS BIGINT) AS S
        FROM per2
    )
    SELECT source, n_tok,
           CAST(n_tok AS DOUBLE) / CAST(N AS DOUBLE) AS nat_frac,
           CAST(q AS DOUBLE) / CAST(S AS DOUBLE) AS temp_weight,
           1000000.0 * (CAST(q AS DOUBLE) / CAST(S AS DOUBLE))
               / CAST(n_tok AS DOUBLE) AS epochs
    FROM per2, tot
"""


# q140: Bloom gate — membership is the SPEC ("all h positions set"), so
# the oracle replays the md5 positions and joins the distinct corpus
# position set directly; the packed-long bitmap is implementation.
ORACLES["q140_bloom_gate"] = """
    WITH pos AS (
        SELECT doc_id, source, h.i AS i,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                        || 'bloom-r5#' || h.i), 1, 15))
                    AS BIGINT) % 8192 AS p
        FROM documents, (SELECT unnest(generate_series(0, 3)) AS i) h
    ),
    corpus_bits AS (SELECT DISTINCT p FROM pos WHERE doc_id % 5 <> 0),
    flags AS (
        SELECT pos.doc_id, pos.source,
               MIN(CASE WHEN cb.p IS NOT NULL THEN 1 ELSE 0 END) AS hit
        FROM pos LEFT JOIN corpus_bits cb ON pos.p = cb.p
        GROUP BY pos.doc_id, pos.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(hit) AS BIGINT) AS n_flagged,
           CAST(SUM(1 - hit) AS BIGINT) AS n_certified_new,
           CAST(SUM(CASE WHEN hit = 1 AND doc_id % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM flags GROUP BY source
"""


def _repeated_span_ctes(
    min_len: int, keep_first: bool, rel: str = "documents", tag: str = ""
) -> str:
    """Shared CTE chain for q141/q142: stride-1 seed positions on the
    portable 60-bit md5 gram hash -> repeated-gram counts with the
    corpus-first occurrence (min (doc_id, p) ROW — lexicographic, same
    total order Spark's min(struct) uses) -> marked positions ->
    gaps-and-islands merge into maximal spans (new island when the gap
    exceeds the gram length, i.e. intervals no longer overlap/abut).

    The keeper election is ``row_number() OVER (PARTITION BY h ORDER BY
    doc_id, p)`` — rn 1 is exactly Spark's ``min(struct(doc, pos))``
    (same lexicographic total order).  Deliberately NOT the
    min-struct + join form: DuckDB 1.0 evaluates struct aggregates /
    comparisons row-at-a-time (measured 134 s vs 0.24 s for the whole
    span pipeline on the sf0.01 position table).

    ``rel``/``tag``: read from a different source relation (must expose
    ``doc_id, text``) with ``tag``-suffixed CTE names — the chaining
    hook q145's two-pass fixpoint oracle uses (pass 2's CTEs read pass
    1's rebuilt corpus).  With a non-empty tag the chain CONTINUES an
    existing WITH (leading comma instead of the WITH keyword)."""
    L = min_len
    kf = " AND rn > 1" if keep_first else ""
    t = tag
    lead = "," if tag else "\n    WITH"
    return f"""{lead} pos{t} AS (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {L} + 1)) AS p
        FROM {rel}
    ),
    hashed{t} AS (
        SELECT doc_id, p,
               CAST('0x' || substr(md5(substr(text, p, {L})), 1, 15)
                    AS BIGINT) AS h
        FROM pos{t}
    ),
    marked{t} AS (
        SELECT doc_id, p FROM (
            SELECT doc_id, p,
                   count(*) OVER (PARTITION BY h) AS cnt,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, p)
                       AS rn
            FROM hashed{t})
        WHERE cnt >= 2{kf}
    ),
    isl{t} AS (
        SELECT doc_id, p,
               CASE WHEN lag(p) OVER w IS NULL
                         OR p - lag(p) OVER w > {L} THEN 1 ELSE 0 END AS ni
        FROM marked{t} WINDOW w AS (PARTITION BY doc_id ORDER BY p)
    ),
    numbered{t} AS (
        SELECT doc_id, p,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY p) AS island
        FROM isl{t}
    ),
    spans{t} AS (
        SELECT doc_id, MIN(p) AS span_start, MAX(p) + {L} - 1 AS span_end,
               COUNT(*) AS n_seeds
        FROM numbered{t} GROUP BY doc_id, island
    )"""


def _excise_rebuild_ctes(rel: str, spans: str, tag: str) -> str:
    """Continuation CTEs rebuilding each document of ``rel`` from the
    complement segments of ``spans`` (q142's lag-window + string_agg
    surgery), ending in ``cleaned{tag} (doc_id, text, n_spans, n_cut)``
    — ``text`` already renamed so another span pass can chain off it."""
    t = tag
    return f""",
    per_doc{t} AS (
        SELECT doc_id, COUNT(*) AS n_spans,
               SUM(span_end - span_start + 1) AS n_cut
        FROM {spans} GROUP BY doc_id
    ),
    headpieces{t} AS (
        SELECT doc_id,
               lag(span_end, 1, 0)
                   OVER (PARTITION BY doc_id ORDER BY span_start) + 1
                   AS seg_start,
               span_start - 1 AS seg_end,
               span_start AS ord
        FROM {spans}
    ),
    pieces{t} AS (
        SELECT doc_id, seg_start, seg_end, ord FROM headpieces{t}
        UNION ALL
        SELECT doc_id, MAX(span_end) + 1 AS seg_start,
               NULL AS seg_end, 2147483647 AS ord
        FROM {spans} GROUP BY doc_id
    ),
    rebuilt{t} AS (
        SELECT p.doc_id,
               string_agg(
                   CASE WHEN p.seg_end IS NULL THEN substr(d.text, p.seg_start)
                        ELSE substr(d.text, p.seg_start,
                                    p.seg_end - p.seg_start + 1) END,
                   '' ORDER BY p.ord) AS clean_text
        FROM pieces{t} p JOIN {rel} d USING (doc_id)
        GROUP BY p.doc_id
    ),
    cleaned{t} AS (
        SELECT d.doc_id,
               COALESCE(r.clean_text, d.text) AS text,
               COALESCE(pd.n_spans, 0) AS n_spans,
               COALESCE(pd.n_cut, 0) AS n_cut
        FROM {rel} d
        LEFT JOIN rebuilt{t} r USING (doc_id)
        LEFT JOIN per_doc{t} pd USING (doc_id)
    )"""


# q141: repeated-substring report — symmetric detection (both copies of
# a duplicated span are spanned), per-source rollup.
ORACLES["q141_repeated_substrings"] = (
    _repeated_span_ctes(30, keep_first=False)
    + """
    SELECT d.source,
           CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_docs_with_repeats,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(s.span_end - s.span_start + 1) AS BIGINT)
               AS n_repeated_chars,
           CAST(MAX(s.span_end - s.span_start + 1) AS BIGINT) AS max_span_len
    FROM spans s JOIN documents d USING (doc_id)
    GROUP BY d.source
"""
)

# q142: keep-first excision — rebuild each touched document from its
# complement segments (lag window over the sorted spans + the tail
# piece), then digest the cleaned corpus per source with the
# COMMUTATIVE sum-of-per-doc-md5 checksum (content_checksum replay —
# HUGEINT sum rendered as VARCHAR because pandas would float64 it).
# The digest must equal Spark's aggregate-over-span-array rebuild
# exactly.
ORACLES["q142_substring_selfdedup"] = (
    _repeated_span_ctes(30, keep_first=True)
    + """,
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_spans,
               SUM(span_end - span_start + 1) AS n_cut
        FROM spans GROUP BY doc_id
    ),
    headpieces AS (
        SELECT doc_id,
               lag(span_end, 1, 0)
                   OVER (PARTITION BY doc_id ORDER BY span_start) + 1
                   AS seg_start,
               span_start - 1 AS seg_end,
               span_start AS ord
        FROM spans
    ),
    pieces AS (
        SELECT doc_id, seg_start, seg_end, ord FROM headpieces
        UNION ALL
        SELECT doc_id, MAX(span_end) + 1 AS seg_start,
               NULL AS seg_end, 2147483647 AS ord
        FROM spans GROUP BY doc_id
    ),
    rebuilt AS (
        SELECT p.doc_id,
               string_agg(
                   CASE WHEN p.seg_end IS NULL THEN substr(d.text, p.seg_start)
                        ELSE substr(d.text, p.seg_start,
                                    p.seg_end - p.seg_start + 1) END,
                   '' ORDER BY p.ord) AS clean_text
        FROM pieces p JOIN documents d USING (doc_id)
        GROUP BY p.doc_id
    ),
    cleaned AS (
        SELECT d.doc_id, d.source,
               COALESCE(r.clean_text, d.text) AS clean_text,
               COALESCE(pd.n_spans, 0) AS n_spans,
               COALESCE(pd.n_cut, 0) AS n_cut
        FROM documents d
        LEFT JOIN rebuilt r USING (doc_id)
        LEFT JOIN per_doc pd USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_touched,
           CAST(SUM(n_cut) AS BIGINT) AS n_chars_removed,
           CAST(SUM(CAST('0x' || substr(md5(
                    COALESCE(CAST(doc_id AS VARCHAR), chr(0))
                    || chr(31) || COALESCE(clean_text, chr(0))
                ), 1, 15) AS BIGINT)) AS VARCHAR)
               AS corpus_digest
    FROM cleaned GROUP BY source
"""
)


def _sql_spread2(expr: str) -> str:
    """Morton 16-bit spread — the same mask cascade as
    ``operators/layout._spread2``, emitted as one nested SQL
    expression (DuckDB's &, |, << are plain BIGINT ops)."""
    x = f"(({expr}) & 65535)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                        (2, 0x33333333), (1, 0x55555555)):
        x = f"(({x} | ({x} << {shift})) & {mask})"
    return x


def _q143_skip_branch(layout: str, files_cte: str, pred: str,
                      *clauses: tuple[str, int, int]) -> str:
    hit = " AND ".join(
        f"(min_{col} <= {hi} AND max_{col} >= {lo})"
        for col, lo, hi in clauses
    )
    return f"""
    SELECT '{layout}' AS layout, '{pred}' AS predicate,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN {hit} THEN 1 ELSE 0 END) AS BIGINT)
               AS files_hit,
           CAST(SUM(CASE WHEN {hit} THEN frows ELSE 0 END) AS BIGINT)
               AS rows_in_hit_files
    FROM {files_cte}"""


# q143: replay scaling + Morton cascade + row_number file assignment +
# per-file min/max + overlap test — bit-identical integer arithmetic.
ORACLES["q143_zorder_skipping"] = (
    """
    WITH o AS (
        SELECT o_orderkey, o_custkey,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS o_day
        FROM orders
    ),
    rng AS (
        SELECT min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
               min(o_day) AS d_min, max(o_day) AS d_max
        FROM o
    ),
    scaled AS (
        SELECT o.o_orderkey, o.o_custkey, o.o_day,
               CAST(floor(((o_custkey - ck_min) * 65535.0)
                          / greatest(ck_max - ck_min, 1)) AS BIGINT) AS sx,
               CAST(floor(((o_day - d_min) * 65535.0)
                          / greatest(d_max - d_min, 1)) AS BIGINT) AS sy
        FROM o, rng
    ),
    keyed AS (
        SELECT o_orderkey, o_custkey, o_day,
               ("""
    + _sql_spread2("sx")
    + " | ("
    + _sql_spread2("sy")
    + """ << 1)) AS zkey
        FROM scaled
    ),
    lin_files AS (
        SELECT (row_number() OVER (ORDER BY o_day, o_orderkey) - 1) // 500
                   AS fid,
               o_custkey, o_day
        FROM keyed
    ),
    z_files AS (
        SELECT (row_number() OVER (ORDER BY zkey, o_orderkey) - 1) // 500
                   AS fid,
               o_custkey, o_day
        FROM keyed
    ),
    lin_stats AS (
        SELECT fid, COUNT(*) AS frows,
               min(o_custkey) AS min_o_custkey, max(o_custkey) AS max_o_custkey,
               min(o_day) AS min_o_day, max(o_day) AS max_o_day
        FROM lin_files GROUP BY fid
    ),
    z_stats AS (
        SELECT fid, COUNT(*) AS frows,
               min(o_custkey) AS min_o_custkey, max(o_custkey) AS max_o_custkey,
               min(o_day) AS min_o_day, max(o_day) AS max_o_day
        FROM z_files GROUP BY fid
    )
"""
    + _q143_skip_branch("linear_date", "lin_stats", "custkey_band",
                        ("o_custkey", 100, 400))
    + " UNION ALL "
    + _q143_skip_branch("linear_date", "lin_stats", "custkey_and_quarter",
                        ("o_custkey", 100, 400), ("o_day", 10408, 10499))
    + " UNION ALL "
    + _q143_skip_branch("linear_date", "lin_stats", "date_quarter",
                        ("o_day", 10408, 10499))
    + " UNION ALL "
    + _q143_skip_branch("zorder", "z_stats", "custkey_band",
                        ("o_custkey", 100, 400))
    + " UNION ALL "
    + _q143_skip_branch("zorder", "z_stats", "custkey_and_quarter",
                        ("o_custkey", 100, 400), ("o_day", 10408, 10499))
    + " UNION ALL "
    + _q143_skip_branch("zorder", "z_stats", "date_quarter",
                        ("o_day", 10408, 10499))
)

# q144: quantile normalization — within-source midpoint rank mapped to
# the global order statistic; every step integer, the score itself the
# mirrored-expression quality double scaled to a long.
ORACLES["q144_quantile_calibration"] = f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(floor(({sql_quality_score('text')}) * 1000000.0)
                    AS BIGINT) AS q
        FROM documents
    ),
    g AS (
        SELECT q AS q_cal,
               row_number() OVER (ORDER BY q, doc_id) AS _g
        FROM d
    ),
    nt AS (SELECT COUNT(*) AS _n FROM d),
    ranked AS (
        SELECT d.*,
               row_number() OVER (PARTITION BY source ORDER BY q, doc_id)
                   AS rr,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM d
    ),
    mapped AS (
        SELECT ranked.*,
               greatest(1, least(_n,
                   ((2*rr - 1) * _n + 2*n - 1) // (2*n))) AS _g
        FROM ranked, nt
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(min(q) AS BIGINT) AS raw_min,
           CAST(max(q) AS BIGINT) AS raw_max,
           CAST(min(q_cal) AS BIGINT) AS cal_min,
           CAST(max(q_cal) AS BIGINT) AS cal_max,
           CAST(SUM(q_cal) AS BIGINT) AS cal_sum
    FROM mapped JOIN g USING (_g)
    GROUP BY source
"""

# q145: two-pass self-dedup fixpoint — the rescan=1 contract replayed
# end-to-end: pass-1 detection+excision (q142's chain on the doc_id%3
# slice), then the SAME chain re-run against the pass-1 rebuilt corpus
# (the splice-manufactured repeats only the second pass can see),
# counts accumulated across passes, commutative digest over the final
# text.  When pass 1 cut nothing the corpora coincide and pass 2 adds
# zeros — exactly the operator's early-stop semantics.
ORACLES["q145_selfdedup_fixpoint"] = (
    """
    WITH d0 AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    )"""
    + _repeated_span_ctes(30, keep_first=True, rel="d0", tag="1")
    + _excise_rebuild_ctes("d0", "spans1", "1")
    + _repeated_span_ctes(30, keep_first=True, rel="cleaned1", tag="2")
    + _excise_rebuild_ctes("cleaned1", "spans2", "2")
    + """
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c1.n_spans + c2.n_spans > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_touched,
           CAST(SUM(c1.n_cut + c2.n_cut) AS BIGINT) AS n_chars_removed,
           CAST(SUM(CAST('0x' || substr(md5(
                    COALESCE(CAST(c2.doc_id AS VARCHAR), chr(0))
                    || chr(31) || COALESCE(c2.text, chr(0))
                ), 1, 15) AS BIGINT)) AS VARCHAR)
               AS corpus_digest
    FROM cleaned2 c2
    JOIN cleaned1 c1 USING (doc_id)
    JOIN documents d USING (doc_id)
    GROUP BY d.source
"""
)


def _q146_oracle(rounds: int = 8) -> str:
    """q146: the q138 training chain re-played on the doc_id%5 slice
    with the raw token carried through every merge round, then the
    trained word table joined back to the per-source token stream —
    fit, apply, measure, all in SQL."""
    parts = [
        """WITH base AS (
    SELECT source, text FROM documents WHERE doc_id % 5 = 0
),
stream AS (
    SELECT source,
           unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0)) AS token
    FROM base
),
stream_f AS (
    SELECT source, token FROM stream
    WHERE regexp_matches(token, '^[a-z0-9]+$')
),
words0 AS (
    SELECT token,
           regexp_replace(token, '(.)', '(\\1)', 'g') || '($)' AS seq,
           CAST(COUNT(*) AS BIGINT) AS freq
    FROM stream_f GROUP BY token
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
pairs{r} AS (
    SELECT p.l AS sym_l, p.r AS sym_r, freq FROM (
        SELECT unnest(list_transform(generate_series(1, len(s) - 1),
                      i -> {{'l': s[i], 'r': s[i+1]}})) AS p, freq
        FROM (SELECT string_split(substr(seq, 2, length(seq) - 2), ')(') AS s,
                     freq FROM words{r - 1})
    )
),
best{r} AS (
    SELECT sym_l, sym_r, CAST(SUM(freq) AS BIGINT) AS cnt
    FROM pairs{r} GROUP BY sym_l, sym_r
    ORDER BY cnt DESC, sym_l ASC, sym_r ASC LIMIT 1
),
words{r} AS (
    SELECT token,
           replace(seq, '(' || b.sym_l || ')(' || b.sym_r || ')',
                   '(' || b.sym_l || b.sym_r || ')') AS seq, freq
    FROM words{r - 1}, best{r} b
)"""
        )
    return "".join(parts) + f"""
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(length(s.token)) AS BIGINT) AS n_chars,
           CAST(SUM(length(w.seq) - length(replace(w.seq, '(', ''))) AS BIGINT)
               AS n_symbols,
           CAST((1000 * SUM(length(s.token)))
                // SUM(length(w.seq) - length(replace(w.seq, '(', '')))
                AS BIGINT) AS chars_per_1000_symbols
    FROM stream_f s JOIN words{rounds} w USING (token)
    GROUP BY s.source
"""


ORACLES["q146_bpe_compression"] = _q146_oracle(8)


def _q148_oracle(rounds: int = 16, batch: int = 8) -> str:
    """q148: batched BPE training replayed exactly (``operators/
    bpe.bpe_merges`` with ``batch_size=m``).  Per JOB: pair counts over
    the current word table, a ranked top-``want×4`` list, then the
    greedy symbol-disjoint selection as a recursive CTE — one bounded
    step per ranked row, carrying the used-symbol list and the taken
    count (greedy selection is inherently sequential; the recursion IS
    the spec) — and a second recursion applying the selected merges in
    selection order (they commute by construction, but SQL applies them
    the same way Spark chains its replaces).  The job unroll is fully
    general: ``rounds`` jobs, each with ``want = rounds − merges so
    far`` (a job picks ≥1 while pairs remain, so ``rounds`` jobs always
    suffice) — NOT a fixed jobs = rounds/m split, because batches
    underfill on real data (job 1 on the q148 slice finds only 6
    disjoint pairs in its top 32).  Every multi-referenced CTE is
    MATERIALIZED: DuckDB inlines by default, and the words{j} chain
    referenced twice per job would otherwise expand 2^jobs times
    (measured: 'Too many open files' at 16 jobs)."""
    parts = [
        """WITH RECURSIVE toks AS (
    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0)) AS token
    FROM documents WHERE doc_id % 7 = 0
),
words0 AS MATERIALIZED (
    SELECT regexp_replace(token, '(.)', '(\\1)', 'g') || '($)' AS seq,
           CAST(COUNT(*) AS BIGINT) AS freq
    FROM toks WHERE regexp_matches(token, '^[a-z0-9]+$')
    GROUP BY token
)"""
    ]
    for j in range(1, rounds + 1):
        prev_picks = (
            " + ".join(
                f"(SELECT COUNT(*) FROM sel{i} WHERE pick)" for i in range(1, j)
            )
            or "0"
        )
        parts.append(
            f""",
want{j} AS MATERIALIZED (
    SELECT CAST({rounds} - ({prev_picks}) AS BIGINT) AS w
),
fetch{j} AS MATERIALIZED (
    SELECT CAST(CASE WHEN w <= 1 THEN w
                     WHEN w > {batch} THEN {batch * 4}
                     ELSE w * 4 END AS BIGINT) AS f
    FROM want{j}
),
pairs{j} AS (
    SELECT p.l AS sym_l, p.r AS sym_r, freq FROM (
        SELECT unnest(list_transform(generate_series(1, len(s) - 1),
                      i -> {{'l': s[i], 'r': s[i+1]}})) AS p, freq
        FROM (SELECT string_split(substr(seq, 2, length(seq) - 2), ')(') AS s,
                     freq FROM words{j - 1})
    )
),
ranked{j} AS MATERIALIZED (
    SELECT sym_l, sym_r, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, sym_l, sym_r)
                AS BIGINT) AS rn
    FROM (SELECT sym_l, sym_r, CAST(SUM(freq) AS BIGINT) AS cnt
          FROM pairs{j} GROUP BY sym_l, sym_r)
),
sel{j} AS MATERIALIZED (
    SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS VARCHAR) AS sym_l,
           CAST(NULL AS VARCHAR) AS sym_r, CAST(NULL AS BIGINT) AS cnt,
           FALSE AS pick, CAST(0 AS BIGINT) AS taken,
           CAST([] AS VARCHAR[]) AS used
  UNION ALL
    SELECT rn, sym_l, sym_r, cnt, pick,
           taken + CASE WHEN pick THEN 1 ELSE 0 END,
           CASE WHEN pick
                THEN list_concat(used, [sym_l, sym_r, sym_l || sym_r])
                ELSE used END
    FROM (
        SELECT r.rn, r.sym_l, r.sym_r, r.cnt, s.taken, s.used,
               (s.taken < (SELECT CASE WHEN w > {batch} THEN {batch} ELSE w END
                           FROM want{j})
                AND NOT list_contains(s.used, r.sym_l)
                AND NOT list_contains(s.used, r.sym_r)
                AND NOT list_contains(s.used, r.sym_l || r.sym_r)) AS pick
        FROM sel{j} s JOIN ranked{j} r
          ON r.rn = s.rn + 1 AND r.rn <= (SELECT f FROM fetch{j})
    )
),
picked{j} AS MATERIALIZED (
    SELECT sym_l, sym_r, cnt,
           CAST(row_number() OVER (ORDER BY rn) AS BIGINT) AS k
    FROM sel{j} WHERE pick
),
app{j} AS (
    SELECT seq, freq, CAST(0 AS BIGINT) AS step FROM words{j - 1}
  UNION ALL
    SELECT replace(a.seq, '(' || m.sym_l || ')(' || m.sym_r || ')',
                   '(' || m.sym_l || m.sym_r || ')'),
           a.freq, a.step + 1
    FROM app{j} a JOIN picked{j} m ON m.k = a.step + 1
),
words{j} AS MATERIALIZED (
    SELECT seq, freq FROM app{j}
    WHERE step = (SELECT COUNT(*) FROM picked{j})
)"""
        )
    finals = " UNION ALL ".join(
        "SELECT CAST("
        + (
            " + ".join(
                f"(SELECT COUNT(*) FROM sel{i} WHERE pick)" for i in range(1, j)
            )
            or "0"
        )
        + " + k AS BIGINT) AS round,\n"
        f"       sym_l, sym_r, sym_l || sym_r AS merged, cnt FROM picked{j}"
        for j in range(1, rounds + 1)
    )
    return "".join(parts) + f"\nSELECT * FROM ({finals})"


ORACLES["q148_bpe_batched"] = _q148_oracle(16, 8)


# q151: paragraph dedup — keep-first is replayed with a row_number
# window (partition = the segment text itself, so each partition is
# length-homogeneous and the `length < 20` always-keep clause composes
# with the rank by plain OR); the Spark side's group-min(struct) is the
# same total order (doc_id, pos).
ORACLES["q151_paragraph_dedup"] = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    flat AS (
        SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
            SELECT doc_id, unnest(
                list_transform(
                    generate_series(0, CAST(floor((len(ws) - 1) / 10) AS INT)),
                    i -> {'pos': i,
                          'seg': array_to_string(ws[(i*10+1):(i*10+10)], ' ')}
                )) AS u
            FROM w)
    ),
    judged AS (
        SELECT doc_id, pos, seg,
               (length(seg) < 20 OR row_number() OVER (
                    PARTITION BY seg ORDER BY doc_id, pos) = 1) AS keep
        FROM flat
    )
    SELECT doc_id,
           COALESCE(array_to_string(
               list(seg ORDER BY pos) FILTER (WHERE keep), ' '), '')
               AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(CASE WHEN NOT keep THEN length(seg) END), 0)
               AS BIGINT) AS n_chars_removed
    FROM judged GROUP BY doc_id
"""


# q150: quantized-ANN recall — the exact ranking is q24's float fold
# verbatim; the quantized ranking is pure integer arithmetic (long dot +
# sums of squares) with one sqrt·sqrt·divide at the end, so the only
# float-sensitive sequence is copied, not re-derived.
ORACLES["q150_quantized_ann"] = """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (
        SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings WHERE vec_id % 5 = 0
    ),
    exact AS (
        SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC
            ) AS rank
            FROM (
                SELECT query_id, corpus_id,
                       CASE WHEN nq = 0 OR nc = 0 THEN 0.0
                            ELSE d / (nq * nc) END AS cosine
                FROM (
                    SELECT query_id, corpus_id,
                           list_reduce(
                               list_prepend(0.0, list_transform(
                                   generate_series(1, len(qv)),
                                   i -> qv[i] * cv[i])),
                               (acc, x) -> acc + x) AS d,
                           sqrt(list_reduce(
                               list_prepend(0.0, list_transform(qv, x -> x * x)),
                               (acc, x) -> acc + x)) AS nq,
                           sqrt(list_reduce(
                               list_prepend(0.0, list_transform(cv, x -> x * x)),
                               (acc, x) -> acc + x)) AS nc
                    FROM c, q
                )
            )
        ) WHERE rank <= 3
    ),
    qq AS (
        SELECT query_id,
               CASE WHEN mx > 0 THEN list_transform(qv,
                        x -> CAST(floor(x * 127.0 / mx + 0.5) AS INTEGER))
                    ELSE list_transform(qv, x -> 0) END AS qa
        FROM (SELECT query_id, qv,
                     list_max(list_transform(qv, x -> abs(x))) AS mx FROM q)
    ),
    qc AS (
        SELECT corpus_id,
               CASE WHEN mx > 0 THEN list_transform(cv,
                        x -> CAST(floor(x * 127.0 / mx + 0.5) AS INTEGER))
                    ELSE list_transform(cv, x -> 0) END AS qb
        FROM (SELECT corpus_id, cv,
                     list_max(list_transform(cv, x -> abs(x))) AS mx FROM c)
    ),
    qscored AS (
        SELECT query_id, corpus_id,
               CASE WHEN sa = 0 OR sb = 0 THEN 0.0
                    ELSE CAST(d AS DOUBLE)
                         / (sqrt(CAST(sa AS DOUBLE)) * sqrt(CAST(sb AS DOUBLE)))
               END AS qcos
        FROM (
            SELECT query_id, corpus_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           generate_series(1, len(qa)),
                           i -> CAST(qa[i] AS BIGINT) * qb[i])),
                       (acc, x) -> acc + x) AS d,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           qa, x -> CAST(x AS BIGINT) * x)),
                       (acc, x) -> acc + x) AS sa,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           qb, x -> CAST(x AS BIGINT) * x)),
                       (acc, x) -> acc + x) AS sb
            FROM qc, qq
        )
    ),
    qtop AS (
        SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id, row_number() OVER (
                PARTITION BY query_id ORDER BY qcos DESC, corpus_id ASC
            ) AS qrank
            FROM qscored
        ) WHERE qrank <= 3
    ),
    ov AS (
        SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM exact e JOIN qtop t USING (query_id, corpus_id)
        GROUP BY e.query_id
    )
    SELECT q.query_id,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           CAST((1000 * COALESCE(ov.n_overlap, 0)) // 3 AS BIGINT)
               AS recall_milli
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN ov USING (query_id)
"""


def _jl_oracle(
    in_dim: int = 64, out_dim: int = 16, salt: str = "jl-r7", top: int = 5
) -> str:
    """q155: the projection embeds the SAME ±1 literals as
    ``similarity.jl_signs`` (imported, not re-derived) as
    ``v[i] * ±1.0`` left-associated chains — exactly dot_const's
    term/order — and both rankings replay the q24 float fold."""
    from sparkdiff.operators.similarity import jl_signs

    signs = jl_signs(in_dim, out_dim, salt=salt)

    def proj_expr(row: list[float]) -> str:
        return " + ".join(
            f"(v[{i + 1}] * {'1.0' if s > 0 else '-1.0'})"
            for i, s in enumerate(row)
        )

    proj_cols = ", ".join(proj_expr(row) for row in signs)
    fold = (
        "list_reduce(list_prepend(0.0, list_transform("
        "generate_series(1, {n}), i -> {a}[i] * {b}[i])), "
        "(acc, x) -> acc + x)"
    )
    sq = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform({a}, x -> x * x)), "
        "(acc, x) -> acc + x))"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    c AS (SELECT vec_id AS corpus_id, v AS cv FROM e WHERE vec_id % 3 = 0),
    exact AS (
        SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC
            ) AS rank
            FROM (
                SELECT query_id, corpus_id,
                       CASE WHEN nq = 0 OR nc = 0 THEN 0.0
                            ELSE d / (nq * nc) END AS cosine
                FROM (
                    SELECT query_id, corpus_id,
                           {fold.format(n='len(qv)', a='qv', b='cv')} AS d,
                           {sq.format(a='qv')} AS nq,
                           {sq.format(a='cv')} AS nc
                    FROM c, q
                )
            )
        ) WHERE rank <= {top}
    ),
    qp AS (
        SELECT vec_id AS query_id, list_value({proj_cols}) AS pv
        FROM (SELECT vec_id, v FROM e WHERE vec_id < 10)
    ),
    cp AS (
        SELECT vec_id AS corpus_id, list_value({proj_cols}) AS pv
        FROM (SELECT vec_id, v FROM e WHERE vec_id % 3 = 0)
    ),
    jtop AS (
        SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC
            ) AS rank
            FROM (
                SELECT query_id, corpus_id,
                       CASE WHEN nq = 0 OR nc = 0 THEN 0.0
                            ELSE d / (nq * nc) END AS cosine
                FROM (
                    SELECT qp.query_id, cp.corpus_id,
                           {fold.format(n=str(out_dim), a='qp.pv', b='cp.pv')} AS d,
                           {sq.format(a='qp.pv')} AS nq,
                           {sq.format(a='cp.pv')} AS nc
                    FROM cp, qp
                )
            )
        ) WHERE rank <= {top}
    ),
    ov AS (
        SELECT e2.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM exact e2 JOIN jtop USING (query_id, corpus_id)
        GROUP BY e2.query_id
    )
    SELECT q2.query_id,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           CAST((1000 * COALESCE(ov.n_overlap, 0)) // {top} AS BIGINT)
               AS recall_milli
    FROM (SELECT DISTINCT query_id FROM exact) q2
    LEFT JOIN ov USING (query_id)
"""


ORACLES["q155_jl_projection_recall"] = _jl_oracle()


def _cms_oracle(d: int = 4, w: int = 1024, salt: str = "cms-r7-", top: int = 10) -> str:
    """q154: count-min replay — per-row buckets are the md5-60-bit
    construction (generated per row as literals, matching
    sketch.cms_bucket's salt||row concat); the estimate is min over
    the probe's d cells; the LIMIT-10 probe set is exact-count ranked
    with the token tiebreak, same as the Spark side."""
    def bucket(tok: str, r: int) -> str:
        return (
            f"CAST(('0x' || substr(md5({tok} || '{salt}{r}'), 1, 15)) "
            f"AS BIGINT) % {w}"
        )

    pair_sel = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS r, "
        f"CAST({bucket('token', r)} AS BIGINT) AS b, token FROM occ"
        for r in range(d)
    )
    return f"""
    WITH occ AS (
        SELECT unnest({sql_tokens('text')}) AS token FROM documents
    ),
    pairs AS ({pair_sel}),
    sketch AS (
        SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pairs GROUP BY r, b
    ),
    exact AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM occ GROUP BY token
    ),
    top AS (
        SELECT token, exact_cnt FROM exact
        ORDER BY exact_cnt DESC, token ASC LIMIT {top}
    ),
    pb AS ({" UNION ALL ".join(
        f"SELECT token, CAST({r} AS BIGINT) AS r, "
        f"CAST({bucket('token', r)} AS BIGINT) AS b FROM top"
        for r in range(d)
    )}),
    est AS (
        SELECT pb.token, CAST(MIN(sketch.cnt) AS BIGINT) AS cms_est
        FROM pb JOIN sketch USING (r, b)
        GROUP BY pb.token
    )
    SELECT top.token, top.exact_cnt, est.cms_est,
           CAST(est.cms_est - top.exact_cnt AS BIGINT) AS overcount
    FROM top JOIN est ON top.token = est.token
"""


ORACLES["q154_countmin_heavyhitters"] = _cms_oracle()


# q153: shard manifest — q61's md5 shard/rank replay feeds q57's
# prefix-sum packing replay; the checksum is the commutative
# content_checksum sum (canonical.oracle_content_checksum_sql recipe,
# inlined so the oracle stays one self-contained string).
ORACLES["q153_shard_manifest"] = """
    WITH h AS (
        SELECT doc_id, text,
               md5(CAST(doc_id AS VARCHAR) || 'export-r7') AS hh,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'export-r7'), 1, 15))
                    AS BIGINT) % 8 AS shard
        FROM documents
    ),
    t AS (
        SELECT doc_id, text, CAST(shard AS BIGINT) AS shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id)
                    AS BIGINT) AS pos,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> length(x) > 0)) AS BIGINT) AS n_tok
        FROM h
    ),
    w AS (
        SELECT *,
               SUM(n_tok) OVER (PARTITION BY shard ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    ),
    p AS (
        SELECT shard, doc_id, text, n_tok,
               CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS window_id,
               CASE WHEN n_tok > 0
                    THEN CAST(floor((cum - 1) / 512.0)
                              - floor((cum - n_tok) / 512.0) + 1 AS BIGINT)
                    ELSE CAST(1 AS BIGINT) END AS spans
        FROM w
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MAX(window_id + spans) AS BIGINT) AS n_windows,
           CAST(SUM(spans) AS BIGINT) AS n_spans,
           CAST(SUM(CAST('0x' || substr(md5(
                COALESCE(CAST(doc_id AS VARCHAR), chr(0)) || chr(31) ||
                COALESCE(CAST(text AS VARCHAR), chr(0))), 1, 15) AS BIGINT))
                AS VARCHAR) AS checksum
    FROM p GROUP BY shard
"""


def _pq_oracle(
    m: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    n_queries: int = 8,
    top: int = 5,
) -> str:
    """q152: per-subspace replay of ``retrieval.pq_encode``'s Lloyd
    chains (the ``_kmeans_oracle`` recipe suffixed per subspace, 2
    iterations fixed — codes come from the second assignment, the
    codebook is the FIRST update's centroids, exactly what the Spark
    side ranks against), then the ADC lookup join and the
    subspace-ordered distance fold beside the exact full-dim L2 rank."""
    scale = 8589934592  # 2^33, the dyadic centroid scale
    dist = (
        "list_reduce(list_prepend(0.0, list_transform("
        "generate_series(1, len(v)), i -> (v[i] - c[i]) * (v[i] - c[i]))), "
        "(acc, x) -> acc + x)"
    )
    full = m * sub_dim
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"lq AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < {n_queries})",
    ]
    code_sel, look_sel = [], []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        ctes.append(
            f"e{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM e)"
        )
        ctes.append(
            f"c0_{s} AS (SELECT CAST(vec_id AS BIGINT) AS cluster, v AS c "
            f"FROM e{s} WHERE vec_id < {k})"
        )
        ctes.append(
            f"""a1_{s} AS (
            SELECT vec_id, cluster, v FROM (
                SELECT e{s}.vec_id, c0_{s}.cluster, e{s}.v,
                       row_number() OVER (
                           PARTITION BY e{s}.vec_id
                           ORDER BY {dist} ASC, c0_{s}.cluster ASC) AS rn
                FROM e{s} CROSS JOIN c0_{s}
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""s1_{s} AS (
            SELECT cluster, i AS dim,
                   SUM(CAST(floor(val * {scale}) AS BIGINT)) AS s,
                   COUNT(*) AS n
            FROM (
                SELECT cluster, unnest(v) AS val,
                       unnest(generate_series(1, len(v))) AS i
                FROM a1_{s}
            ) GROUP BY cluster, i
        )"""
        )
        ctes.append(
            f"""c1_{s} AS (
            SELECT cluster,
                   list(CAST(s AS DOUBLE) / CAST(n * {scale} AS DOUBLE)
                        ORDER BY dim) AS c
            FROM s1_{s} GROUP BY cluster
        )"""
        )
        ctes.append(
            f"""a2_{s} AS (
            SELECT vec_id, cluster FROM (
                SELECT e{s}.vec_id, c1_{s}.cluster,
                       row_number() OVER (
                           PARTITION BY e{s}.vec_id
                           ORDER BY {dist} ASC, c1_{s}.cluster ASC) AS rn
                FROM e{s} CROSS JOIN c1_{s}
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""lk_{s} AS (
            SELECT lq.query_id, {s} AS sub, cb.cluster,
                   list_reduce(list_prepend(0.0, list_transform(
                       generate_series(1, {sub_dim}),
                       i -> (lq.v[{lo - 1} + i] - cb.c[i])
                            * (lq.v[{lo - 1} + i] - cb.c[i]))),
                       (acc, x) -> acc + x) AS d
            FROM lq CROSS JOIN c1_{s} cb
        )"""
        )
        code_sel.append(
            f"SELECT vec_id, {s} AS sub, cluster AS code FROM a2_{s}"
        )
        look_sel.append(f"SELECT * FROM lk_{s}")
    ctes.append("codes AS (" + " UNION ALL ".join(code_sel) + ")")
    ctes.append("lkp AS (" + " UNION ALL ".join(look_sel) + ")")
    ctes.append(
        """j AS (
        SELECT lkp.query_id, codes.vec_id, lkp.sub, lkp.d
        FROM codes JOIN lkp
          ON codes.sub = lkp.sub AND codes.code = lkp.cluster
    )"""
    )
    ctes.append(
        """adc AS (
        SELECT query_id, vec_id,
               list_reduce(list_prepend(0.0, list(d ORDER BY sub)),
                           (acc, x) -> acc + x) AS adc
        FROM j GROUP BY query_id, vec_id
    )"""
    )
    ctes.append(
        f"""pqtop AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id, row_number() OVER (
                PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rn
            FROM adc
        ) WHERE rn <= {top}
    )"""
    )
    ctes.append(
        f"""ex AS (
        SELECT query_id, vec_id FROM (
            SELECT lq.query_id, e.vec_id, row_number() OVER (
                PARTITION BY lq.query_id ORDER BY
                    list_reduce(list_prepend(0.0, list_transform(
                        generate_series(1, {full}),
                        i -> (e.v[i] - lq.v[i]) * (e.v[i] - lq.v[i]))),
                        (acc, x) -> acc + x) ASC,
                    e.vec_id ASC) AS rn
            FROM e CROSS JOIN lq
        ) WHERE rn <= {top}
    )"""
    )
    ctes.append(
        """ov AS (
        SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM ex JOIN pqtop USING (query_id, vec_id)
        GROUP BY ex.query_id
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT lq.query_id,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           CAST((1000 * COALESCE(ov.n_overlap, 0)) // {top} AS BIGINT)
               AS recall_milli
    FROM lq LEFT JOIN ov ON lq.query_id = ov.query_id"""
    )


ORACLES["q152_pq_adc_recall"] = _pq_oracle()


# q156: keep-best dedup — q149's pairs → CC → family chain, then the
# verbatim quality expression and a per-family (q DESC, doc_id ASC)
# argmax; quality leaves the query as exact floor(q*1000).
ORACLES["q156_keep_best_dedup"] = f"""
    WITH RECURSIVE pairs AS ({{Q25}}),
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000 AS doc_id, text || ' extra suffix words' AS text
        FROM documents WHERE doc_id % 25 = 0
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    cc(id, comp) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst AS id, c.comp
        FROM cc c JOIN edges e ON e.src = c.id
        WHERE c.comp < e.dst
    ),
    labels AS (SELECT id, MIN(comp) AS fam FROM cc GROUP BY id),
    fam AS (
        SELECT c.doc_id, c.text, COALESCE(l.fam, c.doc_id) AS family
        FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id
    ),
    scored AS (
        SELECT doc_id, family, {sql_quality_score('text')} AS q FROM fam
    ),
    ranked AS (
        SELECT doc_id, family, q, row_number() OVER (
            PARTITION BY family ORDER BY q DESC, doc_id ASC) AS rn
        FROM scored
    )
    SELECT doc_id, CAST(family AS BIGINT) AS family,
           CAST(floor(q * 1000) AS BIGINT) AS q_milli,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM ranked
""".replace("{Q25}", ORACLES["q25_minhash_neardup"])


# q149: leakage-safe split — q25's pair replay feeds q65's recursive
# min-label CC; families coalesce to own id for singletons; the split is
# the md5 unit-variate CASE with EXACTLY-representable bounds (0.75,
# 0.875), so both engines compare identical doubles.
ORACLES["q149_leakage_safe_split"] = f"""
    WITH RECURSIVE pairs AS ({ORACLES["q25_minhash_neardup"]}),
    corpus AS (
        SELECT doc_id FROM documents
        UNION ALL
        SELECT doc_id + 20000 AS doc_id FROM documents WHERE doc_id % 25 = 0
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    cc(id, comp) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst AS id, c.comp
        FROM cc c JOIN edges e ON e.src = c.id
        WHERE c.comp < e.dst
    ),
    labels AS (SELECT id, MIN(comp) AS fam FROM cc GROUP BY id),
    fam AS (
        SELECT c.doc_id, COALESCE(l.fam, c.doc_id) AS family
        FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id
    ),
    sized AS (
        SELECT family, CAST(COUNT(*) AS BIGINT) AS family_size
        FROM fam GROUP BY family
    ),
    u AS (
        SELECT doc_id, family,
               (CAST(('0x' || substr(md5(CAST(family AS VARCHAR)
                      || 'split-v1'), 1, 15)) AS BIGINT) % 1000000)
                   / 1000000.0 AS u
        FROM fam
    )
    SELECT s.doc_id, CAST(s.family AS BIGINT) AS family, z.family_size,
           CASE WHEN u < 0.75 THEN 'train'
                WHEN u < 0.875 THEN 'val'
                ELSE 'test' END AS split
    FROM u s JOIN sized z USING (family)
"""


def _q147_oracle() -> str:
    """q147: per-source shingle sets (the q25 word-shingle CTEs keyed
    by source), exact pair intersections over distinct (source,
    shingle) rows, and per-source MinHash signatures (MIN over the
    source's shingle rows = union semantics) with the SAME permutation
    coefficients the Spark operator draws."""
    from sparkdiff.operators.dedup import MERSENNE_PRIME, _lcg_coefficients

    p = MERSENNE_PRIME
    mins = ",\n               ".join(
        f"MIN((h * {a} + {b}) % {p}) AS m{j}"
        for j, (a, b) in enumerate(_lcg_coefficients(64))
    )
    agree = " + ".join(
        f"(CASE WHEN x.m{j} = y.m{j} THEN 1 ELSE 0 END)" for j in range(64)
    )
    return f"""
    WITH toks AS (
        SELECT source,
               list_filter(
                   string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                   t -> length(t) > 0) AS tk
        FROM documents
    ),
    sh AS (
        SELECT source,
               list_distinct(CASE
                   WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
                   WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(
                       range(1, len(tk) - 1),
                       i -> array_to_string(list_slice(tk, i, i + 2), ' '))
               END) AS sh
        FROM toks
    ),
    shingle_rows AS (SELECT source, unnest(sh) AS t FROM sh),
    ss AS (SELECT DISTINCT source, t FROM shingle_rows),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ss GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM ss a JOIN ss b ON a.t = b.t AND a.source < b.source
        GROUP BY a.source, b.source
    ),
    hashes AS (
        SELECT source, {_md5_token_hash('t')} % {p} AS h FROM shingle_rows
    ),
    sigs AS (
        SELECT source,
               {mins}
        FROM hashes GROUP BY source
    ),
    est AS (
        SELECT x.source AS source_a, y.source AS source_b,
               CAST({agree} AS BIGINT) AS minhash_agree
        FROM sigs x JOIN sigs y ON x.source < y.source
    )
    SELECT p.source_a, p.source_b,
           sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b, p.n_common,
           CAST((1000 * p.n_common)
                // (sa.n_sh + sb.n_sh - p.n_common) AS BIGINT)
               AS jaccard_milli,
           e.minhash_agree,
           CAST((1000 * e.minhash_agree) // 64 AS BIGINT)
               AS est_jaccard_milli
    FROM pairs p
    JOIN sizes sa ON sa.source = p.source_a
    JOIN sizes sb ON sb.source = p.source_b
    JOIN est e ON e.source_a = p.source_a AND e.source_b = p.source_b
"""


ORACLES["q147_source_overlap"] = _q147_oracle()


# q157: HyperLogLog NDV — full register-level replay (md5-60-bit hash,
# bit-op bucket/suffix split, bin()-length bit ranks, integer-scaled
# harmonic sum, ONE double division) so the sketch ESTIMATE itself is
# value-hash checked, not just the exact column.  Constants come from
# operators/sketch.py so both engines share the same p / suffix width /
# alpha double (repr() round-trips the exact IEEE value).
def _q157_oracle(p: int = 8, salt: str = "hll-q157") -> str:
    from sparkdiff.operators.sketch import HLL_SUFFIX_BITS, hll_alpha_m2_scaled

    m = 1 << p
    rmax = HLL_SUFFIX_BITS + 1
    return f"""
    WITH occ AS (
        SELECT source, unnest({sql_tokens('text')}) AS token FROM documents
    ),
    h AS (
        SELECT source,
               CAST(('0x' || substr(md5(token || '{salt}'), 1, 15)) AS BIGINT) AS hv
        FROM occ
    ),
    r AS (
        SELECT source,
               hv % {m} AS bucket,
               (hv >> {p}) & ((1::BIGINT << {HLL_SUFFIX_BITS}) - 1) AS suffix
        FROM h
    ),
    regs AS (
        SELECT source, bucket,
               MAX(CASE WHEN suffix = 0 THEN {rmax}
                        ELSE {rmax} - length(bin(suffix)) END) AS reg
        FROM r GROUP BY source, bucket
    ),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS buckets_hit,
               SUM(1::BIGINT << ({rmax} - reg)) AS z_present
        FROM regs GROUP BY source
    ),
    est AS (
        SELECT source, buckets_hit,
               CAST(floor({hll_alpha_m2_scaled(p)!r}
                    / CAST(z_present + ({m} - buckets_hit) * (1::BIGINT << {rmax})
                           AS DOUBLE)) AS BIGINT) AS hll_ndv
        FROM agg
    ),
    exact AS (
        SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_ndv
        FROM occ GROUP BY source
    )
    SELECT e.source, e.buckets_hit, e.hll_ndv, x.exact_ndv,
           CAST(abs(e.hll_ndv - x.exact_ndv) * 1000 // x.exact_ndv AS BIGINT)
           AS err_pm
    FROM est e JOIN exact x ON x.source = e.source
    """


ORACLES["q157_hll_ndv"] = _q157_oracle()


# q158: the direct quadratic definition of the ed<=1 self-join — the
# Spark side blocks via FastSS deletion neighborhoods, so a value-hash
# match against this spec certifies the blocking lost no pair.
ORACLES["q158_edit_distance_join"] = """
    SELECT CAST(a.c_custkey AS BIGINT) AS id_a,
           CAST(b.c_custkey AS BIGINT) AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a
    JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
"""


# q159: sorted-neighborhood replay — same injected corpus as q149,
# rank over (32-char normalized prefix, doc_id) total order, window-4
# successor pairs, integer-exact Jaccard verify.  DuckDB's row_number
# is the spec; the Spark side's range-partitioned rail must reproduce
# it exactly (same total order, no boundary sensitivity).
ORACLES["q159_sorted_neighborhood"] = f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000, text || ' extra suffix words'
        FROM documents WHERE doc_id % 25 = 0
    ),
    keyed AS (
        SELECT doc_id, text,
               substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                      1, 32) AS bkey
        FROM corpus
    ),
    ranked AS (
        SELECT doc_id, text,
               CAST(row_number() OVER (ORDER BY bkey, doc_id) AS BIGINT) AS rn
        FROM keyed
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               list_distinct({sql_tokens('a.text')}) AS ta,
               list_distinct({sql_tokens('b.text')}) AS tb
        FROM ranked a JOIN ranked b ON b.rn BETWEEN a.rn + 1 AND a.rn + 4
    ),
    verified AS (
        SELECT id_a, id_b,
               len(list_intersect(ta, tb)) AS i,
               len(list_distinct(list_concat(ta, tb))) AS u
        FROM pairs
    )
    SELECT id_a, id_b, CAST((1000 * i) // u AS BIGINT) AS jac_milli
    FROM verified
    WHERE u > 0 AND (1000 * i) // u >= 500
"""


# q160: Fellegi-Sunter replay — quadratic ed<=1 blocking definition
# (q158's oracle), per-field u-probabilities as exact freq^2 integer
# sums over the SAME attribute projections, and the likelihood product
# written in the identical left-associated field order so the raw
# double score hash-matches (every division/multiplication is a single
# deterministic IEEE op on identical inputs).  Two engine traps are
# engineered around: DuckDB parses plain decimal literals as DECIMAL
# (so "1.0 - 0.95" is EXACT 0.05, not the IEEE subtraction Spark
# computes) — the disagree weights are therefore rendered as
# Python-computed repr values with an e0 suffix, which forces DOUBLE
# parsing AND avoids DuckDB's double-rounding DECIMAL(19,18)->DOUBLE
# cast; and DuckDB's % is signed while Spark's pmod is not (cents2).
ORACLES["q160_record_linkage"] = """
    WITH attrs AS (
        SELECT CAST(c_custkey AS BIGINT) AS id, c_name, c_nationkey,
               c_mktsegment,
               CAST(((CAST(round(c_acctbal * 100, 0) AS BIGINT) % 100)
                     + 100) % 100 AS BIGINT) AS cents2,
               CAST(floor(CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                                AS DOUBLE) / 10000.0) AS BIGINT) AS balband
        FROM customer
    ),
    nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM attrs),
    u_nation AS (
        SELECT CAST(SUM(f * f) AS BIGINT) AS u_nation_num
        FROM (SELECT COUNT(*) AS f FROM attrs GROUP BY c_nationkey)
    ),
    u_segment AS (
        SELECT CAST(SUM(f * f) AS BIGINT) AS u_segment_num
        FROM (SELECT COUNT(*) AS f FROM attrs GROUP BY c_mktsegment)
    ),
    u_cents2 AS (
        SELECT CAST(SUM(f * f) AS BIGINT) AS u_cents2_num
        FROM (SELECT COUNT(*) AS f FROM attrs GROUP BY cents2)
    ),
    u_balband AS (
        SELECT CAST(SUM(f * f) AS BIGINT) AS u_balband_num
        FROM (SELECT COUNT(*) AS f FROM attrs GROUP BY balband)
    ),
    cand AS (
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
               CAST(a.c_nationkey = b.c_nationkey AS INTEGER) AS agree_nation,
               CAST(a.c_mktsegment = b.c_mktsegment AS INTEGER) AS agree_segment,
               CAST(a.cents2 = b.cents2 AS INTEGER) AS agree_cents2,
               CAST(a.balband = b.balband AS INTEGER) AS agree_balband
        FROM attrs a JOIN attrs b
          ON a.id < b.id AND levenshtein(a.c_name, b.c_name) <= 1
    ),
    scored AS (
        SELECT c.*,
               1.0
               * (CASE WHEN agree_nation = 1
                       THEN 0.95 / (CAST(u_nation_num AS DOUBLE)
                                    / CAST(n * n AS DOUBLE))
                       ELSE 0.050000000000000044e0
                            / (1.0 - (CAST(u_nation_num AS DOUBLE)
                                      / CAST(n * n AS DOUBLE))) END)
               * (CASE WHEN agree_segment = 1
                       THEN 0.9 / (CAST(u_segment_num AS DOUBLE)
                                   / CAST(n * n AS DOUBLE))
                       ELSE 0.09999999999999998e0
                            / (1.0 - (CAST(u_segment_num AS DOUBLE)
                                      / CAST(n * n AS DOUBLE))) END)
               * (CASE WHEN agree_cents2 = 1
                       THEN 0.9 / (CAST(u_cents2_num AS DOUBLE)
                                   / CAST(n * n AS DOUBLE))
                       ELSE 0.09999999999999998e0
                            / (1.0 - (CAST(u_cents2_num AS DOUBLE)
                                      / CAST(n * n AS DOUBLE))) END)
               * (CASE WHEN agree_balband = 1
                       THEN 0.85 / (CAST(u_balband_num AS DOUBLE)
                                    / CAST(n * n AS DOUBLE))
                       ELSE 0.15000000000000002e0
                            / (1.0 - (CAST(u_balband_num AS DOUBLE)
                                      / CAST(n * n AS DOUBLE))) END)
               AS score
        FROM cand c, nrow, u_nation, u_segment, u_cents2, u_balband
    )
    SELECT id_a, id_b, dist,
           CAST(agree_nation AS BIGINT) AS agree_nation,
           CAST(agree_segment AS BIGINT) AS agree_segment,
           CAST(agree_cents2 AS BIGINT) AS agree_cents2,
           CAST(agree_balband AS BIGINT) AS agree_balband,
           score,
           CASE WHEN score >= 1000.0 THEN 'match'
                WHEN score >= 1.0 THEN 'possible'
                ELSE 'non_match' END AS decision
    FROM scored
"""


# q161: both candidate generators replayed in full over the SAME
# injected corpus — the LSH branch embeds the q25 oracle machinery
# (same generator, same corpus SQL), the SNM branch replays q159's
# rank/window with the SHINGLE verify, and both are measured against
# the constructed truth (lo%25==0, hi==lo+20000).
def _q161_oracle() -> str:
    lsh_sql = _minhash_oracle()  # q25 corpus, threshold 0.6, id_a < id_b
    return f"""
    WITH corpus AS (
        {_Q25_BASE_SQL}
    ),
    truth AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_truth
        FROM documents WHERE doc_id % 25 = 0
    ),
    toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                   t -> length(t) > 0) AS tk
        FROM corpus
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(CASE
                   WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
                   WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(
                       range(1, len(tk) - 1),
                       i -> array_to_string(list_slice(tk, i, i + 2), ' '))
               END) AS sh
        FROM corpus JOIN toks USING (doc_id)
    ),
    keyed AS (
        SELECT doc_id,
               substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                      1, 32) AS bkey
        FROM corpus
    ),
    ranked AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bkey, doc_id) AS BIGINT) AS rn
        FROM keyed
    ),
    snm_cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ranked a JOIN ranked b ON b.rn BETWEEN a.rn + 1 AND a.rn + 4
    ),
    snm_ver AS (
        SELECT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi
        FROM (
            SELECT c.id_a, c.id_b,
                   len(list_intersect(sa.sh, sb.sh)) AS i,
                   len(sa.sh) + len(sb.sh)
                       - len(list_intersect(sa.sh, sb.sh)) AS u
            FROM snm_cand c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b
        )
        WHERE (CASE WHEN u = 0 THEN 0.0
                    ELSE CAST(i AS DOUBLE) / u END) >= 0.6
    ),
    lsh_pairs AS (
        {lsh_sql}
    ),
    allpairs AS (
        SELECT 'lsh' AS method, least(id_a, id_b) AS lo,
               greatest(id_a, id_b) AS hi
        FROM lsh_pairs
        UNION ALL
        SELECT 'snm' AS method, lo, hi FROM snm_ver
    ),
    agg AS (
        SELECT method,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN hi = lo + 20000 AND lo % 25 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS truth_found
        FROM allpairs GROUP BY method
    )
    SELECT method, n_pairs, truth_found,
           CAST((1000 * truth_found) // n_truth AS BIGINT) AS recall_pm
    FROM agg, truth
    """


ORACLES["q161_blocking_recall"] = _q161_oracle()


# q162: the direct quadratic containment definition over the injected
# excerpt corpus — the Spark side blocks with the rarest-first prefix
# filter, so the value-hash certifies the filter's losslessness (the
# same spec-vs-algorithm pattern as q158).
ORACLES["q162_containment_join"] = """
    WITH wt AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           t -> length(t) > 0) AS w
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT d.doc_id + 30000 AS doc_id,
               array_to_string(list_slice(w.w, 1, (2 * len(w.w)) // 5), ' ')
               AS text
        FROM documents d JOIN wt w USING (doc_id)
        WHERE d.doc_id % 20 = 0
    ),
    toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                   t -> length(t) > 0) AS tk
        FROM corpus
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(CASE
                   WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
                   WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(
                       range(1, len(tk) - 1),
                       i -> array_to_string(list_slice(tk, i, i + 2), ' '))
               END) AS sh
        FROM toks
    ),
    sets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)))
               AS sh
        FROM sh WHERE len(sh) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST((1000 * len(list_intersect(a.sh, b.sh))) // len(a.sh)
                AS BIGINT) AS containment_pm
    FROM sets a JOIN sets b
      ON a.doc_id != b.doc_id
     AND 5 * len(list_intersect(a.sh, b.sh)) >= 4 * len(a.sh)
"""


# q163: the skew report replayed per key column — group sizes, exact
# integer mean/skew/salt, p99 via cumulative key counts over the
# size domain, top key by (count, key-string) struct order.
def _q163_oracle(cols: tuple[str, ...] = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
)) -> str:
    parts = []
    for c in cols:
        parts.append(f"""
    SELECT '{c}' AS key_col, n_rows, n_keys, max_n, p99_n,
           CAST((1000 * n_rows) // n_keys AS BIGINT) AS mean_milli,
           CAST((1000 * max_n * n_keys) // n_rows AS BIGINT) AS skew_milli,
           CAST((max_n * n_keys + n_rows - 1) // n_rows AS BIGINT) AS salt,
           top_key
    FROM (
        WITH gs AS (
            SELECT CAST({c} AS VARCHAR) AS k,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY CAST({c} AS VARCHAR)
        ),
        sizes AS (
            SELECT n, CAST(COUNT(*) AS BIGINT) AS keys_at FROM gs GROUP BY n
        ),
        ranked AS (
            SELECT n, SUM(keys_at) OVER (ORDER BY n
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM sizes
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(n) AS BIGINT) AS max_n,
                   (SELECT k FROM gs ORDER BY n DESC, k DESC LIMIT 1)
                       AS top_key
            FROM gs
        ),
        p99 AS (
            SELECT CAST(MIN(r.n) AS BIGINT) AS p99_n
            FROM ranked r, tot t WHERE r.cum * 100 >= 99 * t.n_keys
        )
        SELECT t.n_rows, t.n_keys, t.max_n, p.p99_n, t.top_key
        FROM tot t, p99 p
    )""")
    return "\nUNION ALL\n".join(parts)


ORACLES["q163_skew_report"] = _q163_oracle()


# q164: KMV set-operation sketch — full replay (md5-60-bit hash,
# k-smallest-distinct sample per source, combined per-pair top-k,
# exact-below-threshold membership flags, the (k-1)/U_(k) union
# estimate as ONE double division of exactly-representable operands,
# intersection in pure int64) so the ESTIMATES themselves value-hash,
# exactly as q157 does for HLL.  Pairs with zero shared tokens drop out
# of the exact inner join on both engines, so the err_*_pm divisions
# never see zero.
def _q164_oracle(k: int = 256, salt: str = "kmv-q164") -> str:
    from sparkdiff.operators.sketch import KMV_HASH_BITS

    num = float((k - 1) * (1 << KMV_HASH_BITS))
    return f"""
    WITH toks AS (
        SELECT source,
               list_filter(
                   string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                   t -> length(t) > 0) AS tk
        FROM documents
    ),
    shsets AS (
        SELECT source,
               list_distinct(CASE
                   WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
                   WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(
                       range(1, len(tk) - 1),
                       i -> array_to_string(list_slice(tk, i, i + 2), ' '))
               END) AS sh
        FROM toks
    ),
    occ AS (
        SELECT DISTINCT source, unnest(sh) AS token FROM shsets
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM occ GROUP BY source
    ),
    common AS (
        SELECT a.source AS key_a, b.source AS key_b,
               CAST(COUNT(*) AS BIGINT) AS exact_inter
        FROM occ a JOIN occ b ON a.token = b.token AND a.source < b.source
        GROUP BY a.source, b.source
    ),
    exact AS (
        SELECT c.key_a, c.key_b,
               CAST(sa.n_tok + sb.n_tok - c.exact_inter AS BIGINT)
                   AS exact_union,
               c.exact_inter
        FROM common c
        JOIN sizes sa ON sa.source = c.key_a
        JOIN sizes sb ON sb.source = c.key_b
    ),
    h AS (
        SELECT DISTINCT source,
               CAST(('0x' || substr(md5(token || '{salt}'), 1, 15))
                    AS BIGINT) AS hv
        FROM occ
    ),
    samp AS (
        SELECT source, hv FROM (
            SELECT source, hv,
                   row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
            FROM h
        ) WHERE rn <= {k}
    ),
    srcs AS (SELECT DISTINCT source FROM samp),
    pairs AS (
        SELECT a.source AS key_a, b.source AS key_b
        FROM srcs a, srcs b WHERE a.source < b.source
    ),
    prows AS (
        SELECT p.key_a, p.key_b, m.hv,
               CASE WHEN m.source = p.key_a THEN 1 ELSE 0 END AS ina,
               CASE WHEN m.source = p.key_b THEN 1 ELSE 0 END AS inb
        FROM pairs p
        JOIN samp m ON m.source = p.key_a OR m.source = p.key_b
    ),
    per_h AS (
        SELECT key_a, key_b, hv, MAX(ina) AS in_a, MAX(inb) AS in_b
        FROM prows GROUP BY key_a, key_b, hv
    ),
    top AS (
        SELECT * FROM (
            SELECT key_a, key_b, hv, in_a, in_b,
                   row_number() OVER (PARTITION BY key_a, key_b
                                      ORDER BY hv) AS rn
            FROM per_h
        ) WHERE rn <= {k}
    ),
    agg AS (
        SELECT key_a, key_b,
               CAST(COUNT(*) AS BIGINT) AS nl,
               MAX(hv) AS kth,
               CAST(SUM(in_a * in_b) AS BIGINT) AS c
        FROM top GROUP BY key_a, key_b
    ),
    est AS (
        SELECT key_a, key_b, nl, c,
               CASE WHEN nl < {k} THEN nl
                    ELSE CAST(floor({num!r} / CAST(kth AS DOUBLE)) AS BIGINT)
               END AS kmv_union
        FROM agg
    )
    SELECT e.key_a AS source_a, e.key_b AS source_b,
           x.exact_union, x.exact_inter,
           e.kmv_union,
           CAST(e.c * e.kmv_union // e.nl AS BIGINT) AS kmv_inter,
           CAST(e.c * 1000 // e.nl AS BIGINT) AS jaccard_pm,
           CAST(abs(e.kmv_union - x.exact_union) * 1000 // x.exact_union
                AS BIGINT) AS err_union_pm,
           CAST(abs(e.c * e.kmv_union // e.nl - x.exact_inter) * 1000
                // x.exact_inter AS BIGINT) AS err_inter_pm
    FROM est e
    JOIN exact x ON x.key_a = e.key_a AND x.key_b = e.key_b
    """


ORACLES["q164_kmv_set_ops"] = _q164_oracle()


# q165: Bloom semi-join reduction — membership is the SPEC (all h md5
# positions set in the filter built from the segment's custkeys), so
# the oracle replays positions directly against the distinct dim
# position set, exactly as q140 does; the exact join then marks true
# matches and the month rollup carries pass/joined/false-pos counts
# beside exact cents.
ORACLES["q165_bloom_semijoin"] = """
    WITH dim AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    dim_bits AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                                        || 'bsj-q165#' || h.i), 1, 15))
                    AS BIGINT) % 65536 AS p
        FROM dim, (SELECT unnest(generate_series(0, 3)) AS i) h
    ),
    opos AS (
        SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, h.i,
               CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)
                                        || 'bsj-q165#' || h.i), 1, 15))
                    AS BIGINT) % 65536 AS p
        FROM orders, (SELECT unnest(generate_series(0, 3)) AS i) h
    ),
    gate AS (
        SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
               MIN(CASE WHEN db.p IS NOT NULL THEN 1 ELSE 0 END) AS pass
        FROM opos LEFT JOIN dim_bits db ON opos.p = db.p
        GROUP BY o_orderkey, o_custkey, o_orderdate, o_totalprice
    ),
    gated AS (
        SELECT g.*, CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END
                    AS joined
        FROM gate g LEFT JOIN dim d ON d.c_custkey = g.o_custkey
        WHERE g.pass = 1
    )
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(joined) AS BIGINT) AS n_joined,
           CAST(COUNT(*) - SUM(joined) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN joined = 1
                         THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS cents
    FROM gated GROUP BY 1
"""


# q166: pair association rules — presence-based counts over distinct
# (order, part) rows, basket-key self-join pair counts, min-support
# gate, all ratios as int64 per-mille; top-25 under the same
# deterministic total order the Spark side sorts by.
ORACLES["q166_association_rules"] = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM items),
    item_n AS (
        SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY i
    ),
    pairs AS (
        SELECT x.i AS item_a, y.i AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM items x JOIN items y ON x.b = y.b AND x.i < y.i
        GROUP BY x.i, y.i
        HAVING COUNT(*) >= 2
    )
    SELECT item_a, item_b, na.n AS n_a, nbi.n AS n_b, n_ab,
           CAST(n_ab * 1000 // nb.n_baskets AS BIGINT) AS support_pm,
           CAST(n_ab * 1000 // na.n AS BIGINT) AS conf_ab_pm,
           CAST(n_ab * 1000 // nbi.n AS BIGINT) AS conf_ba_pm,
           CAST(n_ab * 1000 * nb.n_baskets // (na.n * nbi.n) AS BIGINT)
               AS lift_pm
    FROM pairs
    JOIN item_n na ON na.i = item_a
    JOIN item_n nbi ON nbi.i = item_b
    CROSS JOIN nb
    ORDER BY lift_pm DESC, n_ab DESC, item_a, item_b
    LIMIT 25
"""


# q167: cohort retention — integer month index (year*12 + month), MIN
# first-month per customer, distinct active months, per-cell distinct
# counts, per-mille as int64 floor division; the cohort label is
# rebuilt from the index on both engines so no date/timestamp type
# skew can leak into the hash.
ORACLES["q167_cohort_retention"] = """
    WITH mi AS (
        SELECT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                   AS m
        FROM orders
    ),
    first AS (
        SELECT o_custkey, MIN(m) AS fm FROM mi GROUP BY o_custkey
    ),
    act AS (
        SELECT DISTINCT mi.o_custkey, mi.m, f.fm
        FROM mi JOIN first f ON f.o_custkey = mi.o_custkey
    ),
    cells AS (
        SELECT fm AS cm, m - fm AS age,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active
        FROM act GROUP BY fm, m - fm
    ),
    sizes AS (
        SELECT fm AS cm, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM first GROUP BY fm
    )
    SELECT lpad(CAST((c.cm - 1) // 12 AS VARCHAR), 4, '0') || '-' ||
           lpad(CAST((c.cm - 1) % 12 + 1 AS VARCHAR), 2, '0') AS cohort,
           c.age, s.cohort_size, c.n_active,
           CAST(c.n_active * 1000 // s.cohort_size AS BIGINT)
               AS retention_pm
    FROM cells c JOIN sizes s ON s.cm = c.cm
"""


# q168: expectation suite — conditional aggregation replay, one row per
# check via UNION ALL over the same single-aggregate CTE (n_rows and
# every violation count come from one pass on both engines).
ORACLES["q168_expectations"] = """
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS v0,
               CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN l_quantity IS NOT NULL
                              AND (l_quantity < 1 OR l_quantity > 49)
                             THEN 1 ELSE 0 END) AS BIGINT) AS v2,
               CAST(SUM(CASE WHEN l_discount IS NOT NULL
                              AND (l_discount < 0.0 OR l_discount > 0.1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS v3,
               CAST(SUM(CASE WHEN l_returnflag IS NOT NULL
                              AND l_returnflag NOT IN ('A', 'N', 'R')
                             THEN 1 ELSE 0 END) AS BIGINT) AS v4,
               CAST(SUM(CASE WHEN l_linestatus IS NOT NULL
                              AND l_linestatus NOT IN ('F', 'O')
                             THEN 1 ELSE 0 END) AS BIGINT) AS v5,
               CAST(SUM(CASE WHEN l_returnflag IS NOT NULL
                              AND NOT regexp_matches(l_returnflag,
                                                     '^[AN]$')
                             THEN 1 ELSE 0 END) AS BIGINT) AS v6,
               CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
                    AS BIGINT) AS v7,
               CAST(COUNT(*) - COUNT(DISTINCT l_orderkey) AS BIGINT) AS v8
        FROM lineitem
    )
    SELECT 'not_null(l_orderkey)' AS "check", 'l_orderkey' AS "column",
           n AS n_rows, v0 AS n_violations, v0 = 0 AS ok FROM agg
    UNION ALL SELECT 'not_null(l_shipdate)', 'l_shipdate', n, v1, v1 = 0
    FROM agg
    UNION ALL SELECT 'in_range(l_quantity,1,49)', 'l_quantity', n, v2,
           v2 = 0 FROM agg
    UNION ALL SELECT 'in_range(l_discount,0.0,0.1)', 'l_discount', n, v3,
           v3 = 0 FROM agg
    UNION ALL SELECT 'accepted_values(l_returnflag)', 'l_returnflag', n,
           v4, v4 = 0 FROM agg
    UNION ALL SELECT 'accepted_values(l_linestatus)', 'l_linestatus', n,
           v5, v5 = 0 FROM agg
    UNION ALL SELECT 'matches_regex(l_returnflag)', 'l_returnflag', n,
           v6, v6 = 0 FROM agg
    UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
           'l_orderkey,l_linenumber', n, v7, v7 = 0 FROM agg
    UNION ALL SELECT 'unique(l_orderkey)', 'l_orderkey', n, v8, v8 = 0
    FROM agg
"""


# q169: sample quantiles — the deterministic k-smallest-hash row sample
# (ORDER BY md5-60-bit, v LIMIT k — tiebreak on v so duplicate identity
# keys cannot make the boundary ambiguous) and the SAME
# distribution-method interpolation on both population and sample
# (_dist_cut_sql = q50's bit-pinned idiom), melted to one row per
# percentile in exact integer cents.
def _q169_oracle() -> str:
    probs = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    rows = []
    for p in probs:
        t = int(p * 100)
        rows.append(
            f"SELECT 'p{t}' AS pct,"
            f" CAST(floor(e_{t} * 100) AS BIGINT) AS exact_cents,"
            f" CAST(floor(s_{t} * 100) AS BIGINT) AS sample_cents,"
            f" CAST(abs(CAST(floor(s_{t} * 100) AS BIGINT)"
            f"          - CAST(floor(e_{t} * 100) AS BIGINT)) * 1000"
            f"      // CAST(floor(e_{t} * 100) AS BIGINT) AS BIGINT)"
            f" AS err_pm"
            f" FROM e_cut CROSS JOIN s_cut"
        )
        body = "\n    UNION ALL ".join(rows)
    return f"""
    WITH li AS (SELECT l_extendedprice FROM lineitem),
    {_dist_cut_sql('li', 'l_extendedprice', 'e', probs)},
    hv AS (
        SELECT l_extendedprice AS v,
               CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                                        || CAST(l_linenumber AS VARCHAR)
                                        || ':sq-q169'), 1, 15))
                    AS BIGINT) AS h
        FROM lineitem
    ),
    samp AS (SELECT v FROM hv ORDER BY h, v LIMIT 4096),
    {_dist_cut_sql('samp', 'v', 's', probs)}
    {body}
    """


ORACLES["q169_sample_quantiles"] = _q169_oracle()


# q170: ingest novelty — q147's shingle CTE chain keyed by doc, batch =
# doc_id DIV 100, first-arrival MIN per shingle, per-batch distinct
# rollup; all-integer per-mille.
ORACLES["q170_ingest_novelty"] = """
    WITH toks AS (
        SELECT doc_id, list_filter(
                   string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                   t -> length(t) > 0) AS tk
        FROM documents
    ),
    shsets AS (
        SELECT doc_id,
               list_distinct(CASE
                   WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
                   WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(
                       range(1, len(tk) - 1),
                       i -> array_to_string(list_slice(tk, i, i + 2), ' '))
               END) AS sh
        FROM toks
    ),
    occ AS (
        SELECT DISTINCT CAST(doc_id // 100 AS BIGINT) AS batch,
               unnest(sh) AS t
        FROM shsets
    ),
    first AS (SELECT t, MIN(batch) AS fb FROM occ GROUP BY t)
    SELECT o.batch,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN o.batch = f.fb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST(SUM(CASE WHEN o.batch = f.fb THEN 1 ELSE 0 END) * 1000
                // COUNT(*) AS BIGINT) AS novelty_pm
    FROM occ o JOIN first f ON f.t = o.t
    GROUP BY o.batch
"""


# q171: batch sessionization — lag + running-sum session ids over the
# same (user_id | ms, event_id) order, session rollup, size-bucket
# distribution; epoch-millis integers throughout.
ORACLES["q171_session_stats"] = """
    WITH e AS (
        SELECT user_id,
               CAST(epoch_ms(ts) AS BIGINT) AS ms,
               event_id
        FROM events
    ),
    flagged AS (
        SELECT user_id, ms, event_id,
               CASE WHEN lag(ms) OVER w IS NULL
                         OR ms - lag(ms) OVER w > 1800000
                    THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
    ),
    sess AS (
        SELECT user_id, ms,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS sid
        FROM flagged
    ),
    per AS (
        SELECT user_id, sid,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(ms) - MIN(ms) AS BIGINT) AS dur_ms
        FROM sess GROUP BY user_id, sid
    )
    SELECT n_events,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(dur_ms) AS BIGINT) AS total_dur_ms,
           CAST(MAX(dur_ms) AS BIGINT) AS max_dur_ms
    FROM per GROUP BY n_events
"""


# q172: packing trade-off — the q57 prefix-sum CTE replayed per
# capacity for concat split counts; window counts / waste are pure
# integer aggregates of the same tokenized projection; per-mille in
# int64 floor division.
def _q172_oracle() -> str:
    caps = (128, 512)
    parts = []
    for cap in caps:
        parts.append(f"""(
        WITH t AS (
            SELECT doc_id,
                   CAST(doc_id % 4 AS BIGINT) AS shard,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                        x -> length(x) > 0)) AS BIGINT)
                       AS n_tokens
            FROM documents
        ),
        w AS (
            SELECT *,
                   SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM t
        ),
        split AS (
            SELECT CAST(SUM(CASE WHEN n_tokens > 0
                                  AND floor((cum - 1) / {cap}.0)
                                      > floor((cum - n_tokens) / {cap}.0)
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS concat_split_docs
            FROM w
        ),
        shard_tot AS (
            SELECT shard, SUM(n_tokens) AS tot FROM t GROUP BY shard
        ),
        con AS (
            SELECT CAST(SUM(CAST(ceil(tot / {cap}.0) AS BIGINT)) AS BIGINT)
                       AS concat_windows,
                   CAST(SUM(CAST(ceil(tot / {cap}.0) AS BIGINT) * {cap}
                            - tot) AS BIGINT) AS concat_waste
            FROM shard_tot
        ),
        pad AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(CAST(ceil(n_tokens / {cap}.0) AS BIGINT))
                        AS BIGINT) AS pad_windows,
                   CAST(SUM(CAST(ceil(n_tokens / {cap}.0) AS BIGINT) * {cap}
                            - n_tokens) AS BIGINT) AS pad_waste,
                   CAST(SUM(CASE WHEN n_tokens > {cap} THEN 1 ELSE 0 END)
                        AS BIGINT) AS pad_split_docs
            FROM t WHERE n_tokens > 0
        )
        SELECT CAST({cap} AS BIGINT) AS capacity,
               p.n_docs, p.total_tokens,
               c.concat_windows, s.concat_split_docs, c.concat_waste,
               p.pad_windows, p.pad_waste, p.pad_split_docs,
               CAST(c.concat_waste * 1000 // (c.concat_windows * {cap})
                    AS BIGINT) AS concat_waste_pm,
               CAST(p.pad_waste * 1000 // (p.pad_windows * {cap})
                    AS BIGINT) AS pad_waste_pm
        FROM pad p CROSS JOIN con c CROSS JOIN split s
    )""")
    return "\nUNION ALL\n".join(parts)


ORACLES["q172_packing_tradeoff"] = _q172_oracle()


# q173: semantic decontamination — q51's SRP replay re-pointed at the
# CROSS-SET join (corpus band keys vs probe band keys, no a<b filter);
# same plane literals, same fold orders, same verify formula.
def _q173_oracle() -> str:
    from sparkdiff.operators.similarity import _deterministic_planes

    bands, rows_per_band, dim = 6, 12, 64
    planes = _deterministic_planes(bands * rows_per_band, dim)

    def fold_dot(vec: str, coefs: list[float]) -> str:
        return "(" + " + ".join(
            f"{vec}[{i + 1}] * {float(c)!r}" for i, c in enumerate(coefs)
        ) + ")"

    keys = []
    for b in range(bands):
        bits = " + ".join(
            f"(CASE WHEN {fold_dot('v', planes[b * rows_per_band + j])} >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(rows_per_band)
        )
        keys.append(f"CAST({bits} AS INTEGER) AS k{b}")
    key_cols = ",\n                   ".join(keys)
    band_structs = ", ".join(
        f"struct_pack(band := {b}, key := k{b})" for b in range(bands)
    )
    pair_fold = (
        "list_reduce(list_prepend(0.0, list_transform("
        f"generate_series(1, {dim}), i -> va[i] * vb[i])), (acc, x) -> acc + x)"
    )
    norm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform({v}, x -> x * x)), "
        "(acc, x) -> acc + x))"
    )
    return f"""
        WITH raw AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        probe AS (
            SELECT vec_id + 200000 AS vec_id,
                   list_transform(
                       generate_series(1, {dim}),
                       i -> v[i] * (1.0 + 0.01 * CAST(((i - 1) % 7) - 3 AS DOUBLE))
                   ) AS v
            FROM raw WHERE vec_id % 40 = 0
        ),
        csigs AS (SELECT vec_id, {key_cols} FROM raw),
        psigs AS (SELECT vec_id, {key_cols} FROM probe),
        ck AS (
            SELECT vec_id, bk.band AS band, bk.key AS key
            FROM (SELECT vec_id, unnest([{band_structs}]) AS bk FROM csigs)
        ),
        pk AS (
            SELECT vec_id, bk.band AS band, bk.key AS key
            FROM (SELECT vec_id, unnest([{band_structs}]) AS bk FROM psigs)
        ),
        cands AS (
            SELECT DISTINCT c.vec_id AS corpus_id, p.vec_id AS probe_id
            FROM ck c JOIN pk p ON c.band = p.band AND c.key = p.key
        ),
        verified AS (
            SELECT cd.corpus_id, cd.probe_id,
                   {pair_fold} AS d,
                   {norm.format(v='va')} AS na,
                   {norm.format(v='vb')} AS nb
            FROM cands cd
            JOIN (SELECT vec_id, v AS va FROM raw) a ON a.vec_id = cd.corpus_id
            JOIN (SELECT vec_id, v AS vb FROM probe) b ON b.vec_id = cd.probe_id
        )
        SELECT corpus_id, probe_id,
               CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END
                   AS cosine
        FROM verified
        WHERE (CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END)
              >= 0.99
    """


ORACLES["q173_semantic_decontamination"] = _q173_oracle()


# q174: trending segments — daily (event_type x k-decile) counts, lag
# rise per segment over the bounded segment-day table, min-base gate,
# top-20 under the same deterministic total order.
ORACLES["q174_trending_segments"] = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               event_type || ':' ||
               CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
                    AS VARCHAR) AS segment,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        GROUP BY CAST(ts AS DATE),
                 event_type || ':' ||
                 CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
                      AS VARCHAR)
    ),
    risen AS (
        SELECT day, segment, n,
               lag(n) OVER (PARTITION BY segment ORDER BY day) AS prev_n
        FROM daily
    )
    SELECT day, segment, n, prev_n,
           CAST((n - prev_n) * 1000 // prev_n AS BIGINT) AS rise_pm
    FROM risen
    WHERE prev_n >= 5
    ORDER BY rise_pm DESC, day, segment
    LIMIT 20
"""


# q175: functional-dependency audit — per candidate, the g3 violation
# count Σ(group_size − max dependent frequency) replayed verbatim; the
# candidate list is shared with the Spark side (queries.FD_CANDIDATES)
# so both engines always audit the same dependencies.
def _q175_oracle() -> str:
    from sparkdiff.queries import FD_CANDIDATES, _fd_cast

    def one(label: str, table: str, det: str, dep: str) -> str:
        return f"""
    SELECT '{label}' AS candidate,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n - m) AS BIGINT) AS n_violations,
           SUM(n - m) = 0 AS holds
    FROM (
        SELECT det, SUM(cnt) AS n, MAX(cnt) AS m
        FROM (
            SELECT {_fd_cast(det)} AS det, {_fd_cast(dep)} AS dep,
                   COUNT(*) AS cnt
            FROM {table} GROUP BY 1, 2
        ) GROUP BY det
    )"""

    return "\nUNION ALL\n".join(one(*c) for c in FD_CANDIDATES)


ORACLES["q175_fd_audit"] = _q175_oracle()


# q176: equal-frequency binning — DuckDB's single row_number window IS
# the spec the Spark side's range-partitioned rail must equal; integer
# cents keep the sort key and the bin bounds exact.
ORACLES["q176_equifreq_binning"] = """
    WITH urgent AS (
        SELECT DISTINCT o_custkey AS c_custkey
        FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    labeled AS (
        SELECT c.c_custkey,
               CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
               CASE WHEN u.c_custkey IS NULL THEN 0 ELSE 1 END AS pos
        FROM customer c LEFT JOIN urgent u USING (c_custkey)
    ),
    ranked AS (
        SELECT bal_cents, pos,
               row_number() OVER (ORDER BY bal_cents, c_custkey) AS rn,
               COUNT(*) OVER () AS _n
        FROM labeled
    )
    SELECT CAST((rn - 1) * 8 // _n AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg,
           CAST(MIN(bal_cents) AS BIGINT) AS lo_cents,
           CAST(MAX(bal_cents) AS BIGINT) AS hi_cents
    FROM ranked GROUP BY 1
"""


# q177: CUSUM change point — the day-count-scaled cumulative deviation
# S_i = Σ (c_j·D − N) stays in exact integers; argmax |S_i| with the
# earliest-day tiebreak replayed as the same row_number pick.
ORACLES["q177_cusum_changepoint"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    totals AS (
        SELECT event_type, SUM(c) AS n_total, COUNT(*) AS n_days
        FROM daily GROUP BY event_type
    ),
    s AS (
        SELECT d.event_type, d.day, t.n_days, t.n_total,
               SUM(d.c * t.n_days - t.n_total) OVER (
                   PARTITION BY d.event_type ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS s_i
        FROM daily d JOIN totals t USING (event_type)
    ),
    pick AS (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY abs(s_i) DESC, day ASC
        ) AS _r
        FROM s
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(n_total AS BIGINT) AS total,
           CAST(day AS VARCHAR) AS change_day,
           CAST(abs(s_i) AS BIGINT) AS s_abs
    FROM pick WHERE _r = 1
"""


# q178: join-cardinality audit — per md5-60-bit-hash bucket, the
# uniformity estimate rows_l·rows_p div max(ndv) beside the exact join
# size Σ cnt_l(k)·cnt_p(k), both computed from per-key count tables
# (the raw join never executes on either engine).
ORACLES["q178_join_cardinality_audit"] = f"""
    WITH lk AS (
        SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt_l,
               {_md5_token_hash("CAST(l_partkey AS VARCHAR)")} % 16 AS bucket
        FROM lineitem GROUP BY l_partkey
    ),
    pk AS (
        SELECT p_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt_p,
               {_md5_token_hash("CAST(p_partkey AS VARCHAR)")} % 16 AS bucket
        FROM part GROUP BY p_partkey
    ),
    sides AS (
        SELECT l.bucket, l.rows_l, l.ndv_l, p.rows_p, p.ndv_p
        FROM (SELECT bucket, SUM(cnt_l) AS rows_l, COUNT(*) AS ndv_l
              FROM lk GROUP BY bucket) l
        JOIN (SELECT bucket, SUM(cnt_p) AS rows_p, COUNT(*) AS ndv_p
              FROM pk GROUP BY bucket) p USING (bucket)
    ),
    act AS (
        SELECT lk.bucket, SUM(lk.cnt_l * pk.cnt_p) AS actual
        FROM lk JOIN pk ON lk.bucket = pk.bucket AND lk.key = pk.key
        GROUP BY lk.bucket
    )
    SELECT s.bucket,
           CAST(s.rows_l * s.rows_p // greatest(s.ndv_l, s.ndv_p)
                AS BIGINT) AS est,
           CAST(COALESCE(a.actual, 0) AS BIGINT) AS actual,
           CAST(s.ndv_l AS BIGINT) AS ndv_l,
           CAST(s.ndv_p AS BIGINT) AS ndv_p,
           CAST(abs(s.rows_l * s.rows_p // greatest(s.ndv_l, s.ndv_p)
                    - COALESCE(a.actual, 0)) * 1000
                // greatest(COALESCE(a.actual, 0), 1) AS BIGINT) AS err_pm
    FROM sides s LEFT JOIN act a USING (bucket)
"""


# q179: join-view delta — the oracle certifies the delta ALGEBRA by
# computing the ground truth the hard way: full new view minus full old
# view, as a per-nation GROUP BY difference (counts and cents subtract
# exactly; zero-delta nations drop out on both engines only if BOTH
# deltas are zero — kept explicitly to match the Spark side, which
# emits every nation its delta rows touch).
ORACLES["q179_join_view_delta"] = """
    WITH o AS (
        SELECT o_custkey AS c_custkey, o_orderdate,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    c AS (SELECT c_custkey, c_nationkey FROM customer),
    new_v AS (
        SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o.cents) AS BIGINT) AS cents
        FROM o JOIN c USING (c_custkey)
        GROUP BY c.c_nationkey
    ),
    old_v AS (
        SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o.cents) AS BIGINT) AS cents
        FROM o JOIN c USING (c_custkey)
        WHERE o.o_orderdate < TIMESTAMP '1998-06-01'
          AND c.c_custkey % 13 != 0
        GROUP BY c.c_nationkey
    )
    SELECT n.c_nationkey,
           CAST(n.n - COALESCE(o2.n, 0) AS BIGINT) AS delta_rows,
           CAST(n.cents - COALESCE(o2.cents, 0) AS BIGINT) AS delta_cents
    FROM new_v n LEFT JOIN old_v o2 USING (c_nationkey)
    WHERE n.n - COALESCE(o2.n, 0) != 0
"""


# q180: k-anonymity / l-diversity audit — QI decile via floor of an
# exact-cents double division (negative balances floor identically in
# both engines; truncating integer division would not).
ORACLES["q180_k_anonymity"] = """
    WITH c AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CAST(floor(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
                          / 100000.0) AS BIGINT) AS bal_decile
        FROM customer
    )
    SELECT c.c_nationkey, c.c_mktsegment, c.bal_decile,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_members,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS n_sensitive,
           COUNT(DISTINCT c.c_custkey) >= 5 AS k_anonymous,
           COUNT(DISTINCT o.o_orderpriority) >= 3 AS l_diverse
    FROM c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2, 3
"""


# q181: hierarchy closure — DuckDB's real WITH RECURSIVE per-level walk
# is the spec the Spark pointer-doubling loop must equal exactly; the
# summary groups the closure by (root, depth).
ORACLES["q181_hierarchy_closure"] = """
    WITH RECURSIVE p AS (
        SELECT doc_id AS node,
               CASE WHEN doc_id >= 9 THEN doc_id // 3 END AS parent
        FROM documents
    ),
    cl AS (
        SELECT node, node AS cur, CAST(0 AS BIGINT) AS depth FROM p
        UNION ALL
        SELECT cl.node, p.parent AS cur, cl.depth + 1 AS depth
        FROM cl JOIN p ON p.node = cl.cur
        WHERE p.parent IS NOT NULL
    ),
    closure AS (
        SELECT node, cur AS root, depth,
               row_number() OVER (PARTITION BY node ORDER BY depth DESC)
                   AS _r
        FROM cl
    )
    SELECT root, depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM closure WHERE _r = 1
    GROUP BY root, depth
"""


# q182: chi-square independence — marginals and N from the bounded cell
# table; the scaled term goes through HUGEINT (DuckDB's exact integer)
# exactly as the Spark side goes through DECIMAL(38,0).
ORACLES["q182_chi2_independence"] = """
    WITH cells AS (
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1, 2
    ),
    enriched AS (
        SELECT o_orderstatus, o_orderpriority, obs,
               SUM(obs) OVER (PARTITION BY o_orderstatus) AS row_total,
               SUM(obs) OVER (PARTITION BY o_orderpriority) AS col_total,
               SUM(obs) OVER () AS n
        FROM cells
    )
    SELECT o_orderstatus, o_orderpriority, obs,
           CAST(row_total * col_total * 1000 // n AS BIGINT)
               AS expected_milli,
           CAST((CAST(n AS HUGEINT) * obs
                 - CAST(row_total AS HUGEINT) * col_total)
                * (CAST(n AS HUGEINT) * obs
                   - CAST(row_total AS HUGEINT) * col_total)
                * 1000000
                // (CAST(n AS HUGEINT) * row_total * col_total)
               AS BIGINT) AS chi2_term_scaled
    FROM enriched
"""


# q183: Benford first-digit audit — the digit comes from the integer-
# cents STRING on both engines (no float log anywhere); the reference
# shares are the same integer constants the Spark side embeds.
ORACLES["q183_benford_audit"] = """
    WITH counts AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders WHERE o_totalprice > 0
        GROUP BY 1
    ),
    ref(digit, benford_pm) AS (
        VALUES (1, 301), (2, 176), (3, 124), (4, 96), (5, 79),
               (6, 66), (7, 57), (8, 51), (9, 45)
    ),
    tot AS (SELECT SUM(n) AS t FROM counts)
    SELECT c.digit, c.n,
           CAST(c.n * 1000 // t.t AS BIGINT) AS share_pm,
           CAST(r.benford_pm AS BIGINT) AS benford_pm,
           CAST(abs(c.n * 1000 // t.t - r.benford_pm) AS BIGINT) AS dev_pm
    FROM counts c JOIN ref r ON r.digit = c.digit CROSS JOIN tot t
"""


# q184: point-in-time join — probe = purchase ts minus one hour against
# the q101-shaped SCD2 intervals; inner join drops probes before the
# first state, exactly like the Spark side.
ORACLES["q184_point_in_time_join"] = """
    WITH changed AS (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS _prev
        FROM events
    ),
    hist AS (
        SELECT user_id, event_type AS state, ts AS valid_from,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to
        FROM changed
        WHERE _prev IS NULL OR _prev != event_type
    ),
    probes AS (
        SELECT user_id, ts - INTERVAL 1 HOUR AS probe_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT h.state AS prior_state,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users
    FROM probes p JOIN hist h ON h.user_id = p.user_id
    WHERE h.valid_from <= p.probe_ts
      AND (h.valid_to IS NULL OR p.probe_ts < h.valid_to)
    GROUP BY h.state
"""


# q185: Markov transition matrix — one lead window, bounded-matrix
# rollup, per-mille row-normalized.
ORACLES["q185_state_transitions"] = """
    WITH pairs AS (
        SELECT event_type AS state,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_state
        FROM events
    ),
    m AS (
        SELECT state, next_state, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs WHERE next_state IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT state, next_state, n,
           CAST(SUM(n) OVER (PARTITION BY state) AS BIGINT) AS row_total,
           CAST(n * 1000 // SUM(n) OVER (PARTITION BY state) AS BIGINT)
               AS p_pm
    FROM m
"""


# q186: weighted quantile cuts — DuckDB's one-window cumulative weight
# over distinct prices is the spec the Spark prefix-sum rail must
# equal; ceil targets as (bin*W + 9) // 10 in exact integers.
ORACLES["q186_weighted_quantiles"] = """
    WITH vw AS (
        SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT v, SUM(w) OVER (ORDER BY v) AS c FROM vw
    ),
    tot AS (SELECT SUM(w) AS W FROM vw),
    targets AS (
        SELECT CAST(d AS BIGINT) AS bin,
               CAST((d * W + 9) // 10 AS BIGINT) AS target_weight
        FROM range(1, 10) t(d) CROSS JOIN tot
    )
    SELECT t.bin, t.target_weight,
           CAST(MIN(c.v) AS BIGINT) AS cut_cents
    FROM cum c JOIN targets t ON c.c >= t.target_weight
    GROUP BY 1, 2
"""


# q187: event-time lateness audit — running event-time max per user in
# arrival (event_id) order, fixed 900s buckets, per-mille shares.
ORACLES["q187_lateness_audit"] = """
    WITH late AS (
        -- floor each epoch SEPARATELY: Spark's unix_timestamp truncates
        -- sub-second timestamps per value; subtracting exact epochs and
        -- rounding once drifts by 1s on fractional-second data
        SELECT CAST(floor(epoch(MAX(ts) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS DATE), event_id % 16, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ))) AS BIGINT)
               - CAST(floor(epoch(ts)) AS BIGINT) AS late_s
        FROM events
    ),
    counts AS (
        SELECT late_s - late_s % 900 AS bucket_s,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(late_s) AS BIGINT) AS max_late_s
        FROM late GROUP BY 1
    )
    SELECT CAST(bucket_s AS BIGINT) AS bucket_s, n, max_late_s,
           CAST(n * 1000 // SUM(n) OVER () AS BIGINT) AS share_pm
    FROM counts
"""


# q188: watermark loss accounting — q187's lateness column priced at
# four candidate delays; same floored-epoch convention.
ORACLES["q188_watermark_loss"] = """
    WITH late AS (
        SELECT CAST(floor(epoch(MAX(ts) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS DATE), event_id % 16, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ))) AS BIGINT)
               - CAST(floor(epoch(ts)) AS BIGINT) AS late_s
        FROM events
    ),
    cand(watermark_s) AS (VALUES (0), (900), (1800), (3600))
    SELECT CAST(c.watermark_s AS BIGINT) AS watermark_s,
           CAST(SUM(CASE WHEN l.late_s > c.watermark_s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN l.late_s > c.watermark_s THEN 1 ELSE 0 END)
                * 1000 // COUNT(*) AS BIGINT) AS loss_pm
    FROM late l CROSS JOIN cand c
    GROUP BY c.watermark_s
"""


# q189: conversion lag p50/p90/p99 — the q50 interpolation idiom
# (rank target p·(n−1), 1-based cumulative, cofrac·lo + frac·hi)
# replayed over the distinct-lag distribution; epochs floored per
# value exactly like Spark's unix_timestamp.
ORACLES["q189_conversion_lag"] = """
    WITH fv AS (
        SELECT user_id, MIN(ts) AS view_ts
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    lag AS (
        SELECT e.user_id,
               CAST(floor(epoch(MIN(e.ts))) AS BIGINT)
               - CAST(floor(epoch(MIN(f.view_ts))) AS BIGINT) AS lag_s
        FROM events e JOIN fv f USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= f.view_ts
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT CAST(lag_s AS DOUBLE) AS v, COUNT(*) AS c
        FROM lag GROUP BY 1
    ),
    dist AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v) AS cum,
               SUM(c) OVER () AS n
        FROM counts
    ),
    parts AS (
        SELECT
            CAST(MIN(CASE WHEN cum >= floor(0.5 * CAST(n - 1 AS DOUBLE)) + 1
                          THEN v END) AS DOUBLE) AS p50_lo,
            CAST(MIN(CASE WHEN cum >= ceil(0.5 * CAST(n - 1 AS DOUBLE)) + 1
                          THEN v END) AS DOUBLE) AS p50_hi,
            MIN(0.5 * CAST(n - 1 AS DOUBLE)
                - floor(0.5 * CAST(n - 1 AS DOUBLE))) AS p50_frac,
            MIN(ceil(0.5 * CAST(n - 1 AS DOUBLE))
                - 0.5 * CAST(n - 1 AS DOUBLE)) AS p50_cofrac,
            CAST(MIN(CASE WHEN cum >= floor(0.9 * CAST(n - 1 AS DOUBLE)) + 1
                          THEN v END) AS DOUBLE) AS p90_lo,
            CAST(MIN(CASE WHEN cum >= ceil(0.9 * CAST(n - 1 AS DOUBLE)) + 1
                          THEN v END) AS DOUBLE) AS p90_hi,
            MIN(0.9 * CAST(n - 1 AS DOUBLE)
                - floor(0.9 * CAST(n - 1 AS DOUBLE))) AS p90_frac,
            MIN(ceil(0.9 * CAST(n - 1 AS DOUBLE))
                - 0.9 * CAST(n - 1 AS DOUBLE)) AS p90_cofrac,
            CAST(MIN(CASE WHEN cum >= floor(0.99 * CAST(n - 1 AS DOUBLE)) + 1
                          THEN v END) AS DOUBLE) AS p99_lo,
            CAST(MIN(CASE WHEN cum >= ceil(0.99 * CAST(n - 1 AS DOUBLE)) + 1
                          THEN v END) AS DOUBLE) AS p99_hi,
            MIN(0.99 * CAST(n - 1 AS DOUBLE)
                - floor(0.99 * CAST(n - 1 AS DOUBLE))) AS p99_frac,
            MIN(ceil(0.99 * CAST(n - 1 AS DOUBLE))
                - 0.99 * CAST(n - 1 AS DOUBLE)) AS p99_cofrac,
            CAST(MIN(n) AS BIGINT) AS n_users
        FROM dist
    )
    SELECT
        CASE WHEN p50_frac = 0 THEN p50_lo
             ELSE p50_cofrac * p50_lo + p50_frac * p50_hi END AS p50_s,
        CASE WHEN p90_frac = 0 THEN p90_lo
             ELSE p90_cofrac * p90_lo + p90_frac * p90_hi END AS p90_s,
        CASE WHEN p99_frac = 0 THEN p99_lo
             ELSE p99_cofrac * p99_lo + p99_frac * p99_hi END AS p99_s,
        n_users
    FROM parts
"""


# q190: PSI drift scorecard — fixed-width $25k price bins, exact counts,
# integer ppm proportions (the ln() of the PSI sum is driver-side by the
# q176 WOE convention: counts are the data product).
ORACLES["q190_psi_drift"] = """
    WITH o AS (
        SELECT least(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                     // 2500000, 22) AS bucket,
               (year(o_orderdate) < 1998) AS is_ref
        FROM orders
    ),
    per_bucket AS (
        SELECT bucket,
               SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
               SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
        FROM o GROUP BY bucket
    ),
    totals AS (
        SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM per_bucket
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(n_ref * 1000000 // t_ref AS BIGINT) AS ref_ppm,
           CAST(n_cur * 1000000 // t_cur AS BIGINT) AS cur_ppm,
           CAST(n_cur * 1000000 // t_cur
                - n_ref * 1000000 // t_ref AS BIGINT) AS delta_ppm
    FROM per_bucket CROSS JOIN totals
"""


# q191: decision-stump Gini split audit — integer micro-unit impurity
# (10^6 - 10^6*(pos^2+neg^2) DIV n^2 per side, weighted), thresholds =
# balance deciles, outcome = has >=1 1-URGENT order.
ORACLES["q191_gini_split_audit"] = """
    WITH c AS (
        SELECT c_custkey,
               CAST(floor(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                          / 100000.0) AS BIGINT) AS decile
        FROM customer
    ),
    urgent AS (
        SELECT DISTINCT o_custkey AS c_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ),
    flagged AS (
        SELECT c.decile,
               CASE WHEN u.c_custkey IS NULL THEN 0 ELSE 1 END AS pos
        FROM c LEFT JOIN urgent u USING (c_custkey)
    ),
    per_decile AS (
        SELECT decile, COUNT(*) AS n_d, SUM(pos) AS pos_d
        FROM flagged GROUP BY decile
    ),
    cum AS (
        SELECT decile AS threshold,
               SUM(n_d) OVER (ORDER BY decile) AS n_l,
               SUM(pos_d) OVER (ORDER BY decile) AS pos_l
        FROM per_decile
    ),
    totals AS (
        SELECT SUM(n_d) AS n, SUM(pos_d) AS pos FROM per_decile
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(n_l AS BIGINT) AS n_l,
           CAST(pos_l AS BIGINT) AS pos_l,
           CAST(n - n_l AS BIGINT) AS n_r,
           CAST(pos - pos_l AS BIGINT) AS pos_r,
           CAST((n_l * (1000000 - (1000000 * (pos_l*pos_l +
                    (n_l-pos_l)*(n_l-pos_l))) // (n_l*n_l))
                 + (n-n_l) * (1000000 - (1000000 * ((pos-pos_l)*(pos-pos_l)
                    + ((n-n_l)-(pos-pos_l))*((n-n_l)-(pos-pos_l))))
                    // ((n-n_l)*(n-n_l)))) // n AS BIGINT) AS w_gini_micro
    FROM cum CROSS JOIN totals
    WHERE n_l < n
"""


# q192: strict-containment event funnel (view -> click -> purchase),
# per-step user counts + integer ppm conversions.
ORACLES["q192_event_funnel"] = """
    WITH v AS (
        SELECT user_id, MIN(ts) AS view_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS click_ts
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts >= v.view_ts
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS purchase_ts
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT (SELECT COUNT(*) FROM v) AS n_view,
               (SELECT COUNT(*) FROM c) AS n_click,
               (SELECT COUNT(*) FROM p) AS n_purchase
    )
    SELECT CAST(n_view AS BIGINT) AS n_view,
           CAST(n_click AS BIGINT) AS n_click,
           CAST(n_purchase AS BIGINT) AS n_purchase,
           CAST(n_click * 1000000 // n_view AS BIGINT) AS click_ppm,
           CAST(n_purchase * 1000000 // n_click AS BIGINT) AS purchase_ppm,
           CAST(n_purchase * 1000000 // n_view AS BIGINT) AS overall_ppm
    FROM counts
"""


# q193: SCD2 interval builder — change log -> validity intervals via
# per-key lead(); epoch-millis rail (Spark unix_millis == DuckDB
# epoch_ms for the micro-second-normalized events timestamps).
ORACLES["q193_scd2_builder"] = """
    SELECT user_id, event_id, event_type,
           CAST(epoch_ms(ts) AS BIGINT) AS valid_from_ms,
           CAST(epoch_ms(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           )) AS BIGINT) AS valid_to_ms
    FROM events
    WHERE user_id % 50 = 0
"""


# q194: bitmap segment algebra — the oracle computes the same overlaps
# as plain distinct-set joins; a value-hash match certifies the packed
# word AND + bit_count path loses no member.
ORACLES["q194_bitmap_segments"] = """
    WITH s AS (
        SELECT DISTINCT o_orderpriority AS seg, o_custkey AS ck FROM orders
    ),
    sizes AS (SELECT seg, COUNT(*) AS n FROM s GROUP BY seg),
    ov AS (
        SELECT a.seg AS seg_a, b.seg AS seg_b, COUNT(*) AS n_both
        FROM s a JOIN s b ON a.ck = b.ck AND a.seg < b.seg
        GROUP BY 1, 2
    )
    SELECT seg_a, seg_b,
           CAST(ca.n AS BIGINT) AS n_a,
           CAST(cb.n AS BIGINT) AS n_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(ca.n + cb.n - n_both AS BIGINT) AS n_either
    FROM ov
    JOIN sizes ca ON ca.seg = ov.seg_a
    JOIN sizes cb ON cb.seg = ov.seg_b
"""


def _q195_oracle(p: int = 8, salt: str = "hll-q195") -> str:
    """Rolling-window twin of _q157_oracle: same md5-based registers,
    keyed by day, MAX-merged across the <=7 window end-dates each day
    contributes to, plus the exact rolling distinct."""
    from sparkdiff.operators.sketch import HLL_SUFFIX_BITS, hll_alpha_m2_scaled

    m = 1 << p
    rmax = HLL_SUFFIX_BITS + 1
    return f"""
    WITH e AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(user_id AS VARCHAR) AS uid
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM e),
    h AS (
        SELECT day,
               CAST(('0x' || substr(md5(uid || '{salt}'), 1, 15)) AS BIGINT)
               AS hv
        FROM e
    ),
    regs AS (
        SELECT day, hv % {m} AS bucket,
               MAX(CASE WHEN ((hv >> {p}) & ((1::BIGINT << {HLL_SUFFIX_BITS}) - 1)) = 0
                        THEN {rmax}
                        ELSE {rmax} - length(bin(
                            (hv >> {p}) & ((1::BIGINT << {HLL_SUFFIX_BITS}) - 1)
                        )) END) AS reg
        FROM h GROUP BY day, bucket
    ),
    offs AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS off),
    fan AS (
        SELECT r.day + o.off AS day, r.bucket, MAX(r.reg) AS reg
        FROM regs r CROSS JOIN offs o
        JOIN days d ON d.day = r.day + o.off
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS buckets_hit,
               SUM(1::BIGINT << ({rmax} - reg)) AS z_present
        FROM fan GROUP BY day
    ),
    est AS (
        SELECT day, buckets_hit,
               CAST(floor({hll_alpha_m2_scaled(p)!r}
                    / CAST(z_present + ({m} - buckets_hit) * (1::BIGINT << {rmax})
                           AS DOUBLE)) AS BIGINT) AS hll_ndv
        FROM agg
    ),
    exact AS (
        SELECT f.day, CAST(COUNT(DISTINCT e2.uid) AS BIGINT) AS exact_ndv
        FROM (SELECT DISTINCT r.day + o.off AS day, r.day AS src
              FROM (SELECT DISTINCT day FROM e) r CROSS JOIN offs o) f
        JOIN days d ON d.day = f.day
        JOIN e e2 ON e2.day = f.src
        GROUP BY f.day
    )
    SELECT est.day, est.buckets_hit, est.hll_ndv, exact.exact_ndv
    FROM est JOIN exact USING (day)
    """


ORACLES["q195_rolling_hll"] = _q195_oracle()


# q196: HITS hubs/authorities, two unnormalized integer power-iteration
# rounds over the distinct supplier<->part edge table.
ORACLES["q196_hits_link_analysis"] = """
    WITH edges AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    a1 AS (SELECT p, COUNT(*) AS a1 FROM edges GROUP BY p),
    h1 AS (
        SELECT e.s, SUM(a1.a1) AS h1
        FROM edges e JOIN a1 USING (p) GROUP BY e.s
    ),
    a2 AS (
        SELECT e.p, SUM(h1.h1) AS a2
        FROM edges e JOIN h1 USING (s) GROUP BY e.p
    )
    SELECT CAST(a2.p AS BIGINT) AS partkey,
           CAST(a1.a1 AS BIGINT) AS auth_round1,
           CAST(a2.a2 AS BIGINT) AS auth_round2
    FROM a2 JOIN a1 USING (p)
    ORDER BY a2.a2 DESC, a2.p
    LIMIT 20
"""


# q197: decile mobility — per-year spend rankings cut into deciles on
# the exact (spend, custkey) total order; the Spark side's
# range-partitioned rank rail must reproduce row_number() exactly.
ORACLES["q197_decile_mobility"] = """
    WITH o AS (
        SELECT o_custkey, year(o_orderdate) AS yr,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    s96 AS (
        SELECT o_custkey, SUM(cents) AS spend FROM o
        WHERE yr = 1996 GROUP BY o_custkey
    ),
    s97 AS (
        SELECT o_custkey, SUM(cents) AS spend FROM o
        WHERE yr = 1997 GROUP BY o_custkey
    ),
    d96 AS (
        SELECT o_custkey,
               (row_number() OVER (ORDER BY spend, o_custkey) - 1) * 10
               // COUNT(*) OVER () AS dec_96
        FROM s96
    ),
    d97 AS (
        SELECT o_custkey,
               (row_number() OVER (ORDER BY spend, o_custkey) - 1) * 10
               // COUNT(*) OVER () AS dec_97
        FROM s97
    )
    SELECT CAST(dec_96 AS BIGINT) AS dec_96,
           CAST(dec_97 AS BIGINT) AS dec_97,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM d96 JOIN d97 USING (o_custkey)
    GROUP BY 1, 2
"""


# q198: touch attribution — last/first preceding view-or-click per
# purchase via ignore-nulls frame windows, 'direct' when none.
ORACLES["q198_touch_attribution"] = """
    WITH attributed AS (
        SELECT event_type,
               CAST(floor(value * 1024) AS BIGINT) AS vs,
               COALESCE(last_value(CASE WHEN event_type IN ('view', 'click')
                                        THEN event_type END IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING),
                        'direct') AS last_touch,
               COALESCE(first_value(CASE WHEN event_type IN ('view', 'click')
                                         THEN event_type END IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING),
                        'direct') AS first_touch
        FROM events
    ),
    purchases AS (SELECT * FROM attributed WHERE event_type = 'purchase'),
    l AS (
        SELECT last_touch AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_last,
               CAST(SUM(vs) AS BIGINT) AS value_last_scaled
        FROM purchases GROUP BY 1
    ),
    f AS (
        SELECT first_touch AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_first,
               CAST(SUM(vs) AS BIGINT) AS value_first_scaled
        FROM purchases GROUP BY 1
    )
    SELECT channel,
           COALESCE(n_last, 0) AS n_last,
           COALESCE(value_last_scaled, 0) AS value_last_scaled,
           COALESCE(n_first, 0) AS n_first,
           COALESCE(value_first_scaled, 0) AS value_first_scaled
    FROM l FULL OUTER JOIN f USING (channel)
"""


# q199: relational division — count-distinct-equals-divisor rewrite of
# "suppliers reaching customers in EVERY AMERICA nation".
ORACLES["q199_relational_division"] = """
    WITH target AS (
        SELECT n_nationkey AS nk FROM nation
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'AMERICA'
    ),
    reach AS (
        SELECT DISTINCT l.l_suppkey, c.c_nationkey AS nk
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN target t ON c.c_nationkey = t.nk
    )
    SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM reach
    GROUP BY l_suppkey
    HAVING COUNT(*) = (SELECT COUNT(*) FROM target)
"""


# q200: interval-weighted mean — 1024-scaled values x epoch-ms
# durations, integer DIV at the end.
ORACLES["q200_time_weighted_avg"] = """
    WITH iv AS (
        SELECT user_id,
               CAST(floor(value * 1024) AS BIGINT) AS vs,
               CAST(epoch_ms(lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               )) - epoch_ms(ts) AS BIGINT) AS dur_ms
        FROM events WHERE user_id % 20 = 0
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_ms) AS BIGINT) AS total_ms,
           CAST(SUM(vs * dur_ms) // SUM(dur_ms) AS BIGINT) AS twa_scaled
    FROM iv WHERE dur_ms IS NOT NULL
    GROUP BY user_id
    HAVING SUM(dur_ms) > 0
"""


# q201: gaps-and-islands — day minus row_number anchors consecutive
# runs; longest streak + totals per user.
ORACLES["q201_activity_streaks"] = """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE user_id % 10 = 0
    ),
    anchored AS (
        SELECT user_id,
               day - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day
               ) AS INTEGER) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, anchor, COUNT(*) AS len
        FROM anchored GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
"""


# q202: the salted-join certificate — the oracle is the PLAIN join the
# salted path must reproduce row-for-row.
ORACLES["q202_salted_join_audit"] = """
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
"""
