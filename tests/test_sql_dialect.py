"""Spark-free checks of sql.spark_dialect, the DuckDB -> Spark SQL
rewriter that derives the SQL front door from the oracle text."""

from __future__ import annotations

import pytest

from uie_pytorch_spark.queries import ORACLE_SQL
from uie_pytorch_spark.sql import SPARK_SQL, SQL_QUERIES, spark_dialect


def test_literals_are_reescaped():
    assert spark_dialect(r"SELECT 'it''s', '[\S]+'") == r"SELECT 'it\'s', '[\\S]+'"


def test_literal_contents_are_left_alone():
    sql = "SELECT 'g', '[^&]*', 'a[1]', 'x // y', '1.5', 'len(x)', 'VARCHAR'"
    assert spark_dialect(sql) == sql
    assert (
        spark_dialect("regexp_replace(u, '[g]+', 'g', 'g')")
        == "regexp_replace(u, '[g]+', 'g')"
    )


def test_regexp_extract_all_group():
    assert (
        spark_dialect("regexp_extract_all(s, '[a-z]+')")
        == "regexp_extract_all(s, '[a-z]+', 0)"
    )
    three = "regexp_extract_all(s, '(a)(b)', 2)"
    assert spark_dialect(three) == three


def test_first_match_regexp_replace_is_rejected():
    with pytest.raises(ValueError, match="regexp_replace"):
        spark_dialect("regexp_replace(s, 'a', 'b')")


def test_rules_rewrite_code():
    cases = {
        "CAST(x AS VARCHAR)": "CAST(x AS STRING)",
        "x * 1.0 / 97.0 + 1e12 + t1.c2": "x * 1.0d / 97.0d + 1e12 + t1.c2",
        "perm // 3": "perm  DIV  3",
        "len(unnest(generate_series(1, 3)))": "size(explode(sequence(1, 3)))",
        "quantile_cont(n, 0.5)": "percentile(n, 0.5d)",
        "array_to_string(list_sort(list_distinct(string_split(s, '.'))), ',')":
            r"array_join(array_sort(array_distinct(split(s, '\\.'))), ',')",
        r"string_split_regex(s, '\s+')": r"split(s, '\\s+')",
        "(('0x' || substr(md5(t), 1, 15))::bigint) % 2":
            "(CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)) % 2",
        "epoch(l.ts)": "CAST(CAST(l.ts AS TIMESTAMP) AS DOUBLE)",
        "e.emb[gs.i + 1]": "element_at(e.emb, CAST(gs.i + 1 AS INT))",
        "string_agg(CAST(m AS VARCHAR), ',' ORDER BY perm)":
            "listagg(CAST(m AS STRING), ',') WITHIN GROUP (ORDER BY perm)",
    }
    for duckdb, spark in cases.items():
        assert spark_dialect(duckdb) == spark, duckdb


def test_every_sql_expressible_query_has_a_spark_rendering():
    not_sql = {
        "uie_entities", "uie_nested_export", "kg_canonical_entities",
        "dedup_near_canonical", "dedup_near_canonical_capped",
    }
    assert set(SQL_QUERIES) == set(ORACLE_SQL) - not_sql


def test_only_underivable_queries_are_written_by_hand():
    assert set(SPARK_SQL) == {
        "asof_join_events", "benchmark_decontaminate",
        "canonicalize_surface_forms", "phrase_match_positions",
        "kg_link_mentions", "kg_random_walks",
    }
    for name, sql in SQL_QUERIES.items():
        if name not in SPARK_SQL:
            assert sql == spark_dialect(ORACLE_SQL[name]), name
