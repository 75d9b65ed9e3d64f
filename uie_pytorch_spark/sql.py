"""ANSI-SQL front door for the analytics engine.

The engine's operators are DataFrame-first; this module exposes the
relational tier through ``spark.sql`` over registered temp views, so a
SQL-only consumer can run the same queries the DataFrame API serves —
and so each query's semantics are pinned three ways: DataFrame plan,
Spark SQL text, and the DuckDB oracle (queries.ORACLE_SQL), all
hash-equal.

Each query is written once, in the oracle. Its Spark text is derived by
``spark_dialect``, which rewrites only code outside string literals and
scopes every function rule to that function's own argument list:

  * string literals are re-escaped: DuckDB's ``''`` becomes ``\\'``
    and a backslash is doubled (Spark literals treat ``\\`` as an
    escape; DuckDB's do not)
  * ``VARCHAR`` -> ``STRING``
  * an unsuffixed decimal literal becomes a double (``1.0`` -> ``1.0d``):
    Spark parses ``1.0`` as DECIMAL, while DuckDB's decimal/int
    division already returns DOUBLE
  * ``regexp_replace(s, p, r, 'g')`` -> 3-arg form (Spark's is global);
    the 3-arg DuckDB form replaces the first match only and is rejected
  * ``regexp_extract_all(s, p)`` -> ``regexp_extract_all(s, p, 0)``
    (Spark's default group is 1)
  * ``len`` / ``unnest`` / ``generate_series`` / ``quantile_cont`` /
    ``array_to_string`` / ``list_sort`` / ``list_distinct`` ->
    ``size`` / ``explode`` / ``sequence`` / ``percentile`` /
    ``array_join`` / ``array_sort`` / ``array_distinct``
  * ``string_split(s, 'sep')`` -> ``split(s, <sep regex-quoted>)``
    (DuckDB splits on the literal, Spark's ``split`` takes a regex);
    ``string_split_regex`` -> ``split``
  * ``a // b`` -> ``a DIV b``
  * h60 ``(('0x' || X)::bigint)`` -> ``(CAST(conv(X, 16, 10) AS BIGINT))``
  * ``epoch(x)`` -> ``CAST(CAST(x AS TIMESTAMP) AS DOUBLE)`` (fractional
    seconds; Spark 4 ANSI forbids NTZ -> DOUBLE, so go via LTZ)
  * a 1-based list index ``a[i]`` -> ``element_at(a, CAST(i AS INT))``
  * ``string_agg(x, s ORDER BY y)`` ->
    ``listagg(x, s) WITHIN GROUP (ORDER BY y)``

``generate_series`` -> ``sequence`` assumes start <= stop: Spark's
``sequence(1, 0)`` counts down where DuckDB returns an empty list.

Explicit Spark text remains only where the oracle cannot be rewritten:
  * ``asof_join_events`` — Spark has no ASOF JOIN; rendered as a
    union-tag + running ``last(ignorenulls)`` window (the shape
    operators.temporal uses)
  * ``benchmark_decontaminate`` — ``list_slice``, and its
    ``generate_series(1, 0)`` must be empty (see above)
  * ``canonicalize_surface_forms`` — a generator nested inside an
    expression, which Spark does not allow
  * ``phrase_match_positions`` — ``generate_subscripts``; rendered with
    posexplode's 0-based index + 1
  * ``kg_link_mentions`` / ``kg_random_walks`` — the oracle's
    ``unnest(..) AS t(tok)`` table function and ``list(x ORDER BY x)``;
    built from the shared ``_pagerank_ctes`` / ``_walks_sql`` skeletons
    with the Spark tail or neighbor-list aggregate, then rewritten

Not covered: the model-backed tier (uie_entities / uie_nested_export /
kg_canonical_entities — the extraction model and the iterative
connected-components step are not SQL-expressible) and the two near-dup
CC queries (same CC step: Spark 4's WITH RECURSIVE accepts only UNION
ALL [UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE], which cannot reach a
fixpoint on a cyclic edge set).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .queries import ORACLE_SQL, _pagerank_ctes, _walks_sql

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

NOT_SQL = frozenset({
    "uie_entities", "uie_nested_export", "kg_canonical_entities",
    "dedup_near_canonical", "dedup_near_canonical_capped",
})


def register_views(
    spark: SparkSession, sf_dir: str, tables=None
) -> None:
    """Register the benchmark tables as temp views over their parquet
    files. Views are lazy — registration costs nothing; scans prune
    columns/partitions exactly as the DataFrame reads do."""
    for t in tables or TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


# ---------------------------------------------------------------------
# DuckDB -> Spark dialect rewriter
# ---------------------------------------------------------------------

# While rewriting, every string literal is masked as \x00<n>\x00 (n
# indexes the decoded values) so no rule can touch its contents.
_LITERAL = re.compile(r"'(?:[^']|'')*'")
_MASK = re.compile(r"\x00(\d+)\x00")

_RENAMES = {
    "len": "size",
    "unnest": "explode",
    "generate_series": "sequence",
    "quantile_cont": "percentile",
    "array_to_string": "array_join",
    "list_sort": "array_sort",
    "list_distinct": "array_distinct",
    "string_split_regex": "split",
}
_RENAME = re.compile(rf"\b({'|'.join(_RENAMES)})(?=\s*\()", re.I)
_DECIMAL = re.compile(r"(?<![\w.])(\d+\.\d+)(?![\w.])")
_INDEX = re.compile(r"\b[A-Za-z_][\w.]*(?=\s*\[)")
_HEX_PREFIX = re.compile(r"\(\s*\x00(\d+)\x00\s*\|\|")
_BIGINT_CAST = re.compile(r"\s*::\s*bigint\b", re.I)
_ORDER_BY = re.compile(r"\s+ORDER\s+BY\s+", re.I)


def _spark_literal(value: str) -> str:
    """Spark SQL single-quoted string literal (backslash-escaping)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _java_regex_quote(value: str) -> str:
    """Regex matching ``value`` literally (Java syntax)."""
    return re.sub(r"([\\^$.|?*+()\[\]{}])", r"\\\1", value)


def _close(sql: str, i: int) -> int:
    """Index of the bracket closing the one at ``sql[i]``."""
    depth = 0
    for j in range(i, len(sql)):
        if sql[j] in "([":
            depth += 1
        elif sql[j] in ")]":
            depth -= 1
            if depth == 0:
                return j
    raise ValueError(f"unbalanced bracket at {i}: {sql[i:i + 60]!r}")


def _split_args(body: str) -> list[str]:
    """Top-level comma split of an argument list's body."""
    args, depth, start = [], 0, 0
    for j, c in enumerate(body):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            args.append(body[start:j])
            start = j + 1
    args.append(body[start:])
    return [a.strip() for a in args]


def _rewrite_calls(sql: str, name: str, render) -> str:
    """Replace every ``name(args)`` with ``render(args)``; arguments are
    rewritten first, so nested calls of ``name`` are handled too."""
    call = re.compile(rf"\b{name}\s*\(", re.I)
    out, pos = [], 0
    while m := call.search(sql, pos):
        close = _close(sql, m.end() - 1)
        body = _rewrite_calls(sql[m.end():close], name, render)
        out += [sql[pos:m.start()], render(_split_args(body))]
        pos = close + 1
    return "".join(out) + sql[pos:]


class _Dialect:
    """One rewrite of masked DuckDB text; ``lits`` are the literals."""

    def __init__(self, lits: list[str]):
        self.lits = lits

    def lit(self, arg: str) -> str | None:
        m = _MASK.fullmatch(arg)
        return self.lits[int(m.group(1))] if m else None

    def mask(self, value: str) -> str:
        self.lits.append(value)
        return f"\x00{len(self.lits) - 1}\x00"

    def regexp_replace(self, args):
        if len(args) != 4 or self.lit(args[3]) != "g":
            raise ValueError(
                f"regexp_replace{tuple(args)}: only the global 'g' form "
                "has a Spark equivalent"
            )
        return f"regexp_replace({', '.join(args[:3])})"

    def regexp_extract_all(self, args):
        if len(args) == 2:
            args = [*args, "0"]
        return f"regexp_extract_all({', '.join(args)})"

    def string_split(self, args):
        sep = self.lit(args[1])
        if sep is None:
            raise ValueError(f"string_split{tuple(args)}: separator not literal")
        return f"split({args[0]}, {self.mask(_java_regex_quote(sep))})"

    def string_agg(self, args):
        *head, last = args
        value, *order = _ORDER_BY.split(last, maxsplit=1)
        agg = f"listagg({', '.join(head + [value])})"
        return agg + (f" WITHIN GROUP (ORDER BY {order[0]})" if order else "")

    def epoch(self, args):
        return f"CAST(CAST({args[0]} AS TIMESTAMP) AS DOUBLE)"

    def h60(self, sql: str) -> str:
        """``('0x' || X)::bigint`` -> ``CAST(conv(X, 16, 10) AS BIGINT)``."""
        out, pos = [], 0
        for m in _HEX_PREFIX.finditer(sql):
            if m.start() < pos or self.lits[int(m.group(1))] != "0x":
                continue
            close = _close(sql, m.start())
            cast = _BIGINT_CAST.match(sql, close + 1)
            if not cast:
                raise ValueError(
                    f"'0x' prefix without ::bigint: {sql[m.start():close + 1]!r}"
                )
            hex_digits = sql[m.end():close].strip()
            out += [sql[pos:m.start()],
                    f"CAST(conv({hex_digits}, 16, 10) AS BIGINT)"]
            pos = cast.end()
        return "".join(out) + sql[pos:]

    def index(self, sql: str) -> str:
        """1-based ``a[i]`` -> ``element_at(a, CAST(i AS INT))``."""
        out, pos = [], 0
        while m := _INDEX.search(sql, pos):
            open_ = sql.index("[", m.end())
            close = _close(sql, open_)
            inner = self.index(sql[open_ + 1:close])
            out += [sql[pos:m.start()],
                    f"element_at({m.group(0)}, CAST({inner} AS INT))"]
            pos = close + 1
        return "".join(out) + sql[pos:]


def spark_dialect(duckdb_sql: str) -> str:
    """Rewrite DuckDB oracle SQL into the equivalent Spark SQL (the rules
    are listed in the module docstring)."""
    d = _Dialect([])
    sql = _LITERAL.sub(
        lambda m: d.mask(m.group(0)[1:-1].replace("''", "'")), duckdb_sql
    )
    if "'" in sql:
        raise ValueError("unterminated string literal")
    sql = d.h60(sql)
    for name, render in (
        ("regexp_replace", d.regexp_replace),
        ("regexp_extract_all", d.regexp_extract_all),
        ("string_split", d.string_split),
        ("string_agg", d.string_agg),
        ("epoch", d.epoch),
    ):
        sql = _rewrite_calls(sql, name, render)
    sql = d.index(sql)
    sql = _RENAME.sub(lambda m: _RENAMES[m.group(1).lower()], sql)
    sql = re.sub(r"\bVARCHAR\b", "STRING", sql, flags=re.I)
    sql = sql.replace("//", " DIV ")
    sql = _DECIMAL.sub(r"\1d", sql)
    return _MASK.sub(lambda m: _spark_literal(d.lits[int(m.group(1))]), sql)


# ---------------------------------------------------------------------
# the six queries whose oracle text cannot be rewritten
# ---------------------------------------------------------------------

_EPOCH = "CAST(CAST({0} AS TIMESTAMP) AS DOUBLE)"

SPARK_SQL = {
    "asof_join_events": f"""
        WITH r AS (
          SELECT user_id, ts, max(value) AS state
          FROM events WHERE event_id % 10 = 0
          GROUP BY user_id, ts
        ),
        l AS (
          SELECT event_id, user_id, ts FROM events WHERE event_id % 10 <> 0
        ),
        u AS (
          -- typed NULL struct without naming ts's timestamp flavor:
          -- the never-true branch pins the struct type to the data
          SELECT user_id, ts, 1 AS tag, event_id,
                 CASE WHEN 1 = 0
                      THEN named_struct('ts', ts, 'state',
                                        CAST(0.0 AS DOUBLE)) END AS rp
          FROM l
          UNION ALL
          SELECT user_id, ts, 0 AS tag, CAST(NULL AS BIGINT) AS event_id,
                 named_struct('ts', ts, 'state', state) AS rp
          FROM r
        ),
        m AS (
          SELECT *, last(rp, true) OVER (
                   PARTITION BY user_id ORDER BY ts, tag
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mr
          FROM u
        )
        SELECT event_id, user_id,
               CAST(floor({_EPOCH.format("ts")}) AS BIGINT) AS ts_sec,
               CAST(floor({_EPOCH.format("mr.ts")}) AS BIGINT) AS state_ts_sec,
               mr.state AS state
        FROM m WHERE tag = 1
    """,
    "benchmark_decontaminate": r"""
        WITH tok AS (
          SELECT doc_id, split(trim(lower(text)), '\\s+') AS t
          FROM documents WHERE text IS NOT NULL
        ),
        dg AS (
          SELECT DISTINCT doc_id, array_join(slice(t, i, 5), ' ') AS ngram
          FROM tok
          LATERAL VIEW explode(
            CASE WHEN size(t) >= 5 THEN sequence(1, size(t) - 4)
                 ELSE CAST(array() AS ARRAY<INT>) END) g AS i
        ),
        eg AS (SELECT DISTINCT ngram FROM dg WHERE doc_id % 97 = 0)
        SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_ngrams
        FROM dg JOIN eg ON dg.ngram = eg.ngram
        GROUP BY dg.doc_id
    """,
    "canonicalize_surface_forms": r"""
        WITH toks AS (
          SELECT doc_id,
                 regexp_replace(lower(trim(tok)), '[^a-z0-9一-鿿]', '')
                   AS surface
          FROM (SELECT doc_id,
                       explode(regexp_extract_all(text, '[\\S]+', 0)) AS tok
                FROM documents)
        )
        SELECT surface, CAST(min(doc_id) AS BIGINT) AS canonical_id,
               CAST(count(*) AS BIGINT) AS n_mentions
        FROM toks WHERE surface <> '' GROUP BY surface
    """,
    "phrase_match_positions": """
        WITH pos AS (
          SELECT doc_id, pos0 + 1 AS pos, tok
          FROM documents
          LATERAL VIEW posexplode(
            regexp_extract_all(lower(text), '[a-z0-9]+', 0)) g AS pos0, tok
        )
        SELECT a.doc_id, CAST(a.pos AS INT) AS start_pos
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE a.tok = 'table' AND b.tok = 'hash'
    """,
    "kg_link_mentions": spark_dialect(_pagerank_ctes(5) + """,
    pm AS (SELECT entity_id,
                  CAST(round(pr * 1000000) AS BIGINT) AS rank_micro
           FROM r5),
    toks AS (SELECT DISTINCT entity_id, rank_micro, tok
             FROM pm LATERAL VIEW explode(split(entity_id, ' ')) x AS tok),
    cand AS (SELECT m.mention, toks.entity_id, toks.rank_micro
             FROM (SELECT DISTINCT tok AS mention FROM toks) m
             JOIN toks ON toks.tok = m.mention),
    r AS (SELECT mention, entity_id, rank_micro,
                 row_number() OVER (PARTITION BY mention
                                    ORDER BY rank_micro DESC,
                                             entity_id ASC) AS rn,
                 CAST(count(*) OVER (PARTITION BY mention) AS BIGINT)
                   AS n_candidates
          FROM cand)
    SELECT mention, entity_id, rank_micro, n_candidates
    FROM r WHERE rn = 1
    """),
    "kg_random_walks": spark_dialect(
        _walks_sql(3, listagg="sort_array(collect_list(dst))")
    ),
}

# Spark-dialect SQL for every oracle query that has a SQL rendering,
# column-for-column aliased like the DataFrame queries (queries.py) so
# results hash-compare equal.
SQL_QUERIES = {
    name: SPARK_SQL.get(name) or spark_dialect(text)
    for name, text in ORACLE_SQL.items()
    if name not in NOT_SQL
}


def sql_query(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Run a named query through the SQL front door. Same result (and
    value hash) as ``queries.QUERIES[name](spark, sf_dir)``."""
    try:
        sql = SQL_QUERIES[name]
    except KeyError:
        raise KeyError(
            f"no SQL surface for {name!r}; available: "
            f"{sorted(SQL_QUERIES)}"
        ) from None
    register_views(spark, sf_dir)
    return spark.sql(sql)
