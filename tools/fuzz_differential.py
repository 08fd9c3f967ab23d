"""Cross-engine differential fuzzer: seed-deterministic random SQL over the
events table, executed by BOTH Spark and DuckDB, results compared exactly.

The registered oracle suite pins 166 hand-written queries; this widens the
net to arbitrary compositions of the shared SQL surface (projections,
filters, grouped aggregates, HAVING, ORDER BY+LIMIT) — the places engines
drift subtly (three-valued logic, type widening, null-ordering defaults).
The grammar is restricted to constructs with IDENTICAL cross-engine
semantics and exact (non-float-accumulating) results:

- integer/decimal arithmetic, never float SUMs (addition-order drift);
- AVG only over exact ints (one exact sum, one exact count, one division);
- explicit CAST(... AS BIGINT) on integer SUM/COUNT-CASE (DuckDB HUGEINT);
- ORDER BY keys always include the full group key (deterministic ties).

Usage:  python tools/fuzz_differential.py [n_seeds] [sf_dir]
Exits non-zero on the first divergence, printing seed + SQL.
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NUM_EXPRS = [
    "value",
    "abs(value)",
    "value * 2.0",
    "event_id % 7",
    "user_id % 10",
]
INT_EXPRS = ["event_id % 7", "user_id % 10", "user_id % 97"]
KEY_EXPRS = [
    ("event_type", "event_type"),
    ("CAST(ts AS DATE)", "day"),
    ("user_id % 5", "ubucket"),
    ("event_id % 3", "ebucket"),
]
FILTERS = [
    "value > 50",
    "value <= 25.5",
    "event_type = 'view'",
    "event_type <> 'purchase'",
    "event_type IN ('click', 'cart')",
    "user_id % 4 = 1",
    "value IS NOT NULL",
    "CAST(ts AS DATE) >= DATE '2024-01-05'",
]



def _setup(sf: str, tables: tuple, spark=None):
    """Shared harness bootstrap: ONE session config + view registration
    for every grammar family, so they can never drift apart (review r3.2)."""
    import duckdb

    if spark is None:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("fuzz-differential")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    from web_analytics_on_aws_spark.sources.tables import load_table

    con = duckdb.connect()
    for t in tables:
        load_table(spark, sf, t).createOrReplaceTempView(t)
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    return spark, con


def gen_query(seed: int) -> str:
    rng = random.Random(seed)
    keys = rng.sample(KEY_EXPRS, rng.randint(1, 2))
    aggs = []
    n_aggs = rng.randint(1, 3)
    for i in range(n_aggs):
        kind = rng.choice(["count", "countd", "min", "max", "isum", "iavg", "ccase"])
        if kind == "count":
            aggs.append(f"COUNT(*) AS a{i}")
        elif kind == "countd":
            aggs.append(f"COUNT(DISTINCT {rng.choice(INT_EXPRS)}) AS a{i}")
        elif kind == "min":
            aggs.append(f"MIN({rng.choice(NUM_EXPRS)}) AS a{i}")
        elif kind == "max":
            aggs.append(f"MAX({rng.choice(NUM_EXPRS)}) AS a{i}")
        elif kind == "isum":
            aggs.append(f"CAST(SUM({rng.choice(INT_EXPRS)}) AS BIGINT) AS a{i}")
        elif kind == "iavg":
            aggs.append(f"AVG({rng.choice(INT_EXPRS)}) AS a{i}")
        else:
            f = rng.choice(FILTERS)
            aggs.append(
                f"CAST(SUM(CASE WHEN {f} THEN 1 ELSE 0 END) AS BIGINT) AS a{i}"
            )
    where = ""
    if rng.random() < 0.7:
        conds = rng.sample(FILTERS, rng.randint(1, 2))
        where = " WHERE " + f" {rng.choice(['AND', 'OR'])} ".join(conds)
    having = ""
    if rng.random() < 0.3:
        having = " HAVING COUNT(*) > 1"
    key_sql = ", ".join(f"{k} AS {a}" for k, a in keys)
    key_aliases = ", ".join(a for _, a in keys)
    limit = ""
    order = ""
    if rng.random() < 0.4:
        order = f" ORDER BY {key_aliases}"
        limit = f" LIMIT {rng.randint(3, 50)}"
    return (
        f"SELECT {key_sql}, {', '.join(aggs)} FROM events"
        f"{where} GROUP BY {key_aliases}{having}{order}{limit}"
    )


def run(n_seeds: int, sf: str, spark=None) -> list[int]:
    from tools.driver_sim import canon

    spark, con = _setup(sf, ("events",), spark)
    bad = []
    for seed in range(n_seeds):
        sql = gen_query(seed)
        sdf = spark.sql(sql).toPandas()
        ddf = con.execute(sql).df()
        # LIMIT without total order is non-deterministic only when the limit
        # bites; compare as sets of rows, sizes already pinned by the query
        if sorted(sdf.columns) != sorted(ddf.columns) or canon(sdf) != canon(ddf):
            bad.append(seed)
            print(f"DIVERGENCE seed={seed}\n  {sql}", flush=True)
            print(f"  spark {len(sdf)} rows, duckdb {len(ddf)} rows", flush=True)
    return bad


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "storage":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 300
        sf = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"
        sbad = run_storage(n, sf)
        print(f"fuzzed {n} storage programs: {len(sbad)} divergences {sbad}")
        return 1 if sbad else 0
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    bad = run(n, sf)
    jbad = run_joins(n // 2, sf)
    wbad = run_windows(n, sf)
    gbad = run_grouping_sets(n // 2, sf)
    sbad = run_setops(n // 2, sf)
    tbad = run_trino_shim(max(n, 300), sf)
    total_bad = bad + jbad + wbad + gbad + sbad + tbad
    print(
        f"fuzzed {n} single-table + {n // 2} join + {n} window + "
        f"{n // 2} grouping-sets + {n} setop/subquery + "
        f"{max(n, 300)} trino-shim queries: "
        f"{len(total_bad)} divergences {total_bad}"
    )
    return 1 if total_bad else 0




# ---- join grammar: orders ⋈ customer (inner/left), exact aggregates ----

J_KEYS = [
    ("o.o_orderstatus", "status"),
    ("c.c_mktsegment", "seg"),
    ("c.c_nationkey % 5", "nbucket"),
    ("o.o_orderpriority", "prio"),
]
J_FILTERS = [
    "o.o_totalprice > 50000",
    "c.c_acctbal < 0",
    "o.o_orderstatus = 'F'",
    "c.c_mktsegment IN ('BUILDING', 'MACHINERY')",
    "o.o_orderkey % 3 = 0",
    "o.o_orderdate >= DATE '1995-01-01'",
]


def gen_join_query(seed: int) -> str:
    rng = random.Random(10_000_019 + seed)
    join = rng.choice(["JOIN", "LEFT JOIN"])
    keys = rng.sample(J_KEYS, rng.randint(1, 2))
    aggs = [f"COUNT(*) AS a0"]
    for i in range(1, rng.randint(2, 3)):
        kind = rng.choice(["countd", "min", "max", "isum", "cnt_col"])
        if kind == "countd":
            aggs.append(f"COUNT(DISTINCT o.o_orderkey % 100) AS a{i}")
        elif kind == "min":
            aggs.append(f"MIN(o.o_totalprice) AS a{i}")
        elif kind == "max":
            aggs.append(f"MAX(c.c_acctbal) AS a{i}")
        elif kind == "isum":
            aggs.append(f"CAST(SUM(c.c_nationkey % 7) AS BIGINT) AS a{i}")
        else:
            # LEFT JOIN null semantics: COUNT(col) vs COUNT(*) divergences
            aggs.append(f"COUNT(c.c_custkey) AS a{i}")
    where = ""
    if rng.random() < 0.7:
        conds = rng.sample(J_FILTERS, rng.randint(1, 2))
        where = " WHERE " + f" {rng.choice(['AND', 'OR'])} ".join(conds)
    key_sql = ", ".join(f"{k} AS {a}" for k, a in keys)
    key_aliases = ", ".join(a for _, a in keys)
    return (
        f"SELECT {key_sql}, {', '.join(aggs)} FROM orders o "
        f"{join} customer c ON o.o_custkey = c.c_custkey"
        f"{where} GROUP BY {key_aliases}"
    )


def run_joins(n_seeds: int, sf: str, spark=None) -> list[int]:
    from tools.driver_sim import canon

    spark, con = _setup(sf, ("orders", "customer"), spark)
    bad = []
    for seed in range(n_seeds):
        sql = gen_join_query(seed)
        sdf = spark.sql(sql).toPandas()
        ddf = con.execute(sql).df()
        if sorted(sdf.columns) != sorted(ddf.columns) or canon(sdf) != canon(ddf):
            bad.append(seed)
            print(f"JOIN DIVERGENCE seed={seed}\n  {sql}", flush=True)
    return bad


# ---- window grammar: OVER clauses with frames (VERDICT r2 #6) -----------
#
# Determinism rules: ROW_NUMBER / LAG / LEAD / NTILE / frame aggregates get
# a UNIQUE in-partition sort key (o_orderkey) so row order is total; RANK /
# DENSE_RANK may sort on non-unique keys (tie values identical either way).
# Frame aggregates stay integer-exact (SUM of ints CAST BIGINT, COUNT,
# MIN/MAX) — float accumulation order never enters.

W_PARTS = [
    "o_custkey % 50",
    "o_orderstatus",
    "o_orderpriority",
    "o_custkey % 7",
]
W_FRAMES = [
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING",
    "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
    "RANGE BETWEEN 100 PRECEDING AND CURRENT ROW",
    "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
]
W_INTS = ["o_orderkey % 97", "o_custkey % 13", "o_custkey % 29 + 1"]


def gen_window_query(seed: int) -> str:
    rng = random.Random(77_000_003 + seed)
    part = rng.choice(W_PARTS)
    desc = rng.choice(["ASC", "DESC"])
    uniq = f"PARTITION BY {part} ORDER BY o_orderkey {desc}"
    exprs = []
    n_fns = rng.randint(2, 4)
    for i in range(n_fns):
        kind = rng.choice(
            ["rownum", "rank", "lag", "lead", "ntile", "fsum", "fcnt", "fminmax"]
        )
        if kind == "rownum":
            exprs.append(f"ROW_NUMBER() OVER ({uniq}) AS w{i}")
        elif kind == "rank":
            fn = rng.choice(["RANK", "DENSE_RANK"])
            key = rng.choice(["o_orderdate", "o_custkey % 10", "o_orderstatus"])
            exprs.append(
                f"{fn}() OVER (PARTITION BY {part} ORDER BY {key}) AS w{i}"
            )
        elif kind == "lag":
            e = rng.choice(W_INTS)
            off = rng.randint(1, 3)
            exprs.append(f"LAG({e}, {off}, -1) OVER ({uniq}) AS w{i}")
        elif kind == "lead":
            e = rng.choice(W_INTS)
            exprs.append(f"LEAD({e}, 1, 0) OVER ({uniq}) AS w{i}")
        elif kind == "ntile":
            exprs.append(f"NTILE({rng.randint(2, 8)}) OVER ({uniq}) AS w{i}")
        elif kind == "fsum":
            e = rng.choice(W_INTS)
            fr = rng.choice(W_FRAMES)
            exprs.append(
                f"CAST(SUM({e}) OVER ({uniq} {fr}) AS BIGINT) AS w{i}"
            )
        elif kind == "fcnt":
            fr = rng.choice(W_FRAMES)
            exprs.append(f"COUNT(*) OVER ({uniq} {fr}) AS w{i}")
        else:
            fn = rng.choice(["MIN", "MAX"])
            e = rng.choice(W_INTS)
            fr = rng.choice(W_FRAMES)
            exprs.append(f"{fn}({e}) OVER ({uniq} {fr}) AS w{i}")
    where = ""
    if rng.random() < 0.5:
        where = " WHERE " + rng.choice(
            [
                "o_totalprice > 50000",
                "o_orderstatus = 'F'",
                "o_orderkey % 3 = 0",
                "o_orderdate >= DATE '1995-01-01'",
            ]
        )
    return f"SELECT o_orderkey, {', '.join(exprs)} FROM orders{where}"


def run_windows(n_seeds: int, sf: str, spark=None) -> list[int]:
    from tools.driver_sim import canon

    spark, con = _setup(sf, ("orders",), spark)
    bad = []
    for seed in range(n_seeds):
        sql = gen_window_query(seed)
        sdf = spark.sql(sql).toPandas()
        ddf = con.execute(sql).df()
        if sorted(sdf.columns) != sorted(ddf.columns) or canon(sdf) != canon(ddf):
            bad.append(seed)
            print(f"WINDOW DIVERGENCE seed={seed}\n  {sql}", flush=True)
    return bad


# ---- grouping-sets grammar: ROLLUP / CUBE / GROUPING SETS + GROUPING() --

G_KEYS = [
    ("event_type", "etype"),
    ("CAST(ts AS DATE)", "day"),
    ("user_id % 4", "ub"),
    ("event_id % 3", "eb"),
]


def gen_grouping_query(seed: int) -> str:
    # raw key EXPRESSIONS everywhere (GROUP BY / GROUPING()): alias scope
    # inside GROUPING() differs between engines, expression text does not
    rng = random.Random(88_000_007 + seed)
    keys = rng.sample(G_KEYS, rng.randint(2, 3))
    raw = [k for k, _ in keys]
    mode = rng.choice(["ROLLUP", "CUBE", "SETS"])
    if mode == "SETS":
        subsets = ["(" + ", ".join(raw) + ")", "()"]
        if rng.random() < 0.7:
            subsets.insert(1, "(" + raw[0] + ")")
        group = f"GROUPING SETS ({', '.join(subsets)})"
    else:
        group = f"{mode}({', '.join(raw)})"
    aggs = ["COUNT(*) AS n"]
    if rng.random() < 0.6:
        aggs.append(f"CAST(SUM({rng.choice(INT_EXPRS)}) AS BIGINT) AS s1")
    if rng.random() < 0.5:
        aggs.append(f"MIN({rng.choice(INT_EXPRS)}) AS m1")
    # GROUPING() disambiguates real NULL keys from super-aggregate rows —
    # without it, set-compare could pass on coincidence; with it, every
    # row's provenance is pinned
    aggs.append(
        "CAST("
        + " + ".join(f"{2**j} * GROUPING({k})" for j, k in enumerate(raw))
        + " AS INT) AS gid"
    )
    where = ""
    if rng.random() < 0.5:
        where = f" WHERE {rng.choice(FILTERS)}"
    key_sql = ", ".join(f"{k} AS {a}" for k, a in keys)
    return (
        f"SELECT {key_sql}, {', '.join(aggs)} FROM events{where} "
        f"GROUP BY {group}"
    )


def run_grouping_sets(n_seeds: int, sf: str, spark=None) -> list[int]:
    from tools.driver_sim import canon

    spark, con = _setup(sf, ("events",), spark)
    bad = []
    for seed in range(n_seeds):
        sql = gen_grouping_query(seed)
        sdf = spark.sql(sql).toPandas()
        ddf = con.execute(sql).df()
        if sorted(sdf.columns) != sorted(ddf.columns) or canon(sdf) != canon(ddf):
            bad.append(seed)
            print(f"GROUPING DIVERGENCE seed={seed}\n  {sql}", flush=True)
    return bad


# ---- set-op / subquery grammar: UNION [ALL] / INTERSECT / EXCEPT + -------
# ---- EXISTS / IN / scalar subqueries over the exact-semantics surface ----

S_PROJ = [
    ("event_type", "k"),
    ("user_id % 6", "k"),
    ("event_id % 5", "k"),
]


def gen_setop_query(seed: int) -> str:
    rng = random.Random(99_000_001 + seed)
    proj, alias = rng.choice(S_PROJ)
    op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
    f1, f2 = rng.sample(FILTERS, 2)
    lhs = f"SELECT {proj} AS {alias} FROM events WHERE {f1}"
    rhs = f"SELECT {proj} AS {alias} FROM events WHERE {f2}"
    if op == "UNION ALL":
        # multiset result — wrap in a counting aggregate so the compare
        # stays order-insensitive but multiplicity-exact
        return (
            f"SELECT {alias}, CAST(COUNT(*) AS BIGINT) AS n FROM "
            f"({lhs} {op} {rhs}) t GROUP BY {alias}"
        )
    return f"{lhs} {op} {rhs}"


#: order-side-only predicates for the correlated EXISTS body — a filter
#: referencing only the outer customer row would collapse the subquery to
#: "customer has any order" and fuzz nothing (review r3.2 finding)
SUBQ_ORDER_FILTERS = [
    "o.o_totalprice > 50000",
    "o.o_orderstatus = 'F'",
    "o.o_orderkey % 3 = 0",
    "o.o_orderdate >= DATE '1995-01-01'",
    "o.o_orderpriority IN ('1-URGENT', '2-HIGH')",
]


def gen_subquery_query(seed: int) -> str:
    rng = random.Random(66_000_013 + seed)
    kind = rng.choice(["exists", "not_exists", "in", "not_in_safe", "scalar"])
    if kind in ("exists", "not_exists"):
        neg = "NOT " if kind == "not_exists" else ""
        f = rng.choice(SUBQ_ORDER_FILTERS)
        return (
            "SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n "
            "FROM customer c WHERE "
            f"{neg}EXISTS (SELECT 1 FROM orders o "
            f"WHERE o.o_custkey = c.c_custkey AND {f}) "
            "GROUP BY c_mktsegment"
        )
    if kind in ("in", "not_in_safe"):
        neg = "NOT " if kind == "not_in_safe" else ""
        inner = rng.choice(
            [
                "SELECT c_custkey FROM customer WHERE c_acctbal > {v}",
                "SELECT c_custkey FROM customer WHERE c_nationkey % 5 = {m}",
                "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > {v}",
            ]
        ).format(v=rng.choice([0, 1000, 5000]), m=rng.randint(0, 4))
        # c_custkey is non-null, so NOT IN has no three-valued-logic trap
        # here (the poisoned-NULL corner is pinned by its own oracle query)
        return (
            "SELECT o_orderstatus AS st, CAST(COUNT(*) AS BIGINT) AS n "
            f"FROM orders o WHERE o.o_custkey {neg}IN ({inner}) "
            "GROUP BY o_orderstatus"
        )
    agg = rng.choice(["MIN(o_totalprice)", "AVG(o_totalprice)", "MAX(o_totalprice) / 10"])
    cmp_op = rng.choice([">", "<="])
    return (
        "SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM orders o WHERE o.o_totalprice {cmp_op} "
        f"(SELECT {agg} FROM orders) * {rng.choice([1, 2, 3])} "
        "GROUP BY o_orderpriority"
    )


def run_setops(n_seeds: int, sf: str, spark=None) -> list[int]:
    from tools.driver_sim import canon

    spark, con = _setup(sf, ("events", "orders", "customer"), spark)
    bad = []
    for seed in range(n_seeds):
        for gen, tag in ((gen_setop_query, "SETOP"), (gen_subquery_query, "SUBQ")):
            sql = gen(seed)
            sdf = spark.sql(sql).toPandas()
            ddf = con.execute(sql).df()
            if sorted(sdf.columns) != sorted(ddf.columns) or canon(sdf) != canon(ddf):
                bad.append(seed)
                print(f"{tag} DIVERGENCE seed={seed}\n  {sql}", flush=True)
    return bad


# ---- Trino-shim grammar (VERDICT r3 #5): the curated dialect rewrites in
# functions/trino_compat.py are the highest dialect-drift-risk code; this
# family generates TRINO-dialect text (quoted identifiers, url fns, MySQL
# date patterns, date_diff/date_add unit forms, bitwise/renamed fns), runs
# it through the shim → Spark, and compares against an independently
# written DuckDB rendition of the same expression — per-row, ordered by
# the unique event_id, so any rewrite slip shows as a value diff. Atoms
# restrict to constructs with exact cross-engine semantics (day-unit
# diffs on DATEs, minute-level formats, integer arithmetic).

_URL = (
    "concat('https://shop.example:8080/x/', \"event_type\", "
    "'?q=', \"event_type\", '#frag')"
)

#: (trino_expr, duckdb_expr) pairs — same value row-for-row.
TRINO_ATOMS = [
    (f"url_extract_host({_URL})", "'shop.example'"),
    (f"url_extract_protocol({_URL})", "'https'"),
    (f"url_extract_port({_URL})", "CAST(8080 AS BIGINT)"),
    (f"url_extract_path({_URL})", "concat('/x/', event_type)"),
    (f"url_extract_query({_URL})", "concat('q=', event_type)"),
    (f"url_extract_parameter({_URL}, 'q')", "event_type"),
    (
        "date_diff('day', CAST(\"ts\" AS DATE), DATE '2024-06-01')",
        "date_diff('day', CAST(ts AS DATE), DATE '2024-06-01')",
    ),
    (
        "CAST(date_add('day', 3, CAST(\"ts\" AS DATE)) AS DATE)",
        "CAST(CAST(ts AS DATE) + INTERVAL 3 DAY AS DATE)",
    ),
    ("to_unixtime(\"ts\")", "CAST(floor(epoch(ts)) AS BIGINT)"),
    (
        "date_format(\"ts\", '%Y-%m-%d %H:%i')",
        "strftime(ts, '%Y-%m-%d %H:%M')",
    ),
    (
        "date_parse(concat('2024-01-', CAST((\"event_id\" % 9) + 10 AS "
        "VARCHAR)), '%Y-%m-%d')",
        "strptime(concat('2024-01-', CAST((event_id % 9) + 10 AS VARCHAR)), "
        "'%Y-%m-%d')",
    ),
    ("day_of_week(CAST(\"ts\" AS DATE))", "isodow(CAST(ts AS DATE))"),
    ("dow(CAST(\"ts\" AS DATE))", "isodow(CAST(ts AS DATE))"),
    ("day_of_year(CAST(\"ts\" AS DATE))", "dayofyear(CAST(ts AS DATE))"),
    ("week(CAST(\"ts\" AS DATE))", "weekofyear(CAST(ts AS DATE))"),
    ("bitwise_and(\"event_id\", 12)", "(event_id & 12)"),
    ("bitwise_or(\"event_id\" % 16, 5)", "((event_id % 16) | 5)"),
    ("bitwise_xor(\"event_id\" % 32, 21)", "xor(event_id % 32, 21)"),
    ("strpos(\"event_type\", 'i')", "strpos(event_type, 'i')"),
    ("codepoint(\"event_type\")", "ascii(event_type)"),
    (
        "levenshtein_distance(\"event_type\", 'view')",
        "levenshtein(event_type, 'view')",
    ),
    ("starts_with(\"event_type\", 'c')", "starts_with(event_type, 'c')"),
    (
        "format('%s:%d', \"event_type\", \"event_id\" % 5)",
        "printf('%s:%d', event_type, event_id % 5)",
    ),
    (
        "json_extract_scalar(\"props\", '$.k')",
        "json_extract_string(props, '$.k')",
    ),
    (
        "TRY_CAST(CAST(\"event_id\" AS VARCHAR) AS BIGINT)",
        "TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT)",
    ),
    ("TRY_CAST(\"event_type\" AS DOUBLE)", "TRY_CAST(event_type AS DOUBLE)"),
]

TRINO_FILTERS = [
    ("\"value\" > 50", "value > 50"),
    ("\"event_type\" <> 'error'", "event_type <> 'error'"),
    ("strpos(\"event_type\", 'c') > 0", "strpos(event_type, 'c') > 0"),
    ("\"user_id\" % 4 = 1", "user_id % 4 = 1"),
    (
        "day_of_week(CAST(\"ts\" AS DATE)) <= 5",
        "isodow(CAST(ts AS DATE)) <= 5",
    ),
]


def gen_trino_pair(seed: int) -> tuple[str, str]:
    rng = random.Random(40_000_007 + seed)
    if rng.random() < 0.2:
        # FROM-level construct: CROSS JOIN UNNEST [WITH ORDINALITY] —
        # rewritten through LATERAL VIEW explode / inline(transform)
        tf, df_ = rng.choice(TRINO_FILTERS)
        k = rng.choice([2, 3])
        if rng.random() < 0.5:
            t_sql = (
                f'SELECT "event_id", e, n FROM events CROSS JOIN '
                f'UNNEST(sequence(1, {k} + "event_id" % 3)) '
                f"WITH ORDINALITY AS u (e, n) WHERE {tf} "
                f'ORDER BY "event_id", n LIMIT 100'
            )
        else:
            t_sql = (
                f'SELECT "event_id", e, CAST(e AS BIGINT) AS n FROM events '
                f'CROSS JOIN UNNEST(sequence(1, {k} + "event_id" % 3)) '
                f"AS u (e) WHERE {tf} "
                f'ORDER BY "event_id", n LIMIT 100'
            )
        d_sql = (
            f"SELECT event_id, CAST(u AS BIGINT) AS e, CAST(u AS BIGINT) "
            f"AS n FROM (SELECT event_id, UNNEST(range(1, {k} + 1 + "
            f"event_id % 3)) AS u FROM events WHERE {df_}) "
            f"ORDER BY event_id, n LIMIT 100"
        )
        return t_sql, d_sql
    picks = rng.sample(range(len(TRINO_ATOMS)), rng.randint(2, 4))
    t_cols = ['"event_id"'] + [
        f"{TRINO_ATOMS[i][0]} AS c{j}" for j, i in enumerate(picks)
    ]
    d_cols = ["event_id"] + [
        f"{TRINO_ATOMS[i][1]} AS c{j}" for j, i in enumerate(picks)
    ]
    tf, df_ = rng.choice(TRINO_FILTERS)
    lim = rng.choice([50, 100, 200])
    t_sql = (
        f"SELECT {', '.join(t_cols)} FROM events WHERE {tf} "
        f'ORDER BY "event_id" LIMIT {lim}'
    )
    d_sql = (
        f"SELECT {', '.join(d_cols)} FROM events WHERE {df_} "
        f"ORDER BY event_id LIMIT {lim}"
    )
    return t_sql, d_sql


def run_trino_shim(n_seeds: int, sf: str, spark=None) -> list[int]:
    from tools.driver_sim import canon

    from web_analytics_on_aws_spark.functions.trino_compat import (
        trino_to_spark_sql,
    )

    spark, con = _setup(sf, ("events",), spark)
    bad = []
    for seed in range(n_seeds):
        t_sql, d_sql = gen_trino_pair(seed)
        sdf = spark.sql(trino_to_spark_sql(t_sql)).toPandas()
        ddf = con.execute(d_sql).df()
        if sorted(sdf.columns) != sorted(ddf.columns) or canon(sdf) != canon(ddf):
            bad.append(seed)
            print(
                f"TRINO DIVERGENCE seed={seed}\n  trino: {t_sql}\n"
                f"  duck : {d_sql}",
                flush=True,
            )
    return bad


# ---- storage grammar (VERDICT r7 #5): random partition spec × sort order
# ---- × commit/maintenance program × predicate, snapshot reads vs DuckDB
# ---- over the SAME bytes. The pruning stack (segment ranges → partition
# ---- tuples → manifest column bounds → footer stats) is pure optimization:
# ---- any composition that changes RESULTS is a bug. Hand-written pins
# ---- cover single sites; this finds the compositions.

STORAGE_SPECS = [
    [],
    [("event_type", "identity")],
    [("user_id", "bucket[8]")],
    [("ts", "day")],
    [("ts", "hour")],
    [("event_type", "truncate[2]")],
    [("event_type", "identity"), ("ts", "day")],
    [("user_id", "bucket[4]"), ("event_type", "identity")],
]
STORAGE_SORTS = [None, ["value"], ["user_id"], ["ts"], ["event_id"]]
# shared-dialect predicates (evaluated by Spark post-scan AND by DuckDB);
# pushdown-shaped comparisons so the pruning stack actually engages
STORAGE_PREDS = [
    "event_type = 'view'",
    "event_type IN ('click', 'cart')",
    "event_type > 'p'",
    "user_id % 4 = 1",
    "user_id > 500",
    "user_id <= 120",
    "value > 50",
    "value <= 25.5",
    "event_id = 1234",
    "event_id > 5000",
    "ts >= TIMESTAMP '2024-01-05 00:00:00'",
    "ts < TIMESTAMP '2024-01-03 12:00:00'",
    "ts >= TIMESTAMP '2024-01-02 06:30:00' AND ts < TIMESTAMP '2024-01-08 00:00:00'",
]
STORAGE_DELETES = [
    "user_id % 17 = 3",
    "value > 95",
    "event_type = 'error'",
    "event_id % 101 = 7",
]


def _storage_base(spark, sf: str, workdir: str) -> str:
    """Materialize the events slice ONCE as plain micro-second parquet so
    the snapshot table and the DuckDB baseline read identical bytes."""
    base = os.path.join(workdir, "base.parquet")
    if not os.path.exists(base):
        from web_analytics_on_aws_spark.sources.tables import load_table

        df = load_table(spark, sf, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        df.coalesce(4).write.mode("overwrite").parquet(
            os.path.join(workdir, "base_dir")
        )
        import glob
        import shutil as _sh

        parts = sorted(
            glob.glob(os.path.join(workdir, "base_dir", "*.parquet"))
        )
        os.makedirs(base)
        for i, p in enumerate(parts):
            _sh.copy(p, os.path.join(base, f"p{i}.parquet"))
    return base


def gen_storage_program(seed: int) -> dict:
    rng = random.Random(55_000_021 + seed)
    return {
        "spec": rng.choice(STORAGE_SPECS),
        "sort": rng.choice(STORAGE_SORTS),
        "n_appends": rng.randint(1, 3),
        "shard": rng.random() < 0.5,  # force tiny manifest segments
        # two-level heads (VERDICT r8 #3): half the sharded seeds also
        # force tiny groups, so grouped manifests compose with every other
        # axis (spec × sort × DML × evolution × refs × time travel)
        "group": rng.random() < 0.5,
        # schema-evolution axis (VERDICT r8 #5): column-mapping commits
        # that leave the FINAL logical schema comparable with the DuckDB
        # baseline — a rename round-trip, an add+widen of a scratch
        # column, or an add+drop — so mapped reads, stats translation,
        # and O(head) metadata DDL all compose with the layout axes
        "evolve": rng.choice(
            ["none", "none", "rename_roundtrip", "add_widen", "add_drop"]
        ),
        # delete_keys_mor / upsert_keys_mor (VERDICT r10 #3): the exact
        # path r10 moved to planning-attached inline payloads had only
        # hand-written pins — the r9 hole was a COMPOSITION no pin had
        # tried, so equality deletes now draw against every other axis
        # (shard/group/spec/sort/evolution/refs/clone_chain/timetravel)
        "mutate": rng.choice(
            [
                "none",
                "delete_cow",
                "delete_mor",
                "optimize",
                "restore",
                "delete_keys_mor",
                "upsert_keys_mor",
            ]
        ),
        # equality-key set for the *_keys_mor mutations
        "eq_keys": rng.choice([["user_id"], ["user_id", "event_type"]]),
        # inline-payload budget axis: default / disabled / 1 byte — both
        # the planning-attached and per-task fallback paths get fuzzed
        "eq_budget": rng.choice([None, None, "0", "1"]),
        # ship-cap axis (VERDICT r10 #1): occasionally force the fan-out
        # fallback even when the aggregate budget would inline
        "eq_ship": rng.choice([None, None, None, "1"]),
        # maintenance axis: after an eq-DML mutation, optionally fold the
        # sidecars down (convert → positional, compact → rewrite into
        # data files) — results must be identical before and after, the
        # exact invariant the reference's optimize mirror relies on
        "eq_maint": rng.choice([None, None, "convert", "compact"]),
        # time-travel axis: re-read the pre-mutation version AS OF and
        # compare against the un-mutated baseline
        "timetravel": rng.random() < 0.35,
        # refs axis: fork the post-mutation state (shallow clone / branch)
        # or tag the pre-mutation version and vacuum — the fork/tag must
        # read exactly what its source version read. clone_chain (VERDICT
        # r9 #2) composes the round-10 fix: clone→clone, rewrite + vacuum
        # the MIDDLE table, vacuum the root, then the LEAF must still
        # read the forked state (both vacuum orders, drawn by seed)
        "ref": rng.choice(
            ["none", "none", "clone", "tag", "branch", "clone_chain"]
        ),
        "delete_pred": rng.choice(STORAGE_DELETES),
        "preds": rng.sample(STORAGE_PREDS, rng.randint(1, 2)),
    }


def _eq_key_match(prog: dict, outer: str, inner: str) -> str:
    """Null-safe key-tuple match between two sbase aliases — mirrors the
    engine's eqNullSafe eq-delete semantics in DuckDB."""
    return " AND ".join(
        f"{inner}.{k} IS NOT DISTINCT FROM {outer}.{k}"
        for k in prog["eq_keys"]
    )


def _eq_upsert_srcsql(prog: dict) -> tuple[list[str], str]:
    """(select-list exprs, distinct-keys subquery SQL) of the synthesized
    upsert source — one deterministic row per distinct key tuple drawn
    by ``delete_pred``, expressed in the SHARED dialect so Spark
    (via selectExpr) and DuckDB build byte-identical relations. The
    select list is a LIST of expression strings (one per output column)
    so the Spark half never has to re-split a joined string — splitting
    on ", " would shred any future expression containing a comma
    (round(x, 2), DECIMAL(18,6), ...)."""
    if prog["eq_keys"] == ["user_id"]:
        sel = [
            "-user_id AS event_id",
            "user_id",
            "'fzup' AS event_type",
            "TIMESTAMP '2024-02-01 00:00:00' AS ts",
            "CAST(user_id % 10 AS DOUBLE) + 0.5 AS value",
        ]
    else:
        sel = [
            "-(user_id * 8 + length(event_type)) AS event_id",
            "user_id",
            "event_type",
            "TIMESTAMP '2024-02-01 00:00:00' AS ts",
            "CAST(user_id % 10 AS DOUBLE) + 0.5 AS value",
        ]
    keys_sql = (
        f"SELECT DISTINCT {', '.join(prog['eq_keys'])} FROM sbase "
        f"WHERE {prog['delete_pred']}"
    )
    return sel, keys_sql


def _eq_upsert_source(spark, full, prog: dict, table: str):
    """Spark half of the synthesized upsert source: same shared-dialect
    expressions as the DuckDB view, cast back to the base table's exact
    column types. The evolution axis can leave the table with EXTRA
    logical columns (add_widen's fz_extra) — those ride as typed NULLs,
    matching what the pre-upsert rows carry for a post-hoc column, so
    the DuckDB mirror (which never references them) stays comparable."""
    import pyspark.sql.functions as F

    sel, _ = _eq_upsert_srcsql(prog)
    kdf = (
        full.filter(prog["delete_pred"]).select(*prog["eq_keys"]).distinct()
    )
    src = kdf.selectExpr(*sel)
    dtypes = dict(full.dtypes)
    cols = [F.col(c).cast(dtypes[c]).alias(c) for c in full.columns]
    live = spark.read.format("snapshot").option("path", table).load()
    for f in live.schema.fields:
        if f.name not in full.columns:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return src.select(*cols)


def _eq_expected_sql(prog: dict) -> str:
    """DuckDB view body for the post-eq-DML expected relation: the
    null-safe anti-join removes every row whose key tuple was drawn;
    upsert appends its synthesized source rows (cast to the base column
    types so UNION ALL cannot widen them)."""
    anti = (
        "SELECT b.* FROM sbase b WHERE NOT EXISTS ("
        f"SELECT 1 FROM sbase kk WHERE ({prog['delete_pred']}) AND "
        f"{_eq_key_match(prog, 'b', 'kk')})"
    )
    if prog["mutate"] == "delete_keys_mor":
        return anti
    sel, keys_sql = _eq_upsert_srcsql(prog)
    return (
        f"{anti} UNION ALL SELECT {', '.join(sel)} FROM ({keys_sql}) ks"
    )


def run_storage(n_seeds: int, sf: str, spark=None) -> list[int]:
    """One seed = build a snapshot table under a random layout, optionally
    mutate it, then compare filtered aggregate + row-probe reads through
    the pruning snapshot DataSource against DuckDB over the same rows."""
    import shutil
    import tempfile

    from tools.driver_sim import canon

    spark, con = _setup(sf, (), spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # tiny fixture tables: a 200-partition range exchange per sorted
    # append would spend the whole budget scheduling empty tasks
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    from web_analytics_on_aws_spark.sources import snapshots as S
    from web_analytics_on_aws_spark.sources.partitioning import (
        set_partition_spec,
    )
    from web_analytics_on_aws_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    spark.dataSource.register(SnapshotDataSource)
    work = tempfile.mkdtemp(prefix="storage-fuzz-")
    bad: list[int] = []
    try:
        base = _storage_base(spark, sf, work)
        con.execute(
            f"CREATE OR REPLACE VIEW sbase AS SELECT * FROM "
            f"read_parquet('{base}/*.parquet')"
        )
        full = spark.read.parquet(base)
        n_total = full.count()
        for seed in range(n_seeds):
            prog = gen_storage_program(seed)
            t = os.path.join(work, f"t{seed}")
            old_env = os.environ.get("SPARK_GRAFT_MANIFEST_SEGMENT_FILES")
            old_genv = os.environ.get(
                "SPARK_GRAFT_MANIFEST_SEGMENTS_PER_GROUP"
            )
            old_eqb = os.environ.get("SPARK_GRAFT_EQ_INLINE_BUDGET")
            old_eqs = os.environ.get("SPARK_GRAFT_EQ_SHIP_CAP")
            if prog["shard"]:
                os.environ["SPARK_GRAFT_MANIFEST_SEGMENT_FILES"] = "3"
                if prog["group"]:
                    os.environ["SPARK_GRAFT_MANIFEST_SEGMENTS_PER_GROUP"] = "2"
            if prog["eq_budget"] is not None:
                os.environ["SPARK_GRAFT_EQ_INLINE_BUDGET"] = prog["eq_budget"]
            if prog["eq_ship"] is not None:
                os.environ["SPARK_GRAFT_EQ_SHIP_CAP"] = prog["eq_ship"]
            try:
                # --- build: spec → sort → appends of disjoint slices ---
                S.commit_append(full.limit(0), t)
                if prog["spec"]:
                    set_partition_spec(spark, t, prog["spec"])
                if prog["sort"]:
                    S.set_sort_order(spark, t, prog["sort"])
                k = prog["n_appends"]
                for i in range(k):
                    S.commit_append(
                        full.filter(f"event_id % {k} = {i}"), t
                    )
                # --- evolution: mapping commits, final schema unchanged ---
                from web_analytics_on_aws_spark.sources import evolution as E

                if prog["evolve"] == "rename_roundtrip":
                    E.evolve_rename_column(spark, t, "value", "fz_value")
                    E.evolve_rename_column(spark, t, "fz_value", "value")
                elif prog["evolve"] == "add_widen":
                    E.evolve_add_column(spark, t, "fz_extra", "int")
                    E.evolve_widen_column(spark, t, "fz_extra", "bigint")
                elif prog["evolve"] == "add_drop":
                    E.evolve_add_column(spark, t, "fz_extra", "string")
                    E.evolve_drop_column(spark, t, "fz_extra")
                restore_to = S.current_version(t)
                deleted = []
                if prog["mutate"] == "delete_cow":
                    S.delete_where(spark, t, prog["delete_pred"])
                    deleted.append(prog["delete_pred"])
                elif prog["mutate"] == "delete_mor":
                    S.delete_where_mor(spark, t, prog["delete_pred"])
                    deleted.append(prog["delete_pred"])
                elif prog["mutate"] == "optimize":
                    S.optimize(spark, t, small_file_mb=64, min_small_files=2)
                elif prog["mutate"] == "restore":
                    S.delete_where(spark, t, prog["delete_pred"])
                    S.restore_version(spark, t, restore_to)
                elif prog["mutate"] == "delete_keys_mor":
                    S.delete_keys_mor(
                        spark,
                        t,
                        full.filter(prog["delete_pred"])
                        .select(*prog["eq_keys"])
                        .distinct(),
                    )
                elif prog["mutate"] == "upsert_keys_mor":
                    S.upsert_keys_mor(
                        spark,
                        t,
                        _eq_upsert_source(spark, full, prog, t),
                        prog["eq_keys"],
                    )
                if (
                    prog["mutate"] in ("delete_keys_mor", "upsert_keys_mor")
                    and prog["eq_maint"] is not None
                ):
                    if prog["eq_maint"] == "convert":
                        S.convert_equality_deletes(spark, t)
                    else:
                        S.compact_deletes(spark, t)
                # DuckDB mirror of the eq-delete key semantics: the final
                # expected relation goes through a view (anti-join on the
                # null-safe key match; upsert appends its synthesized
                # source rows), so every downstream pred/probe/ref check
                # just swaps the relation name
                dd_rel = "sbase"
                if prog["mutate"] in ("delete_keys_mor", "upsert_keys_mor"):
                    dd_rel = "sfinal"
                    con.execute(
                        "CREATE OR REPLACE VIEW sfinal AS "
                        + _eq_expected_sql(prog)
                    )
                # --- compare: DataSource read (pruning ON) vs DuckDB ---
                sdf_all = (
                    spark.read.format("snapshot").option("path", t).load()
                )
                not_deleted = " AND ".join(
                    f"NOT coalesce({d}, false)" for d in deleted
                )
                base_where = f" WHERE {not_deleted}" if deleted else ""
                for pred in prog["preds"]:
                    agg = (
                        "CAST(COUNT(*) AS BIGINT) AS n, "
                        "CAST(SUM(user_id % 13) AS BIGINT) AS s, "
                        "MIN(event_id) AS lo, MAX(user_id % 97) AS hi"
                    )
                    sdf_all.createOrReplaceTempView("fuzz_t")
                    sdf = spark.sql(
                        f"SELECT {agg} FROM fuzz_t WHERE {pred}"
                    ).toPandas()
                    dd_where = (
                        f"{base_where} AND ({pred})"
                        if deleted
                        else f" WHERE {pred}"
                    )
                    ddf = con.execute(
                        f"SELECT {agg} FROM {dd_rel}{dd_where}"
                    ).df()
                    probe_s = spark.sql(
                        f"SELECT event_id FROM fuzz_t WHERE {pred} "
                        "ORDER BY event_id LIMIT 50"
                    ).toPandas()
                    probe_d = con.execute(
                        f"SELECT event_id FROM {dd_rel}{dd_where} "
                        "ORDER BY event_id LIMIT 50"
                    ).df()
                    if (
                        canon(sdf) != canon(ddf)
                        or canon(probe_s) != canon(probe_d)
                    ):
                        bad.append(seed)
                        print(
                            f"STORAGE DIVERGENCE seed={seed} prog={prog} "
                            f"pred={pred!r}",
                            flush=True,
                        )
                        break
                # --- time travel: the pre-mutation version reads exactly
                # the un-mutated baseline, regardless of later DML ---
                pred0 = prog["preds"][0]
                agg0 = (
                    "CAST(COUNT(*) AS BIGINT) AS n, "
                    "CAST(SUM(user_id % 13) AS BIGINT) AS s, "
                    "MIN(event_id) AS lo, MAX(user_id % 97) AS hi"
                )
                if prog["timetravel"] and seed not in bad:
                    tv = (
                        spark.read.format("snapshot")
                        .option("path", t)
                        .option("version", str(restore_to))
                        .load()
                    )
                    tv.createOrReplaceTempView("fuzz_tv")
                    got = canon(
                        spark.sql(
                            f"SELECT {agg0} FROM fuzz_tv WHERE {pred0}"
                        ).toPandas()
                    )
                    want = canon(
                        con.execute(
                            f"SELECT {agg0} FROM sbase WHERE {pred0}"
                        ).df()
                    )
                    if got != want:
                        bad.append(seed)
                        print(
                            f"STORAGE TIME-TRAVEL DIVERGENCE seed={seed} "
                            f"prog={prog} pred={pred0!r}",
                            flush=True,
                        )
                # --- refs: a fork/tag must read exactly its source state
                # (clone/branch: post-mutation head; tag: the pre-mutation
                # version SURVIVING a retain-1 vacuum) ---
                if prog["ref"] != "none" and seed not in bad:
                    from web_analytics_on_aws_spark.sources import refs as R

                    dd_where0 = (
                        f"{base_where} AND ({pred0})"
                        if deleted
                        else f" WHERE {pred0}"
                    )
                    if prog["ref"] == "clone":
                        fork = os.path.join(work, f"t{seed}_clone")
                        R.clone_table(t, fork)
                        fdf = (
                            spark.read.format("snapshot")
                            .option("path", fork)
                            .load()
                        )
                        want_sql = f"SELECT {agg0} FROM {dd_rel}{dd_where0}"
                    elif prog["ref"] == "clone_chain":
                        mid = os.path.join(work, f"t{seed}_mid")
                        fork = os.path.join(work, f"t{seed}_leaf")
                        R.clone_table(t, mid)
                        R.clone_table(mid, fork)
                        # strand the lineage from the middle table's own
                        # perspective, then vacuum root and middle in a
                        # seed-drawn order — the leaf's zero-copy head
                        # references the ROOT's files/segments and must
                        # survive both walks
                        S.commit_overwrite(full.limit(7), mid)
                        for tb in [t, mid] if seed % 2 else [mid, t]:
                            S.vacuum(tb, retain_last=1)
                        fdf = (
                            spark.read.format("snapshot")
                            .option("path", fork)
                            .load()
                        )
                        want_sql = f"SELECT {agg0} FROM {dd_rel}{dd_where0}"
                    elif prog["ref"] == "branch":
                        fork = R.create_branch(t, "fz")
                        fdf = (
                            spark.read.format("snapshot")
                            .option("path", fork)
                            .load()
                        )
                        want_sql = f"SELECT {agg0} FROM {dd_rel}{dd_where0}"
                    else:  # tag pins the pre-mutation version through vacuum
                        R.create_tag(t, "fz", version=restore_to)
                        S.vacuum(t, retain_last=1)
                        fdf = (
                            spark.read.format("snapshot")
                            .option("path", t)
                            .option("version", str(restore_to))
                            .load()
                        )
                        want_sql = f"SELECT {agg0} FROM sbase WHERE {pred0}"
                    fdf.createOrReplaceTempView("fuzz_ref")
                    got = canon(
                        spark.sql(
                            f"SELECT {agg0} FROM fuzz_ref WHERE {pred0}"
                        ).toPandas()
                    )
                    want = canon(con.execute(want_sql).df())
                    if got != want:
                        bad.append(seed)
                        print(
                            f"STORAGE REF DIVERGENCE seed={seed} "
                            f"prog={prog} pred={pred0!r}",
                            flush=True,
                        )
                # sanity: the harness itself must not be vacuous
                if seed == 0 and n_total == 0:
                    raise RuntimeError("storage fuzz base slice is empty")
            finally:
                # restore both env vars UNCONDITIONALLY (ADVICE r9: the
                # set path is gated on prog flags; mirroring those gates
                # here invites a leak the moment the set condition changes)
                for var, old in (
                    ("SPARK_GRAFT_MANIFEST_SEGMENT_FILES", old_env),
                    ("SPARK_GRAFT_MANIFEST_SEGMENTS_PER_GROUP", old_genv),
                    ("SPARK_GRAFT_EQ_INLINE_BUDGET", old_eqb),
                    ("SPARK_GRAFT_EQ_SHIP_CAP", old_eqs),
                ):
                    if old is None:
                        os.environ.pop(var, None)
                    else:
                        os.environ[var] = old
                # every per-seed table dir, including the clone_chain pair
                # (ADVICE r10: 300 seeds accumulated ~600 undead snapshot
                # dirs until the end-of-run rmtree — disk pressure)
                for suffix in ("", "_clone", "_mid", "_leaf"):
                    shutil.rmtree(
                        os.path.join(work, f"t{seed}{suffix}"),
                        ignore_errors=True,
                    )
            if seed % 25 == 24:
                print(f"storage fuzz: {seed + 1}/{n_seeds} clean", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return bad


if __name__ == "__main__":
    raise SystemExit(main())
