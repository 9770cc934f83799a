"""Statement streams of the three wire workloads.

Every workload is a closed loop: one client, one connection, the next
statement sent only after ReadyForQuery of the previous one. A pass is a
fixed sequence of statement *classes*; the literals inside come from a
``random.Random`` seeded by (seed, pass index), so the same seed gives the
same texts and warm-up passes (negative indices) use texts the timed
passes never repeat.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from datagen import ROWS

WRITE_TABLE = "perfbench_orders"


@dataclass
class Step:
    cls: str  # statement class, for per-class figures and the gap check
    sql: str
    kind: str = "query"  # query | prepared | copy
    params: list = field(default_factory=list)  # typed values for $1..$n
    data: bytes = b""  # COPY FROM STDIN payload (PG text format)
    write: bool = False


@dataclass(frozen=True)
class Workload:
    name: str
    setup: tuple[str, ...] = ()  # untimed statements before warm-up
    teardown: tuple[str, ...] = ()  # untimed statements after the checks

    def pass_steps(self, seed: int, index: int) -> list[Step]:
        rng = random.Random(f"{self.name}:{seed}:{index}")
        return _PASSES[self.name](rng, index)


# ----------------------------------------------------------- short_stmts


def _short(rng: random.Random, _index: int) -> list[Step]:
    n_orders, n_cust = ROWS["orders"], ROWS["customer"]
    okey = lambda: 4 * rng.randint(1, n_orders)  # noqa: E731
    ck = lambda: rng.randint(1, n_cust)  # noqa: E731
    y, m, dd = rng.randint(2000, 2030), rng.randint(1, 12), rng.randint(1, 28)
    hh, mi = rng.randint(0, 23), rng.randint(0, 59)
    return [
        Step("lookup", "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus "
             f"FROM orders WHERE o_orderkey = {okey()}"),
        Step("lookup", "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
             "WHERE o_orderkey = $1", "prepared", [okey()]),
        Step("lookup", "SELECT c_custkey, c_name, c_acctbal FROM customer "
             f"WHERE c_custkey = {ck()}"),
        Step("lookup", "SELECT c_name, c_mktsegment FROM customer "
             "WHERE c_custkey = $1", "prepared", [ck()]),
        Step("agg", "SELECT n_name, count(*) AS n, round(sum(c_acctbal), 2) AS bal "
             "FROM customer JOIN nation ON c_nationkey = n_nationkey "
             f"WHERE c_acctbal > {rng.randint(-900, 9000)}.5 GROUP BY n_name"),
        Step("agg", "SELECT r_name, count(*) AS n FROM nation "
             "JOIN region ON n_regionkey = r_regionkey "
             f"WHERE n_nationkey < {rng.randint(3, 25)} GROUP BY r_name"),
        Step("scalar", f"SELECT '{y}-{m:02d}-{dd:02d}'::DATE + {rng.randint(1, 400)} AS d, "
             f"strftime(TIMESTAMP '{y}-{m:02d}-{dd:02d} {hh:02d}:{mi:02d}:00', "
             "'%Y/%m/%d %H') AS s"),
        Step("scalar", "SELECT list_aggregate(["
             + ", ".join(str(rng.randint(-99, 999)) for _ in range(rng.randint(2, 6)))
             + "], 'sum') AS s"),
        Step("scalar", "SELECT sum(x) AS s, count(*) AS n "
             f"FROM generate_series(1, {rng.randint(10, 5000)}) t(x)"),
        # typed dialect rewrites: each operand is probed by the typer,
        # and the seeded literal inside it makes every probe a miss
        Step("dialect", f"SELECT printf('%s-%d', c_name, c_nationkey + {rng.randint(1, 99)}) "
             f"AS p, c_mktsegment FROM customer WHERE c_custkey = {ck()}"),
        Step("dialect", "SELECT o_orderkey, o_orderdate::VARCHAR || "
             f"'/{rng.randint(1, 999)}' AS v FROM orders WHERE o_orderkey = {okey()}"),
        # the slowest class, bimodal per server start (~0.7 or ~0.93 s on
        # a 4-core host): three a pass, so its per-class median in the
        # run record has nine samples
        Step("describe", "DESCRIBE SELECT o_orderkey, "
             f"o_totalprice * {rng.randint(2, 999)} AS v, o_orderdate FROM orders"),
        Step("describe", f"DESCRIBE SELECT c_name, c_acctbal + {rng.randint(2, 999)} AS b, "
             "n_name FROM customer JOIN nation ON c_nationkey = n_nationkey"),
        Step("describe", "DESCRIBE SELECT p_brand, count(*) AS n, "
             f"max(p_retailprice) * {rng.randint(2, 999)} AS mx FROM part GROUP BY p_brand"),
    ]


# ----------------------------------------------------------- bulk_export
# The four row-heavy registry statements (oracle SQL of win_agg_frames,
# stream_session_window, join_inner and fn_string_basic), frozen here so
# a registry edit cannot silently change the workload.

BULK = {
    "win_agg_frames": """
    SELECT
        o_custkey,
        o_orderkey,
        ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
            AS running_total,
        ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
            AS moving_avg3,
        COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                       RANGE BETWEEN INTERVAL 5 DAY PRECEDING AND CURRENT ROW)
            AS near_date_count
    FROM orders
    """,
    "stream_session_window": """
    WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 5 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_no
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
    "join_inner": """
    SELECT o_orderkey, o_totalprice, c_name, n_name
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_totalprice > 250000
    """,
    "fn_string_basic": """
    SELECT
        p_partkey,
        lower(p_name)                        AS lo,
        upper(p_name)                        AS up,
        length(p_name)                       AS len,
        substring(p_name, 3, 5)              AS sub,
        trim('  ' || p_name || ' ')          AS trimmed,
        ltrim(' x' || p_name, ' x')          AS l_trimmed,
        rtrim(p_name || 'zz', 'z')           AS r_trimmed,
        replace(p_name, 'a', '@')            AS repl,
        p_name || '/' || p_brand             AS joined,
        reverse(p_name)                      AS rev,
        repeat(p_brand, 2)                   AS rep2,
        lpad(p_brand, 12, '.')               AS padded_l,
        rpad(p_brand, 12, '.')               AS padded_r
    FROM part
    """,
}


def _bulk(_rng: random.Random, _index: int) -> list[Step]:
    return [Step(name, sql) for name, sql in BULK.items()]


# ----------------------------------------------------------- write_mix


def _write(rng: random.Random, index: int) -> list[Step]:
    t = WRITE_TABLE
    # keys above every generated order key; one block per pass index
    base = 10_000_000 + (index + 1_000) * 10_000
    n_ins = rng.randint(15, 25)
    vals = ", ".join(
        f"({base + i}, {rng.randint(1, ROWS['customer'])}, 'O', "
        f"{rng.randint(100_000, 50_000_000) / 100:.2f}, "
        f"TIMESTAMP '2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} 00:00:00', "
        "'3-MEDIUM')"
        for i in range(n_ins)
    )
    lo = 4 * rng.randint(1, ROWS["orders"] - 200)
    hi = lo + 4 * rng.randint(20, 150)
    copy_rows = "".join(
        f"{base + 5_000 + i}\t{rng.randint(1, ROWS['customer'])}\tF\t"
        f"{rng.randint(100_000, 50_000_000) / 100:.2f}\t"
        f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} 00:00:00\t1-URGENT\n"
        for i in range(1_000)
    )
    status = rng.choice(["F", "O", "P"])
    # same text twice a pass, its typer probes cached in between unless
    # a write cleared the memo
    typed_read = (
        f"SELECT o_orderstatus, printf('%s:%d', o_orderstatus, count(*)) AS p, "
        f"round(sum(o_totalprice), 2) AS s FROM {t} GROUP BY o_orderstatus"
    )
    return [
        Step("insert", f"INSERT INTO {t} VALUES {vals}", write=True),
        Step("read", f"SELECT count(*) AS n, round(sum(o_totalprice), 2) AS s FROM {t}"),
        Step("update", f"UPDATE {t} SET o_totalprice = o_totalprice + "
             f"{rng.randint(1, 999)}.25 WHERE o_orderkey BETWEEN {lo} AND {hi}",
             write=True),
        Step("read", typed_read),
        Step("copy", f"COPY {t} FROM STDIN", "copy", data=copy_rows.encode(), write=True),
        Step("read", f"SELECT count(*) AS n, max(o_orderkey) AS mx FROM {t} "
             f"WHERE o_orderstatus = '{status}'"),
        Step("delete", f"DELETE FROM {t} WHERE o_orderkey >= {base}", write=True),
        Step("read", f"SELECT count(*) AS n, round(sum(o_totalprice), 2) AS s FROM {t}"),
        Step("read", typed_read),
    ]


_PASSES = {"short_stmts": _short, "bulk_export": _bulk, "write_mix": _write}

WORKLOADS = {
    w.name: w
    for w in (
        Workload("short_stmts"),
        Workload("bulk_export"),
        Workload(
            "write_mix",
            setup=(f"CREATE TABLE {WRITE_TABLE} AS SELECT * FROM orders",),
            teardown=(f"DROP TABLE {WRITE_TABLE}",),
        ),
    )
}
