"""Requests and output checks.

`olap_cycle` draws the `olap_star` request cycle from a seed; `olap_sql`
gives each request's DuckDB oracle, the template's SQL over the raw
parquet tables with the request's literals substituted. `check` compares
every distinct result the engine returned with its oracle (catalogue
queries use the oracle SQL the catalogue carries) by fingerprint: row
count plus an order-insensitive hash of the rows, doubles rounded to nine
significant digits. A result that differs, or is empty, fails.
"""
from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import random
import shutil
from pathlib import Path

import duckdb

import gen

YEARS = list(range(1995, 2002))
BRANDS = [f"Brand#{i}" for i in range(1, 26)]

# Templates in popularity order; a cycle holds each once plus Zipf-weighted
# repeats of the popular ones.
TEMPLATES = ["slice_dice", "aggregate", "collapse", "routed", "rollup", "pivot",
             "topk", "cube", "grouping_sets", "time_intelligence",
             "share_along", "denormalize"]
CYCLE_EXTRA = 2


def zipf_counts(n_templates: int, extra: int, s: float = 1.0) -> list[int]:
    """One request per template plus `extra` repeats split by Zipf(s) weight
    (largest remainder), so every cycle has the same template mix."""
    w = [1 / (k + 1) ** s for k in range(n_templates)]
    share = [extra * x / sum(w) for x in w]
    counts = [int(x) for x in share]
    for i in sorted(range(n_templates), key=lambda i: share[i] - counts[i],
                    reverse=True)[: extra - sum(counts)]:
        counts[i] += 1
    return [1 + c for c in counts]


def _args(rng: random.Random, template: str) -> dict:
    seg = lambda: [rng.choice(gen.SEGMENTS)]
    region = lambda: [rng.choice(gen.REGIONS)]
    ptype = lambda: [rng.choice(gen.P_TYPES)]
    return {
        "slice_dice": lambda: {"segment": seg(), "brands": sorted(rng.sample(BRANDS, 2))},
        "collapse": lambda: {"years": (lambda y: [y, y + 1])(rng.choice(YEARS[:-1]))},
        "aggregate": lambda: {"types": sorted(rng.sample(gen.P_TYPES, 2))},
        "rollup": lambda: {"region": region()},
        "cube": lambda: {"type": ptype()},
        "grouping_sets": lambda: {"segment": seg()},
        "denormalize": lambda: {"brand": [rng.choice(BRANDS)], "region": region()},
        "pivot": lambda: {"region": region()},
        "topk": lambda: {"segment": seg(), "k": [rng.randint(1, 5)]},
        "time_intelligence": lambda: {"region": region()},
        "share_along": lambda: {"type": ptype()},
        "routed": lambda: {"years": sorted(rng.sample(YEARS, 3))},
    }[template]()


def request_key(template: str, args: dict) -> str:
    return template + json.dumps(args, sort_keys=True, separators=(",", ":"))


def olap_cycle(rng: random.Random) -> list[dict]:
    """The request cycle of one `olap_star` run: fixed template mix, order
    and literals from the seed."""
    reqs = []
    for t, c in zip(TEMPLATES, zipf_counts(len(TEMPLATES), CYCLE_EXTRA)):
        for _ in range(c):
            a = _args(rng, t)
            reqs.append({"key": request_key(t, a), "kind": "olap",
                         "template": t, "args": a})
    rng.shuffle(reqs)
    return reqs


def olap_warmup(rng: random.Random) -> list[dict]:
    """One request per template, run in set-up so the timed cycle starts
    with every template's code generated and compiled."""
    return [{"key": request_key(t, a), "kind": "olap", "template": t, "args": a}
            for t in TEMPLATES for a in [_args(rng, t)]]


# ----------------------------------------------------------------- oracles --

def _lit(v) -> str:
    return str(v) if isinstance(v, int) else "'" + str(v).replace("'", "''") + "'"


def _in(vals) -> str:
    return "(" + ", ".join(_lit(v) for v in vals) + ")"


YEAR = "CAST(year(l_shipdate) AS INT)"
PRICE = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
DISC = ("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) "
        "- CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))")
J_PART = " JOIN part ON p_partkey = l_partkey"
J_CUST = " JOIN orders ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey"
J_GEO = (" JOIN supplier ON s_suppkey = l_suppkey JOIN nation ON n_nationkey = s_nationkey"
         " JOIN region ON r_regionkey = n_regionkey")


def olap_sql(template: str, a: dict) -> str:
    if template == "slice_dice":
        return (f"SELECT p_brand, {YEAR} AS d_year, SUM(l_quantity) AS sum_qty, "
                f"{PRICE} AS sum_price, COUNT(*) AS n FROM lineitem{J_PART}{J_CUST} "
                f"WHERE c_mktsegment IN {_in(a['segment'])} AND p_brand IN {_in(a['brands'])} "
                "GROUP BY 1, 2")
    if template == "collapse":
        return (f"SELECT p_brand, SUM(l_quantity) AS sum_qty, "
                f"CAST(SUM({DISC}) AS DOUBLE) AS sum_disc_price, COUNT(*) AS n "
                f"FROM lineitem{J_PART} WHERE year(l_shipdate) IN {_in(a['years'])} GROUP BY 1")
    if template == "aggregate":
        return (f"SELECT c_mktsegment, {YEAR} AS d_year, r_name, SUM(l_quantity) AS sum_qty, "
                f"{PRICE} AS sum_price, COUNT(*) AS n FROM lineitem{J_PART}{J_CUST}{J_GEO} "
                f"WHERE p_type IN {_in(a['types'])} GROUP BY 1, 2, 3")
    if template == "rollup":
        y, q, m = "year(l_shipdate)", "quarter(l_shipdate)", "month(l_shipdate)"
        return (f"SELECT CAST({y} AS INT) AS d_year, CAST({q} AS INT) AS d_quarter, "
                f"CAST({m} AS INT) AS d_month, SUM(l_quantity) AS sum_qty, COUNT(*) AS n, "
                f"CAST(GROUPING({y}) + GROUPING({q}) + GROUPING({m}) AS INT) AS level "
                f"FROM lineitem{J_GEO} WHERE r_name IN {_in(a['region'])} "
                f"GROUP BY ROLLUP({y}, {q}, {m})")
    if template == "cube":
        return (f"SELECT c_mktsegment, {YEAR} AS d_year, SUM(l_quantity) AS sum_qty, "
                f"{PRICE} AS sum_price, "
                "CAST(GROUPING(c_mktsegment) + GROUPING(year(l_shipdate)) AS INT) AS level "
                f"FROM lineitem{J_PART}{J_CUST} WHERE p_type IN {_in(a['type'])} "
                "GROUP BY CUBE(c_mktsegment, year(l_shipdate))")
    if template == "grouping_sets":
        return (f"SELECT {YEAR} AS d_year, p_brand, CAST(NULL AS VARCHAR) AS c_mktsegment, "
                "SUM(l_quantity) AS sum_qty, COUNT(*) AS n, "
                "CAST(GROUPING(year(l_shipdate)) + GROUPING(p_brand) + 1 AS INT) AS level "
                f"FROM lineitem{J_PART}{J_CUST} WHERE c_mktsegment IN {_in(a['segment'])} "
                "GROUP BY GROUPING SETS ((year(l_shipdate), p_brand), (year(l_shipdate)), ())")
    if template == "denormalize":
        return (
            "WITH fact AS (SELECT l_orderkey AS o_orderkey, l_partkey AS p_partkey, "
            "l_suppkey AS s_suppkey, CAST(l_shipdate AS DATE) AS d_date, "
            "SUM(l_quantity) AS sum_qty, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price, "
            "COUNT(*) AS n FROM lineitem GROUP BY 1, 2, 3, 4) "
            "SELECT o_orderkey, p_partkey, s_suppkey, d_date, p_brand, p_name, n_name, "
            "c_mktsegment, sum_qty, CAST(sum_price AS DOUBLE) AS sum_price, n FROM fact "
            "JOIN part USING (p_partkey) JOIN supplier USING (s_suppkey) "
            "JOIN nation ON n_nationkey = s_nationkey JOIN region ON r_regionkey = n_regionkey "
            "JOIN orders USING (o_orderkey) JOIN customer ON c_custkey = o_custkey "
            f"WHERE p_brand IN {_in(a['brand'])} AND r_name IN {_in(a['region'])}")
    if template == "pivot":
        cases = ", ".join(
            f"COALESCE(SUM(CASE WHEN c_mktsegment = '{s}' THEN l_quantity END), 0) AS \"{s}\""
            for s in gen.SEGMENTS)
        return (f"SELECT {YEAR} AS d_year, {cases} FROM lineitem{J_CUST}{J_GEO} "
                f"WHERE r_name IN {_in(a['region'])} GROUP BY 1")
    if template == "topk":
        return (f"WITH byp AS (SELECT p_brand, p_partkey, CAST(SUM({DISC}) AS DOUBLE) AS revenue "
                f"FROM lineitem{J_PART}{J_CUST} WHERE c_mktsegment IN {_in(a['segment'])} "
                "GROUP BY 1, 2), rk AS (SELECT p_brand, p_partkey, revenue, "
                "CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY revenue DESC, "
                f"p_partkey ASC) AS INT) AS rk FROM byp) SELECT * FROM rk WHERE rk <= {int(a['k'][0])}")
    if template == "time_intelligence":
        return (f"WITH m AS (SELECT c_mktsegment, {YEAR} AS d_year, SUM(l_quantity) AS sum_qty, "
                f"COUNT(*) AS n FROM lineitem{J_CUST}{J_GEO} WHERE r_name IN {_in(a['region'])} "
                "GROUP BY 1, 2) SELECT c_mktsegment, d_year, sum_qty, "
                "SUM(sum_qty) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_sum_qty, "
                "LAG(sum_qty) OVER w AS prev_sum_qty, sum_qty - LAG(sum_qty) OVER w AS delta_sum_qty, "
                "n, CAST(SUM(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
                "AS cum_n FROM m WINDOW w AS (PARTITION BY c_mktsegment ORDER BY d_year)")
    if template == "share_along":
        return (f"WITH m AS (SELECT {YEAR} AS d_year, c_mktsegment, SUM(l_quantity) AS sum_qty, "
                f"COUNT(*) AS n FROM lineitem{J_PART}{J_CUST} WHERE p_type IN {_in(a['type'])} "
                "GROUP BY 1, 2) SELECT d_year, c_mktsegment, sum_qty, "
                "sum_qty / SUM(sum_qty) OVER (PARTITION BY d_year) AS share_sum_qty, n, "
                "CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY d_year) AS DOUBLE) AS share_n "
                "FROM m")
    if template == "routed":
        return (f"SELECT c_mktsegment, SUM(l_quantity) AS sum_qty, COUNT(*) AS n, "
                f"'seg_year' AS routed_via FROM lineitem{J_CUST} "
                f"WHERE year(l_shipdate) IN {_in(a['years'])} GROUP BY 1")
    raise ValueError(f"unknown template {template}")


# ------------------------------------------------------------ fingerprint --

def canon(v):
    """A value in comparable form: integral numbers as int, other doubles at
    nine significant digits, dates and timestamps as ISO text."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if f != f or f in (float("inf"), float("-inf")):
            return str(f)
        if f.is_integer() and abs(f) < 2 ** 53:
            return int(f)
        return float(f"{f:.9g}")
    if isinstance(v, dt.datetime):
        return str(v)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(canon(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return str(v)


def fingerprint(columns: list[str], rows: list) -> tuple[int, int, tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        c = tuple(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.blake2b(repr(c).encode(), digest_size=8).digest(), "big")
    return len(rows), total % 2 ** 64, tuple(sorted(columns))


def read_result(path: Path) -> tuple[str, list[str], list]:
    lines = path.read_text().splitlines()
    head = json.loads(lines[0])
    return head["key"], head["columns"], [json.loads(l) for l in lines[1:]]


def write_result(path: Path, key: str, columns: list[str], rows: list) -> None:
    """A result file in the form the harness writes (used by the self-test)."""
    def enc(v):
        if isinstance(v, (dt.datetime, dt.date)):
            return canon(v)
        if isinstance(v, decimal.Decimal):
            return float(v)
        return v
    with open(path, "w") as f:
        f.write(json.dumps({"key": key, "columns": columns}) + "\n")
        for r in rows:
            f.write(json.dumps([enc(v) for v in r]) + "\n")


def connect(data: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_rows(con, sql: str) -> tuple[list[str], list]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def perturb_file(path: Path) -> None:
    """Alter one value of the result's first row."""
    key, cols, rows = read_result(path)
    r = rows[0]
    for i, v in enumerate(r):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            r[i] = v + 1
            break
        if isinstance(v, str):
            r[i] = v + "x"
            break
    write_result(path, key, cols, rows)


def check(out: Path, data: Path, ops: list[dict], record: dict,
          perturb: bool = False) -> tuple[dict, dict]:
    """Verdict per (key, fingerprint) the engine produced, and a summary."""
    by_key = {o["key"]: o for o in ops}
    runs = record["timed"]["ops"] + (record["traced"]["ops"] if record.get("traced") else [])
    con = connect(data)
    expected: dict[str, tuple] = {}
    verdicts: dict[tuple, bool] = {}
    problems = []
    files = sorted({r["result"] for r in runs if r["result"]})
    if perturb and files:
        perturb_file(out / "results" / files[0])
    for name in files:
        key, cols, rows = read_result(out / "results" / name)
        fps = {r["fingerprint"] for r in runs if r["result"] == name}
        op = by_key[key]
        if op["kind"] == "olap":
            sql = olap_sql(op["template"], op["args"])
        else:
            sql = record["oracles"].get(op["query"])
        got = fingerprint(cols, rows)
        if sql is None:
            ok, why = len(rows) > 0, "empty result (no oracle)"
        else:
            if key not in expected:
                expected[key] = fingerprint(*oracle_rows(con, sql))
            want = expected[key]
            ok = got == want and got[0] > 0
            why = ("empty result" if got[0] == 0 else
                   f"mismatch: rows {got[0]} vs oracle {want[0]}"
                   + ("" if got[2] == want[2] else f", columns {list(got[2])} vs {list(want[2])}"))
        for fp in fps:
            verdicts[(key, fp)] = ok
        if not ok:
            problems.append({"key": key, "why": why})
    for r in runs:
        if r["error"] is None and r["result"] is None and r["fingerprint"] == "":
            verdicts[(r["key"], "")] = True
    con.close()
    summary = {"results_checked": len(files),
               "with_oracle": sum(1 for k in expected),
               "problems": problems[:10]}
    return verdicts, summary


def selftest(olap_ops) -> None:
    """Same seed, same requests; the checker accepts an engine-shaped copy of
    the oracle's answer in any row order and rejects a perturbed one."""
    a, b, c = olap_ops(11), olap_ops(11), olap_ops(12)
    assert a == b, "same seed gave different requests"
    assert a != c, "different seeds gave identical requests"
    root = Path(__file__).resolve().parent.parent / ".bench_build" / "selftest"
    shutil.rmtree(root, ignore_errors=True)
    data = root / "data"
    gen.generate(data, 5, 0.001, gen.STAR_TABLES)
    d1 = (data / "lineitem.parquet").read_bytes()
    gen.generate(root / "again", 5, 0.001, ["lineitem"])
    assert d1 == (root / "again" / "lineitem.parquet").read_bytes(), \
        "same seed gave different tables"
    con = connect(data)
    checked = 0
    for op in a:
        cols, rows = oracle_rows(con, olap_sql(op["template"], op["args"]))
        if not rows:
            continue
        out = root / "out"
        (out / "results").mkdir(parents=True, exist_ok=True)
        f = out / "results" / "r0001.jsonl"
        write_result(f, op["key"], cols, list(reversed(rows)))
        rec = {"timed": {"ops": [{"key": op["key"], "result": "r0001.jsonl",
                                  "fingerprint": "fp", "error": None}]},
               "oracles": {}}
        v, _ = check(out, data, [op], rec)
        assert v[(op["key"], "fp")], f"checker rejected a correct {op['template']} result"
        v, _ = check(out, data, [op], rec, perturb=True)
        assert not v[(op["key"], "fp")], f"checker accepted a perturbed {op['template']} result"
        if len(rows) > 1:
            write_result(f, op["key"], cols, rows[1:])
            v, _ = check(out, data, [op], rec)
            assert not v[(op["key"], "fp")], "checker accepted a result missing a row"
        checked += 1
    assert checked >= 5, "too few templates had rows at the self-test scale"
    shutil.rmtree(root, ignore_errors=True)
    print(f"selftest ok: requests are seed-determined; {checked} templates "
          "checked, perturbed and truncated results rejected")
