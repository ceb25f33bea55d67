"""query_mix: reads against one hot lakehouse table plus the headline
analytic queries, with no commits in the timed phase.

Setup builds an sf0.1 ``orders`` lakehouse table of 16 key-range data
files from every order except the never-written keys (``_absent``),
deletes every 89th key merge-on-read and rewrites that tail as
deletion vectors, then deletes every 97th key merge-on-read and leaves
it as a position-delete tail. The timed loop runs whole rounds of one
pass over TIMED_KEYS and LLM_KEYS, in order, with ROUND_LOOKUPS point
lookups and ROUND_SCANS date-range scans inserted at seeded positions,
until at least ``--seconds`` have passed.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import time

import numpy as np

import datagen
from common import Ctx, Ops, error_text, geomean, median, tail, tree_bytes

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q9_profit_by_nation",
    "q12_priority_shipping",
    "q21_waiting_suppliers",
    "gold_customer_metrics",
    "gold_daily_sales",
    "gold_product_performance",
    "events_sessions",
]
#: headline keys that round a double SUM whose exact value can fall on
#: a half-cent, so their rows differ from the oracle on some seeds
#: (NOTES.md, "Known defects"): probed after the timed phase, not timed
DEFECTIVE_KEYS = ["q1_pricing_summary", "q3_top_orders"]
TIMED_KEYS = [k for k in HEADLINE if k not in DEFECTIVE_KEYS]
#: an LLM-data operator over the same hot sf directory: the ANN probe,
#: whose tier-root memo this path fills on first use
LLM_KEYS = ["ann_topk"]
ROUND_LOOKUPS = 6
ROUND_SCANS = 2
MAX_ROUNDS = 8
SCAN_DAYS = 30
DATA_FILES = 16
SIZES = {"full": 0.1, "tiny": 0.001}


def _deleted(k: int) -> bool:
    return k % 89 == 0 or k % 97 == 0


def _absent(k: int) -> bool:
    """Keys never written to the table: absent, yet inside a data
    file's key range, so a lookup reads that file."""
    return k % 83 == 1


def build_table(spark, sf_dir: str, path: str) -> None:
    from pyspark.sql import functions as F

    from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable

    t = LakehouseTable(path)
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    orders = orders.filter(F.col("o_orderkey") % 83 != 1)
    t.append(orders.repartitionByRange(DATA_FILES, "o_orderkey"))
    t.delete_where(spark, F.col("o_orderkey") % 89 == 0, mode="merge-on-read")
    t.rewrite_position_deletes(spark, as_dv=True)
    t.delete_where(spark, F.col("o_orderkey") % 97 == 0, mode="merge-on-read")


def prepare(ctx: Ctx, dest: str) -> dict:
    sf = SIZES[ctx.scale]
    sf_dir = datagen.make_sf_dir(ctx.seed, sf, os.path.join(dest, "sf"))
    table = os.path.join(dest, "lake", "orders")
    build_table(ctx.spark, sf_dir, table)
    return {"sf_dir": sf_dir, "table": table, "plan": _plan(ctx.seed, sf)}


def _plan(seed: int, sf: float) -> list[list[tuple]]:
    """Per round: the registry keys in order, with the seeded lookups
    and scans inserted at seeded positions. Lookup keys cycle live,
    live, deleted, absent (never written); scans are SCAN_DAYS-day
    order-date windows."""
    rng = np.random.default_rng([seed, 50])
    n_ord = max(int(1_500_000 * sf), 100)
    live = [k for k in range(n_ord) if not _deleted(k) and not _absent(k)]
    dead = [k for k in range(n_ord) if _deleted(k) and not _absent(k)]
    gone = [k for k in range(n_ord) if _absent(k)]
    rounds = []
    for _ in range(MAX_ROUNDS):
        ops = []
        for i in range(ROUND_LOOKUPS):
            u = i % 4
            if u < 2:
                k = live[int(rng.integers(0, len(live)))]
            elif u == 2:
                k = dead[int(rng.integers(0, len(dead)))]
            else:
                k = gone[int(rng.integers(0, len(gone)))]
            ops.append(("lookup", k))
        for _ in range(ROUND_SCANS):
            lo = datagen.ORDER_DAY0 + int(rng.integers(0, datagen.ORDER_DAYS - SCAN_DAYS))
            ops.append(("scan", str(lo)))
        # the registry keys keep their order, so each key meets the same
        # JIT warmth in every run; the seed places the connector ops
        # between them
        plan = [("query", key) for key in TIMED_KEYS + LLM_KEYS]
        for op in ops:
            plan.insert(int(rng.integers(0, len(plan) + 1)), op)
        rounds.append(plan)
    return rounds


def _day(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


class _Runner:
    def __init__(self, ctx: Ctx, state: dict):
        from pyspark.sql import functions as F

        import __spark_entry__

        self.ctx, self.state, self.F = ctx, state, F
        self.qs = __spark_entry__.queries()

    def _load(self):
        return (
            self.ctx.spark.read.format("lakehouse")
            .option("path", self.state["table"])
            .load()
        )

    def lookup(self, k: int):
        tr = self.ctx.tracer
        with tr.span("connector.lookup") as rec:
            t0 = time.perf_counter()
            df = self._load().filter(self.F.col("o_orderkey") == k)
            t1 = time.perf_counter()
            rows = df.collect()
            if rec is not None:
                rec["build_s"] = t1 - t0
                rec["exec_s"] = time.perf_counter() - t1
            tr.note_query(df)
        return rows

    def scan(self, lo: str):
        F = self.F
        d0 = _day(lo)
        d1 = d0 + dt.timedelta(days=SCAN_DAYS)
        with self.ctx.tracer.span("connector.scan"):
            df = (
                self._load()
                .filter((F.col("o_orderdate") >= F.lit(d0)) & (F.col("o_orderdate") < F.lit(d1)))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
                )
            )
            rows = df.collect()
            self.ctx.tracer.note_query(df)
        return rows

    def query(self, key: str):
        with self.ctx.tracer.span("llm.ops" if key in LLM_KEYS else "plans.query"):
            df = self.qs[key](self.ctx.spark, self.state["sf_dir"])
            rows = df.collect()
            self.ctx.tracer.note_query(df)
        return rows, df.columns


def _register(spark) -> None:
    from biglake_iceberg_pipeline_spark.streaming.source import LakehouseStreamSource

    spark.dataSource.register(LakehouseStreamSource)


def warmup(ctx: Ctx, state: dict) -> None:
    """One point lookup: starts the connector's Python workers."""
    _register(ctx.spark)
    _Runner(ctx, state).lookup(1)


def run(ctx: Ctx, state: dict, ops: Ops) -> dict:
    _register(ctx.spark)
    runner = _Runner(ctx, state)
    orders = datagen.tpch_tables(ctx.seed, SIZES[ctx.scale], ("orders",))["orders"]
    cols = orders.column_names
    pop = orders.to_pydict()
    n_ord = len(pop["o_orderkey"])

    def expect_lookup(k):
        if k >= n_ord or _deleted(k) or _absent(k):
            return []
        return [tuple(pop[c][k] for c in cols)]

    ops.begin()
    pending = []  # (row, kind, arg, result) checked against DuckDB later
    rounds = 0
    for plan in state["plan"]:
        if rounds and ops.elapsed() >= ctx.seconds:
            break
        rounds += 1
        for kind, arg in plan:
            if kind == "lookup":
                want = expect_lookup(arg)
                ops.run(
                    "lookup", lambda: runner.lookup(arg),
                    check=lambda rows, want=want: [tuple(r) for r in rows] == want,
                    arg=arg,
                )
            elif kind == "scan":
                res, row = ops.run("scan", lambda: runner.scan(arg), arg=arg)
                pending.append((row, kind, arg, res))
            else:
                kind = "llm_key" if arg in LLM_KEYS else "query"
                res, row = ops.run(kind, lambda: runner.query(arg), arg=arg)
                pending.append((row, kind, arg, res))
    ops.finish()
    return {"pending": pending, "rounds": rounds}


def _duckdb(ctx: Ctx, sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {ctx.cpus}")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _oracle_rows(con, key: str) -> tuple[list[tuple], list[str]]:
    import __spark_entry__

    dres = con.execute(__spark_entry__.oracle_sql()[key])
    return dres.fetchall(), [d[0] for d in dres.description]


def verify(ctx: Ctx, state: dict, out: dict, ops: Ops) -> None:
    """Scans against DuckDB over orders.parquet minus the deleted and
    never-written keys; each registry key's rows against its
    oracle_sql() hash."""
    from tools.check_oracle import value_hash

    con = _duckdb(ctx, state["sf_dir"])
    oracle_hash: dict[str, tuple] = {}
    for row, kind, arg, res in out["pending"]:
        if res is None:
            continue  # the op raised; already failed
        if kind == "scan":
            d0 = _day(arg)
            d1 = d0 + dt.timedelta(days=SCAN_DAYS)
            want = con.execute(
                "SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(18,2))) "
                "FROM orders WHERE o_orderdate >= ? AND o_orderdate < ? "
                "AND o_orderkey % 89 <> 0 AND o_orderkey % 97 <> 0 "
                "AND o_orderkey % 83 <> 1",
                [d0, d1],
            ).fetchall()
            got = [(r[0], r[1]) for r in res]
            want = [(int(w[0]), decimal.Decimal(w[1]) if w[1] is not None else None) for w in want]
            ok = got == want
        else:
            rows, cols = res
            if arg not in oracle_hash:
                drows, dcols = _oracle_rows(con, arg)
                oracle_hash[arg] = (len(drows), value_hash(drows, dcols))
                if ctx.wrong_expectation and len(oracle_hash) == 1:
                    oracle_hash[arg] = (len(drows), value_hash(drows[1:], dcols))
            ok = (len(rows), value_hash([tuple(r) for r in rows], cols)) == oracle_hash[arg]
        if not ok:
            row["ok"] = False
            row["error"] = f"{kind} {arg}: result differs from the DuckDB oracle"
    con.close()


def _cells(rows: list[tuple], cols: list[str]) -> set[str]:
    """Rows as value_hash renders them, before hashing."""
    from tools.check_oracle import norm_cell

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {"|".join(norm_cell(r[i]) for i in order) for r in rows}


def known_defects(ctx: Ctx, state: dict) -> dict:
    """Probes of program defects whose operations the timed mix leaves
    out because they fail (NOTES.md, "Known defects"); run once after
    the timed phase, reported in the diagnostics, never timed.

    ``lookup_beyond_last_key``: pushed-filter pruning leaves no data
    file to read. DEFECTIVE_KEYS: the key's rows against its oracle;
    on a mismatch, the rows present on one side only."""
    from tools.check_oracle import value_hash

    runner = _Runner(ctx, state)
    con = _duckdb(ctx, state["sf_dir"])

    def beyond_last_key() -> str:
        rows = runner.lookup(max(int(1_500_000 * SIZES[ctx.scale]), 100) + 1)
        return "ok" if not rows else f"wrong: {len(rows)} rows"

    def parity(key: str) -> str:
        rows, cols = runner.query(key)
        rows = [tuple(r) for r in rows]
        drows, dcols = _oracle_rows(con, key)
        if (len(rows), value_hash(rows, cols)) == (len(drows), value_hash(drows, dcols)):
            return "ok"
        got, want = _cells(rows, cols), _cells(drows, dcols)
        return f"differs: program {sorted(got - want)[:3]}, oracle {sorted(want - got)[:3]}"

    probes = {"lookup_beyond_last_key": beyond_last_key}
    probes.update({key: (lambda key=key: parity(key)) for key in DEFECTIVE_KEYS})
    out = {}
    for name, probe in probes.items():
        try:
            out[name] = probe()
        except Exception as exc:
            out[name] = f"raises: {error_text(exc)[-200:]}"
    con.close()
    return out


def metrics(ctx: Ctx, state: dict, out: dict, ops: Ops) -> dict:
    lk = ops.latencies("lookup")
    lk_tail, lk_pct, lk_n = tail(lk)
    every = ops.latencies()
    return {
        "op_latency_s": geomean(ops.latencies("query")),
        "ops_per_s": len(every) / ops.wall_s,
        "stored_bytes_per_input_byte": tree_bytes(state["table"]) / input_bytes(state),
        "named": {
            "lookup_p50_s": median(lk),
            "lookup_tail_s": lk_tail,
            "scan_p50_s": median(ops.latencies("scan")),
            "query_p50_s": median(ops.latencies("query")),
            "ops_per_s": len(every) / ops.wall_s,
        },
        "detail": {
            "rounds": out["rounds"],
            "lookup_tail_pct": lk_pct,
            "lookup_tail_n": lk_n,
            "per_query_s": {
                r["arg"]: r["latency_s"]
                for r in ops.rows
                if r["kind"] in ("query", "llm_key")
            },
        },
    }


def lake_roots(state: dict, out: dict) -> list[str]:
    return [state["table"]]


def input_bytes(state: dict) -> int:
    return os.path.getsize(os.path.join(state["sf_dir"], "orders.parquet"))
