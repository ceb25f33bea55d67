"""medallion_ingest: files land in an inbox, ``run_medallion_flow``
makes silver and gold fresh.

Each batch lands two files, one CSV and one JSONL of FILE_ROWS order
rows each, sampled from a seeded orders population. Every file carries
in-file duplicate rows, re-landed keys from earlier batches with
changed values, and whitespace / null-sentinel noise. Every 4th batch
starts with ``bronze.maintain``, whose compaction breaks the
incremental lineage, so that batch's silver refresh falls back to a
full bronze read.

The generator keeps the expected silver (latest-wins per key over the
landed rows) and checks silver and both gold views against it after
the timed phase.
"""

from __future__ import annotations

import decimal
import os

import numpy as np

import datagen
from common import Ctx, Ops, median, tree_bytes

COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]
SENTINELS = ["N/A", "null", "-", "  ", "NONE", "missing"]
BATCHES_PER_ROUND = 4  # the 4th batch of a round starts with bronze.maintain
MAX_ROUNDS = 4  # 16 batches of fresh keys fit in the sf0.1 population
WARMUP_BATCHES = 2
SIZES = {  # scale -> (population sf, rows per landed file)
    "full": (0.1, 5000),
    "tiny": (0.02, 40),
}


def gold_status(df):
    from pyspark.sql import functions as F

    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    )


def gold_priority_month(df):
    from pyspark.sql import functions as F

    return df.groupBy(
        "o_orderpriority", F.substring("o_orderdate", 1, 7).alias("month")
    ).agg(F.count(F.lit(1)).alias("n_orders"))


GOLD_VIEWS = [("status_rollup", gold_status), ("priority_month", gold_priority_month)]


def _expected_gold(silver: dict) -> dict[str, list[tuple]]:
    status: dict = {}
    prio: dict = {}
    for _k, _c, st, price, day, pr in silver.values():
        n, rev = status.get(st, (0, decimal.Decimal("0.00")))
        status[st] = (n + 1, rev + decimal.Decimal(repr(price)).quantize(
            decimal.Decimal("0.01")))
        prio[(pr, day[:7])] = prio.get((pr, day[:7]), 0) + 1
    return {
        "status_rollup": [(s, n, r) for s, (n, r) in status.items()],
        "priority_month": [(p, m, n) for (p, m), n in prio.items()],
    }


def make_batches(seed: int, scale: str) -> dict:
    """Pre-rendered landed files per batch, plus each batch's effect
    on the expected silver (key -> cleaned row), so the expectation
    after any number of completed batches is a fold of the first n."""
    import pandas as pd

    sf, file_rows = SIZES[scale]
    o = datagen.tpch_tables(seed, sf, ("orders",))["orders"]
    pop = {c: o.column(c).to_numpy(zero_copy_only=False) for c in COLS}
    pop["o_orderdate"] = np.datetime_as_string(pop["o_orderdate"], unit="D").astype(object)
    statuses = np.asarray(datagen.STATUSES, dtype=object)
    sentinels = np.asarray(SENTINELS, dtype=object)
    rng = np.random.default_rng([seed, 40])
    fresh = rng.permutation(len(pop["o_orderkey"]))
    cursor = 0
    n_dup = max(file_rows // 20, 1)
    batches, effects = [], []
    landed = np.empty(0, dtype=np.int64)  # keys landed by earlier batches
    for b in range(BATCHES_PER_ROUND * MAX_ROUNDS):
        files, effect = [], {}
        for fmt in ("csv", "jsonl"):
            n_re = min(max(file_rows // 10, 1), len(landed))
            n_new = file_rows - n_dup - n_re
            relanded = rng.choice(
                np.setdiff1d(landed, list(effect)), n_re, replace=False
            )
            keys = np.concatenate([fresh[cursor:cursor + n_new], relanded])
            cursor += n_new
            cols = {c: pop[c][keys].copy() for c in COLS}
            # re-landed keys arrive with changed values
            cols["o_orderstatus"][n_new:] = statuses[rng.integers(0, 3, n_re)]
            cols["o_totalprice"][n_new:] = rng.integers(100_000, 50_000_000, n_re) / 100.0
            u = rng.random(len(keys))
            spaced = u < 0.05  # whitespace around a code: trimmed
            nulled = (u >= 0.05) & (u < 0.08)  # sentinel: loads as NULL
            clean_prio = cols["o_orderpriority"].copy()
            clean_prio[nulled] = None
            effect.update(
                (int(r[0]), (int(r[0]), int(r[1]), r[2], float(r[3]), r[4], r[5]))
                for r in zip(*(cols[c] for c in COLS[:5]), clean_prio)
            )
            cols["o_orderstatus"][spaced] = [f"  {x} " for x in cols["o_orderstatus"][spaced]]
            cols["o_orderpriority"][nulled] = sentinels[
                rng.integers(0, len(sentinels), int(nulled.sum()))
            ]
            # in-file duplicate rows, then a seeded shuffle
            rows = np.concatenate([np.arange(len(keys)), rng.choice(len(keys), n_dup)])
            df = pd.DataFrame(cols).iloc[rng.permutation(rows)]
            if fmt == "csv":
                payload = df.to_csv(index=False).encode()
            else:
                payload = df.to_json(orient="records", lines=True).encode()
            files.append((f"b{b:03d}_orders.{fmt}", payload, len(df)))
        landed = np.concatenate([landed, np.fromiter(effect, dtype=np.int64)])
        batches.append(files)
        effects.append(effect)
    return {"batches": batches, "effects": effects}


def expected_silver(state: dict, n_batches: int) -> dict[int, tuple]:
    silver: dict[int, tuple] = {}
    for effect in state["effects"][:n_batches]:
        silver.update(effect)
    return silver


def prepare(ctx: Ctx, dest: str) -> dict:
    os.makedirs(dest, exist_ok=True)
    state = make_batches(ctx.seed, ctx.scale)
    state["dir"] = dest
    return state


def _land(inbox: str, files) -> tuple[int, int]:
    """Write one batch's files into the inbox: (rows, bytes) landed."""
    rows = nbytes = 0
    for name, payload, nrows in files:
        with open(os.path.join(inbox, name), "wb") as fh:
            fh.write(payload)
        rows += nrows
        nbytes += len(payload)
    return rows, nbytes


def _flow(spark, root: str) -> dict:
    from biglake_iceberg_pipeline_spark.plans import medallion_flow

    return medallion_flow.run_medallion_flow(
        spark,
        os.path.join(root, "inbox"),
        os.path.join(root, "lake"),
        ["o_orderkey"],
        gold_views=GOLD_VIEWS,
        silver_mode="incremental",
        archive_dir=os.path.join(root, "archive"),
    )


def warmup(ctx: Ctx, state: dict) -> None:
    """Untimed: WARMUP_BATCHES tiny batches through the same flow in a
    lake of their own, so the timed batches do not pay the JVM's JIT
    and code-generation warm-up (about 10 s on 4 cores)."""
    root = os.path.join(ctx.work, "warmup")
    os.makedirs(os.path.join(root, "inbox"))
    for files in make_batches(ctx.seed, "tiny")["batches"][:WARMUP_BATCHES]:
        _land(os.path.join(root, "inbox"), files)
        _flow(ctx.spark, root)


def run(ctx: Ctx, state: dict, ops: Ops) -> dict:
    """Closed loop over the pre-rendered batches, whole rounds until
    ``ctx.seconds`` have passed. The last batch of each round starts
    with ``bronze.maintain``, so that batch's silver refresh is the one
    that pays the fallback to a full bronze read."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable

    spark = ctx.spark
    root = state["dir"]
    inbox = os.path.join(root, "inbox")
    bronze = LakehouseTable(os.path.join(root, "lake", "bronze"))
    os.makedirs(inbox, exist_ok=True)
    ops.begin()
    done = 0
    landed_rows = landed_bytes = 0
    for b, files in enumerate(state["batches"]):
        if b % BATCHES_PER_ROUND == 0 and b and ops.elapsed() >= ctx.seconds:
            break
        if b % BATCHES_PER_ROUND == BATCHES_PER_ROUND - 1:
            ops.run("maintain", lambda: bronze.maintain(spark, max_files=4))
        rows, nbytes = _land(inbox, files)
        landed_rows += rows
        landed_bytes += nbytes
        ops.run(
            "batch",
            lambda: _flow(spark, root),
            check=lambda m: m["files_processed"] == len(files)
            and not os.listdir(inbox),
            batch=b,
        )
        done += 1
    ops.finish()
    return {
        "batches": done,
        "landed_rows": landed_rows,
        "landed_bytes": landed_bytes,
        "lake": os.path.join(root, "lake"),
        "stored_bytes": tree_bytes(os.path.join(root, "lake")),
    }


def _norm(v):
    return "NULL" if v is None else repr(v) if isinstance(v, float) else str(v)


def _hash(rows) -> tuple[int, str]:
    import hashlib

    lines = sorted("|".join(_norm(v) for v in r) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def verify(ctx: Ctx, state: dict, out: dict, ops: Ops) -> None:
    """Silver and each gold view against the generator's expectation
    after the batches that ran; each comparison is one checked op."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable

    spark = ctx.spark
    if out["batches"] == 0:
        return
    exp_silver = expected_silver(state, out["batches"])
    if ctx.wrong_expectation:
        k, r = next(iter(exp_silver.items()))
        exp_silver[k] = r[:3] + (r[3] + 0.01,) + r[4:]
    lake = out["lake"]

    def silver_rows():
        df = LakehouseTable(os.path.join(lake, "silver")).read(spark)
        return [
            (int(r[0]), int(r[1]), r[2], float(r[3]), str(r[4])[:10], r[5])
            for r in df.select(*COLS).collect()
        ]

    want = _hash(exp_silver.values())
    ops.run("check_silver", silver_rows, check=lambda rows: _hash(rows) == want)
    gold_want = _expected_gold(exp_silver)
    for gname, _fn in GOLD_VIEWS:
        def gold_rows(gname=gname):
            df = LakehouseTable(os.path.join(lake, "gold", gname)).read(spark)
            return [tuple(r) for r in df.collect()]

        gw = _hash(gold_want[gname])
        ops.run(f"check_gold_{gname}", gold_rows, check=lambda rows, gw=gw: _hash(rows) == gw)


def metrics(ctx: Ctx, state: dict, out: dict, ops: Ops) -> dict:
    fresh = ops.latencies("batch")
    timed = ops.latencies("batch", "maintain")
    return {
        "op_latency_s": median(fresh),
        "ops_per_s": len(timed) / ops.wall_s,
        "stored_bytes_per_input_byte": out["stored_bytes"] / out["landed_bytes"],
        "named": {
            "freshness_p50_s": median(fresh),
            "ingest_rows_per_s": out["landed_rows"] / ops.wall_s,
        },
        "detail": {
            "batches": out["batches"],
            "landed_rows": out["landed_rows"],
            "landed_bytes": out["landed_bytes"],
            "maintain_s": ops.latencies("maintain"),
            "freshness_s": fresh,
        },
    }


def lake_roots(state: dict, out: dict) -> list[str]:
    return [os.path.join(out["lake"], t) for t in ("bronze", "silver")]
