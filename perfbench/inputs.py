"""Seeded input generators with a versioned fixture cache.

Every workload input is a pure function of (generator version, workload,
seed, size).  A generated fixture lives in a directory named by that key,
written under a temporary name and renamed into place, so a reader never
sees a half-written fixture and a fixture made for another seed or size
is never reused.  ``tools/gen_zipf.ensure`` is deliberately not used: it
keys on the path alone.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pandas as pd

# Bump when any generator's output changes for the same (seed, size).
GEN_VERSION = 1

# A fixed stand-in for the reference's 156-code MCC vocabulary: the codes
# themselves are not published with the reference, only their count.  The
# list is part of the workload definition, so it does not vary with the
# seed.  6012 (the reference's blacklisted code) and -1 (its unknown code)
# are added on top.
MCC_VOCAB = sorted(
    int(c)
    for c in np.random.default_rng(156).choice(
        np.setdiff1d(np.arange(1000, 10000), [6012]), size=156, replace=False
    )
)
CLI_CATS = MCC_VOCAB + [6012, -1]

# Sizes by name: "full" is the size each workload was first specified
# at, the "s.." sizes are what the benchmark runs (see README.md), and
# "tiny" is for the smoke test.
# score_cli: rows and users; ~14% of users have <= 40 rows.
CLI_SIZES = {"full": (500_000, 2_500), "s50": (50_000, 250), "tiny": (6_000, 60)}
# submission_sf01: users (45-99 events each, ~100k rows at full).
SF_SIZES = {"full": 1_500, "tiny": 40}
# dedup_minhash: base documents (+10% planted near-duplicates).
DEDUP_SIZES = {"full": 20_000, "s10": 10_000, "tiny": 400}

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def fixture_dir(cache_root: str, workload: str, seed: int, size: str, build) -> str:
    """Return the cached fixture directory for the key, building it with
    ``build(tmp_dir)`` first if it is absent."""
    key = f"v{GEN_VERSION}-{workload}-{size}-{seed}"
    final = os.path.join(cache_root, key)
    if os.path.isdir(final):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = os.path.join(cache_root, f".{key}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "KEY.json"), "w") as f:
        json.dump({"version": GEN_VERSION, "workload": workload, "seed": seed, "size": size}, f)
    try:
        os.rename(tmp, final)
    except OSError:  # another process renamed the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def cli_transactions(seed: int, size: str) -> pd.DataFrame:
    """Card-transaction log in the reference CSV schema.

    Lognormal activity per user (sigma 1, so ~14% of users fall at or
    under the 40 rows the positional trim removes), Zipf-distributed MCC
    codes plus a little 6012 and -1, heavy-tailed signed amounts."""
    n_rows, n_users = CLI_SIZES[size]
    rng = np.random.default_rng(seed)
    act = rng.lognormal(0.0, 1.0, size=n_users)
    counts = np.maximum(1, np.rint(act / act.sum() * n_rows)).astype(np.int64)
    user_ids = rng.permutation(np.arange(100_000, 100_000 + 40 * n_users, 40))[:n_users]
    uid = np.repeat(user_ids, counts)
    n = len(uid)
    ranks = np.arange(1, len(MCC_VOCAB) + 1, dtype=np.float64)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    code_by_rank = np.random.default_rng(157).permutation(MCC_VOCAB)
    mcc = code_by_rank[rng.choice(len(MCC_VOCAB), size=n, p=p)]
    special = rng.random(n)
    mcc = np.where(special < 0.02, 6012, np.where(special < 0.03, -1, mcc))
    sign = np.where(rng.random(n) < 0.8, -1.0, 1.0)
    amt = np.round(sign * rng.lognormal(6.5, 1.5, size=n), 2)
    currency = rng.choice([48, 50, 60], size=n, p=[0.9, 0.07, 0.03])
    start = np.datetime64("2023-01-01T00:00:00", "s")
    secs = rng.integers(0, 180 * 86400, size=n)
    df = pd.DataFrame(
        {
            "user_id": uid,
            "mcc_code": mcc,
            "currency_rk": currency,
            "transaction_amt": amt,
            "transaction_dttm": start + secs.astype("timedelta64[s]"),
        }
    )
    return df.sort_values("transaction_dttm", kind="stable").reset_index(drop=True)


def build_cli(seed: int, size: str):
    def build(dst: str) -> None:
        cli_transactions(seed, size).to_csv(
            os.path.join(dst, "transactions.csv"),
            index=False,
            date_format="%Y-%m-%d %H:%M:%S",
        )

    return build


def sf_events(seed: int, size: str) -> pd.DataFrame:
    """Events table shaped like the sf0.1 ``events.parquet`` of TESTDATA.md:
    45-99 events per user, 5 uniform event types, ~30 days of naive
    microsecond timestamps, ``event_id`` dense in time order."""
    n_users = SF_SIZES[size]
    rng = np.random.default_rng(seed)
    counts = np.clip(np.rint(rng.normal(66.7, 8.2, size=n_users)), 45, 99).astype(np.int64)
    uid = np.repeat(np.arange(n_users, dtype=np.int64), counts)
    n = len(uid)
    micros = rng.integers(0, 30 * 86400 * 10**6, size=n)
    order = np.argsort(micros, kind="stable")
    uid, micros = uid[order], micros[order]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + micros.astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": uid,
            "event_type": np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=n)],
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def build_sf(seed: int, size: str):
    def build(dst: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.Table.from_pandas(sf_events(seed, size), preserve_index=False)
        pq.write_table(tbl, os.path.join(dst, "events.parquet"))

    return build


def load_tool(repo_root: str, name: str):
    """Import ``tools/<name>.py`` (the repository's tools are scripts,
    not a package)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(repo_root, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def build_dedup(seed: int, size: str, repo_root: str):
    def build(dst: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        gz = load_tool(repo_root, "gen_zipf")
        cols, _ = gz.build(docs=DEDUP_SIZES[size], vocab=20000, seed=seed)
        pq.write_table(
            pa.table(cols), os.path.join(dst, "documents.parquet"), row_group_size=256
        )
        with open(os.path.join(dst, "planted.json"), "w") as f:
            json.dump({"offset": gz.PLANTED_OFFSET}, f)

    return build


def planted_pairs(docs: pd.DataFrame, offset: int) -> set[tuple[int, int]]:
    ids = set(docs["doc_id"].tolist())
    return {(i - offset, i) for i in ids if i >= offset and (i - offset) in ids}


def prepare(workload: str, seed: int, size: str, cache_root: str, repo_root: str) -> str:
    builders = {
        "score_cli": lambda: build_cli(seed, size),
        "submission_sf01": lambda: build_sf(seed, size),
        "dedup_minhash": lambda: build_dedup(seed, size, repo_root),
    }
    if workload not in builders:
        sys.exit(f"unknown workload: {workload}")
    return fixture_dir(cache_root, workload, seed, size, builders[workload]())
