"""The benchmark's workloads: how each one runs, checks and traces the
package.  Everything here calls the package through its public entry
points; the traced pass only wraps those calls (see ``spans.py``).

A workload object is built in a session process after ``get_spark``:

- ``warm_up()``: the input warm-up that ends set-up (first CSV split or
  parquet footer);
- ``load_reference()``: after set-up, load what the checks compare
  against and the input row count ``rows``;
- ``execute()``: one timed execution, returning its output;
- ``check(output)``: problems with the output (empty when correct), run
  outside the timed region;
- ``digest(output)``: a content hash, equal across executions;
- ``traced(tracer)``: one traced execution plus the layer probes,
  returning (output, extra per-layer counts).
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
from contextlib import ExitStack, contextmanager

import numpy as np
import pandas as pd

import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MINHASH = {"num_perm": 64, "bands": 16, "shingle_n": 3, "jaccard_threshold": 0.2}
TRIM = 20  # branch C's positional trim on each end (run_submission default)


@contextmanager
def patched(owner, name: str, make):
    """Replace ``owner.name`` by ``make(original)`` for the block."""
    orig = getattr(owner, name)
    setattr(owner, name, make(orig))
    try:
        yield
    finally:
        setattr(owner, name, orig)


def recorder(store: list):
    """Wrapper factory that appends every return value to ``store``."""

    def make(orig):
        def f(*a, **k):
            out = orig(*a, **k)
            store.append(out)
            return out

        return f

    return make


def spanned(tracer, name: str, inputs_: tuple[str, ...] = ()):
    """Wrapper factory that runs the call inside span ``name``."""

    def make(orig):
        def f(*a, **k):
            with tracer.span(name, inputs_):
                return orig(*a, **k)

        return f

    return make


def _sha(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p)
    return h.hexdigest()


def frame_digest(pdf: pd.DataFrame) -> str:
    return _sha([pdf.to_csv(index=False, float_format="%.17g").encode()])


class ScoringTrace:
    """Traced pass shared by the two scoring workloads: one execution of
    the entry point with its layer calls recorded, then one noop probe
    per layer output, then the counts."""

    def traced(self, tracer):
        import vtb_datafusion_2023_spark.plans.submission as sub
        import vtb_datafusion_2023_spark.sources.writers as writers

        t = {k: [] for k in ("read", "branch_a", "cleaning", "features", "scored", "pinned")}
        build_inputs = ("sources.read", "branch_a", "cleaning", "features", "assembly")
        with ExitStack() as stack:
            stack.enter_context(patched(*self.read_entry(), recorder(t["read"])))
            for name in ("_rnn_branch", "_rnn_branch_md5"):
                stack.enter_context(patched(sub, name, recorder(t["branch_a"])))
            stack.enter_context(patched(sub, "clean_transactions", recorder(t["cleaning"])))
            stack.enter_context(patched(sub, "branch_c_features", recorder(t["features"])))
            stack.enter_context(patched(sub, "score_with_model", recorder(t["scored"])))
            # run_submission pins the assembled, scored rows with its one
            # localCheckpoint: the receiver is the assembly layer's output
            frame_class = type(self.spark.range(0))
            stack.enter_context(
                patched(frame_class, "localCheckpoint", lambda orig: _record_self(orig, t["pinned"]))
            )
            stack.enter_context(patched(writers, "write_csv", spanned(tracer, "sources.write")))
            stack.enter_context(
                patched(
                    self.submission_owner(),
                    "run_submission",
                    spanned(tracer, "submission.build", build_inputs),
                )
            )
            with tracer.span("execution"):
                out = self.execute()

        # the recorded outputs were built during the execution, so each
        # probe only runs one
        preds, pinned = t["pinned"][-1]
        tracer.probe(
            [
                ("sources.read", lambda: t["read"][-1], ()),
                ("branch_a", lambda: t["branch_a"][-1], ("sources.read",)),
                ("cleaning", lambda: t["cleaning"][-1], ("sources.read",)),
                ("features", lambda: t["features"][-1][0], ("sources.read", "cleaning")),
                ("assembly", lambda: preds, ("sources.read", "branch_a", "cleaning", "features")),
            ]
        )
        # the last scorer call is the final scoring stage, whose output is
        # exactly the pinned rows; the others are branch A's repetitions
        rows_scored = 0
        if t["scored"]:
            with tracer.counting():
                rows_scored = sum(df.count() for df in t["scored"][:-1]) + pinned.count()
        return out, {"inference.rows_scored": rows_scored}


def _record_self(orig, store: list):
    def f(self, *a, **k):
        out = orig(self, *a, **k)
        store.append((self, out))
        return out

    return f


class ScoreCli(ScoringTrace):
    """The production CLI ``vtb_datafusion_2023_spark.run.main`` on a
    seeded reference-schema CSV."""

    def __init__(self, spark, fixture: str, scratch: str):
        self.spark = spark
        self.src = os.path.join(fixture, "transactions.csv")
        self.out_dir = os.path.join(scratch, "submission")
        self.argv = [
            self.src,
            self.out_dir,
            "--cats",
            ",".join(str(c) for c in inputs.CLI_CATS),
            "--cpus",
            os.environ["SPARK_GRAFT_CPUS"],
        ]

    def load_reference(self) -> None:
        tx = pd.read_csv(self.src, usecols=["user_id"])
        self.rows = len(tx)
        self.per_user = tx.groupby("user_id").size()

    def warm_up(self) -> None:
        from vtb_datafusion_2023_spark.sources.readers import read_transactions_csv

        read_transactions_csv(self.spark, self.src, stamp_ord=True).limit(1).collect()

    def execute(self):
        from vtb_datafusion_2023_spark import run

        run.main(self.argv)
        return self.out_dir

    def read_entry(self):
        import vtb_datafusion_2023_spark.sources.readers as readers

        return readers, "read_transactions_csv"

    def submission_owner(self):
        import vtb_datafusion_2023_spark.plans as plans

        return plans

    @staticmethod
    def _parts(out_dir: str) -> list[str]:
        return sorted(glob.glob(os.path.join(out_dir, "part-*")))

    def digest(self, out_dir: str) -> str:
        parts = self._parts(out_dir)
        return _sha(open(p, "rb").read() for p in parts)

    def check(self, out_dir: str) -> list[str]:
        parts = self._parts(out_dir)
        if not parts:
            return ["no output part files"]
        sub = pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)
        return check_scores(sub, self.per_user)


def check_scores(sub: pd.DataFrame, per_user: pd.Series) -> list[str]:
    """One row per distinct input user, ids sorted and unique, finite
    targets, and every user the trim removes entirely at the global max."""
    bad = []
    if list(sub.columns) != ["user_id", "target"]:
        return [f"columns {list(sub.columns)}"]
    ids = sub["user_id"].to_numpy()
    if len(sub) != len(per_user) or set(ids.tolist()) != set(per_user.index.tolist()):
        bad.append(f"{len(sub)} rows for {len(per_user)} input users")
    if len(ids) > 1 and not (np.diff(ids) > 0).all():
        bad.append("user ids not sorted and unique")
    tgt = pd.to_numeric(sub["target"], errors="coerce").to_numpy(dtype=float)
    if not np.isfinite(tgt).all():
        bad.append("null or non-finite targets")
    elif len(tgt):
        trimmed = set(per_user[per_user <= 2 * TRIM].index.tolist())
        at_max = sub.loc[sub["target"] == tgt.max(), "user_id"]
        missing = trimmed - set(at_max.tolist())
        if missing:
            bad.append(f"{len(missing)} trimmed-away users not at the global max")
    return bad


class SubmissionSf01(ScoringTrace):
    """The certified flagship ``pipeline_submission`` (md5 sampler,
    in-plan scorer) on a seeded events table, checked against DuckDB."""

    def __init__(self, spark, fixture: str, scratch: str):
        self.spark = spark
        self.fixture = fixture
        self.path = os.path.join(fixture, "events.parquet")

    def load_reference(self) -> None:
        """Row count and the DuckDB oracle's answer for this input."""
        from vtb_datafusion_2023_spark.suite import oracle_sql

        self.rows = len(pd.read_parquet(self.path, columns=["user_id"]))
        self.oracle_check = inputs.load_tool(ROOT, "oracle_check")
        con = self.oracle_check.duck_connect(self.fixture)
        try:
            self.oracle = con.execute(oracle_sql()["pipeline_submission"]).df()
        finally:
            con.close()

    def warm_up(self) -> None:
        from vtb_datafusion_2023_spark.sources.readers import load_table

        load_table(self.spark, self.fixture, "events").limit(1).collect()

    def execute(self):
        from vtb_datafusion_2023_spark.suite.submission_e2e import pipeline_submission

        return pipeline_submission(self.spark, self.fixture).toPandas()

    def read_entry(self):
        import vtb_datafusion_2023_spark.suite._util as util

        return util, "load_table"

    def submission_owner(self):
        import vtb_datafusion_2023_spark.suite.submission_e2e as e2e

        return e2e

    def digest(self, pdf: pd.DataFrame) -> str:
        return frame_digest(pdf)

    def check(self, pdf: pd.DataFrame) -> list[str]:
        rep = self.oracle_check.compare(pdf, self.oracle)
        return [] if rep["ok"] else [f"differs from the DuckDB oracle: {rep}"]


class DedupMinhash:
    """``operators.dedup.minhash_lsh_pairs`` over a seeded Zipf corpus
    with planted near-duplicates."""

    def __init__(self, spark, fixture: str, scratch: str):
        self.spark = spark
        self.fixture = fixture
        self.path = os.path.join(fixture, "documents.parquet")

    def load_reference(self) -> None:
        docs = pd.read_parquet(self.path, columns=["doc_id", "text"])
        self.rows = len(docs)
        self.texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        with open(os.path.join(self.fixture, "planted.json")) as f:
            self.planted = inputs.planted_pairs(docs, json.load(f)["offset"])

    def warm_up(self) -> None:
        self.spark.read.parquet(self.path).limit(1).collect()

    def execute(self):
        from vtb_datafusion_2023_spark.operators.dedup import minhash_lsh_pairs

        docs = self.spark.read.parquet(self.path)
        return minhash_lsh_pairs(docs, "doc_id", "text", **MINHASH).toPandas()

    def digest(self, pdf: pd.DataFrame) -> str:
        return frame_digest(pdf.sort_values(["id_a", "id_b"]).reset_index(drop=True))

    def check(self, pdf: pd.DataFrame) -> list[str]:
        return check_pairs(pdf, self.planted, self.texts)

    def traced(self, tracer):
        import vtb_datafusion_2023_spark.operators.dedup as dedup

        with tracer.span("execution", ("sources.read", "dedup.band", "dedup.verify")):
            out = self.execute()
        # the probes build their own frames: the executed frame's lazy
        # checkpoints are already filled
        docs = self.spark.read.parquet(self.path)
        band = dedup.minhash_band_table(
            docs, "doc_id", "text", MINHASH["num_perm"], MINHASH["bands"], MINHASH["shingle_n"]
        )
        tracer.probe(
            [
                ("sources.read", lambda: docs, ()),
                ("dedup.band", lambda: band, ("sources.read",)),
                (
                    "dedup.verify",
                    lambda: dedup.minhash_lsh_pairs(docs, "doc_id", "text", **MINHASH),
                    ("sources.read", "dedup.band"),
                ),
            ]
        )
        with tracer.counting():
            candidates = dedup._bucket_candidate_pairs(band, 1000).count()
        return out, {
            "dedup.candidates": candidates,
            "dedup.pairs": len(out),
            "dedup.useful_ratio": len(out) / candidates if candidates else 0.0,
        }


def shingles(text: str, n: int) -> set[str]:
    """Distinct word n-grams; a document shorter than n is one shingle
    (the ``word_shingles`` contract)."""
    toks = text.split(" ")
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}


def check_pairs(pdf: pd.DataFrame, planted: set, texts: dict) -> list[str]:
    """Every planted pair found, ``id_a < id_b``, and each pair's Jaccard
    recomputed here at or above the threshold."""
    bad = []
    got = set(zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()))
    missing = planted - got
    if missing:
        bad.append(f"{len(missing)} of {len(planted)} planted pairs missing")
    if not (pdf["id_a"] < pdf["id_b"]).all():
        bad.append("pairs with id_a >= id_b")
    n, thr = MINHASH["shingle_n"], MINHASH["jaccard_threshold"]
    low = 0
    for a, b in got:
        sa, sb = shingles(texts[a], n), shingles(texts[b], n)
        j = len(sa & sb) / len(sa | sb)
        if not (j >= thr and math.isfinite(j)):
            low += 1
    if low:
        bad.append(f"{low} pairs below Jaccard {thr}")
    return bad


WORKLOADS = {
    "score_cli": ScoreCli,
    "submission_sf01": SubmissionSf01,
    "dedup_minhash": DedupMinhash,
}
