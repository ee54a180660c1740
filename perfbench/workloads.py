"""The two benchmark workloads and their output checks.

Each workload has ``setup`` (repeated ``setups`` times to measure set-up
time), ``run_pass`` (one full pass, timed) and ``check`` (after the pass
clock stops). A pass returns its wall time, the latency of each operation a
caller waits on, the count of operations attempted and failed, and the
model-quality numbers.

Only public entry points of ``elastic_surv_spark`` are called.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.001")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

#: Registry rows one pass runs, in registry order: one to three per family.
#: They were picked from a timing of all 150 rows at sf0.001 (README.md):
#: three of the slowest constructions, which later work on construction
#: cost targets (certified GD, a stateful stream drain, a star-join dedup),
#: plus cheap rows so that every family is on the clock, within a cold pass
#: of about 30 s on 4 cores.
REGISTRY_ROWS = (
    "customer_order_running_total",
    "km_user_lifetimes",
    "rmst_user_lifetimes",
    "dedup_exact_documents",
    "doc_quality_scores",
    "certified_quality_eval",
    "user_peak_stateful_stream",
    "dedup_components_star",
    "rich_idle_customers",
    "audio_window_plan",
    "doc_token_chunks",
    "embedding_norm_stats",
)

FAMILIES = ("relational", "survival", "text_dedup", "vector", "quality_model", "streaming")
MODEL_FAMILIES = ("cox_ph", "deephit", "logistic_hazard")

SURVIVAL_ROWS = 3000
LOCAL_EPOCHS = 10
#: The optimizer draws its configs from a fixed seed, so every run trains
#: the same 6 configs and run_s moves with the code, not with the draw; the
#: benchmark seed still drives the frame.
SELECTION_CONFIG_SEED = 42
SELECTION_MAX_ITER = 3
SELECTION_ETA = 3
#: Hyperband schedule at max_iter=3, eta=3: bracket s=1 trains 3 configs at
#: 1 epoch and keeps 1 for 3 epochs; bracket s=0 trains 2 configs at 3.
SELECTION_TRIALS = 6
SELECTION_OUTPUT_EPOCHS = 10
#: Float64 rounding allowed when checking that curves lie in [0, 1] and never
#: rise. DeepHit forms S = 1 - cumsum(pmf), whose last point lands one ulp
#: (2.2e-16) below 0; anything past this slack is a real error.
ROUNDING = 1e-12


@dataclass
class PassResult:
    wall_s: float = 0.0
    ops_s: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    quality: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def load_json(name: str):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def gbsg2_like(n: int, seed: int) -> pd.DataFrame:
    """Seeded GBSG2-shaped frame (columns and ranges of FIXTURES.md F2).

    Durations shrink with pnodes, tsize and grade III, strongly enough that
    every family learns a C-index well above 0.5 on a 10 % test split."""
    rng = np.random.default_rng(seed)
    age = rng.integers(21, 81, n)
    tsize = rng.integers(3, 121, n)
    pnodes = 1 + rng.poisson(4, n)
    progrec = np.floor(rng.lognormal(3, 1.5, n)).astype(int)
    estrec = np.floor(rng.lognormal(3, 1.3, n)).astype(int)
    horth = rng.choice(["no", "yes"], n)
    meno = rng.choice(["Pre", "Post"], n)
    tgrade = rng.choice(["I", "II", "III"], n, p=[0.2, 0.6, 0.2])
    risk = 0.1 * pnodes + 0.02 * tsize + 0.6 * (tgrade == "III")
    time_ = np.ceil(rng.weibull(1.3, n) * 900 * np.exp(-risk)).astype(int) + 8
    cens = rng.binomial(1, 0.55, n)
    return pd.DataFrame({
        "time": time_, "cens": cens, "age": age, "estrec": estrec,
        "horTh": horth, "menostat": meno, "pnodes": pnodes,
        "progrec": progrec, "tgrade": tgrade, "tsize": tsize,
    })


# ---------------------------------------------------------------------- #
def fingerprint(df) -> dict:
    """Order-independent fingerprint: row count, schema, and the sum of one
    64-bit hash per row. Computing it executes the whole plan."""
    from pyspark.sql import functions as F

    cols = [f"c{i}" for i in range(len(df.columns))]
    h = F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(20,0)")
    row = df.toDF(*cols).agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return {"rows": int(row["n"]), "schema": df.schema.simpleString(), "hash": str(row["h"] or 0)}


def check_family_table(names, table: dict) -> list[str]:
    """Every registry row must sit in exactly one known family."""
    problems = [f"row {n!r} has no family" for n in names if n not in table]
    problems += [f"family table names unknown row {n!r}" for n in table if n not in names]
    problems += [
        f"row {n!r} has unknown family {f!r}" for n, f in table.items() if f not in FAMILIES
    ]
    return problems


class RegistryWorkload:
    name = "registry_sf0.001"
    #: Each set-up also scans every table, about 2 s, so three suffice.
    setups = 3

    def __init__(self, seed: int, tracer):
        from elastic_surv_spark.plans.queries import REGISTRY

        self.tracer = tracer
        self.registry = REGISTRY
        self.families = load_json("families.json")
        self.expected = load_json("fingerprints.json")
        self.table_problems = check_family_table(list(REGISTRY), self.families)

    def setup(self, spark) -> None:
        from elastic_surv_spark.sources.parquet import load_table

        for table in TABLES:
            load_table(spark, SF_DIR, table).count()

    def run_pass(self, spark) -> PassResult:
        from elastic_surv_spark.plans.queries import release_shared_caches

        res = PassResult(attempted=1)  # the family-table check
        if self.table_problems:
            res.fail("; ".join(self.table_problems))
        release_shared_caches()
        start = time.perf_counter()
        for row in REGISTRY_ROWS:
            res.attempted += 1
            family = self.families.get(row, "unknown")
            t0 = time.perf_counter()
            try:
                with self.tracer.span("plans.construct", row=row, family=family):
                    df = self.registry[row].fn(spark, SF_DIR)
                with self.tracer.span("plans.execute", row=row, family=family):
                    fp = fingerprint(df)
            except Exception as exc:  # a row that raises is a failed operation
                res.fail(f"{row}: {type(exc).__name__}: {exc}"[:300])
                continue
            res.ops_s.append(time.perf_counter() - t0)
            problem = self._check(row, fp)
            if problem:
                res.fail(problem)
        res.wall_s = time.perf_counter() - start
        return res

    def _check(self, row: str, fp: dict) -> str | None:
        want = self.expected["rows"].get(row)
        if want is None:
            return f"{row}: no recorded fingerprint"
        keys = ("rows", "schema") if row in self.expected["unstable"] else ("rows", "schema", "hash")
        bad = [k for k in keys if fp[k] != want[k]]
        return f"{row}: {', '.join(bad)} differ from the recorded fingerprint" if bad else None

    def check(self, res: PassResult) -> None:
        """Rows are checked as they run."""


# ---------------------------------------------------------------------- #
class SurvivalWorkload:
    """The paper's path, once per pass: ``from_pandas``, ``SurvDataset``
    (one-hot fit, 0.9 prefix split, cache), then CoxPH, DeepHit and
    LogisticHazard each trained in ``local`` mode and scored, then Hyperband
    over all three families in ``averaged`` mode, and the selected model
    trained and scored."""

    name = "survival_pipeline"
    setups = 5

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.pdf = None
        self._ds = None
        self._fitted: list = []  # (label, model, scores) left for check()

    def setup(self, spark) -> None:
        """Draw the frame and load it into the session once, as the registry
        warms its tables."""
        from elastic_surv_spark.frame import SurvFrame

        self.pdf = gbsg2_like(SURVIVAL_ROWS, self.seed)
        SurvFrame.from_pandas(spark, self.pdf, "time", "cens").projected().count()

    def _dataset(self, spark, res: PassResult):
        from elastic_surv_spark.frame import SurvFrame
        from elastic_surv_spark.models.data import SurvDataset

        res.attempted += 2
        frame = SurvFrame.from_pandas(spark, self.pdf, "time", "cens")
        with self.tracer.span("models.dataset"):
            ds = SurvDataset(frame)
            ds.train_df.count()
            ds.test_df.count()
        self._ds = ds
        return ds

    def run_pass(self, spark) -> PassResult:
        from elastic_surv_spark.models.cox_ph import CoxPHModel
        from elastic_surv_spark.models.deephit import DeepHitModel
        from elastic_surv_spark.models.logistic_hazard import LogisticHazardModel
        from elastic_surv_spark.optimizer import HyperbandOptimizer

        res = PassResult()
        start = time.perf_counter()
        ds = self._dataset(spark, res)
        for cls in (CoxPHModel, DeepHitModel, LogisticHazardModel):
            res.attempted += 2
            t0 = time.perf_counter()
            model = cls(in_features=ds.in_features, epochs=LOCAL_EPOCHS, seed=self.seed)
            model.train(ds)
            self._fitted.append((model.name(), model, model.score(ds)))
            res.ops_s.append(time.perf_counter() - t0)
        opt = HyperbandOptimizer(
            max_iter=SELECTION_MAX_ITER, eta=SELECTION_ETA, seed=SELECTION_CONFIG_SEED,
            output_epochs=SELECTION_OUTPUT_EPOCHS, parallelism=4, mode="averaged",
        )
        model = opt.select_model(ds)
        model.train(ds)
        self._fitted.append(("selected", model, model.score(ds)))
        res.wall_s = time.perf_counter() - start
        res.attempted += SELECTION_TRIALS + 2
        res.quality["hyperband_objective"] = float(opt.best_score)
        if not math.isfinite(opt.best_score):
            res.fail(f"best_score {opt.best_score} not finite")
        return res

    def check(self, res: PassResult) -> None:
        """Curves have len(cuts) points in [0, 1] and never rise, up to
        ``ROUNDING``; the C-index is in (0.5, 1]; the IBS is finite. Releases
        the pass's cached splits."""
        from pyspark.sql import functions as F

        ds = self._ds
        for label, model, scores in self._fitted:
            c, ibs = scores["c_index"], scores["brier_score"]
            res.quality[f"c_index.{label}"] = c
            res.quality[f"ibs.{label}"] = ibs
            if not 0.5 < c <= 1.0:
                res.fail(f"{label}: c_index {c} outside (0.5, 1]")
            if not math.isfinite(ibs):
                res.fail(f"{label}: ibs {ibs} not finite")
            k = len(model.cuts)
            pred = model.predict(ds.test_df, id_cols=[ds.time_column], features=ds.features)
            row = pred.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.size("surv") != k).cast("int")).alias("bad_len"),
                F.min(F.array_min("surv")).alias("lo"),
                F.max(F.array_max("surv")).alias("hi"),
                F.max(F.expr(
                    "array_max(transform(sequence(1, size(surv) - 1), i -> surv[i] - surv[i - 1]))"
                )).alias("rise"),
            ).first()
            if not row["n"] or row["bad_len"]:
                res.fail(f"{label}: {row['bad_len']} of {row['n']} curves lack {k} points")
            elif row["lo"] < -ROUNDING or row["hi"] > 1 + ROUNDING or row["rise"] > ROUNDING:
                res.fail(
                    f"{label}: curves span [{row['lo']}, {row['hi']}] and rise by up to {row['rise']}"
                )
        ds.train_df.unpersist()
        ds.test_df.unpersist()
        self._ds, self._fitted = None, []


WORKLOADS = {w.name: w for w in (RegistryWorkload, SurvivalWorkload)}
