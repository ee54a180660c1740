"""Per-layer metrics of a traced run, from its spans.

Times are self times (a span's duration minus what its child spans cover),
summed per pass and averaged over the passes. Spark counters are read
per span from its own job group, so summing them over spans counts each job
once. Layers a workload never enters read 0.
"""

from __future__ import annotations

import statistics

from perfbench.tracing import SPARK_COUNTERS, self_times
from perfbench.workloads import FAMILIES, MODEL_FAMILIES

QUALITY = {
    **{f"c_index.{f}": "higher" for f in (*MODEL_FAMILIES, "selected")},
    **{f"ibs.{f}": "lower" for f in (*MODEL_FAMILIES, "selected")},
    "hyperband_objective": "higher",
}

#: name -> (unit, better). The order is the order of BENCHMARK.json.
PER_LAYER = {
    "plans.construct_s": ("s", "lower"),
    "plans.execute_s": ("s", "lower"),
    "plans.construct_jobs": ("count", "lower"),
    **{f"registry.{f}.{k}": ("s", "lower") for f in FAMILIES for k in ("construct_s", "execute_s")},
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.codegen_compiles": ("count", "lower"),
    "spark.codegen_compile_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "models.dataset_s": ("s", "lower"),
    "models.to_numpy_s": ("s", "lower"),
    **{f"models.train_s.{f}": ("s", "lower") for f in MODEL_FAMILIES},
    "models.averaged_rounds": ("count", "lower"),
    "models.train_jobs": ("count", "lower"),
    "models.predict_s": ("s", "lower"),
    "metrics.concordance_td_s": ("s", "lower"),
    "metrics.integrated_brier_s": ("s", "lower"),
    "metrics.concordance_calls.pairwise": ("count", "lower"),
    "metrics.concordance_calls.exact": ("count", "lower"),
    "optimizer.trials": ("count", "lower"),
    "optimizer.rung_s": ("s", "lower"),
    "optimizer.rung_straggler_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "sources.load_s": ("s", "lower"),
    "frame.split_s": ("s", "lower"),
    "featurize.fit_s": ("s", "lower"),
    "featurize.transform_s": ("s", "lower"),
    "ops.p50_s": ("s", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "trace.run_s": ("s", "lower"),
    **{k: ("1", better) for k, better in QUALITY.items()},
}

#: span name -> per-layer metric that takes its self time
SELF_TIME = {
    "plans.construct": "plans.construct_s",
    "plans.execute": "plans.execute_s",
    "sources.load_table": "sources.load_s",
    "sources.from_pandas": "sources.load_s",
    "frame.split": "frame.split_s",
    "featurize.fit": "featurize.fit_s",
    "featurize.transform": "featurize.transform_s",
    "models.dataset": "models.dataset_s",
    "models.to_numpy": "models.to_numpy_s",
    "models.score": "models.predict_s",  # predictions materialize in score
    "models.predict": "models.predict_s",
    "metrics.concordance_td": "metrics.concordance_td_s",
    "metrics.concordance_td_exact": "metrics.concordance_td_s",
    "metrics.integrated_brier_score": "metrics.integrated_brier_s",
}


def _pass_table(spans, res, codegen) -> dict:
    out = dict.fromkeys(PER_LAYER, 0.0)
    self_times(spans)
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree_jobs(s) -> int:
        return s.spark.get("jobs", 0) + sum(subtree_jobs(c) for c in kids.get(s.id, []))

    for s in spans:
        for k in SPARK_COUNTERS:
            out[f"spark.{k}"] += s.spark.get(k, 0)
        if s.name in SELF_TIME:
            out[SELF_TIME[s.name]] += s.self_s
        if s.name in ("plans.construct", "plans.execute"):
            kind = s.name.split(".")[1]
            family_key = f"registry.{s.attrs['family']}.{kind}_s"
            if family_key in out:  # a row missing from families.json fails its check
                out[family_key] += s.self_s
            if kind == "construct":
                out["plans.construct_jobs"] += subtree_jobs(s)
        elif s.name == "models.train":
            out[f"models.train_s.{s.attrs['family']}"] += s.self_s
            out["models.train_jobs"] += subtree_jobs(s)
            if s.attrs["mode"] == "averaged":
                out["models.averaged_rounds"] += s.attrs["epochs"]
        elif s.name == "metrics.concordance_td":
            exact = any(c.name == "metrics.concordance_td_exact" for c in kids.get(s.id, []))
            out[f"metrics.concordance_calls.{'exact' if exact else 'pairwise'}"] += 1
    out["spark.codegen_compiles"], out["spark.codegen_compile_s"] = codegen

    # A Hyperband trial is a train then a score on one pool thread, under
    # select_model. Trials of a rung all start before any trial of the next
    # rung, which waits on the barrier for the slowest of them.
    selects = {s.id for s in spans if s.name == "optimizer.select_model"}
    started: dict[int, float] = {}
    trials = []
    for s in sorted(spans, key=lambda s: s.start):
        if s.parent not in selects:
            continue
        if s.name == "models.train":
            started[s.thread] = s.start
        elif s.name == "models.score" and s.thread in started:
            trials.append((started.pop(s.thread), s.end))
    rungs, cur = [], []
    for begin, end in sorted(trials):
        if cur and begin >= max(e for _, e in cur):
            rungs.append(cur)
            cur = []
        cur.append((begin, end))
    if cur:
        rungs.append(cur)
    out["optimizer.trials"] = len(trials)
    for rung in rungs:
        wall = max(e for _, e in rung) - min(b for b, _ in rung)
        out["optimizer.rung_s"] += wall
        out["optimizer.rung_straggler_s"] += wall - statistics.median(e - b for b, e in rung)
    ops = res.ops_s + [e - b for b, e in trials]
    out["ops.p50_s"] = statistics.median(ops) if ops else 0.0
    for k, v in res.quality.items():
        out[k] = v
    return out


def layer_metrics(passes, setup_spans, peak_rss_mb: float) -> dict:
    """{metric: value} for every name in PER_LAYER.

    ``trace.run_s`` is the traced pass wall; minus the ``run_s`` of an
    untraced run of the same seed it is the tracing overhead."""
    tables = [_pass_table(spans, res, cg) for res, spans, cg in passes]
    out = {k: statistics.fmean(t[k] for t in tables) for k in PER_LAYER}
    starts = [s.end - s.start for s in setup_spans if s.name == "session.get_spark"]
    out["session.start_s"] = statistics.median(starts) if starts else 0.0
    out["process.peak_rss_mb"] = peak_rss_mb
    out["trace.run_s"] = statistics.median(res.wall_s for res, *_ in passes)
    return out
