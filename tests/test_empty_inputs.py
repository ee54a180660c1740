"""Empty-input robustness: operators must return empty/identity results, not
crash — the behavior a pipeline hits on an empty partition or filtered-out
day of data."""

from __future__ import annotations

import math

import pandas as pd

from elastic_surv_spark.metrics.concordance import harrell_cindex
from elastic_surv_spark.metrics.km import km_curve
from elastic_surv_spark.operators.cluster import connected_components
from elastic_surv_spark.operators.dedup import exact_dedup
from elastic_surv_spark.operators.dedup_fuzzy import shingle_jaccard_pairs
from elastic_surv_spark.operators.scd import scd2_apply
from elastic_surv_spark.operators.sessionize import session_stats


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_empty_survival_metrics(spark, monkeypatch):
    from elastic_surv_spark.metrics import concordance
    from elastic_surv_spark.metrics.td_auc import cumulative_dynamic_auc

    df = _empty(spark, "t double, e int, risk double")
    assert km_curve(df, "t", "e").count() == 0
    assert math.isnan(harrell_cindex(df, "t", "e", "risk"))
    assert cumulative_dynamic_auc(df, "t", "e", "risk").count() == 0

    # the global forms answer one zero-count row with a NULL c_index on
    # empty and event-free input, on both sides of the size gate (a
    # constant-key grouped kernel alone would return zero rows)
    no_events = spark.createDataFrame(
        [(float(i), 0, float(i)) for i in range(5)], "t double, e int, risk double"
    )
    for threshold in (concordance.EXACT_THRESHOLD, 0):
        monkeypatch.setattr(concordance, "EXACT_THRESHOLD", threshold)
        for frame in (df, no_events):
            rows = concordance.harrell_cindex_counts(frame, "t", "e", "risk").collect()
            assert len(rows) == 1, threshold
            assert rows[0]["n_comparable"] == 0 and rows[0]["c_index"] is None

    cuts = [1.0, 2.0]
    curves = _empty(spark, "t double, e int, surv array<double>")
    curves_no_events = spark.createDataFrame(
        [(1.0, 0, [0.9, 0.5]), (3.0, 0, [0.8, 0.4])],
        "t double, e int, surv array<double>",
    )
    for frame in (curves, curves_no_events):
        got = concordance.concordance_td_exact(frame, "t", "e", "surv", cuts)
        assert got == (0, 0, 0, None)


def test_empty_dedup_and_cluster(spark):
    docs = _empty(spark, "doc_id long, text string")
    assert exact_dedup(docs, ["text"], "doc_id").count() == 0
    assert shingle_jaccard_pairs(docs).count() == 0
    edges = _empty(spark, "id_a long, id_b long")
    assert connected_components(edges).count() == 0


def test_empty_sessionize(spark):
    ev = _empty(spark, "user_id long, ts timestamp, event_id long, value double")
    assert session_stats(ev).count() == 0


def test_scd2_empty_updates_is_identity(spark):
    dim = spark.createDataFrame(
        pd.DataFrame({"k": [1], "seg": ["A"], "valid_from": [0.0], "valid_to": [None]}),
        schema="k long, seg string, valid_from double, valid_to double",
    )
    updates = _empty(spark, "k long, seg string, effective_ts double")
    out = scd2_apply(dim, updates, "k", ["seg"]).toPandas()
    assert len(out) == 1 and out["seg"].iloc[0] == "A" and pd.isna(out["valid_to"].iloc[0])


def test_empty_simhash_and_minhash(spark):
    from elastic_surv_spark.operators.dedup_fuzzy import (
        minhash_lsh_pairs,
        simhash64,
        simhash_verified_pairs,
    )

    docs = _empty(spark, "doc_id long, text string")
    assert simhash64(docs).count() == 0
    assert simhash_verified_pairs(docs, max_hamming=7, n_chunks=8).count() == 0
    assert minhash_lsh_pairs(docs).count() == 0


def test_empty_blocked_cosine(spark):
    from elastic_surv_spark.operators.similarity import blocked_cosine_pairs

    e = _empty(spark, "vec_id long, embedding array<double>, label int")
    assert blocked_cosine_pairs(e).count() == 0


def test_empty_grouped_topk_and_heavy_hitters(spark):
    from elastic_surv_spark.operators.heavy_hitters import heavy_hitters
    from elastic_surv_spark.operators.topk import grouped_topk

    e = _empty(spark, "g string, v double, id long")
    assert grouped_topk(e, ["g"], ["v", "id"], 3).count() == 0
    terms = _empty(spark, "term string")
    assert heavy_hitters(terms, "term", 1, 10, capacity=64).count() == 0


def test_empty_bpe_training(spark):
    from elastic_surv_spark.operators.bpe import apply_bpe, train_bpe

    docs = _empty(spark, "text string")
    assert train_bpe(docs, "text", n_merges=3) == []
    assert apply_bpe(docs, "text", []).count() == 0


def test_bpe_apply_with_no_merges_splits_to_chars(spark):
    # zero learned merges (empty/min_freq-starved corpus) must degrade to
    # character tokenization, not crash the apply pass
    from elastic_surv_spark.operators.bpe import apply_bpe

    df = spark.createDataFrame([("ab c",), (None,)], "text string")
    rows = {r["text"]: r["bpe_tokens"] for r in apply_bpe(df, "text", []).collect()}
    assert rows["ab c"] == ["a", "b", "c"]
    assert rows[None] == []


def test_empty_vocab_coverage_shape(spark):
    # doc_vocab_coverage's aggregate plan on an empty corpus: one row,
    # zero vocab, NULL sums/coverage (not a crash, not a 0-row frame)
    import pandas as pd
    from pyspark.sql import functions as F

    vocab = (
        _empty(spark, "text string")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    top = vocab.orderBy(F.desc("cnt")).limit(1000).agg(F.sum("cnt").alias("covered"))
    totals = vocab.agg(F.count("*").alias("vocab_size"), F.sum("cnt").alias("total"))
    row = totals.crossJoin(F.broadcast(top)).first()
    assert row["vocab_size"] == 0
    assert row["total"] is None and row["covered"] is None


def test_empty_r10_operators(spark):
    # incremental near-dup: empty batch -> empty decision table (with or
    # without history); empty history -> pure in-batch dedup
    from elastic_surv_spark.operators.dedup_fuzzy import (
        band_index,
        incremental_near_dedup,
    )

    docs = _empty(spark, "doc_id long, text string")
    hist = spark.createDataFrame([(1, "some history doc here")], "doc_id long, text string")
    assert incremental_near_dedup(docs, hist).count() == 0
    assert incremental_near_dedup(docs, None).count() == 0
    assert band_index(docs).count() == 0
    got = incremental_near_dedup(hist, docs).collect()
    assert len(got) == 1 and got[0].keep is True

    # quality model: empty corpus scores nothing; trainer refuses nothing
    # (zero-row fit returns the zero model deterministically)
    from elastic_surv_spark.operators.quality_model import (
        apply_quality_model,
        pseudo_weights,
    )

    assert apply_quality_model(docs, pseudo_weights(16)).count() == 0

    # grouped metrics: empty frames -> empty outputs, no crash
    from elastic_surv_spark.metrics.brier import ipcw_brier_km_by
    from elastic_surv_spark.metrics.concordance import harrell_cindex_by
    from elastic_surv_spark.metrics.td_auc import (
        cumulative_dynamic_auc_by,
        cumulative_dynamic_auc_ipcw,
    )

    surv = _empty(spark, "g int, t double, e int, risk double")
    assert harrell_cindex_by(surv, "g", "t", "e", "risk").count() == 0
    assert cumulative_dynamic_auc_by(surv, "g", "t", "e", "risk").count() == 0
    assert ipcw_brier_km_by(surv, "g", "t", "e").count() == 0
    assert cumulative_dynamic_auc_ipcw(surv.drop("g"), "t", "e", "risk").count() == 0


def test_degenerate_params_raise_loudly(spark):
    # n_grid=1 would divide the grid step by zero and emit NaN taus
    import pytest as _pytest

    from elastic_surv_spark.metrics.brier import ipcw_brier_km_by
    from elastic_surv_spark.operators.quality_model import fit_quality_classifier

    surv = spark.createDataFrame([(0, 1.0, 1)], "g int, t double, e int")
    with _pytest.raises(ValueError, match="n_grid"):
        ipcw_brier_km_by(surv, "g", "t", "e", n_grid=1)
    # an empty training frame must refuse, not return NaN weights that
    # silently pass every document through the filter
    docs = _empty(spark, "doc_id long, text string, label int")
    with _pytest.raises(ValueError, match="empty training frame"):
        fit_quality_classifier(docs, "label")
