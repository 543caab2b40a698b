"""Tests for the benchmark's own code: generator determinism, the checkers'
power to reject corrupted outputs, and BENCHMARK.json agreeing with what the
runner prints. No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ETD = gen.EtdShape(projects=2, houses_per_project=3, days=7, columns=2)
CORPUS = gen.CorpusShape(docs=400)


def _digest(folder: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(folder):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, folder)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_etd_inputs_depend_only_on_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate_etd(a, 7, ETD)
    gen.generate_etd(b, 7, ETD)
    gen.generate_etd(c, 8, ETD)
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert len(da) == ETD.households + 1 + 1 + len(gen.STATIONS)
    assert da == db
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da if k.startswith("household_"))


def test_corpus_inputs_depend_only_on_seed(tmp_path):
    paths = [str(tmp_path / f"{x}.parquet") for x in "abc"]
    ta = gen.generate_corpus(paths[0], 7, CORPUS)
    gen.generate_corpus(paths[1], 7, CORPUS)
    tc = gen.generate_corpus(paths[2], 8, CORPUS)
    blobs = [open(p, "rb").read() for p in paths]
    assert blobs[0] == blobs[1]
    assert blobs[0] != blobs[2]
    # the shape does not depend on the seed
    assert len(ta.good_ids) == len(tc.good_ids)
    assert len(ta.near_pairs) == len(tc.near_pairs)


# ---------------------------------------------------------------------------
# etl_month checker

@pytest.fixture(scope="module")
def etd_truth(tmp_path_factory):
    return gen.generate_etd(str(tmp_path_factory.mktemp("etd")), 3, ETD)


def _correct_etl(truth) -> dict:
    cols = ETD.cum_cols
    imputed = pd.DataFrame(
        [
            {"HuisIdBSV": h, "n": ETD.steps, **{c: truth.imputed_count(h) for c in cols}}
            for h in sorted(truth.house_project)
        ]
    )
    rows = []
    for h in truth.house_project:
        sums = {checks.RESAMPLED[c]: truth.day_sums(h, c) for c in cols}
        for d in range(ETD.days):
            rows.append(
                {"HuisIdBSV": h,
                 "ReadingDate": pd.Timestamp(gen.START + np.timedelta64(d, "D")),
                 **{k: v[d] for k, v in sums.items()}}
            )
    return {"imputed": imputed, "household_24h": pd.DataFrame(rows),
            "project_24h_rows": ETD.projects * ETD.days}


def test_etl_checker_accepts_correct_output(etd_truth):
    assert checks.check_etl(_correct_etl(etd_truth), etd_truth, ETD.cum_cols) == []


@pytest.mark.parametrize("corruption", ["rows", "flags", "day_sum", "project_rows"])
def test_etl_checker_rejects_corruption(etd_truth, corruption):
    out = _correct_etl(etd_truth)
    if corruption == "rows":
        out["imputed"].loc[0, "n"] -= 1
    elif corruption == "flags":
        out["imputed"].loc[1, ETD.cum_cols[1]] += 1
    elif corruption == "day_sum":
        h = next(iter(etd_truth.house_project))
        d = int(etd_truth.gap_free_days(h)[0])
        col = checks.RESAMPLED[ETD.cum_cols[0]]
        idx = out["household_24h"].index[
            (out["household_24h"].HuisIdBSV == h)
            & (out["household_24h"].ReadingDate == pd.Timestamp(gen.START + np.timedelta64(d, "D")))
        ]
        out["household_24h"].loc[idx, col] += 1e-4
    else:
        out["project_24h_rows"] += 1
    assert checks.check_etl(out, etd_truth, ETD.cum_cols)


def test_etd_generator_places_every_gap(tmp_path):
    # the long gap goes first, so no seed runs out of room for it
    for seed in range(100):
        truth = gen.generate_etd(str(tmp_path), seed, ETD)
        assert sum(len(truth.gap_free_days(h)) for h in truth.house_project) > 0


def test_planted_gaps_cover_first_rows_and_gap_ends(etd_truth):
    for h, na in etd_truth.na_diff.items():
        assert na[0]
        # every household has short and long gaps, plus the outage
        assert etd_truth.imputed_count(h) > gen.SHORT_GAPS * 2 + 36
        assert len(etd_truth.gap_free_days(h)) > 0


# ---------------------------------------------------------------------------
# etl_month read mix: answer comparison

def test_compare_rows():
    ts = pd.Timestamp("2023-01-02 01:00").to_pydatetime()
    want = [(1, ts, 2.5, None), (2, ts, 3.0, 1.0)]
    assert checks.compare_rows(list(reversed(want)), want, ordered=False) is None
    assert checks.compare_rows([(1, ts, 2.5 + 1e-12, None), want[1]], want, ordered=True) is None
    assert checks.compare_rows(list(reversed(want)), want, ordered=True)
    assert checks.compare_rows(want[:1], want, ordered=False)
    assert checks.compare_rows([(1, ts, 2.6, None), want[1]], want, ordered=False)
    assert checks.compare_rows([(1, ts, 2.5, 0.0), want[1]], want, ordered=False)


# ---------------------------------------------------------------------------
# corpus_dedup checker

@pytest.fixture(scope="module")
def corpus_truth(tmp_path_factory):
    return gen.generate_corpus(str(tmp_path_factory.mktemp("c") / "c.parquet"), 3, CORPUS)


def _correct_corpus(truth) -> dict:
    first: dict[str, int] = {}
    for i in sorted(truth.good_ids):
        first.setdefault(checks.normalize(truth.texts[i]), i)
    counts: dict[str, int] = {}
    for i in truth.good_ids:
        k = checks.normalize(truth.texts[i])
        counts[k] = counts.get(k, 0) + 1
    copies = {b for _, b in truth.near_pairs}
    survivors = [i for i in first.values() if i not in copies]
    return {"kept": sorted(truth.good_ids), "groups": len(first),
            "dup_groups": sum(v > 1 for v in counts.values()),
            "pairs": list(truth.near_pairs), "survivors": survivors}


def test_corpus_checker_accepts_correct_output(corpus_truth):
    fails, q = checks.check_corpus(_correct_corpus(corpus_truth), corpus_truth, 0.7)
    assert fails == []
    assert q == {"recall": 1.0, "precision": 1.0}


@pytest.mark.parametrize(
    "corruption", ["gate", "groups", "dup_groups", "lost_unique", "dup_survivor", "twice"]
)
def test_corpus_checker_rejects_corruption(corpus_truth, corruption):
    out = _correct_corpus(corpus_truth)
    if corruption == "gate":
        bad = next(i for i in range(len(corpus_truth.texts)) if i not in corpus_truth.good_ids)
        out["kept"].append(bad)
    elif corruption == "groups":
        out["groups"] -= 1
    elif corruption == "dup_groups":
        out["dup_groups"] += 1
    elif corruption == "lost_unique":
        out["survivors"].remove(next(iter(corpus_truth.unique_ids)))
    elif corruption == "dup_survivor":
        a, b = corpus_truth.near_pairs[0]
        kept = set(out["survivors"])
        # a survivor's exact copy (same normalized text, different id)
        twin = next(
            j for j in corpus_truth.good_ids
            if j not in kept and any(
                checks.normalize(corpus_truth.texts[j]) == checks.normalize(corpus_truth.texts[i])
                for i in kept)
        )
        out["survivors"].append(twin)
    else:
        out["survivors"].append(out["survivors"][0])
    fails, _ = checks.check_corpus(out, corpus_truth, 0.7)
    assert fails


def test_pair_precision_counts_false_pairs(corpus_truth):
    out = _correct_corpus(corpus_truth)
    u = sorted(corpus_truth.unique_ids)
    out["pairs"].append((u[0], u[1]))
    _, q = checks.check_corpus(out, corpus_truth, 0.7)
    assert q["precision"] == len(corpus_truth.near_pairs) / (len(corpus_truth.near_pairs) + 1)


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with the runner

def test_benchmark_json_matches_runner():
    import run
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert spec["end_to_end"][0]["name"] == "setup_s"
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
