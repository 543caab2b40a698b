"""Correctness checks on each workload's outputs.

Each ``check_*`` function takes outputs already loaded into plain Python /
pandas objects and the generator's truth, and returns a list of failure
messages (empty = correct). Loading is separate (``load_*``) so the checks
can be tested on hand-corrupted outputs without Spark.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from gen import CUM_COLS, START, CorpusTruth, EtdTruth

# resample variable that carries each generated cumulative column's Diff
RESAMPLED = {c: ("ZonopwekBruto" if c == "Zon-opwekTotaal" else f"{c}Diff") for c in CUM_COLS}


def _glob(folder: str, family: str) -> str:
    return f"{folder}/{family}.parquet/**/*.parquet"


# ---------------------------------------------------------------------------
# etl_month
# ---------------------------------------------------------------------------

def load_etl(out_dir: str, cum_cols: list[str]) -> dict:
    con = duckdb.connect()
    try:
        flags = ", ".join(
            f'count(*) FILTER (WHERE "{c}Diff_is_imputed") AS "{c}"' for c in cum_cols
        )
        imputed = con.execute(
            f"SELECT HuisIdBSV, count(*) AS n, {flags} FROM read_parquet("
            f"'{_glob(out_dir, 'household_imputed')}', hive_partitioning=true) "
            "GROUP BY HuisIdBSV ORDER BY HuisIdBSV"
        ).df()
        cols = ", ".join(f'"{RESAMPLED[c]}"' for c in cum_cols)
        h24 = con.execute(
            f"SELECT HuisIdBSV, ReadingDate, {cols} FROM read_parquet("
            f"'{_glob(out_dir, 'household_24h')}')"
        ).df()
        p24 = con.execute(
            f"SELECT count(*) FROM read_parquet('{_glob(out_dir, 'project_24h')}')"
        ).fetchone()[0]
    finally:
        con.close()
    return {"imputed": imputed, "household_24h": h24, "project_24h_rows": int(p24)}


def check_etl(out: dict, truth: EtdTruth, cum_cols: list[str]) -> list[str]:
    fails = []
    shape = truth.shape
    imp = out["imputed"]
    if int(imp["n"].sum()) != shape.rows:
        fails.append(f"household_imputed has {int(imp['n'].sum())} rows, input {shape.rows}")
    by_house = imp.set_index("HuisIdBSV")
    for h in truth.house_project:
        want = truth.imputed_count(h)
        for c in cum_cols:
            got = int(by_house.at[h, c]) if h in by_house.index else -1
            if got != want:
                fails.append(f"house {h} {c}Diff_is_imputed count {got}, planted {want}")
    h24 = out["household_24h"]
    day_no = (
        (pd.to_datetime(h24["ReadingDate"]).values.astype("datetime64[ns]") - START)
        // np.timedelta64(1, "D")
    ).astype(int)
    h24 = h24.assign(_day=day_no).set_index(["HuisIdBSV", "_day"])
    checked = 0
    for h in truth.house_project:
        for d in truth.gap_free_days(h):
            for c in cum_cols:
                want = truth.day_sums(h, c)[d]
                key = (h, int(d))
                got = h24.at[key, RESAMPLED[c]] if key in h24.index else None
                if got is None or not math.isclose(float(got), want, rel_tol=0, abs_tol=1e-6):
                    fails.append(f"house {h} day {d} {RESAMPLED[c]} 24h sum {got}, expected {want}")
                checked += 1
    if checked == 0:
        fails.append("no gap-free household day to check")
    want_p = shape.projects * shape.days
    if out["project_24h_rows"] != want_p:
        fails.append(f"project_24h has {out['project_24h_rows']} rows, expected {want_p}")
    return fails


# ---------------------------------------------------------------------------
# etl_month read mix: answers against DuckDB
# ---------------------------------------------------------------------------

def _same(a, b) -> bool:
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        return (a is None or (isinstance(a, float) and math.isnan(a))) and (
            b is None or (isinstance(b, float) and math.isnan(b))
        )
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if hasattr(a, "to_pydatetime"):
        a = a.to_pydatetime()
    if hasattr(b, "to_pydatetime"):
        b = b.to_pydatetime()
    return a == b


def compare_rows(got: list[tuple], want: list[tuple], ordered: bool) -> str | None:
    """None when the answers agree (floats to 1e-9), else a reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"

    def key(r):
        return tuple((v is None, str(v)) for v in r)

    if not ordered:
        got, want = sorted(got, key=key), sorted(want, key=key)
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {i}: {g} != {w}"
    return None


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

def normalize(text: str) -> str:
    """The exact-dedup key: whitespace runs collapsed, trimmed, lowercased
    (ASCII corpus, so lowercasing is the case fold)."""
    return " ".join(text.split()).lower()


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def load_corpus(out_dir: str) -> dict:
    con = duckdb.connect()
    try:
        def ids(sql):
            return [r[0] for r in con.execute(sql).fetchall()]

        kept = ids(f"SELECT doc_id FROM read_parquet('{_glob(out_dir, 'gated')}') WHERE keep")
        groups = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE n_docs > 1) FROM "
            f"read_parquet('{_glob(out_dir, 'exact_groups')}')"
        ).fetchone()
        pairs = con.execute(
            f"SELECT id_a, id_b FROM read_parquet('{_glob(out_dir, 'pairs')}')"
        ).fetchall()
        survivors = ids(f"SELECT doc_id FROM read_parquet('{_glob(out_dir, 'survivors')}')")
    finally:
        con.close()
    return {"kept": kept, "groups": int(groups[0]), "dup_groups": int(groups[1]),
            "pairs": pairs, "survivors": survivors}


def check_corpus(out: dict, truth: CorpusTruth, threshold: float) -> tuple[list[str], dict]:
    """Failures, plus the quality figures: planted near-duplicate recall
    and the precision of the reported pairs (true shingle Jaccard >=
    ``threshold``)."""
    fails = []
    texts = truth.texts
    kept = set(out["kept"])
    if kept != truth.good_ids:
        fails.append(
            f"quality gate kept {len(kept)} docs, expected {len(truth.good_ids)} "
            f"({len(kept ^ truth.good_ids)} differ)"
        )
    by_key: dict[str, int] = {}
    for i in truth.good_ids:
        k = normalize(texts[i])
        by_key[k] = by_key.get(k, 0) + 1
    if out["groups"] != len(by_key):
        fails.append(f"{out['groups']} exact-duplicate groups, expected {len(by_key)}")
    want_dup = sum(1 for v in by_key.values() if v > 1)
    if out["dup_groups"] != want_dup:
        fails.append(f"{out['dup_groups']} groups with copies, expected {want_dup}")
    surv = out["survivors"]
    if len(set(surv)) != len(surv):
        fails.append("a survivor is written twice")
    if not set(surv) <= truth.good_ids:
        fails.append("a document the gate rejected survived")
    if len({normalize(texts[i]) for i in surv}) != len(surv):
        fails.append("two survivors are exact duplicates")
    lost = truth.unique_ids - set(surv)
    if lost:
        fails.append(f"{len(lost)} documents with no duplicate were removed")
    reported = {(min(a, b), max(a, b)) for a, b in out["pairs"]}
    found = sum((min(a, b), max(a, b)) in reported for a, b in truth.near_pairs)
    true_pairs = sum(jaccard(texts[a], texts[b]) >= threshold for a, b in reported)
    quality = {
        "recall": found / len(truth.near_pairs) if truth.near_pairs else 1.0,
        "precision": true_pairs / len(reported) if reported else 1.0,
    }
    return fails, quality
