"""Seeded, deterministic input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: the benchmark builds its inputs in
its own process before the program sees them, and the program only receives
the files. The same seed gives byte-identical files; the *shape* of the input
(row counts, gap count and length ranges, duplicate shares) does not depend
on the seed, so runs on different seeds do about the same amount of work.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STEP_NS = 5 * 60 * 10**9
STEPS_PER_DAY = 288
START = np.datetime64("2023-01-02T00:00:00", "ns")  # a Monday, UTC midnight

# Cumulative meter columns, all on the program's imputation list. A shape
# takes the first ``columns`` of them, ordered so that small shapes still
# feed the grid-exchange, solar and return-delivery calculated columns.
CUM_COLS = [
    "ElektriciteitNetgebruikLaag",
    "Zon-opwekTotaal",
    "ElektriciteitTerugleveringLaag",
    "ElektriciteitsgebruikWarmtepomp",
    "ElektriciteitNetgebruikHoog",
    "ElektriciteitsgebruikBoilervat",
]
STATIONS = [260, 310, 344, 370]

# per household: this many short (2-12 rows) and long (3 h-2 days) gaps;
# per project: this many project-wide short outages
SHORT_GAPS = 2
LONG_GAPS = 1
PROJECT_OUTAGES = 1


@dataclasses.dataclass
class EtdShape:
    projects: int
    houses_per_project: int
    days: int
    columns: int

    @property
    def cum_cols(self) -> list[str]:
        return CUM_COLS[: self.columns]

    @property
    def households(self) -> int:
        return self.projects * self.houses_per_project

    @property
    def steps(self) -> int:
        return self.days * STEPS_PER_DAY

    @property
    def rows(self) -> int:
        return self.households * self.steps


@dataclasses.dataclass
class EtdTruth:
    """What the generator knows about its own output, for the checkers."""

    shape: EtdShape
    house_project: dict[int, int]
    # household -> boolean mask of rows whose Diff is NA (what imputation
    # must fill: planted gaps, the reading after each gap, the first row)
    na_diff: dict[int, np.ndarray]
    # household -> {column: int64 increments in Wh, per row}
    increments: dict[int, dict[str, np.ndarray]]
    station_of_project: dict[int, int]
    # station -> (yyyymmdd, hh, T, FH, U) int arrays
    weather: dict[int, tuple[np.ndarray, ...]]

    def imputed_count(self, house: int) -> int:
        return int(self.na_diff[house].sum())

    def day_sums(self, house: int, col: str) -> np.ndarray:
        """kWh per day of ``col``'s true increments (index = day number)."""
        inc = self.increments[house][col].reshape(self.shape.days, STEPS_PER_DAY)
        return inc.sum(axis=1) / 1000.0

    def gap_free_days(self, house: int) -> np.ndarray:
        na = self.na_diff[house].reshape(self.shape.days, STEPS_PER_DAY)
        return np.flatnonzero(~na.any(axis=1))


def _place_gaps(rng, steps: int, lengths: list[int], taken: np.ndarray) -> list[tuple[int, int]]:
    """Place gaps of the given lengths at seeded positions that overlap no
    taken row and keep one observed row on each side (so each gap has a
    reading before and after it). The longest gap is placed first, while
    the series has the most room."""
    out = []
    for length in sorted(lengths, reverse=True):
        for _ in range(1000):
            s = int(rng.integers(2, steps - length - 2))
            if not taken[s - 2 : s + length + 2].any():
                taken[s : s + length] = True
                out.append((s, length))
                break
        else:
            raise RuntimeError("could not place gap; shape too dense")
    return out


def generate_etd(root: str, seed: int, shape: EtdShape) -> EtdTruth:
    """Write an etdmap-shaped mapped folder under ``root``:
    ``household_<id>_table.parquet`` per household (pyarrow nanosecond
    timestamps, cumulative columns plus their Diff), ``index.parquet``,
    ``knmi/uurgeg_<stn>.txt`` hourly station files and
    ``station_mapping.csv``."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(root, "knmi"), exist_ok=True)
    steps = shape.steps
    ts = START + np.arange(steps, dtype=np.int64) * np.timedelta64(STEP_NS, "ns")
    tod = (np.arange(steps) % STEPS_PER_DAY) / STEPS_PER_DAY  # time of day

    house_project: dict[int, int] = {}
    houses_of: dict[int, list[int]] = {}
    for p in range(shape.projects):
        pid = 100 + p
        houses_of[pid] = []
        for k in range(shape.houses_per_project):
            hid = 1000 + p * shape.houses_per_project + k
            house_project[hid] = pid
            houses_of[pid].append(hid)

    # gap layout: project-wide short outages (every household of the project
    # is dark, so the project average is NA there and the linear-fill rule
    # applies), then per-household short and long gaps (project average
    # present: scaled fill). One household per project starts late (leading
    # gap) and one other stops early (trailing gap).
    missing: dict[int, np.ndarray] = {}
    for pid, hids in houses_of.items():
        taken = np.zeros(steps, bool)
        outages = _place_gaps(
            rng, steps, [int(x) for x in rng.integers(3, 13, PROJECT_OUTAGES)], taken
        )
        for j, hid in enumerate(hids):
            mask = np.zeros(steps, bool)
            for s, length in outages:
                mask[s : s + length] = True
            own = taken.copy()
            lengths = [int(x) for x in rng.integers(2, 13, SHORT_GAPS)]
            lengths += [int(x) for x in rng.integers(36, 2 * STEPS_PER_DAY + 1, LONG_GAPS)]
            if j == 0:
                lead = int(rng.integers(12, STEPS_PER_DAY))
                mask[:lead] = True
                own[: lead + 2] = True
            if j == 1:
                trail = int(rng.integers(12, STEPS_PER_DAY))
                mask[steps - trail :] = True
                own[steps - trail - 2 :] = True
            for s, length in _place_gaps(rng, steps, lengths, own):
                mask[s : s + length] = True
            missing[hid] = mask

    na_diff: dict[int, np.ndarray] = {}
    increments: dict[int, dict[str, np.ndarray]] = {}
    for hid, pid in house_project.items():
        mask = missing[hid]
        # a Diff is NA on a missing row, on the first row, and on the first
        # reading after a gap (etdmap computes Diff as cum.diff())
        na = mask.copy()
        na[0] = True
        na[1:] |= mask[:-1]
        na_diff[hid] = na
        increments[hid] = {}
        cols = {"ReadingDate": pa.array(ts, type=pa.timestamp("ns"))}
        for c_i, col in enumerate(shape.cum_cols):
            if col == "Zon-opwekTotaal":
                shape_f = np.clip(np.sin(np.pi * (tod - 0.3) / 0.4), 0, None)
            else:
                shape_f = 1.0 + 0.5 * np.sin(2 * np.pi * (tod + 0.1 * c_i))
            level = rng.uniform(5, 40)  # Wh per 5 minutes
            inc = rng.poisson(level * shape_f).astype(np.int64)
            inc[0] = 0
            increments[hid][col] = inc
            cum_wh = int(rng.integers(10**5, 10**7)) + np.cumsum(inc)
            cum = cum_wh / 1000.0
            diff = np.empty(steps)
            diff[0] = np.nan
            diff[1:] = np.diff(cum_wh) / 1000.0
            cum[mask] = np.nan
            diff[na] = np.nan
            cols[col] = pa.array(cum, from_pandas=True)
            cols[f"{col}Diff"] = pa.array(diff, from_pandas=True)
        pq.write_table(
            pa.table(cols), os.path.join(root, f"household_{hid}_table.parquet")
        )

    station_of_project = {
        pid: STATIONS[i % len(STATIONS)] for i, pid in enumerate(houses_of)
    }
    hids = sorted(house_project)
    pq.write_table(
        pa.table(
            {
                "HuisIdBSV": pa.array(hids, pa.int64()),
                "ProjectIdBSV": pa.array([house_project[h] for h in hids], pa.int64()),
                "Meenemen": pa.array([True] * len(hids)),
                "Oppervlakte": pa.array(rng.integers(60, 160, len(hids)), pa.int64()),
                "Weerstation": pa.array(
                    [f"S{station_of_project[house_project[h]]}" for h in hids]
                ),
            }
        ),
        os.path.join(root, "index.parquet"),
    )
    with open(os.path.join(root, "station_mapping.csv"), "w") as fh:
        fh.write("ProjectIdBSV,Weerstation,Nummer\n")
        for pid, stn in station_of_project.items():
            fh.write(f"{pid},s{stn},{stn}\n")

    # hourly weather over exactly the data span: START is a Monday, so with
    # whole weeks every ISO week is complete and the coldest-weeks answer
    # has the same size on every seed
    hours = shape.days * 24
    t0 = START
    stamp = t0 + np.arange(hours).astype("timedelta64[h]")
    day = stamp.astype("datetime64[D]")
    ymd = np.array(
        [int(str(d).replace("-", "")) for d in day.astype(str)], dtype=np.int64
    )
    hh = (np.arange(hours) % 24 + 1).astype(np.int64)
    weather: dict[int, tuple[np.ndarray, ...]] = {}
    for stn in STATIONS:
        # per-week offsets make the coldest weeks well separated (no ties)
        week = np.arange(hours) // (24 * 7)
        week_off = rng.permutation(week.max() + 1)[week] * 15
        t = (40 + week_off + rng.integers(-30, 31, hours)).astype(np.int64)
        fh_ = rng.integers(0, 150, hours).astype(np.int64)
        u = rng.integers(40, 100, hours).astype(np.int64)
        weather[stn] = (ymd, hh, t, fh_, u)
        with open(os.path.join(root, "knmi", f"uurgeg_{stn}.txt"), "w") as fh:
            fh.write("# BRON: KONINKLIJK NEDERLANDS METEOROLOGISCH INSTITUUT (KNMI)\n")
            fh.write("# STN,YYYYMMDD,   HH,    T,   FH,    U\n")
            for row in zip(ymd, hh, t, fh_, u):
                fh.write(f"  {stn},{row[0]},{row[1]:5d},{row[2]:5d},{row[3]:5d},{row[4]:5d}\n")
    return EtdTruth(shape, house_project, na_diff, increments, station_of_project, weather)


# ---------------------------------------------------------------------------
# Document corpus with planted duplicates
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "and", "of", "to", "a", "is", "in", "that", "for", "it"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
WORDS = 150  # words per full-length document
EXACT_SHARE = 0.08  # docs that are an exact copy of another doc
NEAR_SHARE = 0.12  # docs that are a few-word edit of another doc
SHORT_SHARE = 0.04  # docs that fail the quality gate (too short)
EDITS = 3  # word substitutions per near duplicate


@dataclasses.dataclass
class CorpusShape:
    docs: int


@dataclasses.dataclass
class CorpusTruth:
    shape: CorpusShape
    texts: list[str]
    good_ids: set[int]  # docs that must pass the quality gate
    near_pairs: list[tuple[int, int]]  # planted (source, near copy)
    unique_ids: set[int]  # good docs with no planted duplicate of any kind


def generate_corpus(path: str, seed: int, shape: CorpusShape) -> CorpusTruth:
    """Write ``path`` (one parquet file: doc_id, text). Documents are
    whitespace-separated lowercase pseudo-words mixed with English stopwords,
    so every full-length document passes the quality gate. Planted: exact
    duplicates (same words, case and spacing changed), near duplicates
    (``EDITS`` word substitutions), and short documents the gate rejects."""
    rng = np.random.default_rng(seed)
    vocab_n = 20_000
    lens = rng.integers(4, 9, vocab_n)
    flat = _LETTERS[rng.integers(0, 26, int(lens.sum()))]
    ends = np.cumsum(lens)
    vocab = np.array(
        ["".join(flat[e - n : e]) for e, n in zip(ends, lens)], dtype=object
    )
    vocab = np.concatenate([np.array(STOPWORDS, dtype=object), vocab])
    n = shape.docs
    n_exact = int(n * EXACT_SHARE)
    n_near = int(n * NEAR_SHARE)
    n_short = int(n * SHORT_SHARE)
    n_base = n - n_exact - n_near - n_short

    def words(count: int) -> np.ndarray:
        # ~25% stopwords, the rest uniform over the pseudo-word vocabulary
        idx = rng.integers(len(STOPWORDS), len(vocab), count)
        stop = rng.random(count) < 0.25
        idx[stop] = rng.integers(0, len(STOPWORDS), int(stop.sum()))
        return vocab[idx]

    docs: list[list[str] | str] = [list(words(WORDS)) for _ in range(n_base)]
    near_pairs: list[tuple[int, int]] = []
    exact_of: list[int] = []
    src_pool = rng.permutation(n_base)
    for k in range(n_near):
        src = int(src_pool[k])
        copy = list(docs[src])
        for pos in rng.choice(WORDS, EDITS, replace=False):
            copy[pos] = words(1)[0]
        near_pairs.append((src, len(docs)))
        docs.append(copy)
    for k in range(n_exact):
        src = int(src_pool[n_near + k])
        exact_of.append(src)
        docs.append(list(docs[src]))
    good_n = len(docs)
    for _ in range(n_short):
        docs.append(list(words(int(rng.integers(3, 15)))))
    texts = []
    for i, w in enumerate(docs):
        if i >= n_base + n_near and i < good_n:
            # exact copies differ only by case and whitespace, which the
            # normalized exact-dedup key folds away
            texts.append("  ".join(w).upper() + " ")
        else:
            texts.append(" ".join(w))
    # shuffle document order so duplicates are not adjacent; doc_id is the
    # position after the shuffle
    perm = rng.permutation(len(texts))
    new_id = np.empty(len(texts), np.int64)
    new_id[perm] = np.arange(len(texts))
    texts = [texts[i] for i in perm]
    good_ids = {int(new_id[i]) for i in range(good_n)}
    near = [(int(new_id[a]), int(new_id[b])) for a, b in near_pairs]
    touched = {int(new_id[a]) for a, _ in near_pairs} | {
        int(new_id[b]) for _, b in near_pairs
    }
    touched |= {int(new_id[s]) for s in exact_of}
    touched |= {int(new_id[n_base + n_near + k]) for k in range(n_exact)}
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        path,
    )
    return CorpusTruth(shape, texts, good_ids, near, good_ids - touched)
