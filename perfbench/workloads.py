"""Seeded generator for the CSV-slice pipeline benchmark.

Each workload writes a directory of time-sliced CSV files named in the
reference convention (``E1 1A - Data - MM-DD-YYYY HH_MM_SS - MM-DD-YYYY
HH_MM_SS.csv``, ``;``-separated, ``dd/MM/yyyy HH:mm:ss`` timestamps) and
returns the ground truth the checker compares the engine's outputs to.

Only the standard library is used here, so the same seed always writes the
same bytes. Values are written with three decimals and kept as integer
milli-units, so the truth is exact.
"""

from __future__ import annotations

import os
import random
from array import array
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta

TIME_COLUMN = "Time"
CSV_TIME_FORMAT = "dd/MM/yyyy HH:mm:ss"  # Spark pattern for the rows below
_NAME_TIME = "%m-%d-%Y %H_%M_%S"  # strptime form of the filename timestamps
_PREFIX = "E1 1A - Data - "
VALUE_COL = "v1"  # the one value column every workload writes
EPOCH = datetime(1970, 1, 1)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_files: int
    rows_per_file: int
    cadence_s: int
    # whole files left out of the sequence (file-level gaps)
    missing_files: int = 0
    # each step opens a gap of gap_len[0]..gap_len[1] steps with this probability
    gap_rate: float = 0.0
    gap_len: tuple[int, int] = (0, 0)
    # rows given a planted ±1000 outlier, which the z-score hook removes
    n_outliers: int = 0
    decoys: bool = False
    hook: bool = False
    resample_mean_s: int = 0
    regrid_s: int = 0
    # timed calls of each resample per pass: a short call repeats so that its
    # median is steady, a long one runs once to keep the run short
    resample_repeats: int = 1


# Sizes are fitted to a 4-core box: set-up plus one timed pass take about a
# minute, which is what the run budget allows (see METRICS.md).
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="slices_many",
            why=(
                "100 one-hour slices of 60 rows plus decoys, hourly mean: Spark's per-file "
                "work in load_csv_timeseries (201 tasks for 100 files) is most of load_s; "
                "per-row work is small"
            ),
            n_files=100,
            rows_per_file=60,
            cadence_s=60,
            missing_files=5,
            decoys=True,
            resample_mean_s=3600,
            resample_repeats=3,
        ),
        Workload(
            name="regrid_fill",
            why=(
                "10 s series, 2% of steps open 2-20 step gaps, z-score hook, regridded to "
                "5 s with time interpolation: the grid outgrows the input, so the grid "
                "join and fill windows dominate resample_s"
            ),
            n_files=4,
            rows_per_file=2_500,
            cadence_s=10,
            gap_rate=0.02,
            gap_len=(2, 20),
            n_outliers=4,
            hook=True,
            regrid_s=5,
            resample_repeats=2,
        ),
    )
}


def tiny(w: Workload) -> Workload:
    """The same pipeline on a few thousand rows, for the set-up warm-up pass.
    It keeps more files than Spark's parallel file-listing threshold (32),
    so the listing job is warm too."""
    return replace(
        w,
        n_files=min(w.n_files, 40),
        rows_per_file=min(w.rows_per_file, 120),
        missing_files=min(w.missing_files, 1),
        n_outliers=min(w.n_outliers, 2),
    )


@dataclass
class Truth:
    """Ground truth for one generated input directory."""

    cadence_s: int
    input_rows: int  # data rows in the files the loader should load
    loaded_rows: int  # rows left after post-processing hooks
    files_loaded: list[str]
    rejected: dict[str, str]  # basename -> reason (discovery/metadata/header)
    files_seen: int  # *.csv candidates
    file_gaps: int  # inter-file gaps longer than the validator's 15 min
    gaps: list[tuple[int, int, float, int]]  # (start_s, end_s, seconds, expected_points)
    gap_seconds_total: float
    # the loaded series: epoch seconds and values in milli-units
    ts: array = field(repr=False, default_factory=lambda: array("q"))
    values: array = field(repr=False, default_factory=lambda: array("q"))
    grid_len: int = 0


def _fmt_day(day: int) -> str:
    d = EPOCH + timedelta(days=day)
    return f"{d.day:02d}/{d.month:02d}/{d.year:04d}"


def _fmt_name(start: int, end: int) -> str:
    s = (EPOCH + timedelta(seconds=start)).strftime(_NAME_TIME)
    e = (EPOCH + timedelta(seconds=end)).strftime(_NAME_TIME)
    return f"{_PREFIX}{s} - {e}.csv"


def _milli(v: int) -> str:
    sign = "-" if v < 0 else ""
    a = abs(v)
    return f"{sign}{a // 1000}.{a % 1000:03d}"


def _write_rows(path: str, header: list[str], ts: list[int], vals: list[int]) -> None:
    # rows within one day share their date prefix: format it once per day
    lines = [";".join(header)]
    day = None
    prefix = ""
    for i, t in enumerate(ts):
        d, r = divmod(t, 86400)
        if d != day:
            day = d
            prefix = _fmt_day(d)
        h, r = divmod(r, 3600)
        m, s = divmod(r, 60)
        lines.append(f"{prefix} {h:02d}:{m:02d}:{s:02d};{_milli(vals[i])}")
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("\n".join(lines))
        f.write("\n")


def _row_gaps(ts: list[int], cadence: int) -> list[tuple[int, int, float, int]]:
    """Gaps as ``find_gaps`` defines them at the inferred cadence: every
    step longer than one cadence, with floor(step / cadence) - 1 points."""
    out = []
    for a, b in zip(ts, ts[1:]):
        d = b - a
        if d > cadence:
            out.append((a, b, float(d), d // cadence - 1))
    return out


def _zscore_keep(vals: list[int], threshold: float = 3.0) -> list[bool]:
    """Rows the z-score hook keeps (ddof=1 std), asserting that no value
    sits within 20% of the cutoff so float rounding cannot flip it."""
    n = len(vals)
    mean = sum(vals) / n
    std = (sum((x - mean) ** 2 for x in vals) / (n - 1)) ** 0.5
    keep = []
    for x in vals:
        z = abs(x - mean) / std
        if 0.8 * threshold < z < 1.2 * threshold:
            raise ValueError(f"generated value {x} is too close to the z cutoff")
        keep.append(z <= threshold)
    return keep


def generate(w: Workload, seed: int, out_dir: str) -> Truth:
    """Write ``w``'s files into ``out_dir`` (created) and return the truth."""
    rng = random.Random(f"{w.name}:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    header = [TIME_COLUMN, VALUE_COL]
    # a seeded start inside 2023, aligned to the hour; leaves room before
    # the year ends so filename order is time order
    start = int((datetime(2023, 1, 2) - EPOCH).total_seconds()) + rng.randrange(0, 120) * 86400
    file_span = w.rows_per_file * w.cadence_s

    slots = list(range(w.n_files + w.missing_files))
    missing = set(rng.sample(slots[1:-1], w.missing_files)) if w.missing_files else set()
    kept_slots = [s for s in slots if s not in missing]

    # nominal per-file timestamps, then in-file gaps removed
    per_file: list[list[int]] = []
    for s in kept_slots:
        f0 = start + s * file_span
        per_file.append([f0 + i * w.cadence_s for i in range(w.rows_per_file)])
    drop: set[int] = set()
    if w.gap_rate:
        all_ts = [t for f in per_file for t in f]
        i = 1
        while i < len(all_ts) - w.gap_len[1] - 1:
            if rng.random() < w.gap_rate:
                g = rng.randint(*w.gap_len)
                drop.update(all_ts[i : i + g])
                i += g + 1  # keep at least one point between gaps
            i += 1
    per_file = [[t for t in f if t not in drop] for f in per_file]

    # values: milli-units in [-1000, 1000]; planted ±1000000 outliers
    per_vals = [[rng.randint(-1000, 1000) for _ in f] for f in per_file]
    for _ in range(w.n_outliers):
        f = rng.randrange(len(per_file))
        i = rng.randrange(len(per_file[f]))
        per_vals[f][i] = rng.choice((-1, 1)) * 1_000_000

    files_loaded = []
    for s, ts, vals in zip(kept_slots, per_file, per_vals):
        f0 = start + s * file_span
        name = _fmt_name(f0, f0 + file_span - 1)
        _write_rows(os.path.join(out_dir, name), header, ts, vals)
        files_loaded.append(name)

    rejected: dict[str, str] = {}
    files_seen = len(files_loaded)
    if w.decoys:
        # an empty .csv, a .txt, a .csv whose name has no times, and a
        # well-named .csv (the hour after the last slice, so it sorts last
        # and is not the header contract) whose header does not match
        empty = f"{_PREFIX}empty export.csv"
        open(os.path.join(out_dir, empty), "w").close()
        with open(os.path.join(out_dir, "notes.txt"), "w") as f:
            f.write("export log\n")
        unparsed = f"{_PREFIX}corrupt export.csv"
        _write_rows(os.path.join(out_dir, unparsed), header, per_file[0][:3], per_vals[0][:3])
        f0 = start + len(slots) * file_span
        bad_header = _fmt_name(f0, f0 + file_span - 1)
        _write_rows(
            os.path.join(out_dir, bad_header),
            [TIME_COLUMN, "other"],
            [f0 + i * w.cadence_s for i in range(3)],
            [0, 1, 2],
        )
        rejected = {empty: "empty_file", unparsed: "metadata", bad_header: "header"}
        files_seen += 3

    ts_all = [t for f in per_file for t in f]
    vals_all = [x for vals in per_vals for x in vals]
    if w.hook:
        keep = _zscore_keep(vals_all)
        ts_all = [t for t, k in zip(ts_all, keep) if k]
        vals_all = [x for x, k in zip(vals_all, keep) if k]
    gaps = _row_gaps(ts_all, w.cadence_s)
    truth = Truth(
        cadence_s=w.cadence_s,
        input_rows=sum(len(f) for f in per_file),
        loaded_rows=len(ts_all),
        files_loaded=files_loaded,
        rejected=rejected,
        files_seen=files_seen,
        # the validator measures from a file's named end (last second) to
        # the next file's named start
        file_gaps=sum(
            1 for a, b in zip(kept_slots, kept_slots[1:]) if (b - a - 1) * file_span + 1 > 15 * 60
        ),
        gaps=gaps,
        gap_seconds_total=float(sum(g[2] for g in gaps)),
        ts=array("q", ts_all),
        values=array("q", vals_all),
    )
    if w.regrid_s:
        step = w.regrid_s
        truth.grid_len = (ts_all[-1] // step - ts_all[0] // step) + 1
    return truth
