"""Correctness check: the engine's outputs against the generator's truth.

Counts, timestamps and gaps must match exactly. Bucket means and
interpolated values are recomputed with pandas from the
generated rows and must agree within ``VALUE_TOL``; column sums (the
cheap per-pass check) within ``SUM_TOL``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from workloads import EPOCH, TIME_COLUMN, VALUE_COL, Truth, Workload

# Generated values are 3-decimal numbers of magnitude <= 1000. A mean or an
# interpolated point is a handful of double operations on them, so any real
# error is far above 1e-9; rounding differences are far below it.
VALUE_TOL = 1e-9
# A double sum over up to ~10^6 such values may differ from pandas' by
# partition order only: well under 1e-6.
SUM_TOL = 1e-6


def _dt(sec: int) -> datetime:
    return EPOCH + timedelta(seconds=int(sec))


def summarize(frame: pd.DataFrame) -> dict:
    """Row count, non-null count and sum of the value: the per-pass check."""
    return {
        "rows": int(len(frame)),
        "nonnull": int(frame[VALUE_COL].notna().sum()),
        "sum": float(frame[VALUE_COL].sum()),
    }


@dataclass
class Expected:
    loaded: pd.DataFrame
    analysis: dict
    # output name ("mean", "interpolate") -> expected frame
    outputs: dict[str, pd.DataFrame] = field(default_factory=dict)
    summaries: dict[str, dict] = field(default_factory=dict)


def expected(truth: Truth, w: Workload) -> Expected:
    """Everything the checker compares to, computed with pandas."""
    ts = pd.to_datetime(np.frombuffer(truth.ts, dtype=np.int64), unit="s")
    loaded = pd.DataFrame(
        {TIME_COLUMN: ts, VALUE_COL: np.frombuffer(truth.values, dtype=np.int64) / 1000.0}
    )
    span = float(truth.ts[-1] - truth.ts[0])
    analysis = {
        "inferred_frequency_seconds": float(truth.cadence_s),
        "start_time": _dt(truth.ts[0]),
        "end_time": _dt(truth.ts[-1]),
        "n_rows": truth.loaded_rows,
        "n_gaps": len(truth.gaps),
        "gap_seconds_total": truth.gap_seconds_total,
        "coverage_pct": (1.0 - truth.gap_seconds_total / span) * 100.0,
        "gaps": [
            {"start": _dt(a), "end": _dt(b), "seconds": s, "expected_points": p}
            for a, b, s, p in truth.gaps
        ],
    }
    exp = Expected(loaded=loaded, analysis=analysis)
    exp.summaries["load"] = summarize(loaded)
    if w.resample_mean_s:
        bucket = loaded[TIME_COLUMN].dt.floor(f"{w.resample_mean_s}s")
        exp.outputs["mean"] = loaded.groupby(bucket)[[VALUE_COL]].mean().reset_index()
    if w.regrid_s:
        step = f"{w.regrid_s}s"
        series = loaded.set_index(TIME_COLUMN)[[VALUE_COL]]
        grid = pd.date_range(ts[0].floor(step), ts[-1].floor(step), freq=step)
        frame = series.reindex(grid).interpolate(method="time")
        exp.outputs["interpolate"] = frame.rename_axis(TIME_COLUMN).reset_index()
    for name, frame in exp.outputs.items():
        exp.summaries[name] = summarize(frame)
    return exp


def check_summary(name: str, got: dict, want: dict) -> list[str]:
    bad = []
    if got["rows"] != want["rows"]:
        bad.append(f"{name}: {got['rows']} rows, expected {want['rows']}")
    if got["nonnull"] != want["nonnull"]:
        bad.append(f"{name}: {got['nonnull']} non-null, expected {want['nonnull']}")
    g, x = got["sum"], want["sum"]
    if g is None or abs(g - x) > SUM_TOL:
        bad.append(f"{name}: sum {g!r}, expected {x!r}")
    return bad


def check_frame(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Same timestamps in the same order; same null positions; values
    within ``VALUE_TOL``."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    bad = []
    gt = pd.to_datetime(got[TIME_COLUMN]).to_numpy("datetime64[ns]")
    wt = pd.to_datetime(want[TIME_COLUMN]).to_numpy("datetime64[ns]")
    diff = np.flatnonzero(gt != wt)
    if diff.size:
        i = diff[0]
        bad.append(f"{name}: row {i} at {gt[i]}, expected {wt[i]}")
    g = got[VALUE_COL].to_numpy(dtype=float, na_value=np.nan)
    x = want[VALUE_COL].to_numpy(dtype=float, na_value=np.nan)
    gn, xn = np.isnan(g), np.isnan(x)
    miss = np.flatnonzero(gn != xn)
    if miss.size:
        bad.append(f"{name}: {miss.size} null positions differ, first at row {miss[0]}")
        return bad
    off = np.flatnonzero(np.abs(np.where(gn, 0.0, g - x)) > VALUE_TOL)
    if off.size:
        i = off[0]
        bad.append(f"{name}: {off.size} values differ, row {i}: {g[i]!r} vs {x[i]!r}")
    return bad


def check_analysis(got: dict, want: dict) -> list[str]:
    bad = []
    for k, x in want.items():
        g = got.get(k)
        if k == "coverage_pct":
            ok = g is not None and abs(g - x) <= VALUE_TOL
        elif k == "gaps":
            # find_gaps promises no order: compare the gaps by start time
            ok = sorted((dict(d) for d in g or []), key=lambda d: d["start"]) == x
        else:
            ok = g == x
        if not ok:
            shown = f"{len(g or [])} gaps" if k == "gaps" else repr(g)
            bad.append(f"analysis.{k}: {shown}, expected {len(x) if k == 'gaps' else x!r}")
    return bad


def check_files(got: dict, truth: Truth) -> list[str]:
    """``got``: files seen, loaded basenames and rejects by stage, as read
    from the loader's discovery stats, valid paths and error ledger."""
    bad = []
    if got["files_seen"] != truth.files_seen:
        bad.append(f"files: {got['files_seen']} candidates seen, expected {truth.files_seen}")
    if sorted(got["loaded"]) != sorted(truth.files_loaded):
        bad.append(f"files: {len(got['loaded'])} loaded, expected {len(truth.files_loaded)}")
    if got["rejected"] != truth.rejected:
        bad.append(f"files: rejected {got['rejected']}, expected {truth.rejected}")
    if got["file_gaps"] != truth.file_gaps:
        bad.append(f"files: {got['file_gaps']} inter-file gaps flagged, expected {truth.file_gaps}")
    if got["sequence_valid"] is not True:
        bad.append("files: sequence judged invalid")
    return bad
