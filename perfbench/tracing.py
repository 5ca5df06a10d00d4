"""Spans around the calls the pipeline makes into each layer.

The program's source is untouched: ``traced(tracer)`` rebinds the public
names as ``plans.loader`` imported them (and the three ``TimeSeriesLoader``
methods) to wrappers for the duration of one pass, then restores them.

Each span runs under its own Spark job group, so the jobs it launched are
read back from ``statusTracker()`` after the pass. A span's jobs and tasks
include those of its child spans; its ``self_s`` is its wall time minus the
time its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict

from time_series_loader_spark.plans import loader as L
from time_series_loader_spark.sources.validation import validate_file_sequence

MEASURES = ("wall_s", "self_s", "spark_jobs", "spark_tasks")


def _discovery(t, out, args):
    stats = out[1]
    t.count("sources.discovery.files_seen", stats.total_candidates)
    t.count("sources.discovery.files_valid", stats.valid)


def _metadata(t, out, args):
    t.count("sources.metadata.parse_errors", len(out[1]))


def flagged(issues, kind: str) -> int:
    """File-sequence issues of one kind that exceed the configured limits."""
    return sum(i.kind == kind and i.flagged for i in issues)


def _validation(t, out, args):
    issues = validate_file_sequence(*args)
    t.count("sources.validation.gaps_flagged", flagged(issues, "gap"))
    t.count("sources.validation.overlaps_flagged", flagged(issues, "overlap"))


def _headers(t, out, args):
    t.count("sources.csv.validate_headers.files_rejected", len(out[1]))


def _analysis(t, out, args):
    t.count("operators.continuity.n_gaps", out["n_gaps"])


# (owner, attribute, span name, count hook) in the order the pipeline calls them
TARGETS = (
    (L, "discover_files", "sources.discovery.discover_files", _discovery),
    (L, "extract_metadata", "sources.metadata.extract_metadata", _metadata),
    (L, "is_valid_sequence", "sources.validation.is_valid_sequence", _validation),
    (L, "validate_headers", "sources.csv.validate_headers", _headers),
    (L, "load_csv_timeseries", "sources.csv.load_csv_timeseries", None),
    (L, "apply_hooks", "plans.hooks.apply_hooks", None),
    (L.TimeSeriesLoader, "initialize", "plans.loader.initialize", None),
    (L.TimeSeriesLoader, "analyze_continuity", "plans.loader.analyze_continuity", _analysis),
    (L, "infer_frequency_seconds", "operators.continuity.infer_frequency_seconds", None),
    (L, "find_gaps", "operators.continuity.find_gaps", None),
    (L, "continuity_stats", "operators.continuity.continuity_stats", None),
    (L.TimeSeriesLoader, "resample", "plans.loader.resample", None),
    (L, "resample", "operators.resample.resample", None),
    (L, "reindex_to_grid", "operators.grid.reindex_to_grid", None),
    (L, "interpolate_time", "operators.interpolate.interpolate_time", None),
)
# the benchmark's own sink writes
ACTIONS = ("action.load", "action.resample")
SPANS = tuple(name for _, _, name, _ in TARGETS) + ACTIONS
COUNTS = (
    "sources.discovery.files_seen",
    "sources.discovery.files_valid",
    "sources.metadata.parse_errors",
    "sources.validation.gaps_flagged",
    "sources.validation.overlaps_flagged",
    "sources.csv.validate_headers.files_rejected",
    "action.load.rows",
    "action.resample.rows",
    "operators.continuity.n_gaps",
    "errors.ledger.records",
)


def layer_metric_names() -> list[str]:
    return [f"{s}.{m}" for s in SPANS for m in MEASURES] + list(COUNTS)


class NullTracer:
    """Untraced passes: spans and counts cost nothing."""

    @contextlib.contextmanager
    def span(self, name):
        yield

    def count(self, name, value):
        pass


class Tracer:
    """Spans and counts of one run, kept in memory until the run ends."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self.pass_no = 0
        self._stack: list[dict] = []

    def _set_group(self, rec):
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextlib.contextmanager
    def span(self, name):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run": self.run_id,
            "pass": self.pass_no,
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def count(self, name, value):
        self.counts.append({"run": self.run_id, "pass": self.pass_no, "name": name, "value": value})

    def collect_jobs(self) -> None:
        """Read each span's job and task counts back from Spark's status
        store, once the listener bus has caught up with the pass."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for rec in self.spans:
            if rec["pass"] != self.pass_no or "jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"])
            rec["jobs"] = len(jobs)
            rec["tasks"] = sum(store.job(j).numCompletedTasks() for j in jobs)

    def pass_metrics(self, pass_no: int) -> dict[str, float]:
        """Per-layer metrics of one pass: spans of one name are summed."""
        spans = [s for s in self.spans if s["pass"] == pass_no]
        children = defaultdict(list)
        for s in spans:
            children[s["parent"]].append(s)

        def inclusive(s, key):
            return s[key] + sum(inclusive(c, key) for c in children[s["id"]])

        out = {name: 0.0 for name in layer_metric_names()}
        for s in spans:
            wall = s["end"] - s["start"]
            kids = sum(c["end"] - c["start"] for c in children[s["id"]])
            out[f"{s['name']}.wall_s"] += wall
            out[f"{s['name']}.self_s"] += wall - kids
            out[f"{s['name']}.spark_jobs"] += inclusive(s, "jobs")
            out[f"{s['name']}.spark_tasks"] += inclusive(s, "tasks")
        for c in self.counts:
            if c["pass"] == pass_no:
                out[c["name"]] += c["value"]
        return out


@contextlib.contextmanager
def traced(tracer: Tracer):
    """Rebind every target to a span-recording wrapper; restore on exit."""
    saved = []
    for owner, attr, name, hook in TARGETS:
        orig = owner.__dict__[attr]

        def wrapper(*args, _orig=orig, _name=name, _hook=hook, **kw):
            with tracer.span(_name):
                out = _orig(*args, **kw)
            if _hook is not None:
                _hook(tracer, out, args)
            return out

        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper))
    try:
        yield tracer
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)
