"""Per-layer attribution for traced runs.

A layer is a program module; its public functions are wrapped from
outside the program. Each wrapped call:

  - records a span (name, start, end, parent) in memory;
  - sets the Spark job group to the layer, so the event log attributes
    every job the call starts to the innermost active layer;
  - forces its DataFrame results (persist + count) in a child span and
    job group of their own, ``<layer>#force``, so the work a lazy plan
    defers is paid before the next layer starts.

The program's own jobs and the forcing jobs are counted apart: a
layer's ``jobs`` counts only jobs the program started. A forcing job
runs the layer's own deferred plan, so its tasks (CPU, run time,
shuffle, spill, skew) and wall count towards the layer; the forcing
totals are also reported on their own as ``trace.force_*``. Because
the results are persisted, the traced run executes a different physical
plan than an untraced one (downstream layers read cached frames):
traced runs report per-layer numbers only, and end-to-end numbers come
from untraced runs. After the run the Spark event log (written
uncompressed) is parsed into the per-group figures.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import sys
import time

# (module, public function, layer, what to force on the result)
LAYER_FUNCTIONS = (
    ("graphiti_spark.sources.pages", "load_pages", "sources.pages", "df"),
    ("graphiti_spark.sources.pages", "pages_to_episodes", "sources.pages", "df"),
    ("graphiti_spark.operators.extract", "extract_token_stream", "operators.extract", "df"),
    ("graphiti_spark.operators.extract", "mentions_from_stream", "operators.extract", "df"),
    ("graphiti_spark.operators.extract", "triples_from_stream", "operators.extract", "df"),
    ("graphiti_spark.operators.resolve", "extracted_entities", "operators.resolve", "df"),
    ("graphiti_spark.operators.resolve", "duplicate_pairs", "operators.resolve", "df"),
    ("graphiti_spark.operators.resolve", "canonical_uuid_map", "operators.resolve", "df"),
    ("graphiti_spark.operators.cc", "connected_components", "operators.cc", "df"),
    ("graphiti_spark.operators.edges", "triples_to_edges", "operators.edges", "df"),
    ("graphiti_spark.operators.edges", "build_mention_edges", "operators.edges", "df"),
    ("graphiti_spark.operators.temporal", "invalidate_edges", "operators.temporal", "df"),
    ("graphiti_spark.operators.temporal", "invalidate_cross_predicate", "operators.temporal", "df"),
    ("graphiti_spark.pipeline", "build_nodes", "pipeline.build_nodes", "df"),
    ("graphiti_spark.materialize", "save_graph", "materialize", "written"),
    ("graphiti_spark.materialize", "load_graph", "materialize", None),
    ("graphiti_spark.materialize", "load_graph_versions", "materialize", None),
    ("graphiti_spark.materialize", "save_graph_delta", "materialize", "written"),
    ("graphiti_spark.operators.incremental", "ingest_incremental", "operators.incremental",
     "delta"),
    ("graphiti_spark.search.hybrid", "search", "search", "dict"),
    ("graphiti_spark.operators.dedup_docs", "exact_dedup", "operators.dedup_docs", "df"),
    ("graphiti_spark.operators.dedup_docs", "minhash_near_dup", "operators.dedup_docs", "df"),
    ("graphiti_spark.operators.dedup_docs", "canonical_docs", "operators.dedup_docs", "df"),
    ("graphiti_spark.operators.curation", "curation_funnel", "operators.curation", "df"),
    ("graphiti_spark.operators.textstats", "language_id", "operators.textstats", "df"),
    ("graphiti_spark.operators.textstats", "quality_score", "operators.textstats", "df"),
)

# The LSH candidate pairs entering verification: counted (not timed) so
# operators.resolve can report accepted ÷ candidate pairs.
CANDIDATE_PAIRS = ("graphiti_spark.operators.resolve", "_score_candidate_pairs")

LAYERS = (
    "session",
    "sources.pages",
    "operators.extract",
    "operators.resolve",
    "operators.cc",
    "operators.edges",
    "operators.temporal",
    "pipeline.build_nodes",
    "materialize",
    "operators.dedup_docs",
    "operators.curation",
    "operators.textstats",
    "operators.incremental",
    "search",
)
FORCE = "#force"
LAYER_METRICS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("task_cpu_s", "s"),
    ("slot_util", "ratio"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("skew", "ratio"),
    ("rows_out", "rows"),
)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet rows) of every parquet file under ``path``."""
    import pyarrow.parquet as pq

    size = rows = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        size += os.path.getsize(f)
        rows += pq.ParquetFile(f).metadata.num_rows
    return size, rows


class Tracer:
    """Span recorder and job-group switcher for one traced run."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.rows: dict[str, int] = {}
        self.bytes_written = 0
        self.forced: list = []
        self._originals: list[tuple[object, str, object]] = []

    # -- spans and job groups -------------------------------------------
    def _set_group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    def open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(
            {"name": name, "start": time.monotonic(), "end": None, "parent": parent}
        )
        idx = len(self.spans) - 1
        self.stack.append(idx)
        self._set_group(name)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.monotonic()
        self.stack.pop()
        self._set_group(self.spans[self.stack[-1]]["name"] if self.stack else None)

    def current(self) -> str | None:
        return self.spans[self.stack[-1]]["name"] if self.stack else None

    # -- forcing --------------------------------------------------------
    def _force_df(self, df, key: str):
        span = self.open(key.split(":")[0] + FORCE)
        try:
            df = df.persist()
            self.rows[key] = self.rows.get(key, 0) + df.count()
            self.forced.append(df)
        finally:
            self.close(span)
        return df

    def release(self) -> None:
        for df in self.forced:
            df.unpersist()
        self.forced.clear()

    # -- wrapping -------------------------------------------------------
    def _wrap(self, fn, layer: str, force: str | None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.current() == layer:
                return fn(*args, **kwargs)
            idx = tracer.open(layer)
            try:
                out = fn(*args, **kwargs)
                key = f"{layer}:{fn.__name__}"
                if force == "df":
                    out = tracer._force_df(out, key)
                elif force == "dict":  # {name: DataFrame}
                    out = {k: tracer._force_df(v, key) for k, v in out.items()}
                elif force == "delta":  # the changed rows a delta commit writes
                    from graphiti_spark.materialize import DELTA_KEYS

                    for table, parts in out["delta"].items():
                        if table in DELTA_KEYS and isinstance(parts, dict):
                            for part in ("upserts", "deletes"):
                                if parts.get(part) is not None:
                                    parts[part] = tracer._force_df(parts[part], key)
                elif force == "written":
                    for path in out.values():
                        size, rows = dir_stats(path)
                        tracer.bytes_written += size
                        tracer.rows[key] = tracer.rows.get(key, 0) + rows
                return out
            finally:
                tracer.close(idx)

        return traced

    def _count_candidates(self, fn):
        tracer = self

        @functools.wraps(fn)
        def counted(pairs, *args, **kwargs):
            pairs = tracer._force_df(pairs, "operators.resolve:candidate_pairs")
            return fn(pairs, *args, **kwargs)

        return counted

    def _replace(self, orig, new) -> None:
        """Rebind ``orig`` to ``new`` wherever a program module holds it."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("graphiti_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, new)
                    self._originals.append((mod, attr, orig))

    def install(self) -> None:
        for module, name, layer, force in LAYER_FUNCTIONS:
            fn = getattr(importlib.import_module(module), name)
            self._replace(fn, self._wrap(fn, layer, force))
        module, name = CANDIDATE_PAIRS
        fn = getattr(importlib.import_module(module), name)
        self._replace(fn, self._count_candidates(fn))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._originals):
            setattr(mod, attr, orig)
        self._originals.clear()

    # -- summaries ------------------------------------------------------
    def self_wall(self) -> dict[str, float]:
        """Wall time per span name, excluding time in child spans
        (forcing spans included)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def coverage(self, root: str) -> float:
        """Share of the ``root`` spans' wall covered by their layer spans."""
        roots = {i for i, s in enumerate(self.spans) if s["name"] == root}
        total = sum(self.spans[i]["end"] - self.spans[i]["start"] for i in roots)
        covered = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] in roots
        )
        return covered / total if total > 0 else 0.0

    def span_records(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {
                "name": s["name"],
                "start": round(s["start"] - t0, 6),
                "end": round(s["end"] - t0, 6),
                "parent": s["parent"],
            }
            for s in self.spans
        ]


def _event_files(log_dir: str) -> list[str]:
    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    ]
    return sorted(files)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task CPU / run time, shuffle written, spill and
    the task durations of each stage (for skew)."""
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    tasks: dict[int, list[dict]] = {}
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = group
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "dur": info["Finish Time"] - info["Launch Time"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": m.get("Disk Bytes Spilled", 0),
                        }
                    )
    out: dict[str, dict] = {}

    def acc(group):
        return out.setdefault(
            group or "(none)",
            {"jobs": 0, "cpu_s": 0.0, "run_s": 0.0, "shuffle_b": 0, "spill_b": 0,
             "stages": []},
        )

    for group in job_group.values():
        acc(group)["jobs"] += 1
    for sid, ts in tasks.items():
        a = acc(stage_group.get(sid))
        a["cpu_s"] += sum(t["cpu_ns"] for t in ts) / 1e9
        a["run_s"] += sum(t["run_ms"] for t in ts) / 1e3
        a["shuffle_b"] += sum(t["shuffle_w"] for t in ts)
        a["spill_b"] += sum(t["spill"] for t in ts)
        a["stages"].append([t["dur"] for t in ts])
    return out


def skew(stages: list[list[int]]) -> float:
    """Max ÷ median task time per multi-task stage, weighted by the
    stage's total task time (1.0 when no stage has two tasks, 0.0 when
    the layer ran no stage)."""
    if not stages:
        return 0.0
    num = den = 0.0
    for durs in stages:
        if len(durs) < 2:
            continue
        med = statistics.median(durs)
        weight = float(sum(durs))
        num += weight * (max(durs) / med if med > 0 else 1.0)
        den += weight
    return num / den if den > 0 else 1.0


def layer_metrics(tracer: Tracer, log_dir: str, cores: int,
                  input_bytes: int) -> dict[str, dict]:
    """Every per-layer metric, named ``<layer>.<metric>``."""
    groups = parse_event_log(log_dir)
    walls = tracer.self_wall()
    metrics: dict[str, dict] = {}
    empty = {"jobs": 0, "cpu_s": 0.0, "run_s": 0.0, "shuffle_b": 0, "spill_b": 0,
             "stages": []}
    for layer in LAYERS:
        # The forcing job runs the layer's own deferred plan: its tasks
        # are the layer's work, the job itself is the instrument's.
        own, forced = groups.get(layer, empty), groups.get(layer + FORCE, empty)
        g = {k: own[k] + forced[k] for k in empty}
        g["jobs"] = own["jobs"]
        wall = walls.get(layer, 0.0) + walls.get(layer + FORCE, 0.0)
        rows = sum(v for k, v in tracer.rows.items() if k.split(":")[0] == layer
                   and not k.endswith(":candidate_pairs"))
        values = {
            "wall_s": wall,
            "jobs": g["jobs"],
            "task_cpu_s": g["cpu_s"],
            "slot_util": g["run_s"] / (wall * cores) if wall > 0 else 0.0,
            "shuffle_mb": g["shuffle_b"] / 2**20,
            "spill_mb": g["spill_b"] / 2**20,
            "skew": skew(g["stages"]),
            "rows_out": rows,
        }
        for (name, unit) in LAYER_METRICS:
            metrics[f"{layer}.{name}"] = {"value": values[name], "unit": unit}
    candidates = tracer.rows.get("operators.resolve:candidate_pairs", 0)
    accepted = tracer.rows.get("operators.resolve:duplicate_pairs", 0)
    metrics["operators.resolve.candidate_pairs"] = {"value": candidates, "unit": "count"}
    metrics["operators.resolve.accept_ratio"] = {
        "value": accepted / candidates if candidates else 0.0, "unit": "ratio"}
    force = [g for name, g in groups.items() if name.endswith(FORCE)]
    metrics["trace.force_wall_s"] = {
        "value": sum(v for k, v in walls.items() if k.endswith(FORCE)), "unit": "s"}
    metrics["trace.force_jobs"] = {"value": sum(g["jobs"] for g in force), "unit": "count"}
    metrics["trace.force_task_cpu_s"] = {
        "value": sum(g["cpu_s"] for g in force), "unit": "s"}
    metrics["materialize.write_amp"] = {
        "value": tracer.bytes_written / input_bytes if input_bytes else 0.0,
        "unit": "ratio"}
    return metrics
