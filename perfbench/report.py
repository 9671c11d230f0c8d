"""Summarize run records into the benchmark baseline.

    python3 perfbench/report.py RECORD.json... [--out perfbench/baseline.json]
                                               [--md perfbench/BASELINE.md]

Records are the JSON files run.py writes under ``.bench_work/records/``
(or the record line it prints). For each workload the summary holds the
median and quartiles of every end-to-end metric over the untraced runs,
the median of every per-layer metric over the traced runs, the
ingest-and-search figures of the runs that have them, and the tracing
overhead (median traced minus median untraced operation wall).
With ``--md`` the summary is also rendered as a Markdown table.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def quartiles(values: list[float]) -> dict:
    q1, med, q3 = (
        statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    )
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else 0.0}


def summarize(records: list[dict]) -> dict:
    out: dict = {}
    for wl in sorted({r["workload"] for r in records}):
        plain = [r for r in records if r["workload"] == wl and not r["trace"]]
        traced = [r for r in records if r["workload"] == wl and r["trace"]]
        entry: dict = {"runs": len(plain), "traced_runs": len(traced)}
        if plain:
            entry["end_to_end"] = {
                name: {"unit": plain[0]["metrics"][name]["unit"],
                       **quartiles([r["metrics"][name]["value"] for r in plain])}
                for name in plain[0]["metrics"]
            }
            entry["figures"] = {
                name: {"unit": plain[0]["figures"][name]["unit"],
                       **quartiles([r["figures"][name]["value"] for r in plain])}
                for name in plain[0]["figures"]
            }
        entry["all_correct"] = all(
            all(c["ok"] for c in r["checks"]) for r in plain + traced)
        phase = [r for r in plain + traced if "ingest_s" in r["figures"]]
        if phase:
            walls = {"ingest_s": [], "search_s": []}
            for r in phase:
                for o in r["ops"]:
                    if o["kind"] == "batch":
                        walls["ingest_s"].append(o["wall"])
                    elif o["kind"] == "query":
                        walls["search_s"].append(o["wall"])
            entry["ingest_search"] = {
                "runs": len(phase), "traced": sum(r["trace"] for r in phase),
                **{k: {"unit": "s", **quartiles(v)} for k, v in walls.items() if v}}
        if traced:
            entry["per_layer"] = {
                name: {"unit": traced[0]["metrics"][name]["unit"],
                       "median": statistics.median(
                           r["metrics"][name]["value"] for r in traced)}
                for name in traced[0]["metrics"]
            }
        if plain and traced:
            untraced = statistics.median(
                statistics.median(r["op_walls_s"]) for r in plain)
            with_trace = statistics.median(
                statistics.median(r["op_walls_s"]) for r in traced)
            entry["tracing_overhead_s"] = with_trace - untraced
            entry["tracing_overhead_share"] = (with_trace - untraced) / untraced
        hosts = [r["host"] for r in plain + traced]
        entry["host"] = {
            k: statistics.median(h[k] for h in hosts)
            for k in ("first_touch_mb_s", "cpu_parallel_eff", "steal_share")
        }
        out[wl] = entry
    return out


def _fmt(v: float) -> str:
    return f"{v:.4g}"


def markdown(summary: dict) -> str:
    lines = []
    for wl, e in summary.items():
        lines.append(f"## `{wl}`\n")
        lines.append(f"{e['runs']} untraced runs, {e['traced_runs']} traced runs; "
                     f"every output matched the oracle digest: "
                     f"{'yes' if e.get('all_correct') else 'NO'}.\n")
        h = e["host"]
        lines.append(f"Host medians: first-touch {_fmt(h['first_touch_mb_s'])} MB/s, "
                     f"CPU parallel efficiency {_fmt(h['cpu_parallel_eff'])}, "
                     f"steal share {_fmt(h['steal_share'])}.\n")
        if "end_to_end" in e:
            lines.append("| metric | unit | N | median | q1 | q3 | IQR / median |")
            lines.append("|---|---|---|---|---|---|---|")
            for name, m in {**e["end_to_end"], **e["figures"]}.items():
                lines.append(f"| {name} | {m['unit']} | {m['n']} | {_fmt(m['median'])} | "
                             f"{_fmt(m['q1'])} | {_fmt(m['q3'])} | {_fmt(m['iqr_share'])} |")
            lines.append("")
        if "ingest_search" in e:
            p = e["ingest_search"]
            lines.append(f"Ingest-and-search phase ({p['runs']} runs, {p['traced']} of "
                         f"them traced; one batch and its queries per run):\n")
            lines.append("| figure | unit | N | median | q1 | q3 |")
            lines.append("|---|---|---|---|---|---|")
            for name in ("ingest_s", "search_s"):
                if name in p:
                    m = p[name]
                    lines.append(f"| {name} | s | {m['n']} | {_fmt(m['median'])} | "
                                 f"{_fmt(m['q1'])} | {_fmt(m['q3'])} |")
            lines.append("")
        if "tracing_overhead_s" in e:
            lines.append(f"Tracing overhead: {_fmt(e['tracing_overhead_s'])} s per operation "
                         f"({_fmt(100 * e['tracing_overhead_share'])} % of the untraced "
                         f"median).\n")
        if "per_layer" in e:
            layers: dict[str, dict] = {}
            extra = []
            for name, m in e["per_layer"].items():
                layer, _, metric = name.rpartition(".")
                if metric in ("wall_s", "jobs", "task_cpu_s", "slot_util",
                              "shuffle_mb", "spill_mb", "skew", "rows_out"):
                    layers.setdefault(layer, {})[metric] = m["median"]
                else:
                    extra.append(f"{name} = {_fmt(m['median'])} {m['unit']}")
            lines.append("| layer | wall_s | jobs | task_cpu_s | slot_util | shuffle_mb "
                         "| spill_mb | skew | rows_out |")
            lines.append("|---|---|---|---|---|---|---|---|---|")
            for layer, m in layers.items():
                if not m.get("wall_s") and not m.get("jobs"):
                    continue
                lines.append(f"| {layer} | " + " | ".join(
                    _fmt(m[k]) for k in ("wall_s", "jobs", "task_cpu_s", "slot_util",
                                         "shuffle_mb", "spill_mb", "skew", "rows_out"))
                    + " |")
            lines.append("")
            lines.extend(f"- {x}" for x in extra)
            lines.append("")
    return "\n".join(lines)


def load(path: str) -> dict:
    with open(path) as fh:
        text = fh.read()
    try:
        return json.loads(text)
    except json.JSONDecodeError:  # run.py stdout: record is the second-last line
        return json.loads(text.splitlines()[-2])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("records", nargs="+")
    ap.add_argument("--out")
    ap.add_argument("--md")
    ap.add_argument("--title", default="perfbench baseline")
    args = ap.parse_args()
    summary = summarize([load(p) for p in args.records])
    text = json.dumps(summary, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)
    if args.md:
        with open(args.md, "w") as fh:
            fh.write(f"# {args.title}\n\n")
            fh.write("Generated by `python3 perfbench/report.py` from the run records; "
                     "do not edit by hand.\n\n")
            fh.write(markdown(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
