"""Layer report from the traced runs of ``perfbench/run.py --trace 1``.

Usage (from the root of a checkout)::

    python3 perfbench/report.py [--top N] [trace.json ...]

Without arguments it reads the newest trace of each workload under
``perfbench/.work/traces/``. For each workload it prints the top ops by
build share of cold time, by Spark jobs per cold run, by shuffle bytes and
by py4j calls during build (medians over the run's passes), and the
tracing overhead the traced run recorded: its cold_total_s against the
median of the untraced runs of the same code in ``perfbench/history.jsonl``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

from run import WORK, _overhead_line

TRACES = os.path.join(WORK, "traces")


def _newest_traces() -> list[str]:
    newest: dict[str, tuple[float, str]] = {}
    for path in glob.glob(os.path.join(TRACES, "*.json")):
        name = os.path.basename(path).rsplit("-", 1)[0]
        mtime = os.path.getmtime(path)
        if name not in newest or mtime > newest[name][0]:
            newest[name] = (mtime, path)
    return [p for _, p in sorted(newest.values(), key=lambda v: v[1])]


def _op_rows(trace: dict) -> list[dict]:
    rows = []
    for op, rec in trace["ops"].items():
        runs = [r for r in rec["runs"] if r.get("ok") and "trace" in r]
        if not runs:
            continue

        def med(get):
            return statistics.median(get(r) for r in runs)

        cold = med(lambda r: r["cold_s"])
        rows.append({
            "op": op,
            "cold_s": cold,
            "build_share": med(lambda r: r["build_s"]) / cold if cold else 0.0,
            "jobs": med(lambda r: r["trace"]["spark_jobs"]),
            "unattributed": med(lambda r: r["trace"]["jobs_unattributed"]),
            "shuffle_bytes": med(
                lambda r: r["trace"]["shuffle_read_bytes"]
                + r["trace"]["shuffle_write_bytes"]
            ),
            "py4j_calls": med(lambda r: r["trace"]["py4j_calls"]),
            "collect_jobs": (rec.get("verify") or {}).get("collect_jobs"),
        })
    return rows


RANKINGS = (
    ("build share", "build_share", "{:.0%}"),
    ("spark jobs per cold run", "jobs", "{:g}"),
    ("shuffle bytes (read + write)", "shuffle_bytes", "{:,.0f}"),
    ("py4j calls during build", "py4j_calls", "{:g}"),
)


def report(trace: dict, top: int) -> None:
    print(
        f"== {trace['workload']} (sf={trace['sf']}, cpus={trace['cpus']}, "
        f"seed={trace['seed']}, passes={trace['passes']}, "
        f"git={trace.get('git_sha')}, dirty={trace.get('dirty')})"
    )
    rows = _op_rows(trace)
    for title, key, fmt in RANKINGS:
        print(f"  top ops by {title}:")
        for r in sorted(rows, key=lambda r: -r[key])[:top]:
            print(
                f"    {r['op']:<32} {fmt.format(r[key]):>14}   "
                f"cold {r['cold_s']:.3f} s, jobs {r['jobs']:g} "
                f"(collect {r['collect_jobs']}), "
                f"unattributed {r['unattributed']:g}"
            )
    info = trace["info"]
    print(
        f"  jobs: {info['event_log_jobs']} in the event log "
        f"({info.get('jobs_submitted')} submitted) = "
        f"{info['jobs_in_op_windows']} in op windows + "
        f"{info['jobs_outside_windows']} outside"
    )
    if "trace_overhead_share" in info:
        print(f"  {_overhead_line(info, trace['layers']['trace.cold_total_s'])}")
    else:
        print("  tracing overhead: no untraced run of the same code in history")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("traces", nargs="*")
    ap.add_argument("--top", type=int, default=5)
    args = ap.parse_args()
    paths = args.traces or _newest_traces()
    if not paths:
        raise SystemExit("no traces: run perfbench/run.py --trace 1 first")
    for path in paths:
        with open(path) as f:
            report(json.load(f), args.top)


if __name__ == "__main__":
    main()
