#!/usr/bin/env python3
"""Split each pipeline stage of a traced benchmark run at its first fetch.

    python3 tools/trace_stages.py .bench_build/trace-zoom_ingest-<seed>.json

Reads the spans `perfbench/run.py --trace 1` writes and prints one row per
`pipeline` span, in start order:

    start_s        span start, seconds on the trace clock
    stage          the pipeline stage (load_meetings, load_participants, ...)
    ms             the span's duration
    to_fetch_ms    time from the span start to its first `sources` fetch
                   (`-` when the stage fetched nothing)
    jobs<, ms<     Spark jobs started before that fetch, and their summed time
    jobs>, ms>     Spark jobs started after it, and their summed time
    fetches        `sources` fetch spans inside the stage

A job or fetch belongs to the pipeline span it was started under, directly
or through nested spans. The work before the first fetch is what a stage
pays before it can do the day's work (watermarks, anti-joins); the work
after it is the day's own writes. A closing table gives each stage's
totals over the run.
"""
import json
import sys
from collections import defaultdict


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}

    def stage_of(span):
        """The id of the pipeline span enclosing `span`, or None."""
        parent = by_id.get(span["parent"])
        while parent is not None and parent["layer"] != "pipeline":
            parent = by_id.get(parent["parent"])
        return parent["id"] if parent is not None else None

    fetches, jobs = defaultdict(list), defaultdict(list)
    for s in spans:
        if s["layer"] in ("sources", "ops"):
            owner = stage_of(s)
            if owner is not None:
                (fetches if s["layer"] == "sources" else jobs)[owner].append(s)

    stages = sorted((s for s in spans if s["layer"] == "pipeline" and s["endNs"] >= 0),
                    key=lambda s: s["startNs"])
    ms = lambda ns: ns / 1e6
    header = ("start_s", "stage", "ms", "to_fetch_ms", "jobs<", "ms<", "jobs>", "ms>", "fetches")
    print("{:>8} {:24} {:>9} {:>11} {:>5} {:>8} {:>5} {:>8} {:>7}".format(*header))
    totals = defaultdict(lambda: [0, 0.0, 0, 0.0, 0, 0.0, 0])
    for s in stages:
        first = min((f["startNs"] for f in fetches[s["id"]]), default=None)
        cut = first if first is not None else s["endNs"] + 1
        before = [j for j in jobs[s["id"]] if j["startNs"] < cut]
        after = [j for j in jobs[s["id"]] if j["startNs"] >= cut]
        row = (ms(s["endNs"] - s["startNs"]),
               len(before), sum(ms(j["endNs"] - j["startNs"]) for j in before),
               len(after), sum(ms(j["endNs"] - j["startNs"]) for j in after),
               len(fetches[s["id"]]))
        to_fetch = f"{ms(first - s['startNs']):.1f}" if first is not None else "-"
        print(f"{s['startNs'] / 1e9:8.2f} {s['name']:24} {row[0]:9.1f} {to_fetch:>11} "
              f"{row[1]:5d} {row[2]:8.1f} {row[3]:5d} {row[4]:8.1f} {row[5]:7d}")
        t = totals[s["name"]]
        t[0] += 1
        for i, v in enumerate(row):
            t[i + 1] += v

    print("\n{:24} {:>5} {:>9} {:>5} {:>8} {:>5} {:>8} {:>7}".format(
        "stage (total)", "spans", "ms", "jobs<", "ms<", "jobs>", "ms>", "fetches"))
    for name, t in totals.items():
        print(f"{name:24} {t[0]:5d} {t[1]:9.1f} {t[2]:5d} {t[3]:8.1f} {t[4]:5d} {t[5]:8.1f} {t[6]:7d}")


if __name__ == "__main__":
    main()
