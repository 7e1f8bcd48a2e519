#!/usr/bin/env python3
"""Per-op Spark job table of a traced perfbench run.

Reads the `spans.jsonl` a `perfbench/run.py --trace 1` run leaves in
`perfbench/.work/<workload>/` and prints, for each op kind (the op name
before `-h<hour>` or the query name), the Spark jobs its ops ran by
position: the median gap before each job (from the op's start or the
previous job's end), the median job duration, the median task count,
the layer it was credited to and the graft call site that started it.
A job started on an AQE pool thread carries no graft frame; it shows as
`(pool)` and belongs to the action whose site follows it.

    python3 tools/op_jobs.py [spans.jsonl] [--skip N] [--kind NAME]

`--skip N` (default 1) leaves out the first N ops of each kind (the
cold op, and for `etl_hourly` the curate op without history). Only the
ops with the kind's most common job count are tabulated, so positions
line up. Read-only: it writes nothing.
"""
import argparse
import collections
import json
import re
import statistics

FRAME = re.compile(r"(graft\.[\w.$]+)\((\w+\.scala:\d+)\)")


def graft_site(site):
    """The first graft frame of a job's call site, as Class.method(File:line)."""
    for frame in (site or "").split(" | "):
        m = FRAME.search(frame)
        if m:
            name = m.group(1).replace("$anonfun$", "").replace("$", ".")
            name = re.sub(r"\.+", ".", name).rstrip(".")
            name = re.sub(r"\.\d+$", "", name)
            return f"{name.removeprefix('graft.')}({m.group(2)})"
    return "(pool)"


def kind_of(name):
    return re.sub(r"-h\d+$", "", name)


def load(path):
    ops, jobs = {}, collections.defaultdict(list)
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = json.loads(line)
            if s["layer"] == "op":
                ops[s["op"]] = s
            elif s["name"].startswith("job ") and s["op"] >= 0:
                jobs[s["op"]].append(s)
    return ops, jobs


def table(kind, ops, jobs):
    counts = collections.Counter(len(jobs[o["op"]]) for o in ops)
    n_jobs, _ = counts.most_common(1)[0]
    same = [o for o in ops if len(jobs[o["op"]]) == n_jobs]
    lat = [o["end_ms"] - o["start_ms"] for o in ops]
    print(f"{kind}: {len(ops)} ops, jobs per op {n_jobs} "
          f"(range {min(counts)}-{max(counts)}; {len(same)} ops tabulated), "
          f"median op {statistics.median(lat):.1f} ms "
          f"(range {min(lat):.1f}-{max(lat):.1f})")
    rows = []
    for pos in range(n_jobs):
        gaps, durs, tasks, layers, sites = [], [], [], [], []
        for o in same:
            js = sorted(jobs[o["op"]], key=lambda j: (j["start_ms"], j["id"]))
            j = js[pos]
            prev_end = o["start_ms"] if pos == 0 else js[pos - 1]["end_ms"]
            gaps.append(j["start_ms"] - prev_end)
            durs.append(j["end_ms"] - j["start_ms"])
            tasks.append(j.get("tasks", 0))
            layers.append(j["layer"])
            sites.append(graft_site(j.get("site")))
        rows.append((pos + 1, statistics.median(gaps), statistics.median(durs),
                     statistics.median(tasks),
                     collections.Counter(layers).most_common(1)[0][0],
                     collections.Counter(sites).most_common(1)[0][0]))
    print(f"{'pos':>4} {'gap_ms':>7} {'job_ms':>7} {'tasks':>5}  {'layer':<10} site")
    for pos, gap, dur, t, layer, site in rows:
        print(f"{pos:>4} {gap:>7.1f} {dur:>7.1f} {t:>5g}  {layer:<10} {site}")
    print(f"{'sum':>4} {sum(r[1] for r in rows):>7.1f} "
          f"{sum(r[2] for r in rows):>7.1f}\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("spans", nargs="?",
                    default="perfbench/.work/etl_hourly/spans.jsonl")
    ap.add_argument("--skip", type=int, default=1)
    ap.add_argument("--kind", default=None)
    a = ap.parse_args()
    ops, jobs = load(a.spans)
    by_kind = collections.defaultdict(list)
    for o in sorted(ops.values(), key=lambda o: o["start_ms"]):
        by_kind[kind_of(o["name"])].append(o)
    total = sum(len(v) for v in jobs.values())
    print(f"{a.spans}: {len(ops)} timed ops, {total} jobs in them\n")
    for kind, kops in by_kind.items():
        if a.kind is None or kind == a.kind:
            kops = kops[a.skip:]
            if kops:
                table(kind, kops, jobs)


if __name__ == "__main__":
    main()
