"""The benchmark's workloads: their inputs, their JVM arguments and their
checks.

Each workload has `prepare(work, seed)`, which writes the inputs under
`work` and returns the plan (JVM arguments plus whatever the check
needs), and `check(work, plan, result)`, which returns (ok, why).
perfbench/run.py calls both through this file's command line, each in
a process of its own, so the native libraries they load (DuckDB, Arrow,
NumPy) never load into the process that prints the result:

    python3 perfbench/workloads.py prepare <workload> <work> <seed>
    python3 perfbench/workloads.py check <workload> <work>

The timed phase is a fixed amount of work: a fixed number of ops, never
derived from a clock or from `--seconds`, so every run times the same
work.
"""
import json
import os
import re
import sys

import build
import gen

BENCH = build.BENCH
EXPECTED = os.path.join(BENCH, "expected", "query_suite.json")

# --------------------------------------------------------------------------
# query_suite

# Consumers of pinned artifacts: the 6-seed co-trade walk table, the
# co-purchase pair table, the simhash components (built from the simhash
# pair artifact) and the bigram counts.
ARTIFACT = ["q126_harmonic", "q63_triangles", "dedup_clusters", "corpus_bigrams"]
# The graph-round consumer: the walk table's four walk rounds run once
# per session, in its cold first run, so graph rounds land in set-up.
GRAPH = ["q126_harmonic"]
# A size-gated dedup kernel: the <=16k single-task prefix-filter join.
SIZE_GATED = ["dedup_ppjoin"]
# Short pipeline and relational queries: the scheduling floor. With
# dedup_clusters and corpus_bigrams they hold the median op, so the
# median is a pool of similar latencies, not the middle of one query's
# few samples.
SHORT = ["pipe_filter", "pipe_expr", "pipe_select_rename", "pipe_text_map",
         "q24_date_funcs"]
QUERIES = ARTIFACT + SIZE_GATED + SHORT


def sf_dir():
    """The scale-factor directory graft's own Bench defaults to
    (SPARK_GRAFT_SF_DIR overrides it, as for Bench)."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf:
        src = open(os.path.join(build.ROOT, "src", "main", "scala", "graft",
                                "Bench.scala")).read()
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', src)
        if not m:
            raise build.BuildError("cannot find Bench's default scale-factor directory")
        sf = m.group(1)
    if not os.path.isdir(sf):
        raise build.BuildError(f"scale-factor directory {sf} not found")
    return sf


class QuerySuite:
    # 10 queries x 6 passes = 60 ops; the tail (ten ops beyond) is
    # p83.3. The median op falls among the seven short queries' 42
    # samples. Four untimed passes come first: each query's cold run and
    # three more, so that the JIT has settled before the first timed op.
    PASSES = 6
    WARM_PASSES = 4

    def prepare(self, work, seed):
        # the inputs are graft's fixed sf0.1 tables; the seed changes nothing
        return {"args": {"sf": sf_dir(), "queries": ",".join(QUERIES),
                         "passes": self.PASSES,
                         "warm_passes": self.WARM_PASSES, "graph": ",".join(GRAPH),
                         "artifact": ",".join(ARTIFACT)}}

    def check(self, work, plan, result):
        if not os.path.isfile(EXPECTED):
            return False, f"{EXPECTED} missing: run perfbench/oracle.py"
        import checks
        expected = json.load(open(EXPECTED))["queries"]
        return checks.check_queries(os.path.join(work, "results"), result["ops"],
                                    expected)


# --------------------------------------------------------------------------
# etl_hourly

SCHEMA = "id LONG, kind STRING, src STRING, body STRING, score DOUBLE, lang STRING"


def ingest_yaml(name, src, sink, dead_letter, run_id, langs):
    return f"""\
pipelines:
  - name: "{name}"
    source:
      type: file
      properties:
        path: "{src}"
        pattern: "*.csv"
        format: csv
        header: "true"
        schemaDdl: "{SCHEMA}"
    transformations:
      - type: filter
        properties:
          expression: "kind <> '{gen.FILTERED_KIND}'"
      - type: map
        properties:
          expression: "length(body)"
          as: n_chars
          columnMapping: {{body: text}}
      - type: quality
        properties:
          onViolation: route
          deadLetterPath: "{dead_letter}"
          runId: "{run_id}"
          rules:
            - {{kind: not_null, column: src}}
            - {{kind: not_null, column: text}}
            - {{kind: bounds, column: score, lo: "{gen.SCORE_BOUNDS[0]}", hi: "{gen.SCORE_BOUNDS[1]}"}}
            - {{kind: in_set, column: lang, allowed: "{','.join(langs)}"}}
    sink:
      type: file
      properties:
        path: "{sink}"
        format: parquet
"""


def report_yaml(name, src, sink):
    return f"""\
pipelines:
  - name: "{name}"
    source:
      type: file
      properties:
        path: "{src}"
        format: parquet
    transformations:
      - type: aggregate
        properties:
          groupBy: lang
          aggregations: {{docs: "count(*)", chars: "sum(n_chars)"}}
    sink:
      type: file
      properties:
        path: "{sink}"
        format: parquet
"""


def curate_yaml(name, src, sink, state):
    return f"""\
pipelines:
  - name: "{name}"
    source:
      type: file
      properties:
        path: "{src}"
        format: parquet
    transformations:
      - type: neardedup
        properties:
          id: id
          text: text
          mode: word
          ngram: 3
          threshold: "1/2"
          orderBy: id
          stateDir: "{state}"
    sink:
      type: file
      properties:
        path: "{sink}"
        format: parquet
"""


class EtlHourly:
    # hours 0-13 of sf0.1's events.ts, three pipelines an hour (ingest,
    # curate, report): the 42 ops put the median inside the ingest/report
    # latencies and the tail inside the curate latencies, never on a
    # boundary between them
    HOURS = 14
    WARM_FIRST_HOUR = 14
    WARM_HOURS = 4
    CLUSTERS_PER_HOUR = 4

    def layout(self, work, tag):
        root = os.path.join(work, tag)
        return {k: os.path.join(root, k) for k in
                ("input", "clean", "rejects", "curated", "report", "state", "specs")}

    def _hours(self, work, seed, tag, source):
        d = self.layout(work, tag)
        files, truth = gen.generate(d["input"], seed, tag, source,
                                    self.CLUSTERS_PER_HOUR, spread=True)
        langs = [lang for lang, _ in source.langs]
        os.makedirs(d["specs"])
        specs = []
        for i, f in enumerate(files):
            h = f"h{i:03d}"
            hour_dir = os.path.join(d["input"], h)
            os.makedirs(hour_dir)
            os.rename(f, os.path.join(hour_dir, "part.csv"))
            clean = os.path.join(d["clean"], h)
            curated = os.path.join(d["curated"], h)
            for kind, text in (
                    ("ingest", ingest_yaml(f"ingest-{tag}-{h}", hour_dir, clean,
                                           d["rejects"], h, langs)),
                    ("curate", curate_yaml(f"curate-{tag}-{h}", clean, curated,
                                           d["state"])),
                    ("report", report_yaml(f"report-{tag}-{h}", curated,
                                           os.path.join(d["report"], h)))):
                p = os.path.join(d["specs"], f"{kind}-{h}.yaml")
                open(p, "w").write(text)
                specs.append(p)
        return d, specs, truth

    def prepare(self, work, seed):
        sf = sf_dir()
        _, warm_specs, _ = self._hours(
            work, seed + 7919, "warm",
            gen.load_source(sf, self.WARM_FIRST_HOUR, self.WARM_HOURS))
        d, specs, truth = self._hours(work, seed, "hourly",
                                      gen.load_source(sf, 0, self.HOURS))
        return {"args": {"warm": ",".join(warm_specs), "specs": ",".join(specs),
                         "state": d["state"],
                         "sink_dirs": ",".join([d["clean"], d["rejects"], d["curated"],
                                                d["report"]])},
                "dirs": d, "hours": self.HOURS, "truth": truth}

    def check(self, work, plan, result):
        import checks
        return checks.check_etl(plan["dirs"], plan["hours"], plan["truth"])


ALL = {"query_suite": QuerySuite(), "etl_hourly": EtlHourly()}


def main(argv):
    cmd, name, work = argv[:3]
    wl = ALL[name]
    plan_file = os.path.join(work, "plan.json")
    if cmd == "prepare":
        plan = wl.prepare(work, int(argv[3]))
        with open(plan_file, "w") as fh:
            json.dump(plan, fh)
    elif cmd == "check":
        plan = json.load(open(plan_file))
        result = json.load(open(os.path.join(work, "result.json")))
        ok, why = wl.check(work, plan, result)
        with open(os.path.join(work, "verdict.json"), "w") as fh:
            json.dump({"ok": bool(ok), "why": why}, fh)
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
