"""Output checks, made apart from graft.

* `query_suite`: each result is compared with the DuckDB oracle the way
  tools/parity.py compares: row count, column names and a canonical hash
  of all values (columns sorted by name, rows sorted, floats bit-exact).
* `etl_hourly`: the sinks are read back with DuckDB
  and compared row by row with the generator's planted truth.

Each check is split into a loader (reads the files) and a verifier
(pure, over plain Python values), so perfbench/test_checks.py can feed
the verifiers corrupted outputs.
"""
import collections
import decimal
import glob
import hashlib
import os

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# canonical result summary (query_suite)


def canonical(df):
    """parity.py's canonical form: columns sorted by name, datetimes as
    naive ns, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]")
        elif df[c].dtype == object and len(df[c]) and \
                all(isinstance(v, decimal.Decimal) for v in df[c] if v is not None):
            # parity compares a decimal column with the oracle's double
            # column as float64
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def summary(df):
    """Rows, column names, per-column kind and one hash over all values.
    Ints and floats hash apart (parity fails an int/float mismatch);
    floats hash their float64 bits, with -0.0 as 0.0 and one NaN."""
    df = canonical(df)
    h = hashlib.sha256()
    kinds = []
    for c in df.columns:
        a = df[c].to_numpy()
        kind = "int" if a.dtype.kind in "iu" else "float" if a.dtype.kind == "f" else "other"
        kinds.append(kind)
        h.update(f"{c}\x1e{kind}\x1e".encode())
        if kind == "float":
            f = a.astype("float64") + 0.0
            f[np.isnan(f)] = np.nan
            h.update(f.tobytes())
        else:
            h.update("\x1f".join(pd.Series(a).astype(str)).encode())
        h.update(b"\x1d")
    return {"rows": int(len(df)), "columns": list(df.columns), "kinds": kinds,
            "hash": h.hexdigest()}


def verify_summary(name, got, want):
    if got["columns"] != want["columns"]:
        return f"{name}: columns {got['columns']} != oracle {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"{name}: {got['rows']} rows != oracle {want['rows']}"
    if got["kinds"] != want["kinds"]:
        return f"{name}: column kinds {got['kinds']} != oracle {want['kinds']}"
    if got["hash"] != want["hash"]:
        return f"{name}: values differ from the oracle"
    return None


def check_queries(results_dir, ops, expected):
    """Every op's result (identified by its digest) was written under
    `results_dir/<query>/<digest>/`; each must match the oracle."""
    for o in ops:
        if not o["ok"]:
            continue
        if o["name"] not in expected:
            return False, f"{o['name']}: no oracle result"
        if not os.path.isdir(os.path.join(results_dir, o["name"], o["digest"])):
            return False, f"op {o['id']} {o['name']}: result {o['digest']} not written"
    for qdir in sorted(glob.glob(os.path.join(results_dir, "*", "*"))):
        name = os.path.basename(os.path.dirname(qdir))
        files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
        got = summary(pd.concat([pd.read_parquet(f) for f in files]))
        why = verify_summary(name, got, expected[name])
        if why:
            return False, why
    return True, None


# --------------------------------------------------------------------------
# etl_hourly

def expected_row(t):
    """What a clean or dead-letter row must hold after filter and map."""
    r = t["row"]
    return {"id": r["id"], "kind": r["kind"], "src": r["src"], "text": r["body"],
            "score": r["score"], "lang": r["lang"],
            "n_chars": None if r["body"] is None else len(r["body"])}


def read_rows(con, pattern):
    """All rows of the parquet files matching `pattern`, as dicts."""
    files = sorted(glob.glob(pattern))
    if not files:
        return []
    cur = con.execute("SELECT * FROM read_parquet(?, hive_partitioning = false)", [files])
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def count_rows(con, pattern):
    files = sorted(glob.glob(pattern))
    if not files:
        return 0
    return con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]


def verify_rows(label, got, want):
    """`got` rows must be exactly the `want` rows: same multiset of ids,
    and each row's fields equal (dead-letter rows also their rules)."""
    ids = collections.Counter(r["id"] for r in got)
    twice = [i for i, n in ids.items() if n > 1]
    if twice:
        return f"{label}: id {twice[0]} written {ids[twice[0]]} times"
    want_by_id = {w["id"]: w for w in want}
    missing = set(want_by_id) - set(ids)
    if missing:
        return f"{label}: {len(missing)} row(s) missing, e.g. id {min(missing)}"
    extra = set(ids) - set(want_by_id)
    if extra:
        return f"{label}: {len(extra)} unexpected row(s), e.g. id {min(extra)}"
    for r in got:
        w = want_by_id[r["id"]]
        for k, v in w.items():
            gv = r.get(k)
            if k == "violated_rules":
                gv = list(gv) if gv is not None else None
            if gv != v:
                return f"{label}: id {r['id']} has {k}={gv!r}, expected {v!r}"
    return None


def expected_etl(truth, hours):
    """Per hour: clean rows, dead-letter rows, and dedup survivors (the
    smallest id of each planted cluster, every other clean row once)."""
    cluster_min = {}
    for t in truth:
        if t["cluster"] is not None:
            cluster_min[t["cluster"]] = min(cluster_min.get(t["cluster"], t["id"]), t["id"])
    out = {h: {"clean": [], "rejects": [], "curated": [], "report": []}
           for h in range(hours)}
    for t in truth:
        if t["filtered"]:
            continue
        e = out[t["batch"]]
        if t["rules"]:
            e["rejects"].append(dict(expected_row(t), violated_rules=t["rules"]))
        else:
            e["clean"].append(expected_row(t))
            if t["cluster"] is None or cluster_min[t["cluster"]] == t["id"]:
                e["curated"].append(expected_row(t))
    for e in out.values():
        by_lang = {}
        for r in e["curated"]:
            n, c = by_lang.get(r["lang"], (0, 0))
            by_lang[r["lang"]] = (n + 1, c + r["n_chars"])
        # the report has one row per language; verify_rows keys rows by `id`
        e["report"] = [{"id": k, "lang": k, "docs": n, "chars": c}
                       for k, (n, c) in by_lang.items()]
    return out


def verify_etl(got, truth, hours):
    """`got[h]` holds the rows read back from hour h's clean, dead-letter,
    curated and report sinks, and DuckDB's count(*) of each."""
    want = expected_etl(truth, hours)
    for h in range(hours):
        for sink in ETL_SINKS:
            rows = got[h][sink]
            if got[h]["counts"][sink] != len(want[h][sink]):
                return False, (f"hour {h} {sink}: DuckDB counts "
                               f"{got[h]['counts'][sink]} rows, expected "
                               f"{len(want[h][sink])}")
            why = verify_rows(f"hour {h} {sink}", rows, want[h][sink])
            if why:
                return False, why
    return True, None


ETL_SINKS = ("clean", "rejects", "curated", "report")


def load_etl(dirs, hours):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 1")
    got = {}
    for h in range(hours):
        pats = {k: os.path.join(dirs[k], f"run=h{h:03d}" if k == "rejects" else f"h{h:03d}",
                                "*.parquet") for k in ETL_SINKS}
        got[h] = {k: read_rows(con, p) for k, p in pats.items()}
        for r in got[h]["report"]:
            r["id"] = r["lang"]
        got[h]["counts"] = {k: count_rows(con, p) for k, p in pats.items()}
    return got


def check_etl(dirs, hours, truth):
    return verify_etl(load_etl(dirs, hours), truth, hours)
