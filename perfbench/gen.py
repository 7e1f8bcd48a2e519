"""Seeded input generator for `etl_hourly`.

It replays graft's own sf0.1 tables hour by hour. Hour i of a run holds
the `events` rows of hour `first_hour + i` of `events.ts`, one CSV row
per event:

    id = event_id, kind = event_type, src, body, score = value, lang

So the volume per hour, the event-type mix and the scores are the
table's own. `src`, `lang` and `body` come from the `documents` table's
make-up, drawn with a seeded generator: sources uniformly from its
sources, languages with its language shares, and each text from its
31-word vocabulary with a word count drawn from its word counts.

On top of the replay the generator plants, with the truth written
beside the inputs:

* rows the pipelines' filter rejects: the `error` events;
* quality violators, each breaking a known subset of the four rules
  (`null_src`, `null_text`, `bounds_score`, `domain_lang`);
* near-duplicate clusters: one base text of 60 words and 2-4 copies
  that each swap one word for a word outside the vocabulary, so every
  pair has word-3-shingle Jaccard >= 52/64 = 0.81, far above the
  stage's 1/2 threshold; a third of the clusters spread their copies
  over the following hours;
* distractors that share only a cluster's first 12 words (Jaccard
  about 0.09, far below the threshold) and must survive.

Every cluster member and distractor is a clean row, so the dedup stage
sees all of them. Event ids rise with `ts`, so ids rise strictly from
hour to hour, the order the incremental dedup fold requires.
Single-threaded and deterministic: the same seed writes the same bytes.
"""
import bisect
import json
import os
import random

RULES = ["null_src", "null_text", "bounds_score", "domain_lang"]
FILTERED_KIND = "error"   # the ingest filter keeps `kind <> 'error'`
SCORE_BOUNDS = (0, 1000)  # sf0.1 event values lie in [0, 560.21]
VIOLATOR_SHARE = 1 / 12   # of the rows that pass the filter
BASE_WORDS = 60


class Source:
    """What the generator replays (`hours`: per hour, a list of
    (event_id, event_type, value)) and the text make-up it draws from."""

    def __init__(self, hours, words, word_counts, langs, sources):
        self.hours = hours
        self.words = words              # the vocabulary
        self.word_counts = word_counts  # one entry per document
        self.langs = langs              # [(lang, documents)], shares by count
        self.sources = sources


def load_source(sf, first_hour, n_hours):
    """Reads the replayed hours from `<sf>/events.parquet` and the text
    make-up from `<sf>/documents.parquet` with DuckDB."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 1")
    ev = f"read_parquet('{os.path.join(sf, 'events.parquet')}')"
    doc = f"read_parquet('{os.path.join(sf, 'documents.parquet')}')"
    rows = con.execute(f"""
        WITH h AS (SELECT event_id, event_type, value,
                          date_diff('hour', min(date_trunc('hour', ts)) OVER (),
                                    date_trunc('hour', ts)) AS hour
                   FROM {ev})
        SELECT hour, event_id, event_type, value FROM h
        WHERE hour >= ? AND hour < ? ORDER BY event_id""",
                       [first_hour, first_hour + n_hours]).fetchall()
    hours = [[] for _ in range(n_hours)]
    for h, eid, kind, value in rows:
        hours[h - first_hour].append((eid, kind, value))
    words = [w for (w,) in con.execute(
        f"SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM {doc} ORDER BY w"
    ).fetchall()]
    counts = [n for (n,) in con.execute(
        f"SELECT len(string_split(text, ' ')) FROM {doc} ORDER BY doc_id").fetchall()]
    langs = con.execute(f"SELECT lang, count(*) FROM {doc} GROUP BY 1 ORDER BY 1").fetchall()
    sources = [s for (s,) in con.execute(
        f"SELECT DISTINCT source FROM {doc} ORDER BY 1").fetchall()]
    con.close()
    return Source(hours, words, counts, langs, sources)


def _q(s):
    return '"' + s.replace('"', '""') + '"'


def csv_line(row):
    """id,kind,src,body,score,lang; None is an empty field, which Spark's
    CSV reader reads as null."""
    def f(v):
        if v is None:
            return ""
        if isinstance(v, str):
            return _q(v)
        return repr(v)
    return ",".join(f(row[k]) for k in ("id", "kind", "src", "body", "score", "lang"))


HEADER = "id,kind,src,body,score,lang"


class Corpus:
    """Draws the generated fields of consecutive hours."""

    def __init__(self, seed, tag, source):
        self.rng = random.Random(f"{tag}:{seed}")
        self.src = source
        total = sum(n for _, n in source.langs)
        self.lang_cdf, acc = [], 0
        for _, n in source.langs:
            acc += n
            self.lang_cdf.append(acc / total)
        self.pending = {}   # hour index -> [(cluster id, text)]
        self.cluster_seq = 0

    def text(self, n=None):
        if n is None:
            n = self.rng.choice(self.src.word_counts)
        return " ".join(self.rng.choice(self.src.words) for _ in range(n))

    def lang(self):
        i = bisect.bisect_left(self.lang_cdf, self.rng.random())
        return self.src.langs[min(i, len(self.src.langs) - 1)][0]

    def mutate(self, base):
        w = base.split(" ")
        i = self.rng.randrange(5, len(w) - 5)
        w[i] = self.rng.choice(self.src.words) + "q"  # a word outside the vocabulary
        return " ".join(w)

    def generated(self, body):
        return {"src": self.rng.choice(self.src.sources), "body": body,
                "lang": self.lang()}

    def violate(self, row):
        k = 1 if self.rng.random() < 0.7 else 2
        broken = sorted(self.rng.sample(range(4), k))
        for b in broken:
            if b == 0:
                row["src"] = None
            elif b == 1:
                row["body"] = None
            elif b == 2:
                row["score"] = self.rng.choice([None, -1.5, 1000.25, 4096.0])
            else:
                row["lang"] = self.rng.choice(["xx", "EN", "pt"])
        return [RULES[b] for b in broken]

    def batch(self, index, events, n_clusters, spread):
        """Rows of one hour (in event order) and their truth records."""
        kept = [i for i, (_, kind, _) in enumerate(events) if kind != FILTERED_KIND]
        specs = [("violator", None)] * int(len(kept) * VIOLATOR_SHARE)
        for _ in range(n_clusters):
            cid = self.cluster_seq
            self.cluster_seq += 1
            base = self.text(BASE_WORDS)
            copies = [self.mutate(base) for _ in range(self.rng.randint(2, 4))]
            if spread and self.rng.random() < 1 / 3:
                # keep the base here, spread copies over later hours
                specs.append(("cluster", (cid, base)))
                for j, c in enumerate(copies):
                    self.pending.setdefault(index + 1 + j % 3, []).append((cid, c))
            else:
                specs += [("cluster", (cid, t)) for t in [base] + copies]
            specs.append(("distractor", " ".join(base.split(" ")[:12]) + " " +
                          self.text(BASE_WORDS - 12)))
        specs += [("cluster", p) for p in self.pending.pop(index, [])]
        assert len(specs) <= len(kept), "hour too small for its planted rows"
        specs += [("unique", None)] * (len(kept) - len(specs))
        self.rng.shuffle(specs)
        role = dict(zip(kept, specs))
        rows, truth = [], []
        for i, (eid, kind, value) in enumerate(events):
            what, payload = role.get(i, ("filtered", None))
            rules, cluster = [], None
            if what == "cluster":
                cluster, body = payload
            elif what == "distractor":
                body = payload
            else:
                body = self.text()
            row = dict(self.generated(body), id=eid, kind=kind, score=value)
            if what == "violator":
                rules = self.violate(row)
            rows.append(row)
            truth.append({"id": eid, "filtered": what == "filtered",
                          "rules": rules, "cluster": cluster, "row": row})
        return rows, truth


def write_csv(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        fh.write(HEADER + "\n")
        for r in rows:
            fh.write(csv_line(r) + "\n")


def generate(out_dir, seed, name, source, clusters_per_batch, spread):
    """Writes `<out_dir>/<name>_<i>.csv` for each hour of `source` and
    `<out_dir>/<name>_truth.json`; returns (file paths, truth)."""
    corpus = Corpus(seed, name, source)
    files, truth = [], []
    for i, events in enumerate(source.hours):
        rows, t = corpus.batch(i, events, clusters_per_batch, spread)
        path = os.path.join(out_dir, f"{name}_{i:03d}.csv")
        write_csv(path, rows)
        files.append(path)
        for rec in t:
            rec["batch"] = i
        truth += t
    with open(os.path.join(out_dir, f"{name}_truth.json"), "w") as fh:
        json.dump(truth, fh)
    return files, truth
