"""Output checks. Each returns (set of failed op indices, report dict).

chat   - every turn's rows against DuckDB over the same parquet files;
search - every read against brute-force BM25 over the live corpus,
         replaying the writes in the order they ran;
curate - invariants on the warm-up run's output, every timed run's
         digest against it, and the per-stage survivor card.
"""
import json
import math
import os
from collections import Counter

import duckdb
import pyarrow.parquet as pq

from gen import norm_tokens

REL_TOL = 1e-9


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-6)
    return str(a) == str(b)


def check_chat(root, ops):
    script = json.load(open(os.path.join(root, "script.json")))
    turns = script["turns"]
    con = duckdb.connect()
    ds = os.path.join(root, "datasets", "bench")
    src = lambda t: f"read_parquet('{os.path.join(ds, t, 'data.parquet')}')"
    for t in script["tables"]:
        if t == "customer":
            body = (f"SELECT c_custkey, trim(c_name) AS c_name, c_nationkey, c_acctbal, "
                    f"upper(c_mktsegment) AS c_mktsegment FROM {src(t)}")
        elif t == "cust_nation":
            body = ("SELECT c.c_custkey AS customer_c_custkey, "
                    "c.c_mktsegment AS customer_c_mktsegment, "
                    "c.c_acctbal AS customer_c_acctbal, n.n_name AS nation_n_name "
                    "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey")
        else:
            body = f"SELECT * FROM {src(t)}"
        con.execute(f"CREATE VIEW {t} AS {body}")
    expected, failed = {}, set()
    for op in ops:
        turn = turns[op["i"]]
        if op["error"]:
            failed.add(op["i"])
            continue
        if turn["sql"] not in expected:
            expected[turn["sql"]] = [list(r) for r in con.execute(turn["sql"]).fetchall()]
        want, got = expected[turn["sql"]], op["rows"]
        ok = (len(want) == len(got) and
              all(len(w) == len(g) and all(map(_same, w, g)) for w, g in zip(want, got)))
        if not ok or op["attempts"] != (2 if turn["broken"] else 1):
            failed.add(op["i"])
    timed = [o for o in ops if o["timed"]]
    return failed, {"turns": len(timed),
                    "retry_turn_share": round(sum(o.get("attempts", 0) > 1 for o in timed) /
                                              max(1, len(timed)), 3),
                    "heavy_turn_share": round(sum(turns[o["i"]]["heavy"] for o in timed) /
                                              max(1, len(timed)), 3),
                    "distinct_sql_checked": len(expected)}


class Bm25:
    """The live corpus as term postings, scored exactly like
    TextSearch.searchTopK: idf = ln(1 + (N - df + .5)/(df + .5)),
    contrib = idf * tf / (tf + k1 (1 - b + b dl / avgdl))."""

    def __init__(self, ids, texts):
        self.tf, self.dl, self.post = {}, {}, {}
        for i, t in zip(ids, texts):
            self.add(int(i), t)

    def add(self, doc, text):
        c = Counter(norm_tokens(text))
        self.tf[doc], self.dl[doc] = c, sum(c.values())
        for w, n in c.items():
            self.post.setdefault(w, {})[doc] = n

    def remove(self, doc):
        for w in self.tf.pop(doc, {}):
            del self.post[w][doc]
        self.dl.pop(doc, None)

    def top(self, terms, k=10, k1=1.2, b=0.75):
        n = len(self.dl)
        avgdl = sum(self.dl.values()) / max(n, 1)
        score, matched = {}, Counter()
        for t in terms:
            p = self.post.get(t, {})
            idf = math.log(1.0 + (n - len(p) + 0.5) / (len(p) + 0.5))
            for d, f in p.items():
                score[d] = score.get(d, 0.0) + idf * f / (f + k1 * (1.0 - b + b * self.dl[d] / avgdl))
                matched[d] += 1
        ranked = sorted(score, key=lambda d: (-round(score[d], 6), d))[:k]
        return [(d, score[d], matched[d]) for d in ranked], score, matched


def check_search(root, ops):
    sched = json.load(open(os.path.join(root, "schedule.json")))["ops"]
    corpus = pq.read_table(os.path.join(root, "corpus.parquet")).to_pydict()
    idx = Bm25(corpus["doc_id"], corpus["text"])
    failed, empty, live_after = set(), 0, {}
    for op in sorted(ops, key=lambda o: o["i"]):
        s = sched[op["i"]]
        if s["kind"] in ("append", "update"):
            for d in s["docs"]:
                idx.remove(d["id"])
                idx.add(d["id"], d["text"])
        elif s["kind"] == "delete":
            for d in s["ids"]:
                idx.remove(d)
        if op["error"]:
            failed.add(op["i"])
            continue
        if s["kind"] != "read":
            live_after[op["i"]] = len(idx.dl)
            continue
        want, score, matched = idx.top(s["terms"])
        got = op["hits"]
        empty += not got
        ok = bool(got) and len(got) == len(want) and all(
            abs(g[1] - w[1]) <= 2e-6 for g, w in zip(got, want)) and all(
            g[0] in score and abs(round(score[g[0]], 6) - g[1]) <= 2e-6 and matched[g[0]] == g[2]
            for g in got)
        if not ok:
            failed.add(op["i"])
    return failed, {"empty_reads": empty, "live_docs_end": len(idx.dl)}, live_after


# stages of the program's own survivor card that the corpus must exercise
CURATE_STAGES = ["floors", "dedup", "rules", "decontamination"]


def check_curate(root, ops):
    corpus = pq.read_table(os.path.join(root, "corpus.parquet")).to_pydict()
    text_in = dict(zip(corpus["doc_id"], corpus["text"]))
    kind = json.load(open(os.path.join(root, "truth.json")))["kind"]
    failed, problems = set(), []
    failed.update(o["i"] for o in ops if o["error"])
    first = next((o for o in ops if "rows" in o), None)
    if first is None:
        return {o["i"] for o in ops}, {"problems": ["no curate output"]}
    # one seed, one output: every timed run's digest matches the warm-up's
    failed.update(o["i"] for o in ops if o["timed"] and o.get("digest") != first["digest"])
    rows = first["rows"]
    out_texts, rewritten = [], 0
    for doc, text, split in rows:
        src = norm_tokens(text_in[doc]) if doc in text_in else None
        toks = norm_tokens(text)
        # span surgery only cuts: the output tokens are a subsequence
        it = iter(src or [])
        if src is None or not toks or not all(t in it for t in toks):
            problems.append(f"doc {doc} is not a cut of its input")
        rewritten += src is not None and toks != src
        if kind[doc] == "blocklisted":
            problems.append(f"blocklisted doc {doc} survived")
        out_texts.append(" ".join(toks))
    if len(set(out_texts)) != len(out_texts):
        problems.append("exact-duplicate text survived")
    card = {s["stage"]: s for o in ops if "stages" in o for s in o["stages"]}
    n = len(text_in)
    shares = {}
    for st in CURATE_STAGES:
        s = card.get(st)
        if s is None or s["surviving"] == 0 or s["dropped"] == 0:
            problems.append(f"stage {st} kept or dropped nothing: {s}")
        else:
            shares[st] = round(s["surviving"] / n, 4)
    if not 0 < rewritten < len(rows):
        problems.append(f"span surgery rewrote {rewritten} of {len(rows)} docs")
    shares["span_surgery_rewritten"] = round(rewritten / max(1, len(rows)), 4)
    shares["output"] = round(len(rows) / n, 4)
    splits = Counter(r[2] for r in rows)
    if problems:
        failed.update(o["i"] for o in ops)
    return failed, {"survivor_share": shares, "splits": dict(sorted(splits.items())),
                    "problems": problems[:5]}
