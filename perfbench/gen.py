"""Seeded input generation for the three workloads.

Everything the program sees is made here from the workload seed: the ten
relational tables and their schema.yaml datasets (chat), the question
script with its scripted SQL (chat), the Zipf corpus with its query and
write schedule (search), and the defect-seeded corpus plus blocklist
(curate). The same seed always gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "of", "and", "to", "a", "in", "that", "is", "was", "it",
             "for", "on", "with", "as", "be", "at", "by", "this", "have",
             "from", "or", "an", "but", "not", "are", "which", "were", "all"]
VOCAB_SIZE = 24000
STOP_SHARE = 0.42  # share of stopword tokens in English prose
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def write_parquet(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


# ---------------------------------------------------------------- text

class Vocab:
    """A Zipf vocabulary of distinct 3-10 letter words, no stopwords."""

    def __init__(self, rng):
        words, seen = [], set(STOPWORDS)
        while len(words) < VOCAB_SIZE:
            n = int(rng.integers(3, 11))
            w = "".join(rng.choice(LETTERS, n))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = np.array(words)
        p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.05
        self.cdf = np.cumsum(p / p.sum())
        sp = 1.0 / np.arange(1, len(STOPWORDS) + 1)
        self.stop_cdf = np.cumsum(sp / sp.sum())
        self.stops = np.array(STOPWORDS)

    def ranks(self, rng, n):
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)), VOCAB_SIZE - 1)

    def tokens(self, rng, n):
        content = self.words[self.ranks(rng, n)]
        stops = self.stops[np.searchsorted(self.stop_cdf, rng.random(n))]
        return np.where(rng.random(n) < STOP_SHARE, stops, content)

    def prose(self, rng, n):
        """n tokens as sentences: capitalised, full stop every ~12 words."""
        toks = list(self.tokens(rng, n))
        out, i = [], 0
        while i < len(toks):
            k = int(rng.integers(8, 17))
            sent = toks[i:i + k]
            sent[0] = sent[0].capitalize()
            out.append(" ".join(sent) + ".")
            i += k
        return " ".join(out)


def norm_tokens(text):
    """The index's tokenization: lowercase, non-alphanumerics stripped."""
    t = "".join(c for c in text.lower().strip() if c.isalnum() or c.isspace())
    return t.split()


def perturb(rng, vocab, text, share):
    """Replace a `share` of the words: a near-duplicate of `text`."""
    toks = text.split(" ")
    n = max(1, int(len(toks) * share))
    for i in rng.choice(len(toks), n, replace=False):
        toks[i] = str(vocab.words[vocab.ranks(rng, 1)[0]])
    return " ".join(toks)


# ---------------------------------------------------------------- chat

SEGMENTS = ["automobile", "building", "furniture", "household", "machinery"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH_1992 = np.datetime64("1992-01-01", "us")


def gen_tables(rng, root):
    """The ten sf0.1-sized tables, one schema.yaml dataset each, plus a
    view; `customer` carries transformations."""
    n_sup, n_cust, n_part, n_ord = 1000, 15000, 20000, 150000
    days = lambda n: EPOCH_1992 + (rng.integers(0, 2400, n) * 86400_000_000).astype("timedelta64[us]")
    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": REGIONS}
    t["nation"] = {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": NATIONS,
                   "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}
    t["supplier"] = {"s_suppkey": np.arange(n_sup, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_sup).astype(np.int32)),
                     "s_acctbal": np.round(rng.uniform(-999, 9999, n_sup), 2)}
    # raw segment names are lowercase and customer names padded: the
    # dataset's to_uppercase / strip transformations have work to do
    t["customer"] = {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"  Customer#{i:09d} " for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                     "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                     "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])}
    adj = np.array(["large", "small", "hot", "cold", "shiny", "matte"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    t["part"] = {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                                            noun[rng.integers(0, 6, n_part)])),
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": pa.array(np.array(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO"])[
                     rng.integers(0, 5, n_part)]),
                 "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                 "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)}
    t["orders"] = {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                   "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
                   "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
                   "o_orderdate": pa.array(days(n_ord), pa.timestamp("us")),
                   "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                     "5-LOW"])[rng.integers(0, 5, n_ord)])}
    n_li = n_ord * 4
    t["lineitem"] = {"l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), 4),
                     "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                     "l_suppkey": rng.integers(0, n_sup, n_li).astype(np.int64),
                     "l_linenumber": pa.array(np.tile(np.arange(1, 5, dtype=np.int32), n_ord)),
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0,
                     "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                     "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
                     "l_shipdate": pa.array(days(n_li), pa.timestamp("us"))}
    n_ev = 100000
    t["events"] = {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": pa.array(np.datetime64("2024-01-01", "us") + np.sort(
                       rng.integers(0, 86400 * 60 * 10**6, n_ev)).astype("timedelta64[us]"),
                       pa.timestamp("us")),
                   "user_id": rng.integers(0, 2000, n_ev).astype(np.int64),
                   "event_type": pa.array(np.array(["view", "click", "signup", "error", "purchase"])[
                       rng.integers(0, 5, n_ev)]),
                   "value": np.round(rng.uniform(0, 200, n_ev), 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    vocab = Vocab(rng)
    n_doc = 5000
    texts = [vocab.prose(rng, int(rng.integers(10, 80))) for _ in range(n_doc)]
    t["documents"] = {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
                      "lang": pa.array(np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n_doc)]),
                      "source": [f"src{s}" for s in rng.integers(0, 10, n_doc)],
                      "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    n_emb = 2000
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    t["embeddings"] = {"vec_id": np.arange(n_emb, dtype=np.int64),
                       "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                       "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))}
    for name, cols in t.items():
        d = os.path.join(root, "datasets", "bench", name)
        write_parquet(os.path.join(d, "data.parquet"), cols)
        extra = ""
        if name == "customer":
            extra = ("columns:\n" + "".join(f"- name: {c}\n" for c in cols) +
                     "transformations:\n"
                     "- type: to_uppercase\n  params:\n    column: c_mktsegment\n"
                     "- type: strip\n  params:\n    column: c_name\n")
        with open(os.path.join(d, "schema.yaml"), "w") as f:
            f.write(f"name: {name}\nsource:\n  type: parquet\n  path: data.parquet\n{extra}")
    d = os.path.join(root, "datasets", "bench", "cust_nation")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "schema.yaml"), "w") as f:
        f.write("name: cust_nation\nview: true\ncolumns:\n"
                "- name: customer.c_custkey\n- name: customer.c_mktsegment\n"
                "- name: customer.c_acctbal\n- name: nation.n_name\n"
                "relations:\n- from: customer.c_nationkey\n  to: nation.n_nationkey\n")
    return list(t) + ["cust_nation"]


def _questions(rng):
    """Seeded parameters for every question template: (cheap, heavy)
    lists of (text, sql). Cheap lookups touch dimension tables, the
    transformed `customer` dataset and the `cust_nation` view; the heavy
    one joins the 600k-row lineitem to orders, customer and nation."""
    seg = SEGMENTS[int(rng.integers(0, 5))].upper()
    nk = int(rng.integers(0, 25))
    year = int(rng.integers(1992, 1998))
    cheap = [
        (f"which nation has key {nk}",
         f"SELECT n_name FROM nation WHERE n_nationkey = {nk}"),
        (f"how many {seg} customers are there",
         f"SELECT count(*) AS n FROM customer WHERE c_mktsegment = '{seg}'"),
        (f"nations with the most {seg} customers",
         f"SELECT nation_n_name, count(*) AS n FROM cust_nation "
         f"WHERE customer_c_mktsegment = '{seg}' GROUP BY nation_n_name "
         f"ORDER BY n DESC, nation_n_name LIMIT 5"),
    ]
    heavy = (f"revenue by nation for orders placed in {year}",
             f"SELECT n.n_name, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
             f"FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
             f"JOIN customer c ON o.o_custkey = c.c_custkey "
             f"JOIN nation n ON c.c_nationkey = n.n_nationkey "
             f"WHERE year(o.o_orderdate) = {year} GROUP BY n.n_name "
             f"ORDER BY revenue DESC, n.n_name LIMIT 5")
    return cheap, heavy


def break_sql(sql):
    """A first attempt that fails analysis: one column name misspelt."""
    for col in ("n_name", "c_mktsegment"):
        if col in sql:
            return sql.replace(col, col + "x", 1)
    raise ValueError(sql)


def gen_chat(rng, root, n_convs=100):
    """Conversations of one chat and three follow-ups, all of one shape:
    each of the three cheap templates once and the heavy join once, with
    one cheap question getting a broken first SQL, so the correction
    retry runs on a quarter of the turns. The seed draws every parameter
    and the order of the turns in each conversation. A window of whole
    conversations therefore has the same mix for every seed, and the
    warm-up conversation has run every query shape."""
    tables = gen_tables(rng, root)
    turns = []
    for _ in range(n_convs):
        cheap, heavy = _questions(rng)
        conv = [(text, sql, False) for text, sql in cheap] + [(*heavy, True)]
        broken = int(rng.integers(0, len(cheap)))
        for j in map(int, rng.permutation(len(conv))):
            text, sql, is_heavy = conv[j]
            turns.append({"heavy": is_heavy, "broken": j == broken, "sql": sql, "question": text})
    for i, t in enumerate(turns):
        t["id"] = f"t{i:05d}"
        t["question"] = f"[{t['id']}] {t['question']}"
        t["bad_sql"] = break_sql(t["sql"]) if t["broken"] else None
    with open(os.path.join(root, "script.json"), "w") as f:
        json.dump({"tables": tables, "turns": turns}, f)
    return {"turns_scripted": len(turns),
            "heavy_share": round(sum(t["heavy"] for t in turns) / len(turns), 3),
            "broken_share": round(sum(t["broken"] for t in turns) / len(turns), 3),
            "tables": len(tables)}


# ---------------------------------------------------------------- search

def gen_search(rng, root, n_docs=2000, n_units=40):
    """Initial corpus plus a schedule of units. A unit is one write group:
    two reads before each of an update, an append and a delete, and a
    compaction after the delete, which folds the tombstones. The first
    unit, the warm-up, is one read and an update. Reads draw 1-3 terms
    by Zipf rank among terms in at least 5 docs of the initial corpus.
    Ops that start a unit carry `unit_start`, so a window of whole units
    has the same mix for every seed."""
    vocab = Vocab(rng)
    live = {}
    ids = np.arange(n_docs, dtype=np.int64)
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:  # exact duplicates
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(vocab.prose(rng, int(rng.integers(30, 120))))
    for i, t in zip(ids, texts):
        live[int(i)] = t
    write_parquet(os.path.join(root, "corpus.parquet"), {"doc_id": ids, "text": texts})
    df = {}
    for t in texts:
        for w in set(norm_tokens(t)):
            df[w] = df.get(w, 0) + 1
    rank = {w: r for r, w in enumerate(vocab.words)}
    pool = sorted((w for w, c in df.items() if c >= 5 and w in rank), key=rank.get)
    pcdf = np.cumsum(1.0 / np.arange(1, len(pool) + 1))
    pcdf /= pcdf[-1]
    next_id = n_docs

    def read():
        n = int(rng.integers(1, 4))
        return {"kind": "read",
                "terms": sorted({pool[int(np.searchsorted(pcdf, rng.random()))] for _ in range(n)})}

    def write(kind):
        nonlocal next_id
        if kind == "append":
            docs = [{"id": next_id + j, "text": vocab.prose(rng, int(rng.integers(30, 120)))}
                    for j in range(40)]
            next_id += 40
            for d in docs:
                live[d["id"]] = d["text"]
            return [{"kind": kind, "docs": docs}]
        victims = sorted(int(x) for x in rng.choice(sorted(live), 20, replace=False))
        if kind == "delete":
            for v in victims:
                del live[v]
            return [{"kind": kind, "ids": victims}, {"kind": "compact"}]
        docs = [{"id": v, "text": vocab.prose(rng, int(rng.integers(30, 120)))} for v in victims]
        for d in docs:
            live[d["id"]] = d["text"]
        return [{"kind": kind, "docs": docs}]

    ops = []
    for u in range(n_units):
        unit = []
        for kind in ["update", "append", "delete"] if u else ["update"]:
            unit += [read() for _ in range(2 if u else 1)] + write(kind)
        unit[0]["unit_start"] = True
        ops += unit
    with open(os.path.join(root, "schedule.json"), "w") as f:
        json.dump({"ops": ops}, f)
    return {"docs": n_docs, "distinct_terms": len(df),
            "dup_share": round(1 - len(set(texts)) / n_docs, 4),
            "write_share": round(sum(o["kind"] != "read" for o in ops) / len(ops), 3)}


# ---------------------------------------------------------------- curate

BOILERPLATE = ("subscribe to our newsletter for weekly updates and exclusive "
               "offers delivered straight to your inbox every monday morning")


def gen_curate(rng, root, n_docs=600, n_block=60):
    """A corpus where every curate stage has work: seeded shares of
    gibberish and digit/punctuation junk (quality floor),
    exact and near duplicates (dedup), short docs (Gopher rules),
    blocklist copies (decontamination), and shared boilerplate plus
    in-doc repeats (span surgery). The rest is clean Zipf prose."""
    vocab = Vocab(rng)
    block = [vocab.prose(rng, int(rng.integers(60, 120))) for _ in range(n_block)]
    texts, kind = [], []
    for i in range(n_docs):
        r = rng.random()
        if r < 0.04:
            k, t = "gibberish", " ".join("a" * int(rng.integers(3, 7)) +
                                         "b" * int(rng.integers(0, 2)) for _ in range(60))
        elif r < 0.08:
            k, t = "junk", " ".join([f"{int(rng.integers(10, 99))}.{int(rng.integers(10, 99))},"] * 3 +
                                    ["#"] * 2)
        elif r < 0.13 and i > 0:
            k, t = "exact_dup", texts[int(rng.integers(0, i))]
        elif r < 0.18 and i > 0:
            k, t = "near_dup", perturb(rng, vocab, texts[int(rng.integers(0, i))], 0.02)
        elif r < 0.23:
            k, t = "short", vocab.prose(rng, int(rng.integers(6, 15)))
        elif r < 0.27:
            k, t = "blocklisted", perturb(rng, vocab, block[int(rng.integers(0, n_block))], 0.02)
        else:
            k, t = "clean", vocab.prose(rng, int(rng.integers(60, 160)))
            if rng.random() < 0.15:
                t = t + " " + BOILERPLATE
            if rng.random() < 0.05:
                span = vocab.prose(rng, 14)
                t = t + " " + " ".join([span] * 3)
        texts.append(t)
        kind.append(k)
    ids = np.arange(n_docs, dtype=np.int64)
    write_parquet(os.path.join(root, "corpus.parquet"), {"doc_id": ids, "text": texts})
    write_parquet(os.path.join(root, "blocklist.parquet"),
                  {"bl_id": np.arange(n_block, dtype=np.int64), "text": block})
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump({"kind": kind}, f)
    norm = [" ".join(norm_tokens(t)) for t in texts]
    distinct = {w for t in norm for w in t.split()}
    shares = {k: round(kind.count(k) / n_docs, 4) for k in sorted(set(kind))}
    return {"docs": n_docs, "distinct_terms": len(distinct),
            "dup_share": round(1 - len(set(norm)) / n_docs, 4), "kind_shares": shares}


def generate(workload, seed, root):
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    return {"chat": gen_chat, "search": gen_search, "curate": gen_curate}[workload](rng, root)
