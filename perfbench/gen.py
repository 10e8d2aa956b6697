"""Seeded input generator for the benchmark.

Everything the three workloads read is made here from the workload seed,
so the same seed always gives byte-identical inputs:

* ``tables(...)``  TPC-H-like star schema plus an ``events`` table, with
  the column names, types and value domains of the repository's fixture
  tables (the ``graft.ops`` keys read these);
* ``corpus(...)``  the ``curate`` corpus: Zipf vocabulary per language,
  planted exact duplicates, near-duplicate edit chains, null/empty texts;
* ``changes(...)`` the ``table_cdc`` change stream over ``lineitem``.

The sizes and shares come from ``spec.json`` (see its ``why`` fields).
"""
import json
import os
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def values(section):
    """{name: value} of a spec section whose entries are {value, why}."""
    return {k: v["value"] for k, v in section.items()}


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, offsets):
    base = np.datetime64(start, "us")
    return base + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


# --------------------------------------------------------------------------
# star schema

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "old", "red", "large", "hot", "cold", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def lineitem_columns(rng, n, n_orders, n_parts, n_supp):
    """Column arrays of ``n`` lineitem rows (shared with the change stream)."""
    return {
        "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, n_parts, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n)),
    }


def table_sizes(sf):
    return {"supplier": max(10, int(10000 * sf)),
            "customer": max(150, int(150000 * sf)),
            "part": max(200, int(200000 * sf)),
            "orders": max(1500, int(1500000 * sf)),
            "events": max(1000, int(1000000 * sf)),
            "users": max(15, int(15000 * sf))}


def tables(seed, sf, out, names=None):
    """Write the star-schema tables (all, or just ``names``) as parquet.
    Each table draws from its own seeded stream, so a subset is identical
    to the same tables of a full generation."""
    os.makedirs(out, exist_ok=True)
    z = table_sizes(sf)
    for i, name in enumerate(TABLES):
        if names is None or name in names:
            rng = np.random.default_rng([seed, 1, i])
            _write(_TABLE_GEN[name](rng, z), f"{out}/{name}.parquet")


def _region(rng, z):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})


def _nation(rng, z):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})


def _supplier(rng, z):
    n = z["supplier"]
    return pa.table({"s_suppkey": np.arange(n, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                     "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def _customer(rng, z):
    n = z["customer"]
    return pa.table({"c_custkey": np.arange(n, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n)],
                     "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n),
                     "c_mktsegment": np.array(SEGMENTS)[
                         rng.integers(0, 5, n)]})


def _part(rng, z):
    n = z["part"]
    names = np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n)],
                                    " "),
                        np.array(NOUN)[rng.integers(0, 8, n)])
    return pa.table({"p_partkey": np.arange(n, dtype=np.int64),
                     "p_name": names,
                     "p_brand": np.char.add("Brand#", rng.integers(
                         1, 26, n).astype(str)),
                     "p_type": np.array(PTYPES)[rng.integers(0, 6, n)],
                     "p_size": rng.integers(1, 51, n).astype(np.int32),
                     "p_retailprice": np.round(
                         900.0 + (np.arange(n) % 1000) * 0.1, 1)})


def _orders(rng, z):
    n = z["orders"]
    return pa.table({"o_orderkey": np.arange(n, dtype=np.int64),
                     "o_custkey": rng.integers(0, z["customer"], n,
                                               dtype=np.int64),
                     "o_orderstatus": np.array(["F", "O", "P"])[
                         rng.integers(0, 3, n)],
                     "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                     "o_orderdate": _days("1995-01-01",
                                          rng.integers(0, 2404, n)),
                     "o_orderpriority": np.array(PRIORITIES)[
                         rng.integers(0, 5, n)]})


def _lineitem(rng, z):
    return pa.table(lineitem_columns(rng, 4 * z["orders"], z["orders"],
                                     z["part"], z["supplier"]))


def _events(rng, z):
    n = z["events"]
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n))
    return pa.table({"event_id": np.arange(n, dtype=np.int64),
                     "ts": np.datetime64("2024-01-01", "us")
                     + ts.astype("timedelta64[us]"),
                     "user_id": rng.integers(0, z["users"], n,
                                             dtype=np.int64),
                     "event_type": np.array(EVENT_TYPES)[
                         rng.integers(0, 5, n)],
                     "value": np.round(rng.exponential(50.0, n), 2),
                     "props": [f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n)]})


_TABLE_GEN = {"region": _region, "nation": _nation, "supplier": _supplier,
              "customer": _customer, "part": _part, "orders": _orders,
              "lineitem": _lineitem, "events": _events}
TABLES = list(_TABLE_GEN)


# --------------------------------------------------------------------------
# curate corpus

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu",
           "den"],
    "es": ["el", "la", "que", "y", "en", "un", "es", "se", "no", "los"],
    "fr": ["le", "et", "les", "des", "une", "est", "dans", "pour", "qui",
           "sur"],
    "zh": ["wo", "ni", "ta", "shi", "bu", "zai", "you", "hen", "ye", "dou"]}
ACCENTS = {"en": "", "de": "äöü", "es": "áéíñó", "fr": "àçéèê", "zh": ""}
LETTERS = "abcdefghijklmnoprstuvwy"


def _vocab(rng, lang, size, accent_share):
    """``size`` distinct synthetic words; stopwords at ranks 10, 20, ..."""
    letters = np.array(list(LETTERS))
    acc = ACCENTS[lang]
    words, seen = [], set(STOPWORDS[lang])
    while len(words) < size:
        m = 2 * size
        lens = rng.integers(3, 11, m)
        chars = letters[rng.integers(0, len(letters), (m, 10))]
        if acc:
            hit = rng.random(m) < accent_share
            pos = (rng.random(m) * lens).astype(int)
            chars[hit, pos[hit]] = np.array(list(acc))[
                rng.integers(0, len(acc), int(hit.sum()))]
        for row, n in zip(chars, lens):
            w = "".join(row[:n])
            if w not in seen:
                seen.add(w)
                words.append(w)
    words = words[:size]
    for i, sw in enumerate(STOPWORDS[lang]):
        words.insert(10 * (i + 1) - 1, sw)
    return np.array(words[:size], dtype=object)


def _lines(rng, toks):
    """Join tokens into lines of 6..18 tokens."""
    cuts = np.cumsum(rng.integers(6, 19, len(toks) // 6 + 1))
    cuts = [0] + [int(c) for c in cuts[cuts < len(toks)]] + [len(toks)]
    return "\n".join(" ".join(toks[i:j]) for i, j in zip(cuts, cuts[1:]))


def corpus(seed, p, out):
    """Write the ``corpus`` shards (doc_id, source, text) and ``planted.parquet``
    (doc_id, kind, grp): kind is orig/exact/chain/spam/null/empty and grp
    names the planted group (the original's position for exact copies,
    the chain id for chain members)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = p["docs"]
    langs = sorted(STOPWORDS)
    vocab = {l: _vocab(rng, l, p["vocab_per_language"], p["accent_share"])
             for l in langs}
    ranks = np.arange(1, p["vocab_per_language"] + 1)
    zipf = 1.0 / ranks ** p["zipf_exponent"]
    zipf /= zipf.sum()
    lo, hi = p["doc_tokens"]

    cdf = np.cumsum(zipf)

    def draw(lang, k):
        return vocab[lang][np.minimum(np.searchsorted(cdf, rng.random(k)),
                                      len(cdf) - 1)]

    def fresh(lang):  # log-uniform length: most documents are short
        return list(draw(lang, int(np.exp(rng.uniform(np.log(lo),
                                                        np.log(hi + 1))))))

    n_null = round(n * p["null_share"])
    n_empty = round(n * p["empty_share"])
    n_exact = round(n * p["exact_dup_share"])
    chain_len = p["chain_length"]
    n_chains = round(n * p["near_dup_share"]) // chain_len
    n_spam = round(n * p["spam_share"])
    n_orig = n - n_null - n_empty - n_exact - n_chains * chain_len - n_spam
    docs = []  # (kind, grp, lang, text)
    for _ in range(n_orig):
        lang = langs[int(rng.integers(0, 5))]
        docs.append(("orig", -1, lang, _lines(rng, fresh(lang))))
    for c in range(n_chains):
        lang = langs[int(rng.integers(0, 5))]
        toks = fresh(lang)
        for _ in range(chain_len):
            docs.append(("chain", c, lang, _lines(rng, toks)))
            toks = list(toks)
            m = max(1, round(len(toks) * p["edit_share"]))
            for j, w in zip(rng.choice(len(toks), m, replace=False),
                            draw(lang, m)):
                toks[j] = w
    for _ in range(n_spam):
        lang = langs[int(rng.integers(0, 5))]
        toks = fresh(lang)
        if rng.random() < 0.5:  # one line repeated: the dup-line gate
            line = " ".join(toks[:10])
            docs.append(("spam", -1, lang, "\n".join([line] * (len(toks) // 10))))
        else:  # one bigram repeated: the top-n-gram gate
            docs.append(("spam", -1, lang, " ".join(toks[:2] * (len(toks) // 2))))
    for _ in range(n_exact):
        src = int(rng.integers(0, n_orig))
        _, _, lang, text = docs[src]
        if rng.random() < p["nfd_copy_share"]:
            text = unicodedata.normalize("NFD", text)
        docs.append(("exact", src, lang, text))
    docs += [("null", -1, "", None)] * n_null
    docs += [("empty", -1, "", "")] * n_empty
    perm = rng.permutation(n)  # position -> doc_id
    src_w = 1.0 / np.arange(1, p["sources"] + 1)
    source = rng.choice(p["sources"], n, p=src_w / src_w.sum())
    grp = [d[1] if d[0] != "exact" else int(perm[d[1]]) for d in docs]
    corpus_t = pa.table({"doc_id": perm.astype(np.int64),
                         "source": [f"src{s:02d}" for s in source],
                         "text": pa.array([d[3] for d in docs], pa.string())})
    os.makedirs(f"{out}/corpus")
    shard = -(-n // p["shards"])
    for i in range(p["shards"]):
        _write(corpus_t.slice(i * shard, shard), f"{out}/corpus/part-{i:02d}.parquet")
    _write(pa.table({"doc_id": perm.astype(np.int64),
                     "kind": [d[0] for d in docs],
                     "grp": pa.array(grp, pa.int64())}),
           f"{out}/planted.parquet")


# --------------------------------------------------------------------------
# table_cdc change stream

def changes(seed, sf, p, out):
    """Write ``cdc_base.parquet`` (lineitem + row_id + part), the change
    rows ``cdc_changes.parquet`` (batch + table columns) and the schedule
    ``cdc_schedule.json``: one entry per step, in order."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    z = table_sizes(sf)
    li = pq.read_table(f"{out}/lineitem.parquet")
    n0 = li.num_rows
    nparts = p["partitions"]
    part = rng.integers(0, nparts, n0)
    base = li.append_column("row_id", pa.array(np.arange(n0, dtype=np.int64))) \
        .append_column("part", pa.array([f"p{x:02d}" for x in part]))
    _write(base, f"{out}/cdc_base.parquet")
    b = p["batch_rows"]
    cap = n0 + p["rounds"] * 3 * b
    part = np.concatenate([part, np.full(cap - n0, -1)])
    alive = np.zeros(cap, dtype=bool)
    alive[:n0] = True
    next_id = n0
    sched, chunks = [], []

    def rows(ids, k, status=None):
        cols = lineitem_columns(rng, len(ids), z["orders"], z["part"],
                                z["supplier"])
        if status is not None:
            cols["l_linestatus"] = np.array(status, dtype=object)
        t = pa.table(cols)
        t = t.append_column("row_id", pa.array(np.array(ids, dtype=np.int64)))
        return t.append_column("part", pa.array([f"p{k:02d}"] * len(ids)))

    def pick(k, m):
        return [int(x) for x in rng.choice(
            np.flatnonzero(alive & (part == k)), m, replace=False)]

    def add(ids, k):
        part[ids] = k
        alive[ids] = True

    def batch(verb, t):
        i = len(sched)
        sched.append({"step": i, "round": r, "verb": verb, "rows": t.num_rows})
        chunks.append(t.append_column("batch", pa.array([i] * t.num_rows,
                                                        pa.int32())))

    def step(verb):
        sched.append({"step": len(sched), "round": r, "verb": verb, "rows": 0})

    for r in range(p["rounds"]):
        k = int(rng.integers(0, nparts))
        upd = pick(k, b * 7 // 10)
        new = list(range(next_id, next_id + b - len(upd)))
        next_id += len(new)
        batch("upsert", rows(upd + new, k))
        add(new, k)
        # merge: updates, deletes (l_linestatus 'D' marks them) and inserts
        tgt = pick(k, b * 6 // 10)
        upd, dele = tgt[:b * 4 // 10], tgt[b * 4 // 10:]
        new = list(range(next_id, next_id + b - len(tgt)))
        next_id += len(new)
        status = list(np.array(["F", "O"])[rng.integers(0, 2, len(upd))]) + \
            ["D"] * len(dele) + \
            list(np.array(["F", "O"])[rng.integers(0, 2, len(new))])
        batch("merge", rows(upd + dele + new, k, status))
        alive[dele] = False
        add(new, k)
        for _ in range(p["deletes_per_materialize"]):
            kd = int(rng.integers(0, nparts))
            dk = pick(kd, p["delete_keys"])
            batch("delete_mor", rows(dk, kd))
            alive[dk] = False
        step("apply_dv")
        # The append comes after the rewrites of its partition, so that
        # partition holds two files when the compaction runs.
        new = list(range(next_id, next_id + b))
        next_id += b
        batch("append", rows(new, k))
        add(new, k)
        if (r + 1) % p["rounds_per_compaction"] == 0:
            step("compact")
            step("vacuum")
    _write(pa.concat_tables(chunks), f"{out}/cdc_changes.parquet")
    with open(f"{out}/cdc_schedule.json", "w") as f:
        json.dump(sched, f)


def generate(workload, seed, out):
    """Make every input ``workload`` reads under ``out``."""
    spec = load_spec()
    sf = spec["tables"]["scale_factor"]["value"]
    if workload == "query_mix":
        tables(seed, sf, out)
    if workload == "table_cdc":
        tables(seed, sf, out, ["lineitem"])
        changes(seed, sf, values(spec["table_cdc"]), out)
    if workload == "curate":
        corpus(seed, values(spec["curate"]), out)
