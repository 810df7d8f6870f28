"""Seeded input generators for the graft benchmark.

Every generator takes a numpy Generator seeded from the run's --seed and
writes parquet files with pyarrow in one row group and fixed options, so the
same seed gives byte-identical files. The program under test sees only these
files.

  events     sf0.1-shaped `events` rows (five event_type codes, user_id in
             [0,1500), exponential values, {"k": n} props) with unique,
             caller-assigned event_ids. The five codes matter:
             Thresholds.fromEvents derives the station dim from them.
  tables     the TPC-H-like star schema plus events/embeddings at a small
             scale factor and a `documents` corpus, for the query suite.
  corpus     a documents table with a planted share of near-duplicates; the
             planted (original, copy) pairs are returned so the caller can
             check that curation drops every copy.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# the 31-word vocabulary of the sf0.1 documents table
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_2024_US = int(datetime.datetime(2024, 1, 1).timestamp() * 1e6) \
    - int(datetime.datetime(1970, 1, 1).timestamp() * 1e6)


def write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30,
                   write_statistics=True)


def events_table(rng, n, first_id, span_s=30 * 86400):
    """`n` events with ids first_id..first_id+n-1, ts sorted over `span_s`."""
    ts = EPOCH_2024_US + np.sort(rng.integers(0, span_s * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def event_files(rng, out_dir, n_files, rows_per_file, first_id=0):
    """Write `n_files` events files part-00000.parquet.. into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    names = []
    for i in range(n_files):
        name = f"part-{i:05d}.parquet"
        write(events_table(rng, rows_per_file, first_id + i * rows_per_file),
              os.path.join(out_dir, name))
        names.append(name)
    return names


def _doc_text(rng, vocab, n_words):
    return " ".join(np.array(vocab)[rng.integers(0, len(vocab), n_words)])


def corpus(rng, n_docs, dup_share, vocab_size):
    """Documents table plus the planted near-duplicate pairs.

    A planted copy takes an earlier document of at least 40 words and
    replaces one word, so its 3-shingle Jaccard to the original is about
    0.9, above the 0.8 curation threshold. Copies get the higher doc_id,
    the side Dedup drops. `vocab_size` sets the mean 3-shingle document
    frequency; the caller picks it to keep that near sf0.1's."""
    vocab = VOCAB[:vocab_size]
    n_dup = int(round(n_docs * dup_share))
    n_orig = n_docs - n_dup
    texts = [_doc_text(rng, vocab, int(rng.integers(10, 101))) for _ in range(n_orig)]
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") >= 39]
    originals = rng.choice(long_ids, size=n_dup, replace=False)
    pairs = []
    for j, o in enumerate(originals):
        words = texts[o].split(" ")
        pos = int(rng.integers(0, len(words)))
        words[pos] = vocab[(vocab.index(words[pos]) + 1) % len(vocab)]
        texts.append(" ".join(words))
        pairs.append((int(o), n_orig + j))
    n = len(texts)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, pairs


def mean_shingle_df(texts, n=3):
    """Mean document frequency of word n-gram shingles (distinct per doc)."""
    df = {}
    for t in texts:
        w = t.split(" ")
        for s in {" ".join(w[i:i + n]) for i in range(max(len(w) - n, 0) + 1)}:
            df[s] = df.get(s, 0) + 1
    return sum(df.values()) / max(len(df), 1)


def vocab_for_df(n_docs, target_df=8.0):
    """Vocabulary size whose random 3-shingle space gives mean DF near
    `target_df` for `n_docs` documents of ~52 shingles each."""
    v = round((n_docs * 52.0 / target_df) ** (1.0 / 3.0))
    return int(min(max(v, 8), len(VOCAB)))


def tables(rng, out_dir, sf, n_docs, dup_share):
    """The query-suite tables at scale factor `sf` (sf0.1 = 600k lineitem),
    with a `documents` corpus of `n_docs` carrying planted near-duplicates
    at mean 3-shingle document frequency near sf0.1's. Returns the planted
    (original, copy) pairs."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), max(int(10000 * sf), 10), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_emb = int(1000000 * sf), int(20000 * sf)
    w = lambda name, cols: write(pa.table(cols), os.path.join(out_dir, name + ".parquet"))
    w("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    w("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(["MACHINERY", "FURNITURE", "BUILDING",
                                           "AUTOMOBILE", "HOUSEHOLD"])[rng.integers(0, 5, n_cust)])})
    w("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "cold", "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"])
    w("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
                                     "ECONOMY"])[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2404, n_ord) * np.timedelta64(86400 * 10**6, "us")
    w("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, n_ord)])})
    okey = rng.integers(0, n_ord, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n_line) * np.timedelta64(86400 * 10**6, "us")
    w("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    write(events_table(rng, n_ev, 0), os.path.join(out_dir, "events.parquet"))
    docs, pairs = corpus(rng, n_docs, dup_share, vocab_for_df(n_docs))
    write(docs, os.path.join(out_dir, "documents.parquet"))
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb, dtype=np.int32)
    v = centers[label] + rng.normal(scale=0.8, size=(n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(pa.table({"vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
                    "embedding": pa.array(list(v), pa.list_(pa.float32())),
                    "label": pa.array(label)}),
          os.path.join(out_dir, "embeddings.parquet"))
    return pairs


def write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)
