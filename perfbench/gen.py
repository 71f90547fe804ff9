"""Seeded input generators for the graft benchmark.

Every table is a pure function of its arguments, so one seed always yields
the same files. The engine only ever sees what is written here.

- ``star(dir, sf, content_seed, order_seed)``: the star schema the driver
  queries read (region .. embeddings), one parquet file and one row group
  per table, with the value domains of the reference-scale corpus.
  ``content_seed`` fixes the rows; ``order_seed`` only permutes their order,
  so results of order-insensitive queries do not depend on it.
- ``probes(dir, seed)``: inputs of the codegen-expression probes.
- ``recsys(dir, seed, ...)``: the reference pipeline's three CSV inputs
  (35-column anime metadata, a ratings file drawn from a planted low-rank
  model, and a headerless personal file with planted duplicates and nulls).
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMB_DIM = 64
EVENTS_PER_USER = 67


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    day = np.int64(86_400_000_000)
    return base + rng.integers(0, span, n).astype("int64") * day


def _write(dir_, name, cols, order_rng):
    table = pa.table(cols)
    if order_rng is not None:
        table = table.take(order_rng.permutation(table.num_rows))
    pq.write_table(table, os.path.join(dir_, f"{name}.parquet"),
                   row_group_size=max(table.num_rows, 1))


def star(dir_, sf, content_seed, order_seed=None):
    """Write the ten star-schema tables at scale factor ``sf``."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(content_seed)
    order = None if order_seed is None else np.random.default_rng(order_seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_li = max(int(6_000_000 * sf), 2000)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_doc = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 200)

    _write(dir_, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": REGIONS}, order)
    _write(dir_, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)}, order)

    ck = np.arange(n_cust, dtype="int64")
    _write(dir_, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}, order)

    sk = np.arange(n_supp, dtype="int64")
    _write(dir_, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
        order)

    pk = np.arange(n_part, dtype="int64")
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    _write(dir_, "part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)}, order)

    _write(dir_, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]},
        order)

    _write(dir_, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2499)}, order)

    # events: time-ordered ids, users grow with the corpus
    # (a constant ~67 events per user)
    n_users = max(n_ev // EVENTS_PER_USER, 10)
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    _write(dir_, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("int64"),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {i}}}' for i in range(100)])[
            rng.integers(0, 100, n_ev)]}, order)

    # documents: 10-100 words over a 30-word vocabulary; 5% are near
    # duplicates (an earlier document's text plus one word)
    vocab = np.array(WORDS)
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(dir_, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")}, order)

    emb = rng.normal(size=(n_emb, EMB_DIM)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(dir_, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32")}, order)


ANIME_COLUMNS = [
    "ID", "Name", "Score", "Genres", "English name", "Japanese name", "Type",
    "Episodes", "Aired", "Premiered", "Producers", "Licensors", "Studios",
    "Source", "Duration", "Rating", "Ranked", "Popularity", "Members",
    "Favorites", "Watching", "Completed", "On-Hold", "Dropped",
    "Plan to Watch", "Score-10", "Score-9", "Score-8", "Score-7", "Score-6",
    "Score-5", "Score-4", "Score-3", "Score-2", "Score-1"]
ANIME_TYPES = ["TV", "Movie", "OVA", "ONA", "Special"]
ANIME_TYPE_P = [0.4, 0.4, 0.08, 0.07, 0.05]
TARGET_USER = 666666


def recsys(dir_, seed, n_users=1500, n_items=800, per_user=20, rank=4,
           noise=0.5):
    """Write anime.csv, rating_complete.csv and valoraciones_EP.csv.

    Ratings are ``clip(1 + u . v + N(0, noise), 1, 10)`` with non-negative
    rank-``rank`` factors, so a fitted ALS model's RMSE is bounded by the
    planted noise. Returns the planted noise level.
    """
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    ids = np.arange(1, n_items + 1)
    types = np.array(ANIME_TYPES)[rng.choice(5, n_items, p=ANIME_TYPE_P)]
    with open(os.path.join(dir_, "anime.csv"), "w", newline="",
              encoding="utf-8") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(ANIME_COLUMNS)
        for i, t in zip(ids, types):
            english = "" if rng.random() < 0.2 else f"Title {i}, the series"
            score = "Unknown" if rng.random() < 0.05 else \
                f"{rng.uniform(4, 9.5):.2f}"
            w.writerow([
                int(i), f"Anime {i}", score, "Action, Comedy", english,
                f"アニメ{i}", t, int(rng.integers(1, 60)),
                "Apr 3, 2009 to Jul 4, 2010", "Unknown", "Aniplex, Dentsu",
                "Unknown", "Sunrise", "Manga", "24 min. per ep.",
                "PG-13 - Teens 13 or older", float(i), int(i),
                int(rng.integers(100, 100000)), int(rng.integers(0, 5000)),
                int(rng.integers(0, 9000)), int(rng.integers(0, 90000)),
                int(rng.integers(0, 900)), int(rng.integers(0, 900)),
                int(rng.integers(0, 9000))] +
                [f"{x:.1f}" for x in rng.uniform(0, 5000, 10)])

    u = rng.uniform(0.0, 1.5, (n_users, rank))
    v = rng.uniform(0.0, 1.5, (n_items, rank))

    def rate(users, items):
        r = 1.0 + np.sum(u[users] * v[items], axis=1) + \
            rng.normal(0.0, noise, len(users))
        return np.round(np.clip(r, 1.0, 10.0), 2)

    # every item is rated (community averages exist for any recommendation)
    users = np.repeat(np.arange(n_users), per_user)
    items = np.concatenate([rng.choice(n_items, per_user, replace=False)
                            for _ in range(n_users)])
    items[:n_items] = np.arange(n_items)
    pairs = np.unique(np.stack([users, items], 1), axis=0)
    users, items = pairs[:, 0], pairs[:, 1]
    ratings = rate(users, items)
    with open(os.path.join(dir_, "rating_complete.csv"), "w") as f:
        f.write("user_id,anime_id,rating\n")
        for a, b, r in zip(users, items, ratings):
            f.write(f"{a},{b + 1},{r}\n")

    # personal file: the target user (planted as user 0's taste), a
    # slice of main-file pairs repeated (dedup), and rows with nulls
    mine = rng.choice(n_items, 40, replace=False)
    mine_r = rate(np.zeros(len(mine), dtype=int), mine)
    dup = rng.choice(len(users), 200, replace=False)
    with open(os.path.join(dir_, "valoraciones_EP.csv"), "w") as f:
        for b, r in zip(mine, mine_r):
            f.write(f"{TARGET_USER},{b + 1},{r}\n")
        for k in dup:
            f.write(f"{users[k]},{items[k] + 1},{ratings[k]}\n")
        for k in range(10):
            f.write(f"{TARGET_USER},,{k + 1}.0\n" if k % 2 else
                    f"Unknown,{k + 1},5.0\n")
    return noise


def probes(dir_, seed, n_docs=600, n_sets=20_000, n_vecs=20_000):
    """Inputs of the codegen-expression probes: documents, pairs of
    overlapping hash sets, and pairs of 64-dim float vectors."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    vocab = np.array(WORDS)
    _write(dir_, "probe_docs", {
        "id": np.arange(n_docs, dtype="int64"),
        "text": [" ".join(vocab[rng.integers(0, len(vocab), n)])
                 for n in rng.integers(10, 101, n_docs)]}, None)
    width = 32
    base = rng.integers(0, 1 << 40, (n_sets, width))
    other = base.copy()
    swap = rng.random((n_sets, width)) < 0.3
    other[swap] = rng.integers(0, 1 << 40, int(swap.sum()))
    _write(dir_, "probe_sets", {
        "id": np.arange(n_sets, dtype="int64"),
        "a": pa.array(list(base), type=pa.list_(pa.int64())),
        "b": pa.array(list(other), type=pa.list_(pa.int64()))}, None)
    va = rng.normal(size=(n_vecs, EMB_DIM)).astype("float32")
    vb = rng.normal(size=(n_vecs, EMB_DIM)).astype("float32")
    _write(dir_, "probe_vectors", {
        "id": np.arange(n_vecs, dtype="int64"),
        "a": pa.array(list(va), type=pa.list_(pa.float32())),
        "b": pa.array(list(vb), type=pa.list_(pa.float32()))}, None)
