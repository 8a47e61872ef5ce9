"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and draws from its own
numpy Generator, so the same seed gives byte-identical inputs and the
engine only ever sees what is generated here.

* `tables`    — the star schema plus events, documents and embeddings,
                shaped like the repo's sf test tables (same columns, types
                and value domains), at a given scale factor.
* `blocks`    — jsonpickle block lines for the chain pipeline, in the
                shape of the repository's throughput benchmarks, with the
                number of resolvable spends known in closed form.
* `documents` — document micro-batches with a planted cross-batch
                duplicate share, with the number of fresh docs known.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
NOUN = ["ring", "widget", "plate", "rod", "gear", "bolt", "valve", "pipe"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
EPOCH_2024 = 19723  # days from 1970-01-01 to 2024-01-01


def _text(rng, lo=10, hi=100):
    return " ".join(rng.choice(WORDS, size=int(rng.integers(lo, hi))))


def _ts(days_us):
    return pa.array(days_us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, seed, sf):
    """Write the ten parquet tables the registry queries read."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    n_doc = n_vec = int(50_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING",
                                    "AUTOMOBILE", "HOUSEHOLD"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
                              "ECONOMY"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts((EPOCH_1995 + rng.integers(0, 2405, n_ord))
                           * US_PER_DAY),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okeys = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    perm = rng.permutation(n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": okeys[perm],
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lnum[perm],
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts((EPOCH_1995 + 1 + rng.integers(0, 2499, n_li))
                          * US_PER_DAY)})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(EPOCH_2024 * US_PER_DAY + ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["signup", "error", "click", "view",
                                  "purchase"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # 5% of documents repeat an earlier one with a " dup" suffix: the
    # near-duplicate structure the dedup queries look for
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("f4")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32")})


def blocks(seed, n_blocks, start_height=1000):
    """Chain micro-batch input: one jsonpickle line per block, in the
    shape of the repository's own throughput benchmarks
    (`graft.tools.ThroughputBench`, `StreamThroughputBench`), whose
    20k-block batches give the pipeline's recorded blocks/s: two
    transactions per block, `a<h>` minting one output and `b<h>` spending
    output 0 of the previous block's `a`, with receiver addresses drawn
    from two fixed pools (`w<k>`, `x<k>`).

    The seed sets the pool sizes (address reuse: 800 to 1,200 addresses
    each, where the benchmarks use 1,000 and 997), the token mix (the
    share of mints that carry a token besides ada, 0.75 to 1.0, from one
    of four policies, where the benchmarks always mint one), and the
    values.

    Returns (lines, facts): facts holds `resolved`, per block, the
    closed-form count the pipeline's output is checked against (input
    rows the resolver must find: one per unit of the spent output; the
    first block's spend points before the stream and finds none), and the
    token `prices`."""
    rng = np.random.default_rng(seed)
    n_w, n_x = (int(k) for k in rng.integers(800, 1201, 2))
    token_share = float(rng.uniform(0.75, 1.0))
    policies = [f"p{k}" for k in range(1, 5)]
    asset = "6161"
    h = np.arange(start_height, start_height + n_blocks)
    w = rng.integers(0, n_w, n_blocks)
    x = rng.integers(0, n_x, n_blocks)
    mint = rng.integers(1_000_000, 50_000_000, n_blocks)
    spend = rng.integers(500_000, 1_000_000, n_blocks)
    has_token = rng.random(n_blocks) < token_share
    policy = rng.integers(0, len(policies), n_blocks)
    qty = rng.integers(1, 10_000, n_blocks)
    fees = rng.integers(150_000, 400_000, (n_blocks, 2))
    lines = []
    for i in range(n_blocks):
        token = (f',\\"{policies[policy[i]]}\\":{{\\"{asset}\\":{qty[i]}}}'
                 if has_token[i] else "")
        lines.append(
            f'{{"py/state":{{"blocktype":"praos","era":"conway",'
            f'"height":{h[i]},"id":"blk{h[i]}","slot":{20 * h[i]},'
            f'"transactions":[{{"id":"a{h[i]}","inputs":[],"outputs":'
            f'[{{"address":"w{w[i]}","datum":null,"value":'
            f'"{{\\"ada\\":{{\\"lovelace\\":{mint[i]}}}{token}}}"}}],'
            f'"fee":"{fees[i, 0]}"}},{{"id":"b{h[i]}","inputs":[{{"index":0,'
            f'"transaction":{{"id":"a{h[i] - 1}"}}}}],"outputs":'
            f'[{{"address":"x{x[i]}","datum":null,"value":'
            f'"{{\\"ada\\":{{\\"lovelace\\":{spend[i]}}}}}"}}],'
            f'"fee":"{fees[i, 1]}"}}]}}}}')
    units = 1 + has_token.astype(int)
    resolved = [0] + [int(u) for u in units[:-1]]
    prices = [(p + asset, round(float(rng.uniform(0.001, 2.0)), 6), 2)
              for p in policies]
    return lines, {"resolved": resolved, "prices": prices}


def documents(seed, n_batches, batch_size):
    """Document micro-batches with a planted duplicate share.

    The share (drawn from the seed in [0.15, 0.25]) of each batch after
    the first repeats, word for word, a document offered in an earlier
    batch. Returns (batches, facts): each batch is a list of (doc_id,
    text, source) rows; facts holds `dup_share` and `fresh`, the number
    of documents whose text is seen for the first time, per batch."""
    rng = np.random.default_rng(seed)
    share = float(rng.uniform(0.15, 0.25))
    words = np.array(WORDS)
    seen, order, batches, fresh = set(), [], [], []
    doc_id = 0
    for b in range(n_batches):
        dup = rng.random(batch_size) < share if b > 0 else \
            np.zeros(batch_size, bool)
        picks = rng.integers(0, max(len(order), 1), batch_size)
        lengths = rng.integers(20, 100, batch_size)
        drawn = words[rng.integers(0, len(words), int(lengths.sum()))]
        ends = np.cumsum(lengths)
        known = len(order)
        rows, n_fresh = [], 0
        for i in range(batch_size):
            if dup[i]:
                text = order[picks[i] % known]
            else:
                text = " ".join(drawn[ends[i] - lengths[i]:ends[i]])
            if text not in seen:
                seen.add(text)
                order.append(text)
                n_fresh += 1
            rows.append((doc_id, text, f"src{doc_id % 20}"))
            doc_id += 1
        batches.append(rows)
        fresh.append(n_fresh)
    return batches, {"dup_share": share, "fresh": fresh}
