"""Seeded input generators for the benchmark.

Everything the program reads is made here from `--seed`; the same seed
gives byte-identical inputs. numpy's PCG64 stream is stable across
platforms and releases for the calls used here.

- `tables`: the ten parquet tables the `SparkEntry.queries` builders
  read (TPC-H-like star schema plus `events`, `documents`,
  `embeddings`), with the same schemas and value distributions as the
  repository's test data (TESTDATA.md), at a small scale factor.
- `corpus`: a Zipfian word corpus with punctuation separators and the
  independent `word, count` reference the wordcount job must produce.
- `stream_events`: `events` replicated K times with shifted user and
  event ids, cut into time-ordered parquet files for the file source.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00 UTC

DOC_WORDS = ("join hash row batch scan column customer filter small slow merge "
             "order vector line table data agg value key stream window a spark "
             "part group big sort query fast the").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, seed, sf):
    """Write the query tables at scale factor `sf` (1.0 ~ TPC-H sf1)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = max(int(15_000 * sf), 15), int(1_000_000 * sf)
    n_docs, n_vecs = 500, 500

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{out}/part.parquet", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2499, n_line) * DAY_US)})
    _write(f"{out}/events.parquet", _events(rng, n_events, n_users))

    # documents: random bags over a 31-word vocabulary; ~5% are a
    # copy of an earlier document with " dup" appended (near-dups)
    words = np.array(DOC_WORDS)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


def _events(rng, n, n_users):
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def stream_events(out, seed, base_events, replicas, n_files):
    """`replicas` user populations of `base_events` events each (the
    scaling-probe scheme: same timestamps, user ids shifted by 10^7 and
    event ids by 10^8 per replica), cut into `n_files` consecutive time
    ranges. Returns the row count of each file."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    base = _events(rng, base_events, max(base_events // 60, 15))
    ts = base["ts"].to_numpy().astype(np.int64)
    cols = {k: [] for k in base}
    for k in range(replicas):
        cols["event_id"].append(base["event_id"] + k * 100_000_000)
        cols["ts"].append(ts)
        cols["user_id"].append(base["user_id"] + k * 10_000_000)
        for c in ("event_type", "value"):
            cols[c].append(base[c])
        cols["props"].append(np.array(base["props"]))
    merged = {c: np.concatenate(v) for c, v in cols.items()}
    order = np.argsort(merged["ts"], kind="stable")
    merged = {c: v[order] for c, v in merged.items()}
    counts = []
    for f, idx in enumerate(np.array_split(np.arange(len(order)), n_files)):
        part = {c: v[idx] for c, v in merged.items()}
        part["ts"] = _ts(part["ts"])
        _write(f"{out}/part-{f:04d}.parquet", part)
        counts.append(len(idx))
    return counts


SEPARATORS = [b" ", b" ", b" ", b", ", b". ", b"; ", b" - ", b"! ", b"? ",
              b" (", b") ", b": ", b"\n", b"\n", b" \"", b"\" "]


def corpus(path, expected_path, seed, n_words, vocab=40_000, zipf_s=1.1):
    """Write a Zipfian text of `n_words` words and, beside it, the
    reference output: `word, count` lines sorted by word bytes.

    Words are runs of [a-z0-9] and separators contain neither, so the
    file's [A-Za-z0-9]+ tokens are exactly the drawn word sequence and
    the reference is a bincount of the drawn ids. The token total is
    re-derived from the written bytes as a check on that argument."""
    rng = np.random.default_rng([seed, 2])
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", np.uint8)
    # word length by frequency rank is the same for every seed, so the
    # corpus size and vocabulary shape do not vary with the seed
    lengths = np.clip(np.random.default_rng(0).poisson(5.0, vocab) + 1, 1, 14)
    letters = alphabet[rng.integers(0, 26, lengths.sum())]
    digit = rng.random(lengths.sum()) < 0.03
    letters[digit] = alphabet[26 + rng.integers(0, 10, int(digit.sum()))]
    ends = np.cumsum(lengths)
    words = [letters[e - l:e].tobytes() for e, l in zip(ends, lengths)]
    words = list(dict.fromkeys(words))  # drop duplicate spellings
    v = len(words)
    weights = 1.0 / np.arange(1, v + 1) ** zipf_s
    cdf = np.cumsum(weights / weights.sum())
    ids = np.minimum(np.searchsorted(cdf, rng.random(n_words)), v - 1)
    seps = rng.integers(0, len(SEPARATORS), n_words)
    pieces = np.empty(v * len(SEPARATORS), dtype=object)
    for s, sep in enumerate(SEPARATORS):
        pieces[s::len(SEPARATORS)] = [w + sep for w in words]
    data = b"".join(pieces[ids * len(SEPARATORS) + seps].tolist())
    with open(path, "wb") as f:
        f.write(data)

    raw = np.frombuffer(data, np.uint8)
    alnum = ((raw >= 97) & (raw <= 122)) | ((raw >= 48) & (raw <= 57)) | \
            ((raw >= 65) & (raw <= 90))
    starts = int(alnum[0]) + int(np.count_nonzero(alnum[1:] & ~alnum[:-1]))
    if starts != n_words:
        raise RuntimeError(f"corpus tokenizes to {starts} words, drew {n_words}")

    counts = np.bincount(ids, minlength=v)
    lines = sorted(words[i] + b", " + str(int(c)).encode() + b"\n"
                   for i, c in enumerate(counts) if c)
    with open(expected_path, "wb") as f:
        f.write(b"".join(lines))
    return len(data)
