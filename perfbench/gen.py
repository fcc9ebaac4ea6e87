"""Seeded input generator for the benchmark.

Every input the program sees comes from here, as parquet in the fixture
schemas (FIXTURES.md), plus an ``expected.json`` of exact answers computed
independently of Spark (numpy counts):

- ``url_corpus``: a ``documents`` table whose text is space-separated
  ``https://h<id>.com`` tokens drawn from a finite Zipf(s) over ``n_keys``
  hosts (s = 0 is uniform). Ranks map to host ids through a seeded
  permutation, so the head is not the smallest ids. The table is split into
  ``n_files`` part files so the scan is never a single task. Expected:
  total tokens, distinct keys and the exact top-100 by (count desc, token
  asc).
- ``mix_tables``: small seeded tables shaped like the repo's TPC-H-ish
  fixtures (``documents`` with a 30-word vocabulary and planted near
  duplicates, ``lineitem``, ``customer``, ``nation``, ``region``), with row
  order and surrogate ids permuted by the seed.

Outputs are cached on disk by (seed, params); the same seed gives
byte-identical files. Run ``python3 perfbench/gen.py --kind url --seed 1
--out DIR`` to write one set by hand.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# bump when the generated bytes change for the same (seed, params)
GEN_VERSION = 1
TOPK = 100
KEEP_CACHED = 2  # generated sets kept per kind; older ones are deleted

VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def _rng(seed: int, tag: str) -> np.random.Generator:
    # one independent stream per (seed, purpose), stable across numpy builds
    return np.random.default_rng([seed, int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)])


def zipf_ranks(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws of 0-based ranks from a finite Zipf(s) over ``n_keys``."""
    if s == 0:
        return rng.integers(0, n_keys, n, dtype=np.int64)
    cdf = np.cumsum(1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s)
    return np.searchsorted(cdf, rng.random(n) * cdf[-1], side="right").astype(np.int64)


def url_tokens(ids: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        "https://h", pc.cast(pa.array(ids), pa.string()), ".com", ""
    )


def _docs_table(doc_ids, texts: pa.Array, langs, sources) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": texts,
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pc.cast(pc.utf8_length(texts), pa.int64()),
        }
    )


def _join_docs(tokens: pa.Array, lengths: np.ndarray) -> pa.Array:
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), tokens), " ")


def expected_counts(ids: np.ndarray, n_keys: int) -> dict:
    """Exact answers for a URL corpus whose tokens are ``https://h<id>.com``."""
    counts = np.bincount(ids, minlength=n_keys)
    kth = np.partition(counts, n_keys - TOPK)[n_keys - TOPK] if n_keys > TOPK else 1
    cand = [(f"https://h{i}.com", int(counts[i])) for i in np.nonzero(counts >= max(kth, 1))[0]]
    cand.sort(key=lambda tc: (-tc[1], tc[0]))
    return {
        "n_tokens": int(len(ids)),
        "n_distinct": int(np.count_nonzero(counts)),
        "top": [list(tc) for tc in cand[:TOPK]],
    }


def url_corpus(out: str, seed: int, n_tokens: int, n_keys: int, skew: float,
               doc_len: int, n_files: int) -> None:
    rng = _rng(seed, "url")
    ranks = zipf_ranks(rng, n_tokens, n_keys, skew)
    ids = rng.permutation(n_keys)[ranks]
    lengths = rng.integers(doc_len // 2, doc_len * 3 // 2 + 1, n_tokens // (doc_len // 2) + 2)
    lengths = lengths[: np.searchsorted(np.cumsum(lengths), n_tokens) + 1]
    lengths[-1] -= lengths.sum() - n_tokens
    texts = _join_docs(url_tokens(ids), lengths)
    n_docs = len(lengths)
    langs = np.asarray(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    sources = np.char.add("src", rng.integers(0, 20, n_docs).astype(str))
    table = _docs_table(np.arange(n_docs), texts, langs, sources)
    d = os.path.join(out, "documents.parquet")
    os.makedirs(d)
    for f, lo in enumerate(range(0, n_docs, -(-n_docs // n_files))):
        part = table.slice(lo, -(-n_docs // n_files))
        pq.write_table(part, os.path.join(d, f"part-{f:05d}.parquet"), compression="snappy")
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(expected_counts(ids, n_keys), fh)


def mix_tables(out: str, seed: int, n_docs: int, n_lineitem: int, n_customer: int) -> None:
    rng = _rng(seed, "mix")

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"), compression="snappy")

    # documents: uniform words, 10-100 tokens; ~5% near-duplicates of an
    # earlier doc (a few tokens replaced by "dup") and ~0.2% exact copies
    lengths = rng.integers(10, 101, n_docs)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    docs = np.split(words, np.cumsum(lengths)[:-1])
    for i in np.nonzero(rng.random(n_docs) < 0.05)[0]:
        if i == 0:
            continue
        src = docs[rng.integers(0, i)].copy()
        src[rng.integers(0, len(src), max(1, len(src) // 20))] = "dup"
        docs[i] = src
    for i in np.nonzero(rng.random(n_docs) < 0.002)[0]:
        if i > 0:
            docs[i] = docs[rng.integers(0, i)]
    order = rng.permutation(n_docs)
    texts = pa.array([" ".join(docs[i]) for i in order], pa.string())
    langs = np.asarray(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    sources = np.char.add("src", rng.integers(0, 20, n_docs).astype(str))
    t = _docs_table(rng.permutation(n_docs), texts, langs, sources)
    pq.write_table(t, os.path.join(out, "documents.parquet"), compression="snappy")
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump({"n_tokens": int(sum(len(d) for d in docs))}, fh)

    n = n_lineitem
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2499, n).astype("timedelta64[D]").astype("timedelta64[us]")
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90000, 10500000, n) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.asarray(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.asarray(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
    })
    c = n_customer
    keys = rng.permutation(c)
    write("customer", {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(rng.integers(-99999, 999999, c) / 100.0),
        "c_mktsegment": pa.array(np.asarray(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, c)]),
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })


GENERATORS = {"url": url_corpus, "mix": mix_tables}


def cache_key(kind: str, seed: int, params: dict) -> str:
    blob = json.dumps([GEN_VERSION, kind, params], sort_keys=True).encode()
    return f"s{seed}-{hashlib.sha1(blob).hexdigest()[:12]}"


def ensure(root: str, kind: str, seed: int, params: dict) -> tuple[str, bool]:
    """Directory holding the (kind, seed, params) inputs, generating them
    on a miss. Returns (path, generated_now). Keeps the KEEP_CACHED most
    recently used sets of each kind and deletes the rest."""
    base = os.path.join(root, kind)
    path = os.path.join(base, cache_key(kind, seed, params))
    made = not os.path.isdir(path)
    if made:
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        GENERATORS[kind](tmp, seed, **params)
        os.rename(tmp, path)
    os.utime(path)
    sets = sorted(
        (os.path.join(base, d) for d in os.listdir(base) if ".tmp" not in d),
        key=os.path.getmtime,
    )
    for old in sets[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return path, made


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--kind", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to create")
    ap.add_argument("--params", default="{}", help="JSON of generator parameters")
    args = ap.parse_args()
    os.makedirs(args.out)
    GENERATORS[args.kind](args.out, args.seed, **json.loads(args.params))


if __name__ == "__main__":
    main()
