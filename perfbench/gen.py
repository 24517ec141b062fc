"""Seeded input generators for the benchmark.

Every table is a pure function of ``(scale, seed)`` (numpy PCG64), so the
same seed gives byte-identical parquet. The star-schema tables follow
the column set and value distributions of the fixtures the query
registry was written against (uniform keys, the same categorical value
sets and date ranges), so every registered TPC-H and shared-dialect
query returns rows at any scale. One deliberate difference,
recorded in perfbench/README.md:

* ``documents`` / ``embeddings`` are small fixed-size tables: the
  queries here only need them to exist (``register_views`` loads them).

The curation corpus follows ``tools/gen_realdup.py``: unique documents
drawn from a 10k-word vocabulary plus planted duplicate pairs (4 %
involvement; a quarter verbatim, the rest with 8 % of token positions
re-drawn). Sentence marks and a few Gopher stopwords are mixed in so
the quality rules keep part of the corpus instead of none of it. Each
document has a source and a fetch time; ``source_snapshots`` gives the
sources' crawl-policy history for the pipeline's as-of join.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_DAY_US = 86_400 * 1_000_000
N_SOURCES = 8
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(s: str) -> int:
    return int((np.datetime64(s, "D") - _EPOCH).astype(np.int64))


_YEAR_US = (_days("2024-01-01") * _DAY_US, _days("2025-01-01") * _DAY_US)


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _pick(rng, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_schema(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables at ``scale`` (1.0 ~ 6M lineitem rows).
    Returns the row count of every table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 200)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 200)
    counts: dict[str, int] = {}

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": regions})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    counts.update(region=5, nation=25)

    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, [f"{a} {n}" for a in adjectives for n in nouns], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    counts.update(customer=n_cust, supplier=n_supp, part=n_part)

    d0, d1 = _days("1995-01-01"), _days("2001-08-01")
    order_days = rng.integers(d0, d1 + 1, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_days(order_days),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_days(rng.integers(d0 + 1, _days("2001-11-04") + 1, n_line))})
    counts.update(orders=n_ord, lineitem=n_line)

    ts = np.sort(rng.integers(_days("2024-01-01") * _DAY_US, _days("2024-01-31") * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_cust // 10, 1), n_ev),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(30.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    counts["events"] = n_ev

    n_docs, n_vec = 500, 200
    words = np.array("a agg batch big column customer data dup fast filter group hash join key line "
                     "merge order part query row scan slow small sort spark stream table the value "
                     "vector window".split())
    lens = rng.integers(8, 90, n_docs)
    text = [" ".join(rng.choice(words, k)) for k in lens]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": text,
        "lang": _pick(rng, ["en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    counts.update(documents=n_docs, embeddings=n_vec)
    return counts


def corpus(path: str, n_docs: int, seed: int, dup_rate: float = 0.04) -> dict:
    """Write the curation corpus to ``path``. Returns every document's
    text (indexed by doc_id) and the planted truth: ``exact`` and
    ``near`` map each copy's doc_id to its base doc_id."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array([f"w{i}" for i in range(10_000)] + ["the", "and", "of", "to", "with"])
    stop_ids = np.arange(10_000, len(vocab))

    n_pairs = int(n_docs * dup_rate / 2)
    n_unique = n_docs - n_pairs
    lens = rng.integers(40, 80, n_unique)
    flat = rng.integers(0, 10_000, int(lens.sum()))
    # ~1 in 12 positions is a stopword, so most documents pass Gopher's
    # ">= 2 distinct stopwords" rule and some do not
    stop_pos = rng.random(len(flat)) < 1 / 12
    flat[stop_pos] = rng.choice(stop_ids, int(stop_pos.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    toks = [flat[offs[i]:offs[i + 1]] for i in range(n_unique)]

    exact_mask = rng.random(n_pairs) < 0.25
    for i in range(n_pairs):
        t = toks[i].copy()
        if not exact_mask[i]:
            k = max(1, int(len(t) * 0.08))
            pos = rng.choice(len(t), size=k, replace=False)
            t[pos] = rng.integers(0, 10_000, size=k)
        toks.append(t)

    def render(t: np.ndarray, sentence_every: int) -> str:
        w = list(vocab[t])
        for j in range(sentence_every - 1, len(w), sentence_every):
            w[j] += "."
        return " ".join(w)

    # sentence length varies per base document (copies keep their
    # base's), so C4's ">= 3 sentences" rule drops the long-sentence ones
    every = rng.integers(8, 30, n_unique)
    texts = [render(toks[i], int(every[i])) for i in range(n_unique)]
    texts += [render(toks[n_unique + i], int(every[i])) for i in range(n_pairs)]

    doc_id = np.arange(n_docs, dtype=np.int64)
    langs = [("en", "de", "fr", "es", "zh")[i % 5] for i in range(n_docs)]
    sources = [f"src{i % N_SOURCES}" for i in range(n_docs)]
    fetch_us = rng.integers(_YEAR_US[0], _YEAR_US[1], n_docs)
    pq.write_table(pa.table({
        "doc_id": doc_id, "text": texts, "lang": langs, "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        "fetch_ts": pa.array(fetch_us, pa.timestamp("us")),
    }), path)
    copies = range(n_unique, n_docs)
    return {
        "texts": texts, "lang": langs, "source": sources, "fetch_us": [int(x) for x in fetch_us],
        "exact": {c: c - n_unique for c in copies if exact_mask[c - n_unique]},
        "near": {c: c - n_unique for c in copies if not exact_mask[c - n_unique]},
    }


def source_snapshots(path: str, seed: int, per_source: int = 40) -> dict[str, list[tuple[int, float]]]:
    """Crawl-policy snapshots of every corpus source over the year:
    (source, snapshot_ts, quality_prior). Returns each source's
    snapshots as time-sorted (ts in microseconds, prior) pairs."""
    rng = np.random.default_rng([seed, 4])
    out, cols = {}, {"source": [], "snapshot_ts": [], "quality_prior": []}
    for i in range(N_SOURCES):
        ts = np.sort(rng.integers(_YEAR_US[0], _YEAR_US[1], per_source))
        prior = np.round(rng.uniform(0.0, 1.0, per_source), 3)
        out[f"src{i}"] = [(int(t), float(p)) for t, p in zip(ts, prior)]
        cols["source"] += [f"src{i}"] * per_source
        cols["snapshot_ts"] += [int(t) for t in ts]
        cols["quality_prior"] += [float(p) for p in prior]
    cols["snapshot_ts"] = pa.array(cols["snapshot_ts"], pa.timestamp("us"))
    pq.write_table(pa.table(cols), path)
    return out


def target_corpus(path: str, n_docs: int, seed: int) -> list[str]:
    """The DSIR target: documents over the first 1000 vocabulary words
    only, so importance weights favour raw documents that use them."""
    rng = np.random.default_rng([seed, 3])
    words = np.array([f"w{i}" for i in range(1000)] + ["the", "and", "of"])
    texts = [" ".join(rng.choice(words, int(k))) + "." for k in rng.integers(40, 80, n_docs)]
    pq.write_table(pa.table({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}), path)
    return texts
