"""The benchmark's workloads.

A workload prepares its inputs and expected results from the seed
(``prepare``, untimed), then runs operations ``op(i)`` for i = 0, 1, ...
in rounds of ``round_ops``: the first round after set-up is the cold
round; workloads with a ``warm_window`` then time warm rounds. An
operation returns ``(input_rows, verify)``; the runner times the
operation and calls ``verify()`` after the clock stops. ``verify`` returns None when the
result is right, else the reason it is wrong.

Every call into daft_spark sits inside a span of the benchmark's
tracer, named after the layer it enters (see tracing.py). Untraced
runs use a tracer whose spans do nothing.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import shutil

import check
import gen
import oracle

def materialize(tr, df):
    """Compute ``df`` once into the session cache; returns (df, rows)."""
    with tr.span("exec.action"):
        df = df.persist()
        return df, df.count()


def _star(data_root: str, scale: float, seed: int) -> tuple[str, dict[str, int]]:
    """The star-schema tables for (scale, seed), generated once per
    checkout and reused by later runs with the same seed."""
    path = os.path.join(data_root, f"star-{scale}-{seed}")
    done = os.path.join(path, "_COUNTS.json")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        counts = gen.star_schema(path, scale, seed)
        with open(done, "w") as f:
            json.dump(counts, f)
    with open(done) as f:
        return path, json.load(f)


def _duckdb(path: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet')")
    return con


class BiDashboard:
    """Closed loop, one client: a dashboard of registry TPC-H and SQL
    queries at sf0.1, opened once (the cold round) and then refreshed."""

    name = "bi_dashboard"
    # Three TPC-H shapes (scan-aggregate, 3-way join with top-k,
    # IN-subquery over a large aggregate) and three shared-dialect SQL
    # queries (CTE join, window, NOT IN anti-join), each of which
    # registers ten views through readers.load_table.
    DASHBOARD = ("tpch_q1", "tpch_q3", "tpch_q18",
                 "sql_cte_join", "sql_window_in_sql", "sql_not_in_anti")
    round_ops = len(DASHBOARD)
    warm_window = True

    def __init__(self, data_root: str, seed: int, scale: float = 0.1, corrupt: bool = False):
        self.data_root, self.seed, self.scale, self.corrupt = data_root, seed, scale, corrupt

    def prepare(self) -> dict:
        from daft_spark.queries import all_queries

        self.specs = all_queries()
        self.dir, counts = _star(self.data_root, self.scale, self.seed)
        con = _duckdb(self.dir)
        self.expected, self.rows = {}, {}
        for n in self.DASHBOARD:
            want = check.checksum(con.execute(self.specs[n].oracle).fetchdf())
            self.expected[n] = check.corrupt(want) if self.corrupt else want
            used = set(re.findall(r"[a-z_]+", self.specs[n].oracle.lower())) & set(counts)
            self.rows[n] = sum(counts[t] for t in used)
        con.close()
        # every round visits each dashboard query once, in a seeded order
        rng = random.Random(self.seed)
        self.sequence = [q for _ in range(200) for q in rng.sample(self.DASHBOARD, self.round_ops)]
        return {"scale": self.scale, "tables": counts, "queries": list(self.DASHBOARD)}

    def op(self, ctx, i: int):
        return self._query(ctx, self.sequence[i % len(self.sequence)])

    def _query(self, ctx, name: str):
        from daft_spark import sql
        from daft_spark.io.readers import register_views

        tr = ctx.tracer
        with tr.span("plan.build"):
            if name.startswith("sql_"):
                # the registry's shared-dialect SQL queries are one ANSI
                # string, run by Spark and used verbatim as the oracle;
                # this is the registry's own path through the public API
                with tr.span("sql.sql"):
                    register_views(ctx.spark, self.dir)
                    df = sql(self.specs[name].oracle, ctx.spark)
            else:
                df = self.specs[name].spark_fn(ctx.spark, self.dir)
        with tr.span("exec.action"):
            pdf = df.toPandas()
        return self.rows[name], lambda: check.mismatch(check.checksum(pdf), self.expected[name])


class CorpusCuration:
    """Batch: the six-operator curation pipeline over a generated corpus,
    then the curated corpus is enriched by an as-of join onto the
    sources' crawl-policy history, written as language-partitioned
    parquet and read back."""

    name = "corpus_curation"
    round_ops = 1  # one pass
    warm_window = False  # a batch job: one pass per process

    def __init__(self, data_root: str, seed: int, n_docs: int = 2000, corrupt: bool = False):
        self.data_root, self.seed, self.n_docs, self.corrupt = data_root, seed, n_docs, corrupt

    def prepare(self) -> dict:
        os.makedirs(self.data_root, exist_ok=True)
        self.path = os.path.join(self.data_root, f"corpus-{self.n_docs}-{self.seed}.parquet")
        self.target_path = os.path.join(self.data_root, f"target-{self.seed}.parquet")
        self.snap_path = os.path.join(self.data_root, f"snapshots-{self.seed}.parquet")
        self.out = os.path.join(self.data_root, f"curated-{self.n_docs}-{self.seed}")
        self.truth = gen.corpus(self.path, self.n_docs, self.seed)
        self.target = gen.target_corpus(self.target_path, 1000, self.seed)
        self.snapshots = gen.source_snapshots(self.snap_path, self.seed)
        self.in_bytes = os.path.getsize(self.path)
        self.texts, self.near = self.truth["texts"], self.truth["near"]
        self.dedup_ids = [d for d in range(self.n_docs) if d not in self.truth["exact"]]
        self.dedup_fp = _id_fingerprint(self.dedup_ids)
        self.shingles = {d: oracle.shingles(self.texts[d]) for p in self.near.items() for d in p}
        self.contained = oracle.containment_edges(self.texts, self.near)
        self._downstream: dict = {}
        return {"docs": self.n_docs, "exact_copies": len(self.truth["exact"]),
                "near_copies": len(self.near), "bytes": self.in_bytes}

    def op(self, ctx, i: int):
        import daft_spark
        from daft_spark.context import release_caches
        from daft_spark.dataframe import DataFrame
        from daft_spark.functions.text import c4_rules, gopher_rules
        from daft_spark.operators.dedup import exact_dedup, minhash_near_dups, near_dup_resolve
        from daft_spark.operators.dsir import dsir_log_weights
        from daft_spark.operators.lm import bigram_lm_scores
        from daft_spark.window import Window, over, unbounded_preceding
        from pyspark.sql import functions as F

        tr, got = ctx.tracer, {}
        raw = daft_spark.read_parquet(self.path).to_spark()
        target = daft_spark.read_parquet(self.target_path).to_spark()
        with tr.span("dedup.exact_dedup"):
            docs, _ = materialize(tr, exact_dedup(raw, ["text"], "doc_id"))
            with tr.span("exec.action"):
                got["dedup"] = docs.agg(*_id_aggs("doc_id")).first()
        with tr.span("dedup.minhash_near_dups"):
            pairs, _ = materialize(tr, minhash_near_dups(docs, "text", "doc_id"))
            with tr.span("exec.action"):
                got["pairs"] = pairs.toPandas()
        with tr.span("dedup.near_dup_resolve"):
            resolved, got["resolved_rows"] = materialize(tr, near_dup_resolve(
                docs, "text", "doc_id", edge_sources=("containment",), extra_edges=pairs))
            with tr.span("exec.action"):
                got["moved"] = resolved.filter(~F.col("is_representative")).select(
                    "doc_id", "cluster_id").toPandas()
        with tr.span("text.quality_filter"):
            t = F.col("text")
            kept, _ = materialize(tr, resolved.filter("is_representative").filter(
                gopher_rules(t)["keep"] & c4_rules(t)["keep"]).select("doc_id", "text"))
            with tr.span("exec.action"):
                got["kept"] = kept.agg(*_id_aggs("doc_id")).first()
        with tr.span("lm.bigram_lm_scores"):
            lm, _ = materialize(tr, bigram_lm_scores(kept, "text", "doc_id"))
            with tr.span("exec.action"):
                got["lm"] = lm.toPandas()
        with tr.span("dsir.dsir_log_weights"):
            weights, _ = materialize(tr, dsir_log_weights(kept, target, "text", "doc_id"))
            with tr.span("exec.action"):
                got["dsir"] = weights.toPandas()
        with tr.span("dataframe.build"):
            meta = daft_spark.read_parquet(self.path).select("doc_id", "lang", "source", "fetch_ts")
            w = (Window().partition_by("source").order_by("snapshot_ts")
                 .rows_between(unbounded_preceding, 0))
            policy = (daft_spark.read_parquet(self.snap_path)
                      .with_column("policy_version", over(F.row_number(), w))
                      .with_column("cum_prior", over(F.avg("quality_prior"), w))
                      .select("source", F.col("snapshot_ts").alias("fetch_ts"),
                              "policy_version", "cum_prior"))
            scored = (DataFrame(kept).join(lm, on="doc_id").join(weights, on="doc_id")
                      .join(meta, on="doc_id"))
        with tr.span("asof.join_asof"):
            enriched, _ = materialize(tr, scored.join_asof(policy, on="fetch_ts", by="source").to_spark())
        with tr.span("writers.write_parquet"):
            DataFrame(enriched).write_parquet(self.out, partition_cols=["lang"], write_mode="overwrite")
        with tr.span("readers.read_back"):
            back = daft_spark.read_parquet(self.out).to_spark()
            with tr.span("exec.action"):
                got["published"] = back.groupBy("lang").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("perplexity").alias("perplexity"),
                    F.sum("log_weight").alias("log_weight"),
                    F.sum("policy_version").alias("policy_version"),
                    F.sum("cum_prior").alias("cum_prior")).toPandas()
        with tr.span("context.release_caches"):
            release_caches(ctx.spark)
        return self.n_docs, lambda: self._verify(got)

    def _verify(self, got: dict) -> str | None:
        fp = _id_fingerprint([]) if self.corrupt else self.dedup_fp
        if tuple(got["dedup"]) != fp:
            return f"exact_dedup kept {tuple(got['dedup'])}, want {fp}"
        pairs = {(int(a), int(b)): float(j) for a, b, j in
                 got["pairs"][["id_a", "id_b", "jaccard"]].itertuples(index=False)}
        planted = {(b, c) for c, b in self.near.items()}
        if not set(pairs) <= planted:
            return f"minhash pairs outside the planted ones: {sorted(set(pairs) - planted)[:3]}"
        for (a, b), j in pairs.items():
            want = oracle.jaccard(self.shingles[a], self.shingles[b])
            if abs(j - want) > 1e-3 or j < 0.5:
                return f"pair {(a, b)} jaccard {j} != {want:.6f}"
        # LSH recall is probabilistic: a pair of Jaccard j shares a band
        # with probability 1 - (1 - j^4)^16 (64 hashes, 16 bands); demand
        # all but a 4-sigma shortfall of the expected number found
        probs = [1 - (1 - oracle.jaccard(self.shingles[b], self.shingles[c]) ** 4) ** 16
                 for b, c in planted]
        floor = sum(probs) - 4 * math.sqrt(sum(p * (1 - p) for p in probs)) - 1
        if len(pairs) < floor:
            return f"minhash found {len(pairs)} of {len(planted)} planted pairs, want >= {floor:.1f}"
        edges = set(pairs) | self.contained
        moved = {int(d): int(c) for d, c in got["moved"].itertuples(index=False)}
        if moved != {c: b for b, c in edges} or got["resolved_rows"] != self.dedup_fp[0]:
            return f"near_dup_resolve moved {len(moved)} docs, want {len(edges)}"
        reps = tuple(d for d in self.dedup_ids if d not in moved)
        if reps not in self._downstream:  # oracle results for this set, computed once
            self._downstream[reps] = self._expected_downstream(reps)
        want = self._downstream[reps]
        if tuple(got["kept"]) != want["kept"]:
            return f"quality filter kept {tuple(got['kept'])}, want {want['kept']}"
        return (check.mismatch(check.checksum(got["lm"]), want["lm"])
                or check.mismatch(check.checksum(got["dsir"]), want["dsir"])
                or check.mismatch(check.checksum(got["published"]), want["published"]))

    def _expected_downstream(self, reps: tuple[int, ...]) -> dict:
        import bisect

        kept = [d for d in reps if oracle.quality_keep(self.texts[d])]
        texts = {d: self.texts[d] for d in kept}
        lm = oracle.bigram_lm(texts)
        dsir = {d: w for d, _, w in oracle.dsir(texts, self.target)}
        per_lang: dict[str, list] = {}
        for d, _, _, perplexity in lm:
            snaps = self.snapshots[self.truth["source"][d]]
            k = bisect.bisect_right([ts for ts, _ in snaps], self.truth["fetch_us"][d])
            version = k if k else None
            prior = sum(p for _, p in snaps[:k]) / k if k else None
            per_lang.setdefault(self.truth["lang"][d], []).append((perplexity, dsir[d], version, prior))
        rows = [(lang, len(v), sum(x[0] for x in v), sum(x[1] for x in v),
                 sum(x[2] or 0 for x in v) if any(x[2] for x in v) else None,
                 sum(x[3] or 0.0 for x in v) if any(x[3] is not None for x in v) else None)
                for lang, v in per_lang.items()]
        return {
            "kept": _id_fingerprint(kept),
            "lm": check.checksum(_frame(lm, ["doc_id", "n_bigrams", "avg_logprob", "perplexity"])),
            "dsir": check.checksum(_frame(oracle.dsir(texts, self.target), ["doc_id", "n_grams", "log_weight"])),
            "published": check.checksum(_frame(rows, ["lang", "n", "perplexity", "log_weight",
                                                      "policy_version", "cum_prior"])),
        }

    def output_files(self) -> list[str]:
        return [os.path.join(r, f) for r, _, fs in os.walk(self.out)
                for f in fs if f.endswith(".parquet")]


def _id_aggs(col: str):
    from pyspark.sql import functions as F

    c = F.col(col)
    return [F.count(c), F.sum(c), F.sum(c * c)]


def _id_fingerprint(ids: list[int]) -> tuple[int, int, int]:
    return len(ids), sum(ids), sum(i * i for i in ids)


def _frame(rows: list[tuple], cols: list[str]):
    import pandas as pd

    return pd.DataFrame(rows, columns=cols)


WORKLOADS = {w.name: w for w in (BiDashboard, CorpusCuration)}
