"""corpus_release: ``corpus.CorpusPipeline.shards(n_shards=8)``, which runs
``dedup.jaccard_pairs_blocked`` -> ``dedup.connected_components_star`` ->
``curation.shard_by_component``, on a seeded synthetic ``documents``
corpus with planted near-duplicate clusters and chains.

The expected output is the repository's DuckDB oracle SQL for
``doc_dedup_shards`` run on the same generated corpus."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

VOCAB = 4000  # five-letter words; random documents share no word bigram
# Document lengths in words (6 characters each, less one): one length band
# each, so with two languages the corpus splits into eight blocking blocks.
WORDS = (12, 24, 40, 56)
CHAINS, CHAIN_LEN = 8, 8  # neighbours share a third of their words, i and i+2 none
CLUSTERS, CLUSTER_SIZE, EDITS = 12, 4, 3  # near-copies with 3 words replaced
DOCS = 160
LANGS = ("en", "de")
N_SHARDS = 8
SHINGLE_K, THRESHOLD = 2, 0.05  # the doc_dedup_shards gate parameters
WARMUP_OPS = 1


def generate(seed: int) -> pd.DataFrame:
    """Same structure for every seed (cluster and chain sizes, lengths,
    blocks); the seed picks the words and the document ids."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.unique(["".join(w) for w in rng.choice(letters, (VOCAB * 2, 5))])[:VOCAB]
    rng.shuffle(vocab)
    texts: list[str] = []
    langs: list[str] = []
    for c in range(CHAINS):
        n = WORDS[c % len(WORDS)]
        stride = (2 * n + 2) // 3
        words = rng.integers(0, vocab.size, n + stride * (CHAIN_LEN - 1))
        for k in range(CHAIN_LEN):
            texts.append(" ".join(vocab[words[k * stride:k * stride + n]]))
            langs.append(LANGS[(c // len(WORDS)) % 2])
    for c in range(CLUSTERS):
        n = WORDS[c % len(WORDS)]
        base = rng.integers(0, vocab.size, n)
        for _ in range(CLUSTER_SIZE):
            w = base.copy()
            w[rng.choice(n, EDITS, replace=False)] = rng.integers(0, vocab.size, EDITS)
            texts.append(" ".join(vocab[w]))
            langs.append(LANGS[(c // len(WORDS)) % 2])
    k = 0
    while len(texts) < DOCS:
        n = WORDS[k % len(WORDS)]
        texts.append(" ".join(vocab[rng.integers(0, vocab.size, n)]))
        langs.append(LANGS[(k // len(WORDS)) % 2])
        k += 1
    # ids are shuffled, rows stay in generation order: the stored file then
    # has the same layout, and compresses the same, for every seed
    docs = pd.DataFrame(
        {
            "doc_id": rng.permutation(len(texts)).astype("int64"),
            "text": np.array(texts, dtype=object),
            "lang": np.array(langs, dtype=object),
            "source": [f"src{i % 5}" for i in range(len(texts))],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    return docs


def oracle_rows(docs: pd.DataFrame) -> list[tuple]:
    """doc_dedup_shards' oracle SQL on the generated corpus, in DuckDB.
    Its edge CTE is marked MATERIALIZED, which changes no result: without
    it DuckDB recomputes the pair join in every step of the recursive
    reachability CTE (15 s instead of 1 s at this corpus size)."""
    import duckdb

    from epicsarchiver_spark.oracles import oracle_sql

    sql = oracle_sql()["doc_dedup_shards"].replace("edges AS (", "edges AS MATERIALIZED (", 1)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.register("documents", docs)
        df = con.execute(sql).df()
    finally:
        con.close()
    return sorted(
        (int(r.shard), int(r.n_docs), int(r.n_groups), int(r.max_group_size))
        for r in df.itertuples()
    )


class CorpusRelease:
    name = "corpus_release"
    unit_name = "documents"

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def setup(self) -> dict:
        from epicsarchiver_spark.corpus import CorpusPipeline

        from perfbench.harness import dir_bytes

        spark = self.ctx.spark
        t = time.perf_counter()
        self.docs = generate(self.ctx.seed)
        gen_s = time.perf_counter() - t
        path = f"{self.ctx.work}/documents"
        t = time.perf_counter()
        spark.createDataFrame(self.docs).coalesce(1).write.mode("overwrite").parquet(path)
        build_s = time.perf_counter() - t
        self.pipeline = CorpusPipeline(
            spark, spark.read.parquet(path), shingle_k=SHINGLE_K, jaccard_threshold=THRESHOLD
        )
        nbytes, _ = dir_bytes(path)
        self.stored_bpp = nbytes / float(len(self.docs))
        self.want = None  # the oracle runs after the window, with the checks
        return {"gen_s": gen_s, "build_s": build_s}

    def warmup_ops(self) -> int:
        return WARMUP_OPS

    def kind_of(self, op_id) -> str:
        return "release"

    def run_op(self, op, runner) -> None:
        op.kind = "release"
        op.units = float(len(self.docs))
        with runner.phase(op, "construct"):
            frame = self.pipeline.shards(n_shards=N_SHARDS)
        with runner.phase(op, "action"):
            rows = frame.collect()
        op.result = sorted(
            (int(r.shard), int(r.n_docs), int(r.n_groups), int(r.max_group_size)) for r in rows
        )

    def trace_wrappers(self):
        from epicsarchiver_spark import corpus
        from epicsarchiver_spark.operators import curation, dedup

        tr = self.ctx.tracer
        return [
            tr.wrap(dedup, "jaccard_pairs_blocked", "operators.dedup"),
            tr.wrap(dedup, "connected_components_star", "operators.dedup"),
            tr.wrap(curation, "shard_by_component", "operators.curation"),
            tr.wrap(corpus.CorpusPipeline, "shards", "corpus"),
        ]

    def check(self, op) -> None:
        if self.want is None:
            self.want = oracle_rows(self.docs)
        op.ok = op.result == self.want
        if not op.ok:
            op.error = f"shard stats {op.result} != oracle {self.want}"
        op.result = None

    def stored_bytes_per_point(self) -> float:
        return self.stored_bpp

    def layer_metrics(self, ops, counted) -> dict:
        from epicsarchiver_spark.operators import dedup

        from perfbench.harness import median

        m = {
            "dedup.cc_construct_ms": 1000.0 * median(o.construct_s for o in ops),
            "corpus.execute_ms": 1000.0 * median(o.latency_s - o.construct_s for o in ops),
        }
        spans = self.ctx.tracer.spans
        pairs, shard = [], []
        for o in counted:
            own = [s for s in spans if s.op_id == o.op_id]
            cc = [s for s in own if s.name.endswith("connected_components_star")]
            jp = [s for s in own if s.name.endswith("jaccard_pairs_blocked")]
            jobs = sorted((s for s in own if s.layer == "spark"), key=lambda s: s.start)
            if cc and jp:
                first = [j for j in jobs if cc[0].start <= j.start <= cc[0].end][:1]
                pairs.append(sum(s.end - s.start for s in jp + first))
            sh = [s for s in own if s.name.endswith("shard_by_component")]
            act = [j for j in jobs if o.counters.get("action_start", 1e30) <= j.start]
            if sh:
                shard.append(sum(s.end - s.start for s in sh) + sum(j.end - j.start for j in act))
        m["dedup.pairs_ms"] = 1000.0 * median(pairs)
        m["curation.shard_ms"] = 1000.0 * median(shard)
        # pair counts of the same corpus, outside any operation: candidates
        # share at least one shingle (threshold 0), kept pass the gate
        docs = self.pipeline.docs
        self.ctx.counters.set_phase("probe", "pairs")
        m["dedup.candidate_pairs"] = float(
            dedup.jaccard_pairs_blocked(docs, shingle_k=SHINGLE_K, threshold=0.0).count()
        )
        m["dedup.kept_pairs"] = float(
            dedup.jaccard_pairs_blocked(docs, shingle_k=SHINGLE_K, threshold=THRESHOLD).count()
        )
        self.ctx.counters.clear()
        return m
