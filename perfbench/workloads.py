"""The benchmark's workloads.  Each is a closed loop with one client: the
next operation starts when the previous one returns.

An operation is one ``run_pipeline`` call until its clusters are
materialized (``skew_resumable``), one ``IncrementalDedup.process_batch``
call (``stream_ingest``) or one pass over the near-duplicate operator leaves
of ``__spark_entry__.queries()`` (``doc_ops``).  Inputs are fixed synthetic
corpora whose row order is drawn from the run's ``--seed``; their planted
duplicates give the recall oracle.

A traced operation runs the same entry point with each layer function
wrapped in a span (``spans.boundaries``), so the per-layer figures come from
the program itself.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import time

import numpy as np

import mhap_spark.pipeline as pipeline_mod
import mhap_spark.streaming as streaming_mod
from mhap_spark.checkpoint import CheckpointStore
from mhap_spark.config import PRESET_SCALE
from mhap_spark.freq import FreqTable
from mhap_spark.streaming import IncrementalDedup
from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus

from pyspark.sql import functions as F

from perfbench.doccorpus import write_tables
from perfbench.spans import Boundary, boundaries

MIN_RECALL = 0.99

# synth corpora are generated at this seed; --seed draws the row order
CORPUS_SEED = 42


def pair_recall(true_cluster: np.ndarray, component: np.ndarray) -> float:
    """Share of planted same-cluster pairs whose rows share a component."""
    def pairs(*keys):
        _, counts = np.unique(np.stack(keys, axis=1), axis=0, return_counts=True)
        return float((counts * (counts - 1) // 2).sum())

    total = pairs(true_cluster)
    return pairs(true_cluster, component) / total if total else 1.0


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Connected-component label (the smallest member index) of n vertices."""
    label = np.arange(n)
    while True:
        lo = np.minimum(label[src], label[dst])
        np.minimum.at(label, label[src], lo)
        np.minimum.at(label, label[dst], lo)
        while True:  # pointer jumping to the root
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt
        if np.array_equal(label[src], label[dst]):
            return label


def rows_digest(rows) -> str:
    """Order-insensitive value hash of collected rows.  Floats are rounded
    to 5 places: a dot product can differ in its last bits with the shape of
    the block it is computed in."""
    norm = sorted(tuple(round(v, 5) if isinstance(v, float) else v for v in r) for r in rows)
    return hashlib.sha1(repr(norm).encode()).hexdigest()


def digest(df, cols: list[str]) -> str:
    return rows_digest(df.select(*cols).collect())


def label_of(ids, comp: dict) -> np.ndarray:
    """Component label per id in ``ids`` (ids missing from ``comp`` share one)."""
    return np.unique([str(comp.get(i, "")) for i in ids], return_inverse=True)[1]


class Workload:
    name = ""
    sizes: dict[str, dict] = {}

    def __init__(self, seed: int, smoke: bool, work_dir: str, cores: int):
        self.seed = seed
        self.full = not smoke
        self.size = self.sizes["smoke" if smoke else "full"]
        self.work_dir = os.path.join(work_dir, self.name)
        self.cores = cores
        self.n_ops = 0
        shutil.rmtree(self.work_dir, ignore_errors=True)
        os.makedirs(self.work_dir)

    def exhausted(self) -> bool:
        """True once the workload's inputs are used up."""
        return False

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.work_dir, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def frame(self, spark, rows, persist: bool = True):
        df = spark.createDataFrame(rows, INPUT_SCHEMA_DDL).repartition(
            max(2 * self.cores, 8))
        if persist:
            df = df.persist()
            df.count()
        return df

    def replay(self, spark, clock) -> list[str]:
        """An untraced operation doing the same work as the last one."""
        return self.op(spark, clock)


class SkewResumable(Workload):
    """The resumable large-scale pipeline: a corpus with one planted mega
    cluster of three times ``max_bucket_size`` (512), ``PRESET_SCALE`` with
    the distributed CC loop (``cc_driver_finish_edges=0``, the design point
    where the driver-finish escape never fires) and a fresh
    ``CheckpointStore`` per operation.  Every pipeline layer runs; the salted
    oversize stars, the CC loop and the checkpoint writes carry much of the
    cost.  The corpus is fixed, so its counts are checked against the
    recorded ones on every run; ``--seed`` draws the order of its rows, which
    sets how they fall into partitions.  (A corpus drawn per seed moved the
    CC loop's work, and with it the op time, by up to a third between
    seeds.)"""

    name = "skew_resumable"
    sizes = {"full": {"rows": 3_000, "mega": 1_536},
             "smoke": {"rows": 1_200, "mega": 600}}
    # full size, recorded from the engine this benchmark was defined on:
    # (candidates generated, verified pairs, clusters)
    ANCHOR_COUNTS = (281_609, 12_752, 354)

    def __init__(self, *args):
        super().__init__(*args)
        s = self.size
        self.cfg = PRESET_SCALE.with_overrides(cc_driver_finish_edges=0,
                                               no_broadcast_hints=False)
        corpus = generate_corpus(s["rows"], seed=CORPUS_SEED, with_images=False,
                                 mega_cluster=s["mega"])
        order = np.random.default_rng(self.seed).permutation(s["rows"])
        rows = corpus_to_rows(corpus)
        self.rows = [rows[i] for i in order]
        self.true_cluster = corpus["true_cluster"][order]
        self.ids = np.array(corpus["image_id"])[order]
        self.input_key = f"rows={s['rows']},seed={self.seed}"
        self.expected = None
        self.recalls: list[float] = []

    def _store(self) -> CheckpointStore:
        self.n_ops += 1
        return CheckpointStore(self.fresh_dir(f"store-{self.n_ops}"))

    def _run(self, spark, df, store):
        out = pipeline_mod.run_pipeline(spark, df, self.cfg, store=store,
                                        input_key=self.input_key)
        out["clusters"].count()
        return out

    def setup(self, spark, timed) -> list[str]:
        """No warm-up: the operation is the first pipeline in a fresh
        session, which is what a ``spark-submit`` run of the resumable
        pipeline pays.  A warm-up pipeline cost as much as a measured one
        (the cost is set by the number of Spark jobs, not by the row
        count), and the warm operation after it, 12-19 s, spread more
        between runs on a shared host than the cold one of about 27 s."""
        self.df = self.frame(spark, self.rows)
        return []

    def op(self, spark, clock) -> list[str]:
        """One timed operation (inside ``with clock``), then its checks;
        returns the problems found."""
        store = self._store()
        with clock:
            self.last = self._run(spark, self.df, store)
        return self.check(self._evaluate(self.last))

    def _evaluate(self, out) -> dict:
        pdf = out["clusters"].toPandas()
        funnel = dict(out["funnel_obs"].get)
        comp = dict(zip(pdf["image_id"], pdf["cluster_id"]))
        return {
            "counts": (int(funnel["candidate_pairs_generated"] or 0),
                       out["pairs"].count(), int(pdf["cluster_id"].nunique())),
            "covered": len(pdf) == len(self.ids) and set(comp) == set(self.ids),
            "recall": pair_recall(self.true_cluster, label_of(self.ids, comp)),
        }

    def check(self, r: dict) -> list[str]:
        self.recalls.append(r["recall"])
        bad = []
        if not r["covered"]:
            bad.append("clusters do not cover every input row exactly once")
        if r["recall"] < MIN_RECALL:
            bad.append(f"dup_pair_recall {r['recall']:.4f} < {MIN_RECALL}")
        if self.expected is None:
            self.expected = r["counts"]
        elif r["counts"] != self.expected:
            bad.append(f"counts {r['counts']} differ from the first op's {self.expected}")
        if self.full and r["counts"] != self.ANCHOR_COUNTS:
            bad.append(f"counts {r['counts']} != recorded {self.ANCHOR_COUNTS}")
        return bad

    def recall(self, spark) -> float:
        return float(np.median(self.recalls))

    # -- traced run -------------------------------------------------------
    def outputs(self, spark) -> dict[str, str]:
        """Digests of the last operation's pairs and clusters."""
        return {"pairs": digest(self.last["pairs"], ["src", "dst"]),
                "clusters": digest(self.last["clusters"], ["image_id", "cluster_id"])}

    def traced_op(self, spark, tracer) -> tuple[float, dict, list[str]]:
        """``run_pipeline`` itself, each layer's output materialized where
        its function returns; returns (seconds, counts, problems)."""
        store = self._store()
        counts: dict[str, float] = {}
        p = pipeline_mod
        layers = [
            Boundary(FreqTable, "compute", "freq", "freq.rows_out", size=lambda f: len(f.keys)),
            Boundary(p, "compute_signatures", "minhash", "minhash.rows_out"),
            Boundary(p, "candidate_pairs", "candidates", "candidates.pairs_out"),
            Boundary(p, "verified_pairs", "verify", "verify.pairs_out"),
            Boundary(p, "connected_components", "cluster"),
            Boundary(store, "write", "checkpoint", materialize=False),
            Boundary(store, "write_metrics", "checkpoint", materialize=False),
        ]
        with boundaries(tracer, counts, layers):
            t0 = time.perf_counter()
            with tracer.span("pipeline"):
                self.last = self._run(spark, self.df, store)
            elapsed = time.perf_counter() - t0
        r = self._evaluate(self.last)
        funnel = dict(self.last["funnel_obs"].get)
        n_cands, n_pairs = counts["candidates.pairs_out"], counts["verify.pairs_out"]
        counts.update({
            "candidates.buckets": int(funnel["n_buckets"] or 0),
            "candidates.capped_buckets": int(funnel["n_buckets_capped"] or 0),
            "verify.yield": n_pairs / n_cands if n_cands else 0.0,
            "cluster.edges_in": n_pairs,
            "cluster.clusters_out": r["counts"][2],
            "checkpoint.written_mb": _dir_mb(store.base_dir),
        })
        return elapsed, counts, self.check(r)


class StreamIngest(Workload):
    """``IncrementalDedup`` (pairs mode, flat index) seeded with an index in
    set-up; micro-batches then arrive one per operation.  The corpus is fixed
    and ``--seed`` draws the arrival order of its rows: the generator lays
    clusters out contiguously, so contiguous batches would swing several-fold
    in matches, and a seeded corpus would move the total work between seeds
    by as much as the order does."""

    name = "stream_ingest"
    sizes = {"full": {"index_rows": 1_000, "batch_rows": 400, "warm_batches": 1,
                      "batches": 6},
             "smoke": {"index_rows": 600, "batch_rows": 200, "warm_batches": 1,
                       "batches": 3}}

    def __init__(self, *args):
        super().__init__(*args)
        s = self.size
        self.cfg = PRESET_SCALE.with_overrides(candidate_mode="pairs",
                                               no_broadcast_hints=False)
        n = s["index_rows"] + s["batches"] * s["batch_rows"]
        corpus = generate_corpus(n, seed=CORPUS_SEED, with_images=False)
        order = np.random.default_rng(self.seed).permutation(n)
        rows = corpus_to_rows(corpus)
        self.rows = [rows[i] for i in order]
        self.true_cluster = corpus["true_cluster"][order]

    def _batch_rows(self, k: int):
        s = self.size
        lo = s["index_rows"] + (k - 1) * s["batch_rows"]
        return self.rows[lo:lo + s["batch_rows"]]

    def exhausted(self) -> bool:
        return self.n_ops >= self.size["batches"]

    def setup(self, spark, timed) -> list[str]:
        """Seed the index (batch 0), then warm up on the first micro-batches,
        which stay ingested; the measured batches follow them.  Returns the
        problems found in the warm-up batches."""
        index_df = self.frame(spark, self.rows[:self.size["index_rows"]])
        with timed:
            self.sink = IncrementalDedup(self.fresh_dir("sink"), self.cfg)
            self.sink.process_batch(index_df, 0)
        index_df.unpersist()
        self.ingested = {r[0] for r in self.rows[:self.size["index_rows"]]}
        bad = []
        for _ in range(self.size["warm_batches"]):
            bad += self.op(spark, timed)
        return bad

    def op(self, spark, clock) -> list[str]:
        """One timed micro-batch (inside ``with clock``), then its checks."""
        self.n_ops += 1
        return self.replay(spark, clock)

    def replay(self, spark, clock) -> list[str]:
        """(Re-)process batch ``n_ops``: ``process_batch`` overwrites its own
        partition and probes only earlier batches, so a replay does the same
        work and must give the same matches."""
        k = self.n_ops
        bdf = self.frame(spark, self._batch_rows(k), persist=False)
        with clock:
            self.sink.process_batch(bdf, k)
        return self.check_batch(spark, k)

    def _matches(self, spark, k: int | None = None):
        path = self.sink.match_path
        if k is not None:
            path = os.path.join(path, f"batch_id={k}")
        return spark.read.parquet(path)

    def check_batch(self, spark, k: int) -> list[str]:
        m = self._matches(spark, k)
        self.ingested.update(r[0] for r in self._batch_rows(k))
        row = m.agg(F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("src") == F.col("dst")).cast("int")).alias("self"),
                    F.countDistinct("src", "dst").alias("distinct")).first()
        bad = []
        if row["self"]:
            bad.append(f"batch {k}: {row['self']} self matches")
        if row["distinct"] != row["n"]:
            bad.append(f"batch {k}: duplicate match rows")
        matched = {r[0] for r in m.select(F.explode(F.array("src", "dst"))).distinct().collect()}
        if not matched <= self.ingested:
            bad.append(f"batch {k}: matches name rows never ingested")
        return bad

    def recall(self, spark) -> float:
        """Over every row ingested so far: components of all emitted matches."""
        n = self.size["index_rows"] + self.n_ops * self.size["batch_rows"]
        index = {r[0]: i for i, r in enumerate(self.rows[:n])}
        pdf = self._matches(spark).select("src", "dst").toPandas()
        # rows never ingested are reported by check_batch
        pdf = pdf[pdf["src"].isin(index.keys()) & pdf["dst"].isin(index.keys())]
        src = pdf["src"].map(index).to_numpy()
        dst = pdf["dst"].map(index).to_numpy()
        return pair_recall(self.true_cluster[:n], components(n, src, dst))

    # -- traced run -------------------------------------------------------
    def outputs(self, spark) -> dict[str, str]:
        """Digest of the last batch's matches."""
        return {"matches": digest(self._matches(spark, self.n_ops), ["src", "dst"])}

    def traced_op(self, spark, tracer) -> tuple[float, dict, list[str]]:
        """A replay of the last batch through ``process_batch`` itself, each
        layer's output materialized where its function returns."""
        k = self.n_ops
        counts: dict[str, float] = {}
        s = streaming_mod
        layers = [
            Boundary(s, "compute_signatures", "minhash", "minhash.rows_out"),
            Boundary(s, "candidate_pairs", "candidates", "candidates.pairs_out"),
            Boundary(s, "probe_candidates", "candidates", "candidates.pairs_out"),
            Boundary(s, "verified_pairs", "verify", "verify.pairs_out"),
        ]
        bdf = self.frame(spark, self._batch_rows(k), persist=False)
        with boundaries(tracer, counts, layers):
            t0 = time.perf_counter()
            with tracer.span("pipeline"), tracer.span("streaming"):
                self.sink.process_batch(bdf, k)
            elapsed = time.perf_counter() - t0
        index = spark.read.parquet(self.sink.sig_path)
        index_rows = index.count()
        n_cands, n_pairs = counts["candidates.pairs_out"], counts["verify.pairs_out"]
        counts.update({
            "verify.yield": n_pairs / n_cands if n_cands else 0.0,
            "streaming.index_rows": index.where(F.col("batch_id") < k).count(),
            "streaming.bytes_per_row": _dir_mb(self.sink.sig_path) * 1024 * 1024 / index_rows,
            "streaming.matches": self._matches(spark, k).count(),
        })
        return elapsed, counts, self.check_batch(spark, k)


class DocOps(Workload):
    """One pass over the near-duplicate operator leaves of
    ``__spark_entry__.queries()``, each collected to the driver, on
    synthetic ``documents`` and ``embeddings`` tables with planted
    near-duplicates (``perfbench.doccorpus``).  The tables are fixed and
    ``--seed`` draws the order their rows are written in, so each leaf's row
    count and value hash are checked against the recorded ones on every
    run."""

    name = "doc_ops"
    sizes = {"full": {"docs": 500, "vecs": 500, "warm": 100},
             "smoke": {"docs": 150, "vecs": 150, "warm": 60}}
    LEAVES = {
        "exact_dedup_docs": "ops.dedup",
        "word_jaccard_pairs": "ops.dedup",
        "minhash_doc_pairs": "ops.dedup",
        "minhash_dedup_keep": "ops.dedup",
        "simhash_near_dup": "ops.dedup",
        "substring_dup_docs": "ops.dedup",
        "cosine_topk": "ops.similarity",
        "embedding_near_dup": "ops.similarity",
        "lsh_ann_neighbors": "ops.similarity",
        "ivf_ann_neighbors": "ops.similarity",
    }
    # the session's first job and its first Python-UDF job carry most of the
    # cold cost; warming every leaf did not shorten the first measured pass
    WARM_LEAVES = ("exact_dedup_docs", "minhash_doc_pairs")
    # full size, recorded from the engine this benchmark was defined on:
    # leaf -> (rows, rows_digest)
    RECORDED = {
        "exact_dedup_docs": (475, "d325452998141d5e8f9c8b5790a0aedf3bb03fe9"),
        "word_jaccard_pairs": (56, "ef51c52430867b4c4d87c25955da3a28fd14bd01"),
        "minhash_doc_pairs": (306, "c254d683d4be0ee85f6adafe2a5d001b23a0c523"),
        "minhash_dedup_keep": (500, "5b1ec159369b8f69b30949d4f3ffd8585ba4b9a7"),
        "simhash_near_dup": (2, "25b22b4142c69f4fc6073858b2f436f839999727"),
        "substring_dup_docs": (349, "21dbcb933cbaad0c14abf4e730b9fe2c0201b2bb"),
        "cosine_topk": (50, "b7e71ce578a8f56a94ad4f41deee5ab3d016fb72"),
        "embedding_near_dup": (288, "31db98825eaddad9e9311095e7126ac4b833e711"),
        "lsh_ann_neighbors": (233, "6e6c89e7582a27f43f1a4b0c088ba5dc7a5e86df"),
        "ivf_ann_neighbors": (526, "0c9f896e5ff94d7f70ad00a46f0d1c09bcda40ca"),
    }

    def __init__(self, *args):
        super().__init__(*args)
        import __spark_entry__

        s = self.size
        self.queries = __spark_entry__.queries()
        self.data_dir = os.path.join(self.work_dir, "data")
        self.warm_dir = os.path.join(self.work_dir, "warm")
        groups = write_tables(self.data_dir, s["docs"], s["vecs"], CORPUS_SEED, self.seed)
        write_tables(self.warm_dir, s["warm"], s["warm"], CORPUS_SEED + 2, self.seed)
        self.doc_group = groups["documents"]
        self.expected = dict(self.RECORDED) if self.full else {}
        self.recalls: list[float] = []

    def _pass(self, spark, data_dir, leaves, span=None) -> dict[str, list]:
        span = span or (lambda layer: contextlib.nullcontext())
        rows = {}
        for leaf in leaves:
            with span(self.LEAVES[leaf]):
                rows[leaf] = self.queries[leaf](spark, data_dir).collect()
        return rows

    def setup(self, spark, timed) -> list[str]:
        """Warm-up: the ``WARM_LEAVES`` on small tables of the same shape."""
        with timed:
            self._pass(spark, self.warm_dir, self.WARM_LEAVES)
        return []

    def op(self, spark, clock) -> list[str]:
        with clock:
            rows = self._pass(spark, self.data_dir, self.LEAVES)
        return self.check(rows)

    def check(self, rows: dict[str, list]) -> list[str]:
        self.last = {leaf: (len(r), rows_digest(r)) for leaf, r in rows.items()}
        bad = []
        for leaf, got in self.last.items():
            want = self.expected.setdefault(leaf, got)
            if got != want:
                bad.append(f"{leaf}: (rows, digest) {got} != expected {want}")
        comp = {int(r["doc_id"]): r["cluster_id"] for r in rows["minhash_dedup_keep"]}
        ids = np.arange(len(self.doc_group))
        if set(comp) != set(ids.tolist()):
            bad.append("minhash_dedup_keep does not cover every document exactly once")
        recall = pair_recall(self.doc_group, label_of(ids, comp))
        self.recalls.append(recall)
        if recall < MIN_RECALL:
            bad.append(f"dup_pair_recall {recall:.4f} < {MIN_RECALL}")
        return bad

    def recall(self, spark) -> float:
        """Planted near-duplicate document pairs that share a
        ``minhash_dedup_keep`` cluster."""
        return float(np.median(self.recalls))

    # -- traced run -------------------------------------------------------
    def outputs(self, spark) -> dict[str, tuple[int, str]]:
        return dict(self.last)

    def traced_op(self, spark, tracer) -> tuple[float, dict, list[str]]:
        t0 = time.perf_counter()
        with tracer.span("pipeline"):
            rows = self._pass(spark, self.data_dir, self.LEAVES, tracer.span)
        elapsed = time.perf_counter() - t0
        return elapsed, {}, self.check(rows)


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


WORKLOADS = {w.name: w for w in (SkewResumable, StreamIngest, DocOps)}
