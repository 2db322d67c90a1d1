"""The benchmark workloads and the traced run's layer sweep.

Every workload is one closed-loop client: it sends its next call only when
the previous one has returned. Each call is timed around the public API
call alone (the result is collected inside the timed region); the oracle
check runs after the clock stops. A call that raises, or whose result the
oracle rejects, counts as failed and contributes no latency.

- ``ingest`` saves fresh collections of ``SAVE_DOCS`` documents from a
  long-tailed pool, then appends and upserts 1k-document batches to each,
  checking every write through a fresh catalog and ``find``: row count,
  every written document, and the stored vectors of a seeded sample.
- ``query`` runs, in a fixed cycle of classes, ``cosine_query`` top-10
  with 0, 1 or 2 metadata filters, ``nearest_query_df`` 1-NN, and
  ``cosine_query_many`` with 8 probes per call, unfiltered and with one
  filter.

Sizes are set so that one run (session start, set-up, a 20 s measurement
and tear-down) stays near 60 s on a 4-core machine: even at a few
thousand documents a single ``cosine_query`` costs 0.3 s or more.
"""

from __future__ import annotations

import os
import statistics
import sys
import traceback
from collections import defaultdict
from time import perf_counter

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from valentinus_spark import EmbeddingCollection, HashEmbedder
from valentinus_spark.collection import COLLECTION_SCHEMA, CollectionCatalog
from valentinus_spark.functions.vector import cosine_similarity, l2_distance

import corpus
from oracle import TOL, HashOracle, QueryOracle
from spans import TracedEmbedder

QUERY_DOCS = 2_500
POOL_DOCS = 64_000
SAVE_DOCS = 5_000
BATCH_DOCS = 1_000
WRITE_PAIRS = 2
WARM_DOCS = 2_000
WARM_CYCLES = 3
SETUP_REPS = 3
TOPK = 10
DIM = 384
EMBED_SEED = 42  # HashEmbedder's default seed
SWEEP_REPS = 3
VECTOR_SAMPLE = 16  # written rows per write whose stored vector is compared
NEW_TOKEN_FLOOR = 0.05  # least share of ingest tokens new to the run


def median(xs):
    if not xs:
        raise ValueError("a metric has no samples: every call of its kind failed")
    return statistics.median(xs)


def p90(xs):
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _dirs, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    ]


def stored_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def scanned_rows(df) -> int:
    """Rows the executed plan of ``df`` read from Parquet: the sum of the
    ``numOutputRows`` metric over its file scans, after ``collect``."""
    total, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "ReusedExchangeExec":
            stack.append(node.child())
        else:
            if cls == "FileSourceScanExec":
                total += node.metrics().get("numOutputRows").get().value()
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


class Run:
    """State shared by one run: session, tracer, op counters, samples."""

    def __init__(self, spark, tracer, seed: int, warehouse: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.warehouse = warehouse
        self.embedder = HashEmbedder(dim=DIM, seed=EMBED_SEED)
        self.hash_oracle = HashOracle(DIM, EMBED_SEED)
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.query_ops = 0

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def op(self, kind: str, call, check):
        """One checked operation. ``call()`` is timed; ``check(result)``
        returns None when the result is right, else a description."""
        op_id = self.attempted
        self.attempted += 1
        self.tracer.op = op_id
        try:
            with self.tracer.span("op." + kind, "bench"):
                t0 = perf_counter()
                result = call()
                dt = perf_counter() - t0
            err = check(result)
        except Exception:
            err = traceback.format_exc(limit=4)
        finally:
            self.tracer.op = None
        if err:
            self.failed_ops.add(op_id)
            print(f"[perfbench] {kind} #{op_id} failed: {err}", file=sys.stderr)
            return None
        self.lat[kind].append(dt)
        return result

    def frame(self, rows):
        return self.spark.createDataFrame(rows, COLLECTION_SCHEMA)

    # ------------------------------------------------------------ writes

    def check_vectors(self, df, docs: dict[str, str]) -> str | None:
        """Compare the stored vectors of a seeded sample of ``docs`` (id to
        document) with the oracle's embedding of each document."""
        ids = sorted(docs)
        pick = [ids[j] for j in corpus.sample_positions(self.seed, self.attempted,
                                                         len(ids), VECTOR_SAMPLE)]
        rows = df.filter(F.col("id").isin(pick)).select("id", "embedding").collect()
        got = {r["id"]: r["embedding"] for r in rows}
        want = self.hash_oracle.embed([docs[i] for i in pick])
        for i, w in zip(pick, want):
            v = got.get(i)
            if v is None or len(v) != len(w):
                return f"stored vector of {i!r} missing or of wrong length"
            if np.abs(np.asarray(v, dtype=np.float64) - w).max() > TOL:
                return f"stored vector of {i!r} differs from the oracle's"
        return None

    def save(self, rows, name: str, kind: str = "save"):
        tr = self.tracer

        df = self.frame(rows)

        def call():
            col = EmbeddingCollection.from_dataframe(
                self.spark, df, name, embedder=self.traced_embedder()
            )
            with tr.span("collection.save", "collection", count_jobs=True):
                return col.save()

        def check(col):
            n = CollectionCatalog(self.spark, self.warehouse).resolve(col.view)["n_rows"]
            if n != len(rows):
                return f"catalog n_rows {n} != {len(rows)} saved"
            err = self.check_vectors(col.df, {r[0]: r[1] for r in rows})
            if err is None:
                self.samples["stored_bytes_per_doc"].append(
                    stored_bytes(col.catalog.data_path(col.view)) / n
                )
            return err

        return self.op(kind, call, check)

    def traced_embedder(self):
        """The embedder, wrapped for client-side spans in the traced run."""
        if self.tracer.enabled:
            return TracedEmbedder(self.embedder, self.tracer)
        return self.embedder

    def check_written(self, view: str, n_rows: int, want: dict[str, str]) -> str | None:
        """Read-your-write through a fresh catalog and ``find``: the row
        count, every written document and a sample of the stored vectors."""
        tr = self.tracer
        catalog = CollectionCatalog(self.spark, self.warehouse)
        with tr.span("collection.find", "collection", count_jobs=True):
            fresh = EmbeddingCollection.find(self.spark, view=view, catalog=catalog)
        got_n = catalog.resolve(view)["n_rows"]
        if got_n != n_rows:
            return f"catalog n_rows {got_n} != {n_rows}"
        with tr.span("collection.read", "collection", count_jobs=True):
            rows = (
                fresh.df.filter(F.col("id").isin(list(want)))
                .select("id", "document")
                .collect()
            )
        got = {r["id"]: r["document"] for r in rows}
        if len(rows) != len(want) or got != want:
            bad = [i for i in want if got.get(i) != want[i]]
            return f"{len(bad)} of {len(want)} written rows not read back, e.g. {bad[:2]}"
        return self.check_vectors(fresh.df, want)

    def append(self, col, rows, expect_rows: int):
        tr = self.tracer
        df = self.frame(rows)

        def call():
            with tr.span("collection.append", "collection", count_jobs=True):
                return col.append(df)

        want = {r[0]: r[1] for r in rows}
        return self.op("append", call, lambda c: self.check_written(c.view, expect_rows, want))

    def upsert(self, col, rows, expect_rows: int):
        tr = self.tracer
        df = self.frame(rows)
        path = col.catalog.data_path(col.view)
        before = set(parquet_files(path))

        def call():
            with tr.span("collection.upsert", "collection", count_jobs=True):
                return col.upsert(df)

        want = {r[0]: r[1] for r in rows}

        def check(c):
            err = self.check_written(c.view, expect_rows, want)
            if err is None:
                written = [f for f in parquet_files(path) if f not in before]
                self.samples["upsert_rewritten_rows"].append(
                    sum(pq.ParquetFile(f).metadata.num_rows for f in written)
                )
            return err

        return self.op("upsert", call, check)

    def write_round(self, col, ids: list[str], batches) -> None:
        """For each (``added``, ``fresh``) pair: append ``added``, then
        upsert ``fresh``, its first half under ids already stored
        (replacing them) and the rest under new ids. ``ids`` lists the
        collection's ids and grows with the writes."""
        for added, fresh in batches:
            col = self.append(col, added, len(ids) + len(added))
            if col is None:
                return
            ids.extend(r[0] for r in added)
            half = len(fresh) // 2
            pos = corpus.upsert_targets(self.seed, self.attempted, len(ids), half)
            rows = [(ids[j], d, m) for j, (_i, d, m) in zip(pos, fresh[:half])]
            col = self.upsert(col, rows + fresh[half:], len(ids) + len(fresh) - half)
            if col is None:
                return
            ids.extend(r[0] for r in fresh[half:])

    def delete(self, col):
        tr = self.tracer
        path = col.catalog.data_path(col.view)

        def call():
            with tr.span("collection.delete", "collection", count_jobs=True):
                EmbeddingCollection.delete(self.spark, col.view, catalog=col.catalog)

        def check(_):
            views = CollectionCatalog(self.spark, self.warehouse).list_views()
            if col.view in views or os.path.exists(path):
                return f"{col.view} still present after delete"
            return None

        self.op("delete", call, check)

    # ----------------------------------------------------------- queries

    def query(self, col, oracle: QueryOracle, probe: corpus.Probe, kind: str):
        tr = self.tracer
        f_where = list(probe.f_where)
        self.query_ops += 1

        if probe.kind == "cosine":
            text = probe.texts[0]

            def call():
                with tr.span("collection.cosine_query", "collection"):
                    df = col.cosine_query(text, num_results=TOPK, f_where=f_where)
                with tr.span("collection.collect", "collection", count_jobs=True):
                    return df, df.collect()

            def check(rows):
                return oracle.check_topk(
                    [(r["id"], r["document"], r["similarity"]) for r in rows], text, f_where, TOPK
                )

        elif probe.kind == "nearest":
            text = probe.texts[0]

            def call():
                with tr.span("collection.nearest_query_df", "collection"):
                    df = col.nearest_query_df(text, k=1)
                with tr.span("collection.collect", "collection", count_jobs=True):
                    return df, df.collect()

            def check(rows):
                return oracle.check_nearest([(r["id"], r["distance"]) for r in rows], text)

        else:
            texts = list(probe.texts)

            def call():
                with tr.span("collection.cosine_query_many", "collection"):
                    df = col.cosine_query_many(texts, num_results=TOPK, f_where=f_where)
                with tr.span("collection.collect", "collection", count_jobs=True):
                    return df, df.collect()

            def check(rows):
                by_q = defaultdict(list)
                for r in rows:
                    by_q[r["qid"]].append((r["id"], r["document"], r["similarity"]))
                if set(by_q) - set(range(len(texts))):
                    return f"unknown qids {sorted(set(by_q))}"
                for q, text in enumerate(texts):
                    err = oracle.check_topk(by_q.get(q, []), text, f_where, TOPK)
                    if err:
                        return f"probe {q}: {err}"
                return None

        def checked(result):
            df, rows = result
            if self.tracer.enabled:
                self.samples["rows_scanned_per_result"].append(
                    scanned_rows(df) / max(len(rows), 1)
                )
            return check(rows)

        self.op(kind, call, checked)


# ---------------------------------------------------------------- workloads


class Workload:
    """``generate`` makes the inputs, ``build`` is the repeatable set-up
    step, ``warm`` runs untimed calls, ``measure`` loops
    until the deadline. ``target`` names the collection, rows and oracle
    the traced run's sweep probes."""

    def __init__(self, run: Run):
        self.run = run
        self.info: dict = {}

    def setup(self, memo_max: int) -> dict:
        t0 = perf_counter()
        inputs = self.generate()
        gen_s = perf_counter() - t0
        self.info["corpus_digest"] = inputs.digest()
        self.prepare(memo_max)
        builds = []
        for rep in range(SETUP_REPS):
            t0 = perf_counter()
            self.build(rep)
            builds.append(perf_counter() - t0)
        t0 = perf_counter()
        self.warm()
        warm_s = perf_counter() - t0
        self.run.lat.clear()
        return {"generate_s": gen_s, "build_s": builds, "warm_s": warm_s,
                "setup_s": gen_s + median(builds) + warm_s}

    def prepare(self, memo_max: int):
        """Benchmark-side checks and preparation, kept out of set-up time."""

    def _keep_last_build(self):
        *old, col = self.cols
        for c in old:
            EmbeddingCollection.delete(self.run.spark, c.view, catalog=c.catalog)
        return col


def _oracle(rows: corpus.Corpus) -> QueryOracle:
    return QueryOracle(rows.ids, rows.docs, rows.meta, HashOracle(DIM, EMBED_SEED))


class Query(Workload):
    cycle = corpus.QUERY_CYCLE

    def generate(self):
        seed = self.run.seed
        self.corpus = corpus.query_corpus(seed, QUERY_DOCS)
        self.probes = corpus.probes(seed, self.cycle, 2_000)
        self.cols = []
        return self.corpus

    def prepare(self, memo_max: int):
        self.info.update(corpus.check_vocabulary(self.corpus, memo_max))
        self.oracle = _oracle(self.corpus)

    def build(self, rep: int):
        col = self.run.save(self.corpus.rows(), f"query{rep}", kind="build")
        if col is None:
            raise RuntimeError("building the query collection failed")
        self.cols.append(col)

    def warm(self):
        # latency keeps falling over the first cycles of calls while the JVM
        # compiles the query paths, so the measured calls come after these;
        # two-probe batches take the batched path through the same code
        self.col = self._keep_last_build()
        for probe in corpus.probes(self.run.seed, self.cycle, WARM_CYCLES * len(self.cycle), "sweep"):
            self.run.query(self.col, self.oracle, corpus.small(probe), "warm")

    def target(self):
        return self.col, self.corpus, self.oracle

    def measure(self, deadline: float):
        for k, probe in enumerate(self.probes):
            # whole cycles, the first always: latency depends on the class
            # (fewer rows pass a selective filter), so every run gets the
            # same mix of classes
            if k and k % len(self.cycle) == 0 and perf_counter() >= deadline:
                break
            kind = "many_filtered" if probe.kind == "many" and probe.f_where else probe.kind
            self.run.query(self.col, self.oracle, probe, kind)

    def report(self) -> dict:
        lat = self.run.lat
        single = lat["cosine"] + lat["nearest"]
        batch = lat["many"] + lat["many_filtered"]
        return {
            "query_p50_s": (median(lat["cosine"]), "s"),
            "query_p90_s": (p90(lat["cosine"]), "s"),
            "nearest_p50_s": (median(lat["nearest"]), "s"),
            "queries_per_s": (len(single) / sum(single), "1/s"),
            "batch_call_p50_s": (median(lat["many"]), "s"),
            "batch_filtered_call_p50_s": (median(lat["many_filtered"]), "s"),
            "batch_queries_per_s": (corpus.BATCH_PROBES * len(batch) / sum(batch), "1/s"),
        }

    @staticmethod
    def end_to_end(named: dict) -> dict:
        return {"primary_p50_s": named["query_p50_s"],
                "secondary_p50_s": named["nearest_p50_s"],
                "throughput_per_s": named["batch_queries_per_s"]}


class Ingest(Workload):
    def generate(self):
        self.pool = corpus.ingest_pool(self.run.seed, POOL_DOCS)
        self.taken = 0
        self.warm_rows = self.take(WARM_DOCS, "warm")
        self.cols = []
        return self.pool

    def take(self, n: int, prefix: str) -> list[tuple]:
        """The next ``n`` pool documents under fresh ids (wrapping around)."""
        out = []
        for k in range(n):
            j = (self.taken + k) % POOL_DOCS
            out.append((f"{prefix}{k}", self.pool.docs[j], self.pool.meta[j]))
        self.taken += n
        return out

    def batches(self, prefix: str) -> list[tuple]:
        """``WRITE_PAIRS`` (append, upsert) batches of ``BATCH_DOCS``."""
        return [(self.take(BATCH_DOCS, f"{prefix}a{b}_"), self.take(BATCH_DOCS, f"{prefix}u{b}_"))
                for b in range(WRITE_PAIRS)]

    def build(self, rep: int):
        col = self.run.save(self.warm_rows, f"warm{rep}", kind="build")
        if col is None:
            raise RuntimeError("saving the warm-up collection failed")
        self.cols.append(col)

    def warm(self):
        # full-size batches: the first writes of a run are slow until the
        # JVM has compiled the write path
        col = self._keep_last_build()
        self.run.write_round(col, [r[0] for r in self.warm_rows], self.batches("warm_"))
        self.run.delete(col)
        self.run.samples.clear()

    def target(self):
        rows = corpus.Corpus(*zip(*self.take(QUERY_DOCS, "probe")))
        col = self.run.save(rows.rows(), "probe")
        if col is None:
            raise RuntimeError("saving the probe collection failed")
        return col, rows, _oracle(rows)

    def measure(self, deadline: float):
        """Whole rounds, the first always: a save, ``WRITE_PAIRS`` append
        and upsert pairs on the saved collection, a delete."""
        r = 0
        while r == 0 or perf_counter() < deadline:
            rows = self.take(SAVE_DOCS, f"r{r}_")
            col = self.run.save(rows, f"ingest{r}")
            if col is None:
                break
            self.run.write_round(col, [x[0] for x in rows], self.batches(f"r{r}_"))
            self.run.delete(col)
            r += 1

    def report(self) -> dict:
        embedded = [self.pool.docs[j % POOL_DOCS] for j in range(self.taken)]
        self.info.update(corpus.check_traffic(embedded, NEW_TOKEN_FLOOR))
        self.info["worker_token_memo"] = worker_memo_sizes(self.run.spark)
        s = self.run.samples
        return {
            "ingest_docs_per_s": (median([SAVE_DOCS / t for t in self.run.lat["save"]]), "1/s"),
            "append_p50_s": (median(self.run.lat["append"]), "s"),
            "upsert_p50_s": (median(self.run.lat["upsert"]), "s"),
            "stored_bytes_per_doc": (median(s["stored_bytes_per_doc"]), "B"),
        }

    @staticmethod
    def end_to_end(named: dict) -> dict:
        return {"primary_p50_s": named["append_p50_s"],
                "secondary_p50_s": named["upsert_p50_s"],
                "throughput_per_s": named["ingest_docs_per_s"]}


def worker_memo_sizes(spark) -> list[int]:
    """Token-memo sizes of the Python workers that run one task per core
    (a record: which workers serve the tasks is up to Spark)."""
    n = int(os.environ["SPARK_GRAFT_CPUS"])

    def sizes(batches):
        import os

        import pandas as pd
        from valentinus_spark import embed

        for _ in batches:
            yield pd.DataFrame({"pid": [os.getpid()], "memo": [len(embed._TOKEN_CACHE)]})

    rows = spark.range(0, n, 1, n).mapInPandas(sizes, "pid long, memo long").collect()
    return sorted({r["pid"]: r["memo"] for r in rows}.values())


WORKLOADS = {"ingest": Ingest, "query": Query}


# ------------------------------------------------------------------- sweep

SWEEP_CYCLE = ("cos0", "cos_low", "nearest", "cos_med", "cos_high", "cos2", "many1")


def sweep(run: Run, wl: Workload) -> None:
    """The traced run's layer probes, so every layer metric exists on every
    workload: the embedding UDF and each vector expression alone into a
    ``noop`` sink, a save of pre-embedded rows, an append/upsert/delete
    round on that copy, and one query of each class."""
    tr, spark = run.tracer, run.spark
    col, rows, oracle = wl.target()
    n = len(rows)

    frame = run.frame(rows.rows())
    for _ in range(SWEEP_REPS):
        with tr.span("embed.udf_noop", "embed", count_jobs=True) as s:
            frame.select(run.embedder.embed_col("document").alias("e")).write.format(
                "noop"
            ).mode("overwrite").save()
        run.samples["embed.udf_docs_per_s"].append(n / s.duration)

    stored = col.df
    texts = [p.texts[0] for p in corpus.probes(run.seed, ("cos0",), corpus.BATCH_PROBES, "sweep")]
    vecs = run.embedder.embed_texts(texts)
    qv = [float(x) for x in vecs[0]]
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], "qid int, qvec array<double>"
    )
    vector_probes = {
        "cosine_rows_per_s": (lambda: stored.select(cosine_similarity("embedding", qv)), n),
        "l2_rows_per_s": (lambda: stored.select(l2_distance("embedding", qv)), n),
        "cosine_pairs_per_s": (
            lambda: stored.crossJoin(F.broadcast(queries)).select(
                cosine_similarity("embedding", F.col("qvec"))
            ),
            n * len(texts),
        ),
    }
    for name, (plan, work) in vector_probes.items():
        for _ in range(SWEEP_REPS):
            with tr.span("functions.vector." + name, "functions.vector", count_jobs=True) as s:
                plan().write.format("noop").mode("overwrite").save()
            run.samples["functions.vector." + name].append(work / s.duration)

    def save_copy():
        copy = EmbeddingCollection.from_dataframe(
            spark, stored, "probe_copy", embedder=run.traced_embedder()
        )
        with tr.span("collection.save_preembedded", "collection", count_jobs=True):
            return copy.save()

    def check_copy(c):
        if c.df.count() != n:
            return "pre-embedded copy lost rows"
        return run.check_vectors(c.df, dict(zip(rows.ids, rows.docs)))

    copy = run.op("save_preembedded", save_copy, check_copy)
    if copy is not None:
        run.samples["collection.write_rows_per_s"].append(n / run.lat["save_preembedded"][-1])
        extra = corpus.write_docs(run.seed, 2 * BATCH_DOCS)
        batch = (extra.rows(0, BATCH_DOCS), extra.rows(BATCH_DOCS))
        run.write_round(copy, list(rows.ids), [batch])
        run.delete(copy)

    for probe in corpus.probes(run.seed, SWEEP_CYCLE, len(SWEEP_CYCLE), "sweep"):
        run.query(col, oracle, corpus.small(probe), "sweep")
