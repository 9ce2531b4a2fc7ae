"""The workloads. Each is a closed loop with one client: the next
operation starts only after the previous one has returned and been
materialized. The engine receives only the DataFrames generated here.

Every timed operation ends in an action whose wall time is recorded,
and its output is then checked (untimed) against an oracle in
``oracles.py``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import gen
import oracles
from spans import NullRecorder

K = 10
DIM = 64
#: hash-sharded Vamana graph parameters shared by every workload
GRAPH_DEGREE = 16
BUILD_WINDOW = 32
SEARCH_WINDOW = 10
#: IVF: one cell per CELL_ROWS rows, probes per query
CELL_ROWS = 250
N_PROBES = 2
QUERY_BATCH = 200
SETUP_REPS = 3
#: recall floors: a run below one of these fails its check
IVF_RECALL_FLOOR = 0.70
VAMANA_RECALL_FLOOR = 0.70


@dataclass
class Op:
    kind: str
    iteration: int
    wall_s: float
    items: int
    ok: bool = True


@dataclass
class Outcome:
    setup_s: list[float] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    #: workload-named end-to-end numbers: name -> (value, unit)
    named: dict = field(default_factory=dict)
    #: per-layer numbers the harness measures itself
    layer: dict = field(default_factory=dict)
    #: op kinds whose medians make up op_p50_s
    kinds: tuple = ()
    recall: float = 1.0
    #: checks that belong to no timed operation (e.g. a built index's
    #: recall), counted as operations of their own
    standalone: int = 0
    standalone_failed: int = 0


class Harness:
    """Shared loop, timing, span and check plumbing."""

    def __init__(self, spark, seed: int, seconds: float, recorder, cores: int,
                 work_dir: str, trace: bool):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.work_dir = work_dir
        self.trace = trace
        self.rec = recorder
        self.out = Outcome()
        self._warming = False

    def span(self, name: str, iteration: int | None = None):
        return self.rec.span(name, iteration)

    def setup(self, fn, teardown, reps: int = SETUP_REPS) -> object:
        """Run ``fn`` ``reps`` times, recording each wall time;
        ``teardown`` releases every rep's state except the last's."""
        state = None
        for rep in range(reps):
            if state is not None:
                teardown(state)
            with self.span("setup", rep):
                t0 = time.perf_counter()
                state = fn(rep)
                self.out.setup_s.append(time.perf_counter() - t0)
        return state

    def timed(self, kind: str, iteration: int, items: int, fn):
        """One timed operation; ``fn`` makes the module-named spans and
        ends in the action that materializes the result. During warm-up
        the operation runs untimed and untraced, and returns no Op."""
        if self._warming:
            return fn(), None
        with self.span(f"op.{kind}", iteration):
            t0 = time.perf_counter()
            result = fn()
            wall = time.perf_counter() - t0
        op = Op(kind, iteration, wall, items)
        self.out.ops.append(op)
        return result, op

    def check(self, op: Op | None, failure: str | None, what: str) -> None:
        if op is None:
            self.out.standalone += 1
        if failure is not None:
            if op is None:
                self.out.standalone_failed += 1
            else:
                op.ok = False
            self.out.failures.append(f"{what}: {failure}")

    def loop(self, step, min_iterations: int) -> None:
        """Call ``step(0)`` once untimed and untraced, which starts every
        code path the loop uses (Python workers, generated code; the
        first call of each kind measured up to 1.7x slower than the
        second on a 4-core host), then ``step(i)``
        for i = 1, 2, ... until ``seconds`` have passed and at least
        ``min_iterations`` timed iterations ran, or a check fails."""
        rec, self.rec, self._warming = self.rec, NullRecorder(), True
        step(0)
        self.rec, self._warming = rec, False
        t_end = time.perf_counter() + self.seconds
        i = 1
        while i <= min_iterations or time.perf_counter() < t_end:
            if self.out.failures:
                break
            step(i)
            i += 1

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def median_of(ops: list[Op], kind: str) -> float:
    return statistics.median(o.wall_s for o in ops if o.kind == kind)


def tail(values: list[float], counts: list[int]) -> tuple[float, float, int]:
    """Highest percentile of a pooled sample with at least 10 samples
    beyond it: ``values[j]`` occurs ``counts[j]`` times. Returns
    (value, percentile, sample count)."""
    pooled = np.repeat(np.asarray(values), np.asarray(counts))
    n = len(pooled)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            return float(np.percentile(pooled, p)), p, n
    return float(np.median(pooled)), 50.0, n


def _unpersist(*dfs) -> None:
    for df in dfs:
        if df is not None:
            df.unpersist()


def _release_vamana(idx) -> None:
    _unpersist(idx.graph, idx.layout)


def _graph_params():
    from scalablevectorsearch_spark.operators.vamana import VamanaParams

    return VamanaParams(graph_max_degree=GRAPH_DEGREE, window_size=BUILD_WINDOW, alpha=1.2)


def _space(seed: int) -> gen.VectorSpace:
    return gen.VectorSpace(seed, DIM, n_clusters=48, spread=1.0)


def _query_batch(h: Harness, space, stream: int, i: int):
    Q = space.sample(gen.rng_for(h.seed, stream, i), QUERY_BATCH)
    return Q, gen.vector_frame(h.spark, np.arange(QUERY_BATCH), Q, "qid")


def _build_ivf(h: Harness, base, n_rows: int):
    from scalablevectorsearch_spark.operators.ivf import ivf_build
    from scalablevectorsearch_spark.operators.kmeans import train_kmeans

    n_cells = max(8, n_rows // CELL_ROWS)
    with h.span("operators.kmeans.train_kmeans"):
        model = train_kmeans(base, n_cells, 2)
    with h.span("operators.ivf.ivf_build"):
        idx = ivf_build(base, n_cells, model=model)
        idx.clustered = idx.clustered.cache()
        idx.clustered.count()
    return idx


def _build_vamana(h: Harness, base):
    from scalablevectorsearch_spark.operators.vamana import vamana_build

    with h.span("operators.vamana.vamana_build"):
        idx = vamana_build(base, _graph_params(), n_shards=h.cores)
        idx.graph = idx.graph.cache()
        idx.graph.count()
    return idx


def _probed_rows(ivf, sizes: np.ndarray, Q: np.ndarray) -> float:
    """Rows the IVF search scans per returned result: sizes of each
    query's N_PROBES nearest cells, over Q*k."""
    D = oracles.sq_l2(Q, ivf.model.centroids)
    probed = np.argsort(D, axis=1)[:, :N_PROBES]
    return float(sizes[probed].sum()) / (len(Q) * K)


def _kernel_spans(h: Harness, X: np.ndarray, n_shards: int) -> None:
    """Time the per-shard kernels directly on one shard's rows, with
    BLAS pinned to one thread as on the workers."""
    from scalablevectorsearch_spark.operators.vamana_local import (
        batch_greedy_search,
        build_graph,
    )

    shard = X[::n_shards].astype(np.float64)
    t0 = time.perf_counter()
    graph, entry = build_graph(shard, _graph_params(), "l2")
    build_s = time.perf_counter() - t0
    Q = shard[:QUERY_BATCH] + 0.01
    t0 = time.perf_counter()
    batch_greedy_search(shard, graph, [entry], Q, SEARCH_WINDOW)
    search_s = time.perf_counter() - t0
    h.out.layer["operators.vamana_local.build_graph_s"] = build_s
    h.out.layer["operators.vamana_local.batch_greedy_search_s"] = search_s


# ---- vector_serve ---------------------------------------------------------

VECTOR_ROWS = 4000
MUTATE_FRAC = 0.01
READS = ("flat", "ivf", "vamana")


def vector_serve(h: Harness) -> None:
    """Set-up: IVF and hash-sharded Vamana bulk builds over one table;
    the Vamana graph goes through save/load and the loaded copy serves
    read-only searches, while the built copy becomes the dynamic index.
    Loop: one cycle = a fresh query batch through flat, IVF and Vamana
    search, then add 1% + delete 1% of the dynamic index and a fresh
    batch through dynamic search, then consolidate (the schedule of
    SVS's dynamic regression test, scaled down and with consolidate in
    every cycle, so that the one cycle a short run times has one)."""
    from scalablevectorsearch_spark.operators.dynamic import (
        add_points,
        consolidate,
        delete_entries,
        dynamic_search,
        dynamic_vamana,
    )
    from scalablevectorsearch_spark.operators.flat import flat_knn
    from scalablevectorsearch_spark.operators.ivf import ivf_search
    from scalablevectorsearch_spark.operators.vamana import vamana_search
    from scalablevectorsearch_spark.sources.index_store import load_vamana, save_vamana

    space = _space(h.seed)
    X = space.sample(gen.rng_for(h.seed, gen.BASE), VECTOR_ROWS)
    ids = np.arange(VECTOR_ROWS, dtype=np.int64)
    pos = {int(i): j for j, i in enumerate(ids)}
    base = gen.vector_frame(h.spark, ids, X).cache()
    base.count()

    def build(rep):
        ivf = _build_ivf(h, base, VECTOR_ROWS)
        built = _build_vamana(h, base)
        path = h.fresh_dir(f"index-{rep}")
        with h.span("sources.index_store.save_vamana"):
            save_vamana(built, path)
        with h.span("sources.index_store.load_vamana"):
            vam = load_vamana(h.spark, path)
            vam.graph = vam.graph.cache()
            vam.graph.count()
            vam.layout.count()
        return ivf, built, vam, path

    def teardown(state):
        ivf, built, vam, path = state
        _unpersist(ivf.clustered)
        _release_vamana(built)
        _release_vamana(vam)

    ivf, built, vam, path = h.setup(build, teardown)
    cells = np.zeros(VECTOR_ROWS, dtype=np.int64)
    stamped = ivf.clustered.select("id", "cluster_id").collect()
    for r in stamped:
        cells[r[0]] = r[1]
    h.check(None, _check_cells(len(stamped), cells, ivf.model.centroids, X), "ivf build")
    h.check(None, _check_graph(vam, VECTOR_ROWS, h.cores), "vamana build")
    sizes = np.bincount(cells, minlength=ivf.n_clusters)
    saved = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
    h.out.layer["sources.index_store.index_bytes_per_vector_byte"] = saved / X.nbytes

    live = {int(i): X[i] for i in range(VECTOR_ROWS)}
    state = {"dyn": dynamic_vamana(built), "next_id": VECTOR_ROWS}
    n_mod = int(VECTOR_ROWS * MUTATE_FRAC)
    recalls = {"ivf": [], "vamana": [], "dynamic": []}
    examined = []

    def read(kind, qdf):
        if kind == "flat":
            with h.span("operators.flat.flat_knn"):
                return flat_knn(base, qdf, k=K).collect()
        if kind == "ivf":
            with h.span("operators.ivf.ivf_search"):
                return ivf_search(ivf, qdf, k=K, n_probes=N_PROBES).collect()
        if kind == "vamana":
            with h.span("operators.vamana.vamana_search"):
                return vamana_search(vam, qdf, k=K, search_window_size=SEARCH_WINDOW).collect()
        with h.span("operators.dynamic.dynamic_search"):
            return dynamic_search(
                state["dyn"], qdf, k=K, search_window_size=SEARCH_WINDOW
            ).collect()

    def query(kind, c, j, live_ids, Xl, valid):
        Q, qdf = _query_batch(h, space, gen.QUERIES, 4 * c + j)
        rows, op = h.timed(kind, c, QUERY_BATCH, lambda: read(kind, qdf))
        per = oracles.group_rows(rows, QUERY_BATCH)
        h.check(op, oracles.check_shape(per, K, valid), f"{kind} batch {c}")
        D = oracles.sq_l2(Q, Xl)
        if kind == "flat":
            h.check(op, oracles.check_exact(per, D, pos, K), f"flat batch {c}")
            return
        r = oracles.recall(per, oracles.top_k(D, live_ids, K))
        recalls[kind].append(r)
        floor = IVF_RECALL_FLOOR if kind == "ivf" else VAMANA_RECALL_FLOOR
        h.check(op, None if r >= floor else f"recall {r:.3f} < {floor}", f"{kind} batch {c}")
        if kind == "ivf":
            examined.append(_probed_rows(ivf, sizes, Q))

    def mutate(adds_df, del_df):
        with h.span("operators.dynamic.add_points"):
            d = add_points(state["dyn"], adds_df)
        with h.span("operators.dynamic.delete_entries"):
            return delete_entries(d, del_df)

    def step(c):
        for j, kind in enumerate(READS):
            query(kind, c, j, ids, X, set(pos))
        new_ids = np.arange(state["next_id"], state["next_id"] + n_mod, dtype=np.int64)
        state["next_id"] += n_mod
        Xa = space.sample(gen.rng_for(h.seed, gen.ADDS, c), n_mod)
        adds_df = gen.vector_frame(h.spark, new_ids, Xa)
        pool = np.asarray(sorted(live), dtype=np.int64)
        dels = gen.rng_for(h.seed, gen.DELETES, c).choice(pool, n_mod, replace=False)
        del_df = h.spark.createDataFrame([(int(i),) for i in dels], "id long")
        state["dyn"], _ = h.timed("mutation", c, 2 * n_mod, lambda: mutate(adds_df, del_df))
        live.update({int(i): v for i, v in zip(new_ids, Xa)})
        for i in dels:
            del live[int(i)]
        live_ids = np.asarray(sorted(live), dtype=np.int64)
        Xl = np.stack([live[i] for i in live_ids.tolist()])
        query("dynamic", c, 3, live_ids, Xl, set(live))

        n_tomb = state["dyn"].n_tombstones()
        h.check(None, None if n_tomb > 0 else "no tombstones", f"consolidate {c}")

        def cons():
            with h.span("operators.dynamic.consolidate"):
                return consolidate(state["dyn"])

        state["dyn"], op = h.timed("consolidate", c, 0, cons)
        h.check(op, _check_consolidated(state["dyn"], live), f"consolidate {c}")

    h.loop(step, min_iterations=1)
    h.out.kinds = READS + ("mutation", "dynamic", "consolidate")
    ops = h.out.ops
    rec = {k: statistics.fmean(v) for k, v in recalls.items()}
    h.out.recall = statistics.fmean(rec.values())
    reads = [o for o in ops if o.kind in READS]
    value, pct, n = tail([o.wall_s for o in reads], [o.items for o in reads])
    h.out.named.update({
        "flat_query_p50_s": (median_of(ops, "flat"), "s"),
        "ivf_query_p50_s": (median_of(ops, "ivf"), "s"),
        "vamana_query_p50_s": (median_of(ops, "vamana"), "s"),
        "query_tail_s": (value, "s"),
        "query_tail_percentile": (pct, "%"),
        "query_tail_samples": (n, "count"),
        "ivf_recall_at_10": (rec["ivf"], "fraction"),
        "vamana_recall_at_10": (rec["vamana"], "fraction"),
        "index_bytes_per_vector_byte": (
            h.out.layer["sources.index_store.index_bytes_per_vector_byte"], "ratio"),
        "mutation_p50_s": (median_of(ops, "mutation"), "s"),
        "consolidate_s": (median_of(ops, "consolidate"), "s"),
        "dynamic_query_p50_s": (median_of(ops, "dynamic"), "s"),
        "dynamic_recall_at_10": (rec["dynamic"], "fraction"),
    })
    h.out.layer["query_tail_s"] = value
    h.out.layer["operators.ivf.rows_examined_per_result"] = statistics.fmean(examined)
    if h.trace:
        _kernel_spans(h, X, h.cores)
    state["dyn"].close()
    _unpersist(ivf.clustered, base)
    _release_vamana(vam)


def _check_graph(vam, n_rows: int, n_shards: int) -> str | None:
    """Every row has one adjacency list; neighbours are distinct rows of
    the same hash shard, never the row itself, at most GRAPH_DEGREE."""
    rows = vam.graph.select("src", "neighbors").collect()
    srcs = [r[0] for r in rows]
    if sorted(srcs) != list(range(n_rows)):
        return f"graph has {len(srcs)} adjacency rows for {n_rows} vectors"
    for src, nb in rows:
        if len(nb) > GRAPH_DEGREE or len(set(nb)) != len(nb) or src in nb:
            return f"bad adjacency at {src}"
        if any(n % n_shards != src % n_shards or not 0 <= n < n_rows for n in nb):
            return f"neighbour outside the shard at {src}"
    return None


def _check_cells(n_stamped: int, cells: np.ndarray, centroids, X: np.ndarray) -> str | None:
    """Every row is stamped once, with its nearest centroid (ties
    allowed)."""
    if n_stamped != len(X):
        return f"{n_stamped} stamped rows for {len(X)} vectors"
    D = oracles.sq_l2(X, centroids)
    best = D.min(axis=1)
    if np.any(D[np.arange(len(X)), cells] > best + 1e-6 * (1 + best)):
        return "a row is not stamped with its nearest centroid"
    return None


def _check_consolidated(d, live: dict) -> str | None:
    """No tombstones left; the graph holds exactly the live ids and no
    edge points at a removed one."""
    if d.n_tombstones() != 0:
        return "tombstones left after consolidate"
    rows = d.index.graph.select("src", "neighbors").collect()
    srcs = {r[0] for r in rows}
    if srcs != set(live):
        return f"graph holds {len(srcs)} ids, live set has {len(live)}"
    if any(not set(r[1]) <= srcs for r in rows):
        return "an edge points at a removed id"
    return None


# ---- curate ---------------------------------------------------------------

CURATE_DOCS = 2000
#: the suite load takes well under a second once warm, so more reps
#: steady its median at little cost
CURATE_SETUP_REPS = 7
PROBES = 100
PACK_BUDGET = 4096


def curate(h: Harness) -> None:
    from pyspark.storagelevel import StorageLevel

    from scalablevectorsearch_spark.pipeline.curate import quality_filter, repetition_stats
    from scalablevectorsearch_spark.pipeline.dedup import (
        decontaminate,
        dedup_exact,
        dedup_minhash,
        lsh_candidate_pairs,
        minhash_signature,
        shingle_hashes,
    )
    from scalablevectorsearch_spark.pipeline.pack import pack_sequences
    from scalablevectorsearch_spark.pipeline.text import lang_id, text_stats

    mem = StorageLevel.MEMORY_AND_DISK

    def slice_frame(i, n_docs):
        c = gen.make_corpus(h.seed, i, n_docs, id_base=i * 1_000_000, probes=suite)
        docs = gen.text_frame(h.spark, c.ids, c.texts).persist(mem)
        docs.count()
        return c, docs

    def survivors(docs, removed):
        # each stage reads the slice minus what earlier stages removed;
        # the removed ids travel as a small broadcast table, so every
        # stage's plan stays one join deep
        if not removed:
            return docs
        ids = h.spark.createDataFrame([(int(i),) for i in sorted(removed)], "doc_id long")
        return docs.join(F.broadcast(ids), "doc_id", "left_anti")

    def run_pipeline(docs, probes):
        with h.span("pipeline.text.text_stats"):
            stats = text_stats(docs).persist(mem)
            n_tok = stats.select("doc_id", "n_tokens").collect()
        with h.span("pipeline.curate.quality_filter"):
            decisions = quality_filter(
                stats, repetition_stats(docs, n=2), lang_id(docs)
            ).select("doc_id", "keep").collect()
        stats.unpersist()
        removed = {r[0] for r in decisions if not r[1]}
        with h.span("pipeline.dedup.dedup_exact"):
            exact = (
                dedup_exact(survivors(docs, removed))
                .filter("is_dup").select("doc_id", "canonical_id").collect()
            )
        removed |= {r[0] for r in exact}
        with h.span("pipeline.dedup.dedup_minhash"):
            pairs = dedup_minhash(
                survivors(docs, removed), n_shingle=3, n_perm=16, n_bands=4, threshold=0.5
            ).collect()
        removed |= {r[1] for r in pairs}
        with h.span("pipeline.dedup.decontaminate"):
            hits = decontaminate(
                survivors(docs, removed), probes, n_shingle=3, n_perm=16, n_bands=4,
                threshold=0.5,
            ).collect()
        removed |= {r[1] for r in hits}
        with h.span("pipeline.pack.pack_sequences"):
            packed = pack_sequences(survivors(docs, removed), token_budget=PACK_BUDGET).select(
                "doc_id", "n_tokens", "tokens_before", "bin_id"
            ).toPandas()
        return n_tok, decisions, exact, pairs, hits, packed

    planted = {"found": 0, "total": 0}

    def check(op, c, out, i):
        n_tok, decisions, exact, pairs, hits, packed = out
        want = c.n_tokens()
        h.check(op, None if {r[0]: r[1] for r in n_tok} == want else "token counts differ",
                f"text_stats {i}")
        kept_ids = {r[0] for r in decisions if r[1]}
        dropped = {r[0] for r in decisions if not r[1]}
        h.check(op, None if kept_ids == c.good and dropped == c.bad
                else f"kept {len(kept_ids)} / dropped {len(dropped)}", f"quality filter {i}")
        h.check(op, None if {r[0]: r[1] for r in exact} == c.exact_copies
                else "exact duplicates differ from the planted ones", f"dedup_exact {i}")
        found = {r[0] for r in exact if c.exact_copies.get(r[0]) == r[1]}
        found |= {r[1] for r in pairs if c.near_copies.get(r[1]) == r[0]}
        found |= {r[1] for r in hits if c.contaminated.get(r[1]) == r[0]}
        for name, want_ids in (("dedup_minhash", c.near_copies), ("decontaminate", c.contaminated)):
            missed = len(set(want_ids) - found)
            h.check(op, None if not missed else f"{missed} planted documents missed",
                    f"{name} {i}")
        all_planted = set(c.exact_copies) | set(c.near_copies) | set(c.contaminated)
        if op is not None:
            planted["found"] += len(found & all_planted)
            planted["total"] += len(all_planted)
        h.check(op, oracles.check_pack(packed, c.survivors(), want, PACK_BUDGET),
                f"pack_sequences {i}")

    # set-up: load the fixed evaluation suite every slice is screened
    # against, and compute its quality statistics
    suite = gen.make_probes(h.seed, PROBES)

    def load_suite(rep):
        probes = gen.text_frame(h.spark, *suite).persist(mem)
        with h.span("pipeline.text.text_stats"):
            n_tok = text_stats(probes).select("doc_id", "n_tokens").collect()
        h.check(None, None if len(n_tok) == PROBES else "probe suite incomplete", "suite")
        return probes

    probes = h.setup(load_suite, lambda p: p.unpersist(), reps=CURATE_SETUP_REPS)

    def step(i):
        c, docs = slice_frame(i, CURATE_DOCS)
        out, op = h.timed("curate", i, len(c.ids), lambda: run_pipeline(docs, probes))
        check(op, c, out, i)
        if h.trace and i == 1:
            # useful-work ratio of the LSH stage, untimed
            kept = survivors(docs, set(c.bad) | set(c.exact_copies))
            signed = minhash_signature(shingle_hashes(kept, 3), 16).persist(mem)
            n_cand = lsh_candidate_pairs(signed, 4, sig_len=16).count()
            h.out.layer["pipeline.dedup.verified_per_candidate"] = len(out[3]) / max(1, n_cand)
            signed.unpersist()
        docs.unpersist()

    h.loop(step, min_iterations=2)
    probes.unpersist()
    h.out.kinds = ("curate",)
    h.out.recall = planted["found"] / planted["total"]
    docs_s = sum(o.items for o in h.out.ops) / sum(o.wall_s for o in h.out.ops)
    h.out.named["curate_docs_per_s"] = (docs_s, "1/s")
    h.out.named["planted_recall"] = (h.out.recall, "fraction")


WORKLOADS = {
    "vector_serve": vector_serve,
    "curate": curate,
}


def op_p50(out: Outcome) -> float:
    """Geometric mean over the workload's op kinds of each kind's median
    wall time."""
    meds = [median_of(out.ops, k) for k in out.kinds]
    return math.exp(statistics.fmean(math.log(m) for m in meds))
