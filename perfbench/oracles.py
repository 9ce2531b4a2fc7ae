"""Independent correctness oracles: numpy brute force over the vectors
the harness generated, and exact replays of what the pipeline must
keep. None of this calls engine code."""

from __future__ import annotations

import numpy as np


def sq_l2(Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Exact squared L2 distances, (nq, n) float64."""
    Q = Q.astype(np.float64)
    X = X.astype(np.float64)
    return np.maximum((Q * Q).sum(1)[:, None] + (X * X).sum(1)[None, :] - 2.0 * Q @ X.T, 0.0)


def top_k(D: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """(nq, k) ids of the k nearest per row, ties by ascending id."""
    order = np.lexsort((np.broadcast_to(ids, D.shape), D), axis=1)[:, :k]
    return ids[order]


def group_rows(rows, n_queries: int) -> list[list]:
    """(qid, rank, neighbor_id, distance) rows -> per-query lists in
    rank order; qids must be 0..n_queries-1."""
    per = [[] for _ in range(n_queries)]
    for r in rows:
        per[int(r[0])].append((int(r[1]), int(r[2]), float(r[3])))
    for p in per:
        p.sort()
    return per


def check_shape(per: list[list], k: int, valid: set | None) -> str | None:
    """Every query has ranks 1..k, distinct neighbours, all valid ids."""
    for qi, p in enumerate(per):
        if [r for r, _, _ in p] != list(range(1, k + 1)):
            return f"query {qi}: ranks {[r for r, _, _ in p]}"
        nb = [n for _, n, _ in p]
        if len(set(nb)) != k:
            return f"query {qi}: duplicate neighbours"
        if valid is not None and not set(nb) <= valid:
            return f"query {qi}: ids outside the live set {sorted(set(nb) - valid)[:5]}"
    return None


def check_exact(per: list[list], D: np.ndarray, pos: dict, k: int, round_to: int = 4) -> str | None:
    """Exact search at ``round_to`` decimals: every reported distance is
    the rounded true distance of its id, and the k reported distances
    are the k smallest, each within one rounding unit (float order of
    operations may differ in the last bit)."""
    scale = 10.0 ** round_to
    keys = np.floor(D * scale + 0.5)
    for qi, p in enumerate(per):
        got = np.array([d * scale for _, _, d in p])
        true_own = np.array([keys[qi, pos[n]] for _, n, _ in p])
        if np.any(np.abs(np.round(got) - true_own) > 1):
            return f"query {qi}: reported distance differs from the true one"
        best = np.sort(keys[qi])[:k]
        if np.any(np.abs(np.sort(np.round(got)) - best) > 1):
            return f"query {qi}: not the k nearest"
    return None


def recall(per: list[list], truth: np.ndarray) -> float:
    k = truth.shape[1]
    hits = sum(len({n for _, n, _ in p} & set(truth[qi].tolist())) for qi, p in enumerate(per))
    return hits / (k * len(per))


def check_pack(packed, expected_ids: list[int], n_tokens: dict, budget: int) -> str | None:
    """Exact replay of greedy sequential packing in ascending id order."""
    packed = packed.sort_values("doc_id")
    got_ids = packed["doc_id"].to_numpy(dtype=np.int64)
    if got_ids.tolist() != expected_ids:
        return f"packed {len(got_ids)} docs, expected {len(expected_ids)}"
    toks = np.array([n_tokens[i] for i in expected_ids], dtype=np.int64)
    if not np.array_equal(packed["n_tokens"].to_numpy(dtype=np.int64), toks):
        return "token counts differ"
    before = np.cumsum(toks) - toks
    if not np.array_equal(packed["tokens_before"].to_numpy(dtype=np.int64), before):
        return "prefix sum differs from the replay"
    if not np.array_equal(packed["bin_id"].to_numpy(dtype=np.int64), before // budget):
        return "bin ids differ from the replay"
    return None
