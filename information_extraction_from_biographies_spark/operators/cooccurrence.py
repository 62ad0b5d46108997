"""A2/A3/A4 — weighted depreciating co-occurrence scores.

The reference materializes every mention-pair distance, sorts, and folds
sequentially with a squared depreciation (Cooccurrence.py:92-111):

    weight(1) = 1
    weight(k) = 0.65 ** (2 ** (k-2))      for k >= 2
    score     = Σ_k (4 / d_k) * weight(k)    (d_k the k-th smallest distance)

The engine runs that fold per conversation inside the fused stage-2 pass
(``stage2.fused_scan_extract``): the conversation's positioned
occurrences are already in the worker, so pair generation (A3), the
distance-2 biographee prior (A4) and the fold (A2) need no pair shuffle
and no self-join. ``conv_pair_scores`` is that per-conversation kernel;
``fold_scores`` is the reference fold it applies per pair
(tests/test_cooc_kernel.py checks both against a brute-force fold).
"""

from __future__ import annotations

from ..gazetteers import DEPRECIATE_FACTOR, DISTANCE2SCORE_FACTOR, DISTANCE_TO_BIOGRAPHEE


def fold_scores(distances: list[float]) -> float:
    """The reference's sequential fold (Cooccurrence.py:92-111): sorted
    ascending; first term full, k-th term depreciated by 0.65^(2^(k-2))."""
    ds = sorted(distances)
    if not ds:
        return 0.0
    score = DISTANCE2SCORE_FACTOR / ds[0]
    depre = DEPRECIATE_FACTOR
    for d in ds[1:]:
        score += DISTANCE2SCORE_FACTOR / d * depre
        depre **= 2
        if depre == 0.0:  # weights underflow; remaining terms are exact zero
            break
    return score


# 0.65^(2^(k-2)) < 5e-324 (double denormal floor) by k ≈ 12; keeping a few
# extra is free and guards the exact-parity fold above.
_TOP_K_DISTANCES = 64


def conv_pair_scores(
    positions_by_person: dict[str, list[int]],
    biographee: str | None,
    detected: list[str],
) -> list[tuple[str, str, float]]:
    """Per-conversation A3+A4+A2 without any shuffle: pairwise |Δpos|+1
    distances per unordered person pair + the distance-2 biographee prior,
    folded with the reference depreciation. Vectorized with numpy per pair
    so a giant (skewed) conversation stays O(|PA|·|PB|) flops, and only the
    _TOP_K_DISTANCES smallest distances feed the fold (all later weights
    underflow to exactly 0.0 in float64).

    Distance note: the reference orders occurrences and uses
    pos_j - pos_i + 1 for j > i (Cooccurrence.py:68-78); across two
    different persons that equals |pos_a - pos_b| + 1 for every cross pair,
    so the unordered cross product is semantics-exact."""
    import numpy as np

    persons = sorted(positions_by_person)
    out: list[tuple[str, str, float]] = []
    prior: dict[tuple[str, str], list[float]] = {}
    if biographee is not None:
        for p in detected:
            if p != biographee:
                key = (min(p, biographee), max(p, biographee))
                prior.setdefault(key, []).append(float(DISTANCE_TO_BIOGRAPHEE))

    # numpy only above the crossover: the typical conversation yields
    # 2-5 occurrence positions per person, where five numpy calls per
    # pair cost more than the whole cross product in a list comp; the
    # vectorized path exists for the skewed giant conversation. Arrays
    # build lazily inside the loop — only for persons whose pairs
    # actually cross the threshold — and cache for the person's
    # remaining pairs.
    _NP_CROSSOVER = 256
    arrays: dict[str, np.ndarray] = {}
    pair_dists: dict[tuple[str, str], list[float]] = dict(prior)
    for i, p1 in enumerate(persons):
        pa = positions_by_person[p1]
        for p2 in persons[i + 1 :]:
            pb = positions_by_person[p2]
            key = (p1, p2) if p1 < p2 else (p2, p1)
            if len(pa) * len(pb) <= _NP_CROSSOVER:
                d_list = [
                    float(x - y + 1) if x >= y else float(y - x + 1)
                    for x in pa
                    for y in pb
                ]
                if len(d_list) > _TOP_K_DISTANCES:
                    d_list.sort()
                    d_list = d_list[:_TOP_K_DISTANCES]
                pair_dists.setdefault(key, []).extend(d_list)
                continue
            a = arrays.get(p1)
            if a is None:
                a = arrays[p1] = np.asarray(pa, dtype=np.int64)
            b = arrays.get(p2)
            if b is None:
                b = arrays[p2] = np.asarray(pb, dtype=np.int64)
            d = (np.abs(a[:, None] - b[None, :]) + 1).ravel()
            if d.size > _TOP_K_DISTANCES:
                d = np.partition(d, _TOP_K_DISTANCES)[:_TOP_K_DISTANCES]
            pair_dists.setdefault(key, []).extend(d.tolist())
    for (n1, n2), ds in pair_dists.items():
        out.append((n1, n2, fold_scores(ds)))
    return out
