"""Pure-Python simulators used as in-test oracles: the reference's bucket
algebra (golden parity), and independent restatements of the operators
whose output has no SQL oracle in the tests (LTTB, repeated substrings,
two-level IVF assignment, PQ encode / refine / ADC).

The bucket simulator re-implements, from the structural survey (SURVEY.md
§2.3), exactly what the coprocessor computes:

- bucket list: do-while from t_min stepping by interval, appending the next
  range BEFORE testing `next.max <= t_max`, so one trailing bucket past
  t_max is always emitted (TimeseriesAggregateImplementation.java:78-111).
- key mode: every cell in the scan is probed against the bucket list
  ([min, max) membership — Max.java:26-28); cells outside all buckets drop.
- scanner mode: the scanner filters cells to [t_min, t_max) first, so
  trailing buckets stay empty and therefore absent (README.md:29 discrepancy:
  9 vs 8 buckets on the same logical range).
- empty buckets never appear (Max.java:29-34); avg divides to float
  (TimeseriesAggregationClient.java:547-557); count counts cells.
"""

from __future__ import annotations


def bucket_list_ms(t_min_s: int, t_max_s: int, interval_s: int) -> list[tuple[int, int]]:
    """The reference's do-while bucket generation, in millis."""
    lo, hi, ival = t_min_s * 1000, t_max_s * 1000, interval_s * 1000
    ranges = [(lo, lo + ival)]
    while True:
        nxt = (ranges[-1][1], ranges[-1][1] + ival)
        ranges.append(nxt)
        if nxt[1] > hi:
            break
    return ranges


def aggregate(
    cells: list[tuple[int, int]],
    verb: str,
    t_min_s: int,
    t_max_s: int,
    interval_s: int,
    mode: str = "key",
) -> dict[int, float | int]:
    """{bucket_start_ms → aggregate} exactly as the reference computes it."""
    ranges = bucket_list_ms(t_min_s, t_max_s, interval_s)
    if mode == "scanner":
        cells = [c for c in cells if t_min_s <= c[0] < t_max_s]
    acc: dict[int, list[int]] = {}
    for ts_s, value in cells:
        ts_ms = ts_s * 1000
        for lo, hi in ranges:  # linear probe, ≤1 match (tumbling)
            if lo <= ts_ms < hi:
                acc.setdefault(lo, []).append(value)
                break
    out: dict[int, float | int] = {}
    for lo, vals in sorted(acc.items()):
        if verb == "max":
            out[lo] = max(vals)
        elif verb == "min":
            out[lo] = min(vals)
        elif verb == "sum":
            out[lo] = sum(vals)
        elif verb == "avg":
            out[lo] = sum(vals) / len(vals)
        elif verb == "count":
            out[lo] = len(vals)
        else:
            raise ValueError(verb)
    return out


def lttb_reference(
    points: list[tuple[int, float, int]], n_out: int
) -> list[tuple[int, float, int]]:
    """Pinned pure-Python LTTB (Steinarsson 2013) — the in-CI oracle for
    the ``ts_lttb_downsample_50`` catalog query, whose backward-sequential
    pick has no SQL restatement. Implements the operator's documented
    determinism contract from scratch: points sorted by (ts_us, tiebreak),
    y in exact cents (double → shortest-decimal string → HALF_UP cents,
    the Java ``BigDecimal.valueOf`` path Spark's DECIMAL(18,2) cast
    takes), doubled-triangle areas as exact integer cross products with
    the next bucket's centroid multiplied through by its size (no float
    anywhere), strict > so ties keep the earliest point.

    ``points``: (ts_us, value, tiebreak); returns the selected points in
    time order.
    """
    import decimal

    pts = sorted(points, key=lambda p: (p[0], p[2]))
    n = len(pts)
    if n <= n_out:
        return pts

    def cents(v: float) -> int:
        return int(
            decimal.Decimal(repr(v)).quantize(
                decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
            )
            * 100
        )

    xs = [p[0] for p in pts]
    ys = [cents(p[1]) for p in pts]
    interior, nb = n - 2, n_out - 2
    bounds = [1 + (interior * b) // nb for b in range(nb + 1)]
    idx = [0]
    prev = 0
    for b in range(nb):
        lo, hi = bounds[b], bounds[b + 1]
        nlo, nhi = (bounds[b + 1], bounds[b + 2]) if b + 1 < nb else (n - 1, n)
        m = nhi - nlo
        csx, csy = sum(xs[nlo:nhi]), sum(ys[nlo:nhi])
        ax, ay = xs[prev], ys[prev]
        best, best_area = lo, -1
        for i in range(lo, hi):
            bx, by = xs[i], ys[i]
            area = abs((ax * m - csx) * (by - ay) - (ax - bx) * (csy - ay * m))
            if area > best_area:
                best, best_area = i, area
        idx.append(best)
        prev = best
    idx.append(n - 1)
    return [pts[i] for i in idx]


def repeated_substring_reference(
    docs: list[tuple[int, str]], k: int
) -> dict[int, tuple[str, int, int]]:
    """Pure-Python reference for
    ``text.dedup_repeated_substrings`` (Lee et al. arXiv:2107.06499
    cover semantics): lowercased whitespace tokens, positional k-gram
    occurrences compared by CONTENT (no hashing — the md5 fingerprint in
    the operator stands in for exact window equality), lexicographic
    (doc, p) first occurrence kept, every other occurrence's [p, p+k-1]
    window removed. Returns {doc_id: (text_clean, n_tokens, n_removed)}.
    """
    import re
    from collections import defaultdict

    toks = {d: re.split(r"\s+", t.strip().lower()) for d, t in docs}
    by: dict[tuple, list[tuple[int, int]]] = defaultdict(list)
    for d, tk in toks.items():
        for p in range(1, len(tk) - k + 2):
            by[tuple(tk[p - 1 : p - 1 + k])].append((d, p))
    covered: dict[int, set[int]] = defaultdict(set)
    for lst in by.values():
        if len(lst) >= 2:
            first = min(lst)
            for d, p in lst:
                if (d, p) != first:
                    covered[d].update(range(p, p + k))
    out = {}
    for d, tk in toks.items():
        kept = [t for i, t in enumerate(tk, 1) if i not in covered[d]]
        out[d] = (" ".join(kept), len(tk), len(tk) - len(kept))
    return out


def _cos_or_none(a, b):
    """Cosine, or None for a zero denominator — the engine scores a
    zero-norm vector NULL, and NULL sorts FIRST in its ascending
    (negcos, id) order."""
    import math

    den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
    if den == 0:
        return None
    return sum(x * y for x, y in zip(a, b)) / den


def cosine_order(v, vecs: dict) -> list:
    """Keys of ``vecs`` by descending cosine to ``v``, ties by key, NULL
    scores (zero norms) first."""

    def key(c):
        cos = _cos_or_none(v, vecs[c])
        return (cos is not None, -cos if cos is not None else 0.0, c)

    return sorted(vecs, key=key)


def two_level_reference(vecs, cvecs, n_super, n_super_probe, n_probe):
    """Independent pure-Python reference for
    ``similarity.ivf_assign_two_level`` (plain float math — the
    fixtures have no near-ties, so float vs decimal cannot flip a
    ranking): block means over cent_id-ranked blocks, nearest-super
    membership, probing, exact candidate top-n_probe. Zero-norm vectors
    score NULL and so probe the first supers and take the first
    candidates by id. Returns {vec_id: [cent_id, ...]}."""
    nlist = len(cvecs)
    dim = len(next(iter(cvecs.values())))
    order = sorted(cvecs)
    blocks = {cid: (rank * n_super) // nlist for rank, cid in enumerate(order)}
    supers = {}
    for b in range(n_super):
        mv = [cvecs[c] for c, blk in blocks.items() if blk == b]
        if mv:
            supers[b] = [sum(v[d] for v in mv) / len(mv) for d in range(dim)]
    member_of = {c: cosine_order(cvecs[c], supers)[0] for c in cvecs}
    expected = {}
    for vid, v in vecs.items():
        probed = cosine_order(v, supers)[:n_super_probe]
        cands = {c: cvecs[c] for c in cvecs if member_of[c] in probed}
        top = cosine_order(v, cands)[:n_probe]
        if top:
            expected[vid] = top
    return expected


def pq_encode_reference(vecs: dict, books, m: int) -> dict:
    """NumPy reference for ``similarity.pq_encode``: per subspace, the
    squared-L2 argmin over that subspace's codewords, ties broken by
    code id. ``books`` is the [(subspace, code_id, sub_vector)] list.
    Returns {vec_id: [code_0, ..., code_{m-1}]}."""
    import numpy as np

    ids = sorted(vecs)
    x = np.array([vecs[i] for i in ids], dtype=np.float64)
    sub = x.shape[1] // m
    codes = np.zeros((len(ids), m), dtype=np.int64)
    for s in range(m):
        cw = sorted((code, vals) for (ss, code, vals) in books if ss == s)
        c = np.array([vals for _, vals in cw], dtype=np.float64)
        d = ((x[:, None, s * sub : (s + 1) * sub] - c[None]) ** 2).sum(-1)
        # argmin returns the first minimum: codewords are in code order
        codes[:, s] = [cw[j][0] for j in d.argmin(axis=1)]
    return {i: [int(c) for c in codes[n]] for n, i in enumerate(ids)}


def pq_refine_reference(vecs: dict, books, m: int) -> list:
    """One Lloyd pass of ``similarity.pq_refine_codebooks``: encode,
    then replace each codeword by the mean of its member sub-vectors (a
    codeword with no members keeps its value)."""
    codes = pq_encode_reference(vecs, books, m)
    sub = len(next(iter(vecs.values()))) // m
    out = []
    for s, code, old in books:
        members = [
            vecs[i][s * sub : (s + 1) * sub]
            for i, c in codes.items()
            if c[s] == code
        ]
        if members:
            old = [sum(col) / len(members) for col in zip(*members)]
        out.append((s, code, [float(v) for v in old]))
    return out


def pq_adc_reference(
    queries: dict, codes: dict, books, m: int, k: int, candidates=None
) -> dict:
    """NumPy reference for the ADC ranking: per query, a lookup table of
    exact subspace squared distances to every codeword, a candidate's
    distance is the sum of its m table entries, and the top-k runs
    ascending with ties by id; the query's own id is excluded.
    ``candidates`` maps a query id to its allowed ids (IVF probing);
    None allows every coded id. Returns {query_id: [(id, adc), ...]}."""
    import numpy as np

    out = {}
    for qid, qv in queries.items():
        q = np.asarray(qv, dtype=np.float64)
        sub = len(q) // m
        lut = {
            (s, code): float(
                ((q[s * sub : (s + 1) * sub] - np.asarray(vals)) ** 2).sum()
            )
            for (s, code, vals) in books
        }
        allowed = codes if candidates is None else candidates[qid]
        scored = sorted(
            (sum(lut[(s, codes[i][s])] for s in range(m)), i)
            for i in allowed
            if i != qid
        )
        out[qid] = [(i, d) for d, i in scored[:k]]
    return out
