"""Seeded input generators for the benchmark workloads.

Every table and query the benchmark feeds to the engine is made here from
a seed, with numpy and pyarrow only, so the same seed gives byte-identical
inputs and the engine receives nothing but these generated inputs.

- ``events``: the fixed 100k-row event stream of the sf0.1 fixture shape
  (``FIXTURES.md`` B), 30 days of 2024-01, one 2 MB parquet file.
- the ``ts_dashboard`` query mix over ``events``.
- HBase-shaped ``cells`` and the key-mode queries over them.
- ``embeddings`` and ``documents`` for ``ann_corpus``, with the seeded ANN
  query batches and the held-out decontamination sample.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000

# -- events / ts_dashboard --------------------------------------------------

EVENTS_SEED = 42
EVENTS_T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
EVENTS_SPAN_S = 30 * 86_400
N_EVENTS = 100_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_table() -> pa.Table:
    """The fixed event stream (independent of the run seed)."""
    rng = np.random.default_rng(EVENTS_SEED)
    ts_us = np.sort(
        rng.integers(EVENTS_T0 * US, (EVENTS_T0 + EVENTS_SPAN_S) * US, N_EVENTS)
    )
    kinds = rng.integers(0, len(EVENT_TYPES), N_EVENTS)
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, N_EVENTS, dtype=np.int64)),
            "event_type": pa.array([EVENT_TYPES[k] for k in kinds]),
            "value": pa.array(np.round(rng.gamma(2.0, 40.0, N_EVENTS) + 0.5, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )


@dataclass(frozen=True)
class TsQuery:
    """One reference-parity bucketed query: [t_min, t_max) in epoch
    seconds, bucket width, cutoff mode, optional event_type grouping and
    the verbs (one verb, or several through ``agg``)."""

    t_min: int
    t_max: int
    interval: int
    cutoff: str
    grouped: bool
    verbs: tuple[str, ...]

    def upper(self) -> int:
        """Exclusive end of the bucketed region, restated from the
        reference: ``strict`` stops at t_max, ``taggregator`` emits one
        trailing bucket (at least two buckets in all)."""
        if self.cutoff == "strict":
            return self.t_max
        n_full = (self.t_max - self.t_min) // self.interval
        return self.t_min + max(n_full + 1, 2) * self.interval


D, W = 86_400, 7 * 86_400
#: (range, bucket width, event_type grouping, verbs) of the dashboard's
#: queries in turn: 1 h / 1 d / 1 w / 30 d ranges, 60 s to 1 d buckets
#: (at most 288, 1 440 rows with grouping), one verb or several
_SHAPES = (
    (3_600, 60, False, ("max",)),
    (D, 900, True, ("max", "avg", "count")),
    (W, 3_600, False, ("sum",)),
    (30 * D, 21_600, True, ("min", "sum")),
    (D, 300, False, ("avg",)),
    (3_600, 300, True, ("count",)),
    (W, 21_600, True, ("max", "avg", "count")),
    (30 * D, D, False, ("min",)),
    (D, 3_600, True, ("sum",)),
    (3_600, 900, False, ("min", "sum")),
    (30 * D, 21_600, False, ("count",)),
    (W, D, True, ("avg",)),
)


def dashboard_queries(seed: int, n: int = 48) -> list[TsQuery]:
    """``n`` distinct seeded queries: the shapes of ``_SHAPES`` in turn,
    each at a seeded odd (any-second) start, within or overlapping the
    30 days of events, with a seeded cutoff.

    The seed picks where each query looks, not what it computes, so
    every seed asks the engine for the same work."""
    rng = np.random.default_rng([seed, 1])
    out: list[TsQuery] = []
    while len(out) < n:
        span, interval, grouped, verbs = _SHAPES[len(out) % len(_SHAPES)]
        lo = EVENTS_T0 - span // 10
        hi = EVENTS_T0 + EVENTS_SPAN_S - span + span // 10
        t_min = int(rng.integers(lo, hi))
        q = TsQuery(t_min=t_min, t_max=t_min + span, interval=interval,
                    cutoff=("strict", "taggregator")[int(rng.integers(0, 2))],
                    grouped=grouped, verbs=verbs)
        if q not in out:
            out.append(q)
    return out


# -- HBase-shaped cells (key-mode queries of ts_dashboard) -----------------

#: 4-byte series prefix + big-endian int32 epoch seconds
CELL_MASK = "00001111"
N_SERIES = 8
ROW_STEP_S = 10
CELLS_T0 = 1_700_000_000


def _binary(cols: np.ndarray) -> pa.Array:
    """Rows of a 2-d uint8 array as a pyarrow ``binary`` column."""
    n, width = cols.shape
    buf = pa.py_buffer(np.ascontiguousarray(cols).tobytes())
    fixed = pa.FixedSizeBinaryArray.from_buffers(pa.binary(width), n, [None, buf])
    return fixed.cast(pa.binary())


def _big_endian(values: np.ndarray, dtype: str) -> np.ndarray:
    """Big-endian bytes of each value, one row per value (``Bytes.toBytes``)."""
    return values.astype(dtype).view(np.uint8).reshape(len(values), -1)


def cells_table(rng: np.random.Generator, step0: int, n_steps: int):
    """HBase cell rows (``sources.hbase.CELL_SCHEMA``) for ``n_steps`` time
    steps of every series, plus the expected (event_s, value) pairs of the
    latest versions.

    Each table row (series prefix + int32 seconds rowkey) carries two
    cells, ``d:v`` (bigint value) and ``d:q`` (int32 qualifier offset in
    seconds), and each cell has two versions: an older decoy and the newer
    true value, so only a correct latest-version pivot reproduces the
    expected aggregates."""
    steps = np.repeat(np.arange(step0, step0 + n_steps, dtype=np.int64), N_SERIES)
    series = np.tile(np.arange(N_SERIES), n_steps)
    n = len(steps)
    row_s = CELLS_T0 + steps * ROW_STEP_S
    qoff = rng.integers(0, ROW_STEP_S, n, dtype=np.int64)
    value = rng.integers(0, 1_000_000, n, dtype=np.int64)
    decoy_q = rng.integers(0, ROW_STEP_S, n, dtype=np.int64)
    decoy_v = rng.integers(0, 1_000_000, n, dtype=np.int64)
    prefixes = np.frombuffer(
        b"".join(b"s%03d" % s for s in range(N_SERIES)), dtype=np.uint8
    ).reshape(N_SERIES, 4)
    keys = np.hstack([prefixes[series], _big_endian(row_s, ">i4")])
    old_ts, new_ts = row_s * 1000 + 1, row_s * 1000 + 2
    table = pa.table(
        {
            "rowkey": _binary(np.vstack([keys] * 4)),
            "cf": pa.array(["d"] * (4 * n)),
            "qualifier": pa.array(["v"] * (2 * n) + ["q"] * (2 * n)),
            "value": pa.concat_arrays([
                _binary(_big_endian(decoy_v, ">i8")),
                _binary(_big_endian(value, ">i8")),
                _binary(_big_endian(decoy_q, ">i4")),
                _binary(_big_endian(qoff, ">i4")),
            ]),
            "cell_ts": pa.array(np.concatenate([old_ts, new_ts, old_ts, new_ts])),
        }
    )
    return table, row_s + qoff, value


#: (range, bucket width) of the key-mode queries in turn
_KEY_SHAPES = ((3_600, 300), (6 * 3_600, 900), (12 * 3_600, 3_600), (6 * 3_600, 21_600))


def key_queries(seed: int, n: int, steps: int) -> list[TsQuery]:
    """``n`` distinct seeded key-mode queries (all five verbs) over a cell
    table of ``steps`` time steps: the shapes of ``_KEY_SHAPES`` in turn
    at seeded starts, like :func:`dashboard_queries`."""
    rng = np.random.default_rng([seed, 2])
    end = CELLS_T0 + steps * ROW_STEP_S
    out: list[TsQuery] = []
    while len(out) < n:
        span, interval = _KEY_SHAPES[len(out) % len(_KEY_SHAPES)]
        t_min = int(rng.integers(CELLS_T0 - 600, max(CELLS_T0, end - span) + 600))
        q = TsQuery(t_min, t_min + span, interval,
                    ("strict", "taggregator")[int(rng.integers(0, 2))], False,
                    ("max", "min", "sum", "count", "avg"))
        if q not in out:
            out.append(q)
    return out


# -- embeddings, documents / ann_corpus -------------------------------------

N_EMB = 600
DIM = 64
N_CLUSTERS = 10
N_DOCS = 1_000

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window the of and to in is for on with as by"
).split()


def embeddings_table() -> pa.Table:
    """Clustered 64-d float32 vectors, fixed across seeds. Within a
    cluster each 16-d subspace varies along one line, the structure
    product quantization (4 subspaces) resolves, so neighbours differ by
    more than the codebooks' resolution."""
    rng = np.random.default_rng(7)
    centers = rng.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    lines = rng.normal(0.0, 1.0, (4, DIM // 4))
    lines /= np.linalg.norm(lines, axis=1, keepdims=True)
    labels = rng.integers(0, N_CLUSTERS, N_EMB)
    z = rng.normal(0.0, 1.0, (N_EMB, 4))
    offsets = (z[:, :, None] * lines[None, :, :]).reshape(N_EMB, DIM)
    x = centers[labels] + offsets + rng.normal(0.0, 0.01, (N_EMB, DIM))
    vecs = x.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def documents_table() -> pa.Table:
    """Word-salad documents over a small vocabulary with planted exact
    duplicates (case/whitespace variants) and near duplicates (a few
    words swapped), fixed across seeds."""
    rng = np.random.default_rng(11)
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.06:
            src = texts[int(rng.integers(0, i))]
            texts.append("  " + src.upper() if rng.random() < 0.5 else src.replace(" ", "   "))
        elif i > 10 and r < 0.16:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                toks[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(12, 70))
            texts.append(" ".join(_VOCAB[k] for k in rng.integers(0, len(_VOCAB), n)))
    langs = ("en", "de", "fr", "es", "zh")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([langs[k] for k in rng.integers(0, 5, N_DOCS)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def heldout_ids(seed: int, n: int = 30) -> list[int]:
    """The seeded held-out (benchmark) sample decontamination runs against."""
    rng = np.random.default_rng([seed, 3])
    return sorted(int(i) for i in rng.choice(N_DOCS, n, replace=False))


def query_batch(seed: int, i: int, n: int = 10) -> list[int]:
    """The i-th seeded ANN query batch: ``n`` corpus vector ids."""
    rng = np.random.default_rng([seed, 4, i + 1])
    return sorted(int(v) for v in rng.choice(N_EMB, n, replace=False))


def write_parquet(table: pa.Table, path: str) -> None:
    """One file, one row group — the fixture layout the engine reads."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
