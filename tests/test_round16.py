"""Round-16 optimization tests: the two-level two-phase double/decimal
top-k (the r15 deferred design, VERDICT r15 "Next round" #1).

The salted key-only top-k ranks candidates with a plain-double cosine
and re-scores only ambiguous rows with the exact-decimal oracle
algebra. These tests pin each path against the independent pure-Python
reference (``reference_sim.two_level_reference``):

- the fast path, all n_probe regimes;
- the AMBIGUOUS path: duplicated centroid vectors make the top-1 gap
  exactly zero, forcing the decimal fallback, whose cent_id tiebreak
  must match the reference's;
- the UNTRUSTED path: a zero-norm corpus vector scores NULL and must be
  placed NULL-first, as the reference does.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from reference_sim import two_level_reference

SF = "/root/testdata/sf0.001"


def _toy_vectors(spark, n=40, dim=8):
    rows = [
        (i, [float(((i * 7 + j * 13) % 19) - 9) / 9.0 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _check_against_reference(emb, cents, n_super, n_super_probe, n_probe):
    """Run the operator and the reference on the same frames; return the
    operator's (vec_id, cent_id) pairs after asserting they match."""
    from hbase_taggregator_spark.operators import similarity as S

    got = {
        (r["vec_id"], r["cent_id"])
        for r in S.ivf_assign_two_level(
            emb, cents, n_super=n_super, n_super_probe=n_super_probe,
            n_probe=n_probe,
        ).collect()
    }
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    cvecs = {r["cent_id"]: list(r["cvec"]) for r in cents.collect()}
    expected = {
        (v, c)
        for v, cs in two_level_reference(
            vecs, cvecs, n_super, n_super_probe, n_probe
        ).items()
        for c in cs
    }
    assert got == expected, f"n_probe={n_probe}"
    return got


def test_two_phase_matches_python_reference_all_probe_regimes(spark):
    """The fast path's output SET must equal the exact reference's for
    n_probe 1 (argmin), 2 (salted top-k) and a probe count past the
    candidate count (membership = everything)."""
    emb = _toy_vectors(spark, n=60, dim=8)
    cents = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    for n_probe in (1, 2, 9):
        _check_against_reference(emb, cents, 4, 2, n_probe)


def test_two_phase_tie_forces_decimal_fallback_and_matches(spark):
    """Duplicate centroid VECTORS under distinct cent_ids make the
    winner's fast gap exactly 0 ≤ EPS for every corpus vector whose two
    nearest candidates are the twins — the decisive check must refuse
    the double ranking and the decimal fallback must break the tie by
    cent_id, exactly like the reference."""
    emb = _toy_vectors(spark, n=30, dim=8)
    base = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    # twin every centroid vector under a shifted id: ties everywhere
    twins = base.select(
        (F.col("cent_id") + 100).alias("cent_id"), F.col("cvec")
    )
    cents = base.unionByName(twins)
    for n_probe in (1, 2):
        got = _check_against_reference(emb, cents, 3, 3, n_probe)
        assert got, "fixture produced no assignments"
        if n_probe == 1:
            # every super is probed, so each winner's twin is a tied
            # candidate: the (negcos, cent_id) tiebreak picks the lower id
            assert all(c < 100 for (_, c) in got)


def test_two_phase_zero_norm_vector_keeps_null_score_semantics(spark):
    """A zero-norm corpus vector's cosine is NULL (the _nz guard); NULL
    negcos sorts FIRST in the struct order, so the pick set must match
    the reference's NULL-first placement bit-for-bit."""
    rows = [(0, [0.0] * 8)] + [
        (i, [float(((i * 7 + j * 13) % 19) - 9) / 9.0 for j in range(8)])
        for i in range(1, 25)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") < 9)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    for n_probe in (1, 2):
        got = _check_against_reference(emb, cents, 4, 4, n_probe)
        assert any(v == 0 for (v, _) in got), (
            "the zero-norm vector must still be assigned (NULL-first)"
        )


def test_two_level_parts_rejects_shared_tuple_with_other_n_super(spark):
    """A shared tuple records the n_super it was requested with, and
    two_level_parts compares it exactly — including a tuple built with
    a SMALLER n_super than the call asks for, which a super-count bound
    cannot catch (10 supers ≤ 20 requested)."""
    import pytest

    from hbase_taggregator_spark.operators import similarity as S

    emb = _toy_vectors(spark, n=40, dim=8)
    cents = emb.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    shared = S.two_level_shared(cents, 10, 2)
    with pytest.raises(ValueError, match="n_super=10"):
        S.two_level_parts(
            emb, cents, n_super=20, n_super_probe=2, shared=shared
        )
    with pytest.raises(ValueError, match="n_super"):
        S.two_level_parts(emb, cents, n_super_probe=2, shared=shared)
    members, probes = S.two_level_parts(
        emb, cents, n_super=10, n_super_probe=2, shared=shared
    )
    assert probes.select("__sid").distinct().count() <= 10


def test_residual_books_accept_integral_decimal_ids(spark):
    """decimal(p,0) ids cast to long exactly, so the fused means +
    sample collect must build the same residual books and cell means
    from a decimal(10,0) vec_id as from bigint; a non-integral id type
    is still refused."""
    import pytest

    from hbase_taggregator_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = emb.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )

    def build(id_type):
        frame = emb.withColumn("vec_id", F.col("vec_id").cast(id_type))
        assigned = S.ivf_assign(frame, cents, n_probe=1)
        means, books = S._materialize_means_and_residual_books(
            assigned, "embedding", "vec_id", 4, 16, 64
        )
        return sorted(
            (r["cent_id"], list(r["cvec"])) for r in means.collect()
        ), books

    assert build("decimal(10,0)") == build("bigint")
    with pytest.raises(ValueError, match="integral 'vec_id'"):
        build("decimal(10,2)")
