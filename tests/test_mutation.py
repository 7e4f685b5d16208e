"""Tests of operators/mutation.py."""


def test_erasure_cohort_is_nonempty(spark, sf_dir):
    from bigarrays_jl_spark.operators.mutation import user_erasure_audit
    rows = user_erasure_audit(spark, sf_dir).collect()
    assert rows and sum(r.n_residual_rows for r in rows) > 0
    for r in rows:
        assert r.n_residual_rows <= r.n_rows
