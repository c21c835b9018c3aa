"""Fixed-point embedding scaling: float32-vs-double boundary audit.

The embedding parquet column is float32. DuckDB evaluates
`x * 1000 + 0.5` with the product IN float32, while a double product
differs for boundary components (e.g. -0.2345f, whose float32 product
is exactly -234.5 but whose double product is -234.0000006): the
floored fixed-point value differs by 1. Round 10 found two such
components at sf0.1 (vec 1687 dim 39, vec 1879 dim 17) diverging the
kmeans inertia; clustering._DD_EI now casts to DOUBLE explicitly and
its entries scale with int_embedding(in_double=True).

The bare float32 oracle strings (queries/similarity.DD_EI,
queries/similarity2._DD_HN_EI, the k-center oracle in
queries/sampling.py, sq8's ROUND(x * 254)) pair with int_embedding and
sq8_encode, which scale in float32 too; the last test here pins that on
tie witnesses.  The gate scale factors carry no boundary components at
all — pinned below, so if the testdata ever changes the assumption
fails loudly here instead of as an inscrutable hash mismatch.
"""

from __future__ import annotations

import duckdb
import pytest

_BOUNDARY_COUNT_SQL = """
    SELECT COUNT(*) FROM (
      SELECT unnest(list_transform(embedding,
               x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT))) AS f32_scaled,
             unnest(list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))) AS f64_scaled
      FROM read_parquet($path)
    ) WHERE f32_scaled <> f64_scaled
"""


def _boundary_count(sf_dir: str) -> int:
    con = duckdb.connect()
    return con.execute(
        _BOUNDARY_COUNT_SQL, {"path": f"{sf_dir}/embeddings.parquet"}
    ).fetchone()[0]


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_gate_scale_factors_have_no_boundary_components(sf_dir):
    assert _boundary_count(sf_dir) == 0, (
        "float32-sensitive embedding components appeared at a gate SF: "
        "align the remaining bare `x * 1000` oracle strings "
        "(similarity.DD_EI, similarity2._DD_HN_EI, sampling k-center) "
        "with clustering._DD_EI's CAST(x AS DOUBLE) form"
    )


def test_audit_detects_the_known_sf01_boundaries():
    """The audit must itself be sensitive: sf0.1 carries exactly the
    two components that diverged the kmeans gate before the fix."""
    assert _boundary_count("/root/testdata/sf0.1") == 2


_ZERO_NORM_SQL = """
    SELECT COUNT(*) FROM read_parquet($path)
    WHERE len(list_filter(embedding,
          x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) <> 0)) = 0
"""


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_no_zero_norm_embedding_at_gate_sfs(sf_dir):
    """SemDeDup's cosine divides by norm products with no zero guard
    (ADVICE r10): an all-zero SCALED embedding would make Spark emit
    NaN->NULL (row silently filtered) while DuckDB's
    CAST(FLOOR(NaN) AS BIGINT) errors the whole oracle query — a latent
    engine/oracle divergence. Pin that the hazard's precondition does
    not exist in any gate corpus; if the testdata ever changes, this
    fails loudly instead of as an inscrutable oracle error."""
    con = duckdb.connect()
    n = con.execute(
        _ZERO_NORM_SQL, {"path": f"{sf_dir}/embeddings.parquet"}
    ).fetchone()[0]
    assert n == 0, (
        f"{n} zero-norm scaled embeddings at {sf_dir}: add a norm > 0 "
        "guard to semdedup_members_and_dups AND its oracle before "
        "trusting the gate"
    )


# float32 components whose product with 1000 (EI) or 254 (SQ8) floors or
# rounds one apart in float32 and in double
_EI_TIES = [-0.0135, 0.0725, -0.3605, 0.2995, -0.2675]
_SQ8_TIES = [-0.37992126, 0.26968503, -0.19094488, 0.25393701]


def test_fixed_point_scaling_matches_duckdb_on_float32_ties(spark):
    """int_embedding and sq8_encode give their DuckDB oracles' integers
    on components that a double product rounds apart."""
    import numpy as np
    import pyarrow as pa

    from t_spoon_spark.operators.similarity import int_embedding, sq8_encode

    tbl = pa.table(
        {"embedding": pa.array([np.float32(_EI_TIES + _SQ8_TIES)], type=pa.list_(pa.float32()))}
    )
    con = duckdb.connect()
    con.register("t", tbl)
    (dd_ei, dd_sq8), = con.execute(
        "SELECT list_transform(embedding, x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)), "
        "list_transform(embedding, x -> GREATEST(-127, LEAST(127, CAST(ROUND(x * 254) AS BIGINT)))) "
        "FROM t"
    ).fetchall()
    row = spark.createDataFrame(tbl).select(int_embedding("embedding"), sq8_encode("embedding")).first()
    assert list(row[0]) == list(dd_ei)
    assert list(row[1]) == list(dd_sq8)
    # the witnesses are ties: a double product lands elsewhere on each
    x = np.float32(_EI_TIES + _SQ8_TIES).astype(np.float64)
    assert (np.floor(x[: len(_EI_TIES)] * 1000 + 0.5) != dd_ei[: len(_EI_TIES)]).all()
    half_up = np.sign(x) * np.floor(np.abs(x) * 254 + 0.5)
    assert (half_up[len(_EI_TIES):] != dd_sq8[len(_EI_TIES):]).all()
