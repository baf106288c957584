"""Round-6 optimization equivalence tests.

Every optimization this round must leave declared-query results identical;
these pin the internals that were restructured for speed:

1. vecnp.round_half_up[_array] must reproduce Spark's ``round(double, d)``
   (string-decimal HALF_UP) bit-for-bit, including adversarial
   near-boundary values.
2. assign_cells' numpy backend must produce exactly the JVM packed-
   broadcast argmax (scores, rounding, tie-to-larger-cell, degenerate
   vectors) — compared directly against the JVM expression path.
3. semantic_dedup_pairs' numpy Gram backend must equal the self-join
   formulation (pair set AND cos_sim doubles).
4. near_dup_components: the driver union-find fast path (edge sets under
   ``driver_max_edges``) must produce exactly the distributed
   large-star/small-star labeling.
"""

import pytest
from pyspark.sql import functions as F

from embulk_input_marketo_spark.functions import vecnp
from embulk_input_marketo_spark.functions.similarity import (
    assign_cells, semantic_dedup_pairs,
)
from embulk_input_marketo_spark.operators.dedup_docs import (
    near_dup_components,
)


class TestRoundHalfUpMatchesSpark:
    def _values(self):
        vals = []
        for i in range(2000):
            vals.append((((i * 2654435761) % 1900001) - 950000) / 1e6 * 1.0000001)
        # adversarial: exact grid points, half-boundaries, repr-sensitive
        vals += [0.9499995, 0.949999499999999, 0.9500005, -0.9499995,
                 0.1234565, 0.1234575, 1.0, -1.0, 0.0, -0.0, 1e-7,
                 -1e-7, 123456.1234565, 2.5e-6, -2.5e-6, 0.9999995]
        return vals

    def test_scalar_and_array_match_spark_round(self, spark):
        vals = self._values()
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = [r["r"] for r in
               df.select(F.round("x", 6).alias("r")).collect()]
        import numpy as np
        mine = [vecnp.round_half_up(v, 6) for v in vals]
        arr = vecnp.round_half_up_array(np.array(vals), 6)
        for v, g, m, a in zip(vals, got, mine, arr):
            assert repr(g) == repr(m) == repr(float(a)), (v, g, m, a)

    @pytest.mark.parametrize("decimals", [2, 6])
    def test_array_matches_scalar_at_large_magnitudes(self, decimals):
        """Half-boundary values (a trailing 5 one digit past ``decimals``)
        at |x| from 1e4 to 1e9: the double scaling error grows with |x|,
        and the guard band must grow with it."""
        import numpy as np

        vals = []
        for e in range(4, 10):
            for i in range(200):
                whole = 10 ** e + (i * 7919) % (10 ** e)
                frac = (i * 104729) % (10 ** decimals)
                v = float(f"{whole}.{frac:0{decimals}d}5")
                vals += [v, -v]
        arr = vecnp.round_half_up_array(np.array(vals), decimals)
        for v, a in zip(vals, arr):
            assert repr(float(a)) == repr(vecnp.round_half_up(v, decimals)), v


@pytest.fixture()
def emb_fixture(spark):
    # mix of clean vectors, a ragged one, a null-element one, and a null —
    # the degenerate classes the numpy backends must route identically
    rows = []
    for i in range(300):
        rows.append((i, [((i * 31 + d * 7) % 1000 - 500) / 99.0
                         for d in range(16)]))
    rows.append((900, [1.0] * 8))            # ragged (shorter)
    rows.append((901, None))                  # null vector
    rows.append((902, [1.0] * 15 + [None]))   # null element
    # NOTE: no zero-norm vector here — the JVM expression path raises
    # ANSI DIVIDE_BY_ZERO on it, so it is outside the reference's domain;
    # TestNumpyZeroNorm pins the numpy path's (more permissive) behavior.
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _jvm_assign(df, cents, round_scores):
    """The pre-r6 JVM packed-broadcast argmax, verbatim (the reference)."""
    from embulk_input_marketo_spark.functions.similarity import (
        _cell_scores, _cells_pack,
    )

    scores = _cell_scores(F.col("embedding"))
    if round_scores is not None:
        scores = F.transform(
            scores,
            lambda c: F.struct(
                F.round(c["s"], round_scores).alias("s"), c["i"].alias("i")
            ),
        )
    return (
        df.crossJoin(_cells_pack(cents))
        .withColumn("_cell", F.array_max(scores)["i"])
        .drop("_cents")
    )


class TestAssignCellsBackendEquivalence:
    @pytest.mark.parametrize("round_scores", [None, 6])
    def test_numpy_equals_jvm(self, spark, emb_fixture, round_scores):
        cents = spark.createDataFrame(
            [(i, [((i * 13 + d * 3) % 100 - 50) / 7.0 for d in range(16)])
             for i in range(5)],
            "cell_id int, centroid array<double>",
        )
        got = {
            r["vec_id"]: r["_cell"]
            for r in assign_cells(
                emb_fixture, cents, round_scores=round_scores
            ).collect()
        }
        want = {
            r["vec_id"]: r["_cell"]
            for r in _jvm_assign(
                emb_fixture, cents, round_scores
            ).collect()
        }
        assert got == want

    def test_existing_out_col_is_replaced(self, spark, emb_fixture):
        """A frame that already carries ``_cell`` gets it replaced, not
        duplicated, on both backends: numpy (double vectors) and the JVM
        expressions (float vectors, the same values)."""
        cents = spark.createDataFrame(
            [(i, [((i * 13 + d * 3) % 100 - 50) / 7.0 for d in range(16)])
             for i in range(5)],
            "cell_id int, centroid array<double>",
        )
        stale = emb_fixture.withColumn("_cell", F.lit(-1))
        f32 = stale.withColumn("embedding", F.col("embedding").cast("array<float>"))
        f64 = f32.withColumn("embedding", F.col("embedding").cast("array<double>"))
        got = {}
        for backend, df in (("numpy", f64), ("jvm", f32)):
            out = assign_cells(df, cents, round_scores=6)
            assert out.columns == stale.columns, backend
            got[backend] = {r["vec_id"]: r["_cell"] for r in out.collect()}
        assert got["numpy"] == got["jvm"]
        assert -1 not in set(got["numpy"].values())

    def test_tie_breaks_to_larger_cell(self, spark):
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [1.0, 0.0])],
            "cell_id int, centroid array<double>",
        )
        df = spark.createDataFrame(
            [(7, [0.6, 0.8])], "vec_id long, embedding array<double>"
        )
        assert assign_cells(df, cents, round_scores=6).collect()[0]["_cell"] == 1


class TestSemanticPairsBackendEquivalence:
    def test_numpy_equals_join(self, spark, emb_fixture):
        # same inputs through the numpy path (guard on) and the join path
        # (guard effectively off via None -> legacy formulation); compare
        # with a guard large enough that no cell drops in either
        np_pairs = semantic_dedup_pairs(
            emb_fixture, n_cells=4, threshold=0.5, max_cell_size=1000
        ).collect()
        legacy = semantic_dedup_pairs(
            emb_fixture, n_cells=4, threshold=0.5, max_cell_size=None
        ).collect()
        key = lambda rows: sorted(
            (r["left_id"], r["right_id"], repr(r["cos_sim"])) for r in rows
        )
        assert key(np_pairs) == key(legacy)
        assert len(np_pairs) > 0  # non-vacuous


class TestNumpyZeroNorm:
    def test_zero_norm_assigns_max_cell_and_pairs_nothing(self, spark):
        """Zero-norm vectors: NaN cosine everywhere. The JVM expression path
        raises ANSI DIVIDE_BY_ZERO (never supported); the numpy path keeps
        going: NaN scores sort above all (Spark double order) so assignment
        picks the largest cell id, and NaN never passes the pair
        threshold."""
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "cell_id int, centroid array<double>",
        )
        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [3.0, 4.0])],
            "vec_id long, embedding array<double>",
        )
        cells = assign_cells(df, cents, round_scores=6).collect()
        got = {r["vec_id"]: r["_cell"] for r in cells}
        assert got[1] == 1 and got[2] == 1
        pairs = semantic_dedup_pairs(
            df, n_cells=1, threshold=0.0, max_cell_size=100
        ).collect()
        ids = {r["left_id"] for r in pairs} | {r["right_id"] for r in pairs}
        assert 1 not in ids and 2 not in ids


class TestComponentsFastPathEquivalence:
    def _pairs(self, spark):
        edges = (
            [(i, i + 1) for i in range(0, 20)]          # one long chain
            + [(100, 101), (101, 102), (100, 102)]       # triangle
            + [(200, 300), (300, 250)]                   # vee
            + [(400, 401), (401, 400), (400, 400)]       # dup + self edge
            + [(7, 500)]                                 # chain joins far id
        )
        return spark.createDataFrame(edges, "left_id long, right_id long")

    def test_driver_vs_distributed_identical(self, spark):
        pairs = self._pairs(spark)
        fast = near_dup_components(pairs).collect()
        slow = near_dup_components(pairs, driver_max_edges=0).collect()
        fkey = sorted((r["doc_id"], r["component_id"]) for r in fast)
        skey = sorted((r["doc_id"], r["component_id"]) for r in slow)
        assert fkey == skey
        assert all(c <= d for d, c in fkey)  # labels are component minima

    def test_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "left_id long, right_id long")
        assert near_dup_components(pairs).count() == 0
