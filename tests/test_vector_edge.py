"""Cross-engine parity for the vector queries on a PLANTED edge corpus.

The degenerate input every embedding pipeline eventually meets: an
all-zero vector (failed encoder call, padded row).  Cosine against it is
undefined — and under Spark's default ANSI mode an unguarded division
aborted sim_topk_bruteforce / sim_ann_lsh outright (round-7 review
finding), while the DuckDB oracle kept running.  Both engines now
EXCLUDE zero-norm vectors from probe and candidate sets; this suite
plants two zero vectors (one in the probe id range, one outside) and
runs the registered vector queries' engine-vs-oracle parity over them.

Also pins the shared kernel contract (acled_spark/vector.py): each
Spark kernel is bit-identical to its DuckDB twin.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from acled_spark.queries.similarity import DIM
from acled_spark.registry import all_specs
from tests.conftest import assert_parity

_rng = random.Random(7)


def _vec(scale: float = 1.0) -> list[float]:
    return [round(_rng.gauss(0.0, scale), 3) for _ in range(DIM)]


# 12 vectors, 3 labels x 4 (small blocks keep dedup_embedding_cosine's
# 18 pairs under its LIMIT 20, so row selection can't depend on engine
# NULL-ordering).  vec_id 3 is a ZERO probe, vec_id 9 a ZERO candidate.
ROWS = [
    (0, _vec(), 0),
    (1, _vec(), 0),
    (2, _vec(0.5), 0),
    (3, [0.0] * DIM, 0),          # zero-norm PROBE (vec_id < N_QUERIES)
    (4, _vec(2.0), 1),
    (5, _vec(), 1),
    (6, _vec(), 1),
    (7, _vec(0.1), 1),
    (8, _vec(), 2),
    (9, [0.0] * DIM, 2),          # zero-norm candidate
    (10, _vec(), 2),
    (11, _vec(3.0), 2),
    # DEGENERATE WIDTHS (r7 review): a ragged vector NULL-coses via
    # zip_with padding in Spark but ABORTS DuckDB's list_dot_product,
    # and an empty array bypassed the zero-maxabs guard (array_max([])
    # is NULL) into an ANSI /0 — both now excluded by the shared
    # fixed-width/non-empty filters on BOTH engines
    (12, [round(0.1 * i, 3) for i in range(10)], 0),   # ragged (10-dim)
    (13, [], 1),                                        # empty array
    # NULL embedding (ADVICE r7): Spark's aggregate(NULL, ...) is NULL
    # while the f9b oracle's bare COALESCE mapped it to 0.0 — the oracle
    # now guards NULL out front, and this row keeps the divergence pinned
    (14, None, 2),
]
SCHEMA = "vec_id long, embedding array<float>, label int"

# every oracle-backed query over the embeddings table
_VECTOR_QUERIES = [
    "sim_topk_bruteforce",
    "sim_ann_lsh",
    "sim_ann_multiprobe",
    "sim_quantize_error",
    "sim_norm_outliers",
    "sim_dim_stats",
    "sim_label_centroids",
    "dedup_embedding_cosine",
    "f9b_vector_norm",
]


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("vec_edge")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(
        str(d / "embeddings.parquet")
    )
    return str(d)


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{edge_dir}/embeddings.parquet/*.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", _VECTOR_QUERIES)
def test_vector_edge_corpus_parity(spark, edge_duck, edge_dir, name):
    assert_parity(spark, edge_duck, all_specs()[name], sf_dir=edge_dir)


def test_zero_norm_vectors_excluded_not_fatal(spark, edge_dir):
    """The semantic pin behind the parity: zero-norm vectors appear as
    neither probes nor neighbors (instead of aborting the query under
    ANSI /0), and the norm query itself still reports them as 0.0."""
    specs = all_specs()
    topk = specs["sim_topk_bruteforce"].builder(spark, edge_dir).collect()
    assert {r["query_id"] for r in topk} == {0, 1, 2, 4}  # probe 3 dropped
    assert all(r["neighbor_id"] not in (3, 9) for r in topk)

    lsh = specs["sim_ann_lsh"].builder(spark, edge_dir).collect()
    assert all(r["query_id"] != 3 and r["neighbor_id"] not in (3, 9) for r in lsh)

    norms = {
        r["vec_id"]: r["l2_norm"]
        for r in specs["f9b_vector_norm"].builder(spark, edge_dir).collect()
    }
    assert norms[3] == 0.0 and norms[9] == 0.0  # still audited, not hidden

    # degenerate-width rows are excluded from the cosine family too
    assert all(
        r["neighbor_id"] not in (12, 13)
        for r in specs["sim_ann_multiprobe"].builder(spark, edge_dir).collect()
    )
    # ...but NOT hidden from the quantization audit's input domain
    # decision: the empty vector is excluded (undefined mae), while the
    # ragged one still audits (per-vector op, width-independent)
    q_ids = {
        r["vec_id"]
        for r in specs["sim_quantize_error"].builder(spark, edge_dir).collect()
    }
    assert 12 in q_ids and 13 not in q_ids


# (a, b) vector pairs for the kernel twins: zero, negative, huge
# magnitude, an ill-conditioned sum whose value depends on the fold
# order (3.0 left to right, 5.0 right to left, 4.0 pairwise), NULL and
# empty.  Ragged widths and a NULL element only for the single-vector
# kernel: DuckDB's list_dot_product aborts on both by design.
_CANCEL = [1.0, 1e16, -1e16, 3.0]
_PAIRS = [
    ([0.0, 0.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.0]),
    ([-1.5, 2.25, -3.0, 0.5], [-0.5, -2.0, 4.0, 1.0]),
    ([1e8, -3.0, 2.5e8, 7.0], [1e8, 1.0, -1e8, 3.0]),
    (_CANCEL, [1.0, 1.0, 1.0, 1.0]),
    (None, [1.0, 2.0, 3.0, 4.0]),
    ([], []),
]
_RAGGED = [
    ([1e8, 0.5, -7.25], None),
    ([3.0], None),
    ([0.1] * 9, None),
    ([1.0, None, 2.0], None),
]


@pytest.mark.parametrize("kernel", ["dot", "l2_norm", "cosine"])
def test_shared_kernel_fold_matches_duckdb(spark, kernel):
    """Each vector.py kernel against its DuckDB twin, bit for bit, row by
    row: a respelling on either side that reorders the fold, widens at
    another point or maps NULL/empty differently fails here."""
    from pyspark.sql import functions as F

    from acled_spark import vector as V

    a, b = F.col("a"), F.col("b")
    spark_col, sql, rows = {
        "dot": (V.dot(a, b), V.dot_sql("a", "b"), _PAIRS),
        "l2_norm": (V.l2_norm(a), V.l2_norm_sql("a"), _PAIRS + _RAGGED),
        "cosine": (
            V.cosine(V.as_double(a), V.as_double(b), V.l2_norm(a), V.l2_norm(b)),
            V.cosine_sql("a", "b", V.l2_norm_sql("a"), V.l2_norm_sql("b")),
            _PAIRS,
        ),
    }[kernel]
    rows = [(i, x, y) for i, (x, y) in enumerate(rows)]

    def bits(x):
        return None if x is None else x.hex()

    df = spark.createDataFrame(rows, "id int, a array<double>, b array<double>")
    got = {r["id"]: bits(r["k"]) for r in df.select("id", spark_col.alias("k")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = {i: bits(k) for i, k in con.execute(f"SELECT id, {sql} FROM t").fetchall()}
    con.close()
    assert got == want
    if kernel == "dot":  # _CANCEL folded left to right
        assert got[3] == (3.0).hex()
