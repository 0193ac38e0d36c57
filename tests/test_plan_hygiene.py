"""Registry-WIDE physical-plan hygiene gate.

test_plans.py pins specific queries' plans; this suite asserts the
global invariants every registered query must satisfy at any scale —
the anti-pattern sweep the 100-TB design review runs by hand, executed
mechanically over the whole registry so a new query (or an optimizer
regression after a Spark upgrade) cannot silently reintroduce:

- a NON-broadcast cartesian product (CartesianProduct): quadratic
  row fan-out through a shuffle — always a bug here (tiny-frame
  cross-joins must broadcast; j9's interval join is
  BroadcastNestedLoopJoin, which is fine and distinct);
- unbounded scan duplication: a query re-reading its parquet inputs
  more than the known per-query bound means a shared pipeline got
  re-evaluated instead of reused (the class of regression the
  localCheckpoint/exchange-reuse work exists to prevent);
- a ``PythonRDD`` under a leaf: a frame built from Python rows with
  ``createDataFrame`` over a list, so every action over it starts
  ``pyspark.daemon`` workers (``session.arrow_frame`` is the one
  builder; the same pin covers the library faces that build frames).

Queries whose BUILDERS execute driver-side loops (star contraction,
streaming certification, PCA, ANN fit) are exercised too — their
RETURNED frame must still satisfy the invariants (their loop-internal
jobs are covered by their own plan pins).
"""

from __future__ import annotations

import ast
import inspect
import pathlib
import re
from datetime import date

import pytest

from acled_spark.registry import all_specs
from tests.conftest import python_leaves

SF_DIR = "/root/testdata/sf0.001"

# Known per-query parquet-scan bounds ABOVE the default of 4.  Every
# entry must carry the reason; an unexplained growth fails the gate.
_SCAN_BOUND_EXCEPTIONS = {
    # classifies one corpus half against the other: each half's
    # fingerprint AND band pipelines scan their (pruned) side — 4
    # scans per side is the documented per-half-pipeline design
    "dedup_incremental_check": 8,
    # old + new snapshot, each fingerprinted for diff AND retained-set
    "release_delta_audit": 6,
    # contamination joins train-side grams to eval-side grams, each
    # side re-derived from its pruned scan + the split lookup
    "text_contamination": 6,
    # winnowing self-join: two exploded fingerprint streams
    "text_winnow_pairs": 6,
    # dup-span self-join over two exploded gram streams + doc lengths
    "text_dup_spans": 6,
    # two-pass by design: vocabulary LM scan + scoring scan
    "text_unigram_logprob": 5,
    # CERTIFICATION face: the exact brute-force baseline and the IVF
    # path each re-derive from the (tiny at cert time) embeddings
    # table to stay independent — the production face (ann.ivf_search)
    # scans once; cert cost priced in SCALE.md
    "sim_ann_ivf": 8,
    # five-check suite fused into one job over one table, but the
    # validation census reads events once per independent check family
    "chk_validation_summary": 5,
}
_DEFAULT_SCAN_BOUND = 4


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module", params=sorted(all_specs()))
def built(request, spark):
    """(name, frame) of each registry query, built once for every gate
    below; pytest runs the gates of one query, then drops its frame."""
    return request.param, all_specs()[request.param].builder(spark, SF_DIR)


def test_no_cartesian_and_bounded_scans(built):
    name, df = built
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, (
        f"{name}: non-broadcast cartesian product in the physical plan"
    )
    n_scans = len(re.findall(r"Scan parquet", plan))
    bound = _SCAN_BOUND_EXCEPTIONS.get(name, _DEFAULT_SCAN_BOUND)
    assert n_scans <= bound, (
        f"{name}: {n_scans} parquet scans (bound {bound}) — a shared "
        "pipeline is being re-evaluated; reuse or checkpoint it"
    )


def test_no_python_worker_under_a_leaf(built):
    name, df = built
    assert python_leaves(df) == [], name


def test_library_faces_carry_no_python_leaf(spark):
    """The frames the library builds from driver-side rows outside the
    registry: IVF centroids, the label-encoder map, and the backfill
    seed and its empty case (the fetched day has its own pin in
    test_acled_pipeline.py)."""
    from acled_spark.ann import build_ivf_index, centroid_frame, ivf_search
    from acled_spark.ml import label_encode_transform
    from acled_spark.source import fetch_partition_range
    from acled_spark.tables import load
    from tests.test_acled_pipeline import make_fetcher

    emb = load(spark, SF_DIR, "embeddings")
    index = build_ivf_index(emb, nlist=4, persist=False)
    customer = load(spark, SF_DIR, "customer")
    fetcher = make_fetcher(rows_per_day=5)
    frames = {
        "centroid_frame": centroid_frame(spark, index.model),
        "ivf_search": ivf_search(index, emb.limit(3), top_k=2, nprobe=1),
        "label_encode_transform": label_encode_transform(
            customer, "c_mktsegment", {"BUILDING": 0, "MACHINERY": 1}
        ),
        "fetch_partition_range": fetch_partition_range(
            spark, fetcher, [date(2025, 1, 2)]
        ),
        "fetch_partition_range_empty": fetch_partition_range(spark, fetcher, []),
    }
    for name, df in frames.items():
        assert python_leaves(df) == [], name
    assert frames["centroid_frame"].count() == 4


def test_create_data_frame_only_in_arrow_frame():
    """``createDataFrame`` appears in the package only inside
    ``session.arrow_frame``: a new call site would plan its rows as a
    ``PythonRDD`` again."""
    from acled_spark.session import arrow_frame

    pkg = pathlib.Path(inspect.getfile(arrow_frame)).parent
    sites = [
        (path.relative_to(pkg).as_posix(), node.lineno)
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
    ]
    body, start = inspect.getsourcelines(arrow_frame)
    assert len(sites) == 1, sites
    assert sites[0][0] == "session.py", sites
    assert start <= sites[0][1] < start + len(body), sites


def test_filesystem_internals_only_in_fsutil():
    """The Hadoop filesystem handle (``_fs_and_path``,
    ``hadoopConfiguration``), the staging suffix and the commit marker
    are named only in ``fsutil.py``: every live-directory replace goes
    through its one staged swap (``commit_dir``/``heal_dir``), and every
    other module reaches the filesystem through its public helpers.
    Identifiers and string literals count; docstrings do not."""
    from acled_spark import fsutil

    tokens = (
        "_fs_and_path", "hadoopConfiguration", fsutil._STAGING_SUFFIX,
        fsutil._COMMIT,
    )
    pkg = pathlib.Path(inspect.getfile(fsutil)).parent
    hits = {}
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(
                node,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            )
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                text = node.id
            elif isinstance(node, ast.Attribute):
                text = node.attr
            elif isinstance(node, ast.alias):
                text = node.name
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = "" if id(node) in docstrings else node.value
            else:
                continue
            for token in tokens:
                if token in text:
                    hits.setdefault(token, set()).add(
                        path.relative_to(pkg).as_posix()
                    )
    assert hits == {token: {"fsutil.py"} for token in tokens}, hits


def test_foreach_batch_rule_only_in_streaming():
    """Every ``foreachBatch`` face subclasses ``EpochSink`` and writes
    only its hooks: the idle skip (``batch_df.isEmpty()``), the replay
    check (the one ``last_stamp`` call) and the stamp's query id are
    spelled only in ``streaming.py``, and drift's old epoch sidecar is
    gone."""
    from acled_spark import streaming
    from acled_spark.ann import IvfMaintainer
    from acled_spark.dedup_store import DedupMaintainer
    from acled_spark.drift import DriftMonitor

    for face in (DriftMonitor, IvfMaintainer, DedupMaintainer, streaming._UpsertSink):
        assert issubclass(face, streaming.EpochSink), face
        assert "__call__" not in vars(face), face
    pkg = pathlib.Path(inspect.getfile(streaming)).parent
    hits = {}
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        found = {
            token for token in
            ("sql.streaming.queryId", "_EPOCH_MARKER", "_LAST_FOLDED_EPOCH")
            if token in text
        }
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                attr, owner = node.func.attr, node.func.value
                if attr == "last_stamp" or (
                    attr == "isEmpty"
                    and isinstance(owner, ast.Name)
                    and owner.id == "batch_df"
                ):
                    found.add(attr)
        for token in found:
            hits.setdefault(token, set()).add(path.relative_to(pkg).as_posix())
    assert hits == {
        token: {"streaming.py"}
        for token in ("sql.streaming.queryId", "last_stamp", "isEmpty")
    }, hits
