"""The output checks must notice a wrong golden or oracle signature.

    python3 -m pytest perfbench/tests -q

The end-to-end cases run each workload's worker once with one golden
corrupted (under a minute each on a 4-core host).
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, queries, run  # noqa: E402


def test_check_docs_counts_each_bad_document():
    goldens = {"a": ("s1", None), "b": (None, "empty_payload"),
               "c": ("s3", None)}
    rows = [("a", "s1", None), ("b", None, "empty_payload"), ("c", "s3", None)]
    assert checks.check_docs(rows, goldens)[:2] == (3, 0)
    corrupted = dict(goldens, a=("bad", None))
    assert checks.check_docs(rows, corrupted)[:2] == (3, 1)
    # a duplicated url and a missing url fail too
    assert checks.check_docs(rows[:2] + rows[:1], goldens)[:2] == (3, 2)


def test_query_check_fails_on_a_wrong_oracle_signature():
    tab = pa.table({"k": pa.array([1, 2], pa.int64()),
                    "v": pa.array([0.5, None], pa.float64())})
    expected = {"q": queries.signature(tab)}
    assert queries.check("q", tab, expected) is None
    # row order does not matter, a value or an Arrow type does
    assert queries.check("q", tab.take([1, 0]), expected) is None
    assert queries.check("q", tab.slice(0, 1), expected) is not None
    wrong_type = tab.set_column(0, "k", pa.array([1, 2], pa.int32()))
    assert queries.check("q", wrong_type, expected) is not None


def _corrupt_one(src: str, dst: str) -> None:
    t = pq.read_table(src)
    shas = t.column("text_sha256").to_pylist()
    k = next(i for i, s in enumerate(shas) if s is not None)
    shas[k] = "0" * 64
    pq.write_table(t.set_column(1, "text_sha256", pa.array(shas, pa.string())),
                   dst)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_corrupted_golden_makes_failed_ratio_nonzero(tmp_path, workload):
    n_blocks, n_base = run.WORKLOADS[workload]
    ids = list(range(n_blocks))
    cdir = inputs.cache_dir(run.WORK, ROOT)
    inputs.ensure_blocks(cdir, ids, procs=run.nproc())
    goldens = [inputs.golden_path(cdir, b) for b in ids]
    goldens[-1] = str(tmp_path / "golden-bad.parquet")
    _corrupt_one(inputs.golden_path(cdir, ids[-1]), goldens[-1])
    pages = [inputs.pages_path(cdir, b) for b in ids]
    spec = {"workload": workload, "seconds": 0, "trace": 0,
            "min_calls": 1, "run_id": f"test-{workload}", "pages": pages,
            "base_pages": pages[:n_base], "goldens": goldens,
            "corpus_pages": inputs.corpus_slice(cdir, ids[0],
                                                run.CORPUS_ROWS),
            "out_root": str(tmp_path / "out")}
    result, _ = run.run_worker(spec, str(tmp_path / "run"),
                               time.monotonic() + run.RUN_TIMEOUT_S)
    # each timed call's output, and the untimed warm-up call's, is checked
    # and holds the one bad document
    assert result["attempted"] > 0
    assert result["failed"] == len(result["walls"]) + 1, result["problems"]
