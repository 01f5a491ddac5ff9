"""The benchmark's own tests: seeded generators are deterministic, the
checks reject wrong output, and the printed metrics match BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, run  # noqa: E402

SMALL = dict(grids=2, ni=8, nj=6, nlev=5)


def _bytes(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_fst_archive_is_byte_identical_for_a_seed(tmp_path):
    a = gen.fst_archive(str(tmp_path / "a"), 7, **SMALL)
    b = gen.fst_archive(str(tmp_path / "b"), 7, **SMALL)
    c = gen.fst_archive(str(tmp_path / "c"), 8, **SMALL)
    assert _bytes(a.files) == _bytes(b.files)
    assert _bytes(a.files) != _bytes(c.files)


def test_catalog_and_corpus_are_identical_for_a_seed(tmp_path):
    a = gen.catalog_archive(str(tmp_path / "a"), 3, files=2, per_file=50)
    b = gen.catalog_archive(str(tmp_path / "b"), 3, files=2, per_file=50)
    assert _bytes(a.files) == _bytes(b.files)
    kw = dict(docs=300, families=20, chain=4, copies=10)
    x, y = gen.text_corpus(5, **kw), gen.text_corpus(5, **kw)
    assert x.texts == y.texts and (x.ids == y.ids).all()
    assert x.links == y.links


def test_hybrid_levels_are_not_snapped_to_float32():
    levels = gen.hybrid_levels(20)
    assert all(float(f"{v:.5g}") == v for v in levels)
    codes = [gen.encode_ip1(v, 5) for v in levels]
    assert any(int(np.float32(c)) != c for c in codes)


def _as_output(recs):
    """Reference records laid out as an engine record table."""
    cols = {c: [r.meta[c] for r in recs] for c in check.KEY_COLS}
    cols["d"] = pa.array([r.truth for r in recs], pa.list_(pa.float32()))
    return pa.table(cols)


@pytest.fixture(scope="module")
def archive(tmp_path_factory):
    return gen.fst_archive(str(tmp_path_factory.mktemp("arch")), 1, **SMALL)


def test_checker_accepts_the_reference(archive):
    exp = {r.key: check.Expect(r.truth.astype("float64"), r.tol)
           for r in archive.records}
    assert check.check_records(_as_output(archive.records), exp, "t") == []


def test_checker_rejects_a_dropped_record(archive):
    exp = {r.key: check.Expect(r.truth.astype("float64"), r.tol)
           for r in archive.records}
    assert check.check_records(_as_output(archive.records[1:]), exp, "t")


def test_checker_rejects_one_corrupted_float(archive):
    exp = {r.key: check.Expect(r.truth.astype("float64"), r.tol)
           for r in archive.records}
    recs = list(archive.records)
    i = next(k for k, r in enumerate(recs) if r.tol == 0.0 and r.truth.size > 4)
    bad = recs[i].truth.copy()
    bad[3] = np.nextafter(bad[3], np.float32(np.inf))
    recs[i] = gen.RefRecord(meta=recs[i].meta, truth=bad, tol=0.0)
    assert check.check_records(_as_output(recs), exp, "t")


def test_printed_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    from perfbench.workloads import WORKLOADS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "out"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "fst_archive", "--seed", "1", "--seconds", "1"],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=120, env=dict(os.environ, PYTHONPATH=""))
    assert p.returncode != 0
    assert p.stdout == ""
