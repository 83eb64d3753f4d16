"""The committed golden persisted-index contract — the reference ships a
built index and asserts exact neighbors from it across versions
(/root/reference/test/index_test.py:29-34 on test/test.tree). A format
drift in the npz/meta/parquet layout between versions must fail HERE,
not in production: this loads the index committed under
tests/fixtures/golden_index (format 2) and pins its answers
bit-for-bit. Regenerate ONLY on a deliberate format change:
`python tools/make_golden_index.py`."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

from annoy_spark.sources.ann_index import AnnIndexConfig, load_index

REPO = Path(__file__).resolve().parent.parent
FIXTURE = REPO / "tests" / "fixtures" / "golden_index"
EXPECTED = REPO / "tests" / "fixtures" / "golden_index_expected.json"

_spec = importlib.util.spec_from_file_location(
    "make_golden_index", REPO / "tools" / "make_golden_index.py"
)
_tool = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_tool)


def test_golden_index_loads_and_answers_pinned_queries(spark):
    want = json.loads(EXPECTED.read_text())
    cfg = AnnIndexConfig(**want["config"])
    idx = load_index(spark, str(FIXTURE), expected=cfg)
    assert idx.cfg.config_hash() == cfg.config_hash()
    assert idx.n_items() == _tool.N
    qs = spark.createDataFrame(
        _tool.golden_query_rows(), "vec_id long, embedding array<double>"
    )
    got = sorted(
        idx.query(qs, k=want["k"], spill_eps=want["spill_eps"]).collect(),
        key=lambda r: (r.qid, r.rank),
    )
    assert len(got) == len(want["rows"]) > 0
    for g, w in zip(got, want["rows"]):
        assert (g.qid, g.nid, g.rank) == (w["qid"], w["nid"], w["rank"])
        assert g.distance == pytest.approx(w["distance"], abs=1e-12)


def test_golden_index_rejects_other_config(spark):
    other = AnnIndexConfig(kind="forest", n_trees=8, seed=_tool.SEED)
    with pytest.raises(ValueError, match="refusing"):
        load_index(spark, str(FIXTURE), expected=other)


def test_golden_index_compacted_copy_answers_identically(spark, tmp_path):
    """Compaction over the cross-version fixture: copy the committed
    index, compact the copy, and the pinned answers must hold
    bit-for-bit (distance to 1e-12) — compaction is a file-layout
    rewrite, never a semantic one."""
    import shutil

    from annoy_spark.sources.ann_index import compact_index

    root = tmp_path / "golden_copy"
    shutil.copytree(FIXTURE, root)
    want = json.loads(EXPECTED.read_text())
    idx = compact_index(spark, str(root))
    assert idx.n_items() == _tool.N
    qs = spark.createDataFrame(
        _tool.golden_query_rows(), "vec_id long, embedding array<double>"
    )
    got = sorted(
        idx.query(qs, k=want["k"], spill_eps=want["spill_eps"]).collect(),
        key=lambda r: (r.qid, r.rank),
    )
    assert len(got) == len(want["rows"]) > 0
    for g, w in zip(got, want["rows"]):
        assert (g.qid, g.nid, g.rank) == (w["qid"], w["nid"], w["rank"])
        assert g.distance == pytest.approx(w["distance"], abs=1e-12)


def test_golden_index_rebuild_is_identical(spark, tmp_path):
    """Build determinism against the committed fixture: rebuilding its
    config from the same items gives byte-equal model.npz arrays and the
    same vectors / buckets / summed-counts digests and meta — the
    comparison of `make_golden_index.py --check`."""
    idx = _tool.build_golden(spark, tmp_path / "golden")
    assert idx.cfg.config_hash() == json.loads(
        (FIXTURE / "model" / "_ANNOY_SPARK_META.json").read_text()
    )["config_hash"]
    assert _tool.fixture_differences(spark, tmp_path / "golden") == []
