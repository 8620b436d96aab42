"""M5: checkpoint-resumable stages — skip-if-committed, resume after
a simulated crash between stages, fingerprint-driven rebuild."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from zensearch_spark.plans.checkpoint import StageRunner
from zensearch_spark.plans.index_build import build_index


@pytest.fixture()
def corpus(spark):
    from zensearch_spark.sources.corpus import generate_transcripts_pandas

    return spark.createDataFrame(generate_transcripts_pandas(40, seed=42))


def _mtimes(root):
    out = {}
    for stage in ("doc_map", "postings", "term_dict", "blocks"):
        p = os.path.join(root, "_manifests", f"{stage}.json")
        out[stage] = os.path.getmtime(p)
    return out


def test_second_build_skips_all_stages(spark, corpus, tmp_path):
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, corpus_id="c1", n_salt_ranges=4)
    before = _mtimes(root)
    build_index(spark, corpus, root, corpus_id="c1", n_salt_ranges=4)
    assert _mtimes(root) == before, "no stage may re-run when committed"


def test_resume_after_crash_between_stages(spark, corpus, tmp_path):
    """Simulate a crash after stage 2: later manifests removed →
    rerun rebuilds ONLY the missing tail, and manifests are
    byte-identical module wall-time (per-partition lineage equal)."""
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, corpus_id="c1", n_salt_ranges=4)
    with open(os.path.join(root, "_manifests", "blocks.json")) as f:
        blocks_before = json.load(f)
    before = _mtimes(root)
    # crash: blocks output + manifest gone, term_dict manifest gone
    shutil.rmtree(os.path.join(root, "blocks"))
    os.remove(os.path.join(root, "_manifests", "blocks.json"))
    os.remove(os.path.join(root, "_manifests", "term_dict.json"))
    build_index(spark, corpus, root, corpus_id="c1", n_salt_ranges=4)
    after = _mtimes(root)
    assert after["doc_map"] == before["doc_map"], "committed prefix untouched"
    assert after["postings"] == before["postings"]
    assert after["blocks"] > before["blocks"]
    with open(os.path.join(root, "_manifests", "blocks.json")) as f:
        blocks_after = json.load(f)

    # identical lineage modulo Spark's per-write UUID in part names:
    # same partition dirs, part indices, byte sizes, row counts
    def norm(parts):
        return [
            (os.path.dirname(p["file"]),
             os.path.basename(p["file"]).split("-")[1],
             p["bytes"], p["rows"])
            for p in parts
        ]

    assert norm(blocks_after["partitions"]) == norm(blocks_before["partitions"])
    assert blocks_after["fingerprint_hash"] == blocks_before["fingerprint_hash"]


def test_fingerprint_change_rebuilds_downstream(spark, corpus, tmp_path):
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, corpus_id="c1", n_salt_ranges=4)
    before = _mtimes(root)
    # changed block size → blocks stage re-runs, upstream skipped
    build_index(spark, corpus, root, corpus_id="c1", n_salt_ranges=4,
                block_size=64)
    after = _mtimes(root)
    assert after["doc_map"] == before["doc_map"]
    assert after["blocks"] > before["blocks"]


def test_stage_runner_atomicity(tmp_path):
    runner = StageRunner(str(tmp_path))

    def boom(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "partial"), "w") as f:
            f.write("x")
        raise RuntimeError("simulated task failure")

    with pytest.raises(RuntimeError):
        runner.run("s1", {"v": 1}, boom)
    assert runner.load_manifest("s1") is None
    assert not os.path.exists(os.path.join(str(tmp_path), "s1"))
    leftovers = [d for d in os.listdir(tmp_path) if d.startswith(".tmp-")]
    assert leftovers == [], "failed stage must clean its temp dir"
