"""The manifest pins the kernel that made its rows: every record stores
``KERNEL_SEMANTICS``, a resume over a record of another kernel raises
before anything is written, and ``validate_output`` reports such chunks."""

import json
import os

import pytest

from ocrd_calamari_spark.config import KERNEL_SEMANTICS, ExtractConfig
from ocrd_calamari_spark.pipeline import (
    Manifest,
    run_extraction,
    validate_output,
)

CFG = ExtractConfig(textequiv_level="block")


def _first_chunk(spark, pages_parquet, out) -> str:
    """Run one of two chunks; the path of its manifest record."""
    m = run_extraction(spark, pages_parquet, out, CFG, n_buckets=4,
                       n_chunks=2, stop_after_chunks=1)
    assert m["chunks_this_run"] == 1 and not m["complete"]
    rec, = Manifest(out).completed().values()
    assert rec["kernel_semantics"] == KERNEL_SEMANTICS
    return os.path.join(out, "_manifest", "chunk_%05d.json" % rec["chunk_id"])


def _edit(path: str, **changes) -> None:
    with open(path) as f:
        rec = json.load(f)
    rec.update(changes)
    for key in [k for k, v in changes.items() if v is None]:
        del rec[key]
    with open(path, "w") as f:
        json.dump(rec, f)


def _assert_resume_refused(spark, pages_parquet, out, got) -> None:
    with pytest.raises(ValueError, match=(
            "resume mismatch: manifest written with kernel_semantics="
            f"{got!r}, run requested kernel_semantics={KERNEL_SEMANTICS!r}")):
        run_extraction(spark, pages_parquet, out, CFG, n_buckets=4,
                       n_chunks=2)
    assert len(Manifest(out).completed()) == 1  # nothing was written
    assert sorted(os.listdir(os.path.join(out, "data"))) == ["chunk=0"]


def test_resume_under_another_kernel_raises(spark, pages_parquet, tmp_path):
    out = str(tmp_path / "out")
    path = _first_chunk(spark, pages_parquet, out)
    _edit(path, kernel_semantics=KERNEL_SEMANTICS + 1)
    _assert_resume_refused(spark, pages_parquet, out, KERNEL_SEMANTICS + 1)
    # the same kernel resumes to a complete job
    _edit(path, kernel_semantics=KERNEL_SEMANTICS)
    m = run_extraction(spark, pages_parquet, out, CFG, n_buckets=4,
                       n_chunks=2)
    assert m["complete"]


def test_resume_over_a_record_without_an_id_raises(spark, pages_parquet,
                                                    tmp_path):
    """A record without the key was written by kernel 0, which is not
    this one: the resume raises and the audit reports the chunk."""
    assert KERNEL_SEMANTICS != 0
    out = str(tmp_path / "out")
    path = _first_chunk(spark, pages_parquet, out)
    _edit(path, kernel_semantics=None)
    _assert_resume_refused(spark, pages_parquet, out, 0)
    report = validate_output(spark, out)
    assert report["semantics_mismatches"] == [0] and not report["ok"]


def test_audit_reports_chunks_of_another_kernel(spark, pages_parquet,
                                                tmp_path):
    out = str(tmp_path / "out")
    run_extraction(spark, pages_parquet, out, CFG, n_buckets=4, n_chunks=2)
    report = validate_output(spark, out)
    assert report["ok"] and report["semantics_mismatches"] == []
    recs = Manifest(out).completed()
    assert len(recs) == 2
    odd = max(recs)
    _edit(os.path.join(out, "_manifest", "chunk_%05d.json" % odd),
          kernel_semantics=KERNEL_SEMANTICS + 1)
    report = validate_output(spark, out)
    assert report["semantics_mismatches"] == [odd]
    assert report["config_mismatches"] == [] and not report["mismatches"]
    assert not report["ok"]
