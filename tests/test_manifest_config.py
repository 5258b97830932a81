"""The manifest pins the ``ExtractConfig`` its rows were made with: a
resume under another config raises like the other resume guards, and
``validate_output`` reports chunks whose recorded config differs."""

import json
import os

import pytest

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.pipeline import (
    Manifest,
    run_extraction,
    validate_output,
)


def test_resume_at_another_level_raises(spark, pages_parquet, tmp_path):
    out = str(tmp_path / "out")
    m = run_extraction(spark, pages_parquet, out,
                       ExtractConfig(textequiv_level="block"), n_buckets=4,
                       n_chunks=2, stop_after_chunks=1)
    assert m["chunks_this_run"] == 1 and not m["complete"]
    rec, = Manifest(out).completed().values()
    assert rec["config"] == {"voter": "confidence_voter_default_ctc",
                             "textequiv_level": "block",
                             "glyph_conf_cutoff": 0.001}
    with pytest.raises(ValueError, match="resume mismatch.*config"):
        run_extraction(spark, pages_parquet, out,
                       ExtractConfig(textequiv_level="glyph"), n_buckets=4,
                       n_chunks=2)
    assert len(Manifest(out).completed()) == 1  # nothing was written

    # the same config resumes; a record without one (an older manifest)
    # is accepted by both the resume and the audit
    path = os.path.join(out, "_manifest", "chunk_00000.json")
    with open(path) as f:
        old = json.load(f)
    del old["config"]
    with open(path, "w") as f:
        json.dump(old, f)
    m = run_extraction(spark, pages_parquet, out,
                       ExtractConfig(textequiv_level="block"), n_buckets=4,
                       n_chunks=2)
    assert m["complete"]
    report = validate_output(spark, out)
    assert report["ok"] and report["config_mismatches"] == []

    # a record whose config differs from the others fails the audit
    recs = Manifest(out).completed()
    odd = max(recs)
    path = os.path.join(out, "_manifest", "chunk_%05d.json" % odd)
    rec = dict(recs[odd], config=dict(recs[odd]["config"],
                                      textequiv_level="glyph"))
    with open(path, "w") as f:
        json.dump(rec, f)
    report = validate_output(spark, out)
    assert report["config_mismatches"] == [odd]
    assert not report["ok"]
