"""Model artifact seam (VERDICT r1 item 4 / SURVEY S5, K6): save the
weights as a real .npz artifact, ship it to executors via
sc.addFile/SparkFiles, load it from disk inside the UDF singleton, and
verify the extraction output is byte-for-byte identical to the
seed-regenerated path. Mirrors the reference's checkpoint-directory
load (convert.py:318-337); the .npz artifact is the only seam for
real weights.
"""

from __future__ import annotations

import numpy as np
import pytest

from uie_pytorch_spark.core.model import (
    TinyUIE,
    get_model,
    load_weights,
    resolve_artifact,
    save_weights,
)


def test_save_load_roundtrip_bitwise(tmp_path):
    m = TinyUIE(seed=123)
    path = save_weights(m, str(tmp_path / "w"))
    m2 = load_weights(path)
    assert m2.layers == m.layers and m2.heads == m.heads and m2.h == m.h
    ids = np.array([[3, 5, 7, 2, 0, 0]], dtype=np.int64)
    tt = np.array([[0, 0, 1, 1, 0, 0]], dtype=np.int64)
    am = np.array([[1, 1, 1, 1, 0, 0]], dtype=np.int64)
    s1, e1 = m.forward(ids, tt, am)
    s2, e2 = m2.forward(ids, tt, am)
    assert s1.tobytes() == s2.tobytes()
    assert e1.tobytes() == e2.tobytes()


def test_tampered_artifact_changes_output(tmp_path):
    """The from-disk path must actually be read from disk: perturbing
    the artifact must change the model output (guards against a silent
    fall-back to seed regeneration)."""
    m = TinyUIE(seed=123)
    path = save_weights(m, str(tmp_path / "w"))
    z = dict(np.load(path))
    z["w_start"] = z["w_start"] + np.float32(1.0)
    with open(path, "wb") as f:
        np.savez(f, **z)
    m2 = load_weights(path)
    ids = np.array([[3, 5, 7, 2]], dtype=np.int64)
    tt = np.zeros_like(ids)
    am = np.ones_like(ids)
    s1, _ = m.forward(ids, tt, am)
    s2, _ = m2.forward(ids, tt, am)
    assert s1.tobytes() != s2.tobytes()


def test_load_weights_coerces_dtype(tmp_path):
    """An artifact whose arrays were saved in float64 must load as
    float32 and produce BITWISE the same output as the original model
    — the in-place forward() kernels propagate the buffer dtype, so
    without coercion the whole encoder would silently run in f64."""
    m = TinyUIE(seed=123)
    path = save_weights(m, str(tmp_path / "w"))
    z = dict(np.load(path))
    widened = {
        k: (v.astype(np.float64) if v.dtype == np.float32 else v)
        for k, v in z.items()
    }
    with open(path, "wb") as f:
        np.savez(f, **widened)
    m2 = load_weights(path)
    assert m2.tok_emb.dtype == np.float32
    assert all(
        blk[k].dtype == np.float32 for blk in m2.blocks for k in blk
    )
    ids = np.array([[3, 5, 7, 2, 0, 0]], dtype=np.int64)
    tt = np.zeros_like(ids)
    am = np.array([[1, 1, 1, 1, 0, 0]], dtype=np.int64)
    s1, e1 = m.forward(ids, tt, am)
    s2, e2 = m2.forward(ids, tt, am)
    assert s1.tobytes() == s2.tobytes()
    assert e1.tobytes() == e2.tobytes()


def test_resolve_artifact_missing():
    with pytest.raises(FileNotFoundError):
        resolve_artifact("definitely_not_here_xyz.npz")


def test_engine_runs_from_shipped_artifact(spark, tmp_path):
    """Flagship smoke at artifact granularity: addFile -> executors
    resolve via SparkFiles -> identical rows (incl. prob bytes) to the
    seed-regenerated run."""
    from uie_pytorch_spark.engine import UIEConfig, UIEEngine
    from uie_pytorch_spark.sources.web_pages import generate_fixture_rows

    rows = generate_fixture_rows(n_docs=12, seed=9)
    docs = spark.createDataFrame(
        [(i, r[3]) for i, r in enumerate(rows)], "doc_id: long, text: string"
    )
    schema = {"竞赛名称": ["主办方"]}

    seed_rows = sorted(
        map(tuple, UIEEngine(spark, schema, UIEConfig()).extract(docs).collect())
    )

    path = save_weights(get_model(), str(tmp_path / "uie_tiny_artifact"))
    spark.sparkContext.addFile(path)
    cfg = UIEConfig(model_path="uie_tiny_artifact.npz")
    art_rows = sorted(
        map(tuple, UIEEngine(spark, schema, cfg).extract(docs).collect())
    )
    assert art_rows == seed_rows
