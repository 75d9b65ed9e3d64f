#!/usr/bin/env python
"""Freeze the eager oracle's outputs for the fixture corpus ×
representative schemas into tests/goldens.json.

The engine-vs-oracle parity suite proves DISTRIBUTION correctness but
cannot catch an unintended change to the shared kernel (both sides
would drift together). The frozen goldens pin the kernel itself:
tests/test_goldens.py recomputes the oracle and compares. If a kernel
change is INTENTIONAL (e.g. swapping in real UIE weights), rerun this
script and commit the diff.

The committed goldens were frozen under OPENBLAS_CORETYPE=SKYLAKEX
(AVX-512, the family core.preferred_blas_coretype picks on such hosts).
Float outputs depend on the OpenBLAS kernel family, so freeze and
compare under the same coretype: a run under another family (e.g.
HASWELL on an AVX2-only host) can mismatch with no kernel change.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from uie_pytorch_spark.core import pin_blas_single_thread

pin_blas_single_thread()

from oracle_uie import OracleUIE, flat_spans, golden_sort_key  # noqa: E402
from uie_pytorch_spark.sources.web_pages import generate_fixture_rows  # noqa: E402

SCHEMAS = {
    "entity": ["时间", "选手", "赛事名称"],
    "relation": {"竞赛名称": ["主办方", "承办方"]},
    "opinion": {"评价维度": ["观点词", "情感倾向[正向，负向]"]},
    "en_relation": {"Person": ["Company"]},
}


def main():
    texts = [r[3] for r in generate_fixture_rows(n_docs=24, seed=17)]
    out = {}
    for name, schema in SCHEMAS.items():
        lang = "en" if name.startswith("en_") else "zh"
        spans = flat_spans(OracleUIE(schema, lang=lang).extract(texts))
        out[name] = [list(s) for s in sorted(spans, key=golden_sort_key)]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "goldens.json",
    )
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, ensure_ascii=False, indent=1)
    print(f"wrote {path}: " + ", ".join(f"{k}={len(v)}" for k, v in out.items()))


if __name__ == "__main__":
    main()
