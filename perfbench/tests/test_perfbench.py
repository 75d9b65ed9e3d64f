"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re
import time

import pytest

from perfbench import inputs, layers, oracle, tracing, workloads
from perfbench.run import END_TO_END

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_generators_are_deterministic_per_seed_and_differ_across_seeds():
    assert inputs.flagship_docs(3, 200) == inputs.flagship_docs(3, 200)
    assert inputs.flagship_docs(3, 200) != inputs.flagship_docs(4, 200)
    # one set of texts for every seed: only keys, order and placement change
    assert sorted(t for _, t in inputs.flagship_docs(3, 200)) == sorted(
        t for _, t in inputs.flagship_docs(4, 200)
    )
    assert inputs.backfill_pages(3, 200) == inputs.backfill_pages(3, 200)
    assert inputs.backfill_pages(3, 200) != inputs.backfill_pages(4, 200)
    assert sorted(p[3] for p in inputs.backfill_pages(3, 200)) == sorted(
        p[3] for p in inputs.backfill_pages(4, 200)
    )


def test_flagship_docs_are_distinct():
    docs = inputs.flagship_docs(7, workloads.FLAGSHIP_DOCS)
    assert len({t for _, t in docs}) == len(docs)
    assert len({d for d, _ in docs}) == len(docs)


def test_backfill_corpus_shape():
    from uie_pytorch_spark.core.textnorm import max_predict_len

    pages = inputs.backfill_pages(11, 3000)
    n = len(pages)
    hot = sum(1 for p in pages if inputs.HOT_DOMAIN in p[0]) / n
    zh = sum(1 for p in pages if p[4] == "zh") / n
    root_window = max_predict_len(list(inputs.BACKFILL_SCHEMA), 512)
    multi = sum(1 for p in pages if len(p[3]) > root_window) / n
    assert hot == inputs.HOT_SHARE
    assert zh == inputs.ZH_SHARE
    assert multi == inputs.LONG_SHARE
    # exact copies: many pages share a text, which the dedup exchange folds
    assert len({p[3] for p in pages}) < 0.6 * n
    assert all(p[2] == b"<html><body>" + p[3].encode() + b"</body></html>" for p in pages)


def test_backfill_decodes_classification_rows():
    pages = inputs.backfill_pages(5, 30)
    docs = [(oracle.spark_xxhash64(p[0]), p[3]) for p in pages]
    eager = oracle.EagerExtraction(inputs.BACKFILL_SCHEMA, docs, "zh")
    assert sum(1 for t in eager.triples if t[6] is None) > 0
    assert 0 < eager.model_rows <= eager.chunks


def test_triple_digest_is_order_independent():
    rng = random.Random(0)
    rows = [
        (rng.randint(-2**63, 2**63 - 1), "s", 1, 3, "p", "o", None, None, rng.random(), rng.random())
        for _ in range(50)
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    assert oracle.triple_digest(rows) == oracle.triple_digest(shuffled)
    changed = rows[:-1] + [rows[-1][:9] + (rows[-1][9] + 0.01,)]
    assert oracle.triple_digest(changed) != oracle.triple_digest(rows)


def test_xxh64_known_vectors():
    assert oracle.xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert oracle.xxh64(b"abc", 0) == 0x44BC2CF5AD770999
    assert oracle.xxh64(b"Nobody inspects the spammish repetition", 0) == 0xFBCEA83C8A378BF1


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(re.fullmatch(r"[A-Za-z0-9_.-]+", n) for n in names)
    assert len(names) == len(set(names))
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)


class _FakeEngine:
    def extract(self, docs):
        time.sleep(0.05)
        return docs

    @staticmethod
    def triples(spans):
        return spans


def test_extraction_wall_includes_extract():
    wall, _, out = workloads.timed_extraction(_FakeEngine, "docs", lambda t: t)
    assert out == "docs"
    assert wall >= 0.05


class _FakeSc:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group


class _Target:
    def work(self):
        time.sleep(0.02)
        return 7


def test_tracer_spans_self_time_and_unwrap():
    sc = _FakeSc()
    tr = tracing.Tracer(sc, "t")
    orig = _Target.work
    tr.wrap(_Target, "work", "target.work")
    with tr.span("root"):
        assert _Target().work() == 7
        assert sc.props["spark.jobGroup.id"] == "t/0/root"
    tr.close()
    assert _Target.work is orig
    assert sc.props["spark.jobGroup.id"] is None
    root, child = tr.spans
    assert child["parent"] == root["id"] and child["name"] == "target.work"
    assert tr.self_time(root) == pytest.approx(
        (root["end"] - root["start"]) - (child["end"] - child["start"])
    )
    assert tr.self_time(child) >= 0.02


def test_results_from_different_hosts_are_not_compared():
    a = {"nproc": 4, "openblas_corename": "SkylakeX", "master": "local[4]"}
    assert tracing.comparable(a, dict(a)) == []
    assert tracing.comparable(a, {**a, "nproc": 32})
    assert tracing.comparable(a, {**a, "openblas_corename": "Haswell"})


def test_event_log_reader(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1400, "Failed": False,
                       "Accumulables": [{"Name": "data sent to Python workers", "Update": "64"},
                                        {"Name": "time to run Python workers", "Update": "5"}]},
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 10,
                                                    "Shuffle Records Written": 2},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 1000, "Completion Time": 1500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600,
         "Job Result": {"Result": "JobSucceeded"}},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    log = tracing.read_event_log(str(path))
    assert log["jobs"][0]["group"] == "g" and log["jobs"][0]["ok"]
    st = log["stages"][1]
    assert (st["tasks"], st["shuffle_bytes"], st["shuffle_records"], st["spill_bytes"]) == (1, 10, 2, 3)
    assert st["python"] and st["py_in"] == 64 and st["task_ms"] == [400]
