"""Per-layer metrics of a traced run, from the spans the benchmark
recorded around the program's public calls, the Spark event log of the
benchmark's session, the engines' own counters and an eager timing of
the kernel on a sample of the workload's model inputs.

``PER_LAYER`` is what every workload reports (it is BENCHMARK.json's
``per_layer`` list). Layers that only some workloads run — web-page
sources, lineage, canonicalization, the KG graph — go to the trace
report instead.
"""

from __future__ import annotations

import random
import statistics
import time
from typing import Dict, List

# (name, unit, better)
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.first_extract_s", "s", "lower"),
    ("engine.extract_s", "s", "lower"),
    ("engine.sink_s", "s", "lower"),
    ("engine.first_job_s", "s", "lower"),
    ("engine.infer_stage_s", "s", "lower"),
    ("engine.unattributed_s", "s", "lower"),
    ("engine.jobs", "count", "lower"),
    ("engine.stages", "count", "lower"),
    ("engine.tasks", "count", "lower"),
    ("engine.chunks", "count", "lower"),
    ("engine.model_rows", "count", "lower"),
    ("engine.decoded_spans", "count", "lower"),
    ("engine.cls_rows", "count", "lower"),
    ("engine.dedup_ratio", "ratio", "lower"),
    ("engine.shuffle_write_bytes", "bytes", "lower"),
    ("engine.shuffle_records", "count", "lower"),
    ("engine.spill_bytes", "bytes", "lower"),
    ("engine.python_bytes_in", "bytes", "lower"),
    ("engine.python_bytes_out", "bytes", "lower"),
    ("engine.infer_task_skew", "ratio", "lower"),
    ("engine.failed_tasks", "count", "lower"),
    ("core.tokenize_ms_per_row", "ms", "lower"),
    ("core.forward_ms_per_row", "ms", "lower"),
    ("core.decode_ms_per_row", "ms", "lower"),
    ("core.pad_ratio", "ratio", "higher"),
    ("core.forward_gflop_per_row", "GFLOP", "lower"),
    ("core.kernel_share", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"),
]
UNITS = {name: unit for name, unit, _ in PER_LAYER}

# span name -> layer; generic spans (df.count, write.parquet) take their
# parent's layer.
_GENERIC = ("df.count", "write.parquet")


def layer_of(span: dict, by_id: Dict[int, dict]) -> str:
    while span["name"] in _GENERIC and span["parent"] is not None:
        span = by_id[span["parent"]]
    return span["name"].split(".", 1)[0]


def kernel_timings(pairs: List[tuple], seed: int, rows: int = 256, repeats: int = 3) -> Dict:
    """Eager per-row cost of tokenize / forward / decode on a seeded
    sample of distinct (prompt, chunk) model inputs."""
    from uie_pytorch_spark.core.model import DEFAULT_SEED, PAD_BUCKET, forward_bucketed, get_model
    from uie_pytorch_spark.core.spans import char_spans_to_results, decode_example
    from uie_pytorch_spark.core.tokenizer import encode_batch

    sample = random.Random(seed).sample(pairs, min(rows, len(pairs)))
    prompts = [p for p, _ in sample]
    chunks = [c for _, c in sample]
    model = get_model(DEFAULT_SEED)
    n = len(sample)
    tok, fwd, dec = [], [], []
    for _ in range(repeats):
        t0 = time.perf_counter()
        enc = encode_batch(prompts, chunks, max_seq_len=512, mode="char")
        t1 = time.perf_counter()
        start, end = forward_bucketed(
            model, enc["input_ids"], enc["token_type_ids"], enc["attention_mask"]
        )
        t2 = time.perf_counter()
        for b in range(n):
            char_spans_to_results(
                decode_example(start[b], end[b], enc["offset_mapping"][b], 0.5),
                chunks[b], prompts[b],
            )
        t3 = time.perf_counter()
        tok.append(t1 - t0)
        fwd.append(t2 - t1)
        dec.append(t3 - t2)
    real = [int(x) for x in enc["attention_mask"].sum(axis=1)]
    max_pos = model.pos_emb.shape[0]
    padded = [min(-(-r // PAD_BUCKET) * PAD_BUCKET, max_pos) for r in real]
    h, ffn = model.h, model.blocks[0]["w1"].shape[1]
    flops = [
        model.layers * (8 * L * h * h + 4 * L * L * h + 4 * L * h * ffn) + 4 * L * h
        for L in padded
    ]
    ms = 1000.0 / n
    return {
        "core.tokenize_ms_per_row": statistics.median(tok) * ms,
        "core.forward_ms_per_row": statistics.median(fwd) * ms,
        "core.decode_ms_per_row": statistics.median(dec) * ms,
        "core.pad_ratio": sum(real) / sum(padded),
        "core.forward_gflop_per_row": sum(flops) / n / 1e9,
        "core.sample_rows": n,
    }


def layer_metrics(tracer, events: Dict, run, expected, kernel: Dict, cores: int):
    """(every PER_LAYER metric except session.* and trace.overhead_s,
    report-only extras of the layers this run went through)."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    jobs_by_layer: Dict[str, List[int]] = {}
    for s in spans:
        jobs_by_layer.setdefault(layer_of(s, by_id), []).extend(s["job_ids"])

    def stage_stats(job_ids: List[int]) -> Dict:
        stage_ids = {
            sid for j in job_ids if j in events["jobs"]
            for sid in events["jobs"][j]["stages"]
            if events["stages"].get(sid, {}).get("tasks")
        }
        st = [events["stages"][sid] for sid in stage_ids]
        infer = [s for s in st if s["python"]]
        task_ms = [t for s in infer for t in s["task_ms"]]
        return {
            "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "shuffle_write_bytes": sum(s["shuffle_bytes"] for s in st),
            "shuffle_records": sum(s["shuffle_records"] for s in st),
            "spill_bytes": sum(s["spill_bytes"] for s in st),
            "python_bytes_in": sum(s["py_in"] for s in st),
            "python_bytes_out": sum(s["py_out"] for s in st),
            "failed_tasks": sum(s["failed_tasks"] for s in st),
            "infer_stage_s": sum((s["end_ms"] - s["submit_ms"]) / 1000 for s in infer),
            "infer_task_skew": (
                max(task_ms) / statistics.median(task_ms)
                if task_ms and statistics.median(task_ms) > 0 else 1.0
            ),
        }

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    engine_jobs = jobs_by_layer.get("engine", [])
    first_job = 0.0
    for s in spans:
        if s["name"] == "engine.extract":
            submits = [events["jobs"][j]["submit_ms"] for j in s["job_ids"] if j in events["jobs"]]
            if submits:
                first_job += min(submits) / 1000 - s["start"]
    root = next(s for s in spans if s["parent"] is None)
    chunks = sum(e.chunks for e in expected)
    model_rows = sum(e.model_rows for e in expected)
    counted_rows = sum(eng.metrics["inference_rows"] for eng in tracer.engines)
    m = {
        "engine.extract_s": total("engine.extract"),
        "engine.sink_s": total("engine.sink"),
        "engine.first_job_s": first_job,
        "engine.unattributed_s": tracer.self_time(root),
        "engine.jobs": len(engine_jobs),
        "engine.chunks": chunks,
        "engine.model_rows": counted_rows,
        "engine.decoded_spans": sum(eng.metrics["decoded_spans"] for eng in tracer.engines),
        "engine.cls_rows": run.cls_rows,
        "engine.dedup_ratio": model_rows / chunks if chunks else 1.0,
    }
    for k, v in stage_stats(engine_jobs).items():
        m[f"engine.{k}"] = v
    m.update({k: v for k, v in kernel.items() if k in UNITS})
    kernel_ms = sum(kernel[f"core.{p}_ms_per_row"] for p in ("tokenize", "forward", "decode"))
    m["core.kernel_share"] = kernel_ms * counted_rows / 1000 / (cores * run.walls[-1])

    extras = {
        "engine.model_rows_eager": model_rows,
        "engine.decoded_spans_eager": sum(e.decoded_spans for e in expected),
        "core.sample_rows": kernel["core.sample_rows"],
        "span_self_s": _self_times(tracer),
    }
    if any(s["name"] == "lineage.run" for s in spans):
        extras.update(_kg_extras(tracer, spans, by_id, jobs_by_layer, run))
    return m, extras


def _self_times(tracer) -> Dict[str, float]:
    out: Dict[str, float] = {}
    for s in tracer.spans:
        out[s["name"]] = out.get(s["name"], 0.0) + tracer.self_time(s)
    return out


def _kg_extras(tracer, spans, by_id, jobs_by_layer, run) -> Dict:
    """sources / lineage / canonicalize / graph metrics of a kg_backfill
    rep (the CLI run under span ``cli.main``)."""
    cli = next(s for s in spans if s["name"] == "cli.main")
    kids = [s for s in spans if s["parent"] == cli["id"]]
    check = next(
        (b for a, b in zip(kids, kids[1:]) if a["name"] == "sources.extract_text" and b["name"] == "df.count"),
        None,
    )
    lin = next(s for s in spans if s["name"] == "lineage.run")
    # a bucket runs from its extract() call to the end of its lineage row
    starts = [s["start"] for s in spans if s["name"] == "engine.extract" and s["start"] >= lin["start"]]
    ends = [s["end"] for s in spans if s["name"] == "lineage.append"]
    lineage_self = sum(
        tracer.self_time(s) for s in spans if layer_of(s, by_id) == "lineage"
    )
    rows_in = run.report.get("lineage_rows_in") or [0]

    def dur(*names):
        return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

    return {
        "sources.invariant_check_s": check["end"] - check["start"] if check else 0.0,
        "lineage.run_s": lin["end"] - lin["start"],
        "lineage.self_s": lineage_self,
        "lineage.jobs": len(jobs_by_layer.get("lineage", [])),
        "lineage.files_written": run.report.get("files_written"),
        "lineage.bytes_written": run.report.get("bytes_written"),
        "lineage.bucket_rows_skew": max(rows_in) / max(statistics.median(rows_in), 1),
        "lineage.bucket_commit_s": statistics.median(e - s for s, e in zip(starts, ends)) if ends else 0.0,
        "canonicalize.s": dur("canonicalize.mentions", "canonicalize.write"),
        "canonicalize.jobs": len(jobs_by_layer.get("canonicalize", [])),
        "canonicalize.mentions_in": run.report.get("mentions_in"),
        "canonicalize.entities_out": run.report.get("entities_out"),
        "graph.edges_s": dur("graph.surface_map", "graph.entity_edges", "graph.write"),
        "graph.jobs": len(jobs_by_layer.get("graph", [])),
        "graph.edges_out": run.report.get("edges_out"),
    }
