"""The workloads. Each one generates its inputs from the seed, computes
the expected output eagerly (outside any timed region), then runs the
program closed-loop — one job at a time — until ``seconds`` have
passed, checking every job's output.

``flagship`` first runs one untimed job, so its timed jobs run warm;
``kg_backfill`` times its first CLI run, as a ``spark-submit`` of the CLI
would run it. ``Run`` carries what a workload reports back: the walls of
its timed jobs, the operations attempted and failed, and the pieces the
traced run turns into per-layer metrics.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Dict, List

from perfbench import inputs, oracle

BACKFILL_BUCKETS = 1


@dataclass
class Run:
    walls: List[float] = field(default_factory=list)
    triples: List[int] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    cls_rows: int = 0
    report: Dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)


def timed_extraction(make_engine: Callable, docs, sink):
    """Wall of one extraction job, from before ``extract()`` — which
    already runs the stage jobs eagerly — until ``sink`` has consumed
    the triples. Returns (wall, engine, sink result)."""
    t0 = time.perf_counter()
    eng = make_engine()
    out = sink(type(eng).triples(eng.extract(docs)))
    return time.perf_counter() - t0, eng, out


def warm_up(workload, run: Run) -> bool:
    """Run the workload's untimed warm-up job when it has one: the first
    job after set-up pays the JIT warm-up of every plan the small set-up
    extraction did not run. The job is checked like any other."""
    if not workload.warm_up_job:
        return True
    warm = Run()
    ok = workload.rep(warm)
    run.attempted += warm.attempted
    run.failed += warm.failed
    run.report["warmup_wall_s"] = warm.walls
    return ok


def timed_run(workload, seconds: float) -> Run:
    """Closed loop: after the warm-up, run jobs until ``seconds`` have
    passed (at least one); stop early when a job raises."""
    run = Run()
    if warm_up(workload, run):
        end = time.perf_counter() + seconds
        while workload.rep(run) and time.perf_counter() < end:
            pass
    run.report["expected_triples"] = workload.digest[0]
    return run


# ---------------------------------------------------------------------
# flagship: distinct English documents, every chunk reaches the model
# ---------------------------------------------------------------------

FLAGSHIP_DOCS = 800


class Flagship:
    name = "flagship"
    schema, lang = inputs.FLAGSHIP_SCHEMA, "en"
    warm_up_job = True

    def __init__(self, spark, work: str, seed: int, pool):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.spark = spark
        rows = inputs.flagship_docs(seed, FLAGSHIP_DOCS)
        path = os.path.join(work, "documents.parquet")
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}), path
        )
        self.docs = spark.read.parquet(path)
        self.expected = oracle.EagerExtraction(inputs.FLAGSHIP_SCHEMA, rows, "en", pool)
        self.replays = [self.expected]
        self.digest = oracle.triple_digest(self.expected.triples)

    def rep(self, run: Run, tracer=None) -> bool:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from uie_pytorch_spark.engine import UIEConfig, UIEEngine

        obs = Observation()

        def make_engine():
            return UIEEngine(self.spark, inputs.FLAGSHIP_SCHEMA, UIEConfig(lang="en"))

        def sink(triples):
            with tracer.span("engine.sink") if tracer else contextlib.nullcontext():
                triples.observe(obs, *oracle.spark_digest_columns(F)).write.format(
                    "noop"
                ).mode("overwrite").save()

        run.attempted += 1
        try:
            with tracer.span("bench.rep") if tracer else contextlib.nullcontext():
                wall, eng, _ = timed_extraction(make_engine, self.docs, sink)
            got = obs.get
        except Exception:
            traceback.print_exc()
            run.fail("flagship job raised")
            return False
        eng.unpersist()
        run.walls.append(wall)
        run.triples.append(got["n"])
        run.cls_rows = got["cls"]
        if (got["n"], int(got["h"])) != self.digest:
            run.fail(f"flagship digest {got['n']}/{got['h']} != eager {self.digest}")
        return True



# ---------------------------------------------------------------------
# kg_backfill: web pages through the CLI (write path, lineage, KG)
# ---------------------------------------------------------------------

BACKFILL_PAGES = 48


class Backfill:
    name = "kg_backfill"
    schema, lang = inputs.BACKFILL_SCHEMA, "zh"
    warm_up_job = False

    def __init__(self, spark, work: str, seed: int, pool):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.spark = spark
        self.work = work
        self.outputs = 0
        rows = inputs.backfill_pages(seed, BACKFILL_PAGES)
        self.input = os.path.join(work, "pages")
        os.makedirs(self.input)
        cols = ("url", "warc_ts", "html", "text", "lang")
        types = (pa.string(), pa.timestamp("us"), pa.binary(), pa.string(), pa.string())
        pq.write_table(
            pa.table({c: pa.array([r[i] for r in rows], t) for i, (c, t) in enumerate(zip(cols, types))}),
            os.path.join(self.input, "part-0.parquet"),
        )
        # the CLI extracts bucket by bucket, so the eager run does too
        by_bucket: Dict[int, list] = {}
        for r in rows:
            by_bucket.setdefault(oracle.bucket_of(r[0], BACKFILL_BUCKETS), []).append(
                (oracle.spark_xxhash64(r[0]), r[3])
            )
        self.bucket_rows = {k: len(v) for k, v in by_bucket.items()}
        self.expected = {
            k: oracle.EagerExtraction(inputs.BACKFILL_SCHEMA, docs, "zh", pool)
            for k, docs in sorted(by_bucket.items())
        }
        self.replays = list(self.expected.values())
        triples = [t for e in self.replays for t in e.triples]
        self.digest = oracle.triple_digest(triples)
        self.entities = oracle.eager_canonicalize(
            [t[1] for t in triples] + [t[5] for t in triples]
        )
        canonical = {surface: cid for _, surface, _, cid in self.entities}
        self.edges = oracle.eager_edges(triples, canonical)

    def rep(self, run: Run, tracer=None) -> bool:
        from uie_pytorch_spark import cli

        self.outputs += 1
        out = os.path.join(self.work, f"out-{self.outputs}")
        argv = [
            "--input", self.input, "--output", out, "--run-id", "backfill",
            "--schema", json.dumps(inputs.BACKFILL_SCHEMA, ensure_ascii=False),
            "--buckets", str(BACKFILL_BUCKETS),
        ]
        run.attempted += 1 + BACKFILL_BUCKETS
        printed = io.StringIO()
        try:
            with tracer.span("cli.main") if tracer else contextlib.nullcontext():
                t0 = time.perf_counter()
                with contextlib.redirect_stdout(printed):
                    cli.main(argv)
                wall = time.perf_counter() - t0
        except (Exception, SystemExit):
            traceback.print_exc()
            run.fail("kg_backfill CLI run raised")
            run.failed += BACKFILL_BUCKETS
            return False
        run.walls.append(wall)
        run.triples.append(json.loads(printed.getvalue().strip().splitlines()[-1])["triples"])
        self.check(out, run)
        return True

    def check(self, out: str, run: Run) -> None:
        """Compare the committed outputs with the eager computation."""
        import pyarrow.parquet as pq

        tri = pq.read_table(os.path.join(out, "triples")).select(list(oracle.DIGEST_COLS))
        rows = list(zip(*(tri.column(c).to_pylist() for c in oracle.DIGEST_COLS)))
        run.cls_rows = sum(1 for r in rows if r[6] is None)
        ok = oracle.triple_digest(rows) == self.digest == (run.triples[-1], self.digest[1])
        ent = pq.read_table(os.path.join(out, "entities")).to_pylist()
        ok &= {
            (e["mention_id"], e["surface"], e["surface_norm"], e["canonical_surface_id"])
            for e in ent
        } == self.entities and len(ent) == len(self.entities)
        edges = pq.read_table(os.path.join(out, "edges")).to_pylist()
        ok &= {
            (e["subj_id"], e["pred"], e["obj_id"], e["n_mentions"], e["n_docs"],
             round(e["mean_obj_prob"], 9))
            for e in edges
        } == self.edges and len(edges) == len(self.edges)
        if not ok:
            run.fail("kg_backfill outputs differ from the eager computation")
        lineage = pq.read_table(os.path.join(out, "lineage")).to_pylist()
        for k in range(BACKFILL_BUCKETS):
            want = (self.bucket_rows.get(k, 0), len(self.expected[k].triples) if k in self.expected else 0)
            got = [(r["rows_in"], r["triples_out"]) for r in lineage
                   if r["part_key"] == k and r["status"] == "done"]
            if got != [want]:
                run.fail(f"bucket {k}: lineage {got} != expected {want}")
        run.report.setdefault("bucket_commit_s", []).extend(r["wall_ms"] / 1000 for r in lineage)
        run.report["lineage_rows_in"] = [r["rows_in"] for r in lineage]
        run.report["entities_out"] = len({e["canonical_surface_id"] for e in ent})
        run.report["mentions_in"] = len(ent)
        run.report["edges_out"] = len(edges)
        run.report["files_written"], run.report["bytes_written"] = _tree_size(
            os.path.join(out, "triples"), os.path.join(out, "lineage")
        )



def _tree_size(*roots: str):
    files = size = 0
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


WORKLOADS = {w.name: w for w in (Flagship, Backfill)}
