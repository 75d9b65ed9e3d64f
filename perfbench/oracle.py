"""The correctness gate: an eager, single-machine computation of what
each workload must output, built only from the program's pure-Python
kernel (``uie_pytorch_spark.core``) and schema parser — never from its
Spark code.

* ``EagerExtraction`` replays the engine's stage-by-stage dataflow
  (prompt expansion, fixed windows, dedup of (prompt, chunk) pairs,
  classification vote) over plain Python lists; the model runs once per
  distinct (prompt, chunk) pair, spread over a small process pool.
* ``triple_digest`` is an order-independent multiset digest (row count
  plus the sum of per-row XXH64 hashes) that Spark can compute inside
  the timed job through ``DataFrame.observe``.
* ``eager_canonicalize`` / ``eager_edges`` replay kg.canonicalize and
  kg.graph for the kg_backfill outputs.
"""

from __future__ import annotations

import hashlib
import math
import re
from typing import Dict, Iterable, List, Sequence, Set, Tuple

# ---------------------------------------------------------------------
# XXH64 (public xxHash spec). Spark's xxhash64() on one string column is
# XXH64(utf8 bytes, seed=42) read as a signed 64-bit integer.
# ---------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_MASK = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _acc(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _MASK, 31) * _P1) & _MASK


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    pos = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _MASK,
            (seed + _P2) & _MASK,
            seed & _MASK,
            (seed - _P1) & _MASK,
        ]
        while pos + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[pos + 8 * j : pos + 8 * j + 8], "little")
                v[j] = _acc(v[j], lane)
            pos += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _MASK
        for lane in v:
            h = ((h ^ _acc(0, lane)) * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while pos + 8 <= n:
        h ^= _acc(0, int.from_bytes(data[pos : pos + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        pos += 8
    if pos + 4 <= n:
        h ^= (int.from_bytes(data[pos : pos + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        pos += 4
    while pos < n:
        h ^= (data[pos] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        pos += 1
    h = ((h ^ (h >> 33)) * _P2) & _MASK
    h = ((h ^ (h >> 29)) * _P3) & _MASK
    return h ^ (h >> 32)


def spark_xxhash64(s: str) -> int:
    """``F.xxhash64(<string column>)`` for one value."""
    h = xxh64(s.encode("utf-8"), 42)
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(url: str, buckets: int) -> int:
    """kg.lineage.salted_partition_key for one url: pmod(xxhash64(host,
    pmod(xxhash64(url), 4)), buckets), where a bigint column hashes as
    its 8 little-endian bytes seeded with the running hash."""
    from urllib.parse import urlsplit

    salt = spark_xxhash64(url) % 4
    h = xxh64(urlsplit(url).netloc.encode("utf-8"), 42)
    h = xxh64(salt.to_bytes(8, "little", signed=True), h)
    return (h - (1 << 64) if h >= (1 << 63) else h) % buckets


# ---------------------------------------------------------------------
# Triple digest
# ---------------------------------------------------------------------

# Column order of UIEEngine.triples(); probabilities enter the digest as
# floor(prob * 1e6), which both Spark and Python compute bit-identically.
DIGEST_COLS = (
    "doc_id", "subj_text", "subj_start", "subj_end", "pred",
    "obj_text", "obj_start", "obj_end", "subj_prob", "obj_prob",
)
_PROB_COLS = ("subj_prob", "obj_prob")
SEP = "\x1f"
NULL = "~"


def row_key(row: Sequence) -> str:
    parts = []
    for name, v in zip(DIGEST_COLS, row):
        if v is None:
            parts.append(NULL)
        elif name in _PROB_COLS:
            parts.append(str(math.floor(v * 1e6)))
        else:
            parts.append(str(v))
    return SEP.join(parts)


def triple_digest(rows: Iterable[Sequence]) -> Tuple[int, int]:
    """(row count, sum of row hashes): equal for equal multisets of
    rows, whatever their order."""
    n = 0
    total = 0
    for r in rows:
        n += 1
        total += spark_xxhash64(row_key(r))
    return n, total


def spark_digest_columns(F):
    """The same digest as ``DataFrame.observe`` aggregates (``F`` is
    ``pyspark.sql.functions``); also counts classification triples."""
    parts = []
    for name in DIGEST_COLS:
        c = F.col(name)
        if name in _PROB_COLS:
            c = F.floor(c * F.lit(1e6))
        parts.append(F.coalesce(c.cast("string"), F.lit(NULL)))
    h = F.xxhash64(F.concat_ws(SEP, *parts))
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("h"),
        F.sum(F.col("obj_start").isNull().cast("long")).alias("cls"),
    ]


# ---------------------------------------------------------------------
# Eager extraction
# ---------------------------------------------------------------------

_CFG = {"max_seq_len": 512, "position_prob": 0.5, "tokenizer": "char"}


def _infer_shard(pairs: List[Tuple[str, str]]):
    """Pool task: model records for distinct (prompt, chunk) pairs."""
    from uie_pytorch_spark.core.infer import infer_decode_batch
    from uie_pytorch_spark.core.model import DEFAULT_SEED, get_model

    return infer_decode_batch(
        get_model(DEFAULT_SEED),
        [p for p, _ in pairs],
        [c for _, c in pairs],
        **_CFG,
    )


def run_model(pairs: List[Tuple[str, str]], pool=None, shards: int = 16) -> Dict:
    """{(prompt, chunk): records} for distinct pairs, computed in
    ``pool`` (a multiprocessing pool) when given."""
    if pool is None:
        return dict(zip(pairs, _infer_shard(pairs)))
    parts = [pairs[i::shards] for i in range(shards)]
    out = {}
    for part, recs in zip(parts, pool.map(_infer_shard, parts)):
        out.update(zip(part, recs))
    return out


class EagerExtraction:
    """Triples of ``schema`` over ``docs`` [(doc_id, text)], plus the row
    flow the engine should see: chunk rows and distinct model rows."""

    def __init__(self, schema, docs: Sequence[Tuple[int, str]], lang: str, pool=None):
        from uie_pytorch_spark.core.textnorm import dbc2sbc, max_predict_len, split_windows
        from uie_pytorch_spark.schema import build_tree

        self.chunks = 0
        self.model_rows = 0
        self.decoded_spans = 0
        self.model_inputs: List[Tuple[str, str]] = []
        self.triples: List[tuple] = []
        msl = _CFG["max_seq_len"]
        # frontier: (node, [(doc_id, text, parent result dict | None)])
        root = build_tree(schema)
        queue = [(c, [(d, t, None) for d, t in docs]) for c in root.children]
        while queue:
            node, owners = queue.pop(0)
            examples = []
            for doc_id, text, parent in owners:
                if parent is None:
                    prompt = dbc2sbc(node.name)
                elif lang == "en":
                    prefix, suffix = node.en_prompt_parts()
                    head = prefix if suffix else node.name
                    prompt = dbc2sbc(head + " of " + parent["text"] + (suffix or ""))
                else:
                    prompt = dbc2sbc(parent["text"] + "的" + node.name)
                examples.append((doc_id, text, parent, prompt))
            if not examples:
                continue
            mpl = max_predict_len([e[3] for e in examples], msl)
            windows = []
            for _, text, _, prompt in examples:
                offs, off = [], 0
                for w in split_windows(text, mpl):
                    offs.append((w, off))
                    off += len(w)
                windows.append(offs)
            pairs = sorted({(e[3], w) for e, ws in zip(examples, windows) for w, _ in ws})
            self.chunks += sum(len(ws) for ws in windows)
            self.model_rows += len(pairs)
            self.model_inputs.extend(pairs)
            recs = run_model(pairs, pool)
            self.decoded_spans += sum(len(r) for r in recs.values())
            next_owners = []
            for (doc_id, text, parent, prompt), ws in zip(examples, windows):
                for item in _merge(
                    [recs[(prompt, w)] for w, _ in ws], [off for _, off in ws]
                ):
                    if parent is not None:
                        self.triples.append((
                            doc_id, parent["text"], parent["start"], parent["end"],
                            node.name, item["text"], item["start"], item["end"],
                            parent["prob"], item["prob"],
                        ))
                    next_owners.append((doc_id, text, item))
            for child in node.children:
                queue.append((child, next_owners))


def _merge(chunk_records: List[List[dict]], offsets: List[int]) -> List[dict]:
    """One example's result items from its per-window records: spans
    shifted by the window offset; the first classification record of
    each window votes, the winner is max by (count, probability sum),
    ties to the earliest, and reports the mean probability."""
    spans = []
    vote: Dict[str, list] = {}
    for recs, off in zip(chunk_records, offsets):
        voted = False
        for r in recs:
            if r["is_cls"]:
                if voted:
                    continue
                voted = True
                v = vote.setdefault(r["text"], [0, 0.0])
                v[0] += 1
                v[1] += r["prob"]
            else:
                spans.append({
                    "text": r["text"], "start": r["start"] + off,
                    "end": r["end"] + off, "prob": r["prob"],
                })
    if vote:
        text, (cnt, total) = max(vote.items(), key=lambda kv: kv[1])
        spans.append({"text": text, "start": None, "end": None, "prob": total / cnt})
    return spans


# ---------------------------------------------------------------------
# Eager KG: canonicalization (normalize -> MinHash LSH -> Jaccard verify
# -> connected components -> min id) and the entity edge table.
# ---------------------------------------------------------------------

_SHINGLE = 3
_PERMS = 12
_BANDS = 4
_JACCARD = 0.6


def _normalize(s: str) -> str:
    from uie_pytorch_spark.core.textnorm import DBC_FROM, DBC_TO

    table = str.maketrans(DBC_FROM + "　", DBC_TO + " ")
    return re.sub(r"\s+", " ", s.translate(table).lower()).strip()


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def eager_canonicalize(surfaces: Iterable[str]) -> Set[tuple]:
    """{(mention_id, surface, surface_norm, canonical_surface_id)} for
    the distinct surfaces, as kg.canonicalize.canonicalize_mentions
    computes with mention_id = xxhash64(surface)."""
    from uie_pytorch_spark.operators.hashing import MINHASH_COEFFS, MINHASH_PRIME

    surfaces = set(surfaces)
    norm_of = {s: _normalize(s) for s in surfaces}
    norms = sorted(set(norm_of.values()))
    sid = {n: spark_xxhash64(n) for n in norms}
    shingles = {
        n: {n[i : i + _SHINGLE] for i in range(max(len(n) - _SHINGLE + 1, 1))}
        for n in norms
    }
    buckets: Dict[tuple, List[str]] = {}
    rows = _PERMS // _BANDS
    for n in norms:
        hs = [_h60(g) & 0xFFFFFFFF for g in shingles[n]]
        sig = [min((a * h + b) % MINHASH_PRIME for h in hs) for a, b in MINHASH_COEFFS[:_PERMS]]
        for band in range(_BANDS):
            key = ",".join(str(m) for m in sig[band * rows : (band + 1) * rows])
            buckets.setdefault((band, hashlib.md5(key.encode()).hexdigest()), []).append(n)
    parent: Dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for members in buckets.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                sa, sb = shingles[a], shingles[b]
                inter = len(sa & sb)
                if inter and inter / (len(sa) + len(sb) - inter) >= _JACCARD:
                    ra, rb = find(sid[a]), find(sid[b])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    return {
        (spark_xxhash64(s), s, norm_of[s], find(sid[norm_of[s]]))
        for s in surfaces
    }


def eager_edges(triples: Sequence[tuple], canonical: Dict[str, int]) -> Set[tuple]:
    """{(subj_id, pred, obj_id, n_mentions, n_docs, mean_obj_prob)} as
    kg.graph.entity_edges computes; the mean is rounded to 9 places."""
    groups: Dict[tuple, list] = {}
    for t in triples:
        doc_id, subj, pred, obj, obj_prob = t[0], t[1], t[4], t[5], t[9]
        if subj in canonical and obj in canonical:
            g = groups.setdefault((canonical[subj], pred, canonical[obj]), [0, set(), 0.0])
            g[0] += 1
            g[1].add(doc_id)
            g[2] += obj_prob
    return {
        (s, p, o, n, len(docs), round(total / n, 9))
        for (s, p, o), (n, docs, total) in groups.items()
    }
