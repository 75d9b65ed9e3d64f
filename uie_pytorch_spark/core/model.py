"""TinyUIE — a seed-frozen, pure-NumPy stand-in for the UIE encoder.

The reference model is an ERNIE-style BERT encoder with two per-token
sigmoid pointer heads (/root/reference/model.py:75-77, 165-170). Torch
and pretrained weights are unavailable in this environment, so both
the Spark engine and the eager parity oracle share THIS deterministic
miniature of the same architecture: token+position+segment embeddings,
pre-computed from a fixed seed, N transformer layers (masked MHSA +
GELU FFN, post-LN), and sigmoid start/end heads. Swapping in a real
UIE checkpoint later only replaces this module's ``forward`` — every
other stage of the pipeline (tokenize, decode, join, vote, merge) is
model-agnostic.

Properties the pipeline depends on (unit-tested):

* Deterministic: weights are a pure function of ``seed``; every
  executor regenerates them locally (~8 MB) — nothing to ship.
* Bitwise batch-invariant via BUCKETED padding: BLAS reassociates
  reductions differently for different K (= padded sequence length),
  so plain longest-in-batch padding is NOT bitwise stable. Instead
  ``forward_bucketed`` pads every row to a length that is a pure
  function of the row itself (next multiple of PAD_BUCKET) and runs
  one forward per bucket; masked attention (additive -1e9, exp
  underflows to exactly 0.0) makes the bucket pad columns exact
  zeros. Result: a row's probabilities are byte-identical no matter
  how Spark's Arrow batching groups rows — unit-tested.
* Sparse firing: pointer-head biases are negative so only a small
  fraction of positions clear the 0.5 threshold — keeping synthetic
  extraction volumes realistic.
"""

from __future__ import annotations

import threading
from typing import Dict, Tuple

import numpy as np

from .tokenizer import VOCAB_SIZE

DEFAULT_SEED = 20240816
PAD_BUCKET = 32
# forward_bucketed sub-batch cap: rows * L^2 score elements per call
# (~2 MB of f32 scores). Splits are along the GEMM M dimension only,
# so the value is a pure speed knob — it can never change outputs.
SCORE_BUDGET = 500_000


class TinyUIE:
    def __init__(
        self,
        seed: int = DEFAULT_SEED,
        hidden: int = 64,
        layers: int = 2,
        # single head: same FLOPs as multi-head at equal hidden size,
        # but square GEMM shapes (dk=64 not 16) and 4x less softmax
        # memory traffic -> ~2.8x faster per row (measured); the
        # weight stream is head-count independent, and a real UIE
        # checkpoint swap replaces forward() wholesale anyway.
        heads: int = 1,
        ffn: int = 128,
        max_pos: int = 512,
        head_bias: float = -2.8,
    ):
        self.seed = seed
        self.h = hidden
        self.layers = layers
        self.heads = heads
        self.dk = hidden // heads
        rng = np.random.default_rng(seed)

        def w(*shape, scale=0.05):
            return (rng.standard_normal(shape) * scale).astype(np.float32)

        self.tok_emb = w(VOCAB_SIZE, hidden, scale=0.1)
        self.pos_emb = w(max_pos, hidden, scale=0.1)
        self.seg_emb = w(2, hidden, scale=0.1)
        self.blocks = []
        for _ in range(layers):
            self.blocks.append(
                {
                    "wq": w(hidden, hidden),
                    "wk": w(hidden, hidden),
                    "wv": w(hidden, hidden),
                    "wo": w(hidden, hidden),
                    "ln1_g": np.ones(hidden, dtype=np.float32),
                    "ln1_b": np.zeros(hidden, dtype=np.float32),
                    "w1": w(hidden, ffn),
                    "b1": np.zeros(ffn, dtype=np.float32),
                    "w2": w(ffn, hidden),
                    "b2": np.zeros(hidden, dtype=np.float32),
                    "ln2_g": np.ones(hidden, dtype=np.float32),
                    "ln2_b": np.zeros(hidden, dtype=np.float32),
                }
            )
        self.w_start = w(hidden, 1, scale=0.2)
        self.b_start = np.float32(head_bias)
        self.w_end = w(hidden, 1, scale=0.2)
        self.b_end = np.float32(head_bias)

    @staticmethod
    def _ln(x: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
        """LayerNorm, IN PLACE on ``x`` (callers pass a residual sum
        they no longer need). Bitwise-identical to the textbook
        ``((x - mu) / sqrt(var + eps)) * g + b``: every rewrite below
        relies only on IEEE commutativity of +/* (exact), never on
        reassociation — this kernel is memory-bandwidth-bound at high
        worker counts, and the temporaries were ~1/3 of its DRAM
        traffic."""
        mu = x.mean(axis=-1, keepdims=True)
        s = x.var(axis=-1, keepdims=True)
        s += np.float32(1e-5)
        np.sqrt(s, out=s)
        x -= mu
        x /= s
        x *= g
        x += b
        return x

    @staticmethod
    def _gelu(x: np.ndarray) -> np.ndarray:
        """tanh-GELU, two allocations instead of eight. Bitwise-equal
        to ``0.5 * x * (1 + tanh(c * (x + 0.044715*x*x*x)))`` under
        left-association: scalar*x == x*scalar and a+b == b+a are
        EXACT in IEEE; no grouping is changed."""
        c = np.float32(0.7978845608028654)  # sqrt(2/pi)
        t = x * np.float32(0.044715)   # (0.044715*x)
        t *= x                          # (0.044715*x)*x
        t *= x                          # ((0.044715*x)*x)*x
        t += x                          # x + cubic  (commutative)
        t *= c                          # c * (...)  (commutative)
        np.tanh(t, out=t)
        t += np.float32(1.0)            # 1 + tanh   (commutative)
        u = x * np.float32(0.5)         # (0.5*x)
        u *= t                          # (0.5*x) * (1 + tanh(...))
        return u

    def forward(
        self,
        input_ids: np.ndarray,
        token_type_ids: np.ndarray,
        attention_mask: np.ndarray,
    ) -> Tuple[np.ndarray, np.ndarray]:
        """(B, L) int64 inputs -> (start_prob, end_prob) float32 (B, L).

        Mirrors the reference forward contract (model.py:165-170):
        sigmoid per-token start/end probabilities.
        """
        B, L = input_ids.shape
        h = self.h
        # embedding sum built in place on the gather's fresh buffer
        # ((tok + pos) + seg, same grouping as the naive expression)
        x = self.tok_emb[input_ids]
        x += self.pos_emb[:L][None, :, :]
        x += self.seg_emb[token_type_ids]

        # additive key mask: 0 for real tokens, -1e9 for pads (exp -> 0.0)
        # single-head shape (B, 1, L) broadcasts over query positions;
        # multi-head (B, 1, 1, L) additionally broadcasts over heads
        one_head = self.heads == 1
        mask_shape = (
            attention_mask[:, None, :]
            if one_head
            else attention_mask[:, None, None, :]
        )
        neg = np.where(mask_shape == 0, np.float32(-1e9), np.float32(0.0))

        inv_sqrt_dk = np.float32(1.0 / np.sqrt(self.dk))
        # Every (B, L, h) @ (h, *) projection runs as ONE 2D GEMM over
        # the flattened (B*L, h) rows: numpy's stacked matmul would
        # issue B small per-slice GEMM calls instead. GEMM output rows
        # are computed independently (the same row-independence the
        # score-budget sub-batching in forward_bucketed relies on), so
        # flattening only changes M, never the K-reduction order —
        # bitwise-identical, verified in scripts/kernel_bench.py and
        # pinned by the frozen goldens.
        x2 = x.reshape(B * L, h)
        for blk in self.blocks:
            q = x2 @ blk["wq"]
            k = x2 @ blk["wk"]
            v = x2 @ blk["wv"]
            if one_head:
                # (B, L, dk): skip the heads axis and its transposes —
                # scores @ v then lands directly in (B, L, h) layout
                qh = q.reshape(B, L, h)
                kh = k.reshape(B, L, h)
                vh = v.reshape(B, L, h)
                scores = qh @ kh.transpose(0, 2, 1)
            else:
                def split(t):
                    return t.reshape(B, L, self.heads, self.dk).transpose(
                        0, 2, 1, 3
                    )

                qh, kh, vh = split(q), split(k), split(v)
                scores = qh @ kh.transpose(0, 1, 3, 2)
            # softmax computed IN PLACE — the (B, heads, L, L) score
            # tensor dominates memory traffic at L=512; fresh arrays
            # per step would double DRAM bandwidth, which is what caps
            # many-core scaling of this kernel
            scores *= inv_sqrt_dk
            scores += neg
            m = scores.max(axis=-1, keepdims=True)
            scores -= m
            np.exp(scores, out=scores)
            denom = scores.sum(axis=-1, keepdims=True)
            scores /= denom
            if one_head:
                ctx = (scores @ vh).reshape(B * L, h)
            else:
                ctx = (
                    (scores @ vh)
                    .transpose(0, 2, 1, 3)
                    .reshape(B * L, h)
                )
            # residuals accumulate in place ON the fresh matmul output
            # (x + ctx@wo == ctx@wo + x, commutative-exact); _ln then
            # normalizes that buffer in place
            r = ctx @ blk["wo"]
            r += x2
            x2 = self._ln(r, blk["ln1_g"], blk["ln1_b"])
            ff = x2 @ blk["w1"]
            ff += blk["b1"]
            ff = self._gelu(ff) @ blk["w2"]
            ff += blk["b2"]
            ff += x2
            x2 = self._ln(ff, blk["ln2_g"], blk["ln2_b"])

        start_prob = _sigmoid(
            (x2 @ self.w_start[:, 0]).reshape(B, L) + self.b_start
        )
        end_prob = _sigmoid(
            (x2 @ self.w_end[:, 0]).reshape(B, L) + self.b_end
        )
        # the reference never masks pad positions (its trailing-pad trim
        # at uie_predictor.py:501-504 is dead code); we zero them on BOTH
        # the Spark and oracle sides — documented symmetric deviation
        # that removes pad-garbage spans.
        mask = attention_mask.astype(np.float32)
        special = (input_ids == 1) | (input_ids == 2)  # CLS/SEP
        keep = mask * (~special).astype(np.float32)
        return (start_prob * keep).astype(np.float32), (end_prob * keep).astype(np.float32)


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return (np.float32(1.0) / (np.float32(1.0) + np.exp(-x))).astype(np.float32)


def _bucket_len(n: int, max_pos: int) -> int:
    b = ((max(n, 1) + PAD_BUCKET - 1) // PAD_BUCKET) * PAD_BUCKET
    return min(b, max_pos)


def forward_bucketed(
    model: TinyUIE,
    input_ids: np.ndarray,
    token_type_ids: np.ndarray,
    attention_mask: np.ndarray,
) -> Tuple[np.ndarray, np.ndarray]:
    """Batch-invariant forward: rows are grouped by their bucketed
    length (next multiple of PAD_BUCKET of the row's real length) and
    each group is forwarded at exactly that length, so a row's output
    never depends on what else is in the Arrow batch. Inputs are
    (B, L) zero-padded arrays; outputs are (B, L) float32."""
    B, L = input_ids.shape
    real = attention_mask.sum(axis=1).astype(np.int64)
    max_pos = model.pos_emb.shape[0]
    buckets = np.array([_bucket_len(int(n), max_pos) for n in real])
    start = np.zeros((B, L), dtype=np.float32)
    end = np.zeros((B, L), dtype=np.float32)
    # bound the attention-score tensor (rows*heads*L*L floats) so one
    # sub-batch stays ~256 MB even at L=512 — the Spark analogue of the
    # reference's batch_size loop (uie_predictor.py:455-459). Sub-batch
    # splits are along M (rows) only, which BLAS computes row-
    # independently, so they never change the numbers.
    # ~2 MB of f32 scores per sub-batch: keeps the softmax element-wise
    # passes in per-core cache instead of streaming DRAM — measured to
    # be the difference between ~0.5 and ~0.8 scaling efficiency at
    # 8 -> 32 concurrent workers on one box (re-validated after the
    # round-6 kernel pin: 500k still wins at full concurrency)
    score_budget = SCORE_BUDGET  # rows * L^2 elements
    for bl in np.unique(buckets):
        idx = np.nonzero(buckets == bl)[0]
        n = min(int(bl), L)
        if int(bl) > L:
            pad = int(bl) - L
            ids = np.pad(input_ids[idx], ((0, 0), (0, pad)))
            tt = np.pad(token_type_ids[idx], ((0, 0), (0, pad)))
            am = np.pad(attention_mask[idx], ((0, 0), (0, pad)))
        else:
            ids = input_ids[idx, : int(bl)]
            tt = token_type_ids[idx, : int(bl)]
            am = attention_mask[idx, : int(bl)]
        step = max(1, score_budget // (int(bl) * int(bl)))
        for lo in range(0, idx.shape[0], step):
            hi = lo + step
            s, e = model.forward(ids[lo:hi], tt[lo:hi], am[lo:hi])
            start[idx[lo:hi], :n] = s[:, :n]
            end[idx[lo:hi], :n] = e[:, :n]
    return start, end


# ---------------------------------------------------------------------
# Model artifact (save / ship / load)
#
# The swap-in seam for real weights: save_weights() writes a .npz
# artifact; ship it to executors with spark.sparkContext.addFile() (or
# --files / spark.archives on a real cluster), and set
# UIEConfig(model_path=...) — the executor singleton then loads the
# artifact from disk instead of regenerating from the seed. Mirrors the
# reference's checkpoint load (convert.py:318-337, loads state_dict
# from a directory). It is the only seam for real weights: a real
# checkpoint, converted to the same .npz layout, arrives the same way.
# ---------------------------------------------------------------------

_BLOCK_KEYS = (
    "wq", "wk", "wv", "wo", "ln1_g", "ln1_b",
    "w1", "b1", "w2", "b2", "ln2_g", "ln2_b",
)


def save_weights(model: TinyUIE, path: str) -> str:
    """Serialize every weight tensor to one .npz artifact."""
    arrays = {
        "tok_emb": model.tok_emb,
        "pos_emb": model.pos_emb,
        "seg_emb": model.seg_emb,
        "w_start": model.w_start,
        "b_start": np.asarray(model.b_start),
        "w_end": model.w_end,
        "b_end": np.asarray(model.b_end),
        "heads": np.asarray(model.heads),
        "seed": np.asarray(model.seed),
    }
    for j, blk in enumerate(model.blocks):
        for k in _BLOCK_KEYS:
            arrays[f"blk{j}_{k}"] = blk[k]
    if not path.endswith(".npz"):
        path = path + ".npz"
    with open(path, "wb") as f:
        np.savez(f, **arrays)
    return path


def load_weights(path: str) -> TinyUIE:
    """Rebuild the model purely from the artifact — no seed
    regeneration (the from-disk proof for the swap-in seam)."""
    z = np.load(path)

    # The in-place forward() kernels assume float32 throughout (the
    # embedding gather's buffer dtype propagates through every += /
    # *=); an artifact saved in another dtype would silently run the
    # whole encoder in that dtype and change outputs. Coerce on load
    # so the kernels' bitwise-neutrality claim holds for loaded
    # checkpoints, not just seed-built models.
    def f32(a: np.ndarray) -> np.ndarray:
        return a if a.dtype == np.float32 else a.astype(np.float32)

    m = TinyUIE.__new__(TinyUIE)
    m.tok_emb = f32(z["tok_emb"])
    m.pos_emb = f32(z["pos_emb"])
    m.seg_emb = f32(z["seg_emb"])
    m.w_start = f32(z["w_start"])
    m.b_start = np.float32(z["b_start"][()])
    m.w_end = f32(z["w_end"])
    m.b_end = np.float32(z["b_end"][()])
    m.seed = int(z["seed"][()])
    m.heads = int(z["heads"][()])
    m.h = int(m.tok_emb.shape[1])
    m.dk = m.h // m.heads
    m.blocks = []
    j = 0
    while f"blk{j}_wq" in z:
        m.blocks.append({k: f32(z[f"blk{j}_{k}"]) for k in _BLOCK_KEYS})
        j += 1
    m.layers = j
    return m


def resolve_artifact(path: str) -> str:
    """Executor-side artifact resolution: a path that exists locally
    (shared FS) is used as-is; otherwise look it up in the SparkFiles
    staging dir (populated by sc.addFile / --files / spark.archives)."""
    import os

    if os.path.exists(path):
        return path
    try:
        from pyspark import SparkFiles

        staged = SparkFiles.get(os.path.basename(path))
        if os.path.exists(staged):
            return staged
    except Exception:
        pass
    raise FileNotFoundError(
        f"model artifact {path!r} not found locally nor in SparkFiles; "
        "ship it with spark.sparkContext.addFile(path) or --files"
    )


_CACHE: Dict[tuple, TinyUIE] = {}
_LOCK = threading.Lock()


def get_model(seed: int = DEFAULT_SEED, model_path: str | None = None):
    """Per-process lazy singleton — the Spark analogue of the
    reference's load-once predictor (uie_predictor.py:153-158); each
    executor Python worker loads/builds the weights exactly once per
    (seed, artifact) combination."""
    key = (seed, model_path)
    with _LOCK:
        m = _CACHE.get(key)
        if m is None:
            m = (
                load_weights(resolve_artifact(model_path))
                if model_path
                else TinyUIE(seed=seed)
            )
            _CACHE[key] = m
        return m
