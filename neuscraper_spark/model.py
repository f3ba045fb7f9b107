"""Deterministic NumPy content-extraction scorer.

Same topology as the reference's ContentExtractionTextEncoder
(reference: src/scraper/model.py:49-124), re-expressed as a pure NumPy
float32 forward pass (torch/transformers unavailable; weights are
seed-derived — no pretrained checkpoint exists in this sandbox, so this
model *defines* the reference labels via the single-process oracle path,
see BASELINE.md):

  token ids -> embedding -> masked mean pool ("pooler", ref pools via
  XLMR pooler_output, model.py:102-103) -> Linear text_in->text_emb
  (model.py:69-71) -> sinusoidal positional encoding over the 384-node
  axis + LayerNorm (model.py:8-25,110-114) -> NODE_LAYERS-layer
  multi-head self-attention encoder over nodes (model.py:73-81,117-118)
  -> per-node Linear -> sigmoid over NUM_CLASSES heads (model.py:60,
  122-124).

Plus one departure from random init: a *calibration prior* added to the
pre-sigmoid logits, computed from per-node token statistics, so that the
Primary head behaves like a trained content extractor (long prose nodes
score > 0.9, nav crumbs score low) instead of hovering at 0.5. It is a
deterministic function of the inputs, shared bit-for-bit by the oracle.

A chunk is scored at its own trimmed length, never padded to a batch
neighbour's, so its scores are bit-identical whatever batch it shares
(score_chunks). Scores are also quantized to SCORE_DECIMALS before any
thresholding, so the last-bit noise of another BLAS kernel cannot flip
decisions (SURVEY.md §7).

The weight dict is what gets broadcast to executors
(sc.broadcast(load_weights())) — the Spark twin of the reference loading
a checkpoint once per GPU (src/scraper/inference.py:46-74).
"""

from __future__ import annotations

import numpy as np

from .config import (
    CHUNK_SIZE,
    EOS_ID,
    MODEL_MAX_TOKEN_LEN,
    MODEL_SEED,
    NODE_HEADS,
    NODE_LAYERS,
    NUM_CLASSES,
    PAD_ID,
    SCORE_DECIMALS,
    TEXT_EMB_DIM,
    TEXT_IN_EMB_DIM,
    VOCAB_SIZE,
)

F32 = np.float32


def _positional_encoding(max_len: int, d_model: int) -> np.ndarray:
    # Reference quirk preserved: positions advance by 0.5 per step
    # (position = arange(0, max_len/2).repeat(1,2), model.py:15-16).
    pe = np.zeros((max_len, d_model), dtype=F32)
    position = np.repeat(np.arange(0, max_len / 2, dtype=F32), 2)[:max_len, None]
    div_term = np.exp(np.arange(0, d_model, 2, dtype=F32) * (-np.log(10000.0) / d_model))
    pe[:, 0::2] = np.sin(position * div_term)
    pe[:, 1::2] = np.cos(position * div_term)
    return pe


def load_weights(seed: int = MODEL_SEED) -> dict[str, np.ndarray]:
    """Seed-derived weight dict; the broadcastable constant state."""
    rng = np.random.Generator(np.random.PCG64(seed))

    def glorot(*shape):
        limit = np.sqrt(6.0 / (shape[0] + shape[-1]))
        return rng.uniform(-limit, limit, size=shape).astype(F32)

    w: dict[str, np.ndarray] = {
        "tok_emb": (rng.standard_normal((VOCAB_SIZE, TEXT_IN_EMB_DIM)) * 0.02).astype(F32),
        "textlinear_w": glorot(TEXT_IN_EMB_DIM, TEXT_EMB_DIM),
        "textlinear_b": np.zeros(TEXT_EMB_DIM, dtype=F32),
        "pe": _positional_encoding(CHUNK_SIZE, TEXT_EMB_DIM),
        "ln0_g": np.ones(TEXT_EMB_DIM, dtype=F32),
        "ln0_b": np.zeros(TEXT_EMB_DIM, dtype=F32),
        "head_w": glorot(TEXT_EMB_DIM, NUM_CLASSES),
        "head_b": np.zeros(NUM_CLASSES, dtype=F32),
    }
    for l in range(NODE_LAYERS):
        w[f"l{l}_qkv_w"] = glorot(TEXT_EMB_DIM, 3 * TEXT_EMB_DIM)
        w[f"l{l}_qkv_b"] = np.zeros(3 * TEXT_EMB_DIM, dtype=F32)
        w[f"l{l}_proj_w"] = glorot(TEXT_EMB_DIM, TEXT_EMB_DIM)
        w[f"l{l}_proj_b"] = np.zeros(TEXT_EMB_DIM, dtype=F32)
        w[f"l{l}_ff1_w"] = glorot(TEXT_EMB_DIM, 4 * TEXT_EMB_DIM)
        w[f"l{l}_ff1_b"] = np.zeros(4 * TEXT_EMB_DIM, dtype=F32)
        w[f"l{l}_ff2_w"] = glorot(4 * TEXT_EMB_DIM, TEXT_EMB_DIM)
        w[f"l{l}_ff2_b"] = np.zeros(TEXT_EMB_DIM, dtype=F32)
        w[f"l{l}_ln1_g"] = np.ones(TEXT_EMB_DIM, dtype=F32)
        w[f"l{l}_ln1_b"] = np.zeros(TEXT_EMB_DIM, dtype=F32)
        w[f"l{l}_ln2_g"] = np.ones(TEXT_EMB_DIM, dtype=F32)
        w[f"l{l}_ln2_b"] = np.zeros(TEXT_EMB_DIM, dtype=F32)

    # Self-calibration: a randomly-initialized head carries an arbitrary
    # bias/scale, so normalize its logits against a deterministic probe
    # batch. After this, the head contributes ~±HEAD_NOISE of spread
    # around the calibration prior — a trained model's decision margin.
    w["head_shift"] = np.zeros(NUM_CLASSES, dtype=F32)
    w["head_scale"] = np.ones(NUM_CLASSES, dtype=F32)
    probe_ids = rng.integers(64, VOCAB_SIZE, size=(4, 64, MODEL_MAX_TOKEN_LEN)).astype(np.int64)
    probe_masks = np.ones_like(probe_ids, dtype=bool)
    raw = _raw_logits(probe_ids, probe_masks, w).reshape(-1, NUM_CLASSES)
    w["head_shift"] = raw.mean(axis=0).astype(F32)
    w["head_scale"] = (HEAD_NOISE / np.maximum(raw.std(axis=0), 1e-4)).astype(F32)
    return w


HEAD_NOISE = 0.6


def shm_cache_weights(weights: dict[str, np.ndarray], tag: str) -> dict[str, np.ndarray]:
    """Re-map a weight dict through one node-shared read-only copy.

    Executors receive weights via Spark broadcast (the distribution
    channel BASELINE.json mandates); each python *worker* then holds its
    own deserialized copy, multiplying the scorer's cache footprint by
    the worker count. Writing the arrays once per node to /dev/shm
    (atomic tmp-dir + rename; first worker wins) and mmap'ing read-only
    gives every worker the same physical pages — measured ~2x scorer
    throughput at 8 and 32 workers. Values are bit-identical to the
    broadcast copy. Falls back to the in-memory dict if /dev/shm is
    unavailable.
    """
    import os
    import tempfile

    base = os.environ.get("NEUSCRAPER_SHM_DIR", "/dev/shm")
    target = os.path.join(base, f"neuscraper_w_{tag}")
    try:
        if not os.path.isdir(target):
            tmp = tempfile.mkdtemp(dir=base, prefix=f".neuscraper_w_{tag}_")
            for k, v in weights.items():
                np.save(os.path.join(tmp, f"{k}.npy"), v)
            try:
                os.rename(tmp, target)  # atomic; loser cleans up
            except OSError:
                import shutil

                shutil.rmtree(tmp, ignore_errors=True)
        return {
            name[:-4]: np.load(os.path.join(target, name), mmap_mode="r")
            for name in os.listdir(target)
            if name.endswith(".npy")
        }
    except OSError:
        return weights


def _layer_norm(x: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    mu = x.mean(axis=-1, keepdims=True, dtype=F32)
    var = x.var(axis=-1, keepdims=True, dtype=F32)
    return ((x - mu) / np.sqrt(var + F32(1e-5)) * g + b).astype(F32)


def _attention_block(x: np.ndarray, w: dict, l: int, node_mask: np.ndarray) -> np.ndarray:
    """One post-LN transformer layer over the node axis. x: [B,S,D]."""
    B, S, D = x.shape
    H = NODE_HEADS
    dh = D // H
    qkv = x @ w[f"l{l}_qkv_w"] + w[f"l{l}_qkv_b"]  # [B,S,3D]
    q, k, v = np.split(qkv, 3, axis=-1)

    def heads(t):  # [B,S,D] -> [B,H,S,dh]
        return t.reshape(B, S, H, dh).transpose(0, 2, 1, 3)

    q, k, v = heads(q), heads(k), heads(v)
    # Scale, mask and softmax the one [B,H,S,S] score array in place:
    # it is the largest transient of the forward pass, so no step may
    # copy it.
    att = q @ k.transpose(0, 1, 3, 2)
    att /= F32(np.sqrt(dh))
    # mask out padded node positions as attention keys
    np.copyto(att, F32(-1e9), where=~node_mask[:, None, None, :])
    att -= att.max(axis=-1, keepdims=True)
    np.exp(att, out=att)
    att /= att.sum(axis=-1, keepdims=True, dtype=F32)
    out = (att @ v).transpose(0, 2, 1, 3).reshape(B, S, D)
    out = out @ w[f"l{l}_proj_w"] + w[f"l{l}_proj_b"]
    x = _layer_norm((x + out).astype(F32), w[f"l{l}_ln1_g"], w[f"l{l}_ln1_b"])
    ff = np.maximum(x @ w[f"l{l}_ff1_w"] + w[f"l{l}_ff1_b"], F32(0)) @ w[f"l{l}_ff2_w"] + w[f"l{l}_ff2_b"]
    return _layer_norm((x + ff).astype(F32), w[f"l{l}_ln2_g"], w[f"l{l}_ln2_b"])


def _calibration_prior(token_ids: np.ndarray, token_masks: np.ndarray) -> np.ndarray:
    """Deterministic per-node prior logits [B,S,NUM_CLASSES].

    Plays the role of the trained weights' knowledge: long, word-dense,
    low-symbol nodes are primary content; symbol-heavy nodes (script/
    style payloads, css) are boilerplate. Computed from the same tensors
    the model sees — symbol density is read off the tokenizer's low-id
    punctuation band (tokenizer.PUNCT_BAND) — in float32, identically on
    oracle and executors.
    """
    from .tokenizer import PUNCT_BAND

    B, S, L = token_ids.shape
    n_real = token_masks.sum(axis=-1, dtype=F32)  # [B,S] ids != PAD (incl BOS/EOS)
    full = F32(L)
    is_piece = token_masks & (token_ids >= 3)  # excludes BOS/PAD/EOS slots
    n_pieces = np.maximum(is_piece.sum(axis=-1, dtype=F32), F32(1.0))
    n_punct = (token_masks & (token_ids >= 4) & (token_ids < PUNCT_BAND)).sum(axis=-1, dtype=F32)
    punct_frac = n_punct / n_pieces
    fill = n_real / full
    primary = F32(6.8) * fill * fill * fill - F32(3.2) - F32(8.0) * punct_frac
    prior = np.zeros((B, S, NUM_CLASSES), dtype=F32)
    prior[:, :, 0] = primary
    prior[:, :, 3] = primary * F32(0.5)  # Paragraph head loosely follows
    return prior


def tensorize_chunk(token_ids_50: list[list[int]]) -> tuple[np.ndarray, np.ndarray]:
    """Chunk of per-node 50-id rows -> model tensors [S, 5] ids + mask.

    Mirrors src/scraper/processing.py:65-86: truncate node axis to
    CHUNK_SIZE, keep first MODEL_MAX_TOKEN_LEN-1 ids + EOS, mask=id!=PAD,
    zero-pad node axis to CHUNK_SIZE.
    """
    rows = token_ids_50[:CHUNK_SIZE]
    S, L = CHUNK_SIZE, MODEL_MAX_TOKEN_LEN
    ids = np.zeros((S, L), dtype=np.int64)
    if rows:
        arr = np.asarray(rows, dtype=np.int64)[:, : L - 1]
        ids[: arr.shape[0], : L - 1] = arr
        ids[: arr.shape[0], L - 1] = EOS_ID
    # reference: mask = ids != PAD computed on real nodes (BOS=0 counts as
    # real, processing.py:77), THEN node-axis zero-padding with mask=0
    # (processing.py:79-80).
    masks = ids != PAD_ID
    masks[len(rows) :, :] = False
    return ids, masks


def _raw_logits(token_ids: np.ndarray, token_masks: np.ndarray, w: dict) -> np.ndarray:
    """Shared forward pass -> uncalibrated head logits [B,S,NUM_CLASSES]."""
    B, S, L = token_ids.shape
    m = token_masks.astype(F32)[..., None]
    # pool without materializing [B,S,L,Din]: loop the tiny L axis
    pooled = np.zeros((B, S, TEXT_IN_EMB_DIM), dtype=F32)
    for li in range(L):
        pooled += w["tok_emb"][token_ids[:, :, li]] * m[:, :, li]
    denom = np.maximum(m.sum(axis=2), F32(1.0))  # [B,S,1]
    pooled = pooled / denom  # masked mean pool [B,S,Din]
    x = (pooled @ w["textlinear_w"] + w["textlinear_b"]).astype(F32)
    x = _layer_norm(x + w["pe"][None, :S, :], w["ln0_g"], w["ln0_b"])
    node_mask = token_masks.any(axis=-1)  # [B,S]
    for l in range(NODE_LAYERS):
        x = _attention_block(x, w, l, node_mask)
    return (x @ w["head_w"] + w["head_b"]).astype(F32)


def score_batch(token_ids: np.ndarray, token_masks: np.ndarray, w: dict) -> np.ndarray:
    """[B,S,L] int64 ids + bool masks -> [B,S,NUM_CLASSES] quantized sigmoid scores."""
    raw = _raw_logits(token_ids, token_masks, w)
    logits = (raw - w["head_shift"]) * w["head_scale"]
    logits = logits + _calibration_prior(token_ids, token_masks)
    scores = 1.0 / (1.0 + np.exp(-logits.astype(np.float64)))
    scores = np.round(scores, SCORE_DECIMALS).astype(F32)
    node_mask = token_masks.any(axis=-1)
    scores = np.where(node_mask[..., None], scores, F32(0))
    return scores


# Byte budget of one micro-batch's attention scores [B, NODE_HEADS, S, S]
# float32. Chunks of one trimmed length S are scored together, at most
# ATT_BYTES // (NODE_HEADS * S * S * 4) at a time (at least one), so the
# array the softmax sweeps stays cache-sized whatever the Arrow batch
# size (the Arrow batch ~ the reference's DataLoader batch of 256,
# src/scraper/commoncrawl.py:84): ~28 chunks at S = 24, one at S = 384.
ATT_BYTES = 1 << 18


def score_chunks(chunks_token_ids: list[list[list[int]]], w: dict) -> np.ndarray:
    """Score a list of chunks (each: list of per-node 50-id rows).

    Returns [n_chunks, CHUNK_SIZE, NUM_CLASSES] quantized scores. Each
    chunk's node axis is trimmed to ITS OWN real length rounded up to a
    multiple of 8 — valid because padded node positions are masked out
    of attention (exactly-zero softmax weights), so real-node scores do
    not depend on the padded tail — and re-padded with zeros on return.
    Attention is O(S^2) in the node axis, so a short chunk never pays
    for a long one. Only chunks of the same trimmed length share a
    micro-batch (see ATT_BYTES), and every matmul in the forward pass
    runs per chunk at that length, so a chunk's scores are a function of
    the chunk alone: bit-identical whether it is scored alone, in any
    batch, or in any order (asserted by tests/test_model.py). This is
    what lets the per-page oracle equal the batched Spark stages.
    """
    n = len(chunks_token_ids)
    out = np.zeros((n, CHUNK_SIZE, NUM_CLASSES), dtype=F32)
    if n == 0:
        return out
    ids = np.zeros((n, CHUNK_SIZE, MODEL_MAX_TOKEN_LEN), dtype=np.int64)
    masks = np.zeros((n, CHUNK_SIZE, MODEL_MAX_TOKEN_LEN), dtype=bool)
    s_trim = np.empty(n, dtype=np.int64)
    for i, rows in enumerate(chunks_token_ids):
        ids[i], masks[i] = tensorize_chunk(rows)
        s_trim[i] = min(CHUNK_SIZE, (max(1, len(rows)) + 7) // 8 * 8)
    for s in np.unique(s_trim).tolist():
        same = np.flatnonzero(s_trim == s)
        step = max(1, ATT_BYTES // (NODE_HEADS * s * s * 4))
        for lo in range(0, len(same), step):
            sel = same[lo : lo + step]
            out[sel, :s] = score_batch(ids[sel, :s], masks[sel, :s], w)
    return out
