"""Posting-list codec: delta-gap + varbyte (LEB128), numpy-vectorized.

Generalizes the reference's sparse-CSR document-term matrix
(/root/reference/keywords4cv.py:3044-3095) into compressed inverted
posting blocks with per-block max-score metadata for Block-Max WAND.

Layout per block (<= block_size postings of one (term, segment) run,
doc_ids strictly ascending):

- columns: first_doc, last_doc, n, max_tf, max_score (exact BM25
  contribution upper bound for this block, computed at build time
  from idf/tf/dl), payload binary
- payload: varbyte( gaps[1..n-1] ++ tfs[0..n-1] ++ dls[0..n-1]
  [ ++ position stream ] ) where gaps are doc_id deltas within the
  block (first doc lives in the `first_doc` column). Storing dl inline
  makes query-time scoring join-free (no docmeta shuffle on the hot
  path). The optional position stream (store_positions builds) is the
  per-doc token positions, delta-encoded per doc and concatenated —
  its per-doc lengths are exactly the tfs, so no extra framing is
  needed. Non-positional readers just ignore the tail.

Everything here is plain numpy on contiguous arrays. The index writer
(index/build.py ``block_encoder``) calls ``encode_postings`` once per
(term, segment) run, inside a ``mapInArrow`` task that splits each
Arrow batch of a sorted partition into runs — never per-row Python in
Spark.
"""

from __future__ import annotations

import numpy as np


def varbyte_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes per value = ceil(bit_length / 7), min 1
    nb = np.ones(v.size, dtype=np.int64)
    thresh = np.uint64(128)
    for _ in range(9):
        nb += (v >= thresh).astype(np.int64)
        # guard overflow: 128**10 > 2**63; stop scaling once beyond range
        if int(thresh) > (1 << 56):
            break
        thresh = thresh * np.uint64(128)
    starts = np.zeros(v.size, dtype=np.int64)
    starts[1:] = np.cumsum(nb)[:-1]
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    max_nb = int(nb.max())
    for k in range(max_nb):
        mask = nb > k
        chunk = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nb[mask] - 1 > k).astype(np.uint8) << 7
        out[starts[mask] + k] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 buffer back to uint64 array (vectorized)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = (arr & 0x80) == 0
    end_idx = np.nonzero(ends)[0]
    starts_idx = np.empty(end_idx.size, dtype=np.int64)
    starts_idx[0] = 0
    starts_idx[1:] = end_idx[:-1] + 1
    gid = np.cumsum(np.concatenate(([0], ends[:-1].astype(np.int64))))
    posin = np.arange(arr.size, dtype=np.int64) - starts_idx[gid]
    contrib = (arr & 0x7F).astype(np.uint64) << (7 * posin).astype(np.uint64)
    return np.add.reduceat(contrib, starts_idx)


def bm25_contrib(
    tf: np.ndarray, dl: np.ndarray, idf: float, k1: float, b: float, avgdl: float
) -> np.ndarray:
    """Exact per-posting BM25 score contribution (float64 throughout,
    fixed formula order — the determinism contract of SURVEY.md §7.4)."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    idf: float,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int = 128,
    positions: list[np.ndarray] | None = None,
) -> list[dict]:
    """Split one sorted posting run into compressed blocks.

    ``positions[i]`` (optional) is the ascending token-position array of
    doc i, with len(positions[i]) == tfs[i]. Returns a list of dict rows
    matching the postings table schema (minus term_id/segment, which
    the caller adds).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = doc_ids[order]
    tfs = np.asarray(tfs, dtype=np.int64)[order]
    dls = np.asarray(dls, dtype=np.int64)[order]
    if positions is not None:
        positions = [np.asarray(positions[i], dtype=np.int64) for i in order]
    if np.any(np.diff(doc_ids) <= 0):
        raise ValueError("doc_ids must be strictly ascending within a run")
    blocks = []
    for block_id, lo in enumerate(range(0, doc_ids.size, block_size)):
        d = doc_ids[lo : lo + block_size]
        t = tfs[lo : lo + block_size]
        ln = dls[lo : lo + block_size]
        gaps = np.diff(d).astype(np.uint64)
        parts = [gaps, t.astype(np.uint64), ln.astype(np.uint64)]
        if positions is not None:
            for p in positions[lo : lo + block_size]:
                deltas = np.empty(p.size, dtype=np.uint64)
                if p.size:
                    deltas[0] = p[0]
                    deltas[1:] = np.diff(p).astype(np.uint64)
                parts.append(deltas)
        payload = varbyte_encode(np.concatenate(parts))
        scores = bm25_contrib(t, ln, idf, k1, b, avgdl)
        blocks.append(
            {
                "block_id": block_id,
                "first_doc": int(d[0]),
                "last_doc": int(d[-1]),
                "n": int(d.size),
                "max_tf": int(t.max()),
                "max_score": float(scores.max()),
                "payload": payload,
            }
        )
    return blocks


def decode_block(payload: bytes, n: int, first_doc: int):
    """Inverse of encode_postings for one block → (doc_ids, tfs, dls).

    Tolerates (ignores) a trailing position stream — the BM25 path
    never pays for positions it doesn't use."""
    vals = varbyte_decode(payload)
    assert vals.size >= 3 * n - 1, (vals.size, n)
    gaps = vals[: n - 1]
    tfs = vals[n - 1 : 2 * n - 1].astype(np.int64)
    dls = vals[2 * n - 1 : 3 * n - 1].astype(np.int64)
    doc_ids = np.empty(n, dtype=np.int64)
    doc_ids[0] = first_doc
    if n > 1:
        doc_ids[1:] = first_doc + np.cumsum(gaps.astype(np.int64))
    return doc_ids, tfs, dls


def decode_block_positions(payload: bytes, n: int, first_doc: int):
    """Positional decode → (doc_ids, tfs, dls, positions list[ndarray])."""
    vals = varbyte_decode(payload)
    doc_ids, tfs, dls = decode_block(payload, n, first_doc)
    stream = vals[3 * n - 1 :].astype(np.int64)
    assert stream.size == int(tfs.sum()), (stream.size, int(tfs.sum()))
    positions = []
    off = 0
    for t in tfs:
        deltas = stream[off : off + t]
        positions.append(np.cumsum(deltas))
        off += t
    return doc_ids, tfs, dls, positions


def decode_blocks(payloads, ns, first_docs, positional: bool = False):
    """A sequence of posting blocks (payload, n, first_doc per block),
    decoded and concatenated in block order → (doc_ids, tfs, dls,
    positions), positions being one array per doc (None unless
    ``positional``). Block i contributes ``ns[i]`` docs."""
    docs, tfs, dls, positions = [], [], [], []
    for payload, n, first_doc in zip(payloads, ns, first_docs):
        if positional:
            d, t, ln, pos = decode_block_positions(payload, int(n), int(first_doc))
            positions.extend(pos)
        else:
            d, t, ln = decode_block(payload, int(n), int(first_doc))
        docs.append(d)
        tfs.append(t)
        dls.append(ln)
    return (
        np.concatenate(docs),
        np.concatenate(tfs),
        np.concatenate(dls),
        positions if positional else None,
    )
