"""Posting-block codec: docID-sorted, delta-encoded, varint-compressed
blocks with per-block skip/max metadata (BASELINE.json north_star).

The reference stack stores postings as Roaring bitmaps + zapx
delta/varint payloads inside Bleve scorch segments (bright's go.mod:22,
38-43); bright itself never touches the encoding. Here the codec is
explicit, implemented with **vectorized numpy only** (no per-row
Python), because it runs inside Arrow-batched Spark UDFs on the build
and query hot paths.

Block layout (one posting row covers one ``(term, range_id)`` doc-range
chunk; rows hold parallel arrays of blocks):

- ``first_doc``: absolute docID of the block's first entry
- ``max_doc``:   absolute docID of the block's last entry (skip bound)
- ``n``:         entries in the block
- ``max_tf``:    max term frequency in the block
- ``min_dl``:    min document length in the block
- ``docs``:      varint(delta(docIDs)) — first delta is 0 w.r.t.
                 ``first_doc`` so decode is ``first_doc + cumsum``
- ``tfs``:       varint(tf per entry)
- ``dls``:       varint(doc_len per entry) — inlined so BM25 scoring
                 never joins the docs table (at 10^12 docs a
                 norms-join or broadcast is impossible)

``(max_tf, min_dl)`` give a *parameter-free* block-max bound: the BM25
tf-norm ``tf/(tf + k1*(1-b+b*dl/avgdl))`` is increasing in tf and
decreasing in dl, so ``tf_norm(max_tf, min_dl)`` evaluated with the
*current* (k1, b, avgdl) always upper-bounds every entry — the bound
survives incremental corpus-stat drift, unlike a stored max-score.
"""

from __future__ import annotations

import numpy as np

DEFAULT_BLOCK_SIZE = 128


# ---------------------------------------------------------------- varint

def varint_encode_raw(values: np.ndarray):
    """LEB128-encode a non-negative integer array (vectorized).
    Returns (uint8 buffer, per-value byte counts) so callers can slice
    per-segment byte ranges out of one bulk encode."""
    arr = np.asarray(values)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    if arr.dtype.kind == "i" and arr.min() < 0:
        raise ValueError("varint_encode requires non-negative values")
    v = np.ascontiguousarray(arr, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += tmp > 0
        tmp >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    rem = v.copy()
    idx = starts.copy()
    active = np.ones(v.size, dtype=bool)
    while True:
        cur = rem[active]
        byte = (cur & np.uint64(0x7F)).astype(np.uint8)
        nxt = cur >> np.uint64(7)
        more = nxt > 0
        byte[more] |= 0x80
        out[idx[active]] = byte
        rem[active] = nxt
        idx[active] += 1
        if not more.any():
            break
        ai = np.flatnonzero(active)
        active[ai[~more]] = False
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    buf, _ = varint_encode_raw(values)
    return buf.tobytes()


def varint_decode(buf: bytes | bytearray | memoryview) -> np.ndarray:
    """Decode LEB128 bytes back to uint64 (vectorized)."""
    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (a & 0x80) == 0
    n = int(is_end.sum())
    val_idx = np.zeros(a.size, dtype=np.int64)
    val_idx[1:] = np.cumsum(is_end)[:-1]
    ends = np.flatnonzero(is_end)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    byte_pos = np.arange(a.size, dtype=np.int64) - starts[val_idx]
    contrib = (a & 0x7F).astype(np.uint64) << (np.uint64(7) * byte_pos.astype(np.uint64))
    vals = np.zeros(n, dtype=np.uint64)
    np.bitwise_or.at(vals, val_idx, contrib)
    return vals


# ---------------------------------------------------------------- blocks

def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> dict[str, list]:
    """Split a docID-sorted posting run into compressed blocks.

    Returns parallel lists (one element per block) matching the
    ``postings`` table's ``blocks`` struct fields.
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if doc_ids.size and (np.diff(doc_ids) <= 0).any():
        raise ValueError("doc_ids must be strictly increasing")
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    out: dict[str, list] = {
        "first_doc": [], "max_doc": [], "n": [],
        "max_tf": [], "min_dl": [], "docs": [], "tfs": [], "dls": [],
    }
    for s in range(0, doc_ids.size, block_size):
        d = doc_ids[s : s + block_size]
        t = tfs[s : s + block_size]
        l = dls[s : s + block_size]
        deltas = np.empty(d.size, dtype=np.uint64)
        deltas[0] = 0
        deltas[1:] = np.diff(d).astype(np.uint64)
        out["first_doc"].append(int(d[0]))
        out["max_doc"].append(int(d[-1]))
        out["n"].append(int(d.size))
        out["max_tf"].append(int(t.max()))
        out["min_dl"].append(int(l.min()))
        out["docs"].append(varint_encode(deltas))
        out["tfs"].append(varint_encode(t))
        out["dls"].append(varint_encode(l))
    return out


def encode_blocks_bulk(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_starts: np.ndarray,
    block_size: int = DEFAULT_BLOCK_SIZE,
    positions: np.ndarray | None = None,
):
    """Encode MANY posting runs (concatenated, with ``group_starts``
    marking run boundaries) in three bulk varint passes — identical
    bytes to per-run :func:`encode_blocks`, but without per-run numpy
    call overhead (the merge-kernel hot path: one partition may hold
    hundreds of thousands of small runs).

    Returns (per-block dict of numpy/bytes lists, block_group array
    mapping each block to its run index).

    ``positions`` (optional): flat absolute base positions, entry i
    owning the ``tfs[i]`` values at offset ``Σ tfs[:i]`` (ascending
    within an entry). Encoded as absolute varints per block under key
    ``pos`` — positions are small ordinals, so delta gains little and
    absolute keeps entry slicing trivial (the entry's value count IS
    its tf).
    """
    n = doc_ids.size
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    group_starts = np.ascontiguousarray(group_starts, dtype=np.int64)
    g_ends = np.concatenate((group_starts[1:], [n]))
    # block starts: every run restarts block segmentation. Vectorized
    # (no per-run arange — one partition can hold 10^5+ small runs):
    # block b of run g starts at group_starts[g] + within * block_size.
    nblocks = -(-(g_ends - group_starts) // block_size)
    block_group = np.repeat(
        np.arange(group_starts.size, dtype=np.int64), nblocks)
    if block_group.size:
        first_of_run = np.concatenate(
            ([0], np.cumsum(nblocks)[:-1]))
        within = (np.arange(block_group.size, dtype=np.int64)
                  - first_of_run[block_group])
        block_starts = group_starts[block_group] + within * block_size
    else:
        block_starts = np.empty(0, dtype=np.int64)
    block_ends = np.concatenate((block_starts[1:], [n])) if n else block_starts
    # deltas: global diff, zeroed at block starts (each block's first
    # entry encodes 0 relative to its stored first_doc)
    deltas = np.empty(n, dtype=np.int64)
    if n:
        deltas[0] = 0
        np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
        deltas[block_starts] = 0
        if deltas.min() < 0:
            raise ValueError("doc_ids must be strictly increasing within runs")
        dup = deltas == 0
        dup[block_starts] = False
        if dup.any():
            raise ValueError("duplicate doc_ids within a run")
    # three bulk varint passes + per-block byte slicing
    out: dict[str, list] = {}

    def encode_all(vals):
        buf, nbytes = varint_encode_raw(vals)
        byte_ends = np.cumsum(nbytes)
        raw = buf.tobytes()
        # byte offset of each block start / end
        bs = np.zeros(block_starts.size, dtype=np.int64)
        nz = block_starts > 0
        bs[nz] = byte_ends[block_starts[nz] - 1]
        be = byte_ends[block_ends - 1] if n else bs
        return [raw[s:e] for s, e in zip(bs, be)]

    out["docs"] = encode_all(deltas.astype(np.uint64))
    out["tfs"] = encode_all(tfs)
    out["dls"] = encode_all(dls)
    if positions is not None:
        # value index space: entry i owns values [pv_start[i], pv_end[i])
        pv_end = np.cumsum(tfs)
        pv_start = pv_end - tfs
        buf, nbytes = varint_encode_raw(positions)
        vbyte_ends = np.cumsum(nbytes)
        raw = buf.tobytes()
        bs_val = pv_start[block_starts] if n else block_starts
        be_val = pv_end[block_ends - 1] if n else block_starts
        bs_byte = np.zeros(block_starts.size, dtype=np.int64)
        nz = bs_val > 0
        bs_byte[nz] = vbyte_ends[bs_val[nz] - 1]
        be_byte = np.zeros(block_starts.size, dtype=np.int64)
        nzv = be_val > 0
        be_byte[nzv] = vbyte_ends[be_val[nzv] - 1]
        out["pos"] = [raw[s:e] for s, e in zip(bs_byte, be_byte)]
    out["first_doc"] = doc_ids[block_starts].tolist() if n else []
    out["max_doc"] = doc_ids[block_ends - 1].tolist() if n else []
    out["n"] = (block_ends - block_starts).tolist()
    if n:
        out["max_tf"] = np.maximum.reduceat(tfs, block_starts).tolist()
        out["min_dl"] = np.minimum.reduceat(dls, block_starts).tolist()
    else:
        out["max_tf"] = []
        out["min_dl"] = []
    return out, block_group


def decode_concat(bufs: list[bytes]) -> np.ndarray:
    """Decode MANY varint buffers in ONE vectorized pass (uint64).
    Varint framing is self-delimiting, so concatenation preserves the
    value sequence; callers recover per-buffer slices from known value
    counts (the stored per-block ``n``)."""
    if not bufs:
        return np.empty(0, dtype=np.uint64)
    return varint_decode(b"".join(bufs))


def decode_doc_blocks_bulk(first_docs: np.ndarray, ns: np.ndarray,
                           doc_bufs: list[bytes]) -> np.ndarray:
    """Bulk-decode the docID arrays of many blocks into one flat int64
    array (query-kernel hot path — one varint pass + one cumsum instead
    of a per-block Python loop). ``first_docs``/``ns`` are per-block;
    each block's first delta is 0, so within-block prefix sums fall out
    of one global cumsum re-based at block starts."""
    deltas = decode_concat(doc_bufs).astype(np.int64)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    ns = np.ascontiguousarray(ns, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    c = np.cumsum(deltas)
    rebase = np.repeat(
        np.ascontiguousarray(first_docs, dtype=np.int64) - c[starts], ns)
    return c + rebase


def decode_block(first_doc: int, docs: bytes, tfs: bytes, dls: bytes):
    """One block -> (doc_ids int64, tfs int64, dls int64)."""
    d = varint_decode(docs).astype(np.int64)
    np.cumsum(d, out=d)
    d += np.int64(first_doc)
    return d, varint_decode(tfs).astype(np.int64), varint_decode(dls).astype(np.int64)


def decode_all_blocks(blocks: dict[str, list]):
    """Decode every block of one posting row into flat arrays."""
    parts_d, parts_t, parts_l = [], [], []
    for fd, db, tb, lb in zip(blocks["first_doc"], blocks["docs"], blocks["tfs"], blocks["dls"]):
        d, t, l = decode_block(fd, db, tb, lb)
        parts_d.append(d)
        parts_t.append(t)
        parts_l.append(l)
    if not parts_d:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return np.concatenate(parts_d), np.concatenate(parts_t), np.concatenate(parts_l)


# ------------------------------------------------------------ tombstones

def tomb_drop(doc_ids: np.ndarray, ver, tomb) -> np.ndarray | None:
    """The append-mode visibility rule, shared by every decoder: an
    entry is dead iff its doc is tombstoned at a version LATER than the
    entry's row (newer re-adds stay alive). ``tomb`` is the catalog's
    (sorted doc ids, versions) pair or None; ``ver`` is the row version,
    a scalar or one per entry. Returns a boolean drop mask, or None when
    nothing drops."""
    if tomb is None or doc_ids.size == 0:
        return None
    tids, tvers = tomb
    idx = np.minimum(np.searchsorted(tids, doc_ids), tids.size - 1)
    hit = tids[idx] == doc_ids
    if not hit.any():
        return None
    drop = hit & (ver < tvers[idx])
    return drop if drop.any() else None
