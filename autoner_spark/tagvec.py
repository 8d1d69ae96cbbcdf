"""Vectorized (Arrow + NumPy) engine for the distributed DP tagger.

Semantics-identical batch engine for ``tagger.tag_tokens_compiled``: the
same segmentDP recurrence (string_match.h:21-89 strict-improvement updates,
len^2 core score, weight*len^2 filtered score, "\\n" barrier checked before
descending) and the same span-extraction rules (annotation.h:267-317
separator-skip), executed over a whole Arrow batch at once instead of one
Python token at a time:

* token -> id mapping runs through ``pyarrow.compute.index_in`` (one C++
  hash probe per token instead of a Python dict lookup);
* the trie walk runs breadth-parallel over every start position of every
  turn in the batch, one NumPy ``searchsorted`` per depth level against a
  sorted ``state*V + token`` transition-key table;
* the DP runs in lockstep across all turns of the batch (turns sorted by
  length so each position-column touches only still-active turns); scores
  are float64 with the exact operation order of the scalar loop, so f[] is
  bit-identical to ``tag_tokens_compiled``'s;
* traceback runs as vectorized pointer-chasing rounds; surfaces are
  re-assembled with ``pyarrow.compute.binary_join`` over token slices (no
  per-mention Python string work).

Parity with the scalar path is pinned by tests/test_tagvec_parity.py (and
transitively by the oracle/binary parity suite, which runs the Spark tagger
through this engine).

Scale note: everything here is per-batch and executor-side. The trie walk
is bounded by the batch's token count, but the DP tables (``f``, ``tb_d``,
``tb_idx``) are rows x maxlen of the batch, so one very long turn inflates
them for every row it is batched with; a batch whose DP group key would
overflow int32 raises ``ValueError``. The only task-lifetime state is the
compiled transition table (built once per broadcast value).
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .textutil import SEPARATORS

_KIND_ENTITY = 1

# Single-char tokens whose spans are separator-skipped (annotation.h:272-274):
# C-isspace chars plus SEPARATORS, minus "\n" (explicitly exempted there).
_SKIP_CHARS = sorted((set(" \t\v\f\r") | set(SEPARATORS)) - {"\n"})

OUT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("begin_tok", pa.int32()),
        pa.field("end_tok", pa.int32()),
        pa.field("surface", pa.string()),
        pa.field("entity_type", pa.string()),
    ]
)


def compile_vec(compiled: dict[str, Any]) -> dict[str, Any]:
    """Flatten the nested-dict automaton from ``tagger.compile_trie`` into
    the array form the batch engine consumes.

    States are numbered by BFS from the root; transitions are a sorted
    int64 key table ``state * V + token_id`` -> child state. The "\\n"
    remap (vocab["\\n"] == NEWLINE_ID) is inherited via pos_to_id, so a
    pathological newline trie edge stays unreachable exactly as in the
    scalar walk.
    """
    vocab: dict[str, int] = compiled["vocab"]
    tokens = list(vocab.keys())
    pos_to_id = np.fromiter(vocab.values(), dtype=np.int64, count=len(vocab))
    V = int(pos_to_id.max(initial=-1)) + 1

    root = compiled["root"]
    kinds: list[int] = []
    tsids: list[int] = []
    haskid: list[bool] = []
    type_strs: list[str] = ["", ]
    type_index: dict[str, int] = {"": 0}
    tkeys: list[int] = []
    tvals: list[int] = []
    root_trans = np.full(max(V, 1), -1, dtype=np.int64)

    def intern_type(ts: str) -> int:
        i = type_index.get(ts)
        if i is None:
            i = len(type_strs)
            type_index[ts] = i
            type_strs.append(ts)
        return i

    # BFS; state 0 == root (kind/tsid of the root are never consulted)
    queue: list[tuple] = [root]
    depth_of: list[int] = [0]
    max_depth = 0
    idx = 0
    while idx < len(queue):
        node = queue[idx]
        kids, kind, ts = node
        kinds.append(kind)
        tsids.append(intern_type(ts))
        haskid.append(kids is not None)
        d = depth_of[idx]
        max_depth = max(max_depth, d)
        if kids is not None:
            for tid, child in kids.items():
                cidx = len(queue)
                queue.append(child)
                depth_of.append(d + 1)
                if idx == 0:
                    if 0 <= tid < V:
                        root_trans[tid] = cidx
                    # out-of-range tid (a "\n" edge whose intern id was
                    # remapped away) can never be produced by the token
                    # mapper, matching the scalar break-before-descend rule
                elif 0 <= tid < V:
                    # same guard for non-root edges: an out-of-range tid
                    # packed as idx*V + tid would alias into state idx+1's
                    # key space and create a PHANTOM transition (r07
                    # review finding, repro in test_tagvec_parity)
                    tkeys.append(idx * V + tid)
                    tvals.append(cidx)
        idx += 1

    tkeys_a = np.asarray(tkeys, dtype=np.int64)
    tvals_a = np.asarray(tvals, dtype=np.int64)
    order = np.argsort(tkeys_a, kind="stable")
    nstates = len(queue)
    # direct-addressed (state, token) -> state table when it fits (16 MB);
    # falls back to searchsorted over the sorted key table for big tries
    trans_dense = None
    if nstates * max(V, 1) <= 4_000_000:
        trans_dense = np.full((nstates, max(V, 1)), -1, dtype=np.int32)
        if len(tkeys_a):
            trans_dense[tkeys_a // V, tkeys_a % V] = tvals_a
    return {
        "value_set": pa.array(tokens, pa.string()),
        "pos_to_id": pos_to_id,
        "V": V,
        "root_trans": root_trans,
        "trans_keys": tkeys_a[order],
        "trans_vals": tvals_a[order],
        "trans_dense": trans_dense,
        "kind": np.asarray(kinds, dtype=np.int8),
        "tsid": np.asarray(tsids, dtype=np.int64),
        "haskid": np.asarray(haskid, dtype=bool),
        "types": pa.array(type_strs, pa.string()),
        "max_depth": max_depth,
        "skip_set": pa.array(_SKIP_CHARS, pa.string()),
    }


def _token_ids(flat: pa.Array, vec: dict[str, Any]) -> np.ndarray:
    """Map flat tokens to trie token ids (UNKNOWN -> -1, "\\n" -> -2)."""
    idx = pc.fill_null(pc.index_in(flat, value_set=vec["value_set"]), -1)
    idx_np = idx.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    safe = np.maximum(idx_np, 0)
    return np.where(idx_np >= 0, vec["pos_to_id"][safe], np.int64(-1))


def _walk_matches(
    ids: np.ndarray,
    turn_end: np.ndarray,
    vec: dict[str, Any],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All dictionary matches: (flat_start, depth, state) triples.

    Breadth-parallel trie walk: level d holds every start position whose
    d-token prefix is a live trie path; ids < 0 (unknown / "\\n") never
    advance, mirroring the scalar break-before-descend order.
    """
    V = vec["V"]
    root_trans = vec["root_trans"]
    kind = vec["kind"]
    haskid = vec["haskid"]
    tkeys = vec["trans_keys"]
    tvals = vec["trans_vals"]
    max_depth = vec["max_depth"]

    m_sp: list[np.ndarray] = []
    m_d: list[np.ndarray] = []
    m_st: list[np.ndarray] = []

    if ids.size == 0 or V == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()

    valid = ids >= 0
    st = np.where(valid, root_trans[np.maximum(ids, 0)], np.int64(-1))
    alive = st >= 0
    sp = np.flatnonzero(alive)
    st = st[alive]
    # sentinel-extended ids: reading one past the last token is always a
    # dead id, so the in-turn bound and the known-id test fuse into one
    # mask (one compress pass instead of three)
    ids_ext = np.concatenate((ids, np.full(1, -1, dtype=np.int64)))
    d = 1
    while sp.size:
        k = kind[st]
        hit = k > 0
        if hit.any():
            m_sp.append(sp[hit])
            m_d.append(np.full(int(hit.sum()), d, dtype=np.int64))
            m_st.append(st[hit])
        if d >= max_depth:
            break
        # descend: next token must exist in this turn, be a known id, and
        # the current state must have children — one fused mask
        nxt = np.minimum(sp + d, len(ids))
        tid = ids_ext[nxt]
        ok = (tid >= 0) & (sp + d < turn_end[sp]) & haskid[st]
        sp = sp[ok]
        st = st[ok]
        tid = tid[ok]
        dense = vec.get("trans_dense")
        if dense is not None:
            nst = dense[st, tid]
            found = nst >= 0
            sp = sp[found]
            st = nst[found].astype(np.int64, copy=False)
        else:
            key = st * V + tid
            pos = np.searchsorted(tkeys, key)
            pos = np.minimum(pos, max(len(tkeys) - 1, 0))
            found = (
                (tkeys[pos] == key)
                if len(tkeys)
                else np.zeros(len(key), bool)
            )
            sp = sp[found]
            st = tvals[pos[found]]
        d += 1
    if not m_sp:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    return (
        np.concatenate(m_sp),
        np.concatenate(m_d),
        np.concatenate(m_st),
    )


def _dp_segments(
    counts: np.ndarray,
    m_row: np.ndarray,
    m_i: np.ndarray,
    m_d: np.ndarray,
    m_kind: np.ndarray,
    m_ts: np.ndarray,
    order: np.ndarray,
    weight: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Lockstep DP + traceback over all turns (rows already sorted by
    descending length via ``order``). Returns ENTITY segments as
    (sorted_row, begin, end, tsid) arrays (unordered).

    Column pass: cell c of every active turn holds the max over its
    candidates — matches of depth d (value f[c-d] + delta_d) plus the
    skip from c-1 — folded with one scatter-max; the traceback choice is
    the chronologically FIRST max-achiever of the scalar loop (iteration
    i = c-d runs earlier for larger d; within iteration c-1 the skip
    precedes the d=1 match), reproduced by writing tie-achievers in
    d-ascending order with the skip>=d1 guard — so values AND traceback
    choices are bit-identical to ``tag_tokens_compiled``.
    """
    n = len(order)
    lens = counts[order]
    maxlen = int(lens[0]) if n else 0
    if maxlen == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy(), e.copy()

    D = int(m_d.max()) if m_d.size else 1
    # group matches by (end column, depth ASC) — one narrow int32 key
    # argsort (radix path); end and d are recovered from the key, and the
    # traceback carries the MATCH INDEX so kind/ts are never permuted.
    # The depth field is sized from D (a fixed 3-bit field silently
    # corrupted groups for dictionaries with >7-token surfaces — BC5CDR).
    # Every key is below (maxlen + 1) << shift; a batch whose keys would not
    # fit int32 is refused here, before any per-column or per-cell table
    # is allocated, instead of wrapping.
    shift = max(D, 1).bit_length()
    if (maxlen + 1) << shift > 2**31:
        raise ValueError(
            f"turn of {maxlen} tokens with {D}-token matches overflows the "
            "int32 DP group key"
        )

    # active rows at column c: lens >= c (sorted desc -> a prefix);
    # k_col[c-1] = #rows with len >= c
    asc = lens[::-1]
    k_col = n - np.searchsorted(asc, np.arange(1, maxlen + 1), side="left")

    if all(
        (weight * d) * d == float(d * d) for d in range(1, D + 1)
    ):
        # entity and filtered deltas coincide (e.g. the default
        # weight=1.0): skip the kind-dependent select entirely
        deltas = (m_d * m_d).astype(np.float64)
    else:
        deltas = np.where(
            m_kind == _KIND_ENTITY,
            (m_d * m_d).astype(np.float64),
            (weight * m_d) * m_d,
        )

    mult = np.int64(1 << shift)
    mask = np.int32((1 << shift) - 1)
    m_end = m_i + m_d
    key = (m_end * mult + m_d).astype(np.int32)
    g = np.argsort(key, kind="stable")
    g_key = key[g]
    g_d = (g_key & mask).astype(np.int64)
    g_row = m_row[g]
    g_delta = deltas[g]
    nmatch = len(g)
    if nmatch:
        bounds = np.flatnonzero(np.diff(g_key)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [nmatch]))
    else:
        starts = ends = np.empty(0, dtype=np.int64)
    grp_end = (g_key[starts] >> shift) if nmatch else starts
    grp_d = (g_key[starts] & mask) if nmatch else starts
    col_ptr = 0
    ngroups = len(starts)

    f = np.empty((n, maxlen + 1), order="F")
    f[:, 0] = 0.0
    # per-cell winner: tb_d = 0 for the skip / d for a match; tb_idx =
    # the winning MATCH INDEX, through which kind/ts resolve at
    # traceback time (no per-match kind/ts permutation in the setup).
    # Narrow dtypes (depth fits int8, match index int32) keep the three
    # per-cell tables at 13 bytes/cell instead of 24; the traceback
    # widens only its small gathered slices.
    tb_d = np.empty(
        (n, maxlen + 1),
        dtype=np.int8 if D <= 127 else np.int16,
        order="F",
    )
    tb_idx = np.empty((n, maxlen + 1), dtype=np.int32, order="F")

    f_flat = f.T.reshape(-1)  # view over f; flat index = col * n + row
    for c in range(1, maxlen + 1):
        k = int(k_col[c - 1])
        fcol = f[:, c]
        selcol = tb_d[:, c]
        skipv = f[:, c - 1]
        # baseline: the skip candidate
        fcol[:k] = skipv[:k]
        selcol[:k] = 0
        lo = col_ptr
        while col_ptr < ngroups and grp_end[col_ptr] == c:
            col_ptr += 1
        if col_ptr == lo:
            continue
        # every match ending at c, all depths fused: one gather + one
        # scatter-max gives the exact strict-improvement cell values
        # (max over skip and all candidates)
        sl = slice(int(starts[lo]), int(ends[col_ptr - 1]))
        rr = g_row[sl]
        s = f_flat[(c - g_d[sl]) * n + rr] + g_delta[sl]
        np.maximum.at(fcol, rr, s)
        # traceback choice: the chronologically FIRST max-achiever wins
        # (d descending, then skip, then d=1). Writing tie-achievers in
        # d-ASCENDING group order makes the largest tied d the final
        # writer; the skip keeps any cell no match ties; the d=1 group
        # additionally requires s > skip (the skip ran first inside its
        # iteration), while d>=2 groups tie-beat the skip.
        hit = s == fcol[rr]
        for gi in range(lo, col_ptr):
            d = int(grp_d[gi])
            gsl = slice(int(starts[gi]), int(ends[gi]))
            rel = slice(gsl.start - sl.start, gsl.stop - sl.start)
            m = hit[rel]
            if d == 1:
                m = m & (s[rel] > skipv[g_row[gsl]])
            if m.any():
                ru = g_row[gsl][m]
                selcol[ru] = d
                tb_idx[ru, c] = g[gsl][m]

    # vectorized traceback: pointer-chase c -> c - step, emitting ENTITY
    # segments along the way
    seg_r: list[np.ndarray] = []
    seg_b: list[np.ndarray] = []
    seg_e: list[np.ndarray] = []
    seg_t: list[np.ndarray] = []
    j = lens.astype(np.int64, copy=True)
    rows = np.flatnonzero(j > 0)
    while rows.size:
        jr = j[rows]
        dsel = tb_d[rows, jr].astype(np.int64)
        step = np.maximum(dsel, 1)
        ii = jr - step
        em = np.flatnonzero(dsel > 0)
        if em.size:
            er = rows[em]
            je = jr[em]
            idxs = tb_idx[er, je]
            ent = m_kind[idxs] == _KIND_ENTITY
            if ent.any():
                seg_r.append(er[ent])
                seg_b.append(ii[em][ent])
                seg_e.append(je[ent])
                seg_t.append(m_ts[idxs[ent]])
        j[rows] = ii
        rows = rows[ii > 0]
    if not seg_r:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy(), e.copy()
    return (
        np.concatenate(seg_r),
        np.concatenate(seg_b),
        np.concatenate(seg_e),
        np.concatenate(seg_t),
    )


def tag_record_batch(
    batch: pa.RecordBatch, vec: dict[str, Any], weight: float = 1.0
) -> pa.RecordBatch:
    """(conv_id, turn_idx, text) record batch -> mentions record batch.

    Whitespace tokenization (x.split(" ") minus empty tokens) and the full
    DP + extraction, all batch-at-a-time.
    """
    conv_col = batch.column(0)
    turn_col = batch.column(1)
    text = batch.column(2)
    nrows = len(text)
    empty = _empty_batch()
    if nrows == 0:
        return empty

    toks_list = pc.split_pattern(
        pc.coalesce(text, pa.scalar("", pa.string())), " "
    )
    counts_raw = pc.list_value_length(toks_list).to_numpy(
        zero_copy_only=False
    ).astype(np.int64, copy=False)
    flat_raw = pc.list_flatten(toks_list)
    offsets_raw = np.concatenate(([0], np.cumsum(counts_raw)))

    # drop empty tokens ("a  b".split(" ") -> ["a", "", "b"])
    keep = pc.not_equal(flat_raw, "")
    keep_np = keep.to_numpy(zero_copy_only=False)
    if keep_np.all():
        flat = flat_raw
        counts = counts_raw
    else:
        flat = pc.filter(flat_raw, keep)
        cm = np.concatenate(([0], np.cumsum(keep_np.astype(np.int64))))
        counts = cm[offsets_raw[1:]] - cm[offsets_raw[:-1]]
    offs = np.concatenate(([0], np.cumsum(counts)))
    P = int(offs[-1])
    if P == 0:
        return empty

    ids = _token_ids(flat, vec)
    turn_end = np.repeat(offs[1:], counts)

    m_sp, m_d, m_st = _walk_matches(ids, turn_end, vec)
    if m_sp.size == 0:
        return empty

    t_of = np.repeat(np.arange(nrows, dtype=np.int64), counts)
    m_t = t_of[m_sp]
    m_i = m_sp - offs[m_t]

    # the DP only needs turns that have at least one match (the others
    # emit nothing — the all-skip segmentation); on sparse real corpora
    # this collapses the DP to a fraction of the batch
    has_match = np.zeros(nrows, dtype=bool)
    has_match[m_t] = True
    active = np.flatnonzero(has_match)
    counts_a = counts[active]
    turn_of_active = active
    row_in_active = np.full(nrows, -1, dtype=np.int64)
    row_in_active[active] = np.arange(active.size, dtype=np.int64)
    m_t_a = row_in_active[m_t]

    order = np.argsort(-counts_a, kind="stable")
    row_of_turn = np.empty(active.size, dtype=np.int64)
    row_of_turn[order] = np.arange(active.size, dtype=np.int64)

    kindv = vec["kind"][m_st].astype(np.int8, copy=False)
    tsv = vec["tsid"][m_st]
    s_r, s_b, s_e, s_t = _dp_segments(
        counts_a, row_of_turn[m_t_a], m_i, m_d, kindv, tsv, order, weight
    )
    if s_r.size == 0:
        return empty

    # back to original turn indices; apply the separator-skip rule
    t_orig = turn_of_active[order[s_r]]
    flat_start = offs[t_orig] + s_b
    single = (s_e - s_b) == 1
    if single.any():
        skip_flags = pc.is_in(
            flat, value_set=vec["skip_set"]
        ).to_numpy(zero_copy_only=False)
        drop = single & skip_flags[flat_start]
        if drop.any():
            keep_m = ~drop
            t_orig = t_orig[keep_m]
            s_b = s_b[keep_m]
            s_e = s_e[keep_m]
            s_t = s_t[keep_m]
            flat_start = flat_start[keep_m]
            if t_orig.size == 0:
                return empty

    # emit in the scalar order: batch row order, then ascending begin
    ordm = np.lexsort((s_b, t_orig))
    t_orig = t_orig[ordm]
    s_b = s_b[ordm]
    s_e = s_e[ordm]
    s_t = s_t[ordm]
    flat_start = flat_start[ordm]

    # surfaces: gather each mention's token range and space-join it
    lengths = s_e - s_b
    cum = np.concatenate(([0], np.cumsum(lengths)))
    total = int(cum[-1])
    gather = np.repeat(flat_start - cum[:-1], lengths) + np.arange(
        total, dtype=np.int64
    )
    toks_m = flat.take(pa.array(gather, pa.int64()))
    lists = pa.ListArray.from_arrays(
        pa.array(cum, pa.int32()), toks_m
    )
    surface = pc.binary_join(lists, " ")

    t_idx = pa.array(t_orig, pa.int64())
    conv_out = conv_col.take(t_idx)
    turn_out = pc.cast(turn_col.take(t_idx), pa.int32())
    etype = vec["types"].take(pa.array(s_t, pa.int64()))
    return pa.RecordBatch.from_arrays(
        [
            conv_out,
            turn_out,
            pa.array(s_b.astype(np.int32), pa.int32()),
            pa.array(s_e.astype(np.int32), pa.int32()),
            surface,
            etype,
        ],
        schema=OUT_SCHEMA,
    )


def _empty_batch() -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array([], pa.string()),
            pa.array([], pa.int32()),
            pa.array([], pa.int32()),
            pa.array([], pa.int32()),
            pa.array([], pa.string()),
            pa.array([], pa.string()),
        ],
        schema=OUT_SCHEMA,
    )
