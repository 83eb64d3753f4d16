"""SUBSTRING pass: exact long verbatim-substring duplicate pairs.

Finds file pairs sharing a verbatim block >= cfg.min_substring_len chars
even when whole-file Jaccard is far below threshold (SURVEY.md §2.4) — the
capability Annoy's whole-vector metrics cannot express.

Distributed design (replaces a monolithic suffix array, which cannot be
built across executors without an all-to-all of the corpus):

1. WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
   algorithm): rolling 64-bit polynomial hash of every `chunk`-byte gram,
   then the minimum hash of every `window` consecutive grams is selected.
   Deterministic guarantee: any common substring of length
   >= window + chunk - 1 (= min_substring_len) shares a selected
   fingerprint, regardless of alignment. Fully vectorized (prefix-product
   rolling hash + block prefix/suffix minima), ~2·len/window fingerprints
   per file.
2. Fingerprint families -> anchor pairs through the skew ladder
   (``band.tiered_pairs``: full pairs / star / salted two-level star,
   nothing dropped; huge fingerprint families additionally accounted).
3. DIAGONAL VOTING anchor selection: a shared block aligns the two files at
   one offset delta = pos_u - pos_v, and every shared fingerprint inside
   the block votes for that delta (the seed-and-extend diagonal trick).
   Repeated content can winnow DIFFERENT occurrences of the same gram in
   the two files (a misaligned anchor under-extends), so each fingerprint
   keeps up to 8 positions and anchors are taken from the top-2 voted
   diagonals — the dominant diagonal is the true alignment.
4. EXACT verification: join the pair's contents, extend the anchor left and
   right byte-by-byte (vectorized mismatch scan); pass iff the real match
   length >= min_substring_len. Anchors are real text matches, so hash
   collisions only cost a failed verification — never a false positive
   (Annoy's exact re-rank contract, annoylib.h:1492-1494).

Scale notes: two plans with the same rows, chosen per call. Up to
DRIVER_FILES_MAX representatives holding up to DRIVER_CONTENT_BYTES of
content are searched on the driver, as verify and the ANN index answer
their batches: a bounded fetch of the content sizes, then (within the
bound) one fetch of (file_id, content, salt), the fingerprint kernel per
file, the ladder's numpy twin (band.ladder_rows), the diagonal vote and
the extension over one shared byte buffer, returned as local relations.
With the pipeline stage's two writes that is 6 Spark jobs (21 for the
executor plan) on dedup_skewed's 2000 files. Larger corpora take the
executor plan: a fingerprint UDF pass persisted for the ladder's tiers,
the vote as map-side-combinable aggregates, and a pair join that moves
whole-file content once to the mapInPandas extension — broadcasting the
counted anchored pair set while it is under PAIR_BROADCAST_CAP.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, LongType, StructField, StructType,
)

from annoy_spark.config import DedupConfig
from annoy_spark.driver_batch import (
    fetch_sized, local_relation, ragged, run_starts,
)
from annoy_spark.operators.band import group_stats, ladder_rows, tiered_pairs

_B = np.uint64(0x100000001B3)  # odd => invertible mod 2^64
_BINV = np.uint64(pow(0x100000001B3, -1, 1 << 64))


def _mix64(x: np.ndarray) -> np.ndarray:
    x = x.copy()
    x ^= x >> np.uint64(33)
    x *= np.uint64(0xFF51AFD7ED558CCD)
    x ^= x >> np.uint64(33)
    return x


_POW_CACHE: dict[str, np.ndarray] = {}


def _powers(n: int) -> tuple[np.ndarray, np.ndarray]:
    """(B^j, B^-j) for j < n — grown geometrically, cached per worker
    (recomputing two cumprods per FILE doubled the kernel's memory traffic)."""
    cur = _POW_CACHE.get("b")
    if cur is None or len(cur) < n:
        size = max(n, 2 * len(cur) if cur is not None else 4096)
        b = np.full(size, _B, dtype=np.uint64)
        b[0] = np.uint64(1)
        np.cumprod(b, out=b)
        binv = np.full(size, _BINV, dtype=np.uint64)
        binv[0] = np.uint64(1)
        np.cumprod(binv, out=binv)
        _POW_CACHE["b"], _POW_CACHE["binv"] = b, binv
    return _POW_CACHE["b"], _POW_CACHE["binv"]


def rolling_gram_hashes(data: np.ndarray, c: int) -> np.ndarray:
    """64-bit polynomial hashes of every c-byte gram (len(data)-c+1 values).

    h(i) = sum_j data[i+j] * B^(c-1-j) mod 2^64, computed via prefix sums of
    data[j]*B^(-j) — one pass, no per-gram loop."""
    n = len(data)
    if n < c:
        return np.empty(0, dtype=np.uint64)
    b_pow, binv_pow = _powers(n)
    v = data.astype(np.uint64) * binv_pow[:n]
    t = np.concatenate(([np.uint64(0)], np.cumsum(v, dtype=np.uint64)))
    # window sum * B^(i+c-1)
    return (t[c:] - t[: n - c + 1]) * b_pow[c - 1 : n]


def _sliding(arr: np.ndarray, w: int, ufunc, fill) -> np.ndarray:
    """ext[i] = ufunc over arr[i:i+w], i in [0, len-w] — O(n) block trick:
    window extremum = ufunc(suffix-acc of left block, prefix-acc of right)."""
    n = len(arr)
    pad = (-n) % w
    hp = np.concatenate([arr, np.full(pad, fill, dtype=arr.dtype)])
    blocks = hp.reshape(-1, w)
    pref = ufunc.accumulate(blocks, axis=1).ravel()[:n]
    suff = ufunc.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()[:n]
    starts = np.arange(0, n - w + 1)
    return ufunc(suff[starts], pref[starts + w - 1])


def winnow(hashes: np.ndarray, w: int) -> np.ndarray:
    """Positions whose hash is the minimum of at least one w-gram window
    (superset of classic winnowing's canonical choice — same guarantee:
    every w-window contributes its min, so any common substring covering a
    full window yields a shared selected gram in both files; O(n)).
    """
    n = len(hashes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n <= w:
        return np.flatnonzero(hashes == hashes.min())
    top = np.uint64(0xFFFFFFFFFFFFFFFF)
    wmin = _sliding(hashes, w, np.minimum, top)          # len n-w+1
    # selected[i] <=> h[i] == min of SOME window covering i
    #            <=> h[i] == max over wmin[i-w+1 .. i]   (window mins <= h[i])
    zero = np.uint64(0)
    padded = np.concatenate(
        [np.full(w - 1, zero), wmin, np.full(w - 1, zero)]
    )
    cover_max = _sliding(padded, w, np.maximum, zero)     # len n
    return np.flatnonzero(hashes == cover_max)


MAX_POS_PER_HASH = 8


def fingerprint_positions(
    text: str, chunk: int, window: int, max_pos: int = MAX_POS_PER_HASH
) -> tuple[np.ndarray, list[np.ndarray]]:
    """(distinct_hashes, positions_per_hash) of winnowed fingerprints.

    ALL selected occurrences of a hash are kept (capped at max_pos: first
    and last max_pos/2 — repeats beyond that add no new diagonals worth
    voting on), because winnowing may select occurrence #k of a repeated
    gram in one file and occurrence #j in the other; single-position
    anchors would then under-extend (or miss) the true match."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    uniq, pos, counts = _fingerprints(data, chunk, window, max_pos)
    return uniq, (np.split(pos, np.cumsum(counts)[:-1]) if len(uniq) else [])


def _fingerprints(
    data: np.ndarray, chunk: int, window: int, max_pos: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """fingerprint_positions of the UTF-8 bytes ``data``, flat: the
    distinct hashes, their kept positions one run per hash, and each
    run's length."""
    grams = rolling_gram_hashes(data, chunk)
    if len(grams) == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, empty
    mixed = _mix64(grams)
    pos = winnow(mixed, window)
    h = mixed[pos].view(np.int64)
    order = np.lexsort((pos, h))
    hs, ps = h[order], pos[order].astype(np.int64)
    uniq, start, counts = np.unique(hs, return_index=True, return_counts=True)
    idx = np.arange(len(hs)) - np.repeat(start, counts)
    size = np.repeat(counts, counts)
    half = max_pos // 2
    keep = (idx < half) | (idx >= size - half)
    return uniq, ps[keep], np.minimum(counts, 2 * half)


def _window(cfg: DedupConfig) -> int:
    """Winnowing window: every block of min_substring_len chars covers
    one full window of substring_chunk-char grams."""
    return max(cfg.min_substring_len - cfg.substring_chunk + 1, 16)


def make_fingerprint_udf(cfg: DedupConfig):
    window = _window(cfg)
    schema = StructType(
        [
            StructField("fp", ArrayType(LongType())),
            StructField("poss", ArrayType(ArrayType(LongType()))),
        ]
    )

    @F.pandas_udf(schema)
    def fp_udf(texts: pd.Series) -> pd.DataFrame:
        hs, ps = [], []
        for t in texts:
            h, p = fingerprint_positions(
                t or "", cfg.substring_chunk, window
            )
            hs.append(h)
            ps.append([x for x in p])
        return pd.DataFrame({"fp": hs, "poss": ps})

    return fp_udf


_EXTEND_SCHEMA = StructType([
    StructField("u", LongType()),
    StructField("v", LongType()),
    StructField("match_len", LongType()),
])

# Window schedule: most anchors mismatch within a few bytes (failed
# candidates), so the FIRST window is tiny — the per-anchor cost is
# ~2*match_len + W0 gathered bytes, vs scanning the full remaining file
# per anchor. The cap bounds the int64 index matrices the 2-D gather
# builds (16 B per compared byte), trading a linear tail on
# multi-megabyte matches for bounded memory.
_SCAN_W0 = 64            # first comparison-window width per round
_SCAN_WMAX = 1 << 18     # window growth cap (256 KiB per anchor per round)


def _batch_extend(
    ca: np.ndarray,
    cb: np.ndarray,
    base_u: np.ndarray,
    base_v: np.ndarray,
    avail: np.ndarray,
    backwards: bool,
) -> np.ndarray:
    """Per-anchor maximal match length in one direction, vectorized over
    ALL anchors of the batch at once: each round gathers a (active, W)
    2-D slice from the two concatenated byte buffers, one != + argmax per
    round finds the first mismatch; anchors that matched their whole
    window survive to the next (doubled) window. Rounds are O(log of the
    longest match), every comparison is a flat numpy kernel — no per-pair
    (or per-anchor) Python loop.

    base_*: flat index of the first byte to compare (for backwards, the
    byte just LEFT of the anchor); avail: max comparable bytes (min of
    both sides' remaining lengths). Returns matched byte counts."""
    cur = np.zeros(len(base_u), dtype=np.int64)
    active = np.flatnonzero(avail > 0)
    w = _SCAN_W0
    while len(active):
        width = np.minimum(w, (avail - cur)[active])
        wmax = int(width.max())
        # steps past an anchor's width repeat its last compared byte pair,
        # so they never hold its first mismatch and every gather stays in
        # bounds (no clip, no padding mask)
        off = np.minimum(np.arange(wmax), (width - 1)[:, None])
        off += cur[active, None]
        if backwards:
            np.negative(off, out=off)
        iu = off + base_u[active, None]
        off += base_v[active, None]
        neq = ca[iu] != cb[off]
        first = neq.argmax(axis=1)
        first[~neq[np.arange(len(active)), first]] = wmax
        matched = np.minimum(first, width)
        cur[active] += matched
        # survivors matched their FULL window and still have bytes left
        active = active[(matched == width) & ((avail - cur)[active] > 0)]
        w = min(w * 2, _SCAN_WMAX)
    return cur


def _longest_matches(
    ca: np.ndarray,
    cb: np.ndarray,
    oa: np.ndarray,
    la: np.ndarray,
    ob: np.ndarray,
    lb: np.ndarray,
    row: np.ndarray,
    pu: np.ndarray,
    pv: np.ndarray,
) -> np.ndarray:
    """Per row r, the longest match through any of its anchors: row r's
    u file is ca[oa[r]:oa[r] + la[r]], its v file cb[ob[r]:ob[r] + lb[r]],
    and each anchor (row[i], pu[i], pv[i]) aligns byte pu[i] of u with
    byte pv[i] of v. Anchors past either file drop out; 0 for a row
    without anchors."""
    ok = (pu < la[row]) & (pv < lb[row])
    row, pu, pv = row[ok], pu[ok], pv[ok]
    # each distinct anchor once: equal anchors extend to equal totals
    order = np.lexsort((pv, pu, row))
    row, pu, pv = row[order], pu[order], pv[order]
    new = run_starts(row, pu, pv) == np.arange(len(row))
    row, pu, pv = row[new], pu[new], pv[new]
    # right extension (includes the anchor gram) + left extension;
    # no early stop at min_len: match_len reports the TRUE maximal
    # extension and only the best-aligned anchor reaches it
    right = _batch_extend(
        ca, cb, oa[row] + pu, ob[row] + pv,
        np.minimum(la[row] - pu, lb[row] - pv), backwards=False,
    )
    left = _batch_extend(
        ca, cb, oa[row] + pu - 1, ob[row] + pv - 1,
        np.minimum(pu, pv), backwards=True,
    )
    best = np.zeros(len(la), dtype=np.int64)
    np.maximum.at(best, row, left + right)
    return best


def make_extend_verifier(cfg: DedupConfig):
    min_len = cfg.min_substring_len

    def verify_batch(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=["u", "v", "match_len"])
                continue
            # one encode per row (single C call each), concatenated into
            # two flat buffers so every anchor scan is a numpy gather
            abufs = [
                np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
                for s in pdf["content_u"]
            ]
            bbufs = [
                np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
                for s in pdf["content_v"]
            ]
            la = np.fromiter((len(x) for x in abufs), np.int64, len(abufs))
            lb = np.fromiter((len(x) for x in bbufs), np.int64, len(bbufs))
            oa = np.concatenate(([0], np.cumsum(la)[:-1]))
            ob = np.concatenate(([0], np.cumsum(lb)[:-1]))
            ca = np.concatenate(abufs) if la.sum() else np.zeros(1, np.uint8)
            cb = np.concatenate(bbufs) if lb.sum() else np.zeros(1, np.uint8)

            # flatten (row, anchor) pairs
            n_anc = np.fromiter(
                (len(x) for x in pdf["pos_u"]), np.int64, len(pdf)
            )
            row = np.repeat(np.arange(len(pdf), dtype=np.int64), n_anc)
            pu = (
                np.concatenate(list(pdf["pos_u"])).astype(np.int64)
                if n_anc.sum() else np.empty(0, np.int64)
            )
            pv = (
                np.concatenate(list(pdf["pos_v"])).astype(np.int64)
                if n_anc.sum() else np.empty(0, np.int64)
            )
            best = _longest_matches(ca, cb, oa, la, ob, lb, row, pu, pv)
            keep = best >= min_len
            yield pd.DataFrame(
                {
                    "u": pdf["u"].to_numpy()[keep],
                    "v": pdf["v"].to_numpy()[keep],
                    "match_len": best[keep],
                }
            )

    return verify_batch


# broadcast the anchored pair set only while it stays comfortably in
# memory: rows are (u, v, <=8+8 positions) ~ 150 B -> 500k ~ 75 MB
PAIR_BROADCAST_CAP = 500_000

#: UTF-8 bytes of content searched on the driver; more takes the
#: executor plan. Set from substring alone (with its two writes) on
#: dedup_skewed's representatives, 4-core host: at 2000 files (7.0 MB) the
#: driver path took 2.2-2.8 s and 6 jobs, the executor plan 3.5-5.3 s
#: and 22; at 8000 files (27.4 MB) 5.0-5.3 s against 5.2-6.7 s, with a
#: numpy peak (tracemalloc) of 74 and 84 MB beside the fetched content.
#: Fingerprinting runs on one core and grows with the bytes, so the bound
#: sits just past the larger size.
DRIVER_CONTENT_BYTES = 32 << 20
#: rows whose content sizes the driver path fetches; more take the
#: executor plan before any content is fetched
DRIVER_FILES_MAX = 65_536

_SKIPPED_SCHEMA = StructType([
    StructField("fp", LongType()),
    StructField("n_members", LongType()),
])


def substring_edges(
    corpus_with_ids: DataFrame,
    cfg: DedupConfig,
    return_skipped: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """(u, v, match_len) pairs sharing a verbatim block >= min_substring_len.

    corpus_with_ids: (file_id, content) — pass sha-collapsed representatives
    to keep fingerprint groups free of exact-duplicate blowup.

    return_skipped=True additionally returns the huge-fingerprint-family
    accounting DataFrame (fp, n_members) — families above band_group_cap
    go through the salted star (nothing dropped) but are surfaced for skew
    observability, exactly like banding's skipped_groups.

    Up to DRIVER_FILES_MAX rows holding up to DRIVER_CONTENT_BYTES of
    content are searched on the driver (_substring_on_driver) and both
    results are local relations; anything larger takes the executor plan
    (_substring_on_executors). Both produce the same rows.
    """
    out = _substring_on_driver(corpus_with_ids, cfg)
    if out is None:
        out = _substring_on_executors(corpus_with_ids, cfg, return_skipped)
    return out if return_skipped else out[0]


def _utf8(
    content: pa.ChunkedArray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(data, start, length): every string of ``content`` as the bytes
    data[start[i]:start[i] + length[i]] of one shared UTF-8 buffer, a null
    as empty — Arrow's own buffers, no per-string copy."""
    arr = pc.fill_null(content, "").cast(pa.large_string()).combine_chunks()
    if not len(arr):
        empty = np.empty(0, np.int64)
        return np.zeros(1, np.uint8), empty, empty
    offsets = np.frombuffer(arr.buffers()[1], np.int64)[
        arr.offset: arr.offset + len(arr) + 1
    ]
    buf = arr.buffers()[2]
    data = (np.frombuffer(buf, np.uint8) if buf is not None and buf.size
            else np.zeros(1, np.uint8))
    return data, offsets[:-1], np.diff(offsets)


def _vote(
    fu: np.ndarray, fv: np.ndarray,
    at_u: np.ndarray, n_u: np.ndarray,
    at_v: np.ndarray, n_v: np.ndarray,
    pos: np.ndarray, n_files: int,
) -> tuple[np.ndarray, ...]:
    """The executor plan's diagonal vote over the ladder's pairs.

    Pair i joins files fu[i] < fv[i] (indices below n_files) through one
    fingerprint whose positions are pos[at_u[i]:at_u[i] + n_u[i]] in fu
    and likewise in fv. Every position combination votes for its diagonal
    delta = pu - pv of its file pair; a diagonal keeps its vote count and
    the least and greatest (pu, pv), and each file pair its top 2
    diagonals by (-votes, delta). Returns (pair_u, pair_v, anchor_pair,
    anchor_u, anchor_v): the distinct file pairs, and two anchors per
    kept diagonal, sorted by the index of their pair."""
    pair_key, pair = np.unique(fu * n_files + fv, return_inverse=True)
    owner, off = ragged(n_u * n_v)
    pu = pos[at_u[owner] + off // n_v[owner]]
    pv = pos[at_v[owner] + off % n_v[owner]]
    p, delta = pair[owner], pu - pv
    order = np.lexsort((pv, pu, delta, p))
    p, delta, pu, pv = p[order], delta[order], pu[order], pv[order]
    first = np.flatnonzero(run_starts(p, delta) == np.arange(len(p)))
    last = np.r_[first[1:], len(p)] - 1
    dp, dd, votes = p[first], delta[first], last - first + 1
    by_rank = np.lexsort((dd, -votes, dp))
    rank = np.arange(len(by_rank)) - run_starts(dp[by_rank])
    top = by_rank[rank < 2]
    ends = np.c_[first[top], last[top]].ravel()
    return (pair_key // n_files, pair_key % n_files, np.repeat(dp[top], 2),
            pu[ends], pv[ends])


def _substring_on_driver(
    corpus_with_ids: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame] | None:
    """(edges, skipped) of substring_edges found on the driver as local
    relations, or None when the input is over the bounds or has a null or
    repeated file_id.

    fetch_sized first fetches each row's content size, then, within
    DRIVER_FILES_MAX rows and DRIVER_CONTENT_BYTES bytes, (file_id,
    content, salt) in one go; the salt is the executor ladder's, computed
    in the JVM. Each file is fingerprinted by the UDF's kernel, the
    families run the ladder (band.ladder_rows), the diagonal vote picks
    the anchors (_vote), and the anchors are extended over one shared
    byte buffer (_longest_matches) in chunks of at most one Arrow batch
    of the executor verifier's pairs."""
    spark = corpus_with_ids.sparkSession
    files = fetch_sized(
        corpus_with_ids.select(
            "file_id", "content",
            F.pmod(F.xxhash64("file_id"), F.lit(cfg.salt_buckets))
            .alias("salt"),
        ),
        F.octet_length("content"), DRIVER_FILES_MAX, DRIVER_CONTENT_BYTES,
    )
    if files is None or files["file_id"].null_count:
        return None
    file_id = files["file_id"].to_numpy().astype(np.int64, copy=False)
    if len(np.unique(file_id)) < len(file_id):
        return None
    data, start, length = _utf8(files["content"])

    # one row per (file, distinct fingerprint), its kept positions a run
    # of `pos`
    window = _window(cfg)
    fps = [
        _fingerprints(data[a: a + n], cfg.substring_chunk, window,
                      MAX_POS_PER_HASH)
        for a, n in zip(start, length)
    ]
    n_fp = np.fromiter((len(f[0]) for f in fps), np.int64, len(fps))
    row_file = np.repeat(np.arange(len(file_id)), n_fp)
    key, pos, n_pos = (
        np.concatenate([f[i] for f in fps] or [row_file]) for i in range(3)
    )
    at = np.cumsum(n_pos) - n_pos

    u, v, huge_fp, huge_n = ladder_rows(
        key, file_id[row_file], cfg.pair_enum_cap, cfg.band_group_cap,
        files["salt"].to_numpy()[row_file],
    )
    pair_u, pair_v, anchor, anc_u, anc_v = _vote(
        row_file[u], row_file[v], at[u], n_pos[u], at[v], n_pos[v], pos,
        len(file_id),
    )

    chunk = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    chunk = chunk if chunk > 0 else max(len(pair_u), 1)
    best = np.zeros(len(pair_u), np.int64)
    for lo in range(0, len(pair_u), chunk):
        hi = min(lo + chunk, len(pair_u))
        a, b = np.searchsorted(anchor, [lo, hi])
        fu, fv = pair_u[lo:hi], pair_v[lo:hi]
        best[lo:hi] = _longest_matches(
            data, data, start[fu], length[fu], start[fv], length[fv],
            anchor[a:b] - lo, anc_u[a:b], anc_v[a:b],
        )
    keep = best >= cfg.min_substring_len
    edges = pa.table({
        "u": file_id[pair_u[keep]], "v": file_id[pair_v[keep]],
        "match_len": best[keep],
    })
    skipped = pa.table({"fp": huge_fp, "n_members": huge_n})
    return (
        local_relation(spark, edges, _EXTEND_SCHEMA),
        local_relation(spark, skipped, _SKIPPED_SCHEMA),
    )


def _substring_on_executors(
    corpus_with_ids: DataFrame,
    cfg: DedupConfig,
    return_skipped: bool,
) -> tuple[DataFrame, DataFrame]:
    """substring_edges as a lazy plan on the executors: (edges, skipped).

    With return_skipped the accounting is localCheckpointed before the
    fingerprint relation is unpersisted."""
    fp_udf = make_fingerprint_udf(cfg)

    # one UDF pass, one row per (file, distinct fingerprint hash) with the
    # capped position list as the ladder's payload; persisted because the
    # three tiers consume it (without persist the content-scanning UDF
    # would re-run per consumer)
    fps = (
        corpus_with_ids.select(
            "file_id", fp_udf(F.col("content")).alias("f")
        )
        .select("file_id", F.arrays_zip("f.fp", "f.poss").alias("z"))
        .select("file_id", F.explode("z").alias("e"))
        .select("file_id", "e.fp", "e.poss")
        .select("*", *group_stats(["fp"], "poss"))
        .persist()
    )
    # fingerprint families run the skew ladder; the huge ones
    # (boilerplate/license blocks) are accounted in `skipped`
    pairs, skipped = tiered_pairs(
        fps, ["fp"], cfg.pair_enum_cap, cfg.band_group_cap,
        cfg.salt_buckets, payload="poss",
    )

    # DIAGONAL VOTING: every shared fingerprint occurrence pair votes for
    # an alignment delta = pu - pv; the true shared block's diagonal gets
    # one vote per in-block fingerprint, stray/misaligned combinations get
    # few. Keep the boundary anchors of the top-2 diagonals — misaligned
    # anchors under-extend, so anchoring on the winning diagonal is what
    # makes match_len the TRUE maximal length.
    combos = (
        pairs.select("u", "v", F.explode("pu").alias("pu"), "pv")
        .select("u", "v", "pu", F.explode("pv").alias("pv"))
        .withColumn("delta", F.col("pu") - F.col("pv"))
    )
    # one SMALL shuffle: vote count + two boundary anchors per diagonal,
    # all map-side-combinable aggregates (count/min/max) — no combo array
    # ever crosses the wire. ONE anchor on the true diagonal is enough:
    # the byte extension recovers the full match from any in-block anchor.
    diag = combos.groupBy("u", "v", "delta").agg(
        F.count(F.lit(1)).alias("votes"),
        F.min(F.struct("pu", "pv")).alias("a1"),
        F.max(F.struct("pu", "pv")).alias("a2"),
    ).withColumn("anchors", F.array("a1", "a2"))
    # per-diagonal quota over the top-2 diagonals: ties between the true
    # diagonal and its period-shifted twin are common on repetitive
    # content — BOTH kept diagonals must contribute anchors, or the wrong
    # one can claim every slot and the extension under-reports the match.
    # The (votes desc, delta) order is TOTAL within a (u, v) group (delta
    # is the grouping key one level down), so dense_rank <= 2 selects
    # exactly the first two rows of that order — expressed here as ONE
    # aggregation with slice(array_sort(...), 1, 2) instead of a window
    # (the window re-sorted the whole diag relation and, with its
    # partitioning narrower than diag's (u, v, delta) grouping, cost an
    # extra exchange; guide §2.4). Per-group state is bounded: distinct
    # deltas per pair are capped by the anchors-per-fingerprint cap.
    anchored = (
        diag.groupBy("u", "v")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("votes")).alias("neg_votes"),
                            F.col("delta"),
                            F.col("anchors"),
                        )
                    )
                ),
                1, 2,
            ).alias("top2")
        )
        .select(
            "u", "v",
            F.flatten(
                F.transform("top2", lambda s: s["anchors"])
            ).alias("anc"),
        )
        .select(
            "u", "v",
            F.transform("anc", lambda x: x.pu).alias("pos_u"),
            F.transform("anc", lambda x: x.pv).alias("pos_v"),
        )
    )
    # materialize the (small) anchored set once: cuts the UDF lineage so
    # fps can be unpersisted, and gives the exact count that sizes the
    # pair join. Lazy: the count materializes the checkpoint in the same
    # job, and it runs before fps.unpersist() below — which runs even when
    # these jobs fail or are cancelled, so fps never outlives the call.
    try:
        anchored = anchored.localCheckpoint(eager=False)
        small = anchored.count() <= PAIR_BROADCAST_CAP
        if return_skipped:
            # consumed after fps is unpersisted -> cut its lineage now
            skipped = skipped.localCheckpoint(eager=True)
    finally:
        fps.unpersist()

    # exact anchored extension over whole-file contents. Content never
    # carries a broadcast hint; a small pair set does: it joins into a
    # streamed content scan (no content shuffle on the u side), and its v
    # ids cut the v side down to candidate files before the pair join's
    # shuffle. The planner cannot choose either by itself, since it sizes
    # a checkpoint from the plan that built it, not from its rows:
    # unhinted, both content sides shuffle whole once content outgrows
    # the broadcast threshold.
    content = corpus_with_ids.select("file_id", "content")
    content_v = content
    if small:
        v_ids = anchored.select(F.col("v").alias("file_id")).distinct()
        content_v = content.join(F.broadcast(v_ids), "file_id", "left_semi")
        anchored = F.broadcast(anchored)
    j1 = content.select(
        F.col("file_id").alias("u"), F.col("content").alias("content_u")
    ).join(anchored, "u")
    joined = content_v.select(
        F.col("file_id").alias("v"), F.col("content").alias("content_v")
    ).join(j1, "v")
    edges = joined.mapInPandas(
        make_extend_verifier(cfg), schema=_EXTEND_SCHEMA
    )
    return edges, skipped
